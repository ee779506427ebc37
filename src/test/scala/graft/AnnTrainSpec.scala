package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.operators.{Dedup, Similarity}

/** Plain-Scala ANN training: spherical Lloyd over [[Similarity.NList]]
  * lists (cosine by a left-to-right fold, first max wins) and per-block
  * L2 Lloyd over [[Similarity.PqCodes]] codewords (first min wins), both
  * seeded with the vector of the smallest vec_id ≥ i·n/K; an empty list
  * or codeword keeps its value. */
object AnnReference {
  import Similarity.{NList, PqBlocks, PqCodes, PqIters, QuantizerIters}

  private def dot(a: Array[Double], b: Array[Double]): Double =
    a.indices.foldLeft(0.0)((s, j) => s + a(j) * b(j))

  /** (IVF centroids, PQ codebooks(block)(code)) of `vecs` (vec_id, v). */
  def train(vecs: Seq[(Long, Array[Double])])
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val sorted = vecs.sortBy(_._1)
    val n = sorted.size.toLong
    def seeds(k: Int) = Array.tabulate(k)(i => sorted.find(_._1 >= i * n / k).get._2.clone())
    def lloyd(init: Array[Array[Double]], iters: Int, part: Array[Double] => Array[Double],
        nearest: (Array[Double], Array[Array[Double]]) => Int): Array[Array[Double]] = {
      var cs = init
      for (_ <- 1 to iters) {
        val members = sorted.map(v => part(v._2)).groupBy(nearest(_, cs))
        cs = cs.indices.map(c => members.get(c).fold(cs(c)) { ms =>
          cs(c).indices.map(j => ms.foldLeft(0.0)(_ + _(j)) / ms.size).toArray
        }).toArray
      }
      cs
    }
    def firstMax(xs: Seq[Double]): Int = xs.indices.foldLeft(0)((b, i) => if (xs(i) > xs(b)) i else b)
    def firstMin(xs: Seq[Double]): Int = xs.indices.foldLeft(0)((b, i) => if (xs(i) < xs(b)) i else b)
    val ivf = lloyd(seeds(NList), QuantizerIters, identity, (v, cs) =>
      firstMax(cs.toSeq.map(c => dot(v, c) / (math.sqrt(dot(v, v)) * math.sqrt(dot(c, c))))))
    val d = sorted.head._2.length
    val sub = d / PqBlocks
    val pqSeeds = seeds(PqCodes)
    val cb = Array.tabulate(PqBlocks) { b =>
      def slice(v: Array[Double]) = v.slice(b * sub, (b + 1) * sub)
      lloyd(pqSeeds.map(slice), PqIters, slice, (v, cs) =>
        firstMin(cs.toSeq.map(c => v.indices.foldLeft(0.0)((s, j) =>
          s + (v(j) - c(j)) * (v(j) - c(j))))))
    }
    (ivf, cb)
  }
}

/** Plain-Scala kNN graph: the LSH buckets of the production build
  * ([[Similarity.planeComponent]] hyperplanes, sign bits by a
  * left-to-right fold, planes sized to ≈ [[Similarity.KnnTargetBucket]]
  * rows per bucket), brute force inside each bucket, then per node the
  * top [[Similarity.KnnK]] by (cos DESC, n_id ASC). Also the plain
  * top-k query: each query's top k by (cos DESC, n_id ASC). */
object KnnReference {
  import Similarity.{KnnK, KnnTables, KnnTargetBucket, planeComponent}

  private def dot(a: Array[Double], b: Array[Double]): Double =
    a.indices.foldLeft(0.0)((s, j) => s + a(j) * b(j))

  def planes(n: Int): Int = math.min(16, math.max(1,
    math.ceil(math.log(n.toDouble / KnnTargetBucket) / math.log(2.0)).toInt))

  /** The members of every non-empty (table, bucket) of `vecs`. */
  def buckets(vecs: Seq[(Long, Array[Double])]): Seq[Seq[Long]] =
    buckets(vecs, KnnTables, planes(vecs.size))

  /** The same on `tables` tables of `np` planes. */
  def buckets(vecs: Seq[(Long, Array[Double])], tables: Int, np: Int): Seq[Seq[Long]] = {
    val d = vecs.head._2.length
    (0 until tables).flatMap { t =>
      val hp = Array.tabulate(np)(p => Array.tabulate(d)(planeComponent(t, p, _)))
      vecs.groupBy { case (_, v) =>
        (0 until np).map(p => if (dot(v, hp(p)) > 0) 1 << p else 0).sum
      }.values.map(_.map(_._1))
    }
  }

  private def round4(c: Double): Double =
    BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def cosine(v: Map[Long, Array[Double]])(q: Long, n: Long): Double =
    dot(v(q), v(n)) / (math.sqrt(dot(v(q), v(q))) * math.sqrt(dot(v(n), v(n))))

  /** The pairs (a_id < b_id, cosine) that share one of `buckets` at
    * `round(cos, 4)` ≥ `tau`, ordered by (a_id, b_id). */
  def pairs(vecs: Seq[(Long, Array[Double])], buckets: Seq[Seq[Long]],
      tau: Double): Seq[(Long, Long, Double)] = {
    val cos = cosine(vecs.toMap) _
    buckets.flatMap(b => for (a <- b; n <- b if a < n) yield (a, n)).distinct.sorted
      .map { case (a, n) => (a, n, round4(cos(a, n))) }.filter(_._3 >= tau)
  }

  /** Each query's top `k` rows of `vecs` by (cos DESC, n_id ASC) among
    * the n that `keep(q, n)` admits, never q itself: rows (q_id, n_id,
    * rk, cosine) ordered by (q_id, rk). */
  def topK(vecs: Seq[(Long, Array[Double])], queries: Seq[Long], k: Int)
      (keep: (Long, Long) => Boolean): Seq[(Long, Long, Int, Double)] = {
    val cos = cosine(vecs.toMap) _
    queries.sorted.flatMap { q =>
      vecs.map(_._1).filter(n => n != q && keep(q, n)).map(n => (n, cos(q, n)))
        .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
        .take(k).zipWithIndex.map { case ((n, c), i) => (q, n, i + 1, round4(c)) }
    }
  }

  /** The graph's rows (q_id, n_id, rk, cosine), ordered by (q_id, rk). */
  def edges(vecs: Seq[(Long, Array[Double])]): Seq[(Long, Long, Int, Double)] = {
    val cos = cosine(vecs.toMap) _
    val cands = buckets(vecs).flatMap(b => for (q <- b; n <- b if q != n) yield (q, n)).distinct
    cands.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, ns) =>
      ns.map { case (_, n) => (n, cos(q, n)) }
        .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
        .take(KnnK).zipWithIndex.map { case ((n, c), i) =>
          (q, n, i + 1, round4(c))
        }
    }
  }
}

/** ANN index training: one packed plane, one fused Lloyd pass per
  * iteration — job count, reads, equality with [[AnnReference]], the
  * init's seeds and the pack's input checks. Also the Spark-job budget
  * of the ANN queries against a trained index, the LSH paths'
  * vector-dimension check, and the kNN-graph engine on the same plane:
  * its job budget, equality with [[KnnReference]] under ties and any
  * partitioning, and its input checks — with Dedup's embedding pairs
  * and the top-k query engine, which run on the same scorer. */
class AnnTrainSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** (vec_id, v array<double>) of a dir's embeddings. */
  private def vectors(dir: String): DataFrame =
    Tables(spark, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))

  private def collectVecs(df: DataFrame): Seq[(Long, Array[Double])] =
    df.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq

  private def assertMatchesReference(e: DataFrame, clue: String): Unit = {
    val (ivf, cb) = AnnReference.train(collectVecs(e))
    val ix = Similarity.trainIndex(e)
    assert(ix.ivf.map(_._1).toSeq == (0 until Similarity.NList), clue)
    ix.ivf.foreach { case (l, v, nrm) =>
      assert(v.zip(ivf(l)).forall { case (a, b) => math.abs(a - b) <= 1e-9 }, s"$clue list $l")
      assert(math.abs(nrm - math.sqrt(ivf(l).map(x => x * x).sum)) <= 1e-9, s"$clue norm $l")
    }
    assert(ix.pq.cb.forall(_.length == Similarity.PqCodes), clue)
    for (b <- 0 until Similarity.PqBlocks; k <- 0 until Similarity.PqCodes)
      assert(ix.pq.cb(b)(k).zip(cb(b)(k)).forall { case (x, y) => math.abs(x - y) <= 1e-9 },
        s"$clue block $b code $k")
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  private def writeEmbeddings(rows: Seq[Row], files: Int = 1): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_anntrain").toString
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** Spark jobs started while `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get
  }

  /** n deterministic pseudo-random vectors of width `dim`, vec_ids from `ids`. */
  private def synthetic(ids: Seq[Long], dim: Int): Seq[(Long, Array[Double])] =
    ids.map { id =>
      id -> Array.tabulate(dim) { j =>
        val h = (id * 0x9E3779B97F4A7C15L + j * 0xC2B2AE3D27D4EB4FL) >>> 11
        (h % 2001).toDouble / 100.0 - 10.0 + (id % 7) * (if (j % 7 == 0) 3.0 else 0.0)
      }
    }

  test("trainAnn runs at most 8 Spark jobs and reads each row once to pack") {
    Similarity.clearTrainCache()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try Similarity.trainAnn(spark, sf)
    finally {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    Similarity.clearTrainCache()
    assert(jobs.get <= 8, s"trainAnn ran ${jobs.get} Spark jobs")

    // the pack reads each row once; the encode is the one other scan
    val s = spark
    import s.implicits._
    val read = spark.sparkContext.longAccumulator("vectors read")
    val base = vectors(sf)
    val n = base.count()
    val e = base.as[(Long, Array[Double])]
      .mapPartitions(_.map { r => read.add(1); r }).toDF("vec_id", "v")
    Similarity.trainIndex(e)
    assert(read.value == 2 * n, s"training read ${read.value} rows of $n (pack + encode)")
  }

  test("IVF centroids and PQ codebooks equal the plain-Scala Lloyd, stored and repartitioned") {
    val e = vectors(sf)
    assertMatchesReference(e, "as stored")
    assertMatchesReference(e.repartition(3), "repartition(3)")
  }

  test("init trains NList distinct lists and PqCodes codewords on ids 1..n and with a gap") {
    val base = Tables(spark, sf, "embeddings")
    for ((name, shifted) <- Seq(
        "ids 1..n" -> base.withColumn("vec_id", col("vec_id") + 1),
        "a gap" -> base.withColumn("vec_id",
          when(col("vec_id") >= 100, col("vec_id") + 37).otherwise(col("vec_id"))))) {
      val dir = java.nio.file.Files.createTempDirectory("graft_anninit").toString
      shifted.coalesce(1).write.parquet(s"$dir/embeddings.parquet")
      val path = java.nio.file.Files.createTempDirectory("graft_annidx").toString
      Similarity.clearTrainCache()
      Similarity.saveAnnIndex(spark, dir, path)
      Similarity.clearTrainCache()
      val ivf = spark.read.parquet(s"$path/ivf").collect().map(_.getSeq[Double](1))
      val (lists, distinct) = (ivf.length, ivf.distinct.length)
      assert(lists == Similarity.NList && distinct == lists,
        s"$name: $distinct distinct of $lists IVF centroids")
      val cb = spark.read.parquet(s"$path/pq_codebook").collect()
        .groupBy(_.getAs[Int]("block"))
      assert(cb.size == Similarity.PqBlocks, name)
      cb.foreach { case (b, rows) =>
        val words = rows.map(r => r.getSeq[Double](r.fieldIndex("v")))
        val (codes, distinct) = (words.length, words.distinct.length)
        assert(codes == Similarity.PqCodes && distinct == codes,
          s"$name block $b: $distinct distinct of $codes codewords")
      }
    }
  }

  test("init fails naming n and K when the seeds coincide (n < K)") {
    val dir = writeEmbeddings((0 until 10).map(i =>
      Row(i.toLong, Seq.tabulate(8)(j => (i * 8 + j).toFloat), 0)))
    Similarity.clearTrainCache()
    val msg = messages(intercept[Exception](Similarity.trainAnn(spark, dir)))
    assert(msg.contains("n=10") && msg.contains(s"${Similarity.NList} seeds"), msg)
  }

  test("a null vector, a null element or a ragged vector fails trainAnn naming the vec_id") {
    def vec(i: Int, dim: Int = 8) = Seq.tabulate(dim)(j => ((i * 31 + j * 7) % 13).toFloat)
    val cases = Seq(
      ("null vector", 17, Row(17L, null, 0)),
      ("null element", 19, Row(19L, vec(19).updated(3, null), 0)),
      ("ragged", 23, Row(23L, vec(23, 7), 0)))
    cases.foreach { case (name, bad, badRow) =>
      val rows = (0 until 40).map(i => if (i == bad) badRow else Row(i.toLong, vec(i), 0))
      val dir = writeEmbeddings(rows)
      Similarity.clearTrainCache()
      val msg = messages(intercept[Exception](Similarity.trainAnn(spark, dir)))
      assert(msg.contains(s"vec_id $bad"), s"$name: $msg")
    }
    // ragged across partitions: the partitions' dimensions disagree
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("v", ArrayType(DoubleType))))
    val rows = (0 until 40).map(i => Row(i.toLong, Seq.fill(if (i == 39) 7 else 8)(i.toDouble)))
    val split = spark.createDataFrame(spark.sparkContext.parallelize(rows, 40), schema)
    val msg = messages(intercept[Exception](Similarity.trainIndex(split)))
    assert(msg.contains("vec_id 39") && msg.contains("dimension 7"), msg)
  }

  test("chunk edges at d = 64: 511, 512 and 513 rows train like the reference") {
    val s = spark
    import s.implicits._
    for (n <- Seq(511L, 512L, 513L); parts <- Seq(1, 3)) {
      val one = spark.createDataset(synthetic(0L until n, 64))
        .toDF("vec_id", "v").coalesce(1)
      assertMatchesReference(if (parts == 1) one else one.repartition(parts),
        s"n=$n partitions=$parts")
    }
  }

  test("annIvfPq on a trained index runs at most 12 Spark jobs (15 before one query collect)") {
    Similarity.clearTrainCache()
    Similarity.trainAnn(spark, sf)
    try {
      val jobs = jobsOf(Similarity.annIvfPq(spark, sf).collect())
      assert(jobs <= 12, s"annIvfPq ran $jobs Spark jobs")
    } finally Similarity.clearTrainCache()
  }

  test("a ragged vector fails annLsh and dedupEmbeddingLsh with the dimension message") {
    val dir = writeEmbeddings((0 until 40).map { i =>
      Row(i.toLong, Seq.tabulate(if (i == 23) 7 else 8)(j => ((i * 31 + j * 7) % 13 - 6).toFloat),
        i % 3)
    })
    for ((name, run) <- Seq[(String, () => Unit)](
        "annLsh" -> (() => Similarity.annLsh(spark, dir).collect()),
        "dedupEmbeddingLsh" -> (() => Dedup.dedupEmbeddingLsh(spark, dir).collect()))) {
      val msg = messages(intercept[Exception](run()))
      assert(msg.contains("vectors must share one dimension"), s"$name: $msg")
    }
  }

  /** 300 vectors of width 8 over 40 directions, each direction at
    * scales 1, 2 and 4: same-direction vectors share every bucket and
    * score bit-identical cosines against any node (power-of-two scaling
    * is exact), so ranks are decided by vec_id ties; duplicates
    * (ids i and i + 120 at the same scale) collide in every table. */
  private lazy val tieFixture: Seq[(Long, Array[Double])] = (0 until 300).map { i =>
    val dir = i % 40
    val scale = (1 << (i / 40 % 3)).toDouble
    i.toLong -> Array.tabulate(8)(j => ((dir * 37 + j * 11) % 13 - 6 + (if (j == dir % 8) 9 else 0)) * scale)
  }

  private def rowsOf(df: DataFrame): Seq[(Long, Long, Int, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq

  /** The tie fixture as an embeddings table of `files` files, label
    * vec_id % 3 (the values are small integers: exact as floats). */
  private def tieDir(files: Int): String =
    writeEmbeddings(tieFixture.map { case (id, v) =>
      Row(id, v.map(_.toFloat).toSeq, (id % 3).toInt)
    }, files)

  test("ANN queries on a trained index run at most 3 (IVF+PQ) / 2 (brute force, hard negatives, LSH, kNN anchor) Spark jobs") {
    Similarity.clearTrainCache()
    Similarity.trainAnn(spark, sf)
    try {
      for ((name, most, run) <- Seq[(String, Int, () => DataFrame)](
          ("annIvfPq", 3, () => Similarity.annIvfPq(spark, sf)),
          ("annBruteForce", 2, () => Similarity.annBruteForce(spark, sf)),
          ("hardNegatives", 2, () => Similarity.hardNegatives(spark, sf)),
          ("annLsh", 2, () => Similarity.annLsh(spark, sf)),
          ("knnGraphExact", 2, () => Similarity.knnGraphExact(spark, sf)))) {
        val jobs = jobsOf(run().collect())
        assert(jobs <= most, s"$name ran $jobs Spark jobs")
      }
    } finally Similarity.clearTrainCache()
  }

  test("top-k queries under exact cosine ties equal the plain (cos DESC, vec_id ASC) top-k") {
    val dir = tieDir(1)
    val ids = tieFixture.map(_._1)
    val queries = ids.filter(_ < Similarity.NumQueries)
    val k = Similarity.TopK
    val all = KnnReference.topK(tieFixture, queries, k)((_, _) => true)
    // every query has a same-direction twin at another scale: a tie
    assert(all.exists { case (q, _, rk, c) =>
      all.exists(x => x._1 == q && x._3 == rk + 1 && x._4 == c) }, "fixture has no tie")
    Similarity.clearTrainCache()
    try {
      assert(rowsOf(Similarity.annBruteForce(spark, dir)) == all, "annBruteForce")
      assert(rowsOf(Similarity.annIvfExact(spark, dir)) == all, "annIvfExact")
      assert(rowsOf(Similarity.hardNegatives(spark, dir)) ==
        KnnReference.topK(tieFixture, queries, k)((q, n) => q % 3 != n % 3), "hardNegatives")
    } finally Similarity.clearTrainCache()
  }

  test("knnEdges runs at most 6 Spark jobs") {
    Similarity.clearTrainCache()
    try {
      val jobs = jobsOf(Similarity.knnEdges(spark, sf))
      assert(jobs <= 6, s"knnEdges ran $jobs Spark jobs")
    } finally Similarity.clearTrainCache()
  }

  test("kNN graph with exact cosine ties and multi-table collisions equals KnnReference") {
    val s = spark
    import s.implicits._
    val e = spark.createDataset(tieFixture).toDF("vec_id", "v")
    val expected = KnnReference.edges(tieFixture)
    assert(expected.exists { case (q, _, rk, c) =>
      expected.exists(x => x._1 == q && x._3 == rk + 1 && x._4 == c) }, "fixture has no tie")
    assert(rowsOf(Similarity.knnGraphOf(e, None)) == expected)
    // Dedup's embedding pairs on the same signer and scorer: label
    // blocks of 100 rows, one bucket each at or under the cap, LSH
    // buckets sized from the largest block over it
    val labelled = e.withColumn("label", col("vec_id") % 3)
    val blocks = tieFixture.groupBy(_._1 % 3).values.toSeq
    val planes = Dedup.adaptivePlanes(100)
    for (cap <- Seq(Int.MaxValue, 50)) {
      val buckets = blocks.flatMap(b =>
        if (b.size > cap) KnnReference.buckets(b, Dedup.adaptiveTables(planes), planes)
        else Seq(b.map(_._1)))
      val pairs = KnnReference.pairs(tieFixture, buckets, Dedup.CosineTau)
      assert(pairs.nonEmpty && Dedup.dedupEmbeddingOn(labelled, cap).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq == pairs, s"cap $cap")
    }
  }

  test("kNN graph rows do not depend on the partitioning: repartition(1/3/7)") {
    val s = spark
    import s.implicits._
    val e = spark.createDataset(tieFixture).toDF("vec_id", "v")
    val labelled = e.withColumn("label", col("vec_id") % 3)
    def pairsOf(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val base = rowsOf(Similarity.knnGraphOf(e.repartition(1), None))
    // the hot arm at cap 50 buckets all three 100-row label blocks
    val dedupArms = Seq(Int.MaxValue, 50).map(cap =>
      cap -> pairsOf(Dedup.dedupEmbeddingOn(labelled.repartition(1), cap)))
    val lsh = rowsOf(Similarity.annLshOf(e.repartition(1), Similarity.Tables_, Similarity.NPlanes))
    assert(dedupArms.forall(_._2.nonEmpty) && lsh.nonEmpty)
    for (parts <- Seq(3, 7)) {
      assert(rowsOf(Similarity.knnGraphOf(e.repartition(parts), None)) == base, s"repartition($parts)")
      assert(rowsOf(Similarity.knnGraphOf(e.repartition(parts), Some(50L))) ==
        rowsOf(Similarity.knnGraphOf(e.repartition(1), Some(50L))), s"anchor, repartition($parts)")
      dedupArms.foreach { case (cap, rows) =>
        assert(pairsOf(Dedup.dedupEmbeddingOn(labelled.repartition(parts), cap)) == rows,
          s"dedupEmbeddingOn cap $cap, repartition($parts)")
      }
      assert(rowsOf(Similarity.annLshOf(e.repartition(parts), Similarity.Tables_,
        Similarity.NPlanes)) == lsh, s"annLsh, repartition($parts)")
    }
    // the query operators read a table: the same rows stored as 1, 3
    // and 7 files scan as that many partitions
    Similarity.clearTrainCache()
    try {
      val byFiles = Seq(1, 3, 7).map { files =>
        val dir = tieDir(files)
        (files, rowsOf(Similarity.annBruteForce(spark, dir)), rowsOf(Similarity.annIvfPq(spark, dir)),
          rowsOf(Similarity.annLsh(spark, dir)))
      }
      val (_, bf, ivfPq, lshRows) = byFiles.head
      assert(bf.nonEmpty && ivfPq.nonEmpty && lshRows.nonEmpty)
      byFiles.tail.foreach { case (files, b, p, l) =>
        assert(b == bf, s"annBruteForce, $files files")
        assert(p == ivfPq, s"annIvfPq, $files files")
        assert(l == lshRows, s"annLsh, $files files")
      }
    } finally Similarity.clearTrainCache()
  }

  test("a zero-norm vector fails the kNN build naming its vec_id") {
    // also the cosine operators on the same scorer: dedup embedding and
    // the top-k queries
    def vec(i: Int) = Seq.tabulate(8)(j => ((i * 31 + j * 7) % 13 - 6).toFloat)
    val zero = writeEmbeddings((0 until 40).map(i =>
      Row(i.toLong, if (i == 17) Seq.fill(8)(0f) else vec(i), 0)))
    val nul = writeEmbeddings((0 until 40).map(i => Row(i.toLong, if (i == 19) null else vec(i), 0)))
    for ((name, run) <- Seq[(String, () => Unit)](
        "knnEdges" -> (() => Similarity.knnEdges(spark, zero)),
        "knnGraphExact" -> (() => Similarity.knnGraphExact(spark, zero)),
        "dedupEmbedding" -> (() => Dedup.dedupEmbedding(spark, zero).collect()),
        "dedupEmbeddingLsh" -> (() => Dedup.dedupEmbeddingLsh(spark, zero).collect()),
        "annLsh" -> (() => Similarity.annLsh(spark, zero).collect()),
        "annBruteForce" -> (() => Similarity.annBruteForce(spark, zero).collect()),
        "hardNegatives" -> (() => Similarity.hardNegatives(spark, zero).collect()),
        "annIvfPq" -> (() => Similarity.annIvfPq(spark, zero).collect()))) {
      Similarity.clearTrainCache()
      val msg = messages(intercept[Exception](run()))
      assert(msg.contains("vec_id 17") && msg.contains("norm 0.0"), s"$name: $msg")
    }
    Similarity.clearTrainCache()
    val msg = messages(intercept[Exception](Similarity.knnEdges(spark, nul)))
    assert(msg.contains("null vector at vec_id 19") && !msg.contains("ANN training"), msg)
  }
}
