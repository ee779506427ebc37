package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.kmeans.{Centroid, KMeans, KMeansQueries, MLlibKMeans, Points}
import graft.functions.NearestCentroid
import graft.sources.PointsSource

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class KMeansSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def pts(rows: (Long, Double, Double)*) =
    rows.toDF("pid", "x", "y")

  private def round4(cs: Seq[Centroid]): Seq[Centroid] =
    cs.map(c => Centroid(c.id,
      graft.functions.Round4.r4(c.x), graft.functions.Round4.r4(c.y)))

  /** Three contract-rounded fitLoop iterations against the DataFrame
    * step() chain from the same init: every boundary, sizes, count. */
  private def assertLoopMatchesStepChain(df: org.apache.spark.sql.DataFrame, k: Int,
      clue: String): Unit = {
    val m = KMeans.fitLoop(df, k, 3, KMeans.init, round4, (_, _) => false)
    var cur = KMeans.init(df, k)
    val hist = Seq.newBuilder[Seq[Centroid]]
    hist += cur
    var lastSizes = Map.empty[Int, Long]
    for (_ <- 1 to 3) {
      // no points, no centroids: step() needs >= 1, the loop keeps none
      val (st, ns) = if (cur.isEmpty) (Nil, Map.empty[Int, Long]) else KMeans.step(df, cur)
      cur = round4(st); hist += cur; lastSizes = ns
    }
    assert(m.history == hist.result(), clue)
    assert(m.iterations == 3 && m.centroids == cur && m.sizes == lastSizes, clue)
  }

  test("nearest centroid: argmin with smaller-id tie-break (codegen path)") {
    // (0,0) is equidistant from centroids 1 and 2 -> id 1 must win,
    // mirroring the reference's strict-< scan in id order.
    val df = pts((1L, 0.0, 0.0), (2L, 9.0, 1.0), (3L, -3.0, -4.0))
    val cs = Seq(Centroid(1, 1.0, 0.0), Centroid(2, -1.0, 0.0), Centroid(3, 8.0, 0.0))
    val got = KMeans.assign(df, cs).select("pid", "cid").as[(Long, Int)]
      .collect().toMap
    assert(got == Map(1L -> 1, 2L -> 3, 3L -> 2))
  }

  test("nearest centroid: interpreted eval matches codegen") {
    val df = pts((1L, 2.5, -3.5), (2L, -100.0, 50.0), (3L, 0.1, 0.1))
    val cs = Seq(Centroid(1, 0.0, 0.0), Centroid(2, -99.0, 49.0), Centroid(3, 3.0, -3.0))
    val viaDf = KMeans.assign(df, cs).select("pid", "cid").as[(Long, Int)]
      .collect().toMap
    val expr = NearestCentroid(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.catalyst.expressions.BoundReference(1,
        org.apache.spark.sql.types.DoubleType, nullable = false),
      cs.map(_.x).toArray, cs.map(_.y).toArray)
    val viaEval = df.select("pid", "x", "y").as[(Long, Double, Double)].collect()
      .map { case (pid, x, y) =>
        pid -> expr.eval(org.apache.spark.sql.catalyst.InternalRow(x, y))
      }.toMap
    assert(viaDf == viaEval)
  }

  test("one step computes per-cluster means; empty cluster keeps centroid") {
    val df = pts((1L, 0.0, 0.0), (2L, 2.0, 0.0), (3L, 10.0, 10.0))
    val cs = Seq(Centroid(1, 1.0, 0.0), Centroid(2, 11.0, 11.0), Centroid(3, 500.0, 500.0))
    val (next, sizes) = KMeans.step(df, cs)
    assert(next(0) == Centroid(1, 1.0, 0.0))      // mean of (0,0),(2,0)
    assert(next(1) == Centroid(2, 10.0, 10.0))    // single member
    assert(next(2) == Centroid(3, 500.0, 500.0))  // empty -> unchanged
    assert(sizes == Map(1 -> 2L, 2 -> 1L, 3 -> 0L))
  }

  test("fit converges on well-separated blobs") {
    val blobA = (0 until 50).map(i => (i.toLong, 0.0 + (i % 5) * 0.01, 0.0 + (i % 7) * 0.01))
    val blobB = (0 until 50).map(i => (100L + i, 50.0 + (i % 5) * 0.01, 50.0 + (i % 7) * 0.01))
    val m = KMeans.fit(pts(blobA ++ blobB: _*), 2, maxIter = 20)
    assert(m.converged)
    assert(m.sizes.values.toSeq.sorted == Seq(50L, 50L))
    val xs = m.centroids.map(_.x).sorted
    assert(math.abs(xs.head - 0.02) < 0.1 && math.abs(xs.last - 50.02) < 0.1)
    // per-iteration centroid log (the reference's dump.txt surface):
    // init + one entry per iteration, ending at the final centroids
    assert(m.history.length == m.iterations + 1)
    assert(m.history.last == m.centroids)
  }

  test("fitLoop ≡ the DataFrame step chain under contract rounding") {
    // fitLoop's per-iteration engine is the packed-RDD treeAggregate
    // (stepPacked); this pins its whole trajectory — every boundary,
    // sizes, iteration count — to the oracle-shaped DataFrame step()
    // chain with the same 4-decimal contract rounding
    val df = pts((1L, 0.0, 0.0), (2L, 2.0, 0.0), (3L, 10.0, 10.0),
      (4L, 10.2, 10.1), (5L, 0.3, 1.7), (6L, -4.5, 2.25))
    assertLoopMatchesStepChain(df, 2, "")
  }

  test("fit fails with a clear error on a null coordinate") {
    val df = Seq((1L, Some(0.0), Some(1.0)), (2L, Some(2.0), None),
      (3L, Some(5.0), Some(5.0))).toDF("pid", "x", "y")
    val e = intercept[Exception](KMeans.fit(df, 2, maxIter = 3))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("null pid, x or y"), msgs)
  }

  test("fit scans its input once and runs iterations + 1 Spark jobs") {
    val n = 2000
    val read = spark.sparkContext.longAccumulator("points read")
    val df = spark.range(0, n, 1, 4)
      .selectExpr("id AS pid", "cast(id % 97 AS double) AS x",
        "cast(id % 89 AS double) AS y")
      .as[(Long, Double, Double)]
      .mapPartitions(_.map { r => read.add(1); r })
      .toDF("pid", "x", "y")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val m = try {
      KMeans.fit(df, 4, maxIter = 6, initFn = KMeans.initSample(_, _, 3L))
    } finally {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(read.value == n, s"fit read ${read.value} rows of $n")
    assert(m.sizes.values.sum == n)
    assert(jobs.get == m.iterations + 1,
      s"${jobs.get} Spark jobs for ${m.iterations} iterations")
  }

  test("chunk edges: fitLoop ≡ step chain and init from the cache ≡ init from the source") {
    // the cache packs each partition into chunks of 32 768 points; sizes
    // straddle the chunk boundary, in one partition and spread over three
    for (n <- Seq(0L, 1L, 32767L, 32768L, 32769L); parts <- Seq(1, 3)) {
      val one = spark.range(0, n, 1, 1).selectExpr("id AS pid",
        "cast(id * 7919 % 1000 AS double) / 10 AS x",
        "cast(id * 104729 % 997 AS double) / 10 AS y")
      val df = if (parts == 1) one else one.repartition(parts)
      val clue = s"n=$n partitions=$parts"
      assertLoopMatchesStepChain(df, 4, clue)
      val sampled = KMeans.fit(df, 4, maxIter = 1,
        initFn = KMeans.initSample(_, _, 11L))
      assert(sampled.history.head == KMeans.initSample(df, 4, 11L), clue)
      assert(sampled.sizes.values.sum == n, clue)
    }
  }

  test("multi-step chain: empty cluster survives every iteration") {
    val df = pts((1L, 0.0, 0.0), (2L, 2.0, 0.0), (3L, 10.0, 10.0),
      (4L, 10.2, 10.1), (5L, 0.3, 1.7))
    val cs = Seq(Centroid(1, 1.0, 0.0), Centroid(2, 11.0, 11.0),
      Centroid(3, 500.0, 500.0)) // cluster 3 stays empty every iteration
    var cur = cs
    for (_ <- 1 to 3) {
      val (st, ns) = KMeans.step(df, cur)
      assert(st(2) == Centroid(3, 500.0, 500.0))
      assert(ns(3) == 0L)
      cur = st.map(c => Centroid(c.id,
        graft.functions.Round4.r4(c.x), graft.functions.Round4.r4(c.y)))
    }
    assert(cur.map(_.id) == Seq(1, 2, 3))
  }

  test("convergence criterion mirrors np.allclose(atol=1e-4, rtol=1e-5)") {
    val a = Seq(Centroid(1, 100.0, 0.0))
    assert(KMeans.converged(a, Seq(Centroid(1, 100.001, 0.0))))   // 1e-3 <= 1e-4 + 1e-5*100
    assert(!KMeans.converged(a, Seq(Centroid(1, 100.01, 0.0))))
    assert(KMeans.converged(Seq(Centroid(1, 0.0, 0.0)), Seq(Centroid(1, 0.00009, 0.0))))
    assert(!KMeans.converged(Seq(Centroid(1, 0.0, 0.0)), Seq(Centroid(1, 0.0002, 0.0))))
  }

  test("points source: scenario 1 and 2, ragged whitespace tolerated") {
    val dir = java.nio.file.Files.createTempDirectory("graftpts").toFile
    val f1 = new java.io.File(dir, "p1.txt")
    val f2 = new java.io.File(dir, "p2.txt")
    java.nio.file.Files.writeString(f1.toPath, "0.4,7.2\n-1.5,7.3\n")
    java.nio.file.Files.writeString(f2.toPath, "2.42, 14.20 \n81.43, 50.33 \n")
    val s1 = PointsSource.scenario1(spark, f1.getPath)
    assert(s1.select("x", "y").as[(Double, Double)].collect().toSet ==
      Set((0.4, 7.2), (-1.5, 7.3)))
    val s2 = PointsSource.scenario2(spark, Seq(f1.getPath, f2.getPath))
    assert(s2.count() == 4)
    assert(s2.select("pid").distinct().count() == 4)
  }

  test("mllib wrapper returns k ordered centroids with sizes") {
    val df = Points.lineitem(spark, "/root/testdata/sf0.001")
    val got = MLlibKMeans.fitSummary(df, 4).collect()
    assert(got.length == 4)
    assert(got.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    assert(got.map(_.getLong(3)).sum == df.count())
  }

  test("deterministic init is stable across partitioning") {
    val df = Points.lineitem(spark, "/root/testdata/sf0.001")
    val a = KMeans.init(df, 8)
    val b = KMeans.init(df.repartition(13), 8)
    assert(a == b)
  }

  test("fit and fitTrace run ONE loop: same centroids, stop point, flag") {
    // anchored-by-construction (round-5 verdict item 2): both queries
    // delegate to KMeans.fitLoop with identical hooks, so the hash gate
    // on either anchors the other; this asserts the delegation holds
    val sf = "/root/testdata/sf0.001"
    val fit = KMeansQueries.fit(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getInt(4), r.getBoolean(5)))
    val trace = KMeansQueries.fitTrace(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getInt(3), r.getBoolean(4)))
    assert(fit.toSeq == trace.toSeq)
  }

  test("silhouette: hand-computed scores, tie-break, empty cluster kept") {
    import spark.implicits._
    // centroids (0,0) and (4,0); plus an empty cluster 3 at (100,100).
    // (1,0): a=1, b=3 -> s=2/3; (2,0): exact tie -> cid 1 (first wins),
    // s=0; (4,0): a=0, b=4 -> s=1
    val pts = Seq((1L, 1.0, 0.0), (2L, 2.0, 0.0), (3L, 4.0, 0.0))
      .toDF("pid", "x", "y")
    val cs = Seq(Centroid(1, 0.0, 0.0), Centroid(2, 4.0, 0.0),
      Centroid(3, 100.0, 100.0))
    val out = KMeansQueries.silhouetteOn(pts, cs).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(out(1).getLong(1) == 2L && out(1).getDouble(2) == 0.3334,
      s"cluster 1 (0.6667+0)/2: ${out(1)}")
    assert(out(2).getLong(1) == 1L && out(2).getDouble(2) == 1.0, out(2).toString)
    assert(out(3).getLong(1) == 0L && out(3).isNullAt(2),
      s"empty cluster row kept with NULL: ${out(3)}")
    // real data: every mean silhouette is in [0, 1], sizes match fit's
    val sf = "/root/testdata/sf0.001"
    val sil = KMeansQueries.silhouette(spark, sf).collect()
    assert(sil.length == KMeansQueries.K)
    sil.filter(!_.isNullAt(2)).foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0, r.toString)
    }
    val fitSizes = KMeansQueries.fit(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(sil.map(r => r.getInt(0) -> r.getLong(1)).toMap == fitSizes,
      "silhouette cluster sizes must match the fit assignment")
  }

  test("contract model memoizes per dir and retrains after clear") {
    val sf = "/root/testdata/sf0.001"
    KMeansQueries.clearFitCache()
    val a = KMeansQueries.contractModel(spark, sf)
    // second call returns the SAME instance (no second Lloyd loop)
    assert(KMeansQueries.contractModel(spark, sf) eq a)
    // a different dir is a different model
    val b = KMeansQueries.contractModel(spark, "/root/testdata/sf0.01")
    assert(!(b eq a) && b.iterations != a.iterations)
    // clear forces a retrain to an equal-value, distinct instance
    KMeansQueries.clearFitCache()
    val a2 = KMeansQueries.contractModel(spark, sf)
    assert(!(a2 eq a) && a2.centroids == a.centroids &&
      a2.iterations == a.iterations && a2.converged == a.converged)
  }
}
