package graftbench

import java.io.{BufferedWriter, File, FileWriter}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Each writes the files the program reads and
  * returns the ground truth the output checks use; none of it is timed. */
object Gen {

  // ----------------------------------------------------------- kmeans_csv

  final case class Points(paths: Seq[String], xs: Array[Double],
      ys: Array[Double], centers: Seq[(Double, Double)])

  /** 2-D Gaussian blobs around `k` seeded centers, split over `files`
    * CSV files (the reference's scenario 2). Every seventh line carries
    * the reference data's ragged whitespace. The returned coordinates
    * are the parsed text, i.e. exactly what a CSV reader sees. */
  def points(dir: File, seed: Long, n: Int, k: Int, files: Int,
      sigma: Double): Points = {
    val rnd = new SplittableRandom(seed)
    val centers = Seq.fill(k)((rnd.nextDouble() * 100, rnd.nextDouble() * 100))
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    val paths = (0 until files).map(f => new File(dir, f"points-$f%02d.csv"))
    val writers = paths.map(p => new BufferedWriter(new FileWriter(p), 1 << 16))
    try {
      var i = 0
      while (i < n) {
        val (cx, cy) = centers(rnd.nextInt(k))
        val x = fixed4(cx + rnd.nextGaussian() * sigma)
        val y = fixed4(cy + rnd.nextGaussian() * sigma)
        xs(i) = x.toDouble
        ys(i) = y.toDouble
        val line = if (i % 7 == 3) s" $x , $y \n" else s"$x,$y\n"
        writers(i % files).write(line)
        i += 1
      }
    } finally writers.foreach(_.close())
    Points(paths.map(_.getPath), xs, ys, centers)
  }

  /** `v` with exactly four decimals, without `String.format`'s cost. */
  private def fixed4(v: Double): String = {
    val t = math.round(v * 10000)
    val a = math.abs(t)
    val frac = (a % 10000).toString
    (if (t < 0) "-" else "") + (a / 10000) + "." + ("0" * (4 - frac.length)) + frac
  }

  // --------------------------------------------------------- dedup_corpus

  final case class Doc(id: Long, text: String, lang: String, source: String) {
    def nChars: Long = text.length.toLong
  }

  /** A planted pair: `copy` was made from `orig`; `jaccard` is the true
    * word-3-gram Jaccard of the two texts. */
  final case class Planted(orig: Long, copy: Long, exact: Boolean, jaccard: Double)

  final case class Corpus(dir: String, docs: Array[Doc], planted: Seq[Planted])

  val Langs = Seq("en", "de", "fr", "es")

  /** A Zipf-vocabulary corpus with planted exact-copy and edited
    * near-dup families, written as `documents.parquet` (one file, one
    * row group). Copies keep their original's `lang`, so they share its
    * block whenever the edit keeps the length bucket. */
  def corpus(spark: SparkSession, dir: File, seed: Long, nOrig: Int,
      vocab: Int): Corpus = {
    val rnd = new SplittableRandom(seed)
    val words = Langs.map(l => l -> Array.tabulate(vocab)(i => word(l, i))).toMap
    // Zipf(1.1) over the vocabulary as a cumulative table
    val cdf = {
      val w = Array.tabulate(vocab)(r => 1.0 / math.pow(r + 1, 1.1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(lang: String): String = {
      val u = rnd.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      words(lang)(math.min(i, vocab - 1))
    }
    def source(): String = s"src${rnd.nextInt(8)}"
    val docs = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    val families = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Boolean)]
    for (_ <- 0 until nOrig) {
      val lang = Langs(rnd.nextInt(Langs.size))
      val toks = Array.fill(20 + rnd.nextInt(100))(draw(lang))
      val o = docs.size
      docs += ((toks.mkString(" "), lang, source()))
      val r = rnd.nextDouble()
      if (r < 0.04) { // exact-copy family: 1..3 copies
        for (_ <- 0 to rnd.nextInt(3)) {
          families += ((o, docs.size, true))
          docs += ((docs(o)._1, lang, source()))
        }
      } else if (r < 0.10) { // edited near-dup family: 1..2 copies
        for (_ <- 0 to rnd.nextInt(2)) {
          val edited = toks.clone()
          val edits = 1 + rnd.nextInt(math.max(1, toks.length / 25))
          for (_ <- 0 until edits) edited(rnd.nextInt(edited.length)) = draw(lang)
          families += ((o, docs.size, false))
          docs += ((edited.mkString(" "), lang, source()))
        }
      }
    }
    // doc ids are a seeded permutation, so copies do not sit next to
    // their originals
    val perm = (0 until docs.size).toArray
    for (i <- perm.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val out = Array.tabulate(docs.size) { i =>
      val (text, lang, src) = docs(i)
      Doc(perm(i).toLong, text, lang, src)
    }
    val planted = families.map { case (o, c, exact) =>
      Planted(perm(o).toLong, perm(c).toLong, exact,
        Check.jaccard(Check.grams(out(o).text), Check.grams(out(c).text)))
    }.toSeq
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    val rows = out.sortBy(_.id).map(d => Row(d.id, d.text, d.lang, d.source, d.nChars))
    writeParquet(spark, rows.toSeq, schema, new File(dir, "documents.parquet"))
    Corpus(dir.getPath, out.sortBy(_.id), planted)
  }

  /** Pseudo-word `i` of language `lang`: the language code followed by
    * `i` spelled in base-16 syllables. */
  private def word(lang: String, i: Int): String = {
    val syl = Seq("ka", "lo", "mi", "re", "tu", "sa", "ne", "po", "di", "ga",
      "vo", "le", "ri", "ta", "mu", "ze")
    val b = new StringBuilder(lang)
    var v = i
    do { b ++= syl(v % syl.size); v /= syl.size } while (v > 0)
    b.toString
  }

  // ------------------------------------------------------------ ann_embed

  final case class Vectors(dir: String, vecs: Array[Array[Float]], labels: Array[Int])

  /** `n` labelled `dim`-d float vectors around `clusters` seeded
    * Gaussian centers, written as `embeddings.parquet`. Each vector
    * draws its cluster, so the query set (the lowest ids) samples the
    * clusters at random. */
  def vectors(spark: SparkSession, dir: File, seed: Long, n: Int, dim: Int,
      clusters: Int, noise: Double): Vectors = {
    val rnd = new SplittableRandom(seed)
    val centers = Array.fill(clusters, dim)(rnd.nextGaussian())
    val labels = Array.fill(n)(rnd.nextInt(clusters))
    val vecs = labels.map { c =>
      Array.tabulate(dim)(d => (centers(c)(d) + noise * rnd.nextGaussian()).toFloat)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("label", IntegerType, nullable = false)))
    val rows = (0 until n).map(i => Row(i.toLong, vecs(i).toSeq, labels(i)))
    writeParquet(spark, rows, schema, new File(dir, "embeddings.parquet"))
    Vectors(dir.getPath, vecs, labels)
  }

  private def writeParquet(spark: SparkSession, rows: Seq[Row],
      schema: StructType, path: File): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .coalesce(1).write.mode("overwrite").parquet(path.getPath)
}
