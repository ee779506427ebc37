package graftbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.{Main => GraftMain, Tables}
import graft.functions.{DotProduct, PolyHash, WordNgramHashes}
import graft.kmeans.{KMeans, KMeansModel}
import graft.operators.{Dedup, Similarity}
import graft.sources.{PointsSource, Sinks}

/** One benchmark workload: seeded inputs on disk, a job that runs the
  * program on them, and an independent check of the job's output. */
trait Workload {
  /** Input rows one job processes (points, documents or vectors). */
  def rows: Long

  /** Reads the inputs once through the sources layer; returns the row
    * count. Part of set-up. */
  def load(s: SparkSession): Long

  /** The timed job. Returns a closure that checks the job's output and
    * lists what is wrong with it (empty when correct). */
  def job(s: SparkSession, t: Trace): () => Seq[String]

  /** Traced-run extras: direct calls into single layers outside the
    * job, each recorded as its own span. Returns per-layer metrics and
    * what is wrong with the probes' outputs. */
  def probes(s: SparkSession, t: Trace): (Map[String, Double], Seq[String])

  /** Per-layer metrics of one traced job, read from its spans. */
  def layerMetrics(t: Trace, root: Span): Map[String, Double]

  /** Memo caches a job fills; emptied before every job so that every
    * job pays for its builds. */
  def clearCaches(): Unit = {
    Dedup.clearPairCache()
    Dedup.clearLabelCache()
    Similarity.clearTrainCache()
  }

  protected def spanNamed(t: Trace, root: Span, name: String): Seq[Span] = {
    def under(s: Span): Seq[Span] = t.children(s).flatMap(c => c +: under(c))
    under(root).filter(_.name == name)
  }
  protected def seconds(t: Trace, root: Span, name: String): Double =
    spanNamed(t, root, name).map(_.seconds).sum
}

/** The workloads; why each one is in the benchmark is recorded in
  * BENCHMARK.json. */
object Workload {
  def apply(name: String, spark: SparkSession, dir: File, seed: Long): Workload =
    name match {
      case "kmeans_csv"   => new KMeansCsv(dir, seed)
      case "dedup_corpus" => new DedupCorpus(spark, dir, seed)
      case "ann_embed"    => new AnnEmbed(spark, dir, seed)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
}

// ------------------------------------------------------------- kmeans_csv

/** Scenario-2 CSV load, seeded-sample init, Lloyd fit and the
  * per-iteration centroid log: the path of `graft.Main.run`. */
final class KMeansCsv(dir: File, seed: Long) extends Workload {
  val N = 1000000
  val K = 16
  // The blobs overlap (sigma 9 around 16 centers in a 100 x 100 square),
  // so Lloyd does not converge within MaxIter on any seed and every job
  // runs the same number of iterations.
  val MaxIter = 20
  private val pts = Gen.points(dir, seed, N, K, files = 4, sigma = 9.0)
  private val logPath = new File(dir, "dump.txt").getPath
  private val refs = mutable.Map.empty[Seq[(Double, Double)], Check.Lloyd]
  def rows: Long = N

  def load(s: SparkSession): Long = PointsSource.scenario2(s, pts.paths).count()

  def job(s: SparkSession, t: Trace): () => Seq[String] = {
    val raw = t.span("sources.PointsSource.scenario2")(
      PointsSource.scenario2(s, pts.paths))
    val model = t.span("kmeans.KMeans.fit")(
      KMeans.fit(raw, K, MaxIter, initFn = (df, k) =>
        t.span("kmeans.KMeans.initSample")(KMeans.initSample(df, k, seed))))
    t.span("graft.Main.writeLog")(GraftMain.writeLog(logPath, model))
    () => check(model)
  }

  private def check(m: KMeansModel): Seq[String] = {
    val init = m.history.head.sortBy(_.id).map(c => (c.x, c.y))
    val errs = mutable.ArrayBuffer.empty[String]
    init.foreach { case (x, y) =>
      if (!pts.xs.indices.exists(i => pts.xs(i) == x && pts.ys(i) == y))
        errs += s"init centroid ($x, $y) is not an input point"
    }
    val ref = refs.getOrElseUpdate(init, Check.lloyd(pts.xs, pts.ys,
      init.toArray, MaxIter, KMeans.DefaultAtol, KMeans.DefaultRtol))
    if (m.iterations != ref.iterations || m.converged != ref.converged)
      errs += s"iterations ${m.iterations}/${m.converged}, reference " +
        s"${ref.iterations}/${ref.converged}"
    m.centroids.sortBy(_.id).zip(ref.centroids).foreach { case (c, (x, y)) =>
      if (math.abs(c.x - x) > 1e-6 || math.abs(c.y - y) > 1e-6)
        errs += s"centroid ${c.id} (${c.x}, ${c.y}), reference ($x, $y)"
    }
    if (m.sizes.values.sum != N) errs += s"cluster sizes sum to ${m.sizes.values.sum}"
    val lines = scala.io.Source.fromFile(logPath).getLines().toList
    if (!Check.logShapeOk(lines, m.iterations, m.converged))
      errs += "centroid log does not have the dump.txt line shape"
    errs.toSeq
  }

  def probes(s: SparkSession, t: Trace): (Map[String, Double], Seq[String]) = {
    val r = t.span("sources.csv_scan")(PointsSource.scenario2(s, pts.paths)
      .agg(count(lit(1)), sum("x"), sum("y")).head())
    val sec = t.all.last.seconds
    val errs = if (r.getLong(0) != N) Seq(s"CSV scan read ${r.getLong(0)} of $N rows")
      else Nil
    (Map("sources.csv_scan_s" -> sec, "sources.csv_rows" -> r.getLong(0).toDouble), errs)
  }

  def layerMetrics(t: Trace, root: Span): Map[String, Double] = {
    val fit = spanNamed(t, root, "kmeans.KMeans.fit").head
    val lines = scala.io.Source.fromFile(logPath).getLines()
      .count(_.startsWith("Iteration "))
    Map("kmeans.init_s" -> seconds(t, root, "kmeans.KMeans.initSample"),
      "kmeans.fit_s" -> t.selfSeconds(fit),
      "kmeans.iterations" -> lines.toDouble,
      "kmeans.spark_jobs" -> t.totalCounters(fit).jobs.toDouble)
  }
}

// ----------------------------------------------------------- dedup_corpus

/** Exact dedup, n-gram near-dup pairs, their components, the canonical
  * and MinHash policies, and the survivors written partitioned by lang. */
final class DedupCorpus(spark: SparkSession, dir: File, seed: Long) extends Workload {
  // ~2.2k documents: one job is ~60 Spark jobs and about ten seconds on
  // four cores, most of it per-stage cost that a larger corpus only adds to
  private val corpus = Gen.corpus(spark, dir, seed, nOrig = 2000, vocab = 4000)
  private val docs = corpus.docs
  private val byId = docs.map(d => d.id -> d).toMap
  private val gramCache = mutable.HashMap.empty[Long, Set[String]]
  private def grams(id: Long) = gramCache.getOrElseUpdate(id, Check.grams(byId(id).text))
  private val out = new File(dir, "survivors").getPath
  private val tau = Dedup.JaccardTau
  // plain-Scala exact drops: every non-min id of an identical-text group
  private val exactDrops: Set[Long] = docs.groupBy(_.text).values
    .flatMap(g => g.map(_.id).sorted.tail).toSet
  private val distinctTexts = docs.map(_.text).distinct.length
  private val nearPlanted = corpus.planted.filter(_.jaccard >= tau)
  def rows: Long = docs.length

  def load(s: SparkSession): Long = Tables(s, corpus.dir, "documents").count()

  private var lastRecall = 0.0
  private var lastPairs = 0L

  def job(s: SparkSession, t: Trace): () => Seq[String] = {
    val d = corpus.dir
    val exact = t.span("operators.Dedup.dedupExact")(Dedup.dedupExact(s, d).collect())
    val pairs = t.span("operators.Dedup.ngramPairs")(Dedup.ngramPairs(s, d).collect())
    val labels = t.span("operators.Dedup.ngramLabels")(Dedup.ngramLabels(s, d).collect())
    val canon = t.span("operators.Dedup.dedupCanonical")(Dedup.dedupCanonical(s, d).collect())
    val minhash = t.span("operators.Dedup.dedupMinHash")(Dedup.dedupMinHash(s, d).collect())
    val survivors = t.span("sources.Tables")(Tables(s, d, "documents"))
      .join(Dedup.ngramLabels(s, d).filter(col("id") =!= col("lab"))
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
    t.span("sources.Sinks.writePartitioned")(
      Sinks.writePartitioned(survivors, out, Seq("lang")))
    () => check(s, exact, pairs, labels, canon, minhash)
  }

  private def check(s: SparkSession, exact: Array[Row], pairs: Array[Row],
      labels: Array[Row], canon: Array[Row], minhash: Array[Row]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val nDocs = exact.map(_.getAs[Long]("n_docs")).sum
    val nSurv = exact.map(_.getAs[Long]("n_survivors")).sum
    if (nDocs != docs.length || nSurv != distinctTexts)
      errs += s"dedupExact: $nSurv survivors of $nDocs docs, reference " +
        s"$distinctTexts of ${docs.length}"
    def verifyPairs(what: String, ps: Seq[(Long, Long, Double)]): Unit =
      ps.foreach { case (a, b, j) =>
        val truth = Check.jaccard(grams(a), grams(b))
        if (a >= b || j < tau || truth < tau - 0.00005 || math.abs(truth - j) > 0.00005 + 1e-9)
          errs += s"$what pair ($a, $b) reports jaccard $j, true $truth"
      }
    val ps = pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    lastPairs = ps.size
    verifyPairs("ngramPairs", ps)
    val found = ps.map(p => (p._1, p._2)).toSet
    corpus.planted.filter(_.exact).foreach { p =>
      val key = (math.min(p.orig, p.copy), math.max(p.orig, p.copy))
      if (!found(key)) errs += s"planted exact copy $key not found"
    }
    lastRecall = if (nearPlanted.isEmpty) 1.0 else nearPlanted.count { p =>
      found((math.min(p.orig, p.copy), math.max(p.orig, p.copy)))
    }.toDouble / nearPlanted.size
    val comps = Check.components(ps.map(p => (p._1, p._2)))
    val lab = labels.map(r => r.getAs[Long]("id") -> r.getAs[Long]("lab")).toMap
    if (lab != comps) errs += s"ngramLabels: ${lab.size} labelled nodes differ " +
      s"from the ${comps.size}-node union-find reference"
    val labelDrops = comps.collect { case (id, l) if id != l => id }.toSet
    val kept = canon.map(_.getAs[Long]("n_kept")).sum
    val wantKept = docs.length - (exactDrops ++ labelDrops).size
    if (kept != wantKept) errs += s"dedupCanonical keeps $kept, reference $wantKept"
    verifyPairs("dedupMinHash", minhash.filterNot(_.isNullAt(0))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
    val written = s.read.parquet(out).count()
    if (written != docs.length - labelDrops.size)
      errs += s"survivors: wrote $written rows, reference ${docs.length - labelDrops.size}"
    errs.toSeq
  }

  // plain references for the kernel probes: distinct 3-gram counts and
  // the polynomial code-point fold of every text under each exact-key base
  private lazy val gramCounts = docs.map(d => Check.grams(d.text).size)
  private lazy val polyHashes = docs.map(d => Dedup.ExactKeyBases.map(b =>
    d.text.codePoints().toArray.foldLeft(0L)((h, cp) => (h * b + cp) % PolyHash.Mod)))

  def probes(s: SparkSession, t: Trace): (Map[String, Double], Seq[String]) = {
    val texts = docs.map(d => UTF8String.fromString(d.text))
    val counts = new Array[Int](texts.length)
    t.span("functions.WordNgramHashes")(texts.indices.foreach(i =>
      counts(i) = WordNgramHashes.compute(texts(i), Dedup.NgramN).numElements()))
    val ngram = t.all.last.seconds
    val hashes = Array.ofDim[Long](texts.length, Dedup.ExactKeyBases.size)
    t.span("functions.PolyHash")(texts.indices.foreach(i =>
      Dedup.ExactKeyBases.indices.foreach(j =>
        hashes(i)(j) = PolyHash.hash(texts(i), Dedup.ExactKeyBases(j)))))
    val poly = t.all.last.seconds
    // spread the documents as ngramPairs does, so the probe runs the
    // candidate plan the job runs
    val spread = Tables.spread(Tables(s, corpus.dir, "documents"), corpus.dir, "documents",
      Tables.SpreadMinComputeBytes, col("doc_id"))
    val cands = t.span("operators.Dedup.ngramCandidates")(
      Dedup.ngramCandidates(spread, Dedup.NgramDfCap).count())
    val candS = t.all.last.seconds
    val errs = Seq(
      "WordNgramHashes" -> texts.indices.count(i => counts(i) != gramCounts(i)),
      "PolyHash" -> texts.indices.count(i => hashes(i).toSeq != polyHashes(i))
    ).collect { case (k, bad) if bad > 0 => s"$k differs from the plain reference on $bad texts" }
    (Map("functions.ngram_hash_s" -> ngram, "functions.polyhash_s" -> poly,
      "operators.Dedup.candidates_s" -> candS,
      "operators.Dedup.candidate_pairs" -> cands.toDouble,
      "operators.Dedup.verified_pairs" -> lastPairs.toDouble,
      "operators.Dedup.verify_yield" -> lastPairs.toDouble / math.max(1L, cands)), errs)
  }

  def layerMetrics(t: Trace, root: Span): Map[String, Double] = {
    val write = spanNamed(t, root, "sources.Sinks.writePartitioned").head
    val files = Option(new File(out).listFiles()).toSeq.flatten
      .filter(_.isDirectory).flatMap(_.listFiles()).filter(_.getName.startsWith("part-"))
    Map("operators.Dedup.exact_s" -> seconds(t, root, "operators.Dedup.dedupExact"),
      "operators.Dedup.pairs_build_s" -> seconds(t, root, "operators.Dedup.ngramPairs"),
      "operators.Dedup.labels_s" -> seconds(t, root, "operators.Dedup.ngramLabels"),
      "operators.Dedup.canonical_s" -> seconds(t, root, "operators.Dedup.dedupCanonical"),
      "operators.Dedup.minhash_s" -> seconds(t, root, "operators.Dedup.dedupMinHash"),
      "operators.Dedup.planted_recall" -> lastRecall,
      "sources.parquet_write_s" -> write.seconds,
      "sources.write_mb" -> files.map(_.length).sum / 1048576.0,
      "sources.write_files" -> files.size.toDouble)
  }

  /** Planted near-dup pairs the (lang, n_chars DIV 100) blocking cannot
    * pair, as a share of all planted pairs with Jaccard at least tau. */
  def bucketMissShare: Double = if (nearPlanted.isEmpty) 0.0 else
    nearPlanted.count(p => byId(p.orig).nChars / 100 != byId(p.copy).nChars / 100)
      .toDouble / nearPlanted.size
}

// -------------------------------------------------------------- ann_embed

/** IVF+PQ training, the k-NN graph build, IVF-PQ queries and the
  * brute-force anchor over clustered 64-d embeddings. */
final class AnnEmbed(spark: SparkSession, dir: File, seed: Long) extends Workload {
  // one job is ~65 Spark jobs and about ten seconds on four cores at this
  // size; 128 loose clusters keep the k-NN graph's LSH buckets even
  val N = 2000
  private val data = Gen.vectors(spark, dir, seed, N, dim = 64, clusters = 128, noise = 1.0)
  private val norms = data.vecs.map(v => math.sqrt(Check.dot(v, v)))
  private val queries = (0 until Similarity.NumQueries).toArray
  private val exact = queries.map(q => Check.topK(data.vecs, norms, q, Similarity.TopK))
  def rows: Long = N

  def load(s: SparkSession): Long = Tables(s, data.dir, "embeddings").count()

  private var lastRecall = 0.0
  private var lastEdges = 0L

  def job(s: SparkSession, t: Trace): () => Seq[String] = {
    val d = data.dir
    t.span("operators.Similarity.trainAnn")(Similarity.trainAnn(s, d))
    val edges = t.span("operators.Similarity.knnEdges")(Similarity.knnEdges(s, d).collect())
    val ivfpq = t.span("operators.Similarity.annIvfPq")(Similarity.annIvfPq(s, d).collect())
    val bf = t.span("operators.Similarity.annBruteForce")(
      Similarity.annBruteForce(s, d).collect())
    () => check(edges, ivfpq, bf)
  }

  private def cos(q: Long, n: Long): Double =
    Check.round4(Check.dot(data.vecs(q.toInt), data.vecs(n.toInt)) /
      (norms(q.toInt) * norms(n.toInt)))

  private def byQuery(rows: Array[Row]): Map[Long, Seq[(Long, Double)]] =
    rows.toSeq.groupBy(_.getAs[Long]("q_id")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Int]("rk"))
        .map(r => (r.getAs[Long]("n_id"), r.getAs[Double]("cosine")))
    }

  private def check(edges: Array[Row], ivfpq: Array[Row], bf: Array[Row]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val got = byQuery(bf)
    queries.foreach { q =>
      if (got.getOrElse(q.toLong, Nil) != exact(q))
        errs += s"annBruteForce query $q differs from the exact top-${Similarity.TopK}"
    }
    val approx = byQuery(ivfpq)
    var hits = 0
    queries.foreach { q =>
      val res = approx.getOrElse(q.toLong, Nil)
      if (res.size != Similarity.TopK) errs += s"annIvfPq query $q returned ${res.size} rows"
      res.foreach { case (n, c) =>
        if (n == q || c != cos(q, n)) errs += s"annIvfPq ($q, $n) cosine $c, exact ${cos(q, n)}"
      }
      hits += res.map(_._1).toSet.intersect(exact(q).map(_._1).toSet).size
    }
    lastRecall = hits.toDouble / (queries.length * Similarity.TopK)
    lastEdges = edges.length.toLong
    val perNode = edges.groupBy(_.getAs[Long]("q_id"))
    if (perNode.exists(_._2.length > Similarity.KnnK))
      errs += s"knnEdges: a node has more than ${Similarity.KnnK} neighbours"
    edges.foreach { r =>
      val (q, n, c) = (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"), r.getAs[Double]("cosine"))
      if (q == n || math.abs(c - cos(q, n)) > 1.0001e-4)
        errs += s"knnEdges ($q, $n) cosine $c, exact ${cos(q, n)}"
    }
    errs.toSeq
  }

  /** The dot-product probe scores this many vectors against the corpus. */
  val ProbeQueries = 100

  def probes(s: SparkSession, t: Trace): (Map[String, Double], Seq[String]) = {
    val arrays = data.vecs.map(v =>
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(v.map(_.toDouble)))
    val out = new Array[Double](ProbeQueries * arrays.length)
    t.span("functions.DotProduct")((0 until ProbeQueries).foreach { q =>
      var i = 0
      while (i < arrays.length) {
        out(q * arrays.length + i) = DotProduct.dotOrNull(arrays(q), arrays(i))
        i += 1
      }
    })
    val sec = t.all.last.seconds
    val bad = (0 until ProbeQueries).count(q => arrays.indices.exists(i =>
      out(q * arrays.length + i) != Check.dot(data.vecs(q), data.vecs(i))))
    (Map("functions.dot_s" -> sec),
      if (bad > 0) Seq(s"DotProduct differs from the plain fold on $bad queries") else Nil)
  }

  def layerMetrics(t: Trace, root: Span): Map[String, Double] =
    Map("operators.Similarity.train_s" -> seconds(t, root, "operators.Similarity.trainAnn"),
      "operators.Similarity.knn_build_s" -> seconds(t, root, "operators.Similarity.knnEdges"),
      "operators.Similarity.knn_edges" -> lastEdges.toDouble,
      "operators.Similarity.query_s" -> seconds(t, root, "operators.Similarity.annIvfPq"),
      "operators.Similarity.bruteforce_s" ->
        seconds(t, root, "operators.Similarity.annBruteForce"),
      "operators.Similarity.recall_at_10" -> lastRecall)
}
