package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY.md §2.D — similarity search over the `embeddings` table
  * (`Array[Float]` column): exact brute-force top-k cosine as the
  * oracle-checked baseline, and two sub-quadratic scale paths (IVF coarse
  * quantization, random-hyperplane LSH), both deterministic and
  * recall-tested against the brute force in ScalaTest.
  *
  * Scale shapes:
  *   - brute force: the query set is tiny and broadcast; the corpus scan
  *     is embarrassingly parallel; per-partition candidate scoring feeds
  *     one k-row-per-query window. Exactness baseline, O(N·Q).
  *   - IVF: corpus partitioned once into nlist inverted lists by nearest
  *     coarse centroid (a narrow scan + integer key); queries probe only
  *     nprobe/nlist of the data — the scan cost drops proportionally, and
  *     the list assignment is a plain partition key a 1000-executor
  *     cluster co-locates by.
  *   - LSH: per-row signature (L tables × nplanes sign bits, all codegen
  *     arithmetic), candidates = bucket equi-join — no pairwise scan.
  *
  * Cosine math is sequential left-to-right double folds, identical to the
  * DuckDB oracle (SURVEY.md §5).
  */
object Similarity {
  val NumQueries = 10 // query set = vec_id < 10

  // Trained ANN artifacts (IVF coarse centroids, PQ codebooks + encoded
  // codes, the k-NN graph) are PURE DETERMINISTIC functions of the data
  // dir, and a production ANN index trains ONCE and serves many queries
  // — so the engine memoizes them per (session, dir) instead of
  // retraining on every query call (which re-ran the 3+2 sequential
  // training jobs per bench sweep). Driver footprint is KB-scale
  // (NList×dim / M×K×subdim doubles) plus, for PQ and the graph, one
  // checkpointed frame each. [[graft.SessionCache]] lifecycle: LRU
  // eviction drops the entry and leaves any checkpoint blocks to the
  // ContextCleaner (a still-held frame stays executable);
  // [[clearTrainCache]] releases them.
  private val ivfCache = new graft.SessionCache[Array[(Int, Seq[Double], Double)]]()
  private val pqCache =
    new graft.SessionCache[PqModel](onClear = pm => Dedup.releaseCheckpoint(pm.codes))
  private val knnCache =
    new graft.SessionCache[DataFrame](onClear = Dedup.releaseCheckpoint)

  /** Test hook: drop all memoized training artifacts. */
  def clearTrainCache(): Unit = {
    ivfCache.clear()
    pqCache.clear()
    knnCache.clear()
  }

  /** Persist the trained ANN index to `path` as three parquet tables —
    * the cross-JOB reuse surface (an index over 100 TB is hours of
    * training; the artifacts are KB–MB of centroids/codebook plus the
    * ~50×-compressed codes, and every consumer should read them, not
    * retrain): `ivf` (coarse quantizer: cid, vector, norm),
    * `pq_codebook` (block, code, sub-vector; `dim` denormalized onto
    * every row), `pq_codes` (vec_id, codes, reconstructed norm). */
  def saveAnnIndex(s: SparkSession, dir: String, path: String): Unit = {
    import s.implicits._
    ivfCentroids(s, dir).toSeq.toDF("cid", "v", "nrm")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/ivf")
    val pm = pqModel(s, dir)
    (for { b <- pm.cb.indices; k <- pm.cb(b).indices }
      yield (b, k, pm.cb(b)(k), pm.dim)).toDF("block", "code", "v", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pq_codebook")
    pm.codes.write.mode("overwrite").parquet(s"$path/pq_codes")
  }

  /** Load a [[saveAnnIndex]] index and SEED the train-once cache for
    * `(session, dir)`: every ANN query then consumes the loaded
    * artifacts — no training pass runs (AnnIndexSpec proves result
    * equality with fresh training, and that a post-load query runs
    * zero training jobs). */
  def loadAnnIndex(s: SparkSession, dir: String, path: String): Unit = {
    import s.implicits._
    val ivf = s.read.parquet(s"$path/ivf")
      .select($"cid", $"v", $"nrm").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    ivfCache.put(s, dir, ivf)
    val cbRows = s.read.parquet(s"$path/pq_codebook")
      .select($"block", $"code", $"v", $"dim").collect()
    val dim = cbRows.head.getInt(3)
    val cb = Array.tabulate(PqBlocks)(b =>
      cbRows.filter(_.getInt(0) == b).sortBy(_.getInt(1))
        .map(_.getSeq[Double](2)))
    // localCheckpoint: downstream plans read materialized code rows,
    // matching the freshly-trained frame's plan shape
    val codes = s.read.parquet(s"$path/pq_codes").localCheckpoint()
    pqCache.put(s, dir, PqModel(cb, codes, dim))
  }

  /** Force both memoized ANN artifacts (train-once accounting; see
    * [[ivfCache]], [[pqCache]]) — perfbench times it as its own span. */
  def trainAnn(s: SparkSession, dir: String): Unit = {
    ivfCentroids(s, dir)
    pqModel(s, dir)
    ()
  }
  val TopK = 10

  /** Embeddings with double vectors and precomputed norms. The cast to
    * `array<double>` is materialized as its own projection so the norm
    * and every downstream dot read the converted array instead of
    * re-running the element cast. */
  private[operators] def embedded(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "embeddings")
      .select($"vec_id", $"label",
        transform($"embedding", x => x.cast("double")).as("v"))
      .withColumn("nrm", graft.functions.DotProduct.norm($"v"))
  }

  /** Codegen'd sequential dot — same fold order as the DuckDB oracle. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct(a, b)

  /** Rank candidate rows (q_id, vec_id, cos) to top-k per query. */
  private def topk(cands: DataFrame): DataFrame = {
    import cands.sparkSession.implicits._
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")
    cands.withColumn("rk", row_number().over(w))
      .filter($"rk" <= TopK)
      .select($"q_id", $"vec_id".as("n_id"), $"rk", round($"cos", 4).as("cosine"))
      .orderBy($"q_id", $"rk")
  }

  // ----------------------------------------------------------- bruteforce

  /** Exact top-k cosine neighbors for the query set. */
  def annBruteForce(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embedded(s, dir)
    val q = e.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    val cands = e.join(broadcast(q), $"vec_id" =!= $"q_id")
      .withColumn("cos", dot($"qv", $"v") / ($"qn" * $"nrm"))
    topk(cands)
  }

  val annBruteForceSql: String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(v, x -> x*x)), (a, x) -> a + x)) AS nrm
       |  FROM e),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])),
       |      (acc, x) -> acc + x) / (q.nrm * c.nrm) AS cos
       |  FROM n q JOIN n c ON c.vec_id != q.vec_id
       |  WHERE q.vec_id < $NumQueries),
       |ranked AS (
       |  SELECT q_id, n_id, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, n_id) AS INT) AS rk
       |  FROM scored)
       |SELECT q_id, n_id, rk, round(cos, 4) AS cosine
       |FROM ranked WHERE rk <= $TopK
       |ORDER BY q_id, rk""".stripMargin

  /** Hard-negative mining — the contrastive-training data op (a
    * retrieval/embedding model trains on `(query, positive, HARD
    * negative)` triples, and the hard negatives are exactly the
    * highest-cosine vectors that are NOT the query's class): per query
    * vector, the top-k most similar vectors with a DIFFERENT label.
    * Same broadcast-query/one-scan/window shape as [[annBruteForce]] —
    * the label predicate rides inside the codegen'd scan, so mining
    * negatives costs the same one corpus pass as mining neighbors; at
    * 100 TB the scan parallelizes per-partition with zero vector
    * shuffle (ids+cos into the final k-row-per-query TakeOrdered). */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embedded(s, dir)
    val q = e.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"label".as("q_label"),
        $"v".as("qv"), $"nrm".as("qn"))
    val cands = e.join(broadcast(q), $"label" =!= $"q_label")
      .withColumn("cos", dot($"qv", $"v") / ($"qn" * $"nrm"))
    topk(cands)
  }

  val hardNegativesSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, label, v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(v, x -> x*x)), (a, x) -> a + x)) AS nrm
       |  FROM e),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])),
       |      (acc, x) -> acc + x) / (q.nrm * c.nrm) AS cos
       |  FROM n q JOIN n c ON c.label != q.label
       |  WHERE q.vec_id < $NumQueries),
       |ranked AS (
       |  SELECT q_id, n_id, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, n_id) AS INT) AS rk
       |  FROM scored)
       |SELECT q_id, n_id, rk, round(cos, 4) AS cosine
       |FROM ranked WHERE rk <= $TopK
       |ORDER BY q_id, rk""".stripMargin

  // ------------------------------------------------------------------ IVF

  val NList = 16
  val NProbe = 11
  val QuantizerIters = 3

  /** Coarse-quantizer centroids: evenly spaced vectors in vec_id order
    * (deterministic; the reference seeds its init in the same spirit,
    * master.py:27-34), refined by [[QuantizerIters]] spherical-k-means
    * Lloyd iterations — the same broadcast-assign / K-row-aggregate loop
    * as [[graft.kmeans.KMeans]], in n dimensions. Each iteration moves
    * only NList×dim doubles to the driver. Returns (list_id, vector,
    * norm). */
  private def coarseCentroids(e: DataFrame): Array[(Int, Seq[Double], Double)] = {
    import e.sparkSession.implicits._
    val n = e.count()
    val dim = e.select(size($"v")).head().getInt(0)
    val ids = (0 until NList).map(i => i * n / NList)
    var cs = e.filter($"vec_id".isin(ids: _*)).orderBy($"vec_id")
      .select($"v", $"nrm").collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0), r.getDouble(1)) }
    for (_ <- 1 to QuantizerIters) {
      val meanAggs = (0 until dim).map(i => avg($"v"(i)).as(s"m$i"))
      val means = e.withColumn("ds", centroidCosines(cs))
        .withColumn("list_id", expr("array_position(ds, array_max(ds)) - 1"))
        .groupBy($"list_id").agg(meanAggs.head, meanAggs.tail: _*)
        .collect()
        .map { r =>
          val v = (0 until dim).map(i => r.getDouble(i + 1))
          r.getLong(0).toInt -> v
        }.toMap
      cs = cs.map { case (i, old, oldNrm) =>
        means.get(i) match {
          case Some(v) => (i, v, math.sqrt(v.map(x => x * x).sum))
          case None    => (i, old, oldNrm) // empty list keeps its centroid
        }
      }
    }
    cs
  }

  /** Cosine of the row vector against each centroid, as an array column. */
  private def centroidCosines(cents: Array[(Int, Seq[Double], Double)]): Column =
    array(cents.map { case (_, cv, cn) =>
      dot(col("v"), typedlit(cv)) / (col("nrm") * lit(cn))
    }: _*)

  /** IVF ANN: assign corpus to nearest coarse centroid (inverted lists),
    * probe the NProbe nearest lists per query. Approximate → rows-only;
    * recall vs brute force asserted in SimilaritySpec. */
  def annIvf(s: SparkSession, dir: String): DataFrame =
    annIvfProbing(s, dir, NProbe)

  /** The IVF EXACTNESS ANCHOR: at nprobe = nlist every query probes
    * every inverted list, so the candidate set is the whole corpus and
    * the operator IS brute force — which makes this configuration
    * DuckDB-oracle-checkable against [[annBruteForceSql]] with zero new
    * SQL. The approximate default ([[annIvf]]) stays rows-only with its
    * recall spec; this entry pins the machinery (assignment, probe
    * ranking, scoring, top-k) to the exact result it must degrade to. */
  def annIvfExact(s: SparkSession, dir: String): DataFrame =
    annIvfProbing(s, dir, NList)

  /** The memoized IVF coarse quantizer for a data dir — train-once
    * surface (forced by [[trainAnn]]). */
  private[operators] def ivfCentroids(s: SparkSession, dir: String)
      : Array[(Int, Seq[Double], Double)] =
    ivfCache.getOrCompute(s, dir) {
      // Persist only for the quantizer refinement (QuantizerIters+2
      // passes), then release: downstream plans build on a fresh scan
      // so repeated calls don't accumulate cache entries.
      val cached = embedded(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try coarseCentroids(cached)
      finally cached.unpersist(blocking = false)
    }

  private def annIvfProbing(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    import s.implicits._
    val cents = ivfCentroids(s, dir)
    val e = embedded(s, dir)
    val lists = e.withColumn("ds", centroidCosines(cents))
      .withColumn("list_id", expr("array_position(ds, array_max(ds)) - 1"))
      .select($"vec_id", $"v", $"nrm", $"list_id")
    val probes = e.filter($"vec_id" < NumQueries)
      .withColumn("ds", centroidCosines(cents))
      .withColumn("probe", expr(
        s"slice(transform(array_sort(zip_with(ds, sequence(0, ${NList - 1}), " +
          s"(d, i) -> struct(-d AS nd, i AS i))), x -> x.i), 1, $nprobe)"))
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"),
        explode($"probe").as("list_id"))
    val cands = lists.join(broadcast(probes),
        lists("list_id") === probes("list_id") && $"vec_id" =!= $"q_id")
      .withColumn("cos", dot($"qv", $"v") / ($"qn" * $"nrm"))
    topk(cands)
  }

  // ------------------------------------------------------------------ LSH

  val Tables_ = 8  // L hash tables
  val NPlanes = 3  // bits per table → 8 buckets/table

  /** Deterministic pseudo-random hyperplane component in [-1, 1) from a
    * 64-bit mix of (table, plane, dim) — no RNG state, reproducible
    * everywhere. */
  private def planeComponent(t: Int, p: Int, d: Int): Double = {
    var x = t.toLong * 0x9E3779B97F4A7C15L + p.toLong * 0xC2B2AE3D27D4EB4FL +
      d.toLong * 0x165667B19E3779F9L + 0x27D4EB2F165667C5L
    x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
    x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
    x ^= x >>> 33
    (x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
  }

  private def plane(t: Int, p: Int, dim: Int): Seq[Double] =
    (0 until dim).map(planeComponent(t, p, _))

  /** Per-table bucket id: sign bits of the vector against `nplanes`
    * hyperplanes. Zero planes folds to the constant bucket 0 — every
    * vector collides, which is what makes the exactness anchors
    * ([[annLshExact]], [[Dedup.dedupEmbeddingLshExact]]) degrade to
    * exhaustive search through the unchanged bucket-join machinery. */
  private[operators] def bucketCol(t: Int, dim: Int, nplanes: Int = NPlanes): Column =
    (0 until nplanes).map { p =>
      when(dot(col("v"), typedlit(plane(t, p, dim))) > 0, lit(1 << p))
        .otherwise(lit(0))
    }.foldLeft(lit(0))(_ + _)

  /** Explode `df` into one row per (LSH table, bucket) membership —
    * shared by [[annLsh]] and [[Dedup.dedupEmbeddingLsh]]. */
  private[operators] def withBuckets(df: DataFrame, dim: Int,
      tables: Int = Tables_, nplanes: Int = NPlanes): DataFrame = {
    val tableCols = (0 until tables).map(t =>
      struct(lit(t).as("t"), bucketCol(t, dim, nplanes).as("bucket")))
    df.withColumn("tb", explode(array(tableCols: _*)))
      .select(df.columns.map(col) :+
        col("tb.t").as("t") :+ col("tb.bucket").as("bucket"): _*)
  }

  /** LSH ANN: candidates share a bucket in any of the L tables; exact
    * cosine rank within candidates. rows-only; recall asserted in
    * SimilaritySpec.
    *
    * The candidate pipeline is ID-ONLY until after the distinct: the
    * bucket join emits (q_id, vec_id) pairs and the dedup exchange moves
    * 16-byte rows — a candidate that hits in several of the L tables
    * would otherwise drag two full vectors through the shuffle per hit.
    * Vectors re-attach afterwards: corpus vectors by a vec_id equi-join
    * (candidate set ≪ corpus, AQE broadcasts the small side at runtime),
    * query vectors by explicit broadcast (NumQueries rows). */
  def annLsh(s: SparkSession, dir: String): DataFrame =
    annLshWith(s, dir, Tables_, NPlanes)

  /** The LSH EXACTNESS ANCHOR (the [[annIvfExact]]/[[annPqExact]]
    * pattern applied to LSH, round-4 verdict item 4): one table with
    * ZERO planes puts every vector in bucket 0, so the bucket join
    * emits every (query, vector) pair, the candidate set is the whole
    * corpus, and the operator must reproduce brute force — DuckDB-
    * oracle-checked against [[annBruteForceSql]] with zero new SQL
    * while exercising the full signature/bucket-join/distinct/re-attach
    * machinery. The production configuration ([[annLsh]]) stays
    * rows-only with its recall spec. */
  def annLshExact(s: SparkSession, dir: String): DataFrame =
    annLshWith(s, dir, tables = 1, nplanes = 0)

  private def annLshWith(s: SparkSession, dir: String,
      tables: Int, nplanes: Int): DataFrame = {
    import s.implicits._
    val e = embedded(s, dir)
    val dim = e.select(size($"v")).head().getInt(0)
    val corpusBuckets = withBuckets(e, dim, tables, nplanes)
      .select($"vec_id", $"t", $"bucket")
    val qBuckets = withBuckets(e.filter($"vec_id" < NumQueries), dim, tables, nplanes)
      .select($"vec_id".as("q_id"), $"t", $"bucket")
    val candIds = corpusBuckets.join(broadcast(qBuckets), Seq("t", "bucket"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id").distinct()
    val qVecs = e.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    val cands = candIds
      .join(e.select($"vec_id", $"v", $"nrm"), Seq("vec_id"))
      .join(broadcast(qVecs), Seq("q_id"))
      .withColumn("cos", dot($"qv", $"v") / ($"qn" * $"nrm"))
    topk(cands)
  }

  // ------------------------------------------------------------ kNN graph

  val KnnK = 5            // neighbors per node
  val KnnNodes = 200      // exactness-anchor node sample: vec_id < 200

  /** Bytes-per-task target for the graph build's shuffle width (§2.2:
    * size partitions from measured volume). The build's dominant
    * exchanges carry the CANDIDATE PAIR STREAM (n·L·bucket ~48-byte
    * rows), not the input vectors; at the session-default width
    * (32 = local cores) a 200k-vector sf10 build put ~150 MB of agg
    * hash-map state in every task and spilled 750 MB+ to disk — AQE
    * can merge post-shuffle partitions but never split them, so the
    * INITIAL width must come from the estimate. */
  val KnnShufflePartitionBytes: Long = 32L * 1024 * 1024
  val KnnTables = Tables_ // L hash tables, same family as annLsh
  val KnnTargetBucket = 64 // planes sized so an average bucket ≈ this

  /** Hyperplane count sized to the corpus: enough sign bits that the
    * expected bucket holds ≈ [[KnnTargetBucket]] vectors. A FIXED plane
    * count cannot scale a full-graph build — bucket population grows
    * linearly with the corpus and the within-bucket join quadratically —
    * so the signature width is a deterministic function of the corpus
    * count (exactly how IVF sizes nlist to the data), clamped to [1, 16]
    * (≤ 65k buckets per table). Candidate volume is then
    * O(N · bucket · L) at every scale. */
  private[operators] def knnPlanes(n: Long): Int =
    math.min(16, math.max(1,
      math.ceil(math.log(n.toDouble / KnnTargetBucket) / math.log(2.0)).toInt))

  /** k-NN GRAPH build — every vector's top-[[KnnK]] cosine neighbors
    * (the primitive under SemDeDup-style pruning, graph-based dedup,
    * and label propagation; Abbas et al. 2023). Unlike the `ann_*`
    * family (tiny broadcast query set), EVERY node is a query, so the
    * only scalable shape is bucketed self-join:
    *
    *   1. per-row LSH signatures ([[withBuckets]], [[knnPlanes]]-sized);
    *   2. bucket equi-join with the VECTORS RIDING THE JOIN — both
    *      sides carry (v, nrm), the cosine is computed inside the
    *      bucket partition, and only (q_id, n_id, cos) leaves: the
    *      shuffle is O(N·L) vector rows in, 24-byte edge rows out
    *      (re-attaching vectors to candidate PAIRS instead would
    *      shuffle O(N·bucket·L) full vectors);
    *   3. multi-table dedup by `groupBy(q_id, n_id).max(cos)` (the
    *      cosine is identical per duplicate — max is just the
    *      associative pick), map-side partials;
    *   4. per-node top-k: row_number over q_id — N distinct partition
    *      keys, WindowGroupLimit heaps before the exchange.
    *
    * rows-only; SimilaritySpec gates recall ≥ 0.8 on the anchor node
    * sample vs [[knnGraphExact]] and degree/rank invariants. */
  def knnGraph(s: SparkSession, dir: String): DataFrame =
    knnEdges(s, dir)

  /** The BUILT graph, memoized per (session, dir) — a production
    * pipeline materializes the k-NN graph once and serves every
    * consumer from it (here: the `knn_graph` read itself and the
    * label spread, which otherwise re-ran the whole bucket join —
    * measured 77 of its 77.3 s at sf10 was exactly that rebuild).
    * `localCheckpoint` (eager) truncates the plan to the edge ROWS
    * (N·K skinny rows), built once per (session, dir),
    * [[graft.SessionCache]] lifecycle. */
  def knnEdges(s: SparkSession, dir: String): DataFrame =
    knnCache.getOrCompute(s, dir) {
      // r15 (§2.2/§5): derive the build's shuffle width from the
      // estimated pair-stream volume and let AQE's byte-based
      // coalescing trim it back — the session default (local core
      // count) left ~150 MB of pair-agg state per task at sf10 and
      // spilled 750 MB+; AQE cannot split an under-partitioned
      // exchange after the fact. The width is restored afterwards so
      // only this build's materialization sees it; at sf0.1/sf1 the
      // estimate floors at the session parallelism and the plan is
      // byte-identical to r14.
      val n = embedded(s, dir).count()
      val pairBytes = n * KnnTables.toLong * KnnTargetBucket * 48L
      val np = math.max(s.sparkContext.defaultParallelism,
        math.min(4096L, pairBytes / KnnShufflePartitionBytes).toInt)
      val pinned = if (np > s.sparkContext.defaultParallelism) Some(np) else None
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      try {
        s.conf.set("spark.sql.shuffle.partitions", np.toString)
        knnGraphFresh(s, dir, pinned).localCheckpoint()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    }

  /** The un-checkpointed build plan — PlanShapeSpec asserts the bucket
    * join / edge-exchange / WindowGroupLimit shape on THIS (the memoized
    * [[knnEdges]] frame's plan is just the checkpoint scan). */
  private[graft] def knnGraphFresh(s: SparkSession, dir: String,
      pinnedWidth: Option[Int] = None): DataFrame = {
    import s.implicits._
    // r14: spread the bucket-signature scan (see Tables.spread) — the
    // per-row multi-table bucket projection is the map-side cost here
    val e = graft.Tables.spread(embedded(s, dir), dir, "embeddings",
      Tables.SpreadMinComputeBytes, $"vec_id")
    val n = e.count()
    knnGraphWith(e, KnnTables, knnPlanes(n), None, pinnedWidth)
  }

  /** The kNN-graph EXACTNESS ANCHOR ([[annLshExact]] discipline): zero
    * planes collapse every vector into one bucket per table, so with the
    * node side restricted to the [[KnnNodes]]-vector sample the bucket
    * join emits exactly the sample × corpus pairs and the graph rows for
    * those nodes are BRUTE-FORCE EXACT — DuckDB-oracle-checked. The node
    * restriction keeps the anchor O(sample · N) (a full exact graph is
    * O(N²) — infeasible by definition at scale, which is the point of
    * the bucketed production path). The node side broadcasts: the
    * corpus never shuffles at all. */
  def knnGraphExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r14: spread — the sample × corpus brute-force pair stream
    // otherwise runs inside the single-row-group scan's one task
    val e = graft.Tables.spread(embedded(s, dir), dir, "embeddings",
      Tables.SpreadMinComputeBytes, $"vec_id")
    knnGraphWith(e, tables = 1, nplanes = 0, nodeMax = Some(KnnNodes))
  }

  private def knnGraphWith(e: DataFrame, tables: Int, nplanes: Int,
      nodeMax: Option[Int], pinnedWidth: Option[Int] = None): DataFrame = {
    import e.sparkSession.implicits._
    val dim = e.select(size($"v")).head().getInt(0)
    val corpus = withBuckets(e, dim, tables, nplanes)
      .select($"vec_id", $"v", $"nrm", $"t", $"bucket")
    val nodeSide = nodeMax match {
      case Some(m) => broadcast(
        withBuckets(e.filter($"vec_id" < m), dim, tables, nplanes)
          .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"),
            $"t", $"bucket"))
      case None => corpus
        .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"),
          $"t", $"bucket")
    }
    // r15: at scale the bucket join's INPUT is byte-light (n·L vector
    // rows) but its OUTPUT is the n·L·bucket pair stream — AQE's
    // byte-based coalescing reads the input and merged the join down
    // to ~14 tasks at sf10, putting ~0.5 GB of pair-agg state in each
    // (the suite's one spill site, 750 MB+). A pinned REPARTITION_BY_NUM
    // at the pair-stream-derived width (see [[knnEdges]]) is exempt
    // from coalescing — the ER verify join's documented discipline.
    // Only pinned when the caller derived a width above the session
    // parallelism, so small scales keep the planner's broadcast pick.
    val joined = (nodeMax, pinnedWidth) match {
      case (None, Some(np)) =>
        corpus.repartition(np, $"t", $"bucket")
          .join(nodeSide.repartition(np, $"t", $"bucket"), Seq("t", "bucket"))
      case _ => corpus.join(nodeSide, Seq("t", "bucket"))
    }
    val edges = joined
      .filter($"vec_id" =!= $"q_id")
      .withColumn("cos", dot($"qv", $"v") / ($"qn" * $"nrm"))
      .groupBy($"q_id", $"vec_id").agg(max($"cos").as("cos"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")
    edges.withColumn("rk", row_number().over(w))
      .filter($"rk" <= KnnK)
      .select($"q_id", $"vec_id".as("n_id"), $"rk", round($"cos", 4).as("cosine"))
      .orderBy($"q_id", $"rk")
  }

  // ------------------------------------------- label spread over the graph

  /** Graph-propagated label/quality transfer — the consumer the kNN
    * graph was built FOR (SemDeDup-style pruning and the
    * expensive-classifier spread: score a slice of the corpus with a
    * costly labeler, propagate to everything else through embedding
    * neighborhoods; Abbas et al. 2023 §4 use exactly this read). Each
    * node takes the cosine-weighted majority label of its top-
    * [[KnnK]] neighbors: votes are INTEGER ten-thousandths of the
    * 4-decimal edge cosine (exact integers — sums are order-free on
    * both engines, the er_pagerank fixpoint discipline), the winning
    * label is max total weight with min-label tie-break, and the row
    * carries the node's own label beside the vote so disagreement —
    * the actual signal: mislabeled docs, boundary clusters — is one
    * `agree = 0` filter away.
    *
    * Scale shape: edges ⨝ labels is an O(N·K) equi-join, the vote is a
    * (q_id, n_label)-keyed partial agg, the winner a row_number over
    * N distinct q_id partitions (WindowGroupLimit heaps before the
    * exchange — the topk_window discipline). Nothing quadratic;
    * isolated nodes (no bucket collision in any table) are absent from
    * the approximate graph and so from this read — rows-only, with
    * [[knnLabelSpreadExact]] the oracle-gated anchor. */
  def knnLabelSpread(s: SparkSession, dir: String): DataFrame =
    labelSpreadOn(embedded(s, dir), knnEdges(s, dir))

  /** The label-spread EXACTNESS ANCHOR: the same vote over
    * [[knnGraphExact]]'s brute-force-exact edges for the
    * [[KnnNodes]]-node sample — every stage downstream of the edge
    * list is shared with [[knnLabelSpread]], so the DuckDB hash gate
    * on this anchor pins the vote arithmetic (integer weights,
    * tie-break, agree flag) end-to-end. */
  def knnLabelSpreadExact(s: SparkSession, dir: String): DataFrame =
    labelSpreadOn(embedded(s, dir), knnGraphExact(s, dir))

  private def labelSpreadOn(e: DataFrame, edges: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val lbl = e.select($"vec_id", $"label")
    val votes = edges
      .join(lbl.select($"vec_id".as("n_id"), $"label".as("n_label")), "n_id")
      // integer ten-thousandths of the already-4-decimal cosine: the
      // true scaled value is an integer, so round() only strips float
      // noise and the vote sum is exact and order-free
      .withColumn("w", round($"cosine" * 10000).cast("long"))
      .groupBy($"q_id", $"n_label")
      .agg(sum($"w").as("vote_w"), count(lit(1)).as("n_votes"))
    val w = Window.partitionBy($"q_id").orderBy($"vote_w".desc, $"n_label")
    votes.withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .join(lbl.select($"vec_id".as("q_id"), $"label"), "q_id")
      .select($"q_id".as("vec_id"), $"label", $"n_label".as("voted_label"),
        $"vote_w", $"n_votes",
        ($"label" === $"n_label").cast("int").as("agree"))
      .orderBy($"vec_id")
  }

  val knnGraphExactSql: String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(v, x -> x*x)), (a, x) -> a + x)) AS nrm
       |  FROM e),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])),
       |      (acc, x) -> acc + x) / (q.nrm * c.nrm) AS cos
       |  FROM n q JOIN n c ON c.vec_id != q.vec_id
       |  WHERE q.vec_id < $KnnNodes),
       |ranked AS (
       |  SELECT q_id, n_id, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, n_id) AS INT) AS rk
       |  FROM scored)
       |SELECT q_id, n_id, rk, round(cos, 4) AS cosine
       |FROM ranked WHERE rk <= $KnnK
       |ORDER BY q_id, rk""".stripMargin

  /** Oracle for [[knnLabelSpreadExact]]: [[knnGraphExactSql]] as the
    * edge CTE, then the identical integer-weight vote — sum(BIGINT) is
    * HUGEINT in DuckDB, cast back (house rule). */
  val knnLabelSpreadExactSql: String =
    s"""WITH base AS (
       |  ${knnGraphExactSql.replace("ORDER BY q_id, rk", "")}),
       |lbl AS (SELECT vec_id, label FROM embeddings),
       |votes AS (
       |  SELECT b.q_id, l.label AS n_label,
       |    CAST(sum(CAST(round(b.cosine * 10000) AS BIGINT)) AS BIGINT)
       |      AS vote_w,
       |    count(*) AS n_votes
       |  FROM base b JOIN lbl l ON l.vec_id = b.n_id
       |  GROUP BY b.q_id, l.label),
       |best AS (
       |  SELECT q_id, n_label, vote_w, n_votes,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY vote_w DESC, n_label) AS rk
       |  FROM votes)
       |SELECT b.q_id AS vec_id, l0.label AS label, b.n_label AS voted_label,
       |  b.vote_w, b.n_votes,
       |  CAST(CASE WHEN l0.label = b.n_label THEN 1 ELSE 0 END AS INTEGER)
       |    AS agree
       |FROM best b JOIN lbl l0 ON l0.vec_id = b.q_id
       |WHERE b.rk = 1
       |ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------------- PQ

  val PqBlocks = 8      // M sub-spaces
  val PqCodes = 16      // codewords per sub-space (4-bit codes)
  val PqIters = 3       // Lloyd refinement rounds per codebook
  val PqRerank = 8 * TopK // exact re-rank depth

  /** Product-quantization ANN (the FAISS-style compressed-domain scan):
    *
    *   1. TRAIN: the vector space is split into [[PqBlocks]] disjoint
    *      coordinate blocks; each block gets a [[PqCodes]]-codeword
    *      codebook (deterministic evenly-spaced init + [[PqIters]]
    *      Lloyd rounds). ALL blocks train in the same pass: one scan
    *      per round, assignments for every block computed in one
    *      projection, then a posexplode → (block, code)-keyed mean
    *      aggregation whose output is M×K rows to the driver — the
    *      same K-row-loop discipline as [[graft.kmeans.KMeans]].
    *   2. ENCODE: map-only projection replacing each 64×8-byte vector
    *      with M 4-bit codes + one reconstructed norm (blocks are
    *      disjoint coordinates, so ‖v̂‖² = Σ_b ‖c_b‖² exactly) — the
    *      ~50× compression that lets a 100-TB vector corpus live in
    *      executor memory.
    *   3. QUERY (ADC): per query, the q·codeword partial dots form an
    *      M×K literal lookup table baked into the plan (queries are
    *      few and collected driver-side like centroids); approximate
    *      cosine = table lookups summed / (‖q‖·‖v̂‖) — a map-only
    *      codegen scan over the CODES, never the vectors.
    *   4. RE-RANK: the top [[PqRerank]] per query re-attach their true
    *      vectors (id equi-join; candidate set ≪ corpus) and re-score
    *      exactly — reported cosines are exact, recall is the only
    *      approximation (measured vs brute force in SimilaritySpec).
    * rows-only. */
  def annPq(s: SparkSession, dir: String): DataFrame =
    annPqReranking(s, dir, PqRerank)

  /** The PQ EXACTNESS ANCHOR: at rerank ≥ corpus size the shortlist is
    * every (query, vector) pair and the exact re-rank scores all of
    * them — the output ranking is brute force regardless of the
    * compressed-domain approximation, so this configuration is
    * oracle-checked against [[annBruteForceSql]] while still
    * exercising the full train/encode/ADC machinery. The production
    * shortlist depth ([[annPq]]) stays rows-only with its recall
    * spec. */
  def annPqExact(s: SparkSession, dir: String): DataFrame =
    annPqReranking(s, dir, Int.MaxValue)

  /** A trained PQ index: per-block codebooks + the checkpointed,
    * ~50×-compressed codes frame. */
  private[graft] final case class PqModel(
      cb: Array[Array[Seq[Double]]], codes: DataFrame, dim: Int)

  /** The memoized PQ training + encode for a data dir — train-once
    * surface (forced by [[trainAnn]]). */
  private[graft] def pqModel(s: SparkSession, dir: String): PqModel =
    pqCache.getOrCompute(s, dir) {
      import s.implicits._
      val cached = embedded(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val dim = cached.select(size($"v")).head().getInt(0)
        require(dim % PqBlocks == 0, s"dim $dim not divisible into $PqBlocks blocks")
        val subdim = dim / PqBlocks

        // ---- train: deterministic init, then fused per-round refinement
        val n = cached.count()
        val initIds = (0 until PqCodes).map(k => k * n / PqCodes)
        var cb: Array[Array[Seq[Double]]] = {
          val rows = cached.filter($"vec_id".isin(initIds: _*)).orderBy($"vec_id")
            .select($"v").collect().map(_.getSeq[Double](0))
          Array.tabulate(PqBlocks)(b =>
            rows.map(v => v.slice(b * subdim, (b + 1) * subdim)).toArray
              .map(_.toSeq))
        }
        // per-block argmin via the native [[graft.functions.PqCode]]
        // expression: ONE codegen call per block with the codeword loop
        // in compiled bytecode — the composed K-distance-expressions form
        // made janino compilation the dominant cost of this query (see
        // PqCode's scaladoc for the measurement)
        def withCodes(df: DataFrame): DataFrame =
          df.withColumn("codes", array((0 until PqBlocks).map(b =>
            graft.functions.PqCode(col("v"), b * subdim, subdim, cb(b))): _*))
        for (_ <- 1 to PqIters) {
          val meanAggs = (0 until subdim).map(i => avg($"sv"(i)).as(s"m$i"))
          val means = withCodes(cached)
            .select($"v", posexplode($"codes").as(Seq("block", "code")))
            .withColumn("sv", slice($"v", $"block" * subdim + 1, lit(subdim)))
            .groupBy($"block", $"code")
            .agg(meanAggs.head, meanAggs.tail: _*)
            .collect()
            .map(r => (r.getInt(0), r.getInt(1),
              (0 until subdim).map(i => r.getDouble(i + 2))))
          val next = cb.map(_.clone())
          means.foreach { case (b, k, v) => next(b)(k) = v }
          cb = next
        }

        // ---- encode: codes + exact reconstructed norm (disjoint
        // blocks) — the shared frozen-codebook path ([[encodeWith]]).
        // localCheckpoint (eager): the codes frame materializes HERE,
        // while `cached` is still persisted — every downstream plan
        // (approx scan, shortlist, re-rank) then reads the materialized
        // codes instead of re-encoding from a re-scanned corpus
        val codes = encodeWith(cb, subdim, cached).localCheckpoint()
        PqModel(cb, codes, dim)
      } finally cached.unpersist(blocking = false)
    }

  /** ENCODE `e` (vec_id, v) against FROZEN per-block codebooks: M 4-bit
    * codes + the exact reconstructed norm per vector — shared by the
    * initial build ([[pqModel]]) and the incremental append
    * ([[appendAnnIndex]]), so the two paths cannot diverge: appending
    * vectors one batch at a time produces byte-identical code rows to
    * encoding them all in the initial pass. */
  private def encodeWith(cb: Array[Array[Seq[Double]]], subdim: Int,
      e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val withC = e.withColumn("codes", array((0 until PqBlocks).map(b =>
      graft.functions.PqCode(col("v"), b * subdim, subdim, cb(b))): _*))
    val normSqTables = cb.map(_.map(c => c.map(x => x * x).sum))
    val reconNorm = sqrt((0 until PqBlocks).map(b =>
      element_at(typedlit(normSqTables(b).toSeq), col("codes")(b) + 1))
      .reduce(_ + _))
    withC.select($"vec_id", $"codes").withColumn("vn", reconNorm)
  }

  /** INCREMENTAL APPEND — the ANN production steady-state (the
    * `dedup_incremental` pattern applied to the vector index): NEW
    * vectors are encoded against the FROZEN quantizer artifacts of a
    * [[saveAnnIndex]] index and only their code rows append to the
    * persisted codes table. No training pass runs — at 100 TB the
    * append costs one map-only encode scan over the BATCH (codebook
    * read is KB-scale), never a corpus pass, and the frozen IVF
    * centroids need no maintenance at all (list membership is computed
    * from the centroids at query time, so appended vectors probe
    * correctly with zero index surgery). Caller contract: `extra`
    * carries vec_ids not already in the index (same contract as the
    * batch side of `dedup_incremental`); a re-appended id would shadow
    * nothing but duplicate candidates. AnnIndexSpec proves append ≡
    * whole-corpus encode (byte-identical codes through [[encodeWith]])
    * and that the appended index's recall on the grown corpus matches
    * a fresh rebuild's. */
  def appendAnnIndex(s: SparkSession, path: String, extra: DataFrame): Unit = {
    import s.implicits._
    val cbRows = s.read.parquet(s"$path/pq_codebook")
      .select($"block", $"code", $"v", $"dim").collect()
    val dim = cbRows.head.getInt(3)
    val cb = Array.tabulate(PqBlocks)(b =>
      cbRows.filter(_.getInt(0) == b).sortBy(_.getInt(1))
        .map(_.getSeq[Double](2)))
    val e = extra.select($"vec_id",
      transform($"embedding", x => x.cast("double")).as("v"))
    encodeWith(cb, dim / PqBlocks, e)
      .write.mode("append").parquet(s"$path/pq_codes")
  }

  private def annPqReranking(s: SparkSession, dir: String, rerank: Int): DataFrame = {
    import s.implicits._
    val model = pqModel(s, dir)
    val (cb, codes) = (model.cb, model.codes)
    val subdim = model.dim / PqBlocks
    locally {
      // ---- query: per-query ADC lookup tables as plan literals
      val qs = embedded(s, dir).filter($"vec_id" < NumQueries)
        .orderBy($"vec_id").select($"vec_id", $"v", $"nrm").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      val scored = qs.map { case (qId, qv, qn) =>
        val tables = Array.tabulate(PqBlocks) { b =>
          cb(b).map(c => c.zip(qv.slice(b * subdim, (b + 1) * subdim))
            .map { case (x, y) => x * y }.sum).toSeq
        }
        val approxDot = (0 until PqBlocks).map(b =>
          element_at(typedlit(tables(b)), col("codes")(b) + 1)).reduce(_ + _)
        struct(lit(qId).as("q_id"), (approxDot / (lit(qn) * col("vn"))).as("approx"))
      }
      val approx = codes
        .select($"vec_id", explode(array(scored: _*)).as("qa"))
        .select($"vec_id", $"qa.q_id".as("q_id"), $"qa.approx".as("approx"))
        .filter($"vec_id" =!= $"q_id")
      val w = Window.partitionBy($"q_id").orderBy($"approx".desc, $"vec_id")
      val candIds = approx.withColumn("rk", row_number().over(w))
        .filter($"rk" <= rerank)
        .select($"q_id", $"vec_id")

      // ---- exact re-rank of the shortlist: at production depths the
      // shortlist is queries×rerank bare ids — BROADCAST it so the
      // re-rank probes the corpus scan shuffle-free and full vectors
      // never enter an exchange; the anchor's corpus-sized shortlist
      // keeps the shuffled join
      val shortlist =
        if (rerank == Int.MaxValue) candIds else broadcast(candIds)
      val qVecs = embedded(s, dir).filter($"vec_id" < NumQueries)
        .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
      val cands = shortlist
        .join(embedded(s, dir).select($"vec_id", $"v", $"nrm"), Seq("vec_id"))
        .join(broadcast(qVecs), Seq("q_id"))
        .withColumn("cos", dot($"qv", $"v") / ($"qn" * $"nrm"))
      topk(cands)
    }
  }

  // ------------------------------------------------------------- IVF+PQ

  /** IVF+PQ composite — the production layout for ANN over a corpus
    * that cannot be brute-force scanned per query (the IVFADC scheme
    * of Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011): the IVF coarse index bounds the scan to
    * `nprobe` inverted lists, PQ codes score the survivors in the
    * compressed domain (per-query ADC lookup tables), and an exact
    * re-rank of the shortlist restores true cosines. Both trained
    * artifacts are the MEMOIZED ones the standalone operators use
    * ([[ivfCentroids]], [[pqModel]]) — one index, trained once, serves
    * every probe shape.
    *
    * Scale shape: the fact side is the ~50×-compressed codes frame
    * joined to a slim `(vec_id, list_id)` routing projection — full
    * vectors are read only by the routing scan and the pushed-filter
    * shortlist re-rank. Per-query ADC tables (M×K doubles) and probe
    * sets are plan LITERALS, so candidate scoring is one codegen'd
    * pass over the codes with no vector shuffle anywhere. */
  def annIvfPq(s: SparkSession, dir: String): DataFrame =
    annIvfPqWith(s, dir, NProbe, PqRerank)

  /** The composite EXACTNESS ANCHOR: nprobe = nlist makes routing a
    * no-op (every list probed) and rerank ≥ corpus makes the ADC
    * shortlist the whole corpus, so the output is brute force by
    * construction — oracle-checked against [[annBruteForceSql]] while
    * still exercising routing, the codes join, ADC scoring, and the
    * re-rank. The production shape ([[annIvfPq]]) stays rows-only with
    * its recall spec, like the other approximate defaults. */
  def annIvfPqExact(s: SparkSession, dir: String): DataFrame =
    annIvfPqWith(s, dir, NList, Int.MaxValue)

  private def annIvfPqWith(s: SparkSession, dir: String,
      nprobe: Int, rerank: Int): DataFrame = {
    import s.implicits._
    val cents = ivfCentroids(s, dir)
    val model = pqModel(s, dir)
    val (cb, subdim) = (model.cb, model.dim / PqBlocks)
    // slim routing projection: ids only, vectors stay in the scan
    val lists = embedded(s, dir)
      .withColumn("ds", centroidCosines(cents))
      .withColumn("list_id",
        expr("CAST(array_position(ds, array_max(ds)) - 1 AS INT)"))
      .select($"vec_id", $"list_id")
    val coded = model.codes.join(lists, Seq("vec_id"))
    // query side: probe sets + ADC tables, driver-computed literals
    // (queries and centroids are already K-row driver state). The
    // probe ranking mirrors [[annIvfProbing]]'s (cos DESC, list_id)
    // sort, with the same left-to-right dot fold → identical doubles.
    val qs = embedded(s, dir).filter($"vec_id" < NumQueries)
      .orderBy($"vec_id").select($"vec_id", $"v", $"nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    val scored = qs.map { case (qId, qv, qn) =>
      val probe = cents.map { case (lid, cv, cn) =>
        (-cv.zip(qv).map { case (x, y) => x * y }.sum / (qn * cn), lid)
      }.sorted.take(nprobe).map(_._2).toSeq
      val tables = Array.tabulate(PqBlocks) { b =>
        cb(b).map(c => c.zip(qv.slice(b * subdim, (b + 1) * subdim))
          .map { case (x, y) => x * y }.sum).toSeq
      }
      val approxDot = (0 until PqBlocks).map(b =>
        element_at(typedlit(tables(b)), col("codes")(b) + 1)).reduce(_ + _)
      struct(lit(qId).as("q_id"), typedlit(probe).as("probe"),
        (approxDot / (lit(qn) * col("vn"))).as("approx"))
    }
    val approx = coded
      .select($"vec_id", $"list_id", explode(array(scored: _*)).as("qa"))
      .filter(array_contains($"qa.probe", $"list_id") && $"vec_id" =!= $"qa.q_id")
      .select($"vec_id", $"qa.q_id".as("q_id"), $"qa.approx".as("approx"))
    val w = Window.partitionBy($"q_id").orderBy($"approx".desc, $"vec_id")
    val candIds = approx.withColumn("rk", row_number().over(w))
      .filter($"rk" <= rerank)
      .select($"q_id", $"vec_id")
    // exact re-rank of the shortlist: at production depths the
    // shortlist is queries×rerank rows of bare ids — BROADCAST it so
    // the re-rank is a shuffle-free probe of the corpus scan and full
    // vectors never enter an exchange (plan-asserted in
    // PlanShapeSpec). The exactness anchor's corpus-sized shortlist
    // keeps the shuffled join.
    val shortlist =
      if (rerank == Int.MaxValue) candIds else broadcast(candIds)
    val qVecs = embedded(s, dir).filter($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    val cands = shortlist
      .join(embedded(s, dir).select($"vec_id", $"v", $"nrm"), Seq("vec_id"))
      .join(broadcast(qVecs), Seq("q_id"))
      .withColumn("cos", dot($"qv", $"v") / ($"qn" * $"nrm"))
    topk(cands)
  }

  // ------------------------------------------------------------ clusters

  /** Number of deterministic cluster seeds. */
  val ClusterK = 8

  /** Deterministic corpus clustering over the embedding column — the
    * cluster-balance analysis a pretraining mix uses (how is the corpus
    * distributed over semantic regions, which regions dominate): every
    * vector assigns to its nearest of [[ClusterK]] SEED vectors by
    * cosine, seeds picked by hash rank (smallest
    * `poly_hash(vec_id ∥ "#seed")`, id tie-break — the
    * [[graft.operators.CorpusOps.groupSample]] idiom, reproducible
    * across engines/runs/partitionings, no RNG).
    *
    * Scale shape: the seed pick is a K-row driver aggregate (the IVF
    * codebook pattern); assignment inlines the K seed vectors as
    * LITERALS, so the per-row argmin is pure whole-stage codegen over
    * one corpus scan — no crossJoin row blow-up, no shuffle carrying
    * vectors; the ONLY exchange is the final K-key aggregation
    * (plan-asserted in PlanShapeSpec). This is the broadcast-state map
    * of the reference's assignment phase (mapper.py:58-66) generalized
    * from 2-D points to 64-dim embeddings. Full Lloyd refinement at
    * this width would iterate the same plan with updated literals —
    * [[graft.kmeans.KMeans.fit]] shows the loop on 2-D points.
    *
    * Ties (two seeds at identical cosine) resolve to the smaller
    * seed_id via the ascending when-chain, mirroring the oracle's
    * `ORDER BY cos DESC, seed_id` — and cosines are bit-identical
    * across engines because both fold left-to-right over doubles. */
  def embeddingClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r15: the assignment is LINEAR per byte (K literal-seed dots per
    // row) — this consumer takes the linear spread floor; the quadratic
    // within-cluster pair stage (dedup_semantic) keeps the compute
    // floor via clusterAssigned's default (r14 measured the unfloored
    // spread as 0.82× on this query at sf0.1, 1.18× on dedup_semantic)
    clusterAssigned(s, dir, Tables.SpreadMinLinearBytes)
      .groupBy($"cluster_seed")
      .agg(count(lit(1)).as("n_members"), round(avg($"cos"), 4).as("avg_cos"))
      .orderBy($"cluster_seed")
  }

  /** The assignment half of [[embeddingClusters]], exposed row-wise:
    * (vec_id, label, v, nrm, cluster_seed, cos). This is the blocking
    * key [[graft.operators.Dedup.dedupSemantic]] deduplicates within —
    * SemDeDup's "cluster, then dedup inside each cluster" shape. */
  private[operators] def clusterAssigned(s: SparkSession, dir: String,
      spreadMinBytes: Long = Tables.SpreadMinComputeBytes): DataFrame = {
    import s.implicits._
    // r14: spread the assignment scan — the K-seed argmin and the
    // downstream within-cluster pair stage (dedup_semantic) otherwise
    // run single-task on the one-row-group embeddings scan. r15: floor
    // per consumer (see embeddingClusters).
    val emb = graft.Tables.spread(embedded(s, dir), dir, "embeddings",
      spreadMinBytes, $"vec_id")
    val seeds = emb
      .withColumn("h", graft.functions.PolyHash(
        concat($"vec_id".cast("string"), lit("#seed"))))
      .orderBy($"h", $"vec_id").limit(ClusterK)
      .select($"vec_id", $"v", $"nrm")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    val withCos = seeds.foldLeft(emb) { case (df, (sid, sv, snrm)) =>
      df.withColumn(s"c_$sid", dot($"v", typedlit(sv)) / ($"nrm" * lit(snrm)))
    }
    val ids = seeds.map(_._1)
    val chosenSeed = ids.foldRight(lit(-1L)) { (sid, els) =>
      val beats = ids.filter(_ != sid)
        .map(o => col(s"c_$sid") >= col(s"c_$o")).reduce(_ && _)
      when(beats, lit(sid)).otherwise(els)
    }
    val tagged = withCos.withColumn("cluster_seed", chosenSeed)
    val chosenCos = ids.foldRight(lit(0.0)) { (sid, els) =>
      when($"cluster_seed" === sid, col(s"c_$sid")).otherwise(els)
    }
    tagged.withColumn("cos", chosenCos)
      .select($"vec_id", $"label", $"v", $"nrm", $"cluster_seed", $"cos")
  }

  val embeddingClustersSql: String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(v, x -> x*x)), (a, x) -> a + x)) AS nrm
       |  FROM e),
       |seeds AS (
       |  SELECT vec_id AS seed_id, v AS sv, nrm AS snrm FROM n
       |  ORDER BY ${graft.functions.PolyHash.duckSql(
            "CAST(vec_id AS VARCHAR) || '#seed'")}, vec_id
       |  LIMIT $ClusterK),
       |scored AS (
       |  SELECT c.vec_id, s.seed_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, len(c.v) + 1), i -> c.v[i] * s.sv[i])),
       |      (acc, x) -> acc + x) / (c.nrm * s.snrm) AS cos
       |  FROM n c CROSS JOIN seeds s),
       |best AS (
       |  SELECT vec_id, seed_id, cos FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, seed_id) AS rk
       |    FROM scored)
       |  WHERE rk = 1)
       |SELECT seed_id AS cluster_seed, count(*) AS n_members,
       |  round(avg(cos), 4) AS avg_cos
       |FROM best GROUP BY seed_id ORDER BY cluster_seed""".stripMargin

  /** Per-DIMENSION embedding census — the anisotropy/collapse screen a
    * pipeline runs before trusting an embedding space (a dimension with
    * ~zero variance is dead weight in every cosine; one with outlier
    * range dominates them — Ethayarajh EMNLP 2019's anisotropy
    * observation as a data-quality gate): n, mean, variance, min, max
    * per dimension.
    *
    * Scale shape: `posexplode` fans each row to D=64 (dim, x) pairs
    * INSIDE the scan stage, where the partial aggregate immediately
    * absorbs them — only D groups × partials reach the exchange, so
    * the ×64 never ships. Moments are exact: x rounds to its 4 written
    * decimals, Σx / Σx² accumulate in [[graft.functions.MoneySum]]'s
    * 128-bit integer buffer (scale 4 / 8 — the `corr_matrix`
    * discipline), mean/variance are fixed double formulas over exact
    * sums with the same association in both engines; min/max are
    * order-free. */
  def embeddingStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{Money4Bits, MoneySum}
    val b = Money4Bits(round($"x", 4))
    Tables(s, dir, "embeddings")
      .select(posexplode($"embedding").as(Seq("dim0", "xf")))
      .select(($"dim0" + 1).as("dim"), $"xf".cast("double").as("x"))
      .groupBy($"dim")
      .agg(
        count(lit(1)).as("n"),
        MoneySum.ofBits(b, 4).as("sx"),
        MoneySum.ofBits(b * b, 8).as("sxx"),
        min($"x").as("min_x"),
        max($"x").as("max_x"))
      .select($"dim", $"n",
        round($"sx" / $"n".cast("double"), 4).as("mean_x"),
        round(($"n".cast("double") * $"sxx" - $"sx" * $"sx") /
          ($"n".cast("double") * $"n".cast("double")), 4).as("var_x"),
        $"min_x", $"max_x")
      .orderBy($"dim")
  }

  val embeddingStatsSql: String =
    """WITH xs AS (
      |  SELECT g.i AS dim, CAST(e.embedding[g.i] AS DOUBLE) AS x
      |  FROM embeddings e,
      |    LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) g),
      |m AS (
      |  SELECT dim, count(*) AS n,
      |    CAST(sum(CAST(round(x, 4) AS DECIMAL(28,4))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(round(x, 4) AS DECIMAL(24,4))
      |      * CAST(round(x, 4) AS DECIMAL(12,4))) AS DOUBLE) AS sxx,
      |    min(x) AS min_x, max(x) AS max_x
      |  FROM xs GROUP BY dim)
      |SELECT dim, n,
      |  round(sx / CAST(n AS DOUBLE), 4) AS mean_x,
      |  round((CAST(n AS DOUBLE) * sxx - sx * sx)
      |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 4) AS var_x,
      |  min_x, max_x
      |FROM m ORDER BY dim""".stripMargin

  /** Per-label outliers reported by [[embeddingOutliers]]. */
  val OutlierK = 10

  /** Partial-top-k fan width of [[embeddingOutliers]]'s first pass. */
  val OutlierSalts = 32

  /** The exact per-label centroid table (label, cv, cnrm) —
    * [[embeddingOutliers]]'s broadcast side, public so the streaming
    * at-ingest gate can collect the L-row artifact and ship it as
    * literals (the batch-train → stream-score artifact story). */
  def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{Money4Bits, MoneySum}
    val b = Money4Bits(round($"x", 4))
    Tables(s, dir, "embeddings")
      .select($"label", posexplode($"embedding").as(Seq("dim", "xf")))
      .select($"label", $"dim", $"xf".cast("double").as("x"))
      .groupBy($"label", $"dim")
      .agg(MoneySum.ofBits(b, 4).as("sx"), count(lit(1)).as("n"))
      .select($"label", $"dim", ($"sx" / $"n".cast("double")).as("c"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"dim", $"c"))),
        p => p.getField("c")).as("cv"))
      .withColumn("cnrm", graft.functions.DotProduct.norm($"cv"))
  }

  /** Prototype-distance outlier screen — the per-class mislabel/junk
    * detector a curation pipeline runs before trusting labels (the
    * ranking half of self-supervised prototype pruning, Sorscher et
    * al. NeurIPS 2022: distance to the class prototype orders examples
    * from redundant to outlying): per label, the [[OutlierK]] vectors
    * FARTHEST (lowest cosine) from the label centroid.
    *
    * Exactness: the centroid is an exact per-(label, dim) mean — each
    * component rounds to its 4 written decimals and sums in
    * [[graft.functions.MoneySum]]'s 128-bit integer buffer (the
    * `embedding_stats` discipline), so centroid doubles are
    * bit-identical in both engines; cosines are the shared sequential
    * fold ([[graft.functions.DotProduct]] ≡ the oracle's list_reduce),
    * so the RANKING compares identical doubles and the (cos, vec_id)
    * tie-break is total.
    *
    * Scale shape: the centroid aggregate absorbs the ×D posexplode
    * map-side (D×L groups reach the exchange) and broadcasts (L×D
    * doubles); scoring is one shuffle-free scan. The top-k is TWO
    * windows, neither label-wide: labels are few (|L| ≈ 10) so a
    * per-label window would drag N/|L| rows through one task at 100 TB
    * — instead pass 1 ranks inside (label, vec_id mod [[OutlierSalts]])
    * partitions and keeps k per salt, and pass 2 ranks the surviving
    * |L|·salts·k rows per label (global bottom-k ⊆ union of per-salt
    * bottom-k, so the composition is exact — SimilaritySpec asserts
    * equality with the one-window form). */
  def embeddingOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cent = labelCentroids(s, dir)
    val scored = embedded(s, dir)
      .join(broadcast(cent), Seq("label"))
      .withColumn("cos",
        graft.functions.DotProduct($"v", $"cv") / ($"nrm" * $"cnrm"))
      .select($"label", $"vec_id", $"cos")
    val bySalt = Window
      .partitionBy($"label", pmod($"vec_id", lit(OutlierSalts.toLong)))
      .orderBy($"cos", $"vec_id")
    val byLabel = Window.partitionBy($"label").orderBy($"cos", $"vec_id")
    scored
      .withColumn("srk", row_number().over(bySalt))
      .filter($"srk" <= OutlierK)
      .withColumn("rk", row_number().over(byLabel))
      .filter($"rk" <= OutlierK)
      .select($"label", $"rk", $"vec_id", round($"cos", 4).as("cos_c"))
      .orderBy($"label", $"rk")
  }

  val embeddingOutliersSql: String =
    s"""WITH xs AS (
       |  SELECT e.label, g.i AS dim, CAST(e.embedding[g.i] AS DOUBLE) AS x
       |  FROM embeddings e,
       |    LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) g),
       |cm AS (
       |  SELECT label, dim,
       |    CAST(sum(CAST(round(x, 4) AS DECIMAL(28,4))) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) AS c
       |  FROM xs GROUP BY label, dim),
       |ca AS (
       |  SELECT label, list(c ORDER BY dim) AS cv FROM cm GROUP BY label),
       |cn AS (
       |  SELECT label, cv,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(cv, z -> z * z)), (a, z) -> a + z)) AS cnrm
       |  FROM ca),
       |en AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |nn AS (
       |  SELECT vec_id, label, v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm
       |  FROM en),
       |sc AS (
       |  SELECT e.vec_id, e.label,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i])),
       |      (a, x) -> a + x) / (e.nrm * c.cnrm) AS cos
       |  FROM nn e JOIN cn c USING (label)),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY label
       |    ORDER BY cos, vec_id) AS rk FROM sc)
       |SELECT label, rk, vec_id, round(cos, 4) AS cos_c
       |FROM rk WHERE rk <= $OutlierK ORDER BY label, rk""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embedding_outliers" -> (embeddingOutliers(_, _)),
    "embedding_stats" -> (embeddingStats(_, _)),
    "embedding_clusters" -> (embeddingClusters(_, _)),
    "ann_bruteforce" -> (annBruteForce(_, _)),
    "hard_negatives" -> (hardNegatives(_, _)),
    "ann_ivf" -> (annIvf(_, _)),
    "ann_ivf_exact" -> (annIvfExact(_, _)),
    "ann_pq" -> (annPq(_, _)),
    "ann_pq_exact" -> (annPqExact(_, _)),
    "ann_ivf_pq" -> (annIvfPq(_, _)),
    "ann_ivf_pq_exact" -> (annIvfPqExact(_, _)),
    "ann_lsh" -> (annLsh(_, _)),
    "ann_lsh_exact" -> (annLshExact(_, _)),
    "knn_graph" -> (knnGraph(_, _)),
    "knn_graph_exact" -> (knnGraphExact(_, _)),
    "knn_label_spread" -> (knnLabelSpread(_, _)),
    "knn_label_spread_exact" -> (knnLabelSpreadExact(_, _)))

  def oracles: Map[String, String] = Map(
    "embedding_outliers" -> embeddingOutliersSql,
    "embedding_stats" -> embeddingStatsSql,
    "embedding_clusters" -> embeddingClustersSql,
    "ann_bruteforce" -> annBruteForceSql,
    "hard_negatives" -> hardNegativesSql,
    // the exactness anchors degrade to brute force by construction
    // (nprobe = nlist / rerank ≥ corpus / 0 planes) — same oracle,
    // zero new SQL
    "ann_ivf_exact" -> annBruteForceSql,
    "ann_pq_exact" -> annBruteForceSql,
    "ann_ivf_pq_exact" -> annBruteForceSql,
    "ann_lsh_exact" -> annBruteForceSql,
    "knn_graph_exact" -> knnGraphExactSql,
    "knn_label_spread_exact" -> knnLabelSpreadExactSql)
}
