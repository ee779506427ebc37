package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShims, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField,
  StructType}
import scala.jdk.CollectionConverters._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator
import graft.{PackedPlane, PlaneChunk, PlaneRow, Tables}

/** SURVEY.md §2.D — similarity search over the `embeddings` table
  * (`Array[Float]` column): exact brute-force top-k cosine as the
  * oracle-checked baseline, and the sub-quadratic scale paths — IVF
  * coarse quantization, random-hyperplane LSH, product quantization
  * (PQ), the IVF+PQ composite and the LSH-bucketed k-NN graph — all
  * deterministic and recall-tested against the brute force in ScalaTest.
  *
  * Every top-k query — brute force, hard negatives, IVF, LSH, PQ,
  * IVF+PQ and the kNN anchor — runs on one engine ([[queryTopK]]): the
  * query set is collected once, one pass over the corpus scores each
  * row against the queries its candidate rule admits into a bounded
  * top-k list per query and partition, and the lists merge into a
  * local result frame. The operators differ only in the rule:
  *   - brute force: every row; hard negatives: every row of another
  *     label. Exactness baseline, O(N·Q).
  *   - IVF: the rows of the query's nprobe nearest inverted lists, a
  *     row's list being its nearest coarse centroid, computed in-row —
  *     the scored share drops to nprobe/nlist of the corpus.
  *   - LSH: the rows that share a bucket with the query in one of L
  *     tables of sign bits ([[KnnSigner]]).
  *   - PQ / IVF+PQ: the query's shortlist, which one compressed-domain
  *     ADC pass over the codes (restricted to the probed lists; PQ
  *     probes all of them) ranks before the exact pass re-ranks it.
  *
  * The full kNN graph, where every row is a query, runs the bucket
  * engine ([[cosineTopK]]) on the packed plane that trains the ANN
  * index: one shuffle groups the rows by LSH bucket, each bucket is
  * scored all-pairs in one task, and a merge of per-node top-k lists
  * (ids and cosines only) ranks the rows. Dedup's embedding operators
  * run the same signer and bucket scorer keyed by label
  * ([[labelPairsOf]]).
  *
  * Cosine math is sequential left-to-right double folds, identical to the
  * DuckDB oracle (SURVEY.md §5).
  */
object Similarity {
  val NumQueries = 10 // query set = vec_id < 10

  // Trained ANN artifacts (the ANN index — IVF coarse centroids, PQ
  // codebooks + encoded codes — and the k-NN graph) are PURE
  // DETERMINISTIC functions of the data dir, and a production ANN index
  // trains ONCE and serves many queries — so the engine memoizes them
  // per (session, dir) instead of retraining on every query call (the
  // index's training is one pack job, one init pass, max(QuantizerIters,
  // PqIters) fused Lloyd passes and one encode; see [[trainIndex]]).
  // Driver footprint is KB-scale (NList×dim / M×K×subdim doubles) plus,
  // for the PQ codes and the graph, one checkpointed frame each.
  // [[graft.SessionCache]] lifecycle: LRU eviction drops the entry and
  // leaves any checkpoint blocks to the ContextCleaner (a still-held
  // frame stays executable); [[clearTrainCache]] releases them.
  private val annCache =
    new graft.SessionCache[AnnIndex](onClear = ix => Dedup.releaseCheckpoint(ix.pq.codes))
  private val knnCache =
    new graft.SessionCache[DataFrame](onClear = Dedup.releaseCheckpoint)

  /** Test hook: drop all memoized training artifacts. */
  def clearTrainCache(): Unit = {
    annCache.clear()
    knnCache.clear()
  }

  /** Persist the trained ANN index to `path` as three parquet tables —
    * the cross-JOB reuse surface (an index over 100 TB is hours of
    * training; the artifacts are KB–MB of centroids/codebook plus the
    * ~50×-compressed codes, and every consumer should read them, not
    * retrain): `ivf` (coarse quantizer: cid, vector, norm),
    * `pq_codebook` (block, code, sub-vector; `dim` denormalized onto
    * every row), `pq_codes` (vec_id, codes, reconstructed norm vn,
    * list_id — the row's IVF inverted list, which routes the ADC scan
    * without reading the vector). */
  def saveAnnIndex(s: SparkSession, dir: String, path: String): Unit = {
    import s.implicits._
    annIndex(s, dir).ivf.toSeq.toDF("cid", "v", "nrm")
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
    val (cb, dim) = readCodebooks(s, path)
    // localCheckpoint: downstream plans read materialized code rows,
    // matching the freshly-trained frame's plan shape
    val codes = s.read.parquet(s"$path/pq_codes").localCheckpoint()
    annCache.put(s, dir, AnnIndex(readIvf(s, path), PqModel(cb, codes, dim)))
  }

  /** The IVF coarse quantizer of a [[saveAnnIndex]] index. */
  private def readIvf(s: SparkSession, path: String): Array[(Int, Seq[Double], Double)] = {
    import s.implicits._
    s.read.parquet(s"$path/ivf")
      .select($"cid", $"v", $"nrm").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
  }

  /** The per-block codebooks (block → code → sub-vector) and the
    * vector dimension of a [[saveAnnIndex]] index. */
  private def readCodebooks(s: SparkSession, path: String)
      : (Array[Array[Seq[Double]]], Int) = {
    import s.implicits._
    val cbRows = s.read.parquet(s"$path/pq_codebook")
      .select($"block", $"code", $"v", $"dim").collect()
    val cb = Array.tabulate(PqBlocks)(b =>
      cbRows.filter(_.getInt(0) == b).sortBy(_.getInt(1))
        .map(_.getSeq[Double](2)))
    (cb, cbRows.head.getInt(3))
  }

  /** Force the memoized ANN index (train-once accounting; see
    * [[trainIndex]]) — perfbench times it as its own span. */
  def trainAnn(s: SparkSession, dir: String): Unit = {
    annIndex(s, dir)
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

  /** The corpus side of a top-k query: (vec_id, v) of every embedding. */
  private def vectors(s: SparkSession, dir: String): DataFrame =
    embedded(s, dir).select("vec_id", "v")

  /** The query rows of `e`: vec_id < [[NumQueries]]. */
  private def queriesOf(e: DataFrame): DataFrame = e.filter(col("vec_id") < NumQueries)

  // ------------------------------------------------------ top-k queries

  /** The top-k query engine behind every `ann_*` query, hard negatives
    * and the kNN anchor: each query's top `k` rows of `corpus` (vec_id
    * bigint, v array<double>, then any columns the rule reads) by
    * (cos DESC, vec_id ASC) among the rows `candidates` admits, never
    * itself. One job collects `queries` (same columns) through the
    * pack's checks ([[VectorRow]]) and the norm check; `candidates`
    * builds the rule from them (the PQ shortlist runs its own pass
    * here, [[adcShortlist]]); one [[mergedLists]] job scores every
    * corpus row, through the same checks, against each query the rule
    * admits ([[KnnScore.exact]]). The rows come as an [[edgeFrame]].
    * `scored`, when given, counts the (query, row) pairs scored. */
  private def queryTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      scored: Option[LongAccumulator] = None)(candidates: QuerySet => Candidates): DataFrame = {
    requireVectors(corpus)
    val qs = collectQueries(queries)
    val tops =
      if (qs.size == 0) Array.empty[TopK]
      else mergedLists(corpus.queryExecution.toRdd, qs.size, k)(
        KnnScore.exact(qs.chunk, qs.norms, k, candidates(qs), scored))
    edgeFrame(corpus.sparkSession, qs.ids, tops)
  }

  /** A collected query set: the vectors packed in vec_id order at the
    * first one's width (`chunk`), their checked norms, and the rows for
    * the columns after v. */
  private final case class QuerySet(chunk: PlaneChunk, norms: Array[Double],
      rows: Array[InternalRow]) {
    def ids: Array[Long] = chunk.ids
    def size: Int = chunk.rows
    def d: Int = chunk.d
    def vector(i: Int): Seq[Double] = chunk.vals.slice(i * d, (i + 1) * d).toSeq
  }

  private def collectQueries(queries: DataFrame): QuerySet = {
    requireVectors(queries)
    val rows = queries.queryExecution.toRdd.map(_.copy()).collect().sortBy(_.getLong(0))
    val cs = packVectors(rows.iterator).toArray
    val c = PlaneChunk(cs.flatMap(_.ids), cs.flatMap(_.vals), cs.headOption.fold(1)(_.d))
    QuerySet(c, Array.tabulate(c.rows)(i => KnnScore.norm(c.vals, i * c.d, c.d, c.ids(i))), rows)
  }

  /** A candidate rule: for a corpus row `r` with its checked vector and
    * norm, which query indices may score it. */
  private type Candidates = (InternalRow, Array[Double], Double) => Int => Boolean

  private val everyRow: Candidates = (_, _, _) => _ => true

  /** One pass over `rows` into `queries` lists of `k`: `partition`
    * scores one partition into a list per query, and the non-empty
    * lists merge in one reduce task of the same job — only ids and
    * scores shuffle, at most one record per (query, partition). */
  private def mergedLists(rows: RDD[InternalRow], queries: Int, k: Int)
      (partition: Iterator[InternalRow] => Array[TopK]): Array[TopK] = {
    val tops = Array.fill(queries)(new TopK(k))
    rows.mapPartitions { in =>
      val lists = partition(in)
      lists.indices.iterator.filter(lists(_).nonEmpty).map(i => (i, lists(i)))
    }.reduceByKey(new HashPartitioner(1), (a, b) => a.merge(b))
      .collect().foreach { case (i, top) => tops(i) = top }
    tops
  }

  /** Query `ids(i)`'s list as rows (q_id, n_id, rk, cosine =
    * round(cos, 4)) ordered by (q_id, rk), in a local frame: Spark's
    * `round` folds into the local relation, so collecting it runs no
    * job. */
  private def edgeFrame(s: SparkSession, ids: Array[Long], tops: Array[TopK]): DataFrame = {
    import s.implicits._
    val rows = ids.indices.flatMap(i => tops(i).rows(ids(i)))
      .map(r => Row.fromSeq(r.toSeq(KnnEdgeSchema)))
    s.createDataFrame(rows.asJava, KnnEdgeSchema)
      .select($"q_id", $"n_id", $"rk", round($"cos", 4).as("cosine"))
  }

  // ----------------------------------------------------------- bruteforce

  /** Exact top-k cosine neighbors for the query set: [[queryTopK]] over
    * every row. */
  def annBruteForce(s: SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir)
    queryTopK(queriesOf(e), e, TopK)(_ => everyRow)
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
    * The same [[queryTopK]] pass as [[annBruteForce]] with a label
    * rule, so mining negatives costs the same one corpus pass as
    * mining neighbors. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = embedded(s, dir).select("vec_id", "v", "label")
    queryTopK(queriesOf(e), e, TopK)(otherLabel(e.schema(2).dataType))
  }

  /** Rows whose label (column 2, of type `dt`) differs from the
    * query's by SQL `!=` (NaN equals NaN, -0.0 equals 0.0); a null
    * label on either side never pairs. */
  private def otherLabel(dt: DataType)(qs: QuerySet): Candidates = {
    val labels = qs.rows.map(r => if (r.isNullAt(2)) null else r.get(2, dt))
    (r, _, _) =>
      if (r.isNullAt(2)) _ => false
      else {
        val l = r.get(2, dt)
        i => labels(i) != null && !(labels(i) == l || labels(i).equals(l))
      }
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

  /** IVF ANN: each query scores the rows of its [[NProbe]] nearest
    * inverted lists, a row's list being its nearest coarse centroid.
    * Approximate → rows-only; recall vs brute force asserted in
    * SimilaritySpec. */
  def annIvf(s: SparkSession, dir: String): DataFrame =
    annIvfWith(s, dir, NProbe)

  /** The IVF EXACTNESS ANCHOR: at nprobe = nlist every query probes
    * every inverted list, so the candidate set is the whole corpus and
    * the operator IS brute force — which makes this configuration
    * DuckDB-oracle-checkable against [[annBruteForceSql]] with zero new
    * SQL. The approximate default ([[annIvf]]) stays rows-only with its
    * recall spec; this entry pins the machinery (assignment, probe
    * ranking, scoring, top-k) to the exact result it must degrade to. */
  def annIvfExact(s: SparkSession, dir: String): DataFrame =
    annIvfWith(s, dir, NList)

  private def annIvfWith(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val ivf = annIndex(s, dir).ivf
    val e = vectors(s, dir)
    queryTopK(queriesOf(e), e, TopK)(inProbedLists(ivf, _, nprobe))
  }

  /** The `nprobe` inverted lists a query (qv, qn) probes: the lists by
    * (cosine DESC, list_id), the cosine by the same left-to-right dot
    * fold as the row-side assignment ([[nearestList]]). */
  private def probeLists(cents: Array[(Int, Seq[Double], Double)],
      qv: Seq[Double], qn: Double, nprobe: Int): Seq[Int] =
    cents.map { case (lid, cv, cn) =>
      (-cv.zip(qv).map { case (x, y) => x * y }.sum / (qn * cn), lid)
    }.sorted.take(nprobe).map(_._2).toSeq

  /** Per query, whether it probes each list ([[probeLists]]). */
  private def probed(ivf: Array[(Int, Seq[Double], Double)], qs: QuerySet,
      nprobe: Int): Array[Array[Boolean]] =
    Array.tabulate(qs.size) { i =>
      val lists = probeLists(ivf, qs.vector(i), qs.norms(i), nprobe).toSet
      Array.tabulate(ivf.length)(lists)
    }

  /** Rows in one of the query's `nprobe` probed lists; a row's list is
    * its cosine argmax over the centroids ([[nearestList]]). */
  private def inProbedLists(ivf: Array[(Int, Seq[Double], Double)], qs: QuerySet,
      nprobe: Int): Candidates = {
    val lists = probed(ivf, qs, nprobe)
    val (cents, cnorm) = (ivf.flatMap(_._2), ivf.map(_._3))
    (_, v, nrm) => {
      val l = nearestList(v, 0, nrm, cents, cnorm, v.length)
      i => lists(i)(l)
    }
  }

  // ------------------------------------------------------------------ LSH

  val Tables_ = 8  // L hash tables
  val NPlanes = 3  // bits per table → 8 buckets/table

  /** Deterministic pseudo-random hyperplane component in [-1, 1) from a
    * 64-bit mix of (table, plane, dim) — no RNG state, reproducible
    * everywhere. */
  private[graft] def planeComponent(t: Int, p: Int, d: Int): Double = {
    var x = t.toLong * 0x9E3779B97F4A7C15L + p.toLong * 0xC2B2AE3D27D4EB4FL +
      d.toLong * 0x165667B19E3779F9L + 0x27D4EB2F165667C5L
    x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
    x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
    x ^= x >>> 33
    (x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
  }

  /** LSH ANN: each query's top-[[TopK]] by exact cosine among the
    * corpus rows that share a bucket with it in one of [[Tables_]]
    * tables of [[NPlanes]] sign bits ([[KnnSigner]]) — one
    * [[queryTopK]] pass, the corpus never shuffles. rows-only; recall
    * asserted in SimilaritySpec. */
  def annLsh(s: SparkSession, dir: String): DataFrame =
    annLshOf(embedded(s, dir), Tables_, NPlanes)

  /** The LSH EXACTNESS ANCHOR: one table of zero planes puts every
    * vector in one bucket, so every query scores the whole corpus and
    * the operator must reproduce brute force — DuckDB-oracle-checked
    * against [[annBruteForceSql]] with zero new SQL through the same
    * signer, scoring loop and merge as [[annLsh]]. */
  def annLshExact(s: SparkSession, dir: String): DataFrame =
    annLshOf(embedded(s, dir), tables = 1, nplanes = 0)

  /** [[annLsh]] over `e` (vec_id bigint, v array<double>) with `tables`
    * tables of `nplanes` planes; `scored`, when given, counts the
    * (query, row) pairs scored. */
  private[graft] def annLshOf(e: DataFrame, tables: Int, nplanes: Int,
      scored: Option[LongAccumulator] = None): DataFrame = {
    val ev = e.select("vec_id", "v")
    queryTopK(queriesOf(ev), ev, TopK, scored)(sharedBucket(tables, nplanes))
  }

  /** Rows that share a bucket with the query in one of `tables` tables
    * of `nplanes` planes ([[KnnSigner]]). */
  private def sharedBucket(tables: Int, nplanes: Int)(qs: QuerySet): Candidates = {
    val signer = new KnnSigner(tables, nplanes, qs.d)
    val keys = Array.tabulate(qs.size)(i => signer.keys(qs.chunk.vals, i * qs.d))
    (_, v, _) => {
      val rk = signer.keys(v, 0)
      i => rk.indices.exists(t => rk(t) == keys(i)(t))
    }
  }

  // ------------------------------------------------------------ kNN graph

  val KnnK = 5            // neighbors per node
  val KnnNodes = 200      // exactness-anchor node sample: vec_id < 200

  /** Bytes-per-task target for the graph build's shuffle width (§2.2:
    * size partitions from measured volume). The bucket shuffle carries
    * the n·L member rows (vec_id, d doubles, norm) and a bucket task
    * holds its share of them while it scores, so the width is that
    * volume over this target, floored at the session parallelism and
    * capped at 4096. Both shuffles of the build take it as an argument;
    * no session conf is written. */
  val KnnShufflePartitionBytes: Long = 32L * 1024 * 1024
  val KnnTables = Tables_ // L hash tables, same family as annLsh
  val KnnTargetBucket = 64 // planes sized so an average bucket ≈ this

  /** Hyperplane count sized to the corpus: enough sign bits that the
    * expected bucket holds ≈ [[KnnTargetBucket]] vectors. A FIXED plane
    * count cannot scale a full-graph build — bucket population grows
    * linearly with the corpus and the within-bucket scoring
    * quadratically — so the signature width is a deterministic function
    * of the corpus count (exactly how IVF sizes nlist to the data),
    * clamped to [1, 16] (≤ 65k buckets per table). Pairs scored are
    * then O(N · bucket · L) at every scale. */
  private[operators] def knnPlanes(n: Long): Int =
    math.min(16, math.max(1,
      math.ceil(math.log(n.toDouble / KnnTargetBucket) / math.log(2.0)).toInt))

  /** k-NN GRAPH build — every vector's top-[[KnnK]] cosine neighbors
    * (the primitive under SemDeDup-style pruning, graph-based dedup,
    * and label propagation; Abbas et al. 2023). Unlike the `ann_*`
    * family (tiny broadcast query set), EVERY node is a query, so the
    * engine ([[knnGraphOf]]) scores inside LSH buckets and merges
    * per-node lists, on the packed plane that trains the ANN index:
    *
    *   1. one job packs the vectors ([[graft.PackedPlane]]) and returns
    *      (n, d);
    *   2. each row's [[KnnTables]] signatures of [[knnPlanes]]`(n)` bits
    *      ([[KnnSigner]]) key it into one (table, bucket) group per
    *      table, and one RDD shuffle carries the n·L member rows
    *      (vec_id, vector, norm);
    *   3. each bucket task scores its members all-pairs (DotProduct's
    *      fold, `dot / (‖q‖·‖v‖)`) and keeps a bounded top-K per member
    *      by (cos DESC, vec_id ASC);
    *   4. a `reduceByKey(q_id)` merges the per-bucket lists, keeping a
    *      neighbor once (a pair scores the same cosine in every table):
    *      only ids and cosines cross this shuffle, never a vector.
    *
    * Pairs scored are Σ b·(b−1) over the (table, bucket) sizes b —
    * nothing quadratic in N. rows-only; SimilaritySpec gates recall ≥
    * 0.8 on the anchor node sample vs [[knnGraphExact]] and
    * degree/rank invariants. */
  def knnGraph(s: SparkSession, dir: String): DataFrame =
    knnEdges(s, dir)

  /** The BUILT graph, memoized per (session, dir) — a production
    * pipeline materializes the k-NN graph once and serves every
    * consumer from it (here: the `knn_graph` read itself and the
    * label spread, which would otherwise rebuild it). The engine ends
    * in an eager `localCheckpoint` of the edge ROWS (N·K skinny rows),
    * built once per (session, dir), [[graft.SessionCache]] lifecycle. */
  def knnEdges(s: SparkSession, dir: String): DataFrame =
    knnCache.getOrCompute(s, dir)(knnGraphOf(embedded(s, dir), None))

  /** The kNN-graph EXACTNESS ANCHOR ([[annLshExact]] discipline): one
    * table of zero planes puts every vector in one bucket, so with the
    * nodes restricted to the [[KnnNodes]]-vector sample every node
    * scores the whole corpus and its edges are BRUTE-FORCE EXACT —
    * DuckDB-oracle-checked. The node restriction keeps the anchor
    * O(sample · N) (a full exact graph is O(N²) — infeasible by
    * definition at scale, which is the point of the bucketed production
    * path). The sample is the query set of one [[queryTopK]] pass, so
    * the corpus vectors never shuffle. */
  def knnGraphExact(s: SparkSession, dir: String): DataFrame =
    knnGraphOf(embedded(s, dir), Some(KnnNodes))

  /** The kNN-graph engine over `e` (vec_id bigint, v array<double>):
    * the edges (q_id, n_id, rk, cosine) of every node, LSH-bucketed
    * ([[cosineTopK]]), or with `nodeMax` of the nodes vec_id < nodeMax
    * against the whole corpus, one table of zero planes being one
    * bucket ([[queryTopK]]). `scored`, when given, counts the (node,
    * candidate) pairs scored. */
  private[graft] def knnGraphOf(e: DataFrame, nodeMax: Option[Long],
      scored: Option[LongAccumulator] = None): DataFrame = nodeMax match {
    case None => cosineTopK(e, KnnK, scored)
    case Some(m) =>
      val ev = e.select("vec_id", "v")
      queryTopK(ev.filter(col("vec_id") < m), ev, KnnK, scored)(sharedBucket(1, 0))
  }

  /** The bucket engine behind [[knnGraph]], over `e` (vec_id bigint, v
    * array<double>) packed once into a plane: every node's top-`k`
    * neighbors by (cos DESC, vec_id ASC) among the rows that share an
    * LSH bucket with it in one of [[KnnTables]] tables of
    * [[knnPlanes]]`(n)` planes ([[KnnSigner]]). One shuffle groups the
    * rows by bucket, each bucket is scored all-pairs in one task, and a
    * `reduceByKey` merges the per-bucket lists. The rows (q_id, n_id,
    * rk, cosine) come ordered by (q_id, rk) and checkpointed eagerly,
    * after which the plane is released. A zero-norm or non-finite
    * vector fails naming its vec_id, so no NaN/∞ cosine reaches a row;
    * null, empty and ragged vectors fail in the pack. */
  private def cosineTopK(e: DataFrame, k: Int, scored: Option[LongAccumulator]): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val plane = vectorPlane(e)
    try {
      val (n, d) = planeShape(plane)
      val signer = new KnnSigner(KnnTables, knnPlanes(n), d)
      val parts = memberParts(s.sparkContext, n * KnnTables, d)
      val rows = plane.flatMap(signer.members).groupByKey(parts)
        .flatMap { case (_, ms) => KnnScore.bucket(ms.toArray, k, scored) }
        .reduceByKey(parts, (a, b) => a.merge(b))
        .flatMap { case (q, top) => top.rows(q) }
      GraftShims.internalCreateDataFrame(s, rows, KnnEdgeSchema)
        .select($"q_id", $"n_id", $"rk", round($"cos", 4).as("cosine"))
        .orderBy($"q_id", $"rk")
        .localCheckpoint()
    } finally plane.unpersist(blocking = false)
  }

  /** The width of a shuffle of `members` bucket-member rows of width d
    * (vec_id, d doubles, norm): their volume over
    * [[KnnShufflePartitionBytes]], floored at the session parallelism
    * and capped at 4096. */
  private def memberParts(sc: org.apache.spark.SparkContext, members: Long, d: Int) =
    new HashPartitioner(math.max(sc.defaultParallelism,
      math.min(4096L, members * (8L * d + 16) / KnnShufflePartitionBytes).toInt))

  /** The blocked cosine pairs behind Dedup's embedding operators: every
    * pair (a_id < b_id, cos) of `e`'s rows (vec_id bigint, v
    * array<double> of width d, label) that share a (label, table,
    * bucket) key, at cos ≥ `floor`. Rows of a label in `hot` (every
    * label when None) are signed into `tables` tables of `nplanes`
    * planes, the others into one bucket per label; a null label never
    * pairs. Each group is scored all-pairs in one task after one
    * shuffle, and pairs met in several tables are merged by
    * `reduceByKey(max)` — a pair scores the same bits in every table.
    * Every row passes the pack's checks ([[VectorRow]]) and the norm
    * check, so a bad vector fails naming its vec_id. */
  private[operators] def labelPairsOf(e: DataFrame, n: Long, d: Int, dimId: Long,
      hot: Option[Set[Any]], tables: Int, nplanes: Int, floor: Double): DataFrame = {
    val src = e.select("vec_id", "v", "label")
    requireVectors(src)
    val dt = src.schema(2).dataType
    val (warm, cold) = (new KnnSigner(tables, nplanes, d), new KnnSigner(1, 0, d))
    val members = src.queryExecution.toRdd.mapPartitions { rows =>
      val put = new VectorRow(d, dimId)
      val toLabel = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(dt)
      rows.flatMap { r =>
        val v = new Array[Double](d)
        val m = new KnnMember(put.put(r, v, 0), v)
        if (r.isNullAt(2)) Iterator.empty
        else {
          val label = toLabel(r.get(2, dt))
          val signer = if (hot.forall(_.contains(label))) warm else cold
          signer.keys(v, 0).iterator.map(key => ((label, key), m))
        }
      }
    }
    val parts = memberParts(e.sparkSession.sparkContext, n * tables, d)
    val pairs = members.groupByKey(parts)
      .flatMap { case (_, ms) => KnnScore.pairs(ms.toArray, floor) }
      .reduceByKey(parts, (a, b) => math.max(a, b))
      .map { case ((a, b), c) => InternalRow(a, b, c) }
    GraftShims.internalCreateDataFrame(e.sparkSession, pairs, PairSchema)
  }

  private val KnnEdgeSchema = StructType(Seq(
    StructField("q_id", LongType, nullable = false),
    StructField("n_id", LongType, nullable = false),
    StructField("rk", IntegerType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))

  private val PairSchema = StructType(Seq(
    StructField("a_id", LongType, nullable = false),
    StructField("b_id", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))

  /** A bucket member: a row's id, its vector and its checked norm. */
  private final class KnnMember(val id: Long, val v: Array[Double]) extends Serializable {
    val nrm: Double = KnnScore.norm(v, 0, v.length, id)
  }

  /** A vector's `tables` LSH signatures of `nplanes` bits: bit p of
    * table t is `dot(v, plane(t, p)) > 0` by DotProduct's fold over
    * [[planeComponent]]. Keys are `t << 16 | bucket` (nplanes ≤ 16);
    * one table of zero planes keys every vector 0. */
  private final class KnnSigner(tables: Int, nplanes: Int, d: Int) extends Serializable {
    private val planes = Array.tabulate(tables * nplanes * d)(i =>
      planeComponent(i / (nplanes * d), i / d % nplanes, i % d))

    /** The keys of `v(off until off + d)`, one per table. */
    def keys(v: Array[Double], off: Int): Array[Int] =
      Array.tabulate(tables) { t =>
        var bucket = 0
        var p = 0
        while (p < nplanes) {
          if (dotOf(v, off, planes, (t * nplanes + p) * d, d) > 0) bucket |= 1 << p
          p += 1
        }
        t << 16 | bucket
      }

    /** A chunk's rows as members keyed by each of their buckets. */
    def members(c: PlaneChunk): Iterator[(Int, KnnMember)] =
      Iterator.range(0, c.rows).flatMap { r =>
        val m = new KnnMember(c.ids(r), java.util.Arrays.copyOfRange(c.vals, r * d, (r + 1) * d))
        keys(m.v, 0).iterator.map(_ -> m)
      }
  }

  /** One node's bounded top-k neighbors by (score DESC, vec_id ASC)
    * under Spark's double ordering (NaN above every number, -0.0 equal
    * to 0.0), best first, in primitive arrays. */
  private final class TopK(k: Int) extends Serializable {
    private val ids = new Array[Long](k)
    private val cos = new Array[Double](k)
    private var size = 0

    private def ranksBefore(id: Long, c: Double, i: Int): Boolean = {
      val o = if (c == cos(i)) 0 else java.lang.Double.compare(c, cos(i))
      o > 0 || (o == 0 && id < ids(i))
    }

    /** Offers neighbor `id` at score `c`: the list keeps the k best ids
      * by their largest score offered. A pair scores the same cosine in
      * every table, so a repeat offer changes nothing. */
    def offer(id: Long, c: Double): Unit =
      if (size < k || ranksBefore(id, c, k - 1)) {
        var h = 0
        while (h < size && ids(h) != id) h += 1
        if (h == size || ranksBefore(id, c, h)) {
          if (h < size) { // a larger score for a held id: drop the old entry
            System.arraycopy(ids, h + 1, ids, h, size - h - 1)
            System.arraycopy(cos, h + 1, cos, h, size - h - 1)
            size -= 1
          }
          var at = if (size < k) size else k - 1
          if (size < k) size += 1
          while (at > 0 && ranksBefore(id, c, at - 1)) {
            ids(at) = ids(at - 1); cos(at) = cos(at - 1); at -= 1
          }
          ids(at) = id; cos(at) = c
        }
      }

    def merge(o: TopK): TopK = {
      var i = 0
      while (i < o.size) { offer(o.ids(i), o.cos(i)); i += 1 }
      this
    }

    def nonEmpty: Boolean = size > 0

    /** The ids held. */
    def idSet: Set[Long] = ids.iterator.take(size).toSet

    /** Node q's edge rows (q_id, n_id, rk, cos). */
    def rows(q: Long): Iterator[InternalRow] =
      Iterator.range(0, size).map(i => InternalRow(q, ids(i), i + 1, cos(i)))
  }

  /** The engines' task-side kernels: checked norms and cosines, and the
    * scoring loops (a bucket all-pairs, a partition against queries). */
  private object KnnScore {
    def bad(msg: String) = new IllegalArgumentException(s"cosine: $msg")

    /** The norm of row `id`, which must be finite and non-zero. */
    def norm(v: Array[Double], off: Int, d: Int, id: Long): Double = {
      val n = normOf(v, off, d)
      if (!(n > 0.0 && n <= Double.MaxValue))
        throw bad(s"vec_id $id has norm $n; a cosine needs a finite non-zero norm")
      n
    }

    def cosine(q: Long, a: Array[Double], ao: Int, an: Double,
        n: Long, b: Array[Double], bo: Int, bn: Double, d: Int): Double = {
      val c = dotOf(a, ao, b, bo, d) / (an * bn)
      if (!java.lang.Double.isFinite(c)) throw bad(s"cosine of vec_id $q and vec_id $n is $c")
      c
    }

    /** One partition of corpus rows (vec_id, v, ...), each through the
      * pack's checks and the norm check, scored against every query of
      * `qs` (norms `qn`) that `admit` lets score it, never itself: one
      * top-`k` list per query. */
    def exact(qs: PlaneChunk, qn: Array[Double], k: Int, admit: Candidates,
        scored: Option[LongAccumulator])(rows: Iterator[InternalRow]): Array[TopK] = {
      val d = qs.d
      val put = new VectorRow(d, qs.ids(0))
      val v = new Array[Double](d)
      val tops = Array.fill(qs.rows)(new TopK(k))
      var pairs = 0L
      rows.foreach { r =>
        val id = put.put(r, v, 0)
        val nrm = norm(v, 0, d, id)
        val admits = admit(r, v, nrm)
        for (i <- 0 until qs.rows if qs.ids(i) != id && admits(i)) {
          tops(i).offer(id, cosine(qs.ids(i), qs.vals, i * d, qn(i), id, v, 0, nrm, d))
          pairs += 1
        }
      }
      scored.foreach(_.add(pairs))
      tops
    }

    /** Bucket member i scored against every later member j of another
      * id, `visit(j, cos)`; the number of pairs. */
    def later(ms: Array[KnnMember], i: Int)(visit: (Int, Double) => Unit): Long = {
      val a = ms(i)
      var pairs = 0L
      var j = i + 1
      while (j < ms.length) {
        val b = ms(j)
        if (a.v.length != b.v.length) throw VectorRow.ragged(a.id, a.v.length, b.id, b.v.length)
        if (a.id != b.id) {
          visit(j, cosine(a.id, a.v, 0, a.nrm, b.id, b.v, 0, b.nrm, a.v.length))
          pairs += 1
        }
        j += 1
      }
      pairs
    }

    /** A bucket's per-member top-`k` lists (each cosine offered to both
      * ends). */
    def bucket(ms: Array[KnnMember], k: Int, scored: Option[LongAccumulator])
        : Iterator[(Long, TopK)] = {
      val tops = Array.fill(ms.length)(new TopK(k))
      var pairs = 0L
      for (i <- ms.indices) pairs += later(ms, i) { (j, c) =>
        tops(i).offer(ms(j).id, c)
        tops(j).offer(ms(i).id, c)
      }
      scored.foreach(_.add(2 * pairs))
      ms.indices.iterator.filter(tops(_).nonEmpty).map(i => (ms(i).id, tops(i)))
    }

    /** A bucket's pairs (min id, max id) at cosine ≥ `floor`, one
      * member's at a time. */
    def pairs(ms: Array[KnnMember], floor: Double): Iterator[((Long, Long), Double)] =
      ms.indices.iterator.flatMap { i =>
        val out = scala.collection.mutable.ArrayBuffer.empty[((Long, Long), Double)]
        later(ms, i) { (j, c) =>
          if (c >= floor) {
            val (a, b) = (ms(i).id, ms(j).id)
            out += ((math.min(a, b), math.max(a, b)) -> c)
          }
        }
        out
      }
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
    * [[annIvfPq]] with every inverted list probed, so the ADC scan
    * covers all codes. rows-only; recall vs brute force asserted in
    * SimilaritySpec. */
  def annPq(s: SparkSession, dir: String): DataFrame =
    annIvfPqWith(s, dir, NList, PqRerank)

  /** The PQ EXACTNESS ANCHOR: at an unbounded rerank the shortlist is
    * every row and the exact re-rank scores all of them — the output
    * ranking is brute force regardless of the compressed-domain
    * approximation, so this configuration is oracle-checked against
    * [[annBruteForceSql]] while exercising training, the in-row list
    * routing and the re-rank. It runs the same pass as
    * [[annIvfPqExact]]; both registry keys stay. The production
    * shortlist depth ([[annPq]]) stays rows-only with its recall spec. */
  def annPqExact(s: SparkSession, dir: String): DataFrame =
    annIvfPqWith(s, dir, NList, Int.MaxValue)

  /** A trained PQ index: per-block codebooks + the checkpointed,
    * ~50×-compressed codes frame. */
  private[graft] final case class PqModel(
      cb: Array[Array[Seq[Double]]], codes: DataFrame, dim: Int)

  /** The PQ model of a data dir — the memoized index's other half
    * ([[trainIndex]]). */
  private[graft] def pqModel(s: SparkSession, dir: String): PqModel =
    annIndex(s, dir).pq

  /** The ANN index: the IVF coarse quantizer — (list_id, vector, norm)
    * of [[NList]] centroids refined by [[QuantizerIters]] spherical
    * Lloyd iterations (cosine argmax, first max wins) from evenly spaced
    * vec_id seeds — and the PQ model, trained together and memoized as
    * one value. */
  private[graft] final case class AnnIndex(
      ivf: Array[(Int, Seq[Double], Double)], pq: PqModel)

  private def annIndex(s: SparkSession, dir: String): AnnIndex =
    annCache.getOrCompute(s, dir)(trainIndex(embedded(s, dir)))

  /** Trains the ANN index from `e` (vec_id bigint, v array<double>) on
    * one packed plane ([[graft.PackedPlane]], ids = vec_id, d = the
    * embedding width), in this job plan:
    *
    *   1. one job packs the plane and returns n and d;
    *   2. one init pass picks the seeds: seed i of K is the vector of
    *      the smallest vec_id ≥ i·n/K, for the [[NList]] IVF lists and
    *      the [[PqCodes]] codewords of every block (K running minima
    *      per partition, merged by min — order-free);
    *   3. max([[QuantizerIters]], [[PqIters]]) fused Lloyd passes, each
    *      ONE `treeAggregate` returning NList×d sums and counts (cosine
    *      argmax, first max wins) plus M×K×subdim sums and counts
    *      (per-block L2 argmin, first min wins); a rule stops updating
    *      after its own count, and an empty list or codeword keeps its
    *      old value;
    *   4. one encode of a fresh scan of `e` through [[encodeWith]] —
    *      the path [[appendAnnIndex]] shares — checkpointed eagerly;
    *      it fails on a zero-norm vector, naming its vec_id.
    *
    * The plane is released once training ends. A null vector, a null
    * element or a ragged dimension fails the pack naming its vec_id;
    * n < K (or vec_ids that leave two seeds equal) fails the init. */
  private[graft] def trainIndex(e: DataFrame): AnnIndex = {
    val plane = vectorPlane(e)
    val (ivf, cb, dim) = try lloyd(plane) finally plane.unpersist(blocking = false)
    val subdim = dim / PqBlocks
    val codebooks = cb.map(_.grouped(subdim).map(_.toSeq).toArray)
    val codes = encodeWith(codebooks, ivf, e).localCheckpoint()
    AnnIndex(ivf, PqModel(codebooks, codes, dim))
  }

  /** Steps 1-3 of [[trainIndex]]: the quantizer, the flat per-block
    * codebooks (codeword k of block b at `cb(b)(k*subdim ..)`) and d. */
  private def lloyd(plane: RDD[PlaneChunk])
      : (Array[(Int, Seq[Double], Double)], Array[Array[Double]], Int) = {
    val (n, d) = planeShape(plane)
    require(d % PqBlocks == 0, s"dim $d not divisible into $PqBlocks blocks")
    val subdim = d / PqBlocks
    val (ivfSeeds, pqSeeds) = plane.treeAggregate(
      (new Seeds(NList, n, d), new Seeds(PqCodes, n, d)))(
      seqOp = { case ((a, b), c) => (a.add(c), b.add(c)) },
      combOp = { case ((a, b), (x, y)) => (a.merge(x), b.merge(y)) })
    val cents = ivfSeeds.vectors()
    val cnorm = Array.tabulate(NList)(l => normOf(cents, l * d, d))
    val seeds = pqSeeds.vectors()
    val cb = Array.tabulate(PqBlocks)(b => Array.tabulate(PqCodes * subdim)(i =>
      seeds((i / subdim) * d + b * subdim + i % subdim)))
    for (iter <- 1 to math.max(QuantizerIters, PqIters)) {
      val (ivfOn, pqOn) = (iter <= QuantizerIters, iter <= PqIters)
      val sums = plane.treeAggregate(new LloydSums(d, subdim))(
        seqOp = (acc, c) => acc.add(c, cents, cnorm, cb, ivfOn, pqOn),
        combOp = (a, b) => a.merge(b))
      if (ivfOn) (0 until NList).foreach { l =>
        val m = sums.ivfCnt(l)
        if (m > 0L) {
          (0 until d).foreach(j => cents(l * d + j) = sums.ivfSum(l * d + j) / m)
          cnorm(l) = normOf(cents, l * d, d)
        }
      }
      if (pqOn) for (b <- 0 until PqBlocks; k <- 0 until PqCodes) {
        val m = sums.pqCnt(b * PqCodes + k)
        if (m > 0L) (0 until subdim).foreach(j =>
          cb(b)(k * subdim + j) = sums.pqSum((b * PqCodes + k) * subdim + j) / m)
      }
    }
    val ivf = Array.tabulate(NList)(l =>
      (l, cents.slice(l * d, (l + 1) * d).toSeq, cnorm(l)))
    (ivf, cb, d)
  }

  /** The inverted list of `v(off until off + d)`, whose norm is `nrm`:
    * the cosine argmax over the centroids `cents` (row-major, norms
    * `cnorm`) by DotProduct's fold, first max wins, NaN above every
    * number as in `array_max`. */
  private def nearestList(v: Array[Double], off: Int, nrm: Double, cents: Array[Double],
      cnorm: Array[Double], d: Int): Int = {
    var best = 0
    var bestCos = 0.0
    var l = 0
    while (l < cnorm.length) {
      val cos = dotOf(v, off, cents, l * d, d) / (nrm * cnorm(l))
      if (l == 0 || cos > bestCos || (cos.isNaN && !bestCos.isNaN)) {
        best = l; bestCos = cos
      }
      l += 1
    }
    best
  }

  /** `a(ao until ao + d) · b(bo until bo + d)` by
    * [[graft.functions.DotProduct]]'s left-to-right fold. */
  private def dotOf(a: Array[Double], ao: Int, b: Array[Double], bo: Int, d: Int): Double = {
    var s = 0.0
    var j = 0
    while (j < d) { s += a(ao + j) * b(bo + j); j += 1 }
    s
  }

  /** ‖v(off until off + d)‖ — [[graft.functions.DotProduct.norm]]'s
    * left-to-right fold. */
  private def normOf(v: Array[Double], off: Int, d: Int): Double =
    math.sqrt(dotOf(v, off, v, off, d))

  /** `e`'s (vec_id, v) rows packed once into a persisted plane — the
    * input of [[trainIndex]] and [[cosineTopK]], which release it. */
  private def vectorPlane(e: DataFrame): RDD[PlaneChunk] = {
    val src = e.select("vec_id", "v")
    requireVectors(src)
    src.queryExecution.toRdd.mapPartitions(packVectors).persist(StorageLevel.MEMORY_AND_DISK)
  }

  private def requireVectors(src: DataFrame): Unit =
    require(src.schema(0).dataType == LongType && (src.schema(1).dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }), s"vectors need vec_id bigint, v array<double>; got ${src.schema.simpleString}")

  /** Packs one partition of (vec_id, v) rows at its first row's
    * dimension (a null first vector fails in [[VectorRow]]);
    * partitions that disagree fail in [[planeShape]]. */
  private def packVectors(rows: Iterator[InternalRow]): Iterator[PlaneChunk] = {
    val in = rows.buffered
    if (!in.hasNext) Iterator.empty
    else {
      val d = if (in.head.isNullAt(1)) 1 else in.head.getArray(1).numElements()
      val first = in.head.getLong(0)
      if (d == 0) throw VectorRow.bad(s"empty vector at vec_id $first")
      PackedPlane.pack(in, d, new VectorRow(d, first))
    }
  }

  /** One (vec_id, v) row into a plane of width d, the width of vec_id
    * `dimId`. */
  private final class VectorRow(d: Int, dimId: Long) extends PlaneRow {
    def put(r: InternalRow, vals: Array[Double], off: Int): Long = {
      if (r.isNullAt(0)) throw VectorRow.bad("null vec_id")
      val id = r.getLong(0)
      if (r.isNullAt(1)) throw VectorRow.bad(s"null vector at vec_id $id")
      val v = r.getArray(1)
      if (v.numElements() != d) throw VectorRow.ragged(id, v.numElements(), dimId, d)
      var j = 0
      while (j < d) {
        if (v.isNullAt(j)) throw VectorRow.bad(s"null element $j in vec_id $id")
        vals(off + j) = v.getDouble(j)
        j += 1
      }
      id
    }
  }

  // an object, not a method of Similarity: task closures that call it
  // must not capture the (unserializable) Similarity module
  private[operators] object VectorRow {
    def bad(msg: String) = new IllegalArgumentException(s"packing vectors: $msg")

    /** The failure of two vectors whose dimensions differ. */
    def ragged(a: Long, da: Int, b: Long, db: Int) = bad(
      s"vectors must share one dimension: vec_id $a has dimension $da, vec_id $b has dimension $db")
  }

  /** The pack job: (n, d) of the plane. The packer holds a partition
    * to one d; partitions that disagree fail here, naming a vec_id of
    * each. */
  private def planeShape(plane: RDD[PlaneChunk]): (Long, Int) = {
    type Shape = (Long, Int, Long) // rows, d, a vec_id
    def join(a: Shape, b: Shape): Shape =
      if (a._1 == 0L) b
      else if (b._1 == 0L || a._2 == b._2) (a._1 + b._1, a._2, a._3)
      else throw VectorRow.ragged(a._3, a._2, b._3, b._2)
    val (n, d, _) = plane.treeAggregate[Shape]((0L, 0, 0L))(
      seqOp = (a, c) => join(a, (c.rows.toLong, c.d, c.ids(0))), combOp = join)
    (n, d)
  }

  /** Running minima for an init of `k` seeds over n vectors of width
    * d: seed i is the vector of the smallest vec_id ≥ i·n/k. */
  private final class Seeds(k: Int, n: Long, d: Int) extends Serializable {
    private val ids = Array.fill(k)(Long.MaxValue)
    private val vecs = new Array[Double](k * d)

    private def offer(i: Int, id: Long, src: Array[Double], off: Int): Unit =
      if (id < ids(i)) { ids(i) = id; System.arraycopy(src, off, vecs, i * d, d) }

    def add(c: PlaneChunk): Seeds = {
      var r = 0
      while (r < c.rows) {
        val id = c.ids(r)
        var i = 0 // thresholds ascend: the seeds id may serve are a prefix
        while (i < k && i * n / k <= id) { offer(i, id, c.vals, r * d); i += 1 }
        r += 1
      }
      this
    }

    def merge(o: Seeds): Seeds = {
      (0 until k).foreach(i => offer(i, o.ids(i), o.vecs, i * d))
      this
    }

    /** The k seed vectors, row-major; fails unless all k are distinct. */
    def vectors(): Array[Double] = {
      require(ids.forall(_ != Long.MaxValue) && ids.distinct.length == k,
        s"ANN init: $k seeds over n=$n vectors are not distinct (seed i is the " +
          s"smallest vec_id >= i*n/$k); needs n >= $k and vec_ids spread over [0, n)")
      vecs.clone()
    }
  }

  /** One fused Lloyd pass's partial sums: per IVF list (NList×d sums,
    * counts) and per (block, codeword) (M×K×subdim sums, counts). */
  private final class LloydSums(d: Int, subdim: Int) extends Serializable {
    val ivfSum = new Array[Double](NList * d)
    val ivfCnt = new Array[Long](NList)
    val pqSum = new Array[Double](PqBlocks * PqCodes * subdim)
    val pqCnt = new Array[Long](PqBlocks * PqCodes)

    /** The whole-chunk kernel: per vector, its [[nearestList]] over the
      * NList centroids and the per-block
      * [[graft.functions.PqCode.argmin]]. */
    def add(c: PlaneChunk, cents: Array[Double], cnorm: Array[Double],
        cb: Array[Array[Double]], ivfOn: Boolean, pqOn: Boolean): LloydSums = {
      val v = c.vals
      var r = 0
      while (r < c.rows) {
        val off = r * d
        if (ivfOn) {
          val best = nearestList(v, off, normOf(v, off, d), cents, cnorm, d)
          var j = 0
          while (j < d) { ivfSum(best * d + j) += v(off + j); j += 1 }
          ivfCnt(best) += 1L
        }
        if (pqOn) {
          var b = 0
          while (b < PqBlocks) {
            val k = graft.functions.PqCode.argmin(v, off + b * subdim, subdim, cb(b))
            val at = (b * PqCodes + k) * subdim
            var j = 0
            while (j < subdim) { pqSum(at + j) += v(off + b * subdim + j); j += 1 }
            pqCnt(b * PqCodes + k) += 1L
            b += 1
          }
        }
        r += 1
      }
      this
    }

    def merge(o: LloydSums): LloydSums = {
      ivfSum.indices.foreach(i => ivfSum(i) += o.ivfSum(i))
      ivfCnt.indices.foreach(i => ivfCnt(i) += o.ivfCnt(i))
      pqSum.indices.foreach(i => pqSum(i) += o.pqSum(i))
      pqCnt.indices.foreach(i => pqCnt(i) += o.pqCnt(i))
      this
    }
  }

  /** ENCODE `e` (vec_id, v) against a FROZEN index — per-block
    * codebooks `cb` and the IVF quantizer `ivf` — into the codes frame:
    * M 4-bit codes, the exact reconstructed norm vn (blocks are
    * disjoint coordinates, so ‖v̂‖² = Σ_b ‖c_b‖²) and the inverted list
    * (list_id, [[nearestList]] by the checked norm) per vector, in one
    * map-only projection. Shared by the initial build ([[pqModel]]) and
    * the incremental append ([[appendAnnIndex]]), so the two paths
    * cannot diverge: appending vectors one batch at a time produces
    * byte-identical code rows to encoding them all in the initial pass. */
  private def encodeWith(cb: Array[Array[Seq[Double]]], ivf: Array[(Int, Seq[Double], Double)],
      e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val subdim = cb(0)(0).length
    val withC = e.withColumn("codes", array((0 until PqBlocks).map(b =>
      graft.functions.PqCode(col("v"), b * subdim, subdim, cb(b))): _*))
    val normSqTables = cb.map(_.map(c => c.map(x => x * x).sum))
    val reconNorm = sqrt((0 until PqBlocks).map(b =>
      element_at(typedlit(normSqTables(b).toSeq), col("codes")(b) + 1))
      .reduce(_ + _))
    val (cents, cnorm, d) = (ivf.flatMap(_._2), ivf.map(_._3), subdim * PqBlocks)
    val listOf = udf { (id: Long, v: Seq[Double]) =>
      if (v == null || v.length != d)
        throw VectorRow.bad(s"vec_id $id has no vector of the index's dimension $d")
      val a = v.toArray
      nearestList(a, 0, KnnScore.norm(a, 0, d, id), cents, cnorm, d)
    }
    withC.select($"vec_id", $"codes", reconNorm.as("vn"), listOf($"vec_id", $"v").as("list_id"))
  }

  /** INCREMENTAL APPEND — the ANN production steady-state (the
    * `dedup_incremental` pattern applied to the vector index): NEW
    * vectors are encoded against the FROZEN quantizer artifacts of a
    * [[saveAnnIndex]] index and only their code rows append to the
    * persisted codes table. No training pass runs — at 100 TB the
    * append costs one map-only encode scan over the BATCH (codebook
    * read is KB-scale), never a corpus pass, and the frozen IVF
    * centroids need no maintenance at all (each appended code row
    * carries its list_id, computed from the saved centroids, so
    * appended vectors probe correctly with zero index surgery). Caller
    * contract: `extra`
    * carries vec_ids not already in the index (same contract as the
    * batch side of `dedup_incremental`); a re-appended id would shadow
    * nothing but duplicate candidates. AnnIndexSpec proves append ≡
    * whole-corpus encode (byte-identical codes through [[encodeWith]])
    * and that the appended index's recall on the grown corpus matches
    * a fresh rebuild's. */
  def appendAnnIndex(s: SparkSession, path: String, extra: DataFrame): Unit = {
    import s.implicits._
    val e = extra.select($"vec_id",
      transform($"embedding", x => x.cast("double")).as("v"))
    encodeWith(readCodebooks(s, path)._1, readIvf(s, path), e)
      .write.mode("append").parquet(s"$path/pq_codes")
  }

  // ------------------------------------------------------------- IVF+PQ

  /** IVF+PQ composite — the production layout for ANN over a corpus
    * that cannot be brute-force scanned per query (the IVFADC scheme
    * of Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011), and the one pipeline [[annPq]] also runs:
    *
    *   1. TRAIN: the IVF coarse quantizer ([[NList]] lists) and the PQ
    *      codebooks — the vector space split into [[PqBlocks]] disjoint
    *      coordinate blocks, each with a [[PqCodes]]-codeword codebook
    *      (deterministic evenly-spaced init + [[PqIters]] L2 Lloyd
    *      rounds, first min wins) — train together on one packed plane,
    *      one `treeAggregate` per round ([[trainIndex]]), and are
    *      memoized: one index, trained once, serves every probe shape.
    *   2. ENCODE: map-only projection replacing each 64×8-byte vector
    *      with M 4-bit codes + one reconstructed norm (blocks are
    *      disjoint coordinates, so ‖v̂‖² = Σ_b ‖c_b‖² exactly) — the
    *      ~50× compression that lets a 100-TB vector corpus live in
    *      executor memory.
    *      Each code row also stores its inverted list (list_id), IVFADC's
    *      inverted-list layout.
    *   3. QUERY (ADC): the queries are collected once ([[queryTopK]]);
    *      per query, the q·codeword partial dots form an M×K table on
    *      the driver and [[probeLists]] its probe set. One pass over the
    *      CODES ([[adcShortlist]]) scores the rows of the probed lists
    *      by approximate cosine = table entries summed / (‖q‖·‖v̂‖) and
    *      keeps each partition's top `rerank` per query; their merge is
    *      the shortlist.
    *   4. RE-RANK: one [[queryTopK]] pass over the vectors scores the
    *      shortlisted ids exactly — reported cosines are exact, recall
    *      is the only approximation (measured vs brute force in
    *      SimilaritySpec).
    *
    * Scale shape: the ADC pass reads only the ~50×-compressed codes;
    * full vectors are read only by the query collect and the re-rank,
    * and only per-query lists of ids and scores ever shuffle. */
  def annIvfPq(s: SparkSession, dir: String): DataFrame =
    annIvfPqWith(s, dir, NProbe, PqRerank)

  /** The composite EXACTNESS ANCHOR: nprobe = nlist probes every list
    * and rerank ≥ corpus makes the ADC shortlist the whole corpus, so
    * the output is brute force by construction — oracle-checked against
    * [[annBruteForceSql]] while exercising ADC scoring over the codes
    * and the re-rank. With an unbounded shortlist no ADC pass runs: the
    * re-rank scores every row of the probed (here: all) lists, routed
    * in-row. It runs the same pass as [[annPqExact]]. The production
    * shape ([[annIvfPq]]) stays rows-only with its recall spec, like
    * the other approximate defaults. */
  def annIvfPqExact(s: SparkSession, dir: String): DataFrame =
    annIvfPqWith(s, dir, NList, Int.MaxValue)

  private def annIvfPqWith(s: SparkSession, dir: String,
      nprobe: Int, rerank: Int): DataFrame = {
    val ix = annIndex(s, dir)
    val e = vectors(s, dir)
    queryTopK(queriesOf(e), e, TopK) { qs =>
      if (rerank == Int.MaxValue) inProbedLists(ix.ivf, qs, nprobe)
      else {
        val shortlist = adcShortlist(ix, qs, nprobe, rerank)
        (r, _, _) => {
          val id = r.getLong(0)
          i => shortlist(i).contains(id)
        }
      }
    }
  }

  /** Step 3 of [[annIvfPq]]: per query, the ids of the top `rerank`
    * code rows by (approx DESC, vec_id ASC) among the rows of its
    * `nprobe` probed lists, never itself. approx is the ADC estimate:
    * the driver-built table entries of the row's codes summed in block
    * order, over (‖q‖·‖v̂‖). One pass over the codes checkpoint; every
    * global top-`rerank` row is in its partition's top `rerank`, so the
    * merge of the partitions' lists is exactly the global shortlist. */
  private def adcShortlist(ix: AnnIndex, qs: QuerySet, nprobe: Int,
      rerank: Int): Array[Set[Long]] = {
    val (cb, subdim) = (ix.pq.cb, ix.pq.dim / PqBlocks)
    val tables = Array.tabulate(qs.size) { i =>
      val qv = qs.vector(i)
      Array.tabulate(PqBlocks)(b => cb(b).map(c => c.zip(qv.slice(b * subdim, (b + 1) * subdim))
        .map { case (x, y) => x * y }.sum))
    }
    val lists = probed(ix.ivf, qs, nprobe)
    val (ids, qn) = (qs.ids, qs.norms)
    val codes = ix.pq.codes.select("vec_id", "codes", "vn", "list_id").queryExecution.toRdd
    mergedLists(codes, qs.size, rerank) { rows =>
      val tops = Array.fill(ids.length)(new TopK(rerank))
      rows.foreach { r =>
        val (id, code, vn, l) = (r.getLong(0), r.getArray(1), r.getDouble(2), r.getInt(3))
        for (i <- ids.indices if ids(i) != id && lists(i)(l)) {
          val t = tables(i)
          val dot = (1 until PqBlocks).foldLeft(t(0)(code.getInt(0)))((a, b) => a + t(b)(code.getInt(b)))
          tops(i).offer(id, dot / (qn(i) * vn))
        }
      }
      tops
    }.map(_.idSet)
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
      df.withColumn(s"c_$sid",
        graft.functions.DotProduct($"v", typedlit(sv)) / ($"nrm" * lit(snrm)))
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
