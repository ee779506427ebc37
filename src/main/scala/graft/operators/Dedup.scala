package graft.operators

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.Tables
import graft.functions.{PolyHash, SimHash64, WordNgramHashes, TextFeatures => TF}

/** SURVEY.md §2.C — the deduplication suite over the `documents` table:
  * exact hash-dedup, n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup. These are the core 100-TB training-data
  * pipeline operators.
  *
  * Scale shapes (each holds at 1000 executors):
  *   - exact: one shuffle keyed by (n_chars, poly_hash(31/131/257/65599))
  *     — FOUR independent-base 31-bit polynomial hashes plus the length,
  *     a 124-bit composite key, so the exchange carries five longs per
  *     group instead of every document's full text. Per-pair collision
  *     odds ~2^-124; the birthday AGGREGATE over a 10^10-document corpus
  *     is (10^10)²/2 / 2^124 ≈ 2·10^-18 expected collisions — negligible
  *     (two bases alone would expect ~10 silent merges at that scale,
  *     which is why the key is four-wide). ADVERSARIAL CAVEAT: these are
  *     polynomial mod-p hashes with public parameters — crafted distinct
  *     documents CAN be made to collide on all four simultaneously
  *     (solve the difference polynomial), so against adversarial input
  *     this is not "exact"; they are chosen because the identical fold
  *     is expressible in DuckDB SQL (the oracle contract, SURVEY §5).
  *     For hostile corpora swap the key for a keyed 128-bit
  *     non-polynomial fingerprint (e.g. HMAC-truncated) — the operator
  *     shape (hash-key groupBy, min-id survivor) is unchanged.
  *   - ngram: inverted-index posting lists keyed by (block, gram),
  *     blocked by (lang × length-bucket), read from one memoized
  *     per-document profile (gram hashes + MinHash signature) by the
  *     posting-pair engine shared with MinHash; a document-frequency cap
  *     ([[NgramDfCap]]) keeps boilerplate grams from squaring a posting
  *     list, with over-cap grams falling back to a linear representative
  *     STAR so heavy near-dup clusters still surface; candidates are
  *     then verified with EXACT Jaccard over full gram sets — the
  *     standard candidate/verify set-similarity split.
  *   - minhash: the 16 signature mins are computed in the profile row
  *     from its gram hashes; band buckets are postings of the same
  *     engine (occupancy-capped like the n-gram df), and exact Jaccard
  *     verification touches candidates, not all pairs.
  *   - simhash: one-pass codegen'd [[SimHash64]] fingerprint, then a
  *     4×16-bit chunk equi-join (pigeonhole: Hamming ≤ 3 ⇒ some chunk
  *     equal) — no quadratic pair scan.
  *   - embedding: label-blocked cosine pairs; the all-pairs form is the
  *     exactness baseline, [[Similarity]] holds the sub-quadratic path.
  *
  * All hashes are portable polynomial folds ([[PolyHash]]) so every
  * operator is DuckDB-oracle-checkable end to end (SURVEY.md §5).
  */
object Dedup {
  private val P = PolyHash.Mod // 2^31 - 1; one definition, one oracle

  // ---------------------------------------------------------------- exact

  /** The exact-dedup key bases: four independent-base polynomial hashes
    * plus the length = 124 bits of key entropy (see the birthday math
    * and the adversarial caveat in the object scaladoc). Shared by
    * [[dedupExact]], [[dedupSurvivors]] and
    * [[graft.streaming.StreamOps.streamingDedup]] so the batch and
    * streaming dedup stages agree on what "identical" means. */
  val ExactKeyBases: Seq[Long] = Seq(31L, 131L, 257L, 65599L)

  /** The Spark-side exact-dedup hash key columns over `text`. */
  def exactKeyCols(s: SparkSession): Seq[org.apache.spark.sql.Column] = {
    import s.implicits._
    ExactKeyBases.map(b => PolyHash($"text", b).as(s"h$b"))
  }

  /** The DuckDB-side identical key expressions (for oracles). */
  def exactKeySql: Seq[String] = ExactKeyBases.map(b => PolyHash.duckSql("text", b))

  /** Exact-duplicate drop ids — every non-min doc_id of each
    * identical-text group. ONE definition feeds both materialization
    * policies ([[dedupSurvivors]], [[dedupCanonical]]): a change to
    * the drop rule (key base, tie-break) lands once, in lockstep with
    * [[exactDropsCte]] on the oracle side.
    *
    * Shape: keep_id = min(doc_id) per key group (O(1) agg state with
    * map-side partials), joined back onto the per-doc key rows — both
    * legs shuffle on the SAME key, so the join co-partitions with the
    * aggregation. No per-group id buffer anywhere: a pathologically
    * viral duplicate (millions of copies of one text at 100 TB) costs
    * one counter on one reducer, where a collect_list of the group's
    * ids would concentrate an unbounded array there — the same
    * bounded-state discipline as [[graft.functions.BoundedCollect]]. */
  private def exactDropIds(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val keyNames = "n_chars" +: ExactKeyBases.map(b => s"h$b")
    val keyed = docs.select(
      ($"doc_id" +: col("n_chars") +: exactKeyCols(docs.sparkSession)): _*)
    val keeps = keyed.groupBy(keyNames.map(col): _*)
      .agg(min($"doc_id").as("keep_id"))
    keyed.join(keeps, keyNames)
      .filter($"doc_id" =!= $"keep_id")
      .select($"doc_id")
  }

  /** The DuckDB twin of [[exactDropIds]] as CTE text (`hashed` +
    * `exact_drops`), shared by the survivors/canonical oracles. */
  private def exactDropsCte: String =
    s"""hashed AS (
       |  SELECT doc_id, n_chars,
       |    ${ExactKeyBases.map(b => s"${PolyHash.duckSql("text", b)} AS h$b")
            .mkString(",\n    ")}
       |  FROM documents),
       |exact_drops AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id,
       |      min(doc_id) OVER (PARTITION BY n_chars,
       |        ${ExactKeyBases.map(b => s"h$b").mkString(", ")}) AS keep_id
       |    FROM hashed)
       |  WHERE doc_id != keep_id)""".stripMargin

  /** Exact dedup: survivor = min doc_id per identical text; survivor
    * counts per source. Grouping key is (n_chars, [[ExactKeyBases]]
    * hashes) — NOT the text itself, so the groupBy exchange moves 40
    * bytes of key per document instead of the whole corpus (see the
    * scale notes above). */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .groupBy(col("n_chars") +: exactKeyCols(s): _*)
      .agg(min_by($"source", $"doc_id").as("source"),
        count(lit(1)).as("n_copies"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_survivors"), sum($"n_copies").as("n_docs"))
      .orderBy($"source")
  }

  // CAST(sum(..) AS BIGINT): DuckDB sum(BIGINT) returns HUGEINT, which
  // lands as float64 in the driver's pandas compare — cast restores the
  // BIGINT dtype Spark produces so the hash gate matches.
  val dedupExactSql: String =
    s"""SELECT source, count(*) AS n_survivors,
       |  CAST(sum(n_copies) AS BIGINT) AS n_docs
       |FROM (
       |  SELECT min_by(source, doc_id) AS source, count(*) AS n_copies
       |  FROM documents
       |  GROUP BY n_chars, ${exactKeySql.mkString(",\n    ")})
       |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- ngram

  val NgramN = 3
  val JaccardTau = 0.5

  /** Exploded 62-bit gram-hash rows ([[WordNgramHashes]]) with the
    * blocking key — the posting representation of
    * [[dedupIncrementalOn]]: the exchange carries an 8-byte hash
    * instead of a ~20-byte gram string. */
  private def hashedGramsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.withColumn("hs", WordNgramHashes($"text", NgramN))
      .select($"doc_id", $"lang", expr("n_chars DIV 100").as("lb"),
        explode($"hs").as("gh"))
  }

  private val duckGrams: String =
    s"""SELECT doc_id, lang, lb, len(gs) AS n, unnest(gs) AS gram FROM (
       |    SELECT doc_id, lang, n_chars // 100 AS lb,
       |      list_distinct(${TF.duckNgrams(TF.duckToks, NgramN)}) AS gs
       |    FROM documents)""".stripMargin

  // ---------------------------------------------------- document profile

  /** One document's near-dup profile: its block key (lang, and lb =
    * n_chars DIV 100), the sorted distinct gram hashes of
    * [[WordNgramHashes]] and the [[MinHashK]] signature mins computed
    * from them, h_i = min over grams of ((2i+1)·(gh mod 2^31) +
    * 1000003·i) mod p. The packed hash's low 31 bits are PolyHash base
    * 31, so the mins are the ones the DuckDB oracle folds. A null lang
    * is its own block, as in a DataFrame groupBy; a null lb is
    * [[Postings.NullLb]]. A text without grams (null, empty or under
    * [[NgramN]] tokens) has no postings, so it never pairs. */
  private[operators] final class DocProfile(val lang: String, val lb: Long,
      val grams: Array[Long]) extends Serializable {
    val sig: Array[Long] = Array.tabulate(if (grams.isEmpty) 0 else MinHashK) { i =>
      var m = Long.MaxValue
      var j = 0
      while (j < grams.length) {
        m = math.min(m, ((2L * i + 1) * (grams(j) & 0x7FFFFFFFL) + 1000003L * i) % P)
        j += 1
      }
      m
    }
  }

  /** The profiles of `docs` (doc_id, lang, n_chars, text) keyed by
    * doc_id. One pass: the scan's rows are hash-spread by doc_id across
    * max(session parallelism, scan partitions) — the `documents` file
    * is one row group, so an unspread scan is one task — and each is
    * profiled after the spread. The spread is unconditional (not
    * [[Tables.spread]]'s gated one): the verify reads the profile by
    * doc_id on this same partitioner, so it never shuffles the profile
    * again. Unpersisted: a caller whose verify re-reads it persists it
    * ([[persisted]]). */
  private def profileOf(docs: DataFrame): Profile = {
    val rows = docs.select(col("doc_id").cast("long"), col("lang").cast("string"),
      expr("n_chars DIV 100").cast("long"), col("text")).queryExecution.toRdd
    val part = new HashPartitioner(
      math.max(docs.sparkSession.sparkContext.defaultParallelism, rows.getNumPartitions))
    rows.map { r =>
      if (r.isNullAt(0)) throw new IllegalArgumentException("documents: a null doc_id")
      (r.getLong(0), (if (r.isNullAt(1)) null else r.getUTF8String(1).toString,
        if (r.isNullAt(2)) Postings.NullLb else r.getLong(2),
        if (r.isNullAt(3)) null else r.getUTF8String(3).clone()))
    }.partitionBy(part)
      .mapValues { case (lang, lb, text) =>
        new DocProfile(lang, lb, WordNgramHashes.hashes(text, NgramN))
      }
  }

  private type Profile = RDD[(Long, DocProfile)]

  /** The profile of `docs`, persisted: the pair builds read it three
    * times (postings and both ends of the verify). */
  private def persisted(docs: DataFrame): Profile =
    profileOf(docs).persist(StorageLevel.MEMORY_AND_DISK)

  /** The `documents` profile of (session, dir), built once and shared
    * by [[ngramPairs]] and [[dedupMinHash]]; stamped with the table's
    * [[Tables.fingerprint]], so a rewritten table is re-profiled. */
  private def profile(s: SparkSession, dir: String, stamp: String): Profile =
    profileCache.getOrCompute(s, dir, stamp)(persisted(Tables(s, dir, "documents")))

  private[graft] val profileCache =
    new graft.SessionCache[Profile](onEvict = _.unpersist(blocking = false))

  /** The [[Tables.fingerprint]] of `documents` that stamps the
    * profile, pair and label memos: one driver listing, taken once per
    * public call and passed down. */
  private def documentsStamp(s: SparkSession, dir: String): String =
    Tables.fingerprint(s, dir, "documents")

  // ------------------------------------------------ posting-pair engine

  /** The posting-pair engine's task-side parts. */
  private object Postings {
    /** lb of a document whose n_chars is null: below any n_chars DIV 100. */
    val NullLb: Long = Long.MinValue

    /** A posting key: (lang, lb, gram hash) of an n-gram posting, or
      * (null, band, band key) of a MinHash band bucket. */
    final case class Key(s: String, x: Long, y: Long)

    /** Postings sort by (key, doc_id), so each key's run starts with its
      * minimum id. Any total order that agrees with key equality
      * serves; a null `s` sorts first. */
    implicit object Order extends Ordering[(Key, Long)] {
      def compare(p: (Key, Long), q: (Key, Long)): Int = {
        val (a, b) = (p._1, q._1)
        val c0 = if (a.s eq b.s) 0 else if (a.s == null) -1 else if (b.s == null) 1
          else a.s.compareTo(b.s)
        if (c0 != 0) c0
        else if (a.x != b.x) java.lang.Long.compare(a.x, b.x)
        else if (a.y != b.y) java.lang.Long.compare(a.y, b.y)
        else java.lang.Long.compare(p._2, q._2)
      }
    }

    /** Partitions a (k, _) record by k's hashCode — for a (doc_id, _)
      * pair the partition HashPartitioner puts doc_id in, i.e. the
      * profile's. */
    final class ByFirst(val numPartitions: Int) extends Partitioner {
      def getPartition(key: Any): Int = {
        val m = key.asInstanceOf[Product2[Any, Any]]._1.hashCode % numPartitions
        if (m < 0) m + numPartitions else m
      }
    }

    def gramKeys(p: DocProfile): Iterator[Key] =
      p.grams.iterator.map(Key(p.lang, p.lb, _))

    /** Band b's key: the base-31 polynomial of its 4 signature rows. */
    def bandKeys(p: DocProfile): Iterator[Key] =
      Iterator.range(0, p.sig.length / 4).map { b =>
        val s = p.sig
        Key(null, b, (s(4 * b) * 29791 + s(4 * b + 1) * 961 + s(4 * b + 2) * 31 + s(4 * b + 3)) % P)
      }

    /** The candidate pairs (a < b) of one partition of postings sorted
      * by (key, doc_id). A key with at most `cap` postings pairs all its
      * ids; a longer one pairs its minimum (the run's first id) with
      * every other id as they stream by. A task holds at most cap + 1
      * ids, whatever the run length. */
    def pairs(sorted: Iterator[(Key, Long)], cap: Long): Iterator[(Long, Long)] = {
      val in = sorted.buffered
      var buf = new Array[Long](16)
      Iterator.continually(in.hasNext).takeWhile(identity).flatMap { _ =>
        val key = in.head._1
        var n = 0
        while (n <= cap && in.hasNext && in.head._1 == key) {
          if (n == buf.length) buf = java.util.Arrays.copyOf(buf, 2 * n)
          buf(n) = in.next()._2; n += 1
        }
        if (n <= cap) {
          val ids = buf.take(n)
          for (i <- ids.iterator; j <- ids.iterator if i < j) yield (i, j)
        } else {
          val mn = buf(0)
          val head = buf.iterator.slice(1, n)
          val rest = Iterator.continually(in.hasNext && in.head._1 == key)
            .takeWhile(identity).map(_ => in.next()._2)
          (head ++ rest).filter(_ != mn).map((mn, _))
        }
      }
    }

    /** The keys of one sorted partition holding more than `cap` postings. */
    def hotKeys(sorted: Iterator[(Key, Long)], cap: Long): Long = {
      var hot = 0L
      var key: Key = null
      var n = 0L
      sorted.foreach { case (k, _) =>
        if (key == null || k != key) { key = k; n = 0 }
        n += 1
        if (n == cap + 1) hot += 1
      }
      hot
    }

    /** |A ∩ B| of two sorted distinct arrays, by merge. */
    def shared(a: Array[Long], b: Array[Long]): Int = {
      var (i, j, n) = (0, 0, 0)
      while (i < a.length && j < b.length) {
        if (a(i) < b(j)) i += 1
        else if (a(i) > b(j)) j += 1
        else { n += 1; i += 1; j += 1 }
      }
      n
    }

    /** The grams of every profile in one partition, by doc_id. */
    def gramsById(docs: Iterator[(Long, DocProfile)]): scala.collection.mutable.LongMap[Array[Long]] = {
      val m = scala.collection.mutable.LongMap.empty[Array[Long]]
      docs.foreach { case (id, p) => m.update(id, p.grams) }
      m
    }

    /** (a, b, raw Jaccard) of a verified pair, or None when the sizes
      * alone rule it out: jaccard ≤ min/max, with half-ulp slack
      * (τ − 0.00005) because the final filter compares the ROUNDED
      * jaccard. */
    def jaccard(a: Long, ga: Array[Long], b: Long, gb: Array[Long]): Option[InternalRow] = {
      val (na, nb) = (ga.length, gb.length)
      if (math.min(na, nb) < (JaccardTau - 0.00005) * math.max(na, nb)) None
      else {
        val sh = shared(ga, gb)
        Some(InternalRow(a, b, sh.toDouble / (na + nb - sh)))
      }
    }
  }

  /** The engine's postings: every profile's `keys` paired with its
    * doc_id, shuffled by key and sorted by (key, doc_id) within each
    * partition. */
  private def postingsOf(prof: Profile)(keys: DocProfile => Iterator[Postings.Key])
      : RDD[(Postings.Key, Long)] = {
    val byKey = new Postings.ByFirst(prof.getNumPartitions)
    import Postings.Order
    prof.flatMap { case (id, p) => keys(p).map(k => ((k, id), ())) }
      .repartitionAndSortWithinPartitions(byKey)
      .map(_._1)
  }

  /** The distinct candidate pairs (a_id < b_id) of sorted postings
    * under `cap` ([[Postings.pairs]]), partitioned like the profile by
    * a_id. */
  private def candidatePairs(postings: RDD[(Postings.Key, Long)], cap: Long)
      : RDD[(Long, Long)] =
    postings.mapPartitions(Postings.pairs(_, cap)).map((_, ()))
      .reduceByKey(new Postings.ByFirst(postings.getNumPartitions), (_, _) => ())
      .keys

  /** The verify: both ends of every candidate pair read their gram sets
    * from the profile — a by a_id on the candidates' own partitioning,
    * b after one shuffle of (b, a, grams of a) by b_id — and a pair the
    * size ratio admits gets its exact Jaccard by a merge of the two
    * sorted arrays. Rows (a_id, b_id, jaccard) carry the raw ratio; the
    * callers round it. */
  private def verifiedRows(s: SparkSession, prof: Profile, cands: RDD[(Long, Long)])
      : DataFrame = {
    val withA = cands.zipPartitions(prof) { (ps, docs) =>
      val grams = Postings.gramsById(docs)
      ps.map { case (a, b) => (b, (a, grams(a))) }
    }
    val rows = withA.partitionBy(prof.partitioner.get).zipPartitions(prof) { (ps, docs) =>
      val grams = Postings.gramsById(docs)
      ps.flatMap { case (b, (a, ga)) => Postings.jaccard(a, ga, b, grams(b)) }
    }
    GraftShims.internalCreateDataFrame(s, rows, JaccardSchema)
  }

  /** The candidate pairs (a_id, b_id) of `docs`' profile under `cap`;
    * the profile is read once, so it is not persisted. */
  private def candidatesOf(docs: DataFrame, cap: Long)
      (keys: DocProfile => Iterator[Postings.Key]): DataFrame =
    GraftShims.internalCreateDataFrame(docs.sparkSession,
      candidatePairs(postingsOf(profileOf(docs))(keys), cap)
        .map { case (a, b) => InternalRow(a, b) },
      StructType(JaccardSchema.take(2)))

  private val JaccardSchema = StructType(Seq(
    StructField("a_id", LongType, nullable = false),
    StructField("b_id", LongType, nullable = false),
    StructField("jaccard", DoubleType, nullable = false)))

  /** Pairs at round(jaccard, 4) ≥ [[JaccardTau]]. */
  private def atTau(rows: DataFrame): DataFrame =
    rows.select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
      .filter(col("jaccard") >= JaccardTau)

  /** Document-frequency cap for n-gram CANDIDATE GENERATION: a gram
    * present in more than this many documents of one block is excluded
    * from the all-pairs posting-list expansion — one such gram in a
    * block otherwise contributes df² candidate pairs, the posting-list
    * quadratic blow-up that kills the join at 100 TB.
    *
    * Over-cap grams are NOT silently dropped: they fall back to a STAR
    * expansion — each member pairs with the gram's minimum doc_id (df
    * pairs, linear) — so a near-dup cluster with more members than the
    * cap (mirrored SEO spam, mass-copied articles: exactly the heavy
    * clusters a 100-TB dedup exists for) still gets candidates, where a
    * drop-only cap would emit zero pairs for it once every shared gram's
    * df exceeded the cap. Verification stays EXACT over full gram sets,
    * so precision is unaffected.
    *
    * Remaining documented recall caveat: within an over-cap cluster the
    * reported PAIR LIST is the representative star, not all τ-pairs — a
    * member whose Jaccard to the representative is < τ (but ≥ τ to some
    * other member) is only found if they also share an under-cap gram.
    * For the downstream [[dedupSurvivors]] drop (keep lowest id of each
    * pair) the star is the useful shape anyway: every verified member
    * collapses onto the representative. DedupSpec covers both the
    * candidate reduction on boilerplate AND the >cap near-identical
    * cluster (the round-2 advisor's blind spot). */
  val NgramDfCap = 64L

  /** The n-gram candidate (a_id, b_id) pairs of `docs` under the
    * document-frequency cap `dfCap`: the posting-pair engine over the
    * documents' profile, with one posting per (lang, n_chars DIV 100,
    * gram hash). Blocking on (lang, length bucket) because similar
    * sizes are a precondition of J ≥ τ; the operator for pairs whose
    * sizes DIFFER is [[dedupContainmentOn]]. Public so DedupSpec and
    * the benchmark can count what the cap buys on boilerplate. */
  def ngramCandidates(docs: DataFrame, dfCap: Long): DataFrame =
    candidatesOf(docs, dfCap)(Postings.gramKeys)

  /** N-gram Jaccard near-dup pairs within blocks, over the profile of
    * `docs` (see [[ngramPairs]]). */
  def dedupNgramOn(docs: DataFrame, dfCap: Long = NgramDfCap): DataFrame =
    ngramPairsOf(docs.sparkSession, persisted(docs), dfCap).orderBy(col("a_id"), col("b_id"))

  /** The verified n-gram pairs of a profile under `dfCap`. */
  private def ngramPairsOf(s: SparkSession, prof: Profile, dfCap: Long): DataFrame =
    atTau(verifiedRows(s, prof, candidatePairs(postingsOf(prof)(Postings.gramKeys), dfCap)))

  /** The verified n-gram near-dup pair list (a_id, b_id, jaccard) of
    * (session, dir), MATERIALIZED ONCE and shared by every consumer —
    * [[dedupNgram]], [[dedupComponents]], [[dedupCanonical]],
    * [[dedupSurvivors]] each need the same result.
    *
    * It is the posting-pair engine over the memoized `documents`
    * profile ([[DocProfile]]): every gram hash of a document is a
    * posting keyed (lang, n_chars DIV 100, gram); one shuffle sorts
    * the postings by (key, doc_id), and each key's run pairs all its
    * ids under [[NgramDfCap]], else stars its minimum against the rest
    * ([[Postings.pairs]]). The distinct pairs are verified by EXACT
    * Jaccard over the full gram-hash sets, after a lossless size-ratio
    * prefilter ([[verifiedRows]]). The whole build — profile, postings,
    * pairs, verify — is one Spark job.
    *
    * `localCheckpoint` (eager) truncates the plan to the materialized
    * rows. [[graft.SessionCache]] lifecycle: the entry is stamped with
    * the table's [[Tables.fingerprint]], so a rewritten `documents`
    * rebuilds; LRU eviction only drops the entry and leaves the blocks
    * to the ContextCleaner (a still-held frame stays executable:
    * localCheckpoint truncated its lineage, so unpersisting under it
    * would fail later executions), and [[clearPairCache]] drops and
    * releases everything, the profile included (perfbench clears it
    * before every job, so each job pays the build exactly once).
    * DedupSpec exercises the eviction and the rewrite. */
  def ngramPairs(s: SparkSession, dir: String): DataFrame =
    ngramPairs(s, dir, documentsStamp(s, dir))

  private def ngramPairs(s: SparkSession, dir: String, stamp: String): DataFrame =
    pairCache.getOrCompute(s, dir, stamp) {
      ngramPairsOf(s, profile(s, dir, stamp), NgramDfCap).localCheckpoint()
    }

  private[graft] val pairCache =
    new graft.SessionCache[DataFrame](onClear = releaseCheckpoint)

  /** The block-backed RDD of an eagerly localCheckpoint'ed frame, if
    * the plan shape is the expected LogicalRDD leaf. */
  private def checkpointRdd(df: DataFrame) =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Release a checkpointed frame's storage NOW rather than waiting for
    * the context cleaner to notice unreachability — localCheckpoint
    * persists its RDD, so unpersisting that RDD frees the blocks. */
  private[operators] def releaseCheckpoint(df: DataFrame): Unit =
    try if (!df.sparkSession.sparkContext.isStopped)
      checkpointRdd(df).foreach(_.unpersist(blocking = false))
    catch { case scala.util.control.NonFatal(_) => () }

  /** Whether the frame's checkpoint blocks are still registered — spec
    * hook for asserting eviction actually released storage. */
  private[graft] def checkpointLive(df: DataFrame): Boolean =
    checkpointRdd(df).exists(r =>
      r.sparkContext.getPersistentRDDs.contains(r.id))

  /** Drop all materialized pair lists and document profiles (the next
    * [[ngramPairs]] or [[dedupMinHash]] rebuilds them). */
  def clearPairCache(): Unit = {
    pairCache.clear()
    profileCache.clear()
  }

  def dedupNgram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ngramPairs(s, dir).orderBy($"a_id", $"b_id")
  }

  // Mirrors the hashed pipeline: grams → 62-bit packed dual-base hashes
  // (identical fold, WordNgramHashes.duckSql), DISTINCT per doc, then the
  // same df-capped candidates + exact hash-set Jaccard.
  //
  // gh/gdf are MATERIALIZED (round-12, the sf1 oracle-timeout fix):
  // DuckDB 1.0 inlines plain CTEs at every reference, and gh — whose
  // body is the full tokenize→n-gram→dual-base-hash fold over the
  // corpus, the most expensive scalar pipeline in any oracle — is
  // referenced five times here (sizes, gdf, rare, and both legs of
  // shared), so the oracle re-ran the fold five times and blew the sf1
  // budget on pure recomputation. Forcing one materialization is a
  // pure oracle-side speedup: same rows, same hash gate.
  val dedupNgramSql: String =
    s"""WITH grams AS ($duckGrams),
       |gh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, lang, lb,
       |    ${WordNgramHashes.duckSql("gram")} AS gh
       |  FROM grams),
       |sizes AS (SELECT doc_id, count(*) AS n FROM gh GROUP BY doc_id),
       |gdf AS MATERIALIZED (
       |  SELECT lang, lb, gh, count(*) AS df, min(doc_id) AS mn
       |  FROM gh GROUP BY lang, lb, gh),
       |rare AS (
       |  SELECT g.* FROM gh g JOIN gdf d USING (lang, lb, gh)
       |  WHERE d.df <= $NgramDfCap),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM rare a JOIN rare b
       |    ON a.lang = b.lang AND a.lb = b.lb AND a.gh = b.gh
       |    AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT DISTINCT d.mn AS a_id, g.doc_id AS b_id
       |  FROM gh g JOIN gdf d USING (lang, lb, gh)
       |  WHERE d.df > $NgramDfCap AND g.doc_id != d.mn),
       |shared AS (
       |  SELECT a_id, b_id, count(*) AS sh
       |  FROM cand
       |  JOIN gh ga ON ga.doc_id = a_id
       |  JOIN gh gb ON gb.doc_id = b_id AND ga.gh = gb.gh
       |  GROUP BY a_id, b_id)
       |SELECT a_id, b_id, jaccard FROM (
       |  SELECT a_id, b_id,
       |    round(CAST(sh AS DOUBLE) / (sa.n + sb.n - sh), 4) AS jaccard
       |  FROM shared
       |  JOIN sizes sa ON a_id = sa.doc_id
       |  JOIN sizes sb ON b_id = sb.doc_id)
       |WHERE jaccard >= $JaccardTau
       |ORDER BY a_id, b_id""".stripMargin

  // ------------------------------------------------------- source census

  /** Cross-source near-duplication census — the provenance-granularity
    * dedup report (RefinedWeb, Penedo 2023, runs the same census at URL/
    * host granularity; this schema's provenance key is `source`): for
    * every unordered source pair, how many verified near-dup pairs
    * ([[ngramPairs]], exact-Jaccard ≥ τ) cross them, with max/avg
    * similarity. The diagonal (src_a = src_b) is each source's internal
    * near-dup load; off-diagonal rows are the source-to-source copy
    * matrix — which feeds drive dedup budgets and mixing decisions
    * (a source that is 90 % near-dups of another adds no new tokens).
    *
    * Exactness discipline: jaccards aggregate as integer
    * ten-thousandths (the values are already round(·,4), so ·10⁴ is an
    * integer up to float noise and `round(·,0)` strips it) — order-free
    * exact sums, one final division per group, identical IEEE result in
    * both engines (the [[graft.operators.Similarity]] label-spread vote
    * discipline).
    *
    * Scale shape: the pair list is the already-sub-quadratic
    * candidate+verify output, materialized once per (session, dir) and
    * shared with every other consumer; the two source-attach joins
    * shuffle only (a_id, b_id, j_e4) rows keyed by doc_id — AQE is free
    * to broadcast the pair side when it is small relative to the
    * corpus; the final aggregate is ≤ |sources|² rows. Nothing here
    * touches text or gram sets again. */
  def dedupSourceCensus(s: SparkSession, dir: String): DataFrame =
    dedupSourceCensusOn(Tables(s, dir, "documents"), ngramPairs(s, dir))

  /** The census over any (a_id, b_id, jaccard) pair frame — public so
    * DedupSpec can drive crafted corpora through it. */
  def dedupSourceCensusOn(docs: DataFrame, pairs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val src = docs.select($"doc_id", $"source")
    pairs
      .join(src.select($"doc_id".as("a_id"), $"source".as("sa")), "a_id")
      .join(src.select($"doc_id".as("b_id"), $"source".as("sb")), "b_id")
      .select(least($"sa", $"sb").as("src_a"),
        greatest($"sa", $"sb").as("src_b"),
        round($"jaccard" * 10000, 0).cast("long").as("j_e4"))
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("dup_pairs"),
        sum($"j_e4").as("j_sum"), max($"j_e4").as("j_max"))
      .select($"src_a", $"src_b", $"dup_pairs",
        round($"j_max" / lit(10000.0), 4).as("max_jaccard"),
        round($"j_sum".cast("double") / (lit(10000.0) * $"dup_pairs"), 4)
          .as("avg_jaccard"))
      .orderBy($"src_a", $"src_b")
  }

  val dedupSourceCensusSql: String =
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT a_id, b_id, jaccard
       |  FROM (${dedupNgramSql.replace("ORDER BY a_id, b_id", "")})),
       |lab AS (
       |  SELECT least(sa.source, sb.source) AS src_a,
       |    greatest(sa.source, sb.source) AS src_b,
       |    CAST(round(jaccard * 10000, 0) AS BIGINT) AS j_e4
       |  FROM pairs
       |  JOIN documents sa ON a_id = sa.doc_id
       |  JOIN documents sb ON b_id = sb.doc_id)
       |SELECT src_a, src_b, count(*) AS dup_pairs,
       |  round(max(j_e4) / 10000.0, 4) AS max_jaccard,
       |  round(CAST(sum(j_e4) AS DOUBLE) / (10000.0 * count(*)), 4)
       |    AS avg_jaccard
       |FROM lab GROUP BY src_a, src_b
       |ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------- containment

  val ContainmentTau = 0.8
  /** ⌈τ'·n⌉ numerator/denominator for the prefix bound, with τ' =
    * [[ContainmentTau]] − 0.00005 (the verify filter's rounded-compare
    * slack) as an exact rational — see the integer-ceil note in
    * [[dedupContainmentOn]]. */
  private val ContainNum = 79995L
  private val ContainDen = 100000L

  /** N-gram CONTAINMENT near-dup pairs: C(a,b) = |A∩B| / min(|A|,|B|)
    * ≥ τ — the asymmetric complement of [[dedupNgramOn]]'s Jaccard. A
    * short document quoted wholesale inside a longer one (press-release
    * reposts with added commentary, quoted posts, boilerplate-wrapped
    * articles — the inclusion dups a pretraining corpus actually has)
    * scores high containment but LOW Jaccard: the very size skew that
    * Jaccard's lossless min/max prefilter discards is the pair class
    * this operator exists to find. Consequently the candidate stage
    * blocks on lang alone (no length bucket — inclusion pairs sit in
    * different buckets by construction).
    *
    * Candidate generation is PREFIX-FILTERED (Bayardo/Ma/Srikant,
    * "Scaling Up All Pairs Similarity Search", WWW 2007): under a
    * global rarest-first gram order (df asc, hash asc), if
    * |A∩B| ≥ ⌈τ·|A|⌉ with |A| the smaller set, then among A's first
    * |A| − ⌈τ'·|A|⌉ + 1 grams at least one is in B (pigeonhole; τ' is
    * the half-ulp-slackened τ so the rounded verify filter can't
    * out-accept the generator) — so only each doc's short PREFIX
    * probes the inverted index, and each pair is generated once, from
    * its smaller side (ties by doc_id). Because ranking is restricted
    * to the under-cap sub-universe, the pigeonhole applies WITHIN it:
    * any pair with ≥ ⌈τ'·min⌉ shared UNDER-CAP grams is guaranteed
    * generated; pairs whose margin rides on over-cap boilerplate
    * reduce to the star-representative caveat — exactly the
    * [[NgramDfCap]] class already documented for Jaccard. Prefixes
    * hold each doc's RAREST grams, so boilerplate grams (the df² risk)
    * almost never probe and the equi-join runs over mostly-tiny
    * posting lists (measured candidate reduction asserted in
    * DedupSpec; sf0.1 operator time in SURVEY §8d). Verification is
    * the same exact hash-set intersection, so precision is exact. The
    * gram frame is persisted across its three consumers (df agg,
    * probe ranking, index join) and reclaimed by the context cleaner
    * — the [[labelsOf]] pattern. */
  /** The prefix-filtered candidate (a_id, b_id) pairs — public so
    * DedupSpec can measure the reduction the prefix buys over plain
    * share-a-gram generation, and check losslessness against a
    * brute-force verify. */
  def containmentCandidates(docs: DataFrame, dfCap: Long): DataFrame = {
    import docs.sparkSession.implicits._
    // gram rows carrying the doc's distinct-gram count n
    val g = docs.withColumn("hs", WordNgramHashes($"text", NgramN))
      .withColumn("n", size($"hs"))
      .select($"doc_id", $"lang", $"n", explode($"hs").as("gh"))
      .persist()
    // exact df + posting min per (lang, gram) — one shuffle, O(1) state
    val gdf = g.groupBy($"lang", $"gh")
      .agg(count(lit(1)).as("df"), min($"doc_id").as("mn"))
    // (r15 measured: persisting this df-attached frame — 3 consumers —
    // was 77.6 → 137.2 s at sf10: the columnar cache build plus the
    // lost codegen fusion cost more than the recomputed join. Left
    // recomputed deliberately.)
    val withDf = g.join(gdf, Seq("lang", "gh"))
    // rarest-first rank of each doc's UNDER-CAP grams; prefix = first
    // n − t + 1 with t = ⌈τ'·n⌉ computed in EXACT integer arithmetic
    // (a floating ceil(0.8·5) is ceil(4.0000000000000002) = 5 and
    // silently shrinks the prefix below the lossless size) and τ' the
    // half-ulp-slackened τ, because the verify filter compares the
    // ROUNDED containment — a pair at true C ∈ [τ−0.00005, τ) rounds
    // up to τ and must still be generated. Window is per-doc: state
    // bounded by doc size.
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"df", $"gh")
    val prefixEnd =
      $"n" - expr(s"($ContainNum * n + ${ContainDen - 1}) DIV $ContainDen") + 1
    val probes = withDf.filter($"df" <= dfCap)
      .withColumn("rk", row_number().over(byDoc))
      .filter($"rk" <= prefixEnd)
      .select($"lang", $"gh", $"doc_id".as("a_id"), $"n".as("na"))
    // probe the under-cap inverted index from the smaller side only
    val underCap = withDf.filter($"df" <= dfCap)
      .select($"lang", $"gh", $"doc_id".as("b_id"), $"n".as("nb"))
    val prefixPairs = probes.join(underCap, Seq("lang", "gh"))
      .filter($"na" < $"nb" || ($"na" === $"nb" && $"a_id" < $"b_id"))
      .select(least($"a_id", $"b_id").as("a_id"),
        greatest($"a_id", $"b_id").as("b_id"))
    // over-cap grams: linear star against the posting min (backstop)
    val starPairs = withDf.filter($"df" > dfCap)
      .filter($"doc_id" =!= $"mn")
      .select(least($"mn", $"doc_id").as("a_id"),
        greatest($"mn", $"doc_id").as("b_id"))
    prefixPairs.union(starPairs).distinct()
  }

  def dedupContainmentOn(docs: DataFrame, dfCap: Long = NgramDfCap): DataFrame = {
    import docs.sparkSession.implicits._
    val sets = docs.withColumn("hs", WordNgramHashes($"text", NgramN))
      .select($"doc_id", $"hs", size($"hs").as("n"))
    val out = containmentCandidates(docs, dfCap)
      .join(sets.select($"doc_id".as("a_id"), $"hs".as("ha"), $"n".as("na")), "a_id")
      .join(sets.select($"doc_id".as("b_id"), $"hs".as("hb"), $"n".as("nb")), "b_id")
      .withColumn("shared", size(array_intersect($"ha", $"hb")))
      .withColumn("containment",
        round($"shared".cast("double") / least($"na", $"nb"), 4))
      .filter($"containment" >= ContainmentTau)
      .select($"a_id", $"b_id", $"containment")
      .orderBy($"a_id", $"b_id")
    out
  }

  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    dedupContainmentOn(Tables(s, dir, "documents"))

  // Same hashed pipeline as the Jaccard oracle, blocked on lang only;
  // the prefix filter (rarest-first rank, integer ⌈τ'·n⌉ bound) and
  // the smaller-side generation rule are reproduced fold-for-fold.
  // gh/sizes/gdf/undercap are MATERIALIZED: gh is referenced six times
  // downstream and DuckDB's per-reference inlining re-ran the gram
  // hashing + DISTINCT each time — one of the round-12 sf10 oracle
  // timeouts (the EntityResolution duckPairs lesson).
  val dedupContainmentSql: String =
    s"""WITH grams AS ($duckGrams),
       |gh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, lang,
       |    ${WordNgramHashes.duckSql("gram")} AS gh
       |  FROM grams),
       |sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM gh GROUP BY doc_id),
       |gdf AS MATERIALIZED (
       |  SELECT lang, gh, count(*) AS df, min(doc_id) AS mn
       |  FROM gh GROUP BY lang, gh),
       |undercap AS MATERIALIZED (
       |  SELECT g.doc_id, g.lang, g.gh, d.df, s.n
       |  FROM gh g JOIN gdf d USING (lang, gh) JOIN sizes s USING (doc_id)
       |  WHERE d.df <= $NgramDfCap),
       |probes AS (
       |  SELECT lang, gh, doc_id AS a_id, n AS na FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY df, gh) AS rk
       |    FROM undercap)
       |  WHERE rk <= n - (($ContainNum * n + ${ContainDen - 1}) // $ContainDen) + 1),
       |cand AS (
       |  SELECT DISTINCT least(a_id, b.doc_id) AS a_id,
       |    greatest(a_id, b.doc_id) AS b_id
       |  FROM probes p JOIN undercap b
       |    ON p.lang = b.lang AND p.gh = b.gh
       |    AND (p.na < b.n OR (p.na = b.n AND p.a_id < b.doc_id))
       |  UNION
       |  SELECT DISTINCT least(d.mn, g.doc_id), greatest(d.mn, g.doc_id)
       |  FROM gh g JOIN gdf d USING (lang, gh)
       |  WHERE d.df > $NgramDfCap AND g.doc_id != d.mn),
       |docg AS MATERIALIZED (
       |  SELECT doc_id, list(gh) AS gs, count(*) AS n FROM gh GROUP BY doc_id),
       |shared AS (
       |  SELECT c.a_id, c.b_id,
       |    len(list_intersect(ga.gs, gb.gs)) AS sh, ga.n AS na, gb.n AS nb
       |  FROM cand c
       |  JOIN docg ga ON ga.doc_id = c.a_id
       |  JOIN docg gb ON gb.doc_id = c.b_id)
       |SELECT a_id, b_id, containment FROM (
       |  SELECT a_id, b_id,
       |    round(CAST(sh AS DOUBLE) / least(na, nb), 4) AS containment
       |  FROM shared)
       |WHERE containment >= $ContainmentTau
       |ORDER BY a_id, b_id""".stripMargin

  // -------------------------------------------------------------- minhash

  val MinHashK = 16 // signature length
  val Bands = 4     // 4 bands × 4 rows

  /** Occupancy cap for a single (band, bkey) LSH bucket — the same
    * bounded-state discipline as [[NgramDfCap]]/[[HotBlockCap]], closing
    * the one unbounded fanout the engine had left (round-13 verdict #1).
    * A post-exact-dedup viral near-identical group of n documents
    * (template boilerplate — precisely what MinHash exists to catch)
    * lands all n members in ONE bucket of every matching band, and the
    * uncapped self-join emits n²/2 candidate pairs per band: the
    * job-killer shape at 100 TB, and measured at sf10 as the 26.8 M-pair
    * verify volume that put the single-node oracle over its spill cap.
    *
    * Buckets at or under the cap keep the exact all-pairs expansion;
    * over-cap buckets fall back to the linear STAR against the bucket's
    * minimum doc_id (the [[NgramDfCap]]/containment backstop), so the
    * duplicate COMPONENT survives — every member still verifies against
    * the representative — while candidate volume stays O(n). The count
    * of over-cap buckets rides along as the constant `n_hot_buckets`
    * census column (the [[dedupSpansOn]] `n_dropped_seeds` precedent):
    * non-zero tells the user the pair list inside hot groups is the
    * representative star, not all τ-pairs. Verification stays exact, so
    * precision is unaffected; the oracle SQL mirrors the cap
    * fold-for-fold, so the compare is decidable at every scale. */
  val BandBucketCap = 64L

  /** MinHash+LSH near-dup pairs over the memoized `documents` profile
    * (the one [[ngramPairs]] builds): see [[dedupMinHashOn]]. */
  def dedupMinHash(s: SparkSession, dir: String): DataFrame =
    minHashPairsOf(s, profile(s, dir, documentsStamp(s, dir)), BandBucketCap)

  /** The band-bucket candidate (a_id, b_id) pairs under `bucketCap` —
    * public so DedupSpec can plant a viral near-identical group and
    * assert the star fallback bounds candidate volume while preserving
    * the component (the [[containmentCandidates]] precedent). */
  def minHashCandidates(docs: DataFrame, bucketCap: Long): DataFrame =
    candidatesOf(docs, bucketCap)(Postings.bandKeys)

  /** MinHash+LSH near-dup pairs of `docs`: the posting-pair engine over
    * the documents' profile ([[DocProfile]]), with one posting per
    * (band, band key) of the [[MinHashK]]-min signature. Buckets of at
    * most `bucketCap` documents pair all their members, larger ones
    * star their minimum against the rest ([[BandBucketCap]]); the
    * distinct candidates are verified by exact Jaccard over the full
    * gram-hash sets, as in [[ngramPairs]]. `n_hot_buckets` counts the
    * over-cap buckets of the sorted postings themselves, so a retried
    * task cannot count twice; a left join from that one-row census
    * keeps a row when no pair verifies. */
  def dedupMinHashOn(docs: DataFrame, bucketCap: Long): DataFrame =
    minHashPairsOf(docs.sparkSession, persisted(docs), bucketCap)

  private def minHashPairsOf(s: SparkSession, prof: Profile, bucketCap: Long): DataFrame = {
    import s.implicits._
    val postings = postingsOf(prof)(Postings.bandKeys)
    val census = GraftShims.internalCreateDataFrame(s,
      postings.mapPartitions(p => Iterator((0, Postings.hotKeys(p, bucketCap))))
        .reduceByKey(new HashPartitioner(1), _ + _)
        .map { case (_, n) => InternalRow(n) },
      StructType(Seq(StructField("n_hot_buckets", LongType, nullable = false))))
    val verified = atTau(verifiedRows(s, prof, candidatePairs(postings, bucketCap)))
    census.join(verified, lit(true), "left")
      .select($"a_id", $"b_id", $"jaccard", $"n_hot_buckets")
      .orderBy($"a_id", $"b_id")
  }

  // Mirrors the hashed pipeline: the packed 62-bit gram hash's low 31
  // bits (gh % 2^31) are PolyHash base 31, i.e. the original signature
  // input; the verify joins intersect hash sets.
  val dedupMinHashSql: String = {
    // columnar signature: one grouped pass with MinHashK min-aggregates
    // (the dedupSimHashSql 62-conditional-sum discipline) — the earlier
    // `gh CROSS JOIN range(0, K)` form exploded the gram rows K× before
    // aggregating (billions of rows at sf10; with the un-MATERIALIZED gh
    // re-running the gram fold four times on top, the isolated sf10
    // oracle hit a 69 GB spill cap). Same integer math per i, order-free
    // mins, band keys composed column-wise. The verify stage intersects
    // per-doc DISTINCT gram-set LISTS (docg, one ~56-element list per
    // doc) instead of expanding candidate × gram rows through a 3-way
    // join + re-aggregate: the expansion form's ~1e9-row intermediate
    // was at the mercy of DuckDB's join-order estimates, while the list
    // intersect keeps both join builds at |docs| rows and the per-pair
    // work native. |intersection| over distinct sets ≡ the old
    // count(*)-of-matching-gram-pairs, so the jaccard is unchanged.
    val minCols = (0 until MinHashK).map(i =>
      s"min(((2*$i+1)*(gh % 2147483648) + 1000003*$i) % $P) AS s$i")
      .mkString(",\n    ")
    val bandCols = (0 until MinHashK / 4).map(b =>
      s"(s${4 * b}*29791 + s${4 * b + 1}*961 + s${4 * b + 2}*31 + s${4 * b + 3}) % $P AS bk$b")
      .mkString(",\n    ")
    val bandRows = (0 until MinHashK / 4).map(b =>
      s"SELECT doc_id, $b AS band, bk$b AS bkey FROM sigb")
      .mkString("\n  UNION ALL ")
    s"""WITH grams AS ($duckGrams),
       |gh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, ${WordNgramHashes.duckSql("gram")} AS gh
       |  FROM grams),
       |sigw AS MATERIALIZED (
       |  SELECT doc_id,
       |    $minCols
       |  FROM gh GROUP BY doc_id),
       |sigb AS (
       |  SELECT doc_id,
       |    $bandCols
       |  FROM sigw),
       |band AS MATERIALIZED (
       |  $bandRows),
       |occ AS MATERIALIZED (
       |  SELECT band, bkey, count(*) AS occ, min(doc_id) AS mn
       |  FROM band GROUP BY band, bkey),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM band a JOIN band b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  JOIN occ o ON o.band = a.band AND o.bkey = a.bkey
       |  WHERE o.occ <= $BandBucketCap
       |  UNION
       |  SELECT DISTINCT least(o.mn, g.doc_id), greatest(o.mn, g.doc_id)
       |  FROM band g JOIN occ o ON o.band = g.band AND o.bkey = g.bkey
       |  WHERE o.occ > $BandBucketCap AND g.doc_id != o.mn),
       |census AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_hot_buckets
       |  FROM occ WHERE occ > $BandBucketCap),
       |docg AS MATERIALIZED (
       |  SELECT doc_id, list(gh) AS gs, count(*) AS n FROM gh GROUP BY doc_id),
       |shared AS (
       |  SELECT c.a_id, c.b_id,
       |    len(list_intersect(ga.gs, gb.gs)) AS sh, ga.n AS na, gb.n AS nb
       |  FROM cand c
       |  JOIN docg ga ON ga.doc_id = c.a_id
       |  JOIN docg gb ON gb.doc_id = c.b_id),
       |verified AS (
       |  SELECT a_id, b_id, jaccard FROM (
       |    SELECT a_id, b_id,
       |      round(CAST(sh AS DOUBLE) / (na + nb - sh), 4) AS jaccard
       |    FROM shared)
       |  WHERE jaccard >= $JaccardTau)
       |SELECT v.a_id, v.b_id, v.jaccard, c.n_hot_buckets
       |FROM census c LEFT JOIN verified v ON true
       |ORDER BY a_id, b_id""".stripMargin
  }

  // -------------------------------------------------------------- simhash

  val HammingTau = 3

  /** Fingerprint block boundaries: 6 sub-fields of the 62-bit simhash,
    * each ≤ 11 bits. */
  private val SimBlocks = Seq((0, 11), (11, 22), (22, 33), (33, 43), (43, 53), (53, 62))
  /** Candidate tables: every 3-of-6 block combination. Pigeonhole: ≤ 3
    * differing bits fall in ≤ 3 blocks ⇒ some 3 blocks are equal ⇒ the
    * pair shares that combination's table key. */
  private val SimCombos = (0 until SimBlocks.size).combinations(HammingTau).toSeq

  /** SimHash near-dup pairs: codegen'd 62-bit fingerprint, then the
    * Manku-style block-combination candidate join at Hamming ≤ 3.
    *
    * Naive 4×16-bit single-chunk blocking is quadratic on correlated
    * corpora: shared vocabulary makes whole 16-bit chunks collide
    * corpus-wide (measured: one bucket held 22% of sf0.1 docs → 1.7M
    * candidate pairs). Keying each of the C(6,3)=20 tables on a ~33-bit
    * THREE-block concatenation keeps the pigeonhole recall guarantee
    * while cutting candidates 18× (96k at sf0.1) — the difference
    * between a quadratic blow-up and a bounded equi-join at 100 TB.
    * Residual viral groups (identical fingerprints put n docs in ONE
    * bucket of all 20 tables) get the same [[BandBucketCap]] occupancy
    * cap + min-id star fallback + `n_hot_buckets` census as minhash. */
  def dedupSimHash(s: SparkSession, dir: String): DataFrame =
    dedupSimHashOn(Tables(s, dir, "documents"), BandBucketCap)

  def dedupSimHashOn(docs: DataFrame, bucketCap: Long): DataFrame = {
    import docs.sparkSession.implicits._
    val fps = docs
      .select($"doc_id", SimHash64(TF.toks(lower($"text"))).as("fp"))
      // three consumers (keys, star fa, star fb) — the labelsOf pattern:
      // persisted across them, reclaimed by the context cleaner
      .persist()
    def block(lo: Int, hi: Int) =
      expr(s"shiftright(fp, $lo) & ${(1 << (hi - lo)) - 1}")
    val keyCols = SimCombos.zipWithIndex.map { case (combo, cid) =>
      val key = combo.map(i => block(SimBlocks(i)._1, SimBlocks(i)._2))
        .reduce((a, b) => a * lit(2048L) + b) // pack: each block < 2^11
      struct(lit(cid).as("cid"), key.as("key"))
    }
    val keys = fps.select($"doc_id", $"fp",
        explode(array(keyCols: _*)).as("ck"))
      .select($"doc_id", $"fp", $"ck.cid".as("cid"), $"ck.key".as("key"))
    val occ = keys.groupBy($"cid", $"key")
      .agg(count(lit(1)).as("occ"), min($"doc_id").as("mn"))
    val withOcc = keys.join(occ, Seq("cid", "key"))
    // verify BEFORE the distinct (the ER linkPairs discipline): the
    // Hamming filter runs on the streaming join output, so the dedup
    // exchange sees only VERIFIED pairs (~1/20 of candidates here; at
    // sf1 the difference is an oracle that finishes vs one that spills
    // ~100 GB materializing every hot-bucket candidate for DISTINCT).
    // hamming is a function of the pair, so distinct semantics match.
    val under = withOcc.filter($"occ" <= bucketCap)
      .select($"cid", $"key", $"doc_id", $"fp").as("a")
      .join(withOcc.filter($"occ" <= bucketCap)
        .select($"cid", $"key", $"doc_id", $"fp").as("b"),
        $"a.cid" === $"b.cid" && $"a.key" === $"b.key" &&
        $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"),
        expr("bit_count(a.fp ^ b.fp)").as("hamming"))
    // over-cap buckets: linear star against the bucket min, Hamming
    // verified against the representative's fingerprint
    val star = withOcc.filter($"occ" > bucketCap && $"doc_id" =!= $"mn")
      .select(least($"mn", $"doc_id").as("a_id"),
        greatest($"mn", $"doc_id").as("b_id"))
      .distinct()
      .join(fps.select($"doc_id".as("a_id"), $"fp".as("fa")), "a_id")
      .join(fps.select($"doc_id".as("b_id"), $"fp".as("fb")), "b_id")
      .select($"a_id", $"b_id", expr("bit_count(fa ^ fb)").as("hamming"))
    val verified = under.union(star)
      .filter($"hamming" <= HammingTau)
      .distinct()
    val census = occ.filter($"occ" > bucketCap)
      .agg(count(lit(1)).as("n_hot_buckets"))
    census.join(verified, lit(true), "left")
      .select($"a_id", $"b_id", $"hamming", $"n_hot_buckets")
      .orderBy($"a_id", $"b_id")
  }

  val dedupSimHashSql: String = {
    val w31 = PolyHash.duckSql("w", 31)
    val w131 = PolyHash.duckSql("w", 131)
    // same block/combination enumeration as the Spark side, generated
    // from the same values
    val blockExprs = SimBlocks.map { case (lo, hi) =>
      s"((fp >> $lo) & ${(1 << (hi - lo)) - 1})"
    }
    val keyRows = SimCombos.zipWithIndex.map { case (combo, cid) =>
      val key = combo.map(blockExprs).reduce((a, b) => s"($a * 2048 + $b)")
      s"SELECT doc_id, fp, $cid AS cid, $key AS key FROM fp"
    }.mkString("\n  UNION ALL ")
    // Occupancy cap mirror (see [[BandBucketCap]]): the round-13 SQL
    // used a first-equal-combo CASE to emit each pair once because a
    // viral identical-fingerprint group matched all 20 tables and the
    // DISTINCT absorbed 20× the quadratic output (~1e9 pre-distinct
    // rows at sf10, the isolated oracle's 69 GB spill cap). With the
    // cap, viral buckets collapse to the linear star BEFORE the join
    // output exists, so the residual under-cap DISTINCT absorbs at
    // most 20× of a bounded, Hamming-filtered volume and the CASE is
    // no longer needed — the arms now mirror the Spark plan exactly.
    // one grouped pass with 62 columnar conditional sums — the earlier
    // `wh CROSS JOIN range(0, 62)` form exploded the (doc, word) rows
    // 62× before aggregating (billions of rows at sf1: the oracle
    // spilled ~90 GB and died on disk); same integer math, order-free
    val accCols = (0 until 62).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN cnt ELSE -cnt END) AS a$b")
      .mkString(",\n    ")
    val fpSum = (0 until 62).map(b =>
      s"(CASE WHEN a$b > 0 THEN CAST(1 AS BIGINT) << $b ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${TF.duckToks}) AS w FROM documents),
       |wh AS (
       |  SELECT doc_id, count(*) AS cnt, ($w31 | ($w131 << 31)) AS h
       |  FROM toks GROUP BY doc_id, w),
       |acc AS (
       |  SELECT doc_id,
       |    $accCols
       |  FROM wh GROUP BY doc_id),
       |fp AS MATERIALIZED (
       |  SELECT doc_id, $fpSum AS fp
       |  FROM acc),
       |keys AS MATERIALIZED (
       |  $keyRows),
       |occ AS MATERIALIZED (
       |  SELECT cid, key, count(*) AS occ, min(doc_id) AS mn
       |  FROM keys GROUP BY cid, key),
       |under AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    bit_count(xor(a.fp, b.fp)) AS hamming
       |  FROM keys a JOIN keys b
       |    ON a.cid = b.cid AND a.key = b.key AND a.doc_id < b.doc_id
       |  JOIN occ o ON o.cid = a.cid AND o.key = a.key
       |  WHERE o.occ <= $BandBucketCap
       |    AND bit_count(xor(a.fp, b.fp)) <= $HammingTau),
       |star AS (
       |  SELECT DISTINCT least(o.mn, g.doc_id) AS a_id,
       |    greatest(o.mn, g.doc_id) AS b_id
       |  FROM keys g JOIN occ o ON o.cid = g.cid AND o.key = g.key
       |  WHERE o.occ > $BandBucketCap AND g.doc_id != o.mn),
       |starv AS (
       |  SELECT s.a_id, s.b_id, bit_count(xor(fa.fp, fb.fp)) AS hamming
       |  FROM star s
       |  JOIN fp fa ON fa.doc_id = s.a_id
       |  JOIN fp fb ON fb.doc_id = s.b_id
       |  WHERE bit_count(xor(fa.fp, fb.fp)) <= $HammingTau),
       |verified AS (SELECT * FROM under UNION SELECT * FROM starv),
       |census AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_hot_buckets
       |  FROM occ WHERE occ > $BandBucketCap)
       |SELECT v.a_id, v.b_id, v.hamming, c.n_hot_buckets
       |FROM census c LEFT JOIN verified v ON true
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ------------------------------------------------------------ embedding

  val CosineTau = 0.35

  /** Label blocks larger than this are LSH-bucketed inside
    * [[dedupEmbedding]] instead of scored all-pairs: a popular label's
    * block is O(b²) pairs, so at 100 TB one viral label would dominate
    * the whole job. Over the cap, a block's rows are signed into the
    * same random-hyperplane buckets as [[dedupEmbeddingLsh]] with a
    * block-size-adaptive plane count ([[HotTargetBucketRows]]) —
    * recall < 1 on hot blocks only, the documented trade; precision
    * stays exact because every reported cosine is the exact one.
    * Test-scale blocks sit far below the cap, so the DuckDB oracle sees
    * the pure exact path.
    *
    * Sized from measurement: the exact quadratic verified 2.5-2.8·10⁵
    * pairs/s on a 21,800-row block (32-thread host), so a 60 s-per-block
    * exact budget gives cap = ⌊√(2 · 60 s · rate)⌋ ≈ 5.5-5.8k → 6000.
    * On that block the bucketed arm ran 25.8× faster than exact with
    * recall 1.0000 at cosine ≥ 0.6 and ≥ 0.9 (the dup bands; 0.78 over
    * all ≥ 0.35 pairs, misses confined to the borderline band). */
  val HotBlockCap = 6000

  /** Embedding-cosine near-dup pairs within label blocks. Sequential
    * left-to-right double folds on both engines make the cosine values
    * bit-identical (SURVEY.md §5). Blocks over [[HotBlockCap]] are
    * LSH-bucketed (see there); DedupSpec plants a hot label with a tiny
    * cap and asserts the routing + exact precision. */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    // same projection as the similarity operators — one definition
    // keeps the bit-identical-cosine parity in one place
    dedupEmbeddingOn(Similarity.embedded(s, dir), HotBlockCap)

  /** True when any label block of `e0` crosses `cap` — the regime
    * detector behind the Verify ORACLE WAIVERS: over the cap,
    * [[dedupEmbeddingOn]] buckets the block by LSH, whose sub-dup-band
    * recall is < 1 BY DESIGN, while the DuckDB oracle models only the
    * exact arm — a compare in that regime is
    * designed to fail and must self-declare rows-only (the recall
    * floors are the real gate there: SimilaritySpec and DedupSpec at
    * sf0.01, perfbench's ann_embed check) instead of recording a
    * structural trade as a mismatch. One tiny aggregate, stopped at the
    * first hot block. */
  private[graft] def overCap(e0: DataFrame, cap: Int): Boolean =
    e0.groupBy(col("label")).agg(count(lit(1)).as("bn"))
      .filter(col("bn") > cap).limit(1).count() > 0

  private def overCapWaiver(block: String): String =
    s"over-cap regime: $block exceeds HotBlockCap=$HotBlockCap;" +
      " the routed LSH arm's sub-dup-band recall is < 1 by design —" +
      " recall-gated (SimilaritySpec/DedupSpec floors at sf0.01, perfbench's" +
      " ann_embed check) instead of oracle-compared"

  /** [[overCap]] waiver for `dedup_embedding` (metadata-label blocks). */
  def embeddingOverCapReason(s: SparkSession, dir: String): Option[String] =
    if (overCap(Similarity.embedded(s, dir), HotBlockCap))
      Some(overCapWaiver("a label block"))
    else None

  /** [[overCap]] waiver for `dedup_semantic` (K-Means cluster blocks —
    * the skew-prone key: at sf10 every cluster crosses the cap). */
  def semanticOverCapReason(s: SparkSession, dir: String): Option[String] = {
    import s.implicits._
    val assigned = Similarity.clusterAssigned(s, dir)
      .select($"vec_id", $"cluster_seed".as("label"), $"v", $"nrm")
    if (overCap(assigned, HotBlockCap))
      Some(overCapWaiver("a cluster"))
    else None
  }

  /** Most over-cap labels the driver collects and hands the signer —
    * hot labels are structurally few (each owns > cap rows); more than
    * this means the label column isn't a usable blocking key and the
    * operator fails loudly toward [[dedupEmbeddingLsh]]. */
  val MaxHotLabels = 1000

  /** Target rows per (table, bucket) cell on a hot block.
    * [[Similarity.NPlanes]] = 3 (8 buckets/table) is sized for ANN-scale
    * corpora; on a block of b rows the per-table pairs are
    * ~b²/2^planes, so a fixed 3 planes keeps an eighth of the quadratic
    * the block was bucketed to avoid. The plane count is sized from the
    * largest block instead: planes = ⌈log₂(maxBlock/64)⌉, the same
    * 64-row expected bucket the kNN graph targets
    * ([[Similarity.KnnTargetBucket]]), so per-cell pairs stay ~2·10³ at
    * any block size. */
  val HotTargetBucketRows = 64

  /** Ceiling on hot-block planes: 16 planes = 65,536 buckets/table (the
    * [[Similarity.knnPlanes]] ceiling and the signer's key width).
    * Blocks beyond 65,536·64 ≈ 4.2·10⁶ rows get proportionally larger
    * buckets. */
  val MaxHotPlanes = 16

  /** [[dedupEmbedding]] over a prepared (vec_id, label, v) frame with an
    * explicit hot-block threshold — spec surface. The input's `nrm`
    * column, if any, is no longer read: norms are computed and checked
    * by the engine.
    *
    * One aggregate job ([[labelBlocks]]) sizes the label blocks and
    * checks the vector dimension; the labels over the cap (at most
    * [[MaxHotLabels]]) go to the driver. Then one engine,
    * [[Similarity.labelPairsOf]], scores every pair sharing a (label,
    * table, bucket) key: a label at or under the cap is one bucket (all
    * its pairs, exact), a hot label gets [[adaptiveTables]] tables of
    * [[adaptivePlanes]] planes sized from the largest hot block. */
  def dedupEmbeddingOn(e0: DataFrame, hotBlockCap: Int): DataFrame = {
    val blocks = labelBlocks(e0, hotBlockCap)
    require(blocks.hot.size <= MaxHotLabels,
      s"more than $MaxHotLabels labels exceed hotBlockCap=$hotBlockCap — " +
        "the label column is not a usable blocking key at this " +
        "threshold; run dedupEmbeddingLsh (all-LSH candidates) instead")
    val planes = adaptivePlanes(blocks.hot.values.maxOption.getOrElse(0L))
    cosinePairs(e0, blocks, Some(blocks.hot.keySet), adaptiveTables(planes), planes)
  }

  /** Label blocks of a (vec_id, label, v) frame: its rows n, the vector
    * width d (of vec_id `dimId`), the largest block, and the blocks of
    * more than `cap` rows (label → rows, at most [[MaxHotLabels]] + 1
    * of them). */
  private final case class LabelBlocks(n: Long, d: Int, dimId: Long, maxBn: Long,
      hot: Map[Any, Long])

  /** [[LabelBlocks]] of `e0` in one aggregate job. Vectors whose widths
    * differ fail here naming a vec_id of each; null vectors are left to
    * the engine's pack check. */
  private def labelBlocks(e0: DataFrame, cap: Long): LabelBlocks = {
    import e0.sparkSession.implicits._
    val dim = when($"v".isNotNull, struct(size($"v").as("d"), $"vec_id".as("id")))
    val r = e0.groupBy($"label")
      .agg(count(lit(1)).as("bn"), min(dim).as("lo"), max(dim).as("hi"))
      .agg(sum($"bn"), max($"bn"), min($"lo"), max($"hi"), slice(
        collect_list(when($"bn" > cap, struct($"label", $"bn"))), 1, MaxHotLabels + 1))
      .head()
    if (r.isNullAt(0)) LabelBlocks(0L, 0, 0L, 0L, Map.empty)
    else {
      val (lo, hi) = (Option(r.getStruct(2)), Option(r.getStruct(3)))
      for (a <- lo; b <- hi if a.getInt(0) != b.getInt(0))
        throw Similarity.VectorRow.ragged(a.getLong(1), a.getInt(0), b.getLong(1), b.getInt(0))
      val hot = r.getSeq[org.apache.spark.sql.Row](4).map(x => x.get(0) -> x.getLong(1))
      LabelBlocks(r.getLong(0), lo.fold(0)(_.getInt(0)), lo.fold(0L)(_.getLong(1)),
        r.getLong(1), hot.toMap)
    }
  }

  /** The pairs (a_id, b_id, cosine) of `e0` scored by
    * [[Similarity.labelPairsOf]] — labels in `hot` (every label when
    * None) on `tables` tables of `planes` planes — with cosine
    * `round(cos, 4)` ≥ [[CosineTau]], ordered by (a_id, b_id). The
    * engine drops pairs under CosineTau − 1e-4 before its merge; none
    * of them rounds up to CosineTau. */
  private def cosinePairs(e0: DataFrame, blocks: LabelBlocks, hot: Option[Set[Any]],
      tables: Int, planes: Int): DataFrame = {
    import e0.sparkSession.implicits._
    Similarity.labelPairsOf(e0, blocks.n, blocks.d, blocks.dimId, hot, tables, planes,
        CosineTau - 1e-4)
      .select($"a_id", $"b_id", round($"cos", 4).as("cosine"))
      .filter($"cosine" >= CosineTau)
      .orderBy($"a_id", $"b_id")
  }

  // the pair-stage dot is DuckDB's native list_dot_product — verified
  // bit-identical to the sequential list_reduce fold on 124,750 real
  // 64-dim pairs (it accumulates sequentially; both engines' doubles
  // match exactly as before), and ~an order of magnitude faster on the
  // quadratic anchor volumes (the lsh_exact oracle's sf10 timeout).
  // The per-vector norm stays a fold (linear, once per vector).
  val dedupEmbeddingSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, label, v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(v, x -> x*x)), (a, x) -> a + x)) AS nrm
       |  FROM e)
       |SELECT a_id, b_id, cosine FROM (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cosine
       |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
       |WHERE cosine >= $CosineTau
       |ORDER BY a_id, b_id""".stripMargin

  /** SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    * find near-dup pairs INSIDE each cluster — the blocking key comes
    * from the data itself (nearest literal seed by cosine,
    * [[Similarity.clusterAssigned]]) instead of a metadata label, so
    * semantically-near duplicates that straddle label blocks still
    * meet. Everything downstream of the assignment is
    * [[dedupEmbeddingOn]] verbatim with cluster id as the label:
    * same exact verify, same [[HotBlockCap]] routing for a cluster
    * that captures a super-linear share of the corpus (K-Means
    * clusters skew exactly that way — the guard matters MORE here
    * than for metadata blocks). Assignment is one codegen'd scan
    * against K literal seeds (no shuffle carries vectors); the pair
    * stage groups the rows by cluster in one shuffle. Test-scale
    * clusters sit under the cap, so the oracle sees the pure exact
    * path (the crossed regime is DedupSpec's planted-hot-label
    * territory). */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dedupEmbeddingOn(
      Similarity.clusterAssigned(s, dir)
        .select($"vec_id", $"cluster_seed".as("label"), $"v", $"nrm"),
      HotBlockCap)
  }

  val dedupSemanticSql: String =
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
       |  LIMIT ${Similarity.ClusterK}),
       |scored AS (
       |  SELECT c.vec_id, s.seed_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, len(c.v) + 1), i -> c.v[i] * s.sv[i])),
       |      (acc, x) -> acc + x) / (c.nrm * s.snrm) AS cos
       |  FROM n c CROSS JOIN seeds s),
       |best AS (
       |  SELECT vec_id, seed_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, seed_id) AS rk
       |    FROM scored)
       |  WHERE rk = 1)
       |SELECT a_id, b_id, cosine FROM (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cosine
       |  FROM n a JOIN best ba ON a.vec_id = ba.vec_id
       |  JOIN best bb ON ba.seed_id = bb.seed_id AND ba.vec_id < bb.vec_id
       |  JOIN n b ON b.vec_id = bb.vec_id)
       |WHERE cosine >= $CosineTau
       |ORDER BY a_id, b_id""".stripMargin

  /** Seed length (tokens) for repeated-span detection: a match of
    * [[SpanK]] consecutive tokens starts a span; runs of overlapping
    * seed matches merge into maximal spans. */
  val SpanK = 8

  /** Occurrence cap per seed hash — an 8-gram repeated more than this
    * many times across the corpus is boilerplate (licence headers,
    * navigation chrome) whose position pairs would square; capped
    * grams drop from seeding (the [[NgramDfCap]] trade, documented
    * recall cost on ultra-viral spans only — and OBSERVABLE: the
    * `dedup_spans` output carries the dropped-seed census as the
    * `n_dropped_seeds` column, so a corpus where the cap actually
    * bites announces it in the report instead of silently thinning
    * recall). */
  val SpanOccCap = 64L

  val TopSpans = 50

  /** Cross-document repeated SPANS (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * regime): the longest token runs appearing verbatim in two
    * different documents. Doc-level Jaccard ([[dedupNgram]]) misses a
    * long quotation inside two otherwise-different documents; this
    * operator finds the quotation itself.
    *
    * Where the paper builds a corpus-wide suffix array (a single-node
    * data structure), the distributed shape is seed-and-extend — the
    * same maximal-run merge, reorganized into three bounded stages:
    * positioned [[SpanK]]-token seed hashes (62-bit dual-base packs,
    * collision odds ~n²/2^63) in one codegen'd scan; an occurrence-
    * capped self-join on the seed hash (posting-list discipline); and
    * a gaps-and-islands merge per (a, b, diagonal) — consecutive seed
    * positions on one diagonal are one maximal span of
    * run + [[SpanK]] − 1 tokens. The merge window partitions by
    * (pair, diagonal): state is one row number, no quadratic anywhere,
    * and every stage keys on hashes/ids only — no text shuffles.
    * Within-document repetition is [[TextAnalysis.repetitionScore]]'s
    * territory; this operator is strictly cross-document (a < b). */
  def dedupSpans(s: SparkSession, dir: String): DataFrame =
    dedupSpansOn(Tables(s, dir, "documents"), SpanOccCap)

  /** Bits reserved for the token position in a packed (doc, pos)
    * posting: supports documents to 2M tokens and doc ids to 2^41. */
  private val SpanPosBits = 21

  /** [[dedupSpans]] over an explicit (doc_id, text) frame with an
    * explicit occurrence cap — spec surface.
    *
    * Posting-list formulation (the [[ngramCandidates]] discipline — an
    * inverted-index self-join re-evaluates the gram explode per join
    * leg, measured 3× slower there): ONE gram scan, ONE shuffle keyed
    * by seed hash. Each hash group gathers its occurrences as packed
    * `doc_id·2^21 + pos` longs via the bounded
    * [[graft.functions.BoundedCollect]] (buffer ≤ cap+1 longs per
    * group under any skew), under-cap groups expand to cross-document
    * position pairs in one codegen'd higher-order filter; over-cap
    * (boilerplate) groups drop — exactly the occ-filter semantics the
    * oracle's self-join form states. */
  def dedupSpansOn(docs: DataFrame, occCap: Long): DataFrame = {
    import docs.sparkSession.implicits._
    val m0 = seedGroups(docs, occCap)
    // the occurrence cap's recall trade made OBSERVABLE (the er_pairs
    // n_dropped_blocks precedent): how many distinct seed grams were
    // dropped as over-cap boilerplate rides along as a constant column
    // — non-zero tells the operator's user that ultra-viral spans
    // (licence headers, chrome) are not in this report. The census leg
    // branches from the same m0 frame, but column pruning rewrites its
    // copy of the aggregate down to (gh, count) — no posting lists, no
    // min/max — so its exchange is a map-side-combined count-by-hash,
    // KB-scale at any corpus size, at the price of one extra gram scan
    // (+0.38 s at sf0.1, BASELINE.md). That pruned shape is asserted in
    // PlanShapeSpec; a shared ReuseExchange is NOT possible here — the
    // two legs' exchange subtrees differ exactly because pruning makes
    // the census one cheap.
    val dropped = m0.filter($"occ" > occCap)
      .agg(count(lit(1)).as("n_dropped_seeds"))
    val top = spansFromGroups(m0, occCap)
      .orderBy($"span_toks".desc, $"a_id", $"b_id", $"a_start", $"b_start")
      .limit(TopSpans)
    // census-side OUTER join (1 row × ≤ TopSpans rows, both tiny): when
    // the cap drops EVERY span the report still carries one all-null
    // span row with the census — the silent-recall-thinning case is
    // exactly when the census matters most (round-9 ADVICE)
    dropped.join(top, lit(true), "left")
      .select($"a_id", $"b_id", $"a_start", $"b_start", $"span_toks",
        $"n_dropped_seeds")
  }

  /** Every maximal cross-document span (pre-ranking) — shared by the
    * find ([[dedupSpansOn]]) and act ([[spanRedactOn]]) halves. */
  private def spansAll(docs: DataFrame, occCap: Long): DataFrame =
    spansFromGroups(seedGroups(docs, occCap), occCap)

  /** The one wide stage: positioned seed hashes grouped by gram hash
    * with bounded postings — UNFILTERED (both the span expansion and
    * the dropped-seed census consume it, splitting on `occ` afterward;
    * the census branch's copy is column-pruned down to (gh, count) —
    * see [[dedupSpansOn]]). */
  private def seedGroups(docs: DataFrame, occCap: Long): DataFrame = {
    import docs.sparkSession.implicits._
    val pack = 1L << SpanPosBits
    // positional one-pass hashing: no gram string is ever built (the
    // composed wordNgrams→dual-PolyHash form spent ~4 s/sweep at sf0.1
    // on gram-string allocation + re-decode; same hashes either way,
    // pinned by the WordNgramHashes parity assert in DedupSpec)
    val g = docs
      .select($"doc_id",
        posexplode(WordNgramHashes.positional($"text", SpanK)))
      // the 2^SpanPosBits-token packing limit fails LOUDLY: past it,
      // pos would silently overflow into the doc_id bits and corrupt
      // pair detection (round-6 advice) — a when() branch on the
      // codegen'd scan, free next to the explode it guards
      .select(when($"pos" + 1 < lit(pack),
          $"doc_id" * lit(pack) + ($"pos" + 1))
        .otherwise(raise_error(concat(
          lit(s"dedup_spans: document exceeds 2^$SpanPosBits tokens " +
            "(packed doc_id*2^bits+pos key would overflow); doc_id="),
          $"doc_id".cast("string")))).as("pk"),
        $"col".as("gh"))
    val lim = if (occCap >= Int.MaxValue) Int.MaxValue else (occCap + 1).toInt
    g.groupBy($"gh")
      .agg(graft.functions.BoundedCollect($"pk", lim).as("pks"),
        count(lit(1)).as("occ"),
        min($"pk").as("mnpk"), max($"pk").as("mxpk"))
  }

  /** Seed-pair expansion + diagonal merge over [[seedGroups]] output. */
  private def spansFromGroups(m0: DataFrame, occCap: Long): DataFrame = {
    import m0.sparkSession.implicits._
    val pack = 1L << SpanPosBits
    val m = m0
      // a gram whose occurrences all sit in ONE document (within-doc
      // repetition — common) yields no cross-document pair but would
      // still expand occ² structs; doc(min pk) < doc(max pk) ⟺ ≥ 2
      // distinct docs, and the filter runs before any expansion
      .filter($"occ" <= occCap &&
        shiftright($"mnpk", SpanPosBits) < shiftright($"mxpk", SpanPosBits))
      // upper-triangle expansion over the SORTED postings: each element
      // pairs only with its successors (occ²/2 structs, not occ²), and
      // the cross-doc filter keeps a<b pairs — sorting makes successor
      // order = ascending pk, so doc(a) <= doc(b) holds positionally
      .withColumn("pks", array_sort($"pks"))
      .select(explode(expr(
        "filter(flatten(transform(pks, (a, i) -> transform(" +
          "slice(pks, i + 2, size(pks)), b -> struct(a AS pa, b AS pb)))), " +
          s"p -> shiftright(p.pa, $SpanPosBits) < shiftright(p.pb, $SpanPosBits))")).as("p"))
      .select(shiftright($"p.pa", SpanPosBits).as("a_id"),
        shiftright($"p.pb", SpanPosBits).as("b_id"),
        $"p.pa".bitwiseAND(pack - 1).as("pa"),
        $"p.pb".bitwiseAND(pack - 1).as("pb"))
      .withColumn("diag", $"pa" - $"pb")
    val byDiag = Window.partitionBy($"a_id", $"b_id", $"diag").orderBy($"pa")
    m.withColumn("isl", $"pa" - row_number().over(byDiag))
      .groupBy($"a_id", $"b_id", $"diag", $"isl")
      .agg(min($"pa").as("a_start"), min($"pb").as("b_start"),
        (count(lit(1)) + lit(SpanK - 1)).as("span_toks"))
      .select($"a_id", $"b_id", $"a_start", $"b_start", $"span_toks")
  }

  /** Rows reported by [[spanRedact]]. */
  val TopRedacted = 100

  /** The ACT half of the span story ([[dedupSpans]] finds, this cuts —
    * Lee et al. 2022 remove the repeated span, not the document): every
    * maximal shared span marks its HIGHER-id side for removal (the
    * keep-first discipline of the dedup family), per-document token
    * intervals merge (strict-overlap islands under one window), and the
    * report prices the cut: distinct merged spans, tokens dropped,
    * tokens kept per affected document. Interval state is bounded by
    * found spans, not corpus size; the merge window partitions by
    * document. */
  def spanRedact(s: SparkSession, dir: String): DataFrame =
    spanRedactOn(Tables(s, dir, "documents"), SpanOccCap)

  /** [[spanRedact]] over an explicit frame — spec surface. */
  def spanRedactOn(docs: DataFrame, occCap: Long): DataFrame = {
    import docs.sparkSession.implicits._
    val iv = spansAll(docs, occCap)
      .select($"b_id".as("doc_id"), $"b_start".as("st"),
        ($"b_start" + $"span_toks" - 1).as("en"))
      .distinct() // the same (doc, interval) arrives once per a-side
    val byStart = Window.partitionBy($"doc_id").orderBy($"st", $"en")
    val prevMax = max($"en").over(
      byStart.rowsBetween(Window.unboundedPreceding, -1))
    val merged = iv
      .withColumn("nf", when(prevMax.isNull || $"st" > prevMax, 1L)
        .otherwise(0L))
      .withColumn("isl", sum($"nf").over(
        byStart.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"isl")
      .agg(min($"st").as("st"), max($"en").as("en"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum($"en" - $"st" + 1).as("tokens_dropped"))
    val ntok = docs.select($"doc_id",
      size(TF.toks(lower($"text"))).cast("long").as("n_tokens"))
    merged.join(ntok, "doc_id")
      .select($"doc_id", $"n_spans", $"tokens_dropped",
        ($"n_tokens" - $"tokens_dropped").as("tokens_kept"))
      .orderBy($"tokens_dropped".desc, $"doc_id")
      .limit(TopRedacted)
  }

  /** Shared CTE chain ending in `sp` (all maximal spans) — the oracle
    * twin of [[spansAll]]; stated as a plain inverted-index self-join
    * with an occurrence filter (value-identical to the posting-list
    * plan, which exists for shuffle shape, not semantics). */
  private val duckSpansChain: String =
    s"""tt AS (SELECT doc_id, ${TF.duckToks} AS tk FROM documents),
       |gr AS (
       |  SELECT doc_id, pos,
       |    ${graft.functions.WordNgramHashes.duckSql("gram")} AS gh
       |  FROM (
       |    SELECT doc_id, pos,
       |      ${(0 until SpanK).map(j =>
                if (j == 0) "tk[pos]" else s"tk[pos + $j]")
                .mkString(" || ' ' || ")} AS gram
       |    FROM tt, unnest(range(1, len(tk) - ${SpanK - 2})) AS u(pos)
       |    WHERE len(tk) >= $SpanK)),
       |rare AS (
       |  SELECT gr.* FROM gr JOIN (
       |    SELECT gh FROM (SELECT gh, count(*) AS occ FROM gr GROUP BY gh)
       |    WHERE occ <= $SpanOccCap) o USING (gh)),
       |m AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.pos AS pa, b.pos AS pb,
       |    a.pos - b.pos AS diag
       |  FROM rare a JOIN rare b
       |    ON a.gh = b.gh AND a.doc_id < b.doc_id),
       |i AS (
       |  SELECT *, pa - row_number() OVER (
       |    PARTITION BY a_id, b_id, diag ORDER BY pa) AS isl
       |  FROM m),
       |sp AS (
       |  SELECT a_id, b_id, min(pa) AS a_start, min(pb) AS b_start,
       |    CAST(count(*) + ${SpanK - 1} AS BIGINT) AS span_toks
       |  FROM i GROUP BY a_id, b_id, diag, isl)""".stripMargin

  val dedupSpansSql: String =
    s"""WITH $duckSpansChain,
       |drp AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_dropped_seeds
       |  FROM (SELECT gh, count(*) AS occ FROM gr GROUP BY gh)
       |  WHERE occ > $SpanOccCap)
       |SELECT a_id, b_id, CAST(a_start AS BIGINT) AS a_start,
       |  CAST(b_start AS BIGINT) AS b_start, span_toks, n_dropped_seeds
       |FROM (SELECT * FROM sp
       |      ORDER BY span_toks DESC, a_id, b_id, a_start, b_start
       |      LIMIT $TopSpans) RIGHT JOIN drp ON true
       |ORDER BY span_toks DESC, a_id, b_id, a_start, b_start""".stripMargin

  val spanRedactSql: String =
    s"""WITH $duckSpansChain,
       |iv AS (
       |  SELECT DISTINCT b_id AS doc_id, b_start AS st,
       |    b_start + span_toks - 1 AS en
       |  FROM sp),
       |w1 AS (
       |  SELECT *, max(en) OVER (PARTITION BY doc_id ORDER BY st, en
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
       |  FROM iv),
       |w2 AS (
       |  SELECT *, sum(CASE WHEN pm IS NULL OR st > pm THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY doc_id ORDER BY st, en
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |  FROM w1),
       |mg AS (
       |  SELECT doc_id, isl, min(st) AS st, max(en) AS en
       |  FROM w2 GROUP BY doc_id, isl),
       |ag AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |    CAST(sum(en - st + 1) AS BIGINT) AS tokens_dropped
       |  FROM mg GROUP BY doc_id),
       |nt AS (SELECT doc_id, len(tk) AS n_tokens FROM tt)
       |SELECT doc_id, n_spans, tokens_dropped,
       |  CAST(n_tokens - tokens_dropped AS BIGINT) AS tokens_kept
       |FROM ag JOIN nt USING (doc_id)
       |ORDER BY tokens_dropped DESC, doc_id
       |LIMIT $TopRedacted""".stripMargin

  /** Sub-quadratic embedding dedup — the 100-TB path [[dedupEmbedding]]
    * is the exactness baseline for: every label's rows are signed into
    * random-hyperplane LSH buckets (the kNN graph's [[Similarity]]
    * signer and bucket scorer, keyed by (label, table, bucket)), so the
    * pairs scored are per-bucket instead of per-block-squared. Plane
    * count and table count are sized from the largest label block
    * ([[adaptivePlanes]], [[adaptiveTables]]). Approximate in recall (a
    * pair can land in different buckets in all L tables — probability
    * falls exponentially with cosine; DedupSpec measures recall vs the
    * exact baseline), exact in precision (every reported cosine is the
    * exact one). rows-only. */
  def dedupEmbeddingLsh(s: SparkSession, dir: String): DataFrame = {
    val e = Similarity.embedded(s, dir)
    val blocks = labelBlocks(e, Long.MaxValue)
    val planes = adaptivePlanes(blocks.maxBn)
    cosinePairs(e, blocks, None, adaptiveTables(planes), planes)
  }

  /** Hot-block/LSH plane count for a largest block of `maxBn` rows:
    * ⌈log₂(maxBn/[[HotTargetBucketRows]])⌉ clamped to
    * [[[Similarity.NPlanes]], [[MaxHotPlanes]]] — ~64-row buckets, so
    * per-(table,bucket) pairs stay ~2·10³ at any block size. Pair with
    * [[adaptiveTables]]: more planes cut the quadratic term 4× per 2
    * bits but thin each table's collision odds, so the table count
    * rises to hold the dup-band recall floor. */
  private[graft] def adaptivePlanes(maxBn: Long): Int =
    math.min(MaxHotPlanes, math.max(Similarity.NPlanes,
      math.ceil(math.log(maxBn.toDouble / HotTargetBucketRows) /
        math.log(2)).toInt))

  /** Table count compensating [[adaptivePlanes]]'s recall thinning: size
    * planes to the data, buy the recall back with tables — a LINEAR
    * cost, vs the quadratic one the planes remove. For random
    * hyperplanes the per-table collision probability of a cosine-c pair
    * is (1 − acos(c)/π)^planes; the count is the smallest L with
    * 1 − (1 − q)^L ≥ 0.95 at c = 0.9 (the conservative EDGE of the dup
    * band — true near-dups in any corpus this operator prunes sit ≥ 0.95
    * where the odds are far better), floored at [[Similarity.Tables_]]:
    * L = 8 through 7 planes (every scale up to sf1), 11 at the sf10
    * shape (9 planes), 35 at the 16-plane ceiling. Sub-dup-band pairs
    * (CosineTau 0.35 .. ~0.6) are explicitly NOT chased at scale —
    * collision odds at 0.35 fall as 0.61^planes and no affordable table
    * count recovers them; the recall specs gate the ≥ 0.6 and ≥ 0.9
    * bands. */
  private[graft] def adaptiveTables(planes: Int): Int = {
    val q = math.pow(1.0 - math.acos(0.9) / math.Pi, planes.toDouble)
    math.max(Similarity.Tables_,
      math.ceil(math.log(0.05) / math.log1p(-q)).toInt)
  }

  /** The embedding-LSH EXACTNESS ANCHOR: one table of zero planes puts
    * every row of a label in one bucket, so the engine scores all
    * same-label pairs and the operator must reproduce
    * [[dedupEmbedding]]'s exact result — oracle-checked against
    * [[dedupEmbeddingSql]] with zero new SQL through the same signer,
    * scorer and merge as [[dedupEmbeddingLsh]]. */
  def dedupEmbeddingLshExact(s: SparkSession, dir: String): DataFrame = {
    val e = Similarity.embedded(s, dir)
    cosinePairs(e, labelBlocks(e, Long.MaxValue), None, tables = 1, planes = 0)
  }

  // ------------------------------------------------------- materialization

  /** The end-to-end dedup a pipeline actually consumes: the corpus with
    * exact duplicates AND n-gram near-duplicates removed. Keep rule: the
    * min doc_id of an exact-text group survives; of each near-dup pair,
    * the lower doc_id survives (drop every b_id). Output is per-source
    * retention counts.
    *
    * The drop list scales with the DUPLICATE count — at 100 TB and a
    * realistic dup rate it is a large fraction of the corpus, so it must
    * NOT be broadcast (billions of ids = executor OOM). The left-anti
    * join is a plain shuffle join: AQE will still pick a broadcast anti
    * join at runtime when the measured drop list is genuinely small —
    * size-based, not assumed. The exact-drop grouping uses the same
    * [[ExactKeyBases]] hash key as [[dedupExact]], so no shuffle here
    * carries text. */
  def dedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val exactDrops = exactDropIds(docs)
    val nearDrops = ngramPairs(s, dir).select($"b_id".as("doc_id"))
    docs.join(exactDrops.union(nearDrops).distinct(),
        Seq("doc_id"), "left_anti")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_kept"), sum($"n_chars").as("kept_chars"))
      .orderBy($"source")
  }

  val dedupSurvivorsSql: String =
    s"""WITH $exactDropsCte,
       |near AS (${dedupNgramSql.replace("ORDER BY a_id, b_id", "")}),
       |drops AS (
       |  SELECT doc_id FROM exact_drops
       |  UNION SELECT b_id AS doc_id FROM near)
       |SELECT source, count(*) AS n_kept,
       |  CAST(sum(n_chars) AS BIGINT) AS kept_chars
       |FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
       |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------ components

  /** Connected components over the near-dup pair graph — the step that
    * turns PAIRS into CLUSTERS: pairs (1,2) and (2,3) are one
    * three-document cluster even though (1,3) was never emitted (e.g.
    * chained paraphrases, or the over-cap star's representative edges).
    * Per-pair min-id dropping already dedups correctly, but cluster
    * identity is what corpus forensics needs: how many near-dup
    * families, how big, which representative.
    *
    * Algorithm: min-label propagation WITH PATH HALVING to a fixpoint —
    * each round first takes label(x) ← min over x's neighborhood
    * (incl. self), then compresses label(x) ← label(label(x)) (the
    * pointer-jumping step of Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014). Compression makes the label
    * distance-to-root HALVE per round, so rounds = O(log diameter) —
    * a 30-round cap covers any graph a 2^30-hop chain could produce,
    * and the loop THROWS if it somehow exits unconverged rather than
    * silently returning a wrong partition (plain one-hop propagation
    * under a fixed cap would do exactly that on a long chain). Each
    * round is two shuffle joins keyed by node id plus a
    * K-row-per-node aggregation; the driver checks convergence via
    * `sum(label)` (labels only decrease, so the sum is strictly
    * monotone until the fixpoint — an O(1)-row aggregate per round).
    *
    * Oracle: DuckDB computes the same fixpoint declaratively with a
    * recursive CTE (min reachable id per node). Output is per-cluster:
    * representative (= min doc_id), member count. */
  def dedupComponents(s: SparkSession, dir: String): DataFrame =
    sizesOfLabels(ngramLabels(s, dir))

  /** The corpus near-dup MEMBERSHIP fixpoint, memoized per (session,
    * dir) — FOUR registry consumers read it (`dedup_components`,
    * `dedup_canonical`, `dedup_cluster_sizes`, `dedup_pipeline`), and
    * each previously re-ran the whole [[labelsOf]] propagation
    * (~15-28 s EACH at sf10) — the same rebuild-per-consumer class the
    * round-3 verdict flagged for the pair list itself. [[labelsOf]]
    * already returns a persisted frame, so the memo holds the reference;
    * built once per (session, dir) like the pair list, and stamped
    * like it with the `documents` [[Tables.fingerprint]];
    * [[graft.SessionCache]] lifecycle. */
  def ngramLabels(s: SparkSession, dir: String): DataFrame =
    ngramLabels(s, dir, documentsStamp(s, dir))

  private def ngramLabels(s: SparkSession, dir: String, stamp: String): DataFrame =
    labelCache.getOrCompute(s, dir, stamp) { labelsOf(ngramPairs(s, dir, stamp)) }

  private val labelCache = new graft.SessionCache[DataFrame](onEvict = _.unpersist(false))

  /** Test/bench hook: drop memoized membership fixpoints. */
  def clearLabelCache(): Unit = labelCache.clear()

  /** Rounds of [[labelsOf]] composed per convergence-check action. */
  val LabelRoundsPerBatch = 4

  /** Hard round cap of [[labelsOf]] — path halving converges in
    * O(log diameter) rounds, so 64 covers any graph that fits in 64-bit
    * ids; exceeding it means a logic bug, which must fail loudly. */
  val LabelMaxRounds = 64

  /** Target edges per partition when sizing the fixpoint's partitioner. */
  val LabelEdgesPerPartition = 500000L

  /** Edge sets at or under this finish locally (exact union-find on the
    * driver): 1M (id, id) longs is ~16 MB — trivially inside any
    * production driver. */
  val LocalFinishEdgeCap = 1000000L

  /** Per-node final labels (node id → component representative, i.e.
    * the min reachable id) for any (a_id, b_id) pair frame — the
    * fixpoint the public operators aggregate; exposed so policy
    * operators ([[dedupCanonical]]) can consume the membership
    * mapping. Returns a self-contained persisted frame.
    *
    * Algorithm — the two standard pieces of a production distributed
    * CC, composed:
    *
    *   1. Min-label propagation WITH PATH HALVING (hop: label(x) ← min
    *      over x's closed neighborhood; compress: label(x) ←
    *      label(label(x)) — Kiveris et al., "Connected Components in
    *      MapReduce and Beyond", SoCC 2014), O(log diameter) rounds,
    *      run on RDDs with ONE pinned HashPartitioner — the
    *      Pregel/GraphX shape, and the repo's one deliberate RDD use: a
    *      DataFrame formulation re-shuffles the STATIC adjacency every
    *      round and pays plan analysis + AQE re-planning latency per
    *      round (measured: 26 rounds × ~1 s on the 10k-edge sf0.1 ER
    *      graph — the round-7 `er_link_build` bill). Here the
    *      adjacency is hash-partitioned once and persisted, each
    *      round's joins are co-partitioned (narrow), intermediate
    *      results are shared via shuffle-file reuse, and
    *      [[LabelRoundsPerBatch]] rounds run inside ONE action (the
    *      convergence signature — labels only decrease, so the label
    *      multiset strictly shrinks until the fixpoint; an unchanged
    *      (wrapped-sum, mixed-xor) digest PAIR across a whole batch ⇒
    *      the fixpoint was reached at or before the batch start — two
    *      independent 64-bit digests so wrapped-sum aliasing alone
    *      can't fake convergence). The partitioner is sized from the MEASURED
    *      edge count — thousands of partitions for a billion-edge
    *      graph, one for a spec fixture.
    *
    *   2. EXACT LOCAL FINISH: dedup/ER pair graphs contract brutally —
    *      after a batch of rounds most edges connect nodes that
    *      already share a label — so once the label-contracted edge
    *      set (label(a) ≠ label(b), distinct) fits
    *      [[LocalFinishEdgeCap]], the remainder is solved exactly with
    *      a min-root union-find on the driver and broadcast back as a
    *      label fix-up. Burning O(log d) further distributed rounds of
    *      pure scheduler latency on a megabyte-scale residue is how
    *      the round-7 build spent 26 rounds on 10k edges; every
    *      production CC (Kiveris §6's "sketches", GraphFrames' big-star
    *      cutoff) ends with exactly this contracted-residue switch.
    *      Inputs already at or under the cap skip straight to the
    *      local solve. The result is identical either way (min
    *      reachable id — DedupSpec asserts distributed ≡ local on the
    *      same graph), and the DuckDB recursive-CTE oracle gates it. */
  def labelsOf(pairs: DataFrame): DataFrame =
    labelsOf(pairs, LocalFinishEdgeCap)

  /** [[labelsOf]] with an explicit local-finish cap — `localCap = 0`
    * forces the distributed fixpoint to run to convergence (the spec
    * hook proving the two paths agree). */
  private[graft] def labelsOf(pairs: DataFrame, localCap: Long): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val Mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val fwd = pairs.select($"a_id", $"b_id").as[(Long, Long)].rdd
    val und = fwd.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct()
      .persist(Mem)
    val nEdges = und.count()

    /** Min-root union-find: roots are component minima by construction
      * (union attaches the larger root under the smaller), with full
      * path compression on find. */
    def unionFind(es: Array[(Long, Long)]): scala.collection.mutable.LongMap[Long] = {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val out = scala.collection.mutable.LongMap.empty[Long]
      parent.foreachKey(k => out(k) = find(k))
      out
    }

    def finish(labels: org.apache.spark.rdd.RDD[(Long, Long)]): DataFrame = {
      val out = labels.toDF("id", "lab").persist()
      out.count()
      out
    }

    if (nEdges <= localCap) {
      // the whole graph fits the driver budget: solve exactly, once
      val lab = unionFind(und.collect())
      und.unpersist(blocking = false)
      val out = lab.toSeq.map { case (id, l) => (id, l) }.toDF("id", "lab")
        .persist()
      out.count()
      out
    } else {
      val nPart = math.max(1, math.min(sc.defaultParallelism.toLong,
        (nEdges + LabelEdgesPerPartition - 1) / LabelEdgesPerPartition).toInt)
      val part = new org.apache.spark.HashPartitioner(nPart)
      val edges = und.partitionBy(part).persist(Mem)
      edges.count()
      und.unpersist(blocking = false)
      // nodes, co-partitioned with edges (reduceByKey under the same
      // partitioner is narrow); self-loops make one join compute
      // min(own, neighbors) in one pass. mapPartitions with
      // preservesPartitioning keeps the pinned partitioner (a plain map
      // would drop it and force adj to re-shuffle every round)
      val nodes = edges.mapValues(_ => ()).reduceByKey(part, (a, _) => a)
      val selfLoops = nodes.mapPartitions(
        _.map { case (id, _) => (id, id) }, preservesPartitioning = true)
      val adj = edges.union(selfLoops)
      var labels = selfLoops.persist(Mem)
      // convergence check: per-node labels only ever decrease (min-
      // combine), so any change strictly lowers the label sum IN
      // UNBOUNDED arithmetic — but the sum lives in wrapped 64-bit, so
      // at very large scale two distinct states could alias to equal
      // wrapped sums (false convergence = wrong components shipped
      // silently). Pair the sum with an order-independent XOR checksum:
      // aliasing now needs a simultaneous collision in two independent
      // 64-bit digests, and both come out of the ONE fold per batch.
      def labelSig(l: org.apache.spark.rdd.RDD[(Long, Long)]): (Long, Long) =
        l.values.mapPartitions { it =>
          var s = 0L; var x = 0L
          // mix each label before xor-folding (a raw xor of ids is
          // blind to any change that swaps two nodes' labels)
          it.foreach { v =>
            s += v
            var z = v + 0x9e3779b97f4a7c15L
            z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
            z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
            x ^= z ^ (z >>> 31)
          }
          Iterator.single((s, x))
        }.fold((0L, 0L)) { case ((s1, x1), (s2, x2)) => (s1 + s2, x1 ^ x2) }
      var prevSig = labelSig(labels)
      var result: Option[DataFrame] = None
      var converged = false
      var rounds = 0
      try {
        while (result.isEmpty && rounds < LabelMaxRounds) {
          var next = labels
          for (_ <- 1 to LabelRoundsPerBatch) {
            // hop: neighborhood min (self-loop included in adj)
            val hop = adj.join(next, part)
              .map { case (_, (dst, lab)) => (dst, lab) }
              .reduceByKey(part, math.min(_: Long, _: Long))
            // compress: label(x) ← label(label(x)) — every label value
            // is a node id (labels start as ids and only min-combine),
            // so the lookup join always hits; distance-to-root halves
            next = hop.map { case (id, lab) => (lab, id) }
              .join(hop, part)
              .map { case (lab, (id, plab)) => (id, math.min(lab, plab)) }
              .partitionBy(part)
          }
          next.persist(Mem)
          val nextSig = labelSig(next) // ONE action per batch
          labels.unpersist(blocking = false)
          labels = next
          converged = nextSig == prevSig
          prevSig = nextSig
          rounds += LabelRoundsPerBatch
          if (converged) result = Some(finish(labels))
          else {
            // contracted residue: edges whose endpoints still disagree
            val contracted = edges.join(labels, part)
              .map { case (_, (b, la)) => (b, la) }
              .join(labels, part)
              .flatMap { case (_, (la, lb)) =>
                if (la != lb) Some((la, lb)) else None }
              .distinct()
            if (contracted.count() <= localCap) {
              val fix = unionFind(contracted.collect())
              val bc = sc.broadcast(fix)
              val fixed = labels.mapPartitions(
                _.map { case (id, l) => (id, bc.value.getOrElse(l, l)) },
                preservesPartitioning = true)
              result = Some(finish(fixed))
            }
          }
        }
        result.getOrElse(throw new IllegalStateException(
          s"labelsOf did not converge in $LabelMaxRounds rounds — " +
            "wrong components must fail loudly, not ship silently"))
      } finally {
        edges.unpersist(blocking = false)
        labels.unpersist(blocking = false)
      }
    }
  }

  /** CC aggregation over any (a_id, b_id) pair frame — public so
    * DedupSpec can drive synthetic graphs (chains, stars, forests)
    * through it. One row per cluster: representative + size. */
  def componentsOf(pairs: DataFrame): DataFrame =
    sizesOfLabels(labelsOf(pairs))

  /** The per-cluster aggregation over a (id, lab) membership frame —
    * shared by the pair-driven [[componentsOf]] (spec fixtures) and the
    * memoized-fixpoint [[dedupComponents]]. */
  private def sizesOfLabels(labels: DataFrame): DataFrame = {
    import labels.sparkSession.implicits._
    labels
      .groupBy($"lab".as("component"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy($"component")
  }

  val dedupComponentsSql: String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (
       |  SELECT a_id, b_id FROM (${dedupNgramSql.replace("ORDER BY a_id, b_id", "")})),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |walk(id, lab) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  -- decreasing-label prune: only the component minimum must reach
       |  -- every member (it is < every id it visits, so its rows always
       |  -- survive); labels >= their destination can never win the final
       |  -- min and would only bloat the fixpoint accumulation
       |  SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id
       |  WHERE w.lab < e.dst),
       |comp AS (SELECT id, min(lab) AS component FROM walk GROUP BY id)
       |SELECT component, count(*) AS n_members
       |FROM comp GROUP BY component ORDER BY component""".stripMargin

  /** Cluster-SIZE distribution of the near-dup component graph — the
    * shape report a dedup run is judged by (RefinedWeb §5.2 reports
    * exactly this curve: how many duplicate families, how large, how
    * much volume they hold): one row per observed cluster size with the
    * cluster count, the document count, and the REDUNDANT character
    * volume (members minus each cluster's representative — what
    * canonical dedup would reclaim). A long tail of giant clusters
    * means template/boilerplate contamination; mass at size 2 means
    * mirror copies — the histogram is what distinguishes them.
    *
    * Composition of two verified pieces: [[labelsOf]]'s min-label
    * fixpoint supplies membership; the rest is two integer aggregations
    * (per-cluster size/chars keyed by label, then the size rollup), so
    * every output cell is an exact integer and the oracle reuses the
    * recursive-CTE fixpoint with the decreasing-label prune. Scale: the
    * joins ship only (id, lab) / (doc_id, n_chars) skinny rows; both
    * groupBys are map-side-partial sums. */
  def dedupClusterSizes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents").select($"doc_id", $"n_chars")
    ngramLabels(s, dir)
      .join(docs, $"id" === $"doc_id")
      .groupBy($"lab")
      .agg(count(lit(1)).as("sz"),
        sum(when($"id" =!= $"lab", $"n_chars").otherwise(lit(0L)))
          .as("dup_chars"))
      .groupBy($"sz".as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum($"sz").as("n_docs"),
        sum($"dup_chars").as("dup_chars"))
      .orderBy($"cluster_size")
  }

  val dedupClusterSizesSql: String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (
       |  SELECT a_id, b_id FROM (${dedupNgramSql.replace("ORDER BY a_id, b_id", "")})),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |walk(id, lab) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  -- decreasing-label prune (see dedupComponentsSql)
       |  SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id
       |  WHERE w.lab < e.dst),
       |comp AS (SELECT id, min(lab) AS component FROM walk GROUP BY id),
       |sized AS (
       |  SELECT c.component, count(*) AS sz,
       |    CAST(sum(CASE WHEN c.id != c.component THEN d.n_chars
       |      ELSE 0 END) AS BIGINT) AS dup_chars
       |  FROM comp c JOIN documents d ON d.doc_id = c.id
       |  GROUP BY c.component)
       |SELECT sz AS cluster_size, count(*) AS n_clusters,
       |  CAST(sum(sz) AS BIGINT) AS n_docs,
       |  CAST(sum(dup_chars) AS BIGINT) AS dup_chars
       |FROM sized GROUP BY sz ORDER BY sz""".stripMargin

  /** Component-canonical dedup — the TRANSITIVE drop policy, as
    * opposed to [[dedupSurvivors]]'s conservative pairwise one: of
    * each near-dup CONNECTED COMPONENT only the representative (min
    * doc_id) survives, even for members never directly paired with it
    * (A≈B≈C drops C although (A,C) was never emitted). Pairwise
    * dropping keeps a doc that only ever appears as the smaller id of
    * its pairs; canonical collapses the whole cluster — the policy a
    * pretraining corpus usually wants, where chained paraphrases are
    * one document family. Exact duplicates drop by the same
    * [[ExactKeyBases]] grouping as [[dedupSurvivors]]; near-dup
    * membership comes from [[labelsOf]], so the whole operator is the
    * composition of two already-verified pieces, and its oracle reuses
    * the recursive-CTE fixpoint. */
  def dedupCanonical(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val exactDrops = exactDropIds(docs)
    val canonicalDrops = ngramLabels(s, dir)
      .filter($"id" =!= $"lab")
      .select($"id".as("doc_id"))
    docs.join(exactDrops.union(canonicalDrops).distinct(),
        Seq("doc_id"), "left_anti")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_kept"), sum($"n_chars").as("kept_chars"))
      .orderBy($"source")
  }

  val dedupCanonicalSql: String =
    s"""WITH RECURSIVE $exactDropsCte,
       |pairs AS MATERIALIZED (
       |  SELECT a_id, b_id FROM (${dedupNgramSql.replace("ORDER BY a_id, b_id", "")})),
       |cedges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs),
       |cnodes AS (SELECT DISTINCT src AS id FROM cedges),
       |walk(id, lab) AS (
       |  SELECT id, id FROM cnodes
       |  UNION
       |  -- decreasing-label prune (see dedupComponentsSql)
       |  SELECT e.dst, w.lab FROM walk w JOIN cedges e ON e.src = w.id
       |  WHERE w.lab < e.dst),
       |canon_drops AS (
       |  SELECT id AS doc_id FROM (
       |    SELECT id, min(lab) AS component FROM walk GROUP BY id)
       |  WHERE id != component),
       |drops AS (
       |  SELECT doc_id FROM exact_drops
       |  UNION SELECT doc_id FROM canon_drops)
       |SELECT source, count(*) AS n_kept,
       |  CAST(sum(n_chars) AS BIGINT) AS kept_chars
       |FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
       |GROUP BY source ORDER BY source""".stripMargin

  /** The incremental-append admission check — the dedup run a live
    * corpus actually executes: a NEW batch of documents (a crawl
    * shard) is checked against the EXISTING corpus, and each new doc
    * is flagged exact-duplicate (identical text already present),
    * near-duplicate (verified Jaccard ≥ τ against an existing doc),
    * or admitted. The full-corpus re-dedup ([[dedupPipeline]]) is the
    * backfill path; this is the steady-state path.
    *
    * Scale shape — the point of the operator: the existing corpus
    * appears only as two INDEXES, exactly the artifacts a production
    * pipeline keeps materialized between appends: the 40-byte exact
    * key set (n_chars + four-base hashes; no text), and the DF-capped
    * gram posting lists per (lang, length-bucket) block with bounded
    * per-gram state ([[graft.functions.BoundedCollect]], ≤ cap+1 ids
    * under any skew). The new batch — inherently small next to the
    * corpus — probes both with equi-joins; candidate pairs only ever
    * cross batch × posting (never corpus × corpus), under-cap grams
    * expand to their posting members and over-cap grams fall back to
    * the posting-min star (the batch [[NgramDfCap]] discipline, same
    * caveat). Verification is the exact hash-set Jaccard with the
    * same lossless size-ratio prefilter as [[dedupNgramOn]], touching
    * only candidate existing docs. Nothing in the plan scales with
    * corpus × corpus.
    *
    * The entry splits the documents table deterministically
    * (doc_id % 5 == 0 plays the arriving batch, ~20%; the rest is the
    * corpus), so the oracle can reproduce the split exactly. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    dedupIncrementalOn(docs.filter($"doc_id" % 5 =!= 0),
      docs.filter($"doc_id" % 5 === 0))
  }

  /** Operator core over any (existing, batch) pair of document frames
    * — DedupSpec drives planted exact/near/fresh batches through it. */
  def dedupIncrementalOn(existing: DataFrame, batch: DataFrame,
      dfCap: Long = NgramDfCap): DataFrame = {
    import existing.sparkSession.implicits._
    val keyNames = "n_chars" +: ExactKeyBases.map(b => s"h$b")
    val exKeys = existing
      .select(col("n_chars") +: exactKeyCols(existing.sparkSession): _*)
      .distinct()
    val exactIds = batch
      .select(($"doc_id" +: col("n_chars") +:
        exactKeyCols(batch.sparkSession)): _*)
      .join(exKeys, keyNames, "left_semi")
      .select($"doc_id")
    val lim = if (dfCap >= Int.MaxValue) Int.MaxValue else (dfCap + 1).toInt
    val postings = hashedGramsOf(existing)
      .groupBy($"lang", $"lb", $"gh")
      .agg(graft.functions.BoundedCollect($"doc_id", lim).as("ids"),
        count(lit(1)).as("df"), min($"doc_id").as("mn"))
    val probed = hashedGramsOf(batch)
      .join(postings, Seq("lang", "lb", "gh"))
    val cands = probed.filter($"df" <= dfCap)
      .select($"doc_id".as("b_id"), explode($"ids").as("a_id"))
      .union(probed.filter($"df" > dfCap)
        .select($"doc_id".as("b_id"), $"mn".as("a_id")))
      .distinct()
    val setsOld = existing.withColumn("hs", WordNgramHashes($"text", NgramN))
      .select($"doc_id".as("a_id"), $"hs".as("ha"), size($"hs").as("na"))
    val setsNew = batch.withColumn("hs", WordNgramHashes($"text", NgramN))
      .select($"doc_id".as("b_id"), $"hs".as("hb"), size($"hs").as("nb"))
    val nearIds = cands.join(setsOld, "a_id").join(setsNew, "b_id")
      .filter(least($"na", $"nb") >=
        lit(JaccardTau - 0.00005) * greatest($"na", $"nb"))
      .withColumn("shared", size(array_intersect($"ha", $"hb")))
      .withColumn("jaccard",
        round($"shared".cast("double") / ($"na" + $"nb" - $"shared"), 4))
      .filter($"jaccard" >= JaccardTau)
      .select($"b_id".as("doc_id")).distinct()
    batch.select($"doc_id", $"source")
      .join(exactIds.withColumn("is_exact", lit(1L)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("is_near", lit(1L)), Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_new"),
        sum(coalesce($"is_exact", lit(0L))).as("n_exact_dup"),
        sum(coalesce($"is_near", lit(0L))).as("n_near_dup"),
        sum(when($"is_exact".isNull && $"is_near".isNull, 1L).otherwise(0L))
          .as("n_admitted"))
      .orderBy($"source")
  }

  // The oracle re-derives both indexes declaratively over the same
  // doc_id % 5 split; gram CTEs reuse the shared fold with the FROM
  // swapped to the split CTEs.
  val dedupIncrementalSql: String = {
    val gramsEx = duckGrams.replace("FROM documents", "FROM ex")
    val gramsNw = duckGrams.replace("FROM documents", "FROM nw")
    s"""WITH ex AS (SELECT * FROM documents WHERE doc_id % 5 != 0),
       |nw AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
       |exkeys AS (
       |  SELECT DISTINCT n_chars,
       |    ${ExactKeyBases.map(b => s"${PolyHash.duckSql("text", b)} AS h$b")
            .mkString(",\n    ")}
       |  FROM ex),
       |exact_ids AS (
       |  SELECT DISTINCT b.doc_id FROM (
       |    SELECT doc_id, n_chars,
       |      ${ExactKeyBases.map(b => s"${PolyHash.duckSql("text", b)} AS h$b")
              .mkString(",\n      ")}
       |    FROM nw) b
       |  JOIN exkeys USING (n_chars, ${ExactKeyBases.map(b => s"h$b")
            .mkString(", ")})),
       |gx AS ($gramsEx),
       |gn AS ($gramsNw),
       |ghx AS (
       |  SELECT DISTINCT doc_id, lang, lb,
       |    ${WordNgramHashes.duckSql("gram")} AS gh FROM gx),
       |ghn AS (
       |  SELECT DISTINCT doc_id, lang, lb,
       |    ${WordNgramHashes.duckSql("gram")} AS gh FROM gn),
       |sizesx AS (SELECT doc_id, count(*) AS n FROM ghx GROUP BY doc_id),
       |sizesn AS (SELECT doc_id, count(*) AS n FROM ghn GROUP BY doc_id),
       |postings AS (
       |  SELECT lang, lb, gh, count(*) AS df, min(doc_id) AS mn
       |  FROM ghx GROUP BY lang, lb, gh),
       |cand AS (
       |  SELECT DISTINCT o.doc_id AS a_id, g.doc_id AS b_id
       |  FROM ghn g JOIN postings p USING (lang, lb, gh)
       |    JOIN ghx o USING (lang, lb, gh)
       |  WHERE p.df <= $NgramDfCap
       |  UNION
       |  SELECT DISTINCT p.mn, g.doc_id
       |  FROM ghn g JOIN postings p USING (lang, lb, gh)
       |  WHERE p.df > $NgramDfCap),
       |shared AS (
       |  SELECT a_id, b_id, count(*) AS sh
       |  FROM cand
       |  JOIN ghx ga ON ga.doc_id = a_id
       |  JOIN ghn gb ON gb.doc_id = b_id AND ga.gh = gb.gh
       |  GROUP BY a_id, b_id),
       |near_ids AS (
       |  SELECT DISTINCT b_id AS doc_id FROM (
       |    SELECT b_id,
       |      round(CAST(sh AS DOUBLE) / (sa.n + sb.n - sh), 4) AS j
       |    FROM shared
       |    JOIN sizesx sa ON a_id = sa.doc_id
       |    JOIN sizesn sb ON b_id = sb.doc_id)
       |  WHERE j >= $JaccardTau)
       |SELECT source, count(*) AS n_new,
       |  CAST(sum(CASE WHEN e.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_exact_dup,
       |  CAST(sum(CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_near_dup,
       |  CAST(sum(CASE WHEN e.doc_id IS NULL AND r.doc_id IS NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
       |FROM nw n
       |LEFT JOIN exact_ids e ON n.doc_id = e.doc_id
       |LEFT JOIN near_ids r ON n.doc_id = r.doc_id
       |GROUP BY source ORDER BY source""".stripMargin
  }

  /** The whole dedup pipeline as ONE end-to-end report — corpus in,
    * per-stage cardinalities out:
    *
    *   - `corpus_docs` — input documents;
    *   - `exact_drops` — non-min ids of identical-text groups;
    *   - `near_pairs` — verified n-gram near-dup pairs (the SHARED
    *     materialized stage every consumer reads);
    *   - `clustered_docs` / `components` — nodes and clusters of the
    *     pair graph's connected components;
    *   - `canonical_kept` — documents surviving exact + transitive
    *     near-dup dropping.
    *
    * This is the report a production dedup run actually publishes, and
    * it exercises the pipeline's defining property: the pair list
    * materializes ONCE ([[ngramPairs]]) and exact-drop ids are computed
    * ONCE, with every stage consuming the shared result — the round-3
    * finding that each policy query recomputed its inputs, closed and
    * now demonstrated end-to-end in a single plan. The oracle recomputes
    * every stage declaratively (recursive-CTE fixpoint for components)
    * and checks all six counts in one shot. */
  def dedupPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val stamp = documentsStamp(s, dir)
    val pairs = ngramPairs(s, dir, stamp)
    val labels = ngramLabels(s, dir, stamp)
    val exactDrops = exactDropIds(docs).persist()
    val canonicalDrops = labels.filter($"id" =!= $"lab").select($"id".as("doc_id"))
    val kept = docs.join(exactDrops.union(canonicalDrops).distinct(),
      Seq("doc_id"), "left_anti")
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("stage"), $"n")
    stage("corpus_docs", docs)
      .union(stage("exact_drops", exactDrops))
      .union(stage("near_pairs", pairs))
      .union(stage("clustered_docs", labels))
      .union(labels.agg(count_distinct($"lab").as("n"))
        .select(lit("components").as("stage"), $"n"))
      .union(stage("canonical_kept", kept))
      .orderBy($"stage")
  }

  val dedupPipelineSql: String =
    s"""WITH RECURSIVE $exactDropsCte,
       |pairs AS MATERIALIZED (
       |  SELECT a_id, b_id FROM (${dedupNgramSql.replace("ORDER BY a_id, b_id", "")})),
       |cedges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs),
       |cnodes AS (SELECT DISTINCT src AS id FROM cedges),
       |walk(id, lab) AS (
       |  SELECT id, id FROM cnodes
       |  UNION
       |  -- decreasing-label prune (see dedupComponentsSql)
       |  SELECT e.dst, w.lab FROM walk w JOIN cedges e ON e.src = w.id
       |  WHERE w.lab < e.dst),
       |comp AS (SELECT id, min(lab) AS component FROM walk GROUP BY id),
       |drops AS (
       |  SELECT doc_id FROM exact_drops
       |  UNION SELECT id AS doc_id FROM comp WHERE id != component)
       |SELECT 'canonical_kept' AS stage, count(*) AS n FROM documents
       |  WHERE doc_id NOT IN (SELECT doc_id FROM drops)
       |UNION ALL SELECT 'clustered_docs', count(*) FROM comp
       |UNION ALL SELECT 'components', count(DISTINCT component) FROM comp
       |UNION ALL SELECT 'corpus_docs', count(*) FROM documents
       |UNION ALL SELECT 'exact_drops', count(*) FROM exact_drops
       |UNION ALL SELECT 'near_pairs', count(*) FROM pairs
       |ORDER BY stage""".stripMargin

  // -------------------------------------------------------- line dedup

  /** A line in at least this many distinct documents is boilerplate. */
  val LineMinDocs = 3L

  /** Line-granularity boilerplate census — CCNet's line-level dedup
    * read (Wenzek et al. 2020 drop lines duplicated across documents;
    * RefinedWeb's line-wise filtering is the same stage). Between
    * [[dedupExact]] (whole document) and [[dedupSpans]] (token runs),
    * this is the granularity where navigation chrome, cookie banners
    * and license headers live. Per source: line volume, distinct
    * lines, boilerplate lines (in ≥ [[LineMinDocs]] distinct docs
    * corpus-wide), their occurrence and character shares.
    *
    * Scale (100 TB): lines hash to [[graft.functions.PolyHash]] 62-bit
    * fingerprints IN THE SCAN, so no text ever shuffles. The exchanges
    * are (hash, source)-keyed partial aggregates, a hash-keyed rollup
    * (doc-frequency = Σ per-source distinct docs — a doc has exactly
    * one source), and one hash-keyed join of the two AGGREGATED tables
    * (distinct-line-sized, not occurrence-sized); the census rollup
    * reduces to |sources| rows. The synthetic corpus has no newlines
    * (each doc is one line — the census degenerates to doc-level
    * duplication, still exercised: a corpus with enough repeated docs
    * crosses [[LineMinDocs]]); multi-line semantics are pinned by crafted docs
    * in DedupSpec, the c4_rules precedent. */
  def dedupLines(s: SparkSession, dir: String): DataFrame =
    dedupLinesOn(Tables(s, dir, "documents"))

  /** [[dedupLines]] over an explicit documents frame (spec hook). */
  private[graft] def dedupLinesOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val lines = docs
      .select($"doc_id", $"source",
        explode(filter(transform(split($"text", "\n"), l => trim(l)),
          l => l =!= lit(""))).as("line"))
      .select($"doc_id", $"source",
        graft.functions.PolyHash($"line").as("h"),
        length($"line").cast("long").as("chars"))
    val stats = lines.groupBy($"h", $"source")
      .agg(count(lit(1)).as("occ"), sum($"chars").as("ch"),
        count_distinct($"doc_id").as("d"))
    val docFreq = stats.groupBy($"h").agg(sum($"d").as("doc_freq"))
    stats.join(docFreq, "h")
      .withColumn("boiler", $"doc_freq" >= LineMinDocs)
      .groupBy($"source")
      .agg(
        sum($"occ").as("n_lines"),
        count(lit(1)).as("n_distinct_lines"),
        sum(when($"boiler", 1L).otherwise(0L)).as("n_boiler_lines"),
        sum(when($"boiler", $"occ").otherwise(0L)).as("boiler_occurrences"),
        sum($"ch").as("line_chars"),
        when(sum($"ch") > 0,
          round(sum(when($"boiler", $"ch").otherwise(0L)).cast("double") /
            sum($"ch").cast("double"), 4)).as("boiler_char_frac"))
      .orderBy($"source")
  }

  /** The ACT half of [[dedupLines]] (CCNet line-level dedup, Wenzek
    * 2020 — the census tells you how much boilerplate there is, this
    * strips it): every line carried by ≥ [[LineMinDocs]] distinct
    * documents corpus-wide is dropped from EVERY document (the cookie
    * banner disappears from all its carriers, unlike the near-dup
    * family's keep-one discipline — boilerplate has no canonical
    * owner), and the report prices the cut per source: documents
    * affected, line/char volume in and dropped, kept-char fraction.
    *
    * Same relationship as `span_redact` : `dedup_spans`. Scale shape:
    * lines PolyHash in the scan (no line text in any exchange), the
    * doc-frequency table aggregates (hash, source) rows, the flag
    * joins back by hash (both sides aggregated/line-keyed — nothing
    * quadratic), and the two distinct-doc counts share the per-source
    * aggregation's Expand. */
  def boilerplateStrip(s: SparkSession, dir: String): DataFrame =
    boilerplateStripOn(Tables(s, dir, "documents"))

  /** [[boilerplateStrip]] over an explicit documents frame (spec hook). */
  private[graft] def boilerplateStripOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val lines = docs
      .select($"doc_id", $"source",
        explode(filter(transform(split($"text", "\n"), l => trim(l)),
          l => l =!= lit(""))).as("line"))
      .select($"doc_id", $"source",
        graft.functions.PolyHash($"line").as("h"),
        length($"line").cast("long").as("chars"))
    val docFreq = lines.groupBy($"h")
      .agg(count_distinct($"doc_id").as("doc_freq"))
    lines.join(docFreq, "h")
      .withColumn("boiler", $"doc_freq" >= LineMinDocs)
      .groupBy($"source")
      .agg(
        count_distinct($"doc_id").as("n_docs"),
        count_distinct(when($"boiler", $"doc_id")).as("n_docs_affected"),
        count(lit(1)).as("lines_in"),
        sum(when($"boiler", 1L).otherwise(0L)).as("lines_dropped"),
        sum($"chars").as("chars_in"),
        sum(when($"boiler", $"chars").otherwise(0L)).as("chars_dropped"),
        when(sum($"chars") > 0,
          round((sum($"chars") - sum(when($"boiler", $"chars").otherwise(0L)))
            .cast("double") / sum($"chars").cast("double"), 4))
          .as("kept_char_frac"))
      .orderBy($"source")
  }

  val boilerplateStripSql: String = {
    val hashOf = graft.functions.PolyHash.duckSql("line")
    s"""WITH rawl AS (
       |  SELECT doc_id, source, trim(l) AS line
       |  FROM (SELECT doc_id, source, unnest(string_split(text, chr(10))) AS l
       |        FROM documents)
       |  WHERE trim(l) != ''),
       |lines AS (
       |  SELECT doc_id, source, $hashOf AS h, length(line) AS chars
       |  FROM rawl),
       |dfh AS (
       |  SELECT h, count(DISTINCT doc_id) AS doc_freq
       |  FROM lines GROUP BY h)
       |SELECT source,
       |  count(DISTINCT doc_id) AS n_docs,
       |  count(DISTINCT CASE WHEN doc_freq >= $LineMinDocs THEN doc_id END)
       |    AS n_docs_affected,
       |  count(*) AS lines_in,
       |  CAST(sum(CASE WHEN doc_freq >= $LineMinDocs THEN 1 ELSE 0 END)
       |    AS BIGINT) AS lines_dropped,
       |  CAST(sum(chars) AS BIGINT) AS chars_in,
       |  CAST(sum(CASE WHEN doc_freq >= $LineMinDocs THEN chars ELSE 0 END)
       |    AS BIGINT) AS chars_dropped,
       |  CASE WHEN sum(chars) > 0 THEN
       |    round(CAST(sum(chars) - sum(CASE WHEN doc_freq >= $LineMinDocs
       |        THEN chars ELSE 0 END) AS DOUBLE)
       |      / CAST(sum(chars) AS DOUBLE), 4)
       |  END AS kept_char_frac
       |FROM lines JOIN dfh USING (h)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  val dedupLinesSql: String = {
    val hashOf = graft.functions.PolyHash.duckSql("line")
    s"""WITH rawl AS (
       |  SELECT doc_id, source, trim(l) AS line
       |  FROM (SELECT doc_id, source, unnest(string_split(text, chr(10))) AS l
       |        FROM documents)
       |  WHERE trim(l) != ''),
       |lines AS (
       |  SELECT doc_id, source, $hashOf AS h, length(line) AS chars
       |  FROM rawl),
       |stats AS (
       |  SELECT h, source, count(*) AS occ,
       |    CAST(sum(chars) AS BIGINT) AS ch, count(DISTINCT doc_id) AS d
       |  FROM lines GROUP BY 1, 2),
       |dfh AS (SELECT h, CAST(sum(d) AS BIGINT) AS doc_freq
       |  FROM stats GROUP BY h)
       |SELECT source,
       |  CAST(sum(occ) AS BIGINT) AS n_lines,
       |  count(*) AS n_distinct_lines,
       |  CAST(sum(CASE WHEN doc_freq >= $LineMinDocs THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_boiler_lines,
       |  CAST(sum(CASE WHEN doc_freq >= $LineMinDocs THEN occ ELSE 0 END)
       |    AS BIGINT) AS boiler_occurrences,
       |  CAST(sum(ch) AS BIGINT) AS line_chars,
       |  CASE WHEN sum(ch) > 0 THEN
       |    round(CAST(sum(CASE WHEN doc_freq >= $LineMinDocs THEN ch ELSE 0 END)
       |      AS DOUBLE) / CAST(sum(ch) AS DOUBLE), 4)
       |  END AS boiler_char_frac
       |FROM stats JOIN dfh USING (h)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_lines" -> (dedupLines(_, _)),
    "boilerplate_strip" -> (boilerplateStrip(_, _)),
    "dedup_incremental" -> (dedupIncremental(_, _)),
    "dedup_pipeline" -> (dedupPipeline(_, _)),
    "dedup_canonical" -> (dedupCanonical(_, _)),
    "dedup_components" -> (dedupComponents(_, _)),
    "dedup_cluster_sizes" -> (dedupClusterSizes(_, _)),
    "dedup_exact" -> (dedupExact(_, _)),
    "dedup_ngram" -> (dedupNgram(_, _)),
    "dedup_source_census" -> (dedupSourceCensus(_, _)),
    "dedup_containment" -> (dedupContainment(_, _)),
    "dedup_minhash" -> (dedupMinHash(_, _)),
    "dedup_simhash" -> (dedupSimHash(_, _)),
    "dedup_embedding" -> (dedupEmbedding(_, _)),
    "dedup_semantic" -> (dedupSemantic(_, _)),
    "dedup_spans" -> (dedupSpans(_, _)),
    "span_redact" -> (spanRedact(_, _)),
    "dedup_embedding_lsh" -> (dedupEmbeddingLsh(_, _)),
    "dedup_embedding_lsh_exact" -> (dedupEmbeddingLshExact(_, _)),
    "dedup_survivors" -> (dedupSurvivors(_, _)))

  def oracles: Map[String, String] = Map(
    "dedup_lines" -> dedupLinesSql,
    "boilerplate_strip" -> boilerplateStripSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_pipeline" -> dedupPipelineSql,
    "dedup_canonical" -> dedupCanonicalSql,
    "dedup_components" -> dedupComponentsSql,
    "dedup_cluster_sizes" -> dedupClusterSizesSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_ngram" -> dedupNgramSql,
    "dedup_source_census" -> dedupSourceCensusSql,
    "dedup_containment" -> dedupContainmentSql,
    "dedup_minhash" -> dedupMinHashSql,
    "dedup_simhash" -> dedupSimHashSql,
    "dedup_embedding" -> dedupEmbeddingSql,
    "dedup_semantic" -> dedupSemanticSql,
    "dedup_spans" -> dedupSpansSql,
    "span_redact" -> spanRedactSql,
    // the exactness anchor degenerates to the exact operator by
    // construction (0 planes ⇒ all same-label pairs) — same oracle
    "dedup_embedding_lsh_exact" -> dedupEmbeddingSql,
    "dedup_survivors" -> dedupSurvivorsSql)
}
