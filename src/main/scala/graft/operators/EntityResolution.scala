package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Entity resolution / record linkage over the customer master — the
  * classic warehouse dedup problem (Fellegi–Sunter record linkage;
  * blocking surveyed in Christen, "A Survey of Indexing Techniques for
  * Scalable Record Linkage", TKDE 2012): find records that are the SAME
  * real-world entity under small typographical variation, cluster them,
  * and measure the identity graph. (The reference engine — the K-Means
  * toy, master.py — has no string surface at all; this family is
  * warehouse-side 100-TB pipeline machinery, the `scd2`/`cdc` module's
  * natural sibling.)
  *
  * The match rule: two customers link when they share `c_nationkey`,
  * their names have EQUAL length, and the names are within edit
  * distance [[MaxEd]] = 1 — for equal-length strings, edit distance ≤ 1
  * is exactly Hamming distance ≤ 1 (a single length-preserving edit is
  * a substitution), which makes the blocking EXACT, not heuristic.
  *
  * Blocking is CHUNK-MASKED multi-pass (the pigeonhole partitioning of
  * PassJoin — Li, Deng & Feng, "PassJoin: A Partition-based Method for
  * Similarity Joins", PVLDB 2011 — run complement-side): split the name
  * into [[ChunkLen]]-char chunks; pass i's key is (i, nation, length,
  * name WITH CHUNK i REMOVED). A single substitution lies in exactly
  * one chunk, so the pass masking that chunk matches — the OR of the
  * ceil(len/[[ChunkLen]]) passes has 100% recall at Hamming ≤ 1, and
  * each key still carries ~len−[[ChunkLen]] characters of the name.
  * That last property is the round-7 lesson: the previous two-pass
  * split (prefix-sans-suffix / 5-char suffix) was also exact, but its
  * prefix key collapsed on realistic serial-numbered names
  * ("Customer#0000…" shares the prefix until the count crosses the
  * next decade), forming near-CONSTANT blocks that crossed [[BlockCap]]
  * at ~10× scale and silently dropped the pass. Every chunk-masked key
  * keeps the LOW-ORDER tail characters — the high-entropy end of a
  * serial name — so block populations stay bounded by the count of
  * records sharing all other chunks, which shrinks as the corpus
  * grows denser. Candidates are verified with `levenshtein` (identical
  * Wagner–Fischer semantics in Spark and DuckDB, asserted in
  * EntityResolutionSpec) BEFORE any exchange-crossing dedup, so the
  * emitted distance is the real edit distance and no name string ever
  * crosses a shuffle twice.
  *
  * Scale design (100 TB): no all-pairs stage anywhere — candidates come
  * from hash-partitioned self-joins keyed on the block keys, and a
  * block whose population exceeds [[BlockCap]] is DROPPED ENTIRELY
  * (both engines, deterministically) rather than allowed to go
  * quadratic: an over-cap block means the blocking key has collapsed
  * (e.g. a default/placeholder name) and its pairs are link noise, the
  * standard oversized-block policy (Christen §5; the dedup family's
  * `NgramDfCap` is the same bound one module over). The drop is
  * OBSERVABLE: [[erPairs]] reports a per-nation dropped-block count, so
  * a key collapse surfaces in the family's own output instead of as
  * silent recall loss. With the cap, a block contributes ≤
  * [[BlockCap]]² pairs and total work is linear in block count.
  * Clustering reuses [[Dedup.labelsOf]]'s O(log diameter)
  * pointer-jumping rounds, and the triangle count joins the ORIENTED
  * edge list (a<b<c) so each triangle is produced exactly once — the
  * standard distributed triangle enumeration (Suri & Vassilvitskii,
  * "Counting Triangles and the Curse of the Last Reducer", WWW 2011).
  */
object EntityResolution {

  /** Maximum edit distance for a link (equal-length ⇒ Hamming). */
  val MaxEd = 1

  /** Blocks larger than this are dropped as degenerate (see scaladoc). */
  val BlockCap = 4096

  /** Width of the masked chunk each blocking pass removes. */
  val ChunkLen = 5

  /** Blocks above this population verify through the salted self-join
    * (below it, the plain per-block join is cheaper than the b-side
    * replication). AQE cannot fix this skew: a near-cap block is tiny
    * in BYTES (4096 rows ≈ 240 KB, far under the 256 MB skew-split
    * threshold) but quadratic in COMPUTE (~8M levenshtein pairs), and
    * the round-10 sf10 gate measured exactly that — one 900 s+
    * single-core verify task while 31 cores idled. Byte-skew detectors
    * never see compute skew; bounding it is the plan's job. */
  val VerifySaltThreshold = 256L

  /** Salt fan-out for large-block verify: the a-side splits into
    * [[VerifySalts]] deterministic groups, the b-side replicates once
    * per salt ([[Skew.saltedEquiJoin]]'s trade), so no task computes
    * more than ~[[BlockCap]]²/[[VerifySalts]] pair distances for one
    * block. */
  val VerifySalts = 32

  /** Cached (pairs, labels) per (session, dir) — the ER family's
    * shared-build stage, [[graft.SessionCache]] lifecycle: five queries
    * consume the same verified edge list and two of them the same
    * component fixpoint, so both materialize ONCE (localCheckpoint /
    * persisted fixpoint) and every query measures pure consumption;
    * Eviction only drops the entry (a returned frame may still be
    * live); [[clearLinkCache]] (callers provably done)
    * force-releases. */
  private val linkCache = new graft.SessionCache[(DataFrame, DataFrame)](
    onClear = { case (pairs, labels) =>
      Dedup.releaseCheckpoint(pairs)
      if (!labels.sparkSession.sparkContext.isStopped) labels.unpersist(blocking = false)
    })

  /** The verified edge list: (a_key, b_key, nation, dist), a < b, one
    * row per linked pair — shared by the pair report, the clustering,
    * and the triangle census. */
  def pairsOf(s: SparkSession, dir: String): DataFrame = linkOf(s, dir)._1

  /** The per-node component labels (id → min reachable key) over the
    * link graph — shared by [[erClusters]] and [[erGolden]]. */
  def labelsFor(s: SparkSession, dir: String): DataFrame = linkOf(s, dir)._2

  def clearLinkCache(): Unit = linkCache.clear()

  private def linkOf(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    linkCache.getOrCompute(s, dir) {
      import s.implicits._
      val pairs = linkPairs(Tables(s, dir, "customer")
          .select($"c_custkey".as("key"), $"c_name".as("name"),
            $"c_nationkey".as("nation")))
        .localCheckpoint() // eager
      // labelsOf returns an already-materialized persisted frame
      (pairs, Dedup.labelsOf(pairs.select($"a_key".as("a_id"), $"b_key".as("b_id"))))
    }

  /** The chunk-masked blocking passes, exploded as one (pass, key)
    * row per chunk — the shared candidate substrate of [[linkPairs]]
    * (full linkage) and [[erIncremental]] (probe-only). Pass i's key
    * is (i, nation, length, name[0, i·W), name[i·W+W, len)) — the name
    * with chunk i cut out — joined with an explicit \u0001 separator
    * between every component (a separator-less concatenation can merge
    * distinct blocks when adjacent numeric fields re-split ambiguously,
    * e.g. nation=1/len=18 vs nation=11/len=8). */
  private def blockKeys(cust: DataFrame): DataFrame = {
    import cust.sparkSession.implicits._
    val lastChunk = greatest(expr(s"(length(name) - 1) DIV $ChunkLen"), lit(0))
    cust.select($"key", $"name", $"nation",
      explode(transform(sequence(lit(0), lastChunk), i =>
        concat_ws("\u0001", i.cast("string"), $"nation".cast("string"),
          length($"name").cast("string"),
          $"name".substr(lit(1), i * ChunkLen),
          $"name".substr(i * ChunkLen + lit(ChunkLen + 1), length($"name")))))
        .as("bk"))
  }

  /** Per-block populations (bk, bn, nation) — blocks are nation-pure
    * (nation is a key component), so `min(nation)` is THE nation. */
  private def blockSizes(keyed: DataFrame): DataFrame = {
    import keyed.sparkSession.implicits._
    keyed.groupBy($"bk")
      .agg(count(lit(1)).as("bn"), min($"nation").as("nation"))
  }

  /** Per-nation count of blocks the [[BlockCap]] policy dropped — the
    * observability leg of the cap (zero on healthy keys; a non-zero
    * count is the key-collapse alarm). Public for the spec's 10×
    * scale-up gate. */
  def overCapBlocks(cust: DataFrame): DataFrame = {
    import cust.sparkSession.implicits._
    blockSizes(blockKeys(cust)).filter($"bn" > BlockCap)
      .groupBy($"nation").agg(count(lit(1)).as("n_dropped_blocks"))
  }

  /** The blocking + verify core on a (key, name, nation) frame —
    * public so EntityResolutionSpec can prove the recall floor and the
    * oversized-block policy on synthetic masters. The verify filter
    * (one `levenshtein`, evaluated once) runs on the self-join output
    * BEFORE the distinct, so only (a_key, b_key, nation, dist) — three
    * longs and an int, never a name string — crosses the dedup
    * exchange; a surviving pair is found by exactly one pass when the
    * names differ (only the pass masking the differing chunk matches)
    * and by every pass when they are identical, so the distinct is the
    * identical-name dedup, nothing more. */
  def linkPairs(cust: DataFrame): DataFrame = {
    import cust.sparkSession.implicits._
    // the verify join is COMPUTE-dense and byte-light (~100 bytes in,
    // ~1 µs of levenshtein DP out, per pair), so AQE's byte-based
    // partition coalescing would merge its shuffle into one or two
    // tasks and serialize the whole quadratic mass — the round-10 sf10
    // gate measured a 900 s single-core stage doing exactly that. The
    // explicit numPartitions pins the distribution (user-specified
    // repartitions are exempt from AQE coalescing).
    //
    // r15 (§2.4 — share one exchange): the whole small-arm pipeline now
    // rides ONE bk-keyed shuffle. The block population `bn` is a count
    // window OVER that partitioning (the r14 form aggregated sizes and
    // joined them back — a second full shuffle of the exploded keys plus
    // a per-arm repartition, all carrying the ~45-byte bk strings), and
    // the self-join's clustering requirement is satisfied by the same
    // exchange on both sides (ReusedExchange), so no further shuffle
    // touches a bk string until the output-pair distinct.
    val np = cust.sparkSession.sessionState.conf.numShufflePartitions
    val keyed = blockKeys(cust).repartition(np, col("bk"))
    val byBlock = org.apache.spark.sql.expressions.Window.partitionBy($"bk")
    // oversized-block drop: bounded quadratic per block by construction
    // (bn rides along so the verify below can route by population)
    val capped = keyed.withColumn("bn", count(lit(1)).over(byBlock))
      .filter($"bn" <= BlockCap)
    def verify(joined: DataFrame) =
      joined.filter($"a_key" < $"b_key")
        .select($"a_key", $"b_key", $"nation",
          levenshtein($"a_name", $"b_name").as("dist"))
        .filter($"dist" <= MaxEd)
    // population routing (a block lands entirely on one path — bn is a
    // per-block constant): small blocks take the plain per-block
    // self-join; large ones salt the a-side and replicate the b-side so
    // per-task verify compute is bounded (see [[VerifySaltThreshold]] —
    // byte-skew detectors cannot see quadratic per-key compute). The
    // pair set is identical either way: each (a, b) meets on exactly
    // a's salt, and the salt never touches a value column, so the
    // DuckDB oracle's plain self-join form is unchanged.
    val small = capped.filter($"bn" <= VerifySaltThreshold)
    val large = capped.filter($"bn" > VerifySaltThreshold)
    val smallPairs = verify(
      small.select($"bk", $"key".as("a_key"), $"name".as("a_name"),
        $"nation".as("nation"))
        .join(small.select($"bk", $"key".as("b_key"), $"name".as("b_name")),
          Seq("bk")))
    val largePairs = verify(
      large.select($"bk", $"key".as("a_key"), $"name".as("a_name"),
        $"nation".as("nation"),
        pmod(hash($"key"), lit(VerifySalts)).as("__vs"))
        .repartition(np, col("bk"), col("__vs"))
        .join(large.select($"bk", $"key".as("b_key"), $"name".as("b_name"),
          explode(sequence(lit(0), lit(VerifySalts - 1))).as("__vs"))
          .repartition(np, col("bk"), col("__vs")),
          Seq("bk", "__vs")))
    smallPairs.unionByName(largePairs)
      .distinct()
  }

  /** DuckDB mirror of [[blockKeys]]: CTEs `cust` and `keyed`. */
  private def duckPairsPreamble: String =
    s"""cust AS (
       |  SELECT c_custkey AS key, c_name AS name, c_nationkey AS nation
       |  FROM customer),
       |keyed AS MATERIALIZED (
       |  SELECT key, name, nation,
       |    unnest(list_transform(
       |      range(0, greatest((length(name) - 1) // $ChunkLen, 0) + 1),
       |      i -> i || chr(1) || nation || chr(1) || length(name) ||
       |        chr(1) || name[1 : i * $ChunkLen] || chr(1) ||
       |        name[i * $ChunkLen + ${ChunkLen + 1} : ]))
       |      AS bk
       |  FROM cust)""".stripMargin

  /** DuckDB CTE chain ending in the verified edge list `pairs`
    * (a_key, b_key, nation, dist) — the [[pairsOf]] mirror. Every
    * stage is MATERIALIZED: keyed is referenced twice by capped,
    * capped twice by the pair self-join, and pairs 2-18× by the
    * consumers (er_pagerank's 8 unrolled rounds each reach edges →
    * pairs) — inlining re-EXECUTES the levenshtein block join per
    * reference, which at sf10 turned the pagerank oracle into ~18
    * full pair generations (>67 GB spill, never finished; the
    * round-12 poisoned entry). */
  private def duckPairs: String =
    s"""$duckPairsPreamble,
       |capped AS MATERIALIZED (
       |  SELECT k.* FROM keyed k
       |  JOIN (SELECT bk FROM keyed GROUP BY bk
       |        HAVING count(*) <= $BlockCap) ok USING (bk)),
       |pairs AS MATERIALIZED (
       |  SELECT DISTINCT a.key AS a_key, b.key AS b_key, a.nation,
       |    levenshtein(a.name, b.name) AS dist
       |  FROM capped a JOIN capped b
       |    ON a.bk = b.bk AND a.key < b.key
       |  WHERE levenshtein(a.name, b.name) <= $MaxEd)""".stripMargin

  /** Per-nation link census: pair count, distance mass, key-sum
    * checksums, and the [[BlockCap]] observability column — the count
    * of blocks the cap dropped (non-zero = the blocking key collapsed
    * for that nation and recall is no longer exact; round-7 verdict
    * item 4). A nation can have dropped blocks and zero pairs or vice
    * versa, so the two legs meet in a full outer join. */
  def erPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = pairsOf(s, dir)
      .groupBy($"nation")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"dist").as("sum_dist"),
        sum($"a_key").as("a_sum"),
        sum($"b_key").as("b_sum"))
    val dropped = overCapBlocks(Tables(s, dir, "customer")
      .select($"c_custkey".as("key"), $"c_name".as("name"),
        $"c_nationkey".as("nation")))
    agg.join(dropped, Seq("nation"), "full_outer")
      .select($"nation",
        coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"sum_dist", lit(0L)).as("sum_dist"),
        coalesce($"a_sum", lit(0L)).as("a_sum"),
        coalesce($"b_sum", lit(0L)).as("b_sum"),
        coalesce($"n_dropped_blocks", lit(0L)).as("n_dropped_blocks"))
      .orderBy($"nation")
  }

  val erPairsSql: String =
    s"""WITH $duckPairs,
       |agg AS (
       |  SELECT nation, count(*) AS n_pairs,
       |    CAST(sum(dist) AS BIGINT) AS sum_dist,
       |    CAST(sum(a_key) AS BIGINT) AS a_sum,
       |    CAST(sum(b_key) AS BIGINT) AS b_sum
       |  FROM pairs GROUP BY nation),
       |dropped AS (
       |  SELECT nation, CAST(count(*) AS BIGINT) AS n_dropped_blocks
       |  FROM (SELECT bk, count(*) AS bn, min(nation) AS nation
       |        FROM keyed GROUP BY bk)
       |  WHERE bn > $BlockCap GROUP BY nation)
       |SELECT coalesce(agg.nation, dropped.nation) AS nation,
       |  coalesce(n_pairs, 0) AS n_pairs,
       |  coalesce(sum_dist, 0) AS sum_dist,
       |  coalesce(a_sum, 0) AS a_sum,
       |  coalesce(b_sum, 0) AS b_sum,
       |  coalesce(n_dropped_blocks, 0) AS n_dropped_blocks
       |FROM agg FULL JOIN dropped ON agg.nation = dropped.nation
       |ORDER BY nation""".stripMargin

  /** Entity clusters: connected components of the link graph (the
    * transitive closure every master-data system materializes — A≈B≈C
    * is ONE customer even if (A,C) was never directly linked). Reuses
    * [[Dedup.labelsOf]]'s pointer-jumping fixpoint; one row per
    * multi-record entity: representative (min key) + member count. */
  def erClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    labelsFor(s, dir)
      .groupBy($"lab".as("entity"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy($"entity")
  }

  val erClustersSql: String =
    s"""WITH RECURSIVE $duckPairs,
       |edges AS MATERIALIZED (
       |  SELECT a_key AS src, b_key AS dst FROM pairs
       |  UNION SELECT b_key, a_key FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |walk(id, lab) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  -- decreasing-label prune (the Dedup oracle-walk discipline):
       |  -- only the component minimum must reach every member; labels
       |  -- >= their destination can never win the final min
       |  SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id
       |  WHERE w.lab < e.dst),
       |comp AS (SELECT id, min(lab) AS entity FROM walk GROUP BY id)
       |SELECT entity, count(*) AS n_members
       |FROM comp GROUP BY entity ORDER BY entity""".stripMargin

  /** The steady-state probe path ([[Dedup]]'s `dedup_incremental`
    * pattern applied to MDM): a batch of NEW records is matched against
    * the EXISTING master's blocking index — candidates only ever cross
    * batch × master, never master × master — and every new record is
    * classified linked (≥ 1 verified master match; the lowest matching
    * master key reported, the merge target) or fresh (a genuinely new
    * entity). The batch is the deterministic `key % 7 == 3` slice so
    * the oracle reproduces the split; within-batch linkage is
    * [[linkPairs]] on the batch by composition and out of scope here.
    * The [[BlockCap]] policy applies to the MASTER index (built once,
    * the capped artifact a production pipeline materializes). */
  def erIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables(s, dir, "customer")
      .select($"c_custkey".as("key"), $"c_name".as("name"),
        $"c_nationkey".as("nation"))
    val isNew = pmod($"key", lit(7L)) === 3L
    val batch = blockKeys(cust.filter(isNew))
    val masterK = blockKeys(cust.filter(!isNew))
    val cappedM = masterK.join(
      masterK.groupBy($"bk").agg(count(lit(1)).as("bn"))
        .filter($"bn" <= BlockCap).select($"bk"),
      "bk")
    // verify (one levenshtein) straight on the join output — the min
    // aggregate absorbs multi-pass duplicates, so no distinct and no
    // name string crosses a second exchange (the linkPairs discipline).
    // Distribution pinned for the same reason as linkPairs' verify:
    // the probe join is compute-dense and byte-light, and AQE's
    // byte-based coalescing would serialize it.
    val np = s.sessionState.conf.numShufflePartitions
    val matches = batch.select($"bk", $"key", $"name").repartition(np, $"bk")
      .join(cappedM.select($"bk", $"key".as("m_key"), $"name".as("m_name"))
          .repartition(np, $"bk"),
        Seq("bk"))
      .filter(levenshtein($"name", $"m_name") <= MaxEd)
      .groupBy($"key").agg(min($"m_key").as("merge_into"))
    cust.filter(isNew)
      .join(matches, Seq("key"), "left")
      .groupBy($"nation")
      .agg(count(lit(1)).as("n_new"),
        count($"merge_into").as("n_linked"),
        (count(lit(1)) - count($"merge_into")).as("n_fresh"),
        coalesce(sum($"merge_into"), lit(0L)).as("m_sum"))
      .orderBy($"nation")
  }

  val erIncrementalSql: String =
    s"""WITH $duckPairsPreamble,
       |batch AS (SELECT * FROM keyed WHERE key % 7 = 3),
       |masterk AS (SELECT * FROM keyed WHERE key % 7 != 3),
       |cappedm AS (
       |  SELECT m.* FROM masterk m
       |  JOIN (SELECT bk FROM masterk GROUP BY bk
       |        HAVING count(*) <= $BlockCap) ok USING (bk)),
       |matches AS (
       |  SELECT b.key, min(m.key) AS merge_into
       |  FROM batch b JOIN cappedm m USING (bk)
       |  WHERE levenshtein(b.name, m.name) <= $MaxEd
       |  GROUP BY b.key)
       |SELECT nation, count(*) AS n_new,
       |  count(merge_into) AS n_linked,
       |  count(*) - count(merge_into) AS n_fresh,
       |  CAST(coalesce(sum(merge_into), 0) AS BIGINT) AS m_sum
       |FROM cust c
       |LEFT JOIN matches USING (key)
       |WHERE key % 7 = 3
       |GROUP BY nation ORDER BY nation""".stripMargin

  /** Golden-record construction (survivorship): for every multi-record
    * entity, the attributes the master record keeps — here the
    * deterministic rule set "name and segment of the lowest key
    * (`min_by`, unique-key tie-break), maximum account balance, summed
    * balance" — the MDM step after clustering that every warehouse
    * ships downstream instead of the raw duplicates. Nation needs no
    * rule: links require equal nation, so it is constant per entity.
    * One entity-keyed aggregate over the membership join; the
    * survivors frame is entity-count-sized at any scale. */
  def erGolden(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables(s, dir, "customer")
    val labels = labelsFor(s, dir)
    cust.join(labels.select($"id".as("c_custkey"), $"lab".as("entity")),
        "c_custkey")
      .groupBy($"entity")
      .agg(count(lit(1)).as("n_members"),
        min_by($"c_name", $"c_custkey").as("g_name"),
        min_by($"c_mktsegment", $"c_custkey").as("g_segment"),
        min($"c_nationkey").as("g_nation"),
        round(max($"c_acctbal"), 4).as("g_acctbal"),
        round(sum($"c_acctbal"), 4).as("sum_acctbal"))
      .orderBy($"entity")
  }

  val erGoldenSql: String =
    s"""WITH RECURSIVE $duckPairs,
       |edges AS MATERIALIZED (
       |  SELECT a_key AS src, b_key AS dst FROM pairs
       |  UNION SELECT b_key, a_key FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |walk(id, lab) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  -- decreasing-label prune — see [[erClustersSql]]
       |  SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id
       |  WHERE w.lab < e.dst),
       |comp AS (SELECT id, min(lab) AS entity FROM walk GROUP BY id)
       |SELECT entity, count(*) AS n_members,
       |  min_by(c_name, c_custkey) AS g_name,
       |  min_by(c_mktsegment, c_custkey) AS g_segment,
       |  min(c_nationkey) AS g_nation,
       |  round(max(c_acctbal), 4) AS g_acctbal,
       |  round(sum(c_acctbal), 4) AS sum_acctbal
       |FROM customer JOIN comp ON c_custkey = comp.id
       |GROUP BY entity ORDER BY entity""".stripMargin

  /** PageRank damping as the exact rational [[PrDampNum]]/[[PrDampDen]]
    * (0.85), iterations, fixed-point rank scale, and report size. */
  val PrDampNum = 17L
  val PrDampDen = 20L
  val PrIters = 8
  val PrScale = 1L << 20
  val PrTop = 20

  /** INTEGER PageRank over the identity graph — hub centrality for
    * linkage QA: a high-rank record sits at the center of a dense link
    * neighborhood, the signature of a placeholder/default value
    * over-linking records (the same pathology [[BlockCap]] guards
    * blocks against, seen from the graph side). PageRank is THE
    * canonical distributed graph computation (Page et al. 1999;
    * Malewicz et al., Pregel, SIGMOD 2010); this one is exactly
    * reproducible across engines because every step is integer:
    *
    *   contrib(j) = r(j) DIV deg(j)                  (integer floor)
    *   r'(i) = (S·(Den−Num)) DIV Den
    *         + (Num · Σ_{j∼i} contrib(j)) DIV Den    (damping 17/20)
    *
    * — BIGINT sums are order-independent, integer floor-division is
    * deterministic, so after [[PrIters]] rounds both engines hold the
    * SAME 64-bit ranks and the oracle hash-gates the whole trajectory
    * (the float formulation would die on cross-engine summation
    * order). Rank mass leaks at each floor — bounded by deg·1 units
    * of 2^-20 per node per round, irrelevant to ordering and
    * identical on both sides.
    *
    * Scale: each round is ONE shuffle join (ranks ⋈ edges on src,
    * both hash-partitioned by node id) plus a BIGINT aggregate keyed
    * on dst — the Pregel shape; the node frame persists once, plan
    * growth is linear in rounds (each round reads the previous ranks
    * exactly once — no [[Dedup.labelsOf]]-style re-rooting needed).
    * The oracle unrolls the same [[PrIters]] rounds as CTEs (the
    * `kmeans_fit_trace` 70-iteration precedent). */
  def erPagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pr = pairsOf(s, dir)
    // the [[Dedup.labelsOf]] iteration discipline: one HashPartitioner
    // pinned from the measured edge count, the undirected adjacency
    // partitioned ONCE, each round a narrow edges⋈ranks join + one
    // BIGINT reduceByKey + a narrow degree join — all PrIters rounds
    // compose lazily into ONE action (the driver-side top-K), where the
    // DataFrame chain paid plan-analysis + AQE latency per round (the
    // same bill the labels fixpoint paid, measured round 8: 5.4 s → ~1 s
    // at sf0.1). takeOrdered is a per-partition top-K merge — O(K)
    // memory anywhere. The cached adjacency is released before
    // returning (round-7 wrong item 4: every invocation stranded it).
    val nEdges = 2L * pr.count()
    val nPart = math.max(1, math.min(
      s.sparkContext.defaultParallelism.toLong,
      (nEdges + Dedup.LabelEdgesPerPartition - 1) /
        Dedup.LabelEdgesPerPartition).toInt)
    val part = new org.apache.spark.HashPartitioner(nPart)
    val edges = pr.select($"a_key", $"b_key").as[(Long, Long)].rdd
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      edges.count()
      val deg = edges.mapValues(_ => 1L).reduceByKey(part, _ + _)
      val base = PrScale * (PrDampDen - PrDampNum) / PrDampDen
      var ranks = deg.mapValues(d => (d, PrScale))
      for (_ <- 1 to PrIters) {
        // contrib(j) = rank(j) DIV deg(j); r' = base + (17·Σ) DIV 20 —
        // all BIGINT (values non-negative, so / is the integer floor)
        val contrib = edges.join(ranks, part)
          .map { case (_, (dst, (d, r))) => (dst, r / d) }
          .reduceByKey(part, _ + _)
        ranks = deg.leftOuterJoin(contrib, part)
          .mapValues { case (d, inc) =>
            (d, base + (PrDampNum * inc.getOrElse(0L)) / PrDampDen) }
      }
      ranks.map { case (id, (d, r)) => (id, d, r) }
        .takeOrdered(PrTop)(Ordering.by { case (id, _, r) => (-r, id) })
        .toSeq.toDF("id", "deg", "rank")
    } finally edges.unpersist(blocking = false)
  }


  /** The [[erPagerank]] oracle: the same [[PrIters]] integer rounds
    * unrolled as CTEs (the `kmeans_fit_trace` precedent). */
  val erPagerankSql: String = {
    val base = PrScale * (PrDampDen - PrDampNum) / PrDampDen
    val rounds = (1 to PrIters).map { k =>
      s"""c$k AS (
         |  SELECT e.dst, CAST(sum(r.rank // r.deg) AS BIGINT) AS inc
         |  FROM r${k - 1} r JOIN edges e ON r.id = e.src
         |  GROUP BY e.dst),
         |r$k AS MATERIALIZED (
         |  SELECT d.id, d.deg,
         |    $base + ($PrDampNum * coalesce(c.inc, 0)) // $PrDampDen AS rank
         |  FROM deg0 d LEFT JOIN c$k c ON d.id = c.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $duckPairs,
       |edges AS MATERIALIZED (
       |  SELECT a_key AS src, b_key AS dst FROM pairs
       |  UNION ALL SELECT b_key, a_key FROM pairs),
       |deg0 AS MATERIALIZED (
       |  SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
       |r0 AS (
       |  SELECT id, deg, CAST($PrScale AS BIGINT) AS rank FROM deg0),
       |$rounds
       |SELECT id, CAST(deg AS BIGINT) AS deg, CAST(rank AS BIGINT) AS rank
       |FROM r$PrIters ORDER BY rank DESC, id LIMIT $PrTop""".stripMargin
  }

  /** Identity-graph density census: per nation, edges, wedges (2-paths
    * a&lt;b&lt;c), and triangles — the closure QA a linkage pipeline
    * reads before trusting transitive merges (a triangle-poor,
    * wedge-rich graph is chaining through weak links; Suri &
    * Vassilvitskii 2011). The oriented edge list (a&lt;b always) makes
    * each wedge and triangle count exactly once with no post-hoc
    * dedup: wedges join on the shared middle vertex, triangles close
    * them with a semi-join back to the edge list. */
  def erTriangles(s: SparkSession, dir: String): DataFrame =
    trianglesOf(pairsOf(s, dir))

  /** The census core on any (a_key, b_key, nation) edge frame — public
    * so EntityResolutionSpec can pin known wedge/triangle counts. */
  def trianglesOf(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    val e = pairs.select($"a_key", $"b_key", $"nation")
    val wedges = e.select($"a_key".as("a"), $"b_key".as("b"), $"nation")
      .join(e.select($"a_key".as("b"), $"b_key".as("c")), "b")
    val tris = wedges.join(
      e.select($"a_key".as("a"), $"b_key".as("c")), Seq("a", "c"),
      "left_semi")
    e.groupBy($"nation").agg(count(lit(1)).as("n_edges"))
      .join(wedges.groupBy($"nation").agg(count(lit(1)).as("n_wedges")),
        Seq("nation"), "left")
      .join(tris.groupBy($"nation").agg(count(lit(1)).as("n_triangles")),
        Seq("nation"), "left")
      .select($"nation", $"n_edges",
        coalesce($"n_wedges", lit(0L)).as("n_wedges"),
        coalesce($"n_triangles", lit(0L)).as("n_triangles"))
      .orderBy($"nation")
  }

  val erTrianglesSql: String =
    s"""WITH $duckPairs,
       |wedges AS (
       |  SELECT e1.a_key AS a, e1.b_key AS b, e2.b_key AS c, e1.nation
       |  FROM pairs e1 JOIN pairs e2 ON e1.b_key = e2.a_key),
       |tris AS (
       |  SELECT w.* FROM wedges w
       |  WHERE EXISTS (SELECT 1 FROM pairs e
       |                WHERE e.a_key = w.a AND e.b_key = w.c)),
       |en AS (SELECT nation, count(*) AS n_edges FROM pairs GROUP BY nation),
       |wn AS (SELECT nation, count(*) AS n_wedges FROM wedges GROUP BY nation),
       |tn AS (SELECT nation, count(*) AS n_triangles FROM tris GROUP BY nation)
       |SELECT en.nation, en.n_edges,
       |  coalesce(wn.n_wedges, 0) AS n_wedges,
       |  coalesce(tn.n_triangles, 0) AS n_triangles
       |FROM en LEFT JOIN wn USING (nation) LEFT JOIN tn USING (nation)
       |ORDER BY en.nation""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "er_pairs" -> (erPairs(_, _)),
    "er_clusters" -> (erClusters(_, _)),
    "er_golden" -> (erGolden(_, _)),
    "er_incremental" -> (erIncremental(_, _)),
    "er_pagerank" -> (erPagerank(_, _)),
    "er_triangles" -> (erTriangles(_, _)))

  def oracles: Map[String, String] = Map(
    "er_pairs" -> erPairsSql,
    "er_clusters" -> erClustersSql,
    "er_golden" -> erGoldenSql,
    "er_incremental" -> erIncrementalSql,
    "er_pagerank" -> erPagerankSql,
    "er_triangles" -> erTrianglesSql)
}
