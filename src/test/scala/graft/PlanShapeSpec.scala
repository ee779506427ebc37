package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Locks the SURVEY §8 plan-shape claims as executable assertions, the
  * way BucketingSpec locks the zero-shuffle join: if a refactor breaks
  * filter pushdown, column pruning, or re-introduces document text into
  * a dedup exchange key, these fail before any benchmark notices. */
class PlanShapeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val sf = "/root/testdata/sf0.001"
  // dedicated session with AQE off: AdaptiveSparkPlanExec hides the
  // physical operators from collect() before execution, and the static
  // plan is exactly what these assertions are about
  private lazy val spark: SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      // These assertions lock the AT-SCALE plan regime, where the
      // conditional narrow-scan spread (Tables.spreadIfNarrow) is a
      // structural no-op because real tables have row-group/file
      // parallelism — so the spread is disabled here and the invariants
      // (ids-only exchanges, no text/vector shuffles) assert the shape
      // a 100-TB run would execute. TablesSpreadSpec covers the spread
      // itself.
      .config("spark.graft.spreadNarrowScans", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  test("q1_agg: filter pushed to the lineitem scan, schema pruned") {
    val plan = SparkEntry.queries("q1_agg")(spark, sf).queryExecution.executedPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1)
    val scan = scans.head
    assert(scan.metadata("PushedFilters").contains("l_shipdate"),
      s"shipdate filter must reach the parquet scan: ${scan.metadata("PushedFilters")}")
    val cols = scan.schema.fieldNames.toSet
    assert(cols.size <= 6 && cols.contains("l_returnflag"),
      s"scan must read only the 6 touched columns, got $cols")
  }

  test("dedup_exact: no exchange carries the text column") {
    val plan = SparkEntry.queries("dedup_exact")(spark, sf).queryExecution.executedPlan
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val keyed = e.outputPartitioning.toString
      assert(!keyed.contains("text#"),
        s"dedup shuffle key must be the hash composite, not text: $keyed")
      val rowCols = e.child.schema.fieldNames.toSet
      assert(!rowCols.contains("text"),
        s"dedup exchange rows must not carry text, got $rowCols")
    }
  }

  test("asof_join: exactly one data shuffle, keyed on the natural key") {
    // union-sort as-of = ONE hash exchange on the join key; everything
    // after the windowed carry is the small per-event-type aggregation
    val plan = SparkEntry.queries("asof_join")(spark, sf).queryExecution.executedPlan
    // exchanges keyed on k ALONE (the right-side (k, t) dedupe agg and
    // the final event_type agg are separate, intentionally small ones)
    val hashKeys = plan.collect { case e: ShuffleExchangeExec => e }
      .map(_.outputPartitioning.toString)
      .filter(_.contains("hashpartitioning"))
    assert(hashKeys.count(p => p.contains("(k#") && p.count(_ == '#') == 1) == 1,
      s"expected one as-of exchange keyed on k alone, got $hashKeys")
  }

  test("heavy_hitters: candidates broadcast, word shuffle only for candidates") {
    val plan = SparkEntry.queries("heavy_hitters")(spark, sf).queryExecution.executedPlan
    // the candidate set joins the corpus via a broadcast (map-side
    // filter), never a word-keyed shuffle of the whole corpus
    val s = plan.toString
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"),
      s"candidate join must be broadcast:\n$s")
    // the only hash exchanges are (a) the post-filter candidate
    // re-count keyed by (w, total) and (b) nothing keyed by bare w
    // upstream of the join
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      .map(_.outputPartitioning.toString)
      .filter(_.contains("hashpartitioning"))
    assert(exchanges.forall(_.contains("total#")),
      s"only the candidate re-count may hash-shuffle, got $exchanges")
  }

  test("cdc_latest: rank filter compiles to a WindowGroupLimit") {
    val plan = SparkEntry.queries("cdc_latest")(spark, sf).queryExecution.executedPlan
    assert(plan.toString.contains("WindowGroupLimit"),
      s"latest-wins must group-limit before the exchange:\n$plan")
  }

  test("event_paths: null filter pushed to the events scan, one user-keyed shuffle chain") {
    val plan = SparkEntry.queries("event_paths")(spark, sf).queryExecution.executedPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1)
    assert(scans.head.metadata("PushedFilters").contains("IsNotNull(event_type)"),
      s"null guard must reach the scan: ${scans.head.metadata("PushedFilters")}")
    // the session window partitions by user_id; the per-session groupBy
    // clusters on (user_id, sess_id), which the existing user_id
    // partitioning already satisfies — no second event-volume shuffle
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    val eventVolume = exchanges.filter(
      _.child.schema.fieldNames.contains("event_id"))
    assert(eventVolume.size == 1,
      s"expected ONE event-volume shuffle (user_id), got ${eventVolume.size}")
  }

  test("sessionize_native: session_window aggregation, no analytic window sort") {
    val df = SparkEntry.queries("sessionize_native")(spark, sf)
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("session_window"),
      "the native session_window must be the grouping key")
    assert(!plan.toString.contains("WindowExec"),
      "native sessionization must not fall back to an analytic window")
  }

  test("profile_table_approx: one scan, one aggregation, sketch not exact distinct") {
    val df = SparkEntry.queries("profile_table_approx")(spark, sf)
    val plan = df.queryExecution.executedPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, "the whole profile must come from ONE pass")
    // exact count_distinct would compile to Expand + distinct aggs;
    // the sketch form must not
    assert(!plan.toString.contains("Expand"),
      "approx profile must not plan a distinct Expand")
    assert(plan.toString.contains("approx_count_distinct"))
  }

  test("gopher_rules: one scan, one source-keyed exchange, no explode/join") {
    val df = SparkEntry.queries("gopher_rules")(spark, sf)
    val plan = df.queryExecution.executedPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, "all five rules must come from ONE corpus pass")
    assert(scans.head.schema.fieldNames.toSet == Set("text", "source"),
      s"scan must prune to text+source: ${scans.head.schema.fieldNames.mkString(",")}")
    // corpus rows cross exactly one hash exchange (the source rollup);
    // the second is the rangepartitioning presentation sort over the
    // ~|sources| aggregated rows
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    val hashEx = exchanges
      .filter(_.outputPartitioning.toString.contains("hashpartitioning"))
    assert(hashEx.size == 1 && exchanges.size <= 2,
      s"only the source rollup may shuffle corpus rows: $exchanges")
    val p = plan.toString
    assert(!p.contains("Generate") && !p.contains("Join"),
      "the rule census must not explode tokens or join")
  }

  test("embedding_clusters: literal seeds — one scan, only the K-key agg exchanges") {
    val plan = SparkEntry.queries("embedding_clusters")(spark, sf)
      .queryExecution.executedPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, "assignment must be ONE corpus pass")
    // seeds are inlined literals: no exchange may carry vectors or ids —
    // the only shuffle is the K-row cluster aggregation
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val fields = e.child.schema.fieldNames.toSet
      assert(!fields.contains("v") && !fields.contains("vec_id"),
        s"exchange must carry only cluster aggregates, got $fields")
    }
  }

  test("embedding_outliers: posexplode absorbed map-side, no shuffle carries vectors") {
    val plan = SparkEntry.queries("embedding_outliers")(spark, sf)
      .queryExecution.executedPlan
    // the centroid is a broadcast (L rows) and scoring is in-scan: every
    // shuffle moves either (label, dim) centroid partials or the slim
    // (label, vec_id, cos) ranking rows — never a 64-wide vector
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val fields = e.child.schema.fieldNames.toSet
      assert(!fields.contains("v") && !fields.contains("cv")
        && !fields.contains("embedding"),
        s"no shuffle may carry vectors, got $fields")
    }
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    assert(plan.collect { case b: BroadcastExchangeExec => b }.nonEmpty,
      "the L-row centroid table must broadcast")
  }

  test("dedup_cluster_sizes / quality_calibration: exchanges carry only slim keyed rows") {
    for (q <- Seq("dedup_cluster_sizes", "quality_calibration")) {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      exchanges.foreach { e =>
        val fields = e.child.schema.fieldNames.toSet
        assert(!fields.contains("text"),
          s"$q exchange must not carry document text, got $fields")
        assert(e.child.schema.fields.forall(f =>
          f.dataType.defaultSize <= 8 || f.dataType ==
            org.apache.spark.sql.types.StringType),
          s"$q exchange rows must be scalar-narrow, got ${e.child.schema}")
      }
    }
  }

  test("ann_ivf_pq: only per-query lists shuffle, only the re-rank rescans embeddings") {
    // the composite's contract on a trained index: one collect of the
    // queries, one ADC pass over the codes checkpoint, one exact re-rank
    // over the embeddings scan; every record shuffled is one query's
    // list from one partition, never a corpus row
    import operators.Similarity.NumQueries
    operators.Similarity.trainAnn(spark, sf)
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        scans.add(e.stageInfos.exists(_.rddInfos.exists(_.name == "FileScanRDD")))
    }
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val stages =
      try stageShuffles(SparkEntry.queries("ann_ivf_pq")(spark, sf).collect())
      finally {
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    val codesParts = operators.Similarity.pqModel(spark, sf).codes.rdd.getNumPartitions
    val corpusParts = Tables(spark, sf, "embeddings").rdd.getNumPartitions
    val records = stages.map(_._3).sum
    assert(records <= NumQueries * (codesParts + corpusParts),
      s"$records records shuffled for $NumQueries queries: $stages")
    assert(scans.toArray.toSeq == Seq(true, false, true),
      s"jobs reading the embeddings scan, in order: $scans")
  }

  test("dedup_spans: census leg is column-pruned — one postings exchange, KB-scale census shuffle") {
    import org.apache.spark.sql.types.{ArrayType, BinaryType}
    val plan = SparkEntry.queries("dedup_spans")(spark, sf).queryExecution.executedPlan
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    // the span leg's seed-group exchange carries the BoundedCollect
    // posting buffers (binary partial / array final); the census
    // branch's copy of the aggregate must be pruned to (gh, count) —
    // so exactly ONE exchange in the whole plan may carry them
    def heavy(e: ShuffleExchangeExec) = e.child.schema.fields.exists(f =>
      f.dataType.isInstanceOf[ArrayType] || f.dataType == BinaryType)
    assert(exchanges.count(heavy) == 1,
      "exactly the span leg's postings exchange may carry buffers: " +
        exchanges.map(_.child.schema.fieldNames.mkString("(", ",", ")")).mkString(" "))
    // the price of the pruned census is a second gram scan (documented
    // in BASELINE.md) — two document scans, not a reused postings
    // exchange (pruning makes the subtrees non-canonical, by design)
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 2,
      s"span leg + pruned census leg = 2 scans, got ${scans.size}")
  }

  test("er verify joins: distribution pinned against AQE byte-coalescing") {
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM}
    // the levenshtein verify is byte-light but compute-dense; AQE's
    // byte-based coalescing once merged it to ONE task at sf10 (round
    // 10). User-pinned repartitions (REPARTITION_BY_NUM) are exempt
    // from coalescing — assert both ER verify joins still carry them.
    def pinned(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
      }.size
    import spark.implicits._
    val cust = Seq((1L, "alpha", 1), (2L, "alphb", 1)).toDF("key", "name", "nation")
    assert(pinned(operators.EntityResolution.linkPairs(cust)) >= 2,
      "linkPairs verify inputs must be user-pinned")
    assert(pinned(SparkEntry.queries("er_incremental")(spark, sf)) >= 2,
      "erIncremental probe inputs must be user-pinned")
  }

  test("bpe_train: dictionary cut is TakeOrderedAndProject, not a global sort") {
    val dict = operators.TextAnalysis
      .bpeDict(Tables(spark, sf, "documents"))
    val plan = dict.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-V cut must plan as TakeOrderedAndProject: $plan")
    assert(!plan.contains("GlobalSort") && !plan.contains("Sort ["),
      s"no global sort may precede the cut: $plan")
  }

  /** (shuffle bytes read, shuffle bytes written, records written) of
    * every stage `body` runs. */
  private def stageShuffles(body: => Unit): Seq[(Long, Long, Long)] = {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = ev.stageInfo.taskMetrics
        if (m != null) stages.add((m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten))
      }
    }
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    stages.toArray(Array.empty[(Long, Long, Long)]).toSeq
  }

  /** sf's embeddings as (vec_id, v array<double>) and as plain rows. */
  private def knnInput = {
    import org.apache.spark.sql.functions.{col, transform}
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    (e, e.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq)
  }

  test("knn_graph: only bucket-mates are scored, the merge shuffle moves no vectors") {
    val (e, vecs) = knnInput
    val (n, d) = (vecs.size.toLong, vecs.head._2.length)
    // only bucket-mates are scored: the work is Σ b·(b−1), which grows
    // as N·L·bucket, never the N² of an all-pairs pass
    val scored = spark.sparkContext.longAccumulator("kNN pairs scored")
    val stages = stageShuffles(operators.Similarity.knnGraphOf(e, None, Some(scored)))
    val buckets = KnnReference.buckets(vecs)
    assert(scored.value == buckets.map(b => b.size.toLong * (b.size - 1)).sum,
      s"pairs scored ${scored.value} over bucket sizes ${buckets.map(_.size)}")
    // the bucket shuffle carries one member row per (vector, table);
    // every shuffle after it (the per-node merge, the final ordering)
    // carries ids and cosines, well under the n·L·d·8 vector bytes
    val tables = operators.Similarity.KnnTables
    val vectorBytes = n * tables * d * 8
    val (later, first) = stages.filter(_._2 > 0).partition(_._1 > 0)
    assert(first.map(_._3).sum == n * tables, s"bucket shuffle: $stages")
    assert(later.nonEmpty, s"expected the merge shuffle: $stages")
    later.foreach { case (_, written, _) =>
      assert(written < vectorBytes / 8,
        s"a shuffle after the bucket shuffle wrote $written bytes: $stages")
    }
  }

  test("ann_lsh: only a query's bucket-mates are scored, the corpus never shuffles") {
    import operators.Similarity.{NPlanes, NumQueries, Tables_, TopK}
    val (e, vecs) = knnInput
    val parts = e.rdd.getNumPartitions
    val scored = spark.sparkContext.longAccumulator("LSH pairs scored")
    val stages = stageShuffles(operators.Similarity.annLshOf(e, Tables_, NPlanes, Some(scored)))
    // a query scores each corpus row that shares a bucket with it in
    // some table once, never itself
    val buckets = KnnReference.buckets(vecs, Tables_, NPlanes)
    val expected = vecs.map(_._1).filter(_ < NumQueries).map { q =>
      buckets.filter(_.contains(q)).flatten.distinct.count(_ != q).toLong
    }.sum
    assert(scored.value == expected, s"pairs scored ${scored.value}, expected $expected")
    // every record shuffled is a query's list from one plane partition
    // or an output row; shuffling the corpus would add one per vector
    val records = stages.map(_._3).sum
    assert(records > 0 && records <= NumQueries * (parts + TopK),
      s"$records records shuffled for $NumQueries queries over $parts partitions " +
        s"(${vecs.size} vectors): $stages")
  }

  test("knn_graph_exact: node sample broadcasts — the corpus side never shuffles") {
    import operators.Similarity.{KnnK, KnnNodes}
    val (e, vecs) = knnInput
    val parts = e.rdd.getNumPartitions
    val stages = stageShuffles(SparkEntry.queries("knn_graph_exact")(spark, sf))
    // every record shuffled is a node's list from one plane partition
    // or an edge row; shuffling the corpus would add one per vector
    val records = stages.map(_._3).sum
    assert(records > 0 && records <= KnnNodes * (parts + KnnK),
      s"$records records shuffled for $KnnNodes nodes over $parts partitions " +
        s"(${vecs.size} vectors): $stages")
  }
}
