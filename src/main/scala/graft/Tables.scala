package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table access for the driver-generated TPC-H-ish testdata.
  *
  * The reference engine's only source is CSV text files of points
  * (master.py:36-41); here the primary substrate is columnar parquet so
  * Catalyst can push filters/projections into the scan — see
  * [[graft.sources.PointsSource]] for the CSV scenario-1/2 equivalents.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // -------------------------------------------------- narrow-scan spread
  //
  // r14 optimization-round machinery. The driver's testdata (and any
  // set derived from it by replication) are single-file, SINGLE-ROW-GROUP
  // parquet tables. Parquet cannot split a row group, so every scan —
  // and the whole WholeStageCodegen pipeline fused onto it: tokenize/
  // regex work, dot-product pair streams of broadcast self-joins,
  // partial aggregation — executes as ONE task no matter the core
  // count (measured: 25 stack samples of dedup_semantic at sf1 saw ~1
  // live executor thread; the query ran 78 s where its arithmetic is
  // ~3 s of 32-core work; spreading its pair-stage input cut it to
  // ~16 s). Two spread layers, both CONDITIONAL on the measured scan
  // width so a production table with normal row-group/file parallelism
  // passes through untouched (no extra exchange at 100 TB):
  //
  //   1. [[apply]] spreads a fact table whose file is big enough that a
  //      narrow scan is substantial serial work ([[SpreadMinBytes]]) —
  //      a no-op at the driver's sf0.1 scale (largest file 10.8 MB; a
  //      blanket spread there MEASURED as a 150 -> 217 s suite
  //      regression: 32-task exchanges on KB-per-task data), active at
  //      sf1+ where single-task scans of 113 MB - 1.1 GB gate whole
  //      queries.
  //   2. [[spread]] is the surgical per-operator form for
  //      expression-heavy substrates (embedding pair stages, LM token
  //      pipelines) whose per-byte compute dwarfs the byte count —
  //      applied at measured call sites only.
  //
  // The width probe reads parquet FOOTERS (row-group count), not the
  // scan's split count: Spark happily plans 32 splits over a 1 GB
  // single-row-group file, but only the split containing the row
  // group's midpoint yields rows — split count overstates real
  // parallelism exactly where it matters. Hash-by-key (never
  // round-robin) keeps the row-to-partition map deterministic under
  // retries (SPARK-38388 discipline) and skips round-robin's
  // sort-before-repartition. The partition count is EXPLICIT
  // (REPARTITION_BY_NUM): a bare repartition(keys) is AQE-coalesced
  // back down by BYTES (measured: 1 partition at test scale), but the
  // point here is CPU parallelism, where bytes say nothing about cost;
  // the count still tracks defaultParallelism, so the driver's
  // lower-core scaling run keeps a proportionally smaller width.
  // Results are unchanged by construction for every registry query:
  // deterministic final ORDER BY everywhere, order-free aggregation
  // discipline documented per operator (DECIMAL money sums, integer
  // fixed-point folds) — re-verified against the DuckDB oracle after
  // the change. Conf gate spark.graft.spreadNarrowScans (default on):
  // PlanShapeSpec/TpchExtraSpec assert the AT-SCALE plan regime by
  // turning it off.

  /** Fact/corpus tables eligible for the [[apply]]-level spread and
    * the stable high-cardinality hash key each spreads on. Dimension
    * tables stay unspread: they ride broadcast or key-shuffled join
    * sides where an extra exchange buys nothing. */
  private val SpreadKeys: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey"),
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** [[apply]]-level spread threshold: below this file size the
    * per-query exchange + 32-task stage costs more than the serial
    * scan it parallelizes (measured at sf0.1, where EVERY table is
    * under it); above it a serial scan is whole-seconds of work
    * (sf1 lineitem 113 MB, sf10 1.1 GB). */
  val SpreadMinBytes: Long = 48L * 1024 * 1024

  /** [[spread]] floor for QUADRATIC pair-stage substrates (embedding
    * broadcast self-joins, gram-explode candidate builds): per-byte
    * compute dwarfs the exchange cost well below [[SpreadMinBytes]] —
    * the r14 3-sweep measured 1.18-1.31× at sf0.1 (embeddings 798 KB,
    * documents 594 KB) on dedup_embedding/dedup_semantic (and on the
    * kNN graph, which now spreads its scoring by its own bucket
    * shuffle and reads the scan unspread) — but at sf0.01 (65-194 KB)
    * the stage is sub-exchange-cost work. */
  val SpreadMinComputeBytes: Long = 256L * 1024

  /** [[spread]] floor for LINEAR token/scan pipelines (tokenize +
    * explode + lag window, per-row argmin): the r15 guard for the r14
    * regression — an unguarded spread of the 594 KB sf0.1 documents
    * scan cost the lm family 0.85-0.91× steady-state (lm_domain
    * 2.6 → 8.5 s on a cold JVM; 8-core-beats-32 scaling ratios
    * 0.35-0.74), pure scheduling overhead on KB-per-task data. Above
    * this floor (sf1 documents 5.8 MB, sf10 58 MB) the single-task
    * serial scan gates the whole query and the spread pays (the r14
    * sf1 measurement: the bulk of lm_trigram_score's 44 s). */
  val SpreadMinLinearBytes: Long = 2L * 1024 * 1024

  private case class ScanMeta(rowGroups: Int, bytes: Long)

  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (String, ScanMeta)]()

  /** Parquet-footer scan metadata (row-group count = the real upper
    * bound on scan parallelism, total file bytes), memoized per
    * (dir, table) under the table's [[fingerprint]], so a table
    * rewritten in place is measured again. Driver-side metadata I/O
    * only: one listing per call, footers on a new fingerprint. */
  private def scanMeta(spark: SparkSession, dir: String, name: String): ScanMeta =
    try {
      val files = dataFiles(spark, s"$dir/$name.parquet")
      val stamp = stampOf(files)
      metaCache.compute((dir, name), (_, old) =>
        if (old != null && old._1 == stamp) old
        else (stamp, ScanMeta(files.map(footer(spark, _).getBlocks.size).sum,
          files.map(_.getLen).sum)))._2
    } catch { case scala.util.control.NonFatal(_) =>
      // unreadable footer: report "wide enough" so no spread fires
      ScanMeta(Int.MaxValue, 0L)
    }

  /** The parquet data files of the table at `path` (a file, or the
    * top level of a directory), by name. */
  private def dataFiles(spark: SparkSession, path: String): Array[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.getFileStatus(p).isDirectory) Array(fs.getFileStatus(p))
    else fs.listStatus(p).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
  }

  /** The (path, length, modification time) of every data file of table
    * `name` under `dir`, in path order: one driver-side listing, no
    * Spark job. A memo stamped with it rebuilds once the table is
    * rewritten in place ([[SessionCache.getOrCompute]]). */
  def fingerprint(spark: SparkSession, dir: String, name: String): String =
    stampOf(dataFiles(spark, s"$dir/$name.parquet"))

  private def stampOf(files: Array[org.apache.hadoop.fs.FileStatus]): String =
    files.map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}").mkString(";")

  private def footer(spark: SparkSession, f: org.apache.hadoop.fs.FileStatus) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  /** The schema of the parquet table at `path` from its first data
    * file's footer, read on the driver: the schema Spark's inference
    * reads from one file, without the one-task Spark job it runs for
    * every read. None (inference decides) without a readable file. */
  private def footerSchema(spark: SparkSession, path: String)
      : Option[org.apache.spark.sql.types.StructType] =
    try dataFiles(spark, path).headOption.map { f =>
      import org.apache.spark.sql.execution.datasources.parquet._
      ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(f.getPath, footer(spark, f)),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    } catch { case scala.util.control.NonFatal(_) => None }

  private def spreadOn(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.spreadNarrowScans", "true") == "true"

  /** Surgical spread for an expression-heavy frame derived from table
    * `name`: hash-spread onto the full core count when the table's
    * real scan width (parquet row groups) is narrower than the session
    * parallelism AND the file carries at least `minBytes` of data —
    * the compute-aware floor the r14 form lacked (it spread 594 KB
    * sf0.1 token scans 32 ways and regressed the lm family; see
    * [[SpreadMinLinearBytes]]). Call sites pass the floor matching
    * their per-byte compute: [[SpreadMinComputeBytes]] for quadratic
    * pair stages, [[SpreadMinLinearBytes]] for linear pipelines.
    * No-op when the layout is already parallel, when the conf gate is
    * off, or when the frame already carries a repartition (composition
    * with the [[apply]]-level spread). */
  def spread(df: DataFrame, dir: String, name: String, minBytes: Long,
      keys: Column*): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val alreadySpread = df.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
    }.nonEmpty
    val meta = scanMeta(spark, dir, name)
    if (!spreadOn(spark) || alreadySpread ||
        meta.rowGroups >= cores || meta.bytes < minBytes) df
    else df.repartition(cores, keys: _*)
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The driver's events table stores TIMESTAMP(NANOS), which Spark's
    // parquet reader rejects by default; read it as raw nanos and narrow
    // to µs (integral DIV — a double division would lose precision at
    // 1.7e18). Conditional on the surfaced dtype so a re-written events
    // table that already stores µs timestamps (e.g. one re-written by
    // Spark) reads through unchanged.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val df = footerSchema(spark, path).fold(spark.read)(spark.read.schema).parquet(path)
    val fixed =
      if (name == "events" &&
          df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      else df
    SpreadKeys.get(name) match {
      case Some(keys) if spreadOn(spark) =>
        val meta = scanMeta(spark, dir, name)
        val cores = spark.sparkContext.defaultParallelism
        if (meta.bytes >= SpreadMinBytes && meta.rowGroups < cores)
          fixed.repartition(cores, keys.map(col): _*)
        else fixed
      case _ => fixed
    }
  }
}
