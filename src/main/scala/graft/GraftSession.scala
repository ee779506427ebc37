package graft

import org.apache.spark.sql.SparkSession

/** The engine's SparkSession factory (SURVEY.md §4) — one place for the
  * settings every entry point (Verify, Main, tests, user code) should
  * share:
  *
  *   - AQE on: runtime partition coalescing and skew-join splitting are
  *     the engine's skew story at 100 TB (documented per-operator);
  *   - `shuffle.partitions` sized to the local core count here; a real
  *     cluster deployment sets it (or relies on AQE coalescing) per job;
  *   - UTC session timezone so timestamp semantics match the DuckDB
  *     oracle everywhere;
  *   - broadcast threshold left at default 10 MB — the explicit
  *     `broadcast()` hints in the operators make dimension broadcasts
  *     deterministic rather than size-estimated.
  */
object GraftSession {
  def builder(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      : SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      : SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Register every testdata table as a temp view so `spark.sql(...)`
    * works against the engine's data model. */
  def registerTables(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach { n =>
      Tables(spark, dir, n).createOrReplaceTempView(n)
    }
}
