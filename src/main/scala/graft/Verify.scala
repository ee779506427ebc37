package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — local fast loop only
    // (the driver always runs the full 2-arg form)
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${describe(e)}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // scale-conditional oracle waivers: a guard that fires for THIS
    // data dir drops the query's oracle (gate records rows-only) and
    // the reason lands machine-readable beside the SQL — an adaptive
    // plan's off-oracle regime must self-declare, not fail a compare
    // it is designed to fail (round-12 verdict #2)
    val waivers = SparkEntry.oracleGuards
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .flatMap { case (k, g) =>
        try g(spark, sfDir).map(k -> _)
        catch { case NonFatal(e) =>
          System.err.println(s"[verify] guard $k failed: ${describe(e)}")
          // a guard that THROWS must not silently re-arm the oracle it
          // exists to waive (round-13 ADVICE): in the over-cap regime
          // that compare is designed to fail, so a dropped waiver would
          // record a spurious FAIL. Record a flagged guard_error waiver
          // instead — the gate sees rows-only plus the reason.
          Some(k -> s"guard_error: ${describe(e)}")
        }
      }
    waivers.foreach { case (k, r) =>
      System.err.println(s"[verify] oracle waived for $k: $r") }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) && !waivers.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/oracle_waivers.json"),
      waivers.map { case (k, r) => s"${q(k)}: ${q(r)}" }.mkString("{", ",", "}"))
    spark.stop()
  }

  /** A failure and its causes, outermost first, as `class: message | …`:
    * a Spark job failure wraps the task's own exception, whose class
    * (e.g. `NotSerializableException`) is often the whole story. */
  def describe(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString(" | ")
}
