package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The r14 conditional narrow-scan spread ([[Tables.spread]] +
  * [[Tables.apply]]'s big-file gate): single-row-group parquet pins
  * every scan (and the codegen pipeline fused onto it) to ONE task, so
  * expression-heavy substrates hash-spread onto the session
  * parallelism — and ONLY when the real scan width (parquet row
  * groups) is narrower than the core count, so a production layout
  * passes through untouched. The apply-level form additionally
  * requires [[Tables.SpreadMinBytes]] of file (a blanket spread at
  * sf0.1 measured as a 150 → 217 s suite regression). Results must be
  * identical either way. */
class TablesSpreadSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    GraftSession.builder("4").getOrCreate()
  }

  override def afterAll(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def hasSpread(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case r: RepartitionByExpression => r
    }.nonEmpty

  test("apply-level spread is size-gated: no spread under SpreadMinBytes") {
    // every sf0.001 file is KB-scale — far under the 48 MB gate, so
    // plain reads carry no repartition (the driver's sf0.1 bench shape)
    for (t <- Seq("documents", "embeddings", "lineitem", "orders", "events"))
      assert(!hasSpread(Tables(spark, sf, t)), s"$t must not spread at tiny scale")
  }

  test("surgical spread fires on narrow scans and pins the core count") {
    val df = Tables.spread(Tables(spark, sf, "documents"), sf, "documents",
      0L, col("doc_id"))
    assert(hasSpread(df), "one-row-group scan + narrow width must spread")
    assert(df.rdd.getNumPartitions == 4,
      "spread width must be the session parallelism (AQE must not re-coalesce)")
  }

  test("surgical spread is floor-gated: no spread under minBytes") {
    // the r15 guard for the r14 lm-family regression: sf0.001 documents
    // are KB-scale, far under both floors — a linear token pipeline
    // must read through un-exchanged at driver bench scale
    for (floor <- Seq(Tables.SpreadMinComputeBytes, Tables.SpreadMinLinearBytes))
      assert(!hasSpread(Tables.spread(
        Tables(spark, sf, "documents"), sf, "documents", floor, col("doc_id"))),
        s"documents under a $floor-byte floor must not spread")
  }

  test("surgical spread no-ops: conf gate off, already-spread frame") {
    spark.conf.set("spark.graft.spreadNarrowScans", "false")
    try assert(!hasSpread(
      Tables.spread(Tables(spark, sf, "documents"), sf, "documents",
        0L, col("doc_id"))),
      "conf gate off must disable the spread")
    finally spark.conf.set("spark.graft.spreadNarrowScans", "true")
    val once = Tables.spread(Tables(spark, sf, "documents"), sf, "documents",
      0L, col("doc_id"))
    val twice = Tables.spread(once, sf, "documents", 0L, col("doc_id"))
    assert(twice.queryExecution.analyzed.collect {
      case r: RepartitionByExpression => r
    }.size == 1, "composition must not stack a second exchange")
  }

  test("spread changes no results (dedup_embedding row-identical either way)") {
    val on = SparkEntry.queries("dedup_embedding")(spark, sf).collect().toSeq
    spark.conf.set("spark.graft.spreadNarrowScans", "false")
    val off =
      try SparkEntry.queries("dedup_embedding")(spark, sf).collect().toSeq
      finally spark.conf.set("spark.graft.spreadNarrowScans", "true")
    assert(on == off, "spread must be result-invisible")
  }

  test("spread follows a table rewritten in place from under its floor to over it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spread").toString
    val session = spark
    import session.implicits._
    def write(n: Int): Unit =
      (1 to n).map(i => (i.toLong, s"row $i ${scala.util.Random.alphanumeric.take(40).mkString}"))
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def spreads: Boolean = hasSpread(Tables.spread(
      Tables(spark, dir, "documents"), dir, "documents", 64L * 1024, col("doc_id")))
    write(10)
    assert(!spreads, "a KB-scale table is under the 64 KB floor")
    write(20000)
    assert(spreads, "the rewritten table is over the floor, so the spread must fire")
  }
}
