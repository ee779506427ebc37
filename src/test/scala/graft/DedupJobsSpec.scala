package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.operators.Dedup

/** The job budget of the n-gram and MinHash pair builds, which share one
  * memoized `documents` profile: Spark jobs per call, and how many
  * stages scan the table. */
class DedupJobsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val sf = "/root/testdata/sf0.01"
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** (Spark jobs started, completed stages that read a parquet file)
    * while `body` runs. */
  private def jobsAndScans(body: => Unit): (Int, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD")) scans.incrementAndGet()
    }
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    (jobs.get, scans.get)
  }

  test("cold ngramPairs runs at most 4 Spark jobs, dedupMinHash on its profile at most 4, one documents scan") {
    Dedup.clearPairCache()
    val (pairJobs, pairScans) = jobsAndScans(Dedup.ngramPairs(spark, sf).collect())
    assert(pairJobs <= 4, s"cold ngramPairs ran $pairJobs Spark jobs")
    val (mhJobs, mhScans) = jobsAndScans(Dedup.dedupMinHash(spark, sf).collect())
    assert(mhJobs <= 4, s"dedupMinHash on a warm profile ran $mhJobs Spark jobs")
    assert(pairScans + mhScans == 1,
      s"ngramPairs then dedupMinHash scanned documents in ${pairScans + mhScans} stages")
  }

  test("clearPairCache drops the profile: the next call scans documents again") {
    Dedup.clearPairCache()
    Dedup.dedupMinHash(spark, sf).collect()
    assert(Dedup.profileCache.keys(spark) == Seq(sf))
    Dedup.clearPairCache()
    assert(Dedup.profileCache.keys(spark).isEmpty)
    val (_, scans) = jobsAndScans(Dedup.ngramPairs(spark, sf).collect())
    assert(scans == 1, s"the rebuild scanned documents in $scans stages")
    Dedup.clearPairCache()
  }
}
