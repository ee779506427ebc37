package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins the read-after-action contract of
  * [[org.apache.spark.graft.ListenerDrain.drain]]: stage-completed
  * events post asynchronously, so a listener read right after an action
  * is only sound after a drain. KMeansSpec's "iterations + 1 Spark
  * jobs" count relies on it. The subject is a test-local stage I/O
  * counter: (a) a shuffling query registers shuffle read+write bytes
  * after a drain, (b) a shuffle-free scan registers none, and (c)
  * spill bytes are never negative. */
class IoListenerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Cumulative stage-level shuffle read/write and spill bytes over
    * every stage completed since registration. */
  private final class IoListener extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
    override def onStageCompleted(
        ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = ev.stageInfo.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
    def snapshot: (Long, Long, Long) =
      (shuffleRead.get, shuffleWrite.get, spill.get)
  }

  test("shuffle bytes register after drain; scans register none") {
    val s = spark
    import s.implicits._
    val listener = new IoListener
    spark.sparkContext.addSparkListener(listener)
    try {
      // AQE can plan tiny local shuffles away entirely; a plain
      // repartition-by-key over enough distinct keys always exchanges
      val df = (1 to 50000).toDF("k")
      df.repartition(4, $"k").agg(sum($"k")).collect()
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      val afterShuffle = listener.snapshot
      assert(afterShuffle._1 > 0L, "shuffle read bytes must register")
      assert(afterShuffle._2 > 0L, "shuffle write bytes must register")

      // a narrow map-only job moves nothing through the shuffle
      df.select($"k" + 1).write.mode("overwrite").format("noop").save()
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      val afterScan = listener.snapshot
      assert(afterScan._1 == afterShuffle._1 && afterScan._2 == afterShuffle._2,
        s"map-only job must add no shuffle bytes: $afterShuffle -> $afterScan")
      assert(afterScan._3 >= 0L)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
