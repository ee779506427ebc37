package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.kmeans.{Centroid, KMeans}

object FaultToleranceSpec {
  // static so executor-thread closures share it within the local JVM
  val failedOnce = new ConcurrentHashMap[Int, Boolean]()
  val fitFailedOnce = new ConcurrentHashMap[Int, Boolean]()
}

/** The reference's fault-tolerance surface (master.py:61-89: simulated
  * 50% task failure, retry until success) is supplied NATIVELY by Spark
  * task re-execution — this spec demonstrates it: every partition's
  * first attempt throws, the job still completes, and the K-Means step
  * and fit results are identical to an undisturbed run. `local[4, 2]`
  * sets task maxFailures=2 (plain local mode would not retry). */
class FaultToleranceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = {
    // master is fixed at session construction — drop any session another
    // suite left behind (suites run sequentially in this JVM)
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4, 2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  test("k-means step survives every partition failing its first attempt") {
    val s = spark
    import s.implicits._
    val pts = (0 until 400)
      .map(i => (i.toLong, (i % 2) * 10.0, (i % 2) * 10.0))
      .toDF("pid", "x", "y")
      .repartition(4)
    val flaky = pts.as[(Long, Double, Double)].mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      if (TaskContext.get().attemptNumber() == 0) {
        FaultToleranceSpec.failedOnce.put(pid, true)
        throw new RuntimeException(s"simulated failure, partition $pid")
      }
      it
    }.toDF("pid", "x", "y")
    val cs = Seq(Centroid(1, 0.0, 0.0), Centroid(2, 10.0, 10.0))
    val (next, sizes) = KMeans.step(flaky, cs)
    assert(FaultToleranceSpec.failedOnce.size() == 4) // every partition failed once
    assert(sizes == Map(1 -> 200L, 2 -> 200L))
    assert(next.map(c => (c.id, c.x, c.y)).toSet ==
      Set((1, 0.0, 0.0), (2, 10.0, 10.0)))
  }

  test("k-means fit survives every partition failing its first attempt in the init job") {
    val s = spark
    import s.implicits._
    // integer coordinates keep every partial sum exact, so the model does
    // not depend on the order in which partition results arrive
    val pts = (0 until 400)
      .map(i => (i.toLong, (i % 2) * 10.0 + i % 3, (i % 2) * 10.0 + i % 5))
      .toDF("pid", "x", "y")
      .repartition(4)
    val flaky = pts.as[(Long, Double, Double)].mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      if (TaskContext.get().attemptNumber() == 0) {
        FaultToleranceSpec.fitFailedOnce.put(pid, true)
        throw new RuntimeException(s"simulated failure, partition $pid")
      }
      it
    }.toDF("pid", "x", "y")
    var failedByInitEnd = -1
    val got = KMeans.fit(flaky, 2, maxIter = 10, initFn = (df, k) => {
      val cs = KMeans.initSample(df, k, 5L)
      failedByInitEnd = FaultToleranceSpec.fitFailedOnce.size()
      cs
    })
    // the init job is the one that scans the source and packs the cache,
    // so every partition's failure (and its retry) happens inside it
    assert(failedByInitEnd == 4)
    assert(FaultToleranceSpec.fitFailedOnce.size() == 4)
    val want = KMeans.fit(pts, 2, maxIter = 10, initFn = KMeans.initSample(_, _, 5L))
    assert(got == want)
  }
}
