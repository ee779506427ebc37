package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.kmeans.KMeans
import graft.sources.PointsSource
import scala.jdk.CollectionConverters._

/** End-to-end CLI spec: the reference's runnable UX (master.py argv →
  * CSV points → Lloyd loop → dump.txt) on synthesized points files, and
  * the seeded sample-init parity (`random.sample`, master.py:27-34). */
class MainSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Three well-separated 2-D blobs, reference points.txt format. */
  private def blobCsv(dir: Path, name: String, shift: Double): Path = {
    val rnd = new scala.util.Random(42 + shift.toLong)
    val centers = Seq((0.0 + shift, 0.0), (10.0 + shift, 10.0), (-10.0 + shift, 10.0))
    val rows = for {
      (cx, cy) <- centers
      _ <- 1 to 40
    } yield f"${cx + rnd.nextGaussian() * 0.5}%.4f,${cy + rnd.nextGaussian() * 0.5}%.4f"
    Files.write(dir.resolve(name), rows.asJava)
  }

  test("CLI scenario 1: converges on one CSV and writes the iteration log") {
    val dir = Files.createTempDirectory("graft_main")
    val csv = blobCsv(dir, "points.txt", 0.0)
    val log = dir.resolve("dump.txt").toString
    val args = Main.parse(Array("--k", "3", "--max-iter", "20",
      "--log", log, csv.toString))
    val m = Main.run(spark, args)
    assert(m.converged, s"should converge on separated blobs, got $m")
    assert(m.centroids.size == 3)
    assert(m.sizes.values.sum == 120L)
    val lines = Files.readAllLines(java.nio.file.Paths.get(log)).asScala
    assert(lines.head.startsWith("Initial centroids:"))
    assert(lines.exists(_.startsWith("Iteration 1:")))
    assert(lines.exists(_.startsWith("Convergence reached after")))
    assert(lines.last.startsWith("Final centroids:"))
    // one log line per history entry is the reference's dump.txt shape
    assert(lines.count(_.startsWith("Iteration ")) == m.iterations)
  }

  test("CLI scenario 2: multiple CSVs cluster together") {
    val dir = Files.createTempDirectory("graft_main2")
    val a = blobCsv(dir, "a.txt", 0.0)
    val b = blobCsv(dir, "b.txt", 1.0)
    val log = dir.resolve("dump.txt").toString
    val args = Main.parse(Array("--k", "3", "--max-iter", "20",
      "--partitions", "3", "--log", log, a.toString, b.toString))
    val m = Main.run(spark, args)
    assert(m.sizes.values.sum == 240L, "both files' points clustered")
    assert(Files.exists(java.nio.file.Paths.get(log)))
  }

  test("CLI rejects unknown flags with a usage error") {
    val e = intercept[IllegalArgumentException] {
      Main.parse(Array("--max_iter", "20", "points.csv")) // typo: underscore
    }
    assert(e.getMessage.contains("--max_iter") && e.getMessage.contains("usage"))
    intercept[IllegalArgumentException](Main.parse(Array("--k", "3"))) // no path
  }

  test("CLI rejects a scenario other than 1 or 2 and non-positive partitions") {
    for (bad <- Seq(Seq("--scenario", "3"), Seq("--scenario", "0"),
        Seq("--partitions", "0"), Seq("--partitions", "-2"))) {
      val e = intercept[IllegalArgumentException] {
        Main.parse((bad :+ "points.csv").toArray)
      }
      assert(e.getMessage.contains(bad.head) && e.getMessage.contains("usage"),
        e.getMessage)
    }
    assert(Main.parse(Array("--scenario", "2", "--partitions", "1", "p.csv"))
      == Main.Args(Seq("p.csv"), scenario = 2, partitions = Some(1)))
  }

  test("CLI rejects a missing, unparsable or non-positive option value with a usage error") {
    for (bad <- Seq(Seq("--k", "abc"), Seq("--max-iter", "x"), Seq("--k", "0"),
        Seq("--max-iter", "-1"))) {
      val e = intercept[IllegalArgumentException] {
        Main.parse((bad :+ "points.csv").toArray)
      }
      assert(e.getMessage.contains(bad.head) && e.getMessage.contains("usage"),
        e.getMessage)
    }
    for (noValue <- Seq(Seq("points.csv", "--partitions"), // trailing
        Seq("--log", "--k", "3", "points.csv"))) {          // next is an option
      val e = intercept[IllegalArgumentException](Main.parse(noValue.toArray))
      assert(e.getMessage.contains(s"${noValue.find(_.startsWith("--")).get} expects") &&
        e.getMessage.contains("usage"), e.getMessage)
    }
    assert(Main.parse(Array("--seed", "-3", "--log", "out.txt", "--k", "2", "p.csv"))
      == Main.Args(Seq("p.csv"), k = 2, seed = Some(-3L), log = "out.txt"))
  }

  test("seeded sample init: deterministic under a seed, varies across seeds") {
    val dir = Files.createTempDirectory("graft_seed")
    val csv = blobCsv(dir, "points.txt", 0.0)
    val pts = PointsSource.scenario1(spark, csv.toString)
    val s1a = KMeans.initSample(pts, 3, seed = 7L)
    val s1b = KMeans.initSample(pts, 3, seed = 7L)
    assert(s1a == s1b, "same seed → same sample")
    // partitioning must not change the selection
    val s1c = KMeans.initSample(pts.repartition(7), 3, seed = 7L)
    assert(s1a == s1c, "sample is partitioning-independent")
    val s2 = KMeans.initSample(pts, 3, seed = 8L)
    assert(s1a.map(c => (c.x, c.y)) != s2.map(c => (c.x, c.y)),
      "different seed → different sample (w.h.p. on 120 points)")
    // ids are 1..K like the reference's draw order
    assert(s1a.map(_.id) == Seq(1, 2, 3))
  }

  test("seeded init converges; some seed recovers the true blobs") {
    val dir = Files.createTempDirectory("graft_seedfit")
    val csv = blobCsv(dir, "points.txt", 0.0)
    val pts = PointsSource.scenario1(spark, csv.toString)
    val want = Seq((-10.0, 10.0), (0.0, 0.0), (10.0, 10.0))
    // random-sample init (like the reference's random.sample) can land
    // two draws in one blob and converge to a local optimum — that's
    // Lloyd's, not a bug. Every seeded run must converge; at least one
    // seed must recover the true blobs.
    val models = (1L to 5L).map { seed =>
      KMeans.fit(pts, 3, maxIter = 30, initFn = KMeans.initSample(_, _, seed))
    }
    models.foreach { m =>
      assert(m.converged)
      assert(m.sizes.values.sum == 120L)
    }
    val recovered = models.exists { m =>
      val got = m.centroids.map(c => (c.x, c.y)).sortBy(_._1)
      got.zip(want).forall { case ((gx, gy), (wx, wy)) =>
        math.abs(gx - wx) < 0.5 && math.abs(gy - wy) < 0.5
      }
    }
    assert(recovered, "no seed in 1..5 recovered the three blobs")
  }

  test("Verify names every cause of a failed query, class and message") {
    val cause = new java.io.NotSerializableException("graft.operators.Similarity$")
    val e = new org.apache.spark.SparkException("Task not serializable", cause)
    assert(Verify.describe(e) == "org.apache.spark.SparkException: Task not serializable | " +
      "java.io.NotSerializableException: graft.operators.Similarity$")
  }
}
