package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.kmeans.{Centroid, KMeans, KMeansModel}
import graft.sources.PointsSource

/** Runnable CLI — the engine's equivalent of the reference's
  * `python3 master.py <mappers> <reducers> <K> <iterations>`
  * (master.py:152-160): load CSV points, run Lloyd K-Means to
  * convergence, write a per-iteration centroid log (the reference's
  * `dump.txt`, master.py:12 + the `logging.info` calls in its loop).
  *
  *   usage: graft.Main [--k K] [--max-iter N] [--scenario 1|2]
  *                     [--seed S] [--partitions P] [--log dump.txt]
  *                     <points.csv> [more.csv ...]
  *
  * Mapping from the reference's knobs:
  *   - num_mappers  → `--partitions` (input split count; Spark tasks
  *     replace hand-assigned index ranges, master.py:46-49);
  *   - num_reducers → the session's shuffle partitions (Spark hash
  *     shuffle replaces the per-reducer partition files);
  *   - scenario 1/2 → single-path vs multi-path CSV scan
  *     ([[PointsSource]]); with several paths scenario 2 is implied;
  *   - random init  → `--seed` selects the seeded sample init
  *     ([[KMeans.initSample]], `random.sample` parity); without it the
  *     deterministic order-based init is used;
  *   - convergence  → same `np.allclose` atol=1e-4 test (master.py:144).
  */
object Main {
  final case class Args(paths: Seq[String], k: Int = 8, maxIter: Int = 10,
      scenario: Int = 1, seed: Option[Long] = None,
      partitions: Option[Int] = None, log: String = "dump.txt")

  private def usage(problem: String): Nothing =
    throw new IllegalArgumentException(
      s"$problem; usage: graft.Main [--k K] [--max-iter N] " +
        "[--scenario 1|2] [--seed S] [--partitions P] [--log FILE] <csv>...")

  def parse(argv: Array[String]): Args = {
    def loop(rest: List[String], acc: Args): Args = rest match {
      case "--k" :: v :: t          => loop(t, acc.copy(k = v.toInt))
      case "--max-iter" :: v :: t   => loop(t, acc.copy(maxIter = v.toInt))
      case "--scenario" :: v :: t   => loop(t, acc.copy(scenario = v.toInt))
      case "--seed" :: v :: t       => loop(t, acc.copy(seed = Some(v.toLong)))
      case "--partitions" :: v :: t => loop(t, acc.copy(partitions = Some(v.toInt)))
      case "--log" :: v :: t        => loop(t, acc.copy(log = v))
      case f :: _ if f.startsWith("--") => usage(s"unknown option '$f'")
      case p :: t                   => loop(t, acc.copy(paths = acc.paths :+ p))
      case Nil                      => acc
    }
    val a = loop(argv.toList, Args(Nil))
    require(a.paths.nonEmpty, "at least one points CSV path is required")
    require(a.k > 0 && a.maxIter > 0, "--k and --max-iter must be positive")
    if (a.scenario != 1 && a.scenario != 2)
      usage(s"--scenario must be 1 or 2, got ${a.scenario}")
    a.partitions.filter(_ <= 0).foreach(p => usage(s"--partitions must be positive, got $p"))
    a
  }

  private def fmt(cs: Seq[Centroid]): String =
    cs.map(c => f"${c.id}:(${c.x}%.6f, ${c.y}%.6f)").mkString(" ")

  /** The reference's dump.txt surface: init line, one line per
    * iteration, convergence notice, final line. */
  def writeLog(path: String, m: KMeansModel): Unit = {
    val lines = Seq(s"Initial centroids: ${fmt(m.history.head)}") ++
      m.history.tail.zipWithIndex.map { case (cs, i) =>
        s"Iteration ${i + 1}: New centroids: ${fmt(cs)}"
      } ++
      (if (m.converged)
        Seq(s"Convergence reached after ${m.iterations} iterations.")
      else Nil) :+
      s"Final centroids: ${fmt(m.centroids)}"
    Files.write(Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Testable core: run the clustering per `args` on `spark`. */
  def run(spark: SparkSession, args: Args): KMeansModel = {
    val raw =
      if (args.scenario == 2 || args.paths.size > 1)
        PointsSource.scenario2(spark, args.paths)
      else PointsSource.scenario1(spark, args.paths.head)
    val pts = args.partitions.fold(raw)(raw.repartition(_))
    val initFn: (org.apache.spark.sql.DataFrame, Int) => Seq[Centroid] =
      args.seed match {
        case Some(s) => KMeans.initSample(_, _, s)
        case None    => KMeans.init
      }
    val model = KMeans.fit(pts, args.k, args.maxIter, initFn = initFn)
    writeLog(args.log, model)
    model
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = GraftSession.local()
    try {
      val m = run(spark, args)
      println(s"Final centroids: ${fmt(m.centroids)}")
      println(s"converged=${m.converged} iterations=${m.iterations} " +
        s"sizes=${m.sizes.toSeq.sortBy(_._1).mkString(",")} log=${args.log}")
    } finally spark.stop()
  }
}
