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
    // every option value goes through here: a missing, unparsable or
    // out-of-range value is a usage error naming its option (a next
    // token that is itself an option counts as missing)
    def value[T](flag: String, v: Option[String], what: String)(
        conv: String => Option[T]): T =
      v.flatMap(conv).getOrElse(
        usage(s"$flag expects $what, got ${v.fold("no value")(x => s"'$x'")}"))
    def positive(v: String) = v.toIntOption.filter(_ > 0)
    def loop(rest: List[String], acc: Args): Args = rest match {
      case f :: t if f.startsWith("--") =>
        val v = t.headOption.filterNot(_.startsWith("--"))
        val next = f match {
          case "--k" => acc.copy(k = value(f, v, "a positive integer")(positive))
          case "--max-iter" =>
            acc.copy(maxIter = value(f, v, "a positive integer")(positive))
          case "--scenario" =>
            acc.copy(scenario = value(f, v, "1 or 2")(_.toIntOption.filter(Set(1, 2))))
          case "--seed" => acc.copy(seed = Some(value(f, v, "an integer")(_.toLongOption)))
          case "--partitions" =>
            acc.copy(partitions = Some(value(f, v, "a positive integer")(positive)))
          case "--log" => acc.copy(log = value(f, v, "a file path")(Some(_)))
          case _ => usage(s"unknown option '$f'")
        }
        loop(t.drop(1), next)
      case p :: t => loop(t, acc.copy(paths = acc.paths :+ p))
      case Nil    => acc
    }
    val a = loop(argv.toList, Args(Nil))
    if (a.paths.isEmpty) usage("at least one points CSV path is required")
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
