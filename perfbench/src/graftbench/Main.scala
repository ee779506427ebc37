package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** The graft benchmark harness: one workload, one process, one client.
  *
  *   graftbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *                   --cores C --work DIR
  *
  * Generates the workload's inputs from the seed (untimed), sets up a
  * session several times (each set-up = session start + one read of the
  * inputs), runs one untimed warm-up job, then runs jobs back to back
  * for S seconds, at least [[MinJobs]] of them. Every job's output is
  * checked. With --trace 1 half the jobs are traced, each followed by the
  * workload's layer probes. The last line of stdout is the result JSON. */
object Main {
  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10,
      trace: Boolean = false, cores: Int = 1, work: String = "")

  // a set-up takes about half a second once the JVM is warm; the median
  // of several is steadier than any one
  val SetupReps = 5
  // At least one untraced job per run (plus one traced with --trace 1):
  // the dedup and ANN jobs take about ten seconds each on four cores, so
  // a short run times exactly one of them.
  val MinJobs = 1

  /** Per-layer metric names, printed by every traced run. A workload
    * that bypasses a layer reports 0 for that layer's metrics. */
  val LayerMetrics: Seq[String] = Seq(
    "sources.csv_scan_s", "sources.csv_rows", "sources.parquet_write_s",
    "sources.write_mb", "sources.write_files",
    "kmeans.init_s", "kmeans.fit_s", "kmeans.iterations", "kmeans.spark_jobs",
    "functions.ngram_hash_s", "functions.polyhash_s", "functions.dot_s",
    "operators.Dedup.exact_s", "operators.Dedup.candidates_s",
    "operators.Dedup.candidate_pairs", "operators.Dedup.pairs_build_s",
    "operators.Dedup.verified_pairs", "operators.Dedup.verify_yield",
    "operators.Dedup.labels_s", "operators.Dedup.canonical_s",
    "operators.Dedup.minhash_s", "operators.Dedup.planted_recall",
    "operators.Similarity.train_s", "operators.Similarity.knn_build_s",
    "operators.Similarity.knn_edges", "operators.Similarity.query_s",
    "operators.Similarity.bruteforce_s", "operators.Similarity.recall_at_10",
    "spark.jobs", "spark.tasks", "spark.task_failures", "spark.shuffle_read_mb",
    "spark.shuffle_write_mb", "spark.spill_mb", "spark.task_s", "jvm.gc_s",
    "trace.overhead_s", "trace.span_cover_frac")

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t     => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t  => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t    => parse(t, a.copy(trace = v == "1"))
    case "--cores" :: v :: t    => parse(t, a.copy(cores = v.toInt))
    case "--work" :: v :: t     => parse(t, a.copy(work = v))
    case Nil => a
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  private def session(a: Args): SparkSession = {
    val s = GraftSession.builder(a.cores.toString)
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val t00 = System.nanoTime()
  private def progress(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - t00) / 1e9}%7.2f s] $msg")

  private def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Drops everything a job left cached, then collects garbage, so the
    * next job starts from the same state. Untimed. */
  private def reset(s: SparkSession, w: Workload): Unit = {
    w.clearCaches()
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.seconds >= 1 && a.cores >= 1 && a.work.nonEmpty, "bad arguments")
    val inputs = new File(a.work, s"inputs/${a.workload}")
    deleteTree(inputs)
    inputs.mkdirs()

    // ---- inputs and reference outputs (untimed)
    var spark = session(a)
    progress("generating inputs")
    val w = Workload(a.workload, spark, inputs, a.seed)
    progress("inputs ready")
    spark.stop()

    var attempted = 0
    var failed = 0
    def record(what: String, errs: Seq[String]): Unit = {
      attempted += 1
      if (errs.nonEmpty) {
        failed += 1
        System.err.println(s"$what failed its check:\n  " + errs.take(10).mkString("\n  "))
      }
    }
    val off = new Trace(false, spark.sparkContext)

    // ---- set-up: session start + loading the inputs, several times
    val setups = (1 to SetupReps).map { i =>
      if (i > 1) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a)
      val loaded = w.load(spark)
      val sec = (System.nanoTime() - t0) / 1e9
      progress(f"set-up $i: $sec%.3f s")
      record(s"set-up $i",
        if (loaded == w.rows) Nil else Seq(s"loaded $loaded of ${w.rows} input rows"))
      sec
    }
    // ---- one untimed warm-up job (JIT and codegen caches); more did not
    // make the kmeans_csv medians steadier
    w.clearCaches()
    record("warm-up", w.job(spark, off)())
    progress("warm-up done")
    reset(spark, w)

    // ---- timed jobs, back to back
    val s = spark
    val trace = new Trace(true, s.sparkContext)
    val listener = new SpanListener
    if (a.trace) trace.attach(listener)
    val untraced = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[(Double, Map[String, Double])]
    val heap = new Jvm.HeapPeak
    heap.start()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var n = 0
    // Traced runs alternate traced and untraced jobs, starting and ending
    // traced (three jobs at least): jobs still speed up a little from one
    // to the next as the JIT warms, and the symmetric order cancels that
    // trend out of the traced-minus-untraced overhead.
    while (elapsed < a.seconds || n < MinJobs * (if (a.trace) 3 else 1) ||
        (a.trace && n % 2 == 0)) {
      val tracedJob = a.trace && n % 2 == 0
      // the listener is attached only around traced jobs, so untraced
      // jobs carry none of its cost
      if (tracedJob) s.sparkContext.addSparkListener(listener)
      try {
        val t = if (tracedJob) trace else off
        w.clearCaches()
        val t0 = System.nanoTime()
        val check = t.job(s"job $n")(w.job(s, t))
        val sec = (System.nanoTime() - t0) / 1e9
        progress(f"job $n: $sec%.3f s${if (tracedJob) " (traced)" else ""}")
        record(s"job $n", check())
        if (tracedJob) {
          val root = trace.all.filter(x => x.parent == -1 && x.name == s"job $n").last
          val (probe, probeErrs) = w.probes(s, trace)
          record(s"probes after job $n", probeErrs)
          listener.drain(s.sparkContext)
          traced += ((sec, runtimeMetrics(trace, root) ++ w.layerMetrics(trace, root) ++ probe))
        } else untraced += sec
      } catch {
        case e: Throwable =>
          attempted += 1; failed += 1
          System.err.println(s"job $n threw:"); e.printStackTrace()
      } finally if (tracedJob) {
        listener.drain(s.sparkContext)
        s.sparkContext.removeSparkListener(listener)
      }
      reset(s, w)
      n += 1
    }
    val peakMb = heap.finish() / 1048576.0
    s.stop()

    // ---- report
    val jobs = untraced.toSeq
    val setupS = median(setups)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("job_s", if (jobs.isEmpty) 0.0 else median(jobs), "s"),
        ("rows_per_s", if (jobs.isEmpty) 0.0 else w.rows * jobs.size / jobs.sum, "rows/s"),
        ("heap_peak_mb", peakMb, "MB"))
      else {
        val per = traced.map(_._2)
        val overhead =
          if (traced.isEmpty || jobs.isEmpty) 0.0
          else median(traced.map(_._1).toSeq) - median(jobs)
        val med = LayerMetrics.map { m =>
          val vs = per.flatMap(_.get(m))
          m -> (if (m == "trace.overhead_s") overhead
                else if (vs.isEmpty) 0.0 else median(vs.toSeq))
        }
        med.map { case (m, v) => (m, v, unitOf(m)) }
      }
    println(s"workload ${a.workload} seed ${a.seed} cores ${a.cores} " +
      s"heap_max_mb ${Runtime.getRuntime.maxMemory / 1048576} " +
      s"spark ${org.apache.spark.SPARK_VERSION} jobs ${jobs.size} traced ${traced.size}")
    println(f"failed_frac ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f ratio")
    w match {
      case d: DedupCorpus => println(f"bucket_boundary_miss_share ${d.bucketMissShare}%.4f ratio")
      case _ =>
    }
    metrics.foreach { case (m, v, u) => println(s"$m $v $u") }
    if (a.trace) {
      val spanFile = new File(a.work, s"spans-${a.workload}-${a.seed}.json")
      Files.write(Paths.get(spanFile.getPath), trace.toJson.getBytes("UTF-8"))
      println(s"spans ${spanFile.getPath}")
      selfTimeTable(trace).foreach(println)
    }
    println(Json.obj(Seq(
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> math.max(attempted, 1),
      "failed" -> (if (attempted == 0) 1 else failed),
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (m, v, u) =>
        m -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      })))))
  }

  /** Spark-runtime and GC counters of one traced job, and the share of
    * its wall time the layer spans cover. */
  private def runtimeMetrics(t: Trace, root: Span): Map[String, Double] = {
    val c = t.totalCounters(root)
    Map("spark.jobs" -> c.jobs.toDouble, "spark.tasks" -> c.tasks.toDouble,
      "spark.task_failures" -> c.taskFailures.toDouble,
      "spark.shuffle_read_mb" -> c.shuffleReadBytes / 1048576.0,
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / 1048576.0,
      "spark.spill_mb" -> c.spillBytes / 1048576.0,
      "spark.task_s" -> c.taskRunMs / 1000.0,
      "jvm.gc_s" -> c.gcMs / 1000.0,
      "trace.span_cover_frac" -> (1.0 - t.selfSeconds(root) / root.seconds))
  }

  private def unitOf(m: String): String =
    if (m.endsWith("_s")) "s"
    else if (m.endsWith("_mb")) "MB"
    else if (m.endsWith("_frac") || m.endsWith("_yield") || m.endsWith("_recall") ||
      m.endsWith("recall_at_10")) "ratio"
    else "count"

  /** Median self time and self counters per span name over the traced
    * jobs and probes. */
  private def selfTimeTable(t: Trace): Seq[String] = {
    val rows = t.all.groupBy(s => if (s.parent == -1 && s.name.startsWith("job ")) "job"
      else s.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val c = ss.map(t.selfCounters)
      f"  $name%-40s self_s ${median(ss.map(t.selfSeconds))}%.4f " +
        f"calls ${ss.size}%3d spark_jobs ${median(c.map(_.jobs.toDouble))}%.0f " +
        f"task_s ${median(c.map(_.taskRunMs / 1000.0))}%.4f " +
        f"shuffle_write_mb ${median(c.map(_.shuffleWriteBytes / 1048576.0))}%.2f " +
        f"gc_s ${median(c.map(_.gcMs / 1000.0))}%.3f"
    }
    "span self times (median per call):" +: rows
  }
}
