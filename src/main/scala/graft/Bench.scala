package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, JSON to stdout (BENCH_r{N}.json).
  *
  * Queries are forced through a `noop`-format write so the FULL plan
  * executes (a bare `count()` would let Catalyst prune projections and
  * under-report the work). AQE is on — it coalesces the post-shuffle
  * partitions the sf0.1 data doesn't need and re-plans skewed joins, the
  * same configuration a production cluster would run.
  *
  * Timing protocol: [[Sweeps]] full passes over the suite, reporting
  * each query's MIN with its observed max−min `spread` alongside —
  * host timings here swing ±20% run to run (documented across rounds),
  * so a single sample cannot distinguish a regression from noise; the
  * min approximates steady-state throughput and the spread makes the
  * noise floor part of the artifact, so regressions are decidable from
  * the JSON alone. Sweep 1 additionally pays each plan's one-time cost
  * (codegen compile, AQE canonicalization).
  *
  * The shared near-dup pair stage ([[operators.Dedup.ngramPairs]]) is
  * cleared and then REBUILT as its own timed entry
  * (`dedup_pairs_build`) at the top of every sweep: the build is priced
  * exactly once per sweep under its own name instead of landing on
  * whichever family query happens to run first (round 4 billed it to
  * `dedup_canonical` and the 8-11 s build cost showed up as spread on
  * different family members across sweeps), and every dedup-family
  * query then measures pure consumption of the materialized rows — the
  * accounting a real pipeline run has.
  *
  * Artifact-capture contract (the round-4 lesson): the driver keeps
  * only the LAST ~2000 characters of the run's output, and sbt appends
  * a ~75-char `[success]` line after ours — a single 4-5 KB JSON line
  * loses its head (round 4's captured artifact contained only the
  * spread map; the total and minimums survived nowhere but
  * BASELINE.md). So the emission is three-fold:
  *   1. the FULL result (3-decimal minimums + spreads + total) is
  *      written to `BENCH_FULL.json` in the working directory — it
  *      lands in the repo and survives any stdout truncation;
  *   2. a verbose one-line JSON (same content) prints first, for eyes
  *      on a local run;
  *   3. a COMPACT line prints LAST, sized well under the capture
  *      window: the most expensive per-query minimums individually
  *      (greedy by cost until the character budget), the cheap rest
  *      aggregated as {n, sum}, and the TOTAL at the line's end so
  *      even a truncated capture retains the gate numbers. */
/** Cumulative stage-level I/O counters — shuffle read/write and spill
  * bytes summed over every completed stage since registration. Wall-time
  * at local[32]/sf0.1 cannot see a plan that silently starts moving 10×
  * the data at the same latency (32 local cores hide a lot of shuffle);
  * bytes can — so the bench artifact carries both, and a shuffle-volume
  * regression is decidable from BENCH_FULL.json alone, same as a time
  * regression. Reads must be preceded by [[org.apache.spark.graft
  * .ListenerDrain.drain]] (stage events post asynchronously). */
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

object Bench {
  /** Sweeps per suite run — env-overridable (GRAFT_BENCH_SWEEPS) so the
    * sf10 gate can afford a single sweep; the artifact records the
    * count, so a 1-sweep run is visibly a 1-sweep run. Committed
    * baselines always use the default 3. */
  val Sweeps: Int = {
    val n = sys.env.get("GRAFT_BENCH_SWEEPS").map(_.toInt).getOrElse(3)
    require(n >= 1, s"GRAFT_BENCH_SWEEPS must be >= 1, got $n")
    n
  }

  /** Character budget for the compact line's per-query map — the
    * 2000-char capture window minus the trailing sbt status line and
    * the compact line's own framing, with safety margin. */
  val CompactBudget = 1500

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // Untimed warmup: JVM/codegen/parquet-footer costs land here, not on
    // the alphabetically-first query — and the pair-stage build runs
    // once untimed too, so the per-sweep `dedup_pairs_build` entries
    // measure the steady-state rebuild instead of billing sweep 1 for
    // first-touch codegen (round-4's 12 s build spread was exactly
    // that cold-start landing in the spread column).
    try {
      SparkEntry.queries("q1_agg")(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      operators.Dedup.clearPairCache()
      operators.Dedup.ngramPairs(spark, sfDir)
      operators.Dedup.clearLabelCache()
      operators.Dedup.ngramLabels(spark, sfDir)
      operators.Similarity.clearTrainCache()
      operators.Similarity.trainAnn(spark, sfDir)
      operators.Similarity.knnEdges(spark, sfDir)
      kmeans.KMeansQueries.clearFitCache()
      kmeans.KMeansQueries.trainFit(spark, sfDir)
      operators.EntityResolution.clearLinkCache()
      operators.EntityResolution.linkBuild(spark, sfDir)
      operators.DataSelection.clearTrainCache()
      operators.DataSelection.trainWeights(spark, sfDir)
      operators.DataSelection.clearScoreCache()
      operators.DataSelection.trainScored(spark, sfDir)
      operators.LangModel.clearScoreCache()
      operators.LangModel.trainScores(spark, sfDir)
    } catch { case scala.util.control.NonFatal(_) => }
    // GRAFT_BENCH_ONLY=<comma-separated names>: targeted re-bench of a
    // family under iteration (the full sf10 suite is a ~2 h single
    // sweep — measuring one fix must not cost that). The per-sweep
    // build stages are SKIPPED and their caches stay warm from the
    // warmup, so filtered query times measure the same steady state the
    // full run does; the emitted JSON is a partial artifact for
    // iteration, never a BENCH_FULL_* replacement.
    val only = sys.env.get("GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(n => only.forall(_.contains(n._1)))
    val times = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    // per-query I/O (shuffle read / shuffle write / spill bytes), the
    // MAX across sweeps — bytes are plan-determined and near-identical
    // sweep to sweep, and max is the conservative gate side
    val listener = new IoListener
    spark.sparkContext.addSparkListener(listener)
    val io = scala.collection.mutable.Map[String, (Long, Long, Long)]()
    def timed(name: String)(run: => Unit): Unit = {
      // settle GC debt from earlier queries so it isn't billed here
      System.gc()
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      val before = listener.snapshot
      val t0 = System.nanoTime()
      val ok =
        try { run; true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      // a failed run records -1, never its time-to-exception — a
      // breakage must not read as a speedup in the JSON line
      times(name) = times(name) :+ (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      if (ok) {
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
        val after = listener.snapshot
        val d = (after._1 - before._1, after._2 - before._2, after._3 - before._3)
        val p = io.getOrElse(name, (0L, 0L, 0L))
        io(name) = (math.max(p._1, d._1), math.max(p._2, d._2), math.max(p._3, d._3))
      }
    }
    for (_ <- 1 to Sweeps) if (only.nonEmpty) {
      // targeted mode: no cache clears, no build-stage pricing — the
      // warmup above already built every shared table once
      names.foreach { case (name, fn) =>
        timed(name) { fn(spark, sfDir).write.mode("overwrite").format("noop").save() }
      }
    } else {
      operators.Dedup.clearPairCache()
      // the shared pair-stage build, priced once per sweep as its own
      // entry (ngramPairs materializes eagerly via localCheckpoint, so
      // timing the call covers the full candidates+verify build)
      timed("dedup_pairs_build") { operators.Dedup.ngramPairs(spark, sfDir) }
      // the membership fixpoint above the pair list (four consumers:
      // components / canonical / cluster_sizes / pipeline), priced once
      // per sweep under its own name
      operators.Dedup.clearLabelCache()
      timed("dedup_labels_build") { operators.Dedup.ngramLabels(spark, sfDir) }
      // ANN training (IVF quantizer + PQ codebook/encode), train-once
      // semantics priced once per sweep under its own name — the
      // round-5 verdict's ann_ivf/ann_pq spreads were this training
      // re-running inside every query call (an ANN index trains once
      // and serves many queries; the per-call retraining was the
      // bench artifact, not the operator)
      operators.Similarity.clearTrainCache()
      timed("ann_train_build") {
        operators.Similarity.trainAnn(spark, sfDir)
      }
      // the k-NN edge list (two consumers: the graph read + the label
      // spread), built once per sweep under its own name — the spread
      // previously re-ran the whole bucket join per call
      timed("knn_graph_build") {
        operators.Similarity.knnEdges(spark, sfDir); ()
      }
      // the contract-chain Lloyd model (kmeans_fit / kmeans_fit_trace
      // share one trajectory), trained once per sweep under its own
      // name — same fit-once accounting as the ANN entry above
      kmeans.KMeansQueries.clearFitCache()
      timed("kmeans_train_build") {
        kmeans.KMeansQueries.trainFit(spark, sfDir)
      }
      // the ER family's shared edge list + component fixpoint (five
      // consumers), same build-once accounting as the entries above
      operators.EntityResolution.clearLinkCache()
      timed("er_link_build") {
        operators.EntityResolution.linkBuild(spark, sfDir)
      }
      // the DSIR weight-table fit (one featurization + ≤1024-row
      // collect), trained once per sweep under its own name — the
      // dsir_* queries then measure pure single-scan scoring
      operators.DataSelection.clearTrainCache()
      timed("dsir_train_build") {
        operators.DataSelection.trainWeights(spark, sfDir); ()
      }
      // the score-once stage above the weight fit: the per-document
      // weight/score tables (one row per doc, localCheckpoint) that
      // the dsir_* and lm_score/lm_buckets* queries consume — priced
      // once per sweep each, same accounting as the entries above
      operators.DataSelection.clearScoreCache()
      timed("dsir_score_build") {
        operators.DataSelection.trainScored(spark, sfDir); ()
      }
      operators.LangModel.clearScoreCache()
      timed("lm_score_build") {
        operators.LangModel.trainScores(spark, sfDir); ()
      }
      // the per-document quality-score table (quality_score + the
      // source_quota pair; the approx cut reads it twice)
      operators.TextAnalysis.clearScoreCache()
      timed("quality_score_build") {
        operators.TextAnalysis.trainQualityScores(spark, sfDir); ()
      }
      // the BPE merge-table trainer (one word count + driver merge
      // loop), trained once per sweep — bpe_train/bpe_vocab/
      // tok_fertility_learned then read the memoized table
      operators.TextAnalysis.clearBpeCache()
      timed("bpe_train_build") {
        operators.TextAnalysis.trainBpe(spark, sfDir); ()
      }
      // the learned-classifier NB weight fit (one token scan into a
      // 64-bucket aggregate + 64-row collect) — quality_classifier then
      // measures pure literal-lookup scoring
      operators.LangModel.clearClfCache()
      timed("clf_train_build") {
        operators.LangModel.clfLearnedWeights(spark, sfDir); ()
      }
      names.foreach { case (name, fn) =>
        timed(name) { fn(spark, sfDir).write.mode("overwrite").format("noop").save() }
      }
    }
    val results = times.keys.toSeq.sorted.map { name =>
      val ts = times(name)
      if (ts.contains(-1.0)) (name, -1.0, -1.0)
      else (name, ts.min, ts.max - ts.min)
    }
    // failed queries report -1 in `queries` but are EXCLUDED from the
    // total (summing the sentinel would make a breakage read as a
    // speedup); the explicit count makes a partial run unmistakable
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    val failed = results.count(_._2 < 0)
    val sfName = new java.io.File(sfDir).getName

    def obj(f: (String, Double, Double) => Double): String =
      results.map { case (k, mn, sp) => "\"" + k + f"""":${f(k, mn, sp)}%.3f""" }
        .mkString("{", ",", "}")
    def mb(b: Long): String = f"${b / 1048576.0}%.2f"
    // per-query I/O in MB: shuffle read / shuffle write / disk spill —
    // the volume side of the gate (see IoListener)
    val ioStr = results.map { case (k, _, _) =>
      val (sr, sw, sp) = io.getOrElse(k, (0L, 0L, 0L))
      s""""$k":{"sr":${mb(sr)},"sw":${mb(sw)},"sp":${mb(sp)}}"""
    }.mkString("{", ",", "}")
    val ioTot = {
      val vs = results.flatMap(r => io.get(r._1))
      s"""{"read_mb":${mb(vs.map(_._1).sum)},"write_mb":${mb(vs.map(_._2).sum)},"spill_mb":${mb(vs.map(_._3).sum)}}"""
    }
    val full =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","spread":${obj((_, _, sp) => sp)},"queries":${obj((_, mn, _) => mn)},"io_mb":$ioStr,"io_total":$ioTot,"sweeps":$Sweeps,"failed":$failed,"sf":"$sfDir"}"""
    println(full)
    try {
      val out = java.nio.file.Paths.get(sys.env.getOrElse("GRAFT_BENCH_OUT", "BENCH_FULL.json"))
      java.nio.file.Files.write(out, (full + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_FULL.json write failed: ${e.getMessage}")
    }

    // compact gate line, printed LAST (after spark.stop() so no
    // shutdown logging can land between it and the capture window).
    // Failures sort FIRST (Double.MaxValue key): their -1 sentinel
    // would otherwise rank them as if they cost 1 s and let them be
    // displaced from the captured artifact by a tight budget — a
    // breakage must always be visible in the compact line (round-5
    // ADVICE)
    val byCost = results.sortBy { case (_, mn, _) =>
      -(if (mn < 0) Double.MaxValue else mn)
    }
    val entries = byCost.map { case (k, mn, _) =>
      k -> (if (mn >= 10 || mn < 0) f""""$k":$mn%.1f""" else f""""$k":$mn%.2f""")
    }
    var used = 0
    val keep = scala.collection.mutable.LinkedHashSet[String]()
    entries.foreach { case (k, s) =>
      if (used + s.length + 1 <= CompactBudget) { keep += k; used += s.length + 1 }
    }
    val kept = entries.filter(e => keep(e._1)).sortBy(_._1).map(_._2).mkString(",")
    val rest = results.filter(r => !keep(r._1) && r._2 >= 0)
    val restStr = f""","rest":{"n":${rest.size},"sum":${rest.map(_._2).sum}%.3f}"""
    val compact =
      f"""{"q":{$kept}$restStr,"metric":"total","value":$total%.3f,"unit":"sec","io_total":$ioTot,"sweeps":$Sweeps,"failed":$failed,"sf":"$sfName","fullAt":"BENCH_FULL.json"}"""
    spark.stop()
    println(compact)
  }
}
