package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.operators.{Dedup, Similarity}

/** The ANN index persistence contract: a saved index reloads into the
  * train-once cache and every ANN query consumes it — same results as
  * fresh training, with no training pass after the load. */
class AnnIndexSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("save + load round-trips: loaded index reproduces fresh results") {
    val dir = "/root/testdata/sf0.001"
    val path = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    Similarity.clearTrainCache()
    val freshIvf = SparkEntry.queries("ann_ivf")(spark, dir).collect().toSeq
    val freshPq = SparkEntry.queries("ann_pq")(spark, dir).collect().toSeq
    Similarity.saveAnnIndex(spark, dir, path)

    Similarity.clearTrainCache()
    Similarity.loadAnnIndex(spark, dir, path)
    val loadedIvf = SparkEntry.queries("ann_ivf")(spark, dir).collect().toSeq
    val loadedPq = SparkEntry.queries("ann_pq")(spark, dir).collect().toSeq
    assert(loadedIvf == freshIvf, "IVF results must match fresh training")
    assert(loadedPq == freshPq, "PQ results must match fresh training")
  }

  test("clearTrainCache releases the PQ codes checkpoint") {
    val dir = "/root/testdata/sf0.001"
    Similarity.clearTrainCache()
    val codes = Similarity.pqModel(spark, dir).codes
    assert(Dedup.checkpointLive(codes), "fresh codes must be materialized")
    assert(Similarity.pqModel(spark, dir).codes eq codes, "second call must hit the memo")
    Similarity.clearTrainCache()
    assert(!Dedup.checkpointLive(codes),
      "clearTrainCache must unpersist the codes' checkpoint blocks")
  }

  test("incremental append: batch-composable, and recall on the union matches a rebuild") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // sf0.01, not sf0.001: recall estimated over 10 queries × top-10 on
    // a 200-vector corpus swings ±0.1 from quantization ties alone —
    // the 10× corpus makes the appended-vs-rebuilt comparison stable
    val dir = "/root/testdata/sf0.01"
    val base = Tables(spark, dir, "embeddings")
    val offset = base.agg(max($"vec_id")).as[Long].head() + 1L
    // new vectors: shifted ids, mildly perturbed copies (so appended
    // rows are near- but not bit-identical to trained data)
    val extra = base.select(($"vec_id" + offset).as("vec_id"),
      transform($"embedding",
        (x, i) => x + (($"vec_id" % 7) * i % 5).cast("float") * lit(0.01f))
        .as("embedding"),
      $"label")
    val Seq(p1, p2) = Seq.fill(2)(
      java.nio.file.Files.createTempDirectory("graft_annidx").toString)
    Similarity.clearTrainCache()
    Similarity.saveAnnIndex(spark, dir, p1)
    Similarity.saveAnnIndex(spark, dir, p2)

    // ONE append on p1; the SAME rows in two batches on p2 — the frozen
    // codebook makes the code rows identical however they arrive
    Similarity.appendAnnIndex(spark, p1, extra)
    Similarity.appendAnnIndex(spark, p2, extra.filter($"vec_id" % 2 === 0))
    Similarity.appendAnnIndex(spark, p2, extra.filter($"vec_id" % 2 =!= 0))
    val codes1 = spark.read.parquet(s"$p1/pq_codes")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val codes2 = spark.read.parquet(s"$p2/pq_codes")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(codes1 == codes2, "append must be batch-composable")
    val baseIds = base.select($"vec_id").as[Long].collect().sorted.toSeq
    assert(codes1.map(_._1) == (baseIds ++ baseIds.map(_ + offset)).sorted,
      "every base and appended id encoded exactly once")

    // recall on the GROWN corpus: the appended (frozen-quantizer) index
    // must not lose ground to retraining from scratch on the union
    val unionDir = java.nio.file.Files.createTempDirectory("graft_union").toString
    base.unionByName(extra).coalesce(1)
      .write.parquet(s"$unionDir/embeddings.parquet")
    def recall(ann: Seq[org.apache.spark.sql.Row],
        bf: Seq[org.apache.spark.sql.Row]): Double = {
      val a = ann.map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = bf.map(r => (r.getLong(0), r.getLong(1))).toSet
      a.intersect(b).size.toDouble / b.size
    }
    Similarity.clearTrainCache()
    val bf = SparkEntry.queries("ann_bruteforce")(spark, unionDir).collect().toSeq
    val rebuilt = recall(
      SparkEntry.queries("ann_pq")(spark, unionDir).collect().toSeq, bf)
    Similarity.clearTrainCache()
    Similarity.loadAnnIndex(spark, unionDir, p1)
    val appended = recall(
      SparkEntry.queries("ann_pq")(spark, unionDir).collect().toSeq, bf)
    assert(appended >= rebuilt - 0.05,
      s"appended index recall $appended must track the rebuilt index's $rebuilt")
    // the absolute level is corpus-shaped, not append-shaped: every
    // vector has a near-identical perturbed twin here, so the 4-bit ADC
    // shortlist tie-floods for the REBUILT index just the same (~0.72
    // both) — the tracking assert above is the append contract; the
    // floor only guards against collapse
    assert(appended >= 0.6, s"appended recall $appended too low")
  }
}
