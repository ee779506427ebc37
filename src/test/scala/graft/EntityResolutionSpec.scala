package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.operators.{Dedup, EntityResolution}

/** Entity-resolution laws (exact values are DuckDB-oracle-checked via
  * the driver contract; these are the structural guarantees the
  * blocking scheme claims): the two-pass OR-blocking is EXACT at
  * Hamming ≤ 1 for equal-length names, the oversized-block policy
  * drops degenerate keys deterministically, the triangle census counts
  * each shape exactly once, and Spark's `levenshtein` is the classical
  * Wagner–Fischer distance the oracle's DuckDB function computes. */
class EntityResolutionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def master(rows: Seq[(Long, String, Int)]) = {
    import spark.implicits._
    rows.toDF("key", "name", "nation")
  }

  test("levenshtein is classical edit distance (oracle parity pin)") {
    import spark.implicits._
    val got = Seq(("kitten", "sitting"), ("abc", "abxc"), ("abc", "abc"),
        ("Customer#000000001", "Customer#000000002"),
        ("Customer#000000001", "Customer#000000011"))
      .toDF("a", "b").select(levenshtein($"a", $"b")).as[Int].collect()
    assert(got.toSeq == Seq(3, 1, 0, 1, 1))
  }

  test("blocking is exact at Hamming <= 1: matches brute force") {
    import spark.implicits._
    // random-ish names over a tiny alphabet so Hamming-1 pairs are
    // dense; TWO lengths and nations {1, 11} so the equal-length guard
    // and the separator'd key (nation=1/len=18 vs nation=11/len=8
    // style re-split ambiguity) are both exercised
    val names = for {
      i <- 0 until 120
    } yield {
      val x = i * 2654435761L % 4096
      val len = 7 + (i % 2)
      val nm = (0 until len).map(j => ('a' + ((x >> (j * 3)) & 3)).toChar).mkString
      (i.toLong, nm, if (i % 6 < 3) 1 else 11)
    }
    val got = EntityResolution.linkPairs(master(names))
      .select($"a_key", $"b_key").as[(Long, Long)].collect().toSet
    val brute = (for {
      (ak, an, anat) <- names
      (bk, bn, bnat) <- names
      if ak < bk && anat == bnat && an.length == bn.length &&
        an.zip(bn).count { case (x, y) => x != y } <= 1
    } yield (ak, bk)).toSet
    assert(got == brute, s"blocking missed ${brute -- got} / invented ${got -- brute}")
    assert(brute.nonEmpty, "degenerate test: brute-force found no pairs")
  }

  test("salted large-block verify produces the identical pair set") {
    import spark.implicits._
    // one block above VerifySaltThreshold (300 identical names →
    // every pass matches, population 300 > 256 routes through the
    // salted join) plus a small-block near-pair — the two paths'
    // union must equal the plain semantics: all C(300,2) zero-distance
    // pairs and the one Hamming-1 pair
    val n = 300
    require(n > EntityResolution.VerifySaltThreshold)
    val hot = (1L to n.toLong).map(k => (k, "hotblock-name", 1))
    val cool = Seq((1000L, "coolpair-x", 1), (1001L, "coolpair-y", 1))
    val pairs = EntityResolution.linkPairs(master(hot ++ cool))
      .select($"a_key", $"b_key", $"dist").as[(Long, Long, Int)].collect()
    val hotPairs = pairs.filter(_._1 < 1000L)
    assert(hotPairs.length == n * (n - 1) / 2,
      s"salted path must produce every pair exactly once, got ${hotPairs.length}")
    assert(hotPairs.forall(_._3 == 0))
    assert(pairs.count(_._1 >= 1000L) == 1 &&
      pairs.find(_._1 == 1000L).get == ((1000L, 1001L, 1)),
      "small-block path must still link the Hamming-1 pair")
  }

  test("oversized blocks are dropped; under-cap blocks still link") {
    import spark.implicits._
    // one degenerate block: BlockCap+1 identical names (a placeholder
    // value) must produce ZERO pairs, not (cap+1 choose 2)
    val degenerate = (0 until EntityResolution.BlockCap + 1)
      .map(i => (i.toLong, "placeholder-name", 1))
    assert(EntityResolution.linkPairs(master(degenerate)).isEmpty)
    // while a small clean block links fine
    val clean = Seq((1L, "alpha-0001", 1), (2L, "alpha-0002", 1))
    assert(EntityResolution.linkPairs(master(clean)).count() == 1)
  }

  test("10x scale-up gate: serial-numbered master drops NO blocks") {
    import spark.implicits._
    // the round-7 design bug: the old prefix/suffix split collapsed on
    // TPC-H-style serial names ("Customer#0000…" is near-constant up
    // front), crossing BlockCap at ~10x scale and silently dropping
    // the pass. The chunk-masked keys must (a) drop zero blocks on a
    // single-nation master 10x past the old cliff and (b) still find
    // every planted Hamming-1 pair — recall stays exact AT scale.
    val n = 10000 // one nation, ~2.4x the old per-nation cliff (4096)
    val master10x = spark.range(n).select(
      $"id".as("key"),
      format_string("Customer#%09d", $"id").as("name"),
      lit(7).as("nation"))
    assert(EntityResolution.overCapBlocks(master10x).isEmpty,
      "chunk-masked blocking must not drop blocks on serial names")
    val pairs = EntityResolution.linkPairs(master10x)
      .select($"a_key", $"b_key")
    // planted recall floor: ids k and k+1 with k%10 != 9 differ ONLY
    // in the final digit -> Hamming 1 -> every such pair must link
    val planted = spark.range(n - 1).filter($"id" % 10 =!= 9)
      .select($"id".as("a_key"), ($"id" + 1).as("b_key"))
    assert(planted.join(pairs, Seq("a_key", "b_key"), "left_anti").isEmpty,
      "a planted final-digit Hamming-1 pair was missed")
  }

  test("triangle census pins known counts on a hand graph") {
    import spark.implicits._
    // edges (1,2),(2,3),(1,3),(3,4): wedges a<b<c = (1,2,3),(1,3,4),
    // (2,3,4); exactly one closes
    val e = Seq((1L, 2L, 7), (2L, 3L, 7), (1L, 3L, 7), (3L, 4L, 7))
      .toDF("a_key", "b_key", "nation")
    val row = EntityResolution.trianglesOf(e).collect()
    assert(row.length == 1)
    assert(row(0).getLong(1) == 4L) // n_edges
    assert(row(0).getLong(2) == 3L) // n_wedges
    assert(row(0).getLong(3) == 1L) // n_triangles
  }

  test("golden records follow the survivorship rules") {
    import spark.implicits._
    val golden = EntityResolution.erGolden(spark, sf).collect()
    assert(golden.nonEmpty)
    val cust = Tables(spark, sf, "customer")
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .as[(Long, String, Double)].collect().map(r => r._1 -> r).toMap
    val clusters = EntityResolution.erClusters(spark, sf)
      .as[(Long, Long)].collect().toMap
    golden.foreach { r =>
      val entity = r.getLong(0)
      // the representative key survives: its name is the golden name
      assert(r.getString(2) == cust(entity)._2)
      // cluster cardinality agrees with er_clusters
      assert(r.getLong(1) == clusters(entity))
    }
  }

  test("incremental probe: classification is total, merge targets are masters") {
    import spark.implicits._
    val inc = EntityResolution.erIncremental(spark, sf).collect()
    assert(inc.nonEmpty)
    inc.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
        "every new record is linked XOR fresh")
    }
    val nNew = Tables(spark, sf, "customer")
      .filter(pmod($"c_custkey", lit(7L)) === 3L).count()
    assert(inc.map(_.getLong(1)).sum == nNew, "the batch slice is covered")
  }

  test("integer pagerank: star center outranks leaves, mass is conserved") {
    import spark.implicits._
    val top = EntityResolution.erPagerank(spark, sf).collect()
    assert(top.nonEmpty)
    // ranks arrive sorted descending with id tie-break
    top.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(2) > b.getLong(2) ||
          (a.getLong(2) == b.getLong(2) && a.getLong(0) < b.getLong(0)))
      case _ =>
    }
    // the top node's degree is at least the median top-20 degree: hub
    // centrality must correlate with connectivity on this graph
    val degs = top.map(_.getLong(1)).sorted
    assert(top.head.getLong(1) >= degs(degs.length / 2))
    // every rank respects the floor: base share (1-d)*S survives floors
    val base = EntityResolution.PrScale *
      (EntityResolution.PrDampDen - EntityResolution.PrDampNum) /
      EntityResolution.PrDampDen
    assert(top.forall(_.getLong(2) >= base))
  }

  test("on testdata: pairs are oriented, intra-nation, within distance") {
    import spark.implicits._
    val pairs = EntityResolution.pairsOf(spark, sf).collect()
    assert(pairs.nonEmpty, "sf0.001 should contain linkable customers")
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getInt(3) <= EntityResolution.MaxEd)
    }
    // clusters: every multi-record entity has >= 2 members, and total
    // membership equals the number of distinct linked records
    val clusters = EntityResolution.erClusters(spark, sf).collect()
    assert(clusters.forall(_.getLong(1) >= 2))
    val nodes = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
    assert(clusters.map(_.getLong(1)).sum == nodes.length)
  }

  test("link cache: one build per dir; clearLinkCache releases it") {
    EntityResolution.clearLinkCache()
    val pairs = EntityResolution.pairsOf(spark, sf)
    val labels = EntityResolution.labelsFor(spark, sf)
    assert(EntityResolution.pairsOf(spark, sf) eq pairs, "pairs must be memoized")
    assert(EntityResolution.labelsFor(spark, sf) eq labels, "labels must be memoized")
    assert(Dedup.checkpointLive(pairs), "fresh pairs must be materialized")
    EntityResolution.clearLinkCache()
    assert(!Dedup.checkpointLive(pairs),
      "clearLinkCache must unpersist the pairs' checkpoint blocks")
    assert(EntityResolution.pairsOf(spark, sf) ne pairs, "clear must force a rebuild")
  }
}
