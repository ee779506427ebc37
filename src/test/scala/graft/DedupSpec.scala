package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.functions.{PolyHash, SimHash64, TextFeatures}
import graft.operators.Dedup

/** SURVEY.md §2.C specs: portable-hash determinism, shingling edges, and
  * the dedup operators' invariants on the sf0.001 testdata. */
class DedupSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("PolyHash: deterministic, bounded, empty-string is 0") {
    import spark.implicits._
    val df = Seq("", "a", "spark", "spark", "kmeans").toDF("text")
      .select($"text", PolyHash($"text").as("h"))
    val rows = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("") == 0L)
    assert(rows("a") == 'a'.toLong)
    assert(rows.values.forall(h => h >= 0 && h < PolyHash.Mod))
    // same input, same hash (the two "spark" rows collapse in the map)
    assert(df.distinct().count() == 4)
  }

  test("PolyHash byte-level decode == String.codePointAt fold (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    import org.scalatest.prop.Configuration
    // reference fold over String code points (the spec PolyHash.hash
    // must match after its allocation-free UTF-8 rewrite)
    def ref(str: String, base: Long): Long = {
      var h = 0L; var i = 0
      while (i < str.length) {
        val cp = str.codePointAt(i)
        h = (h * base + cp) % graft.functions.PolyHash.Mod
        i += Character.charCount(cp)
      }
      h
    }
    // well-formed BMP chars only (unpaired surrogates are not valid
    // strings); 4-byte astral-plane coverage via the explicit cases below
    val gen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar,
      Gen.choose(' ', '\u00ff'),
      Gen.choose('\u0100', '\ud7ff'))).map(_.mkString)
    val prop = forAll(gen) { str =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(str)
      graft.functions.PolyHash.hash(u, 31L) == ref(str, 31L) &&
      graft.functions.PolyHash.hash(u, 131L) == ref(str, 131L)
    }
    // 4-byte path needs real surrogate pairs — add explicit cases
    val astral = Seq("😀", "a😀b", "𐍈𐍈", "日本語 text",
      "", "mixed é中🎉 end")
    astral.foreach { str =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(str)
      assert(graft.functions.PolyHash.hash(u, 31L) == ref(str, 31L), s"astral: $str")
    }
    assert(org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200),
      prop).passed)
  }

  test("DotProduct matches HOF aggregate/zip_with on nulls and length skew") {
    import spark.implicits._
    import graft.functions.DotProduct
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),
      (2L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0)),
      (3L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)))
      .toDF("id", "a", "b")
    val out = df.select($"id",
        DotProduct($"a", $"b").as("native"),
        aggregate(zip_with($"a", $"b", (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x).as("hof"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2))))).toMap
    assert(out(1L) == ((Some(11.0), Some(11.0))))
    assert(out(2L) == ((None, None))) // length skew -> NULL, both forms
    assert(out(3L) == ((None, None))) // null element -> NULL, both forms
  }

  test("KMinValues: exact below k, bounded buffer, multi-partition merge") {
    import spark.implicits._
    import graft.functions.{KMinValues, PolyHash}
    import graft.operators.TextAnalysis.{KmvA, KmvB}
    // 10 partitions force serialize/merge across the exchange; the
    // affine scatter (as in distinct_sketch) uniformizes short-string
    // hashes so the KMV estimator's assumption holds
    def h(c: org.apache.spark.sql.Column) =
      (PolyHash(c) * KmvA + KmvB) % PolyHash.Mod
    val few = spark.range(0, 40, 1, 10)
      .select(h(concat(lit("w"), $"id")).as("h"))
      .agg(KMinValues($"h", 64).as("kmv")).head().getSeq[Long](0)
    assert(few.length == 40)               // below k: everything retained
    assert(few == few.sorted)              // ascending
    val many = spark.range(0, 5000, 1, 10)
      .select(h(concat(lit("w"), $"id" % 1000)).as("h"))
      .agg(KMinValues($"h", 64).as("kmv")).head().getSeq[Long](0)
    assert(many.length == 64)              // bounded at k
    assert(many.distinct.length == 64)     // distinct (dup inputs collapse)
    // estimate quality: (k-1)p/h_k within 35% of true 1000
    val est = 63L * PolyHash.Mod / many.last
    assert(math.abs(est - 1000.0) / 1000.0 < 0.35, s"estimate $est")
  }

  test("SimHash64: identical docs collide, disjoint docs differ") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
      .select($"doc_id", SimHash64(TextFeatures.toks(lower($"text"))).as("fp"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
    assert(fps.values.forall(_ >= 0L)) // 62-bit: non-negative
  }

  test("native WordNgrams == composed HOF column form on real docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array_distinct, lower}
    val docs = Tables(spark, sf, "documents")
    val native = docs.select($"doc_id",
      graft.functions.WordNgrams($"text", 3).as("g"))
    val composed = docs.select($"doc_id",
      array_distinct(TextFeatures.wordNgrams(
        TextFeatures.toks(lower($"text")), 3)).as("g"))
    val n = native.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val c = composed.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(n == c)
  }

  test("WordNgrams == plain-Scala reference over random inputs (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    // independent reference: tokenize + shingle + distinct in plain Scala
    def ref(text: String, n: Int): Seq[String] = {
      val ts = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (ts.length < n) Seq.empty
      else ts.sliding(n).map(_.mkString(" ")).toSeq.distinct
    }
    val word = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf("the", "a", "of", "key", "row"))
    val text = Gen.listOf(Gen.oneOf(word, Gen.const(" "), Gen.const("\t")))
      .map(_.mkString(" "))
    val prop = forAll(text, Gen.choose(1, 4)) { (t, n) =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(t)
      val got = {
        val arr = graft.functions.WordNgrams.compute(u, n)
        (0 until arr.numElements()).map(arr.getUTF8String(_).toString)
      }
      got == ref(t, n)
    }
    assert(org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(300),
      prop).passed)
  }

  test("wordNgrams: n-1 edge and join format") {
    import spark.implicits._
    val out = Seq("a b c d", "a b").toDF("text")
      .select(TextFeatures.wordNgrams(
        TextFeatures.toks(lower(col("text"))), 3).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1) == Seq.empty)
  }

  test("dedup_exact: survivor totals cover every document") {
    val docs = Tables(spark, sf, "documents").count()
    val out = Dedup.dedupExact(spark, sf)
    val agg = out.agg(sum("n_docs"), sum("n_survivors")).head()
    assert(agg.getLong(0) == docs)       // every doc accounted for
    assert(agg.getLong(1) <= docs)       // survivors ≤ docs
  }

  test("dedup_ngram: pairs are ordered, above threshold, and symmetric-free") {
    val out = Dedup.dedupNgram(spark, sf).collect()
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
    assert(out.forall(_.getDouble(2) >= Dedup.JaccardTau))
  }

  test("dedup_source_census: hand-computed matrix on a crafted corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"), (5L, "C"))
      .toDF("doc_id", "source")
    // pairs: (1,2) within A; (1,3),(2,3) across A-B; (4,5) across B-C
    val pairs = Seq(
      (1L, 2L, 0.9), (1L, 3L, 0.6), (2L, 3L, 0.8), (4L, 5L, 0.5))
      .toDF("a_id", "b_id", "jaccard")
    val out = Dedup.dedupSourceCensusOn(docs, pairs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out == Map(
      ("A", "A") -> ((1L, 0.9, 0.9)),
      ("A", "B") -> ((2L, 0.8, 0.7)), // (0.6 + 0.8) / 2
      ("B", "C") -> ((1L, 0.5, 0.5))))
  }

  test("dedup_source_census: totals reconcile with the pair list") {
    val census = Dedup.dedupSourceCensus(spark, sf).collect()
    val nPairs = Dedup.dedupNgram(spark, sf).count()
    assert(census.map(_.getLong(2)).sum == nPairs,
      "census pair counts must partition the verified pair list")
    assert(census.forall(r => r.getString(0) <= r.getString(1)),
      "source pairs must be unordered-canonical (src_a <= src_b)")
  }

  test("minhash candidates recover the high-jaccard ngram pairs") {
    // At J ≥ 0.5 with 4 bands × 4 rows, P(candidate) = 1-(1-J^4)^4 ≥ 0.23;
    // the planted near-dups sit at J ≈ 0.96+ where P ≈ 1 — minhash must
    // find every pair the exact ngram join finds at high J.
    val ngram = Dedup.dedupNgram(spark, sf).filter(col("jaccard") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.dedupMinHash(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ngram.subsetOf(mh))
  }

  test("dedup_simhash: hamming bounded and pairs ordered") {
    val out = Dedup.dedupSimHash(spark, sf).collect()
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
    assert(out.forall(_.getInt(2) <= Dedup.HammingTau))
  }

  test("band-bucket cap: viral group bounded to a star, component preserved") {
    import spark.implicits._
    // 40 identical docs — the template-boilerplate shape MinHash exists
    // to catch: every band bucket holds all 40, so the uncapped join
    // would emit C(40,2)=780 candidate pairs per band. Plus one isolated
    // doc and one small (under-cap) duplicate pair riding the exact path.
    val viral = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = ((1L to 40L).map(i => (i, "en", viral)) ++ Seq(
        (100L, "en", "completely unrelated words about entirely different subject matter here"),
        (200L, "en", "another shared template sentence that exactly two documents carry verbatim"),
        (201L, "en", "another shared template sentence that exactly two documents carry verbatim")))
      .toDF("doc_id", "lang", "text")
      .withColumn("n_chars", length($"text"))
    val cap = 8L
    // bounded: 39 star edges for the viral group + 1 under-cap pair —
    // NOT the quadratic 780
    val cand = Dedup.minHashCandidates(docs, cap).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.size == 40, s"expected 40 candidates, got ${cand.size}")
    // component preserved: every viral member verifies against the
    // min-id representative (keep-one dedup collapses all 40 onto doc 1)
    val out = Dedup.dedupMinHashOn(docs, cap).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((2L to 40L).forall(i => pairs.contains((1L, i))))
    assert(pairs.contains((200L, 201L)), "under-cap exact path must survive")
    assert(!pairs.exists { case (a, b) => a != 1L && b <= 40L },
      "no non-star pair inside the capped viral group")
    // the cap's recall trade is observable: 4 hot band buckets
    assert(out.forall(_.getLong(3) == 4L))
    // simhash: same shape — 20 hot combo buckets, hamming-0 star edges
    val sh = Dedup.dedupSimHashOn(docs, cap).collect()
    val shPairs = sh.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((2L to 40L).forall(i => shPairs.contains((1L, i))))
    assert(shPairs.contains((200L, 201L)))
    assert(sh.forall(_.getLong(3) == 20L))
  }

  test("dedup_embedding: cosine within [-1,1] and above threshold") {
    val out = Dedup.dedupEmbedding(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getDouble(2) >= Dedup.CosineTau && r.getDouble(2) <= 1.0))
  }

  test("dedup_embedding_lsh: precision exact, recall vs exact baseline") {
    val exact = Dedup.dedupEmbedding(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.dedupEmbeddingLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // precision: every LSH pair is a true pair with the identical cosine
    lsh.foreach { case (k, c) =>
      assert(exact.contains(k), s"LSH produced a non-pair $k")
      assert(exact(k) == c)
    }
    // recall on confident pairs (cosine ≥ 0.5): bucket-collision odds
    // rise with cosine, so the high-similarity pairs must mostly appear
    val confident = exact.filter(_._2 >= 0.5)
    val hit = confident.keys.count(lsh.contains)
    assert(confident.isEmpty || hit.toDouble / confident.size >= 0.8,
      s"recall ${hit.toDouble / confident.size} on ${confident.size} confident pairs")
  }

  test("WordNgramHashes == sorted-distinct dual PolyHash of WordNgrams") {
    import spark.implicits._
    val docs = Tables(spark, sf, "documents").limit(200)
    val composed = docs.select($"doc_id", explode(
        graft.functions.WordNgrams($"text", 3)).as("g"))
      .select($"doc_id",
        (PolyHash($"g") + PolyHash($"g", 131) * lit(2147483648L)).as("h"))
      .groupBy($"doc_id")
      .agg(sort_array(collect_set($"h")).as("want"))
    val native = docs.select($"doc_id",
      graft.functions.WordNgramHashes($"text", 3).as("got"))
    val joined = native.join(composed, "doc_id")
      .filter(not($"got" === $"want"))
    assert(joined.count() == 0, "native hashes must equal composed form")
  }

  test("ngram DF cap prunes boilerplate candidates, τ-pairs unchanged") {
    import spark.implicits._
    // 40 docs sharing a boilerplate header (its grams hit DF = 40+) but
    // pairwise-dissimilar bodies, plus one genuine near-dup pair whose
    // shared grams are rare. Same lang and length bucket → one block.
    val boiler = "terms of service apply to this document provided as is"
    val docs = ((0 until 40).map { i =>
      val body = (0 until 8).map(j => s"w${i}_$j").mkString(" ")
      (i.toLong, "en", s"$boiler $body")
    } ++ Seq(
      (100L, "en", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "en", "alpha beta gamma delta epsilon zeta eta theta iota lambda")))
      .toDF("doc_id", "lang", "text")
      .withColumn("n_chars", org.apache.spark.sql.functions.lit(50))
    val uncapped = Dedup.ngramCandidates(docs, Long.MaxValue).count()
    val capped = Dedup.ngramCandidates(docs, 10L).count()
    // boilerplate grams pair all 40 docs uncapped: ≥ C(40,2) candidates
    assert(uncapped >= 780L, s"uncapped=$uncapped")
    assert(capped < uncapped / 10, s"capped=$capped uncapped=$uncapped")
    // the reported τ ≥ 0.5 pairs are identical — verify stays exact
    val pairsUncapped = Dedup.dedupNgramOn(docs, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pairsCapped = Dedup.dedupNgramOn(docs, 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairsCapped == pairsUncapped)
    assert(pairsCapped.exists { case (a, b, _) => a == 100L && b == 101L })
  }

  test("over-cap near-dup cluster still surfaces via the star fallback") {
    import spark.implicits._
    // 30 near-identical docs (one trailing word differs) in one block:
    // EVERY shared gram has df = 30 > cap = 10, so a drop-only cap
    // would emit zero candidates for the whole cluster (the round-2
    // advisor's blind spot). The star fallback pairs each member with
    // the representative (min doc_id), and the exact verify passes:
    // 10 shared of 11 grams each → J = 10/12 ≈ 0.8333 ≥ τ.
    val common = (1 to 12).map(j => s"w$j").mkString(" ")
    val docs = (0 until 30).map(i => (i.toLong, "en", s"$common tail$i"))
      .toDF("doc_id", "lang", "text")
      .withColumn("n_chars", org.apache.spark.sql.functions.lit(50))
    val pairs = Dedup.dedupNgramOn(docs, 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length == 29, s"got ${pairs.length} pairs")
    assert(pairs.forall(_._1 == 0L), "every pair anchors on the representative")
    assert(pairs.forall(_._3 == 0.8333))
    // candidate generation stayed linear in the cluster size, not df²
    val cand = Dedup.ngramCandidates(docs, 10L).count()
    assert(cand == 29L, s"star candidates should be linear, got $cand")
  }

  test("containment: finds the inclusion pair Jaccard misses, prefix is lossless") {
    import spark.implicits._
    // doc 100 (short) is QUOTED WHOLESALE inside doc 0 (long, in a
    // different length bucket); docs 1..39 share a boilerplate header
    // but are pairwise below τ — the share-a-gram candidate space is
    // ≥ C(40,2) while the rarest-first prefix probes almost nothing.
    val core = (1 to 10).map(j => s"core$j").mkString(" ")
    val docs = (Seq(
      (0L, "en", s"$core " + (1 to 14).map(j => s"extra$j").mkString(" "), 500),
      (100L, "en", core, 60)) ++
      (1 until 40).map { i =>
        val body = (0 until 8).map(j => s"b${i}_$j").mkString(" ")
        (i + 200L, "en", s"$core $body", 120)
      })
      .toDF("doc_id", "lang", "text", "n_chars")
    val pairs = Dedup.dedupContainmentOn(docs, Dedup.NgramDfCap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the quoted doc is found with containment 1.0 …
    assert(pairs.exists { case (a, b, c) => a == 0L && b == 100L && c == 1.0 },
      s"inclusion pair missing from ${pairs.take(5).mkString(";")}")
    // … and Jaccard structurally misses it (size skew + bucket split)
    val jac = Dedup.dedupNgramOn(docs, Dedup.NgramDfCap)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!jac.contains((0L, 100L)))
    // prefix filter: candidates ≪ the share-a-gram pair space
    val cands = Dedup.containmentCandidates(docs, Long.MaxValue).count()
    val g = docs.withColumn("hs",
        graft.functions.WordNgramHashes($"text", Dedup.NgramN))
      .select($"doc_id", explode($"hs").as("gh"))
    val shareAGram = g.as("x").join(g.as("y"),
        $"x.gh" === $"y.gh" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id", $"y.doc_id").distinct().count()
    assert(shareAGram >= 780L, s"shareAGram=$shareAGram")
    assert(cands < shareAGram / 5, s"cands=$cands shareAGram=$shareAGram")
    // losslessness: the prefix-filtered result equals the brute-force
    // verify over ALL share-a-gram pairs
    val sets = docs.withColumn("hs",
        graft.functions.WordNgramHashes($"text", Dedup.NgramN))
      .select($"doc_id", $"hs", size($"hs").as("n"))
    val brute = g.as("x").join(g.as("y"),
        $"x.gh" === $"y.gh" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("a_id"), $"y.doc_id".as("b_id")).distinct()
      .join(sets.select($"doc_id".as("a_id"), $"hs".as("ha"), $"n".as("na")), "a_id")
      .join(sets.select($"doc_id".as("b_id"), $"hs".as("hb"), $"n".as("nb")), "b_id")
      .withColumn("c", round(
        size(array_intersect($"ha", $"hb")).cast("double") /
          least($"na", $"nb"), 4))
      .filter($"c" >= Dedup.ContainmentTau)
      .select($"a_id", $"b_id", $"c")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs.toSet == brute, s"prefix lost pairs: ${brute -- pairs.toSet}")
  }

  test("dedup_incremental: planted exact / near / fresh batch docs classified") {
    import spark.implicits._
    val base = (1 to 30).map(j => s"tok$j").mkString(" ")
    val existing = Seq(
      (1L, "en", base, 300),
      (2L, "en", (100 to 130).map(j => s"other$j").mkString(" "), 310))
      .toDF("doc_id", "lang", "text", "n_chars")
      .withColumn("source", lit("S"))
    // 26 of 28 3-grams shared with `base`, 2 novel tail grams →
    // J = 26/30 ≈ 0.87 (near, not exact); same length bucket
    val nearText = (1 to 28).map(j => s"tok$j").mkString(" ") + " novel1 novel2"
    val batch = Seq(
      (100L, "en", base, 300),     // verbatim copy: exact AND near (J=1)
      (101L, "en", nearText, 305), // near only
      (102L, "en", (200 to 230).map(j => s"fresh$j").mkString(" "), 300))
      .toDF("doc_id", "lang", "text", "n_chars")
      .withColumn("source", lit("S"))
    val r = Dedup.dedupIncrementalOn(existing, batch).collect()
    assert(r.length == 1)
    assert(r(0).getLong(1) == 3L, "n_new")
    assert(r(0).getLong(2) == 1L, s"exact: ${r(0)}")
    assert(r(0).getLong(3) == 2L, s"near: ${r(0)}")
    assert(r(0).getLong(4) == 1L, s"admitted: ${r(0)}")
  }

  test("dedup_pipeline: stage counts agree with the individual operators") {
    import spark.implicits._
    val stages = Dedup.dedupPipeline(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stages.keySet == Set("corpus_docs", "exact_drops", "near_pairs",
      "clustered_docs", "components", "canonical_kept"))
    assert(stages("corpus_docs") ==
      Tables(spark, sf, "documents").count())
    assert(stages("near_pairs") == Dedup.ngramPairs(spark, sf).count())
    val comp = Dedup.dedupComponents(spark, sf)
      .agg(count(lit(1)), sum($"n_members")).head()
    assert(stages("components") == comp.getLong(0))
    assert(stages("clustered_docs") == comp.getLong(1))
    assert(stages("canonical_kept") == Dedup.dedupCanonical(spark, sf)
      .agg(sum($"n_kept")).head().getLong(0))
    // drops can overlap (an exact dup is also a near dup) — kept is
    // bounded by each policy alone but not equal to their difference
    assert(stages("canonical_kept") <=
      stages("corpus_docs") - stages("exact_drops"))
  }

  test("canonical policy keeps at most as much as pairwise survivors") {
    // pairwise drops only ids that appear as the LARGER side of a
    // pair; canonical collapses whole components — on the real corpus
    // its kept count per source can never exceed pairwise's
    val surv = operators.Dedup.dedupSurvivors(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val canon = operators.Dedup.dedupCanonical(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(canon.keySet == surv.keySet)
    canon.foreach { case (src, n) => assert(n <= surv(src), src) }
  }

  test("componentsOf: chains, stars, forests resolve to min-id clusters") {
    import spark.implicits._
    // chain 1-2-3-4 (pairs never list 1-4), star 10<-{11,12,13}, and an
    // isolated pair 20-21: 3 components keyed by their min ids
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L))
      .toDF("a_id", "b_id")
    val got = Dedup.componentsOf(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 4L), (10L, 4L), (20L, 2L)))
    // a LONG chain (diameter 80): one-hop propagation under the round
    // cap would silently fragment this — path halving must converge it
    // to a single component well inside the cap
    val chain = (0L until 80L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val one = Dedup.componentsOf(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(one == Seq((0L, 81L)))
    // a clean corpus (no near-dup pairs) yields an empty cluster list
    val none = Dedup.componentsOf(
      Seq.empty[(Long, Long)].toDF("a_id", "b_id")).collect()
    assert(none.isEmpty)
  }

  test("dedup_cluster_sizes: histogram reconciles with the hand-computed membership") {
    // recompute the expected histogram from labelsOf + documents by hand
    // on sf0.01 (the scale with real near-dup pairs) and require every
    // cell — counts AND redundant char volume — to match exactly
    val labs = Dedup.labelsOf(Dedup.ngramPairs(spark, "/root/testdata/sf0.01"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val chars = Tables(spark, "/root/testdata/sf0.01", "documents")
      .select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // .values.toSeq before mapping: a Map.map over size-keyed tuples
    // would silently collapse same-size clusters
    val perCluster = labs.groupBy(_._2).values.toSeq.map { members =>
      (members.length.toLong,
        members.filter(m => m._1 != m._2).map(m => chars(m._1)).sum)
    }
    val expected = perCluster.groupBy(_._1).map { case (sz, cs) =>
      sz -> (cs.size.toLong, sz * cs.size, cs.map(_._2).sum)
    }
    val got = Dedup.dedupClusterSizes(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expected, "histogram must equal the hand rollup")
    assert(got.nonEmpty, "sf0.01 must have near-dup clusters")
  }

  test("dedup_lines: multi-line boilerplate census, doc-distinct frequency") {
    import spark.implicits._
    // "cookie banner" rides 4 distinct docs (>= LineMinDocs=3, incl. one
    // space-padded copy trim must normalize); unique lines are not
    // boilerplate; "dup" repeats 3x WITHIN one doc -> doc_freq 1, clean
    val out = Dedup.dedupLinesOn(Seq(
      (1L, "x", "cookie banner\nalpha one"),
      (2L, "x", "cookie banner\nbeta two"),
      (3L, "y", "cookie banner\ngamma three"),
      (4L, "y", " cookie banner \ndelta"),
      (5L, "z", "dup\ndup\ndup"))
      .toDF("doc_id", "source", "text"))
      .collect().map(r => r.getString(0) -> r).toMap
    val x = out("x")
    assert(x.getLong(1) == 4L && x.getLong(2) == 3L, s"x volume/distinct: $x")
    assert(x.getLong(3) == 1L && x.getLong(4) == 2L, s"x boiler: $x")
    assert(x.getDouble(6) == 0.6047, s"x char frac 26/43: $x") // 13+13 of 43
    val z = out("z")
    assert(z.getLong(1) == 3L && z.getLong(2) == 1L && z.getLong(3) == 0L,
      s"within-doc repeats must not be boilerplate: $z")
  }

  test("boilerplate_strip: drops from every carrier, prices the cut") {
    import spark.implicits._
    // same fixture as the census: "cookie banner" (13 chars) rides 4
    // docs across 3 sources -> dropped from ALL of them; "dup" repeats
    // within one doc (doc_freq 1) -> kept
    val out = Dedup.boilerplateStripOn(Seq(
      (1L, "x", "cookie banner\nalpha one"),
      (2L, "x", "cookie banner\nbeta two"),
      (3L, "y", "cookie banner\ngamma three"),
      (4L, "y", " cookie banner \ndelta"),
      (5L, "z", "dup\ndup\ndup"))
      .toDF("doc_id", "source", "text"))
      .collect().map(r => r.getString(0) -> r).toMap
    // columns: source, n_docs, n_docs_affected, lines_in, lines_dropped,
    //          chars_in, chars_dropped, kept_char_frac
    val x = out("x")
    assert(x.getLong(1) == 2L && x.getLong(2) == 2L, s"x docs: $x")
    assert(x.getLong(3) == 4L && x.getLong(4) == 2L, s"x lines: $x")
    assert(x.getLong(6) == 26L, s"x chars dropped: $x")
    assert(x.getDouble(7) == 0.3953, s"x kept frac 17/43: $x")
    val y = out("y")
    assert(y.getLong(2) == 2L && y.getLong(4) == 2L,
      s"the padded copy must also drop: $y")
    val z = out("z")
    assert(z.getLong(2) == 0L && z.getLong(4) == 0L
      && z.getDouble(7) == 1.0,
      s"within-doc repeats are not boilerplate, nothing drops: $z")
  }

  test("labelsOf: distributed fixpoint ≡ local union-find finish") {
    import spark.implicits._
    // mixed shapes with interleaved ids so min-roots cross the fixture:
    // two chains, a star, a triangle with a pendant, an isolated pair
    val pairs = (Seq((5L, 105L), (105L, 3L), (3L, 99L)) ++ // chain, min 3
      (0L until 40L).map(i => (200L + i, 201L + i)) ++     // long chain
      Seq((50L, 61L), (50L, 62L), (50L, 63L)) ++           // star
      Seq((70L, 71L), (71L, 72L), (70L, 72L), (72L, 73L)) ++
      Seq((90L, 91L)))
      .toDF("a_id", "b_id")
    // localCap = 0 forces the full distributed path-halving fixpoint;
    // the default path takes the exact local finish — same labels
    val dist = Dedup.labelsOf(pairs, 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val local = Dedup.labelsOf(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dist == local)
    assert(dist(99L) == 3L && dist(240L) == 200L && dist(63L) == 50L &&
      dist(73L) == 70L && dist(91L) == 90L)
  }

  test("dedup_embedding_lsh_exact: 0 planes reproduces the exact operator") {
    val exact = Dedup.dedupEmbedding(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val anchor = Dedup.dedupEmbeddingLshExact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(anchor == exact)
  }

  test("dedupEmbeddingOn: hot blocks route through LSH, precision stays exact") {
    import spark.implicits._
    // synthetic corpus: a HOT label (24 vectors in 3 tight near-dup
    // clusters of 8) and a cold label (4 vectors, 1 near-dup pair).
    // cap 10 puts only the hot label over the threshold.
    val dim = 8
    def vec(center: Int, i: Int): Seq[Double] =
      (0 until dim).map(d => (if (d == center) 10.0 else 1.0) + 0.01 * ((i * 7 + d) % 5))
    val hot = for (c <- 0 until 3; i <- 0 until 8)
      yield (c * 8 + i.toLong, "hot", vec(c, i))
    val cold = Seq(
      (100L, "cold", vec(5, 0)), (101L, "cold", vec(5, 1)),
      (102L, "cold", vec(6, 0)), (103L, "cold", Seq.fill(dim)(-3.0)))
    val e = (hot ++ cold).toDF("vec_id", "label", "v")
      .withColumn("nrm", graft.functions.DotProduct.norm($"v"))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairs(Dedup.dedupEmbeddingOn(e, Int.MaxValue))
    val guarded = pairs(Dedup.dedupEmbeddingOn(e, 10))
    // precision exact: every reported pair is a true pair at the true cosine
    guarded.foreach { case (k, cos) => assert(exact.get(k).contains(cos), s"$k") }
    // under-cap blocks are untouched: every cold pair survives verbatim
    val coldExact = exact.filter { case ((a, _), _) => a >= 100L }
    coldExact.foreach { case (k, cos) => assert(guarded.get(k).contains(cos), s"$k") }
    // the hot block genuinely fan-out-bounded: same-cluster (near-dup)
    // pairs recall high through the bucket join — same-cluster cosines
    // here are ≈0.999, so all 8 tables bucket them together w.h.p.
    val hotConfident = exact.filter { case ((a, b), cos) => a < 100L && cos >= 0.99 }
    val hit = hotConfident.keys.count(guarded.contains)
    assert(hotConfident.isEmpty || hit.toDouble / hotConfident.size >= 0.8,
      s"hot recall $hit/${hotConfident.size}")
  }

  /** A corpus of three 8-d near-dup clusters: 12 rows labelled "hot",
    * 6 labelled "cold" and 6 with a null label, each cluster spread
    * over all three. */
  private def nullLabelCorpus: Seq[(Long, String, Seq[Double])] =
    (0 until 24).map { i =>
      val label = if (i % 4 < 2) "hot" else if (i % 4 == 2) "cold" else null
      (i.toLong, label, Seq.tabulate(8)(j => (if (j == i % 3) 10.0 else 1.0) + 0.01 * ((i + j) % 5)))
    }

  test("dedup embedding: rows with a null label never pair (exact arm, hot arm, LSH)") {
    import spark.implicits._
    val rows = nullLabelCorpus
    val nulls = rows.filter(_._2 == null).map(_._1).toSet
    val e = rows.toDF("vec_id", "label", "v")
      .withColumn("nrm", graft.functions.DotProduct.norm($"v"))
    val dir = java.nio.file.Files.createTempDirectory("graft_nulllabel").toString
    rows.map { case (id, l, v) => (id, v.map(_.toFloat), Option(l).map(x => if (x == "hot") 1 else 2)) }
      .toDF("vec_id", "embedding", "label").coalesce(1)
      .write.parquet(s"$dir/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    for ((arm, out) <- Seq(
        "exact" -> pairs(Dedup.dedupEmbeddingOn(e, Int.MaxValue)),
        // cap 8: only the 12-row "hot" block is over it
        "hot" -> pairs(Dedup.dedupEmbeddingOn(e, 8)),
        "lsh" -> pairs(Dedup.dedupEmbeddingLsh(spark, dir)))) {
      assert(out.nonEmpty, arm)
      assert(out.forall { case (a, b) => !nulls(a) && !nulls(b) }, s"$arm: ${out.toSeq}")
    }
  }

  test("dedup embedding: a null-label block over the cap keeps the other blocks' pairs") {
    import spark.implicits._
    val e = nullLabelCorpus.map { case (id, l, v) => (id, if (l == "hot") null else l, v) }
      .toDF("vec_id", "label", "v")
      .withColumn("nrm", graft.functions.DotProduct.norm($"v"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toSet
    // cap 8: the 18-row null block is the only block over it
    val guarded = pairs(Dedup.dedupEmbeddingOn(e, 8))
    val exact = pairs(Dedup.dedupEmbeddingOn(e, Int.MaxValue))
    assert(exact.nonEmpty && guarded == exact)
  }

  test("dedupEmbeddingOn: crossed-cap recall on REAL embeddings (sf0.01)") {
    // round-5 verdict item 1: the ≥0.8 recall floor re-asserted on real
    // data rather than a planted cap=10 toy — cap 50 pushes the four
    // largest sf0.01 label blocks (59/54/53/52 rows) through the
    // LSH-routed hot arm while the rest stay exact
    import spark.implicits._
    val sf001 = "/root/testdata/sf0.01"
    val e0 = Tables(spark, sf001, "embeddings")
      .select($"vec_id", $"label",
        transform($"embedding", x => x.cast("double")).as("v"))
      .withColumn("nrm", graft.functions.DotProduct.norm($"v"))
    val cap = 50
    val hotLabels = e0.groupBy($"label").agg(count(lit(1)).as("bn"))
      .filter($"bn" > cap).select($"label").collect().map(_.getInt(0)).toSet
    assert(hotLabels.nonEmpty, "cap must cross real blocks for this test")
    def pairs(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Int] =
      df.join(e0.select($"vec_id".as("a_id"), $"label"), "a_id")
        .filter($"label".isin(hotLabels.toSeq: _*))
        .select($"a_id", $"b_id", $"label").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val routed = pairs(Dedup.dedupEmbeddingOn(e0, cap))
    val exact = pairs(Dedup.dedupEmbeddingOn(e0, Int.MaxValue))
    assert(exact.nonEmpty, "hot labels must hold true pairs")
    // precision 1.0: the verify is shared, so routed ⊆ exact
    assert(routed.keySet.subsetOf(exact.keySet))
    val recall = routed.size.toDouble / exact.size
    assert(recall >= 0.8, s"real-data hot-arm recall $recall (${routed.size}/${exact.size})")
  }

  test("oracle waivers: overCap detects the routed regime; test scales stay oracle-compared") {
    import spark.implicits._
    val e = Seq.tabulate(12)(i => (i.toLong, if (i < 9) "big" else "small",
        Seq(1.0, 0.0)))
      .toDF("vec_id", "label", "v")
      .withColumn("nrm", graft.functions.DotProduct.norm($"v"))
    assert(Dedup.overCap(e, 8), "a 9-row block must cross cap 8")
    assert(!Dedup.overCap(e, 9), "no block crosses cap 9")
    // at test scale every block sits under HotBlockCap, so both guards
    // must leave the oracle in force (the sf0.01 gate keeps comparing)
    assert(Dedup.embeddingOverCapReason(spark, sf).isEmpty)
    assert(Dedup.semanticOverCapReason(spark, sf).isEmpty)
    // every guard key must be a registered query with an oracle —
    // a guard on an oracle-less query could never waive anything
    SparkEntry.oracleGuards.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"guard $k not a query")
      assert(SparkEntry.oracleSql.contains(k), s"guard $k has no oracle")
    }
  }

  test("pairCache: LRU-bounded; evicted frames stay executable") {
    Dedup.clearPairCache()
    // path variants of the same physical dir give distinct cache keys
    // without needing 5 datasets
    val dirs = (0 to Dedup.pairCache.maxEntries).map(i => sf + "/." * i)
    val first = Dedup.ngramPairs(spark, dirs.head)
    val firstRows = first.count()
    assert(Dedup.checkpointLive(first), "fresh entry must be materialized")
    dirs.tail.foreach(d => Dedup.ngramPairs(spark, d))
    val cached = Dedup.pairCache.keys(spark)
    assert(cached.size == Dedup.pairCache.maxEntries)
    assert(!cached.contains(dirs.head), "LRU head must be evicted")
    // round-5 ADVICE: eviction must NOT unpersist the truncated-lineage
    // checkpoint under a frame a caller may still hold — the held frame
    // must keep executing (blocks are the ContextCleaner's job once the
    // frame is genuinely unreachable)
    assert(first.count() == firstRows,
      "a held frame must survive its cache eviction")
    // re-access rebuilds transparently with the same result
    assert(Dedup.ngramPairs(spark, dirs.head).count() == firstRows)
    // clearPairCache (callers provably done) force-releases blocks
    val last = Dedup.ngramPairs(spark, dirs.head)
    Dedup.clearPairCache()
    assert(Dedup.pairCache.keys(spark).isEmpty)
    assert(!Dedup.checkpointLive(last),
      "clearPairCache must unpersist checkpoint blocks")
  }

  /** Plain-Scala n-gram and MinHash pairs of (doc_id, lang, n_chars,
    * text) rows: postings per (lang, n_chars DIV 100, gram) or (band,
    * band key) — a null lang is its own block —, all pairs of a key
    * with at most `cap` documents, else its minimum against the rest,
    * then the exact Jaccard of the gram-hash sets rounded to 4 places
    * at ≥ τ. MinHash also returns the over-cap bucket count. */
  private object PairReference {
    type Doc = (Long, String, Option[Long], String)
    private def grams(text: String): Set[Long] = if (text == null) Set.empty else {
      val a = graft.functions.WordNgramHashes.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), Dedup.NgramN)
      (0 until a.numElements()).map(a.getLong).toSet
    }
    private def round4(x: Double) =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue

    private def verified(docs: Seq[Doc], keys: Doc => Seq[Any], cap: Long)
        : (Set[(Long, Long, Double)], Long) = {
      val posts = docs.flatMap(d => keys(d).map(_ -> d._1)).groupBy(_._1).values.map(_.map(_._2))
      val cands = posts.flatMap { ids =>
        if (ids.size <= cap) for (a <- ids; b <- ids if a < b) yield (a, b)
        else ids.filter(_ != ids.min).map(b => (ids.min, b))
      }.toSet
      val gs = docs.map(d => d._1 -> grams(d._4)).toMap
      (cands.flatMap { case (a, b) =>
        val sh = (gs(a) intersect gs(b)).size
        val j = round4(sh.toDouble / (gs(a).size + gs(b).size - sh))
        if (j >= Dedup.JaccardTau) Some((a, b, j)) else None
      }, posts.count(_.size > cap).toLong)
    }

    def ngram(docs: Seq[Doc], cap: Long): Set[(Long, Long, Double)] =
      verified(docs, d => grams(d._4).toSeq.map(g => (d._2, d._3.map(_ / 100), g)), cap)._1

    def minHash(docs: Seq[Doc], cap: Long): (Set[(Long, Long, Double)], Long) =
      verified(docs, { d =>
        val g = grams(d._4)
        if (g.isEmpty) Nil else {
          val sig = (0 until Dedup.MinHashK).map(i =>
            g.map(h => ((2L * i + 1) * (h % 2147483648L) + 1000003L * i) % PolyHash.Mod).min)
          (0 until Dedup.Bands).map(b => (b, (sig(4 * b) * 29791 + sig(4 * b + 1) * 961 +
            sig(4 * b + 2) * 31 + sig(4 * b + 3)) % PolyHash.Mod))
        }
      }, cap)
  }

  test("n-gram and MinHash pairs: null/empty text, null lang and over-cap keys match the reference") {
    import spark.implicits._
    val near = (1 to 14).map(j => s"w$j").mkString(" ")
    val viral = "the same template sentence that twelve documents all carry word for word"
    val docs: Seq[PairReference.Doc] = Seq(
      (1L, null, Some(150L), near + " alpha"),  // null lang: its own block …
      (2L, null, Some(160L), near + " beta"),   // … so 1-2 pair
      (3L, "en", Some(150L), near + " alpha"),  // same text as 1, lang en
      (4L, "en", Some(150L), near + " gamma"),
      (5L, "en", Some(150L), null),             // null text: no grams
      (6L, "en", Some(150L), ""),               // empty text: no grams
      (7L, "en", Some(150L), "two words"),      // under NgramN tokens
      (8L, null, Some(150L), null),
      (9L, "en", None, near + " alpha")) ++     // null n_chars: its own block
      (20L to 31L).map(i => (i, "de", Some(300L), viral)) // over-cap group
    val df = docs.toDF("doc_id", "lang", "n_chars", "text")
    def triples(rows: Array[org.apache.spark.sql.Row]) =
      rows.filterNot(_.isNullAt(0)).map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (cap <- Seq(8L, Long.MaxValue)) {
      val ngram = triples(Dedup.dedupNgramOn(df, cap).collect())
      assert(ngram == PairReference.ngram(docs, cap), s"ngram cap $cap")
      val mh = Dedup.dedupMinHashOn(df, cap).collect()
      val (want, hot) = PairReference.minHash(docs, cap)
      assert(triples(mh) == want, s"minhash cap $cap")
      assert(mh.forall(_.getLong(3) == hot), s"minhash census cap $cap")
    }
    val ngram = triples(Dedup.dedupNgramOn(df, 8L).collect())
    assert(ngram.exists(p => p._1 == 1L && p._2 == 2L), "null lang pairs within its block")
    assert(!ngram.exists(p => p._1 == 1L && p._2 == 3L), "null lang is not the en block")
    assert(!ngram.exists(p => p._1 == 3L && p._2 == 9L), "null n_chars is its own block")
    assert((21L to 31L).forall(b => ngram.contains((20L, b, 1.0))), "over-cap star")
    assert(!ngram.exists(p => p._1 > 20L), "no non-star pair in the over-cap group")
    val quiet = Set(5L, 6L, 7L, 8L)
    val mh = Dedup.dedupMinHashOn(df, 8L).collect()
    assert(!(ngram ++ triples(mh)).exists(p => quiet(p._1) || quiet(p._2)),
      "a document without grams never pairs")
    assert(mh.head.getLong(3) == 4L, "each band's viral bucket is over the cap")
    // a cap so tight no bucket pairs: the census row stays
    val none = Dedup.dedupMinHashOn(df.filter($"doc_id".isin(3L, 5L, 6L, 7L)), 0L).collect()
    assert(none.length == 1 && none(0).isNullAt(0) && none(0).getLong(3) == 4L)
  }

  test("ngramPairs and dedupMinHash follow documents rewritten in place") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rewrite").toString
    val base = (1 to 20).map(j => s"tok$j").mkString(" ")
    def write(rows: Seq[(Long, String, String, Long, String)]): Unit =
      rows.toDF("doc_id", "lang", "source", "n_chars", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val first = Seq(
      (1L, "en", "web", 150L, base),
      (2L, "en", "web", 150L, base + " extra"),
      (3L, "en", "web", 150L, (1 to 20).map(j => s"other$j").mkString(" ")))
    write(first)
    def answer(s: SparkSession) = (
      Dedup.ngramPairs(s, dir).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet,
      Dedup.dedupMinHash(s, dir).collect().toSeq.map(_.toSeq),
      Dedup.ngramLabels(s, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val before = answer(spark)
    assert(before._1.map(p => (p._1, p._2)) == Set((1L, 2L)))
    // rewrite in place with a newly planted near-duplicate of doc 3
    write(first :+ ((4L, "en", "web", 150L, (1 to 20).map(j => s"other$j").mkString(" ") + " x")))
    val after = answer(spark)
    val fresh = answer(spark.newSession())
    assert(after == fresh)
    assert(after._1.map(p => (p._1, p._2)) == Set((1L, 2L), (3L, 4L)))
    assert(after._3 == Set((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)))
  }
}
