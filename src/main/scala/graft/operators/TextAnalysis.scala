package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Log2Fixed, MarkerCounts, PolyHash}

/** SURVEY.md §2.E — text analysis over the `documents` table: token
  * counting, language-ID heuristic, quality scoring, document
  * fingerprinting. These are the per-document map stages of a training-data
  * pipeline: every query is a single narrow scan + per-row codegen'd
  * expressions + one small aggregation — no join, at most one shuffle on a
  * low-cardinality key, so the shape survives 100 TB unchanged.
  *
  * Oracle parity: token = non-empty `\s+` split; char-class counts via
  * global regexp_replace (DuckDB needs the explicit 'g' flag); ratios are
  * computed identically per row in both engines before aggregation.
  */
object TextAnalysis {

  /** Non-empty whitespace tokens of (lowercased) text — see
    * [[graft.functions.TextFeatures]]. */
  private def toks(c: Column): Column = graft.functions.TextFeatures.toks(c)

  private val duckToks = graft.functions.TextFeatures.duckToks

  private def duckTokCount(words: Seq[String]): String =
    s"len(list_filter($duckToks, t -> ${words.map(w => s"t = '$w'").mkString(" OR ")}))"

  // ---------------------------------------------------------------- stats

  /** Per-source corpus stats: docs, whitespace words, regex (BPE-ish)
    * tokens, chars. */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
    Tables(s, dir, "documents")
      .withColumn("words", size(toks(lower($"text"))))
      .withColumn("tokens", regexp_count($"text", lit(tokenRe)))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"words").as("sum_words"),
        round(avg($"words"), 4).as("avg_words"),
        sum($"tokens").as("sum_tokens"),
        sum(length($"text")).as("sum_chars"),
        round(avg(length($"text")), 4).as("avg_chars"))
      .orderBy($"source")
  }

  // CAST(sum(..) AS BIGINT): DuckDB sum(BIGINT) returns HUGEINT → float64
  // in the driver's pandas compare; the cast restores Spark's dtype.
  val textStatsSql: String =
    s"""SELECT source, count(*) AS n_docs,
       |  CAST(sum(words) AS BIGINT) AS sum_words, round(avg(words), 4) AS avg_words,
       |  CAST(sum(tokens) AS BIGINT) AS sum_tokens,
       |  CAST(sum(length(text)) AS BIGINT) AS sum_chars, round(avg(length(text)), 4) AS avg_chars
       |FROM (
       |  SELECT source, text, len($duckToks) AS words,
       |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS tokens
       |  FROM documents)
       |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------- tok fertility

  /** Tokenizer fertility per source: subword tokens per whitespace word
    * and characters per subword token — THE standard tokenizer-efficiency
    * read (a fertility of 1.0 means every word is one unit; high
    * fertility marks text the tokenizer fragments, i.e. expensive
    * sources at training time). Uses the same deterministic greedy
    * subword pass as the packing/mix `_bpe` twins
    * ([[graft.functions.Subword]]), so the three surfaces price the
    * corpus under ONE tokenizer contract. The reference engine has no
    * text surface at all (its tokens are CSV floats, mapper.py:26-44);
    * this is part of the §2.E pipeline widening.
    *
    * Exactness: all three measures are integer sums; each ratio is one
    * double division of exact (< 2^53) integers done identically in both
    * engines, then round(4) — order-free without DECIMAL. Zero-word
    * sources yield NULL ratios on both sides (guarded division).
    *
    * Scale (100 TB): one narrow (source, text) scan, two codegen'd
    * per-row expressions, partial-aggregated rollup — only |sources|
    * rows reach the shuffle. */
  def tokFertility(s: SparkSession, dir: String): DataFrame =
    tokFertilityOn(Tables(s, dir, "documents"))

  /** [[tokFertility]] over an explicit documents frame (spec hook). */
  private[graft] def tokFertilityOn(docs: DataFrame): DataFrame =
    tokFertilityWith(docs, graft.functions.Subword(lower(col("text"))))

  /** The census core under any subword-count column — shared by the
    * fixed-table census and the learned-merge twin. */
  private def tokFertilityWith(docs: DataFrame, subw: Column): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"source",
        size(toks(lower($"text"))).cast("long").as("words"),
        subw.as("subw"),
        length($"text").cast("long").as("chars"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"words").as("sum_words"),
        sum($"subw").as("sum_subtoks"),
        sum($"chars").as("sum_chars"),
        when(sum($"words") > 0,
          round(sum($"subw").cast("double") / sum($"words").cast("double"), 4))
          .as("fertility"),
        when(sum($"subw") > 0,
          round(sum($"chars").cast("double") / sum($"subw").cast("double"), 4))
          .as("chars_per_tok"))
      .orderBy($"source")
  }

  val tokFertilitySql: String =
    s"""WITH ${graft.functions.Subword.duckDocCte(duckToks)},
       |d AS (
       |  SELECT source, len($duckToks) AS words,
       |    coalesce(sd.subw, 0) AS subw,
       |    length(text) AS chars
       |  FROM documents LEFT JOIN sdoc sd USING (doc_id))
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(words) AS BIGINT) AS sum_words,
       |  CAST(sum(subw) AS BIGINT) AS sum_subtoks,
       |  CAST(sum(chars) AS BIGINT) AS sum_chars,
       |  CASE WHEN sum(words) > 0 THEN
       |    round(CAST(sum(subw) AS DOUBLE) / CAST(sum(words) AS DOUBLE), 4)
       |  END AS fertility,
       |  CASE WHEN sum(subw) > 0 THEN
       |    round(CAST(sum(chars) AS DOUBLE) / CAST(sum(subw) AS DOUBLE), 4)
       |  END AS chars_per_tok
       |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** [[tokFertility]] under the TRAINED merge table — the census that
    * closes the BPE train→apply loop (round-10 verdict #7): the greedy
    * apply's unit table is no longer the fixed literal
    * [[graft.functions.Subword.BaseUnits]] but the merges `bpe_train`
    * learns from THIS corpus, memoized once per (session, sf) and
    * priced as `bpe_train_build`. The K-row learned table (12 merges)
    * ships into the scan as expression constants — the broadcast-
    * centroid discipline — so the census is still one narrow
    * whole-stage-codegen'd pass at any corpus size. The oracle
    * re-derives the merge table independently (the same unrolled CTE
    * chain that gates `bpe_train`), builds the prefix closure in SQL,
    * and cross-joins the 1-row closure onto the same fold — so the
    * train→apply COMPOSITION sits under the hash gate, not just its
    * halves. */
  def tokFertilityLearned(s: SparkSession, dir: String): DataFrame =
    tokFertilityWith(Tables(s, dir, "documents"),
      graft.functions.Subword(lower(col("text")), learnedUnits(s, dir)))

  lazy val tokFertilityLearnedSql: String = {
    val merged = (1 to BpeMerges).map(r =>
      s"SELECT l_sym || r_sym AS u FROM m$r").mkString(" UNION ")
    s"""$bpeChainSql,
       |units AS MATERIALIZED (
       |  SELECT DISTINCT u FROM ($merged) WHERE NOT contains(u, '~')),
       |closure AS MATERIALIZED (
       |  SELECT list(DISTINCT p) AS vlist FROM (
       |    SELECT unnest(list_transform(range(2, len(u) + 1),
       |      i -> u[1:i])) AS p
       |    FROM units)),
       |d AS (
       |  SELECT source, len($duckToks) AS words,
       |    ${graft.functions.Subword.duckDoc(duckToks, "vlist")} AS subw,
       |    length(text) AS chars
       |  FROM documents, closure)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(words) AS BIGINT) AS sum_words,
       |  CAST(sum(subw) AS BIGINT) AS sum_subtoks,
       |  CAST(sum(chars) AS BIGINT) AS sum_chars,
       |  CASE WHEN sum(words) > 0 THEN
       |    round(CAST(sum(subw) AS DOUBLE) / CAST(sum(words) AS DOUBLE), 4)
       |  END AS fertility,
       |  CASE WHEN sum(subw) > 0 THEN
       |    round(CAST(sum(chars) AS DOUBLE) / CAST(sum(subw) AS DOUBLE), 4)
       |  END AS chars_per_tok
       |FROM d GROUP BY source ORDER BY source""".stripMargin
  }

  // -------------------------------------------------------------- lang id

  /** Stopword-marker language heuristic. Marker hit-counts per language,
    * argmax with fixed priority tie-break, vs the labeled `lang` column →
    * confusion counts. (The synthetic corpus is English-vocabulary
    * regardless of label; the *computation* is what the oracle checks.) */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "die", "und"),
    "fr" -> Seq("le", "les", "et"),
    "zh" -> Seq("de", "shi", "zai"))

  def langId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE tokenization scores every language: marker_counts returns
    // [total, c_en, c_es, ...] in a single pass where the composed
    // per-language tokCount columns re-ran split 5× per row (measured
    // in the sf0.1 plan; see MarkerCounts scaladoc)
    val scored = langMarkers.zipWithIndex.foldLeft(
        Tables(s, dir, "documents").withColumn("mc",
          graft.functions.MarkerCounts($"text", langMarkers.map(_._2)))) {
      case (df, ((lang, _), i)) => df.withColumn(s"s_$lang", $"mc"(i + 1))
    }
    // argmax with declaration-order priority tie-break
    val pred = langMarkers.map(_._1).zipWithIndex.foldRight(lit("unk")) {
      case ((lang, _), els) =>
        val beats = langMarkers.map(_._1).filter(_ != lang)
          .map(o => col(s"s_$lang") >= col(s"s_$o")).reduce(_ && _)
        when(beats && col(s"s_$lang") > 0, lang).otherwise(els)
    }
    scored.withColumn("pred", pred)
      .groupBy($"lang", $"pred")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"pred")
  }

  val langIdSql: String = {
    val scores = langMarkers
      .map { case (l, ws) => s"${duckTokCount(ws)} AS s_$l" }.mkString(",\n    ")
    val langs = langMarkers.map(_._1)
    val pred = langs.foldRight("'unk'") { (lang, els) =>
      val beats = langs.filter(_ != lang).map(o => s"s_$lang >= s_$o").mkString(" AND ")
      s"CASE WHEN $beats AND s_$lang > 0 THEN '$lang' ELSE $els END"
    }
    s"""SELECT lang, pred, count(*) AS n FROM (
       |  SELECT lang, $pred AS pred FROM (
       |    SELECT lang, text,
       |    $scores
       |    FROM documents))
       |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin
  }

  // ------------------------------------------------------------- quality

  /** Composite quality score from length / punctuation / digit / stopword
    * ratios, bucketed to 0.1; per-bucket counts + mean components. */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = trainQualityScores(s, dir)
      .withColumn("bucket", floor($"score" * 10).cast("int"))
    docs.groupBy($"bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg($"score"), 4).as("avg_score"),
        round(avg($"punct"), 4).as("avg_punct_ratio"),
        round(avg($"stop"), 4).as("avg_stop_ratio"))
      .orderBy($"bucket")
  }

  /** Score-once surface for the per-document quality table: THREE
    * registry consumers read it (`quality_score`, `source_quota`,
    * `source_quota_approx` — the approx cut alone reads it twice:
    * threshold pass + census pass), so the one-row-per-doc scored frame
    * memoizes per (session, dir) via localCheckpoint — the same
    * score-once accounting as the LM and DSIR scores
    * ([[graft.SessionCache]] lifecycle: stopped-session purge, LRU, fit
    * outside the monitor).
    * Checkpoint storage is released on clear() via the underlying RDD
    * (round-13 ADVICE: Dataset.unpersist is a CacheManager no-op for a
    * localCheckpoint'd plan); LRU eviction stays drop-only — see
    * [[graft.SessionCache]]. */
  private val scoreCache =
    new graft.SessionCache[DataFrame](onClear = Dedup.releaseCheckpoint)

  def trainQualityScores(s: SparkSession, dir: String): DataFrame =
    scoreCache.getOrCompute(s, dir) {
      qualityDocScore(Tables(s, dir, "documents")).localCheckpoint()
    }

  /** Test/bench hook: drop memoized score tables. */
  def clearScoreCache(): Unit = scoreCache.clear()

  /** Per-document composite quality score — the `quality_score` formula
    * factored out so `source_quota` ranks on the IDENTICAL doubles (the
    * arithmetic is written with the same shape and association in both
    * engines, so the scores are bit-identical and rank cuts agree).
    * Word total + stopword count come from ONE tokenization pass
    * ([[MarkerCounts]]). Returns (doc_id, source, score, punct, stop). */
  def qualityDocScore(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("mc", graft.functions.MarkerCounts($"text",
        Seq(Seq("the", "a", "of"))))
      .withColumn("chars", greatest(length($"text"), lit(1)))
      .withColumn("words", greatest($"mc"(0), lit(1L)))
      .withColumn("punct",
        length(regexp_replace($"text", "[A-Za-z0-9\\s]", "")) / $"chars")
      .withColumn("digit",
        length(regexp_replace($"text", "[^0-9]", "")) / $"chars")
      .withColumn("stop", $"mc"(1) / $"words")
      .withColumn("lenscore", least($"words" / lit(100.0), lit(1.0)))
      .withColumn("score",
        lit(0.25) * $"lenscore" + lit(0.25) * (lit(1.0) - $"punct") +
        lit(0.25) * (lit(1.0) - $"digit") + lit(0.25) * $"stop")
      .select($"doc_id", $"source", $"score", $"punct", $"stop")
  }

  /** DuckDB twin of [[qualityDocScore]]: (doc_id, source, score) from
    * `documents`. */
  val qualityDocScoreSql: String =
    s"""SELECT doc_id, source,
       |  0.25 * least(words / 100.0, 1.0) + 0.25 * (1.0 - punct)
       |    + 0.25 * (1.0 - digit) + 0.25 * stop AS score
       |FROM (
       |  SELECT doc_id, source,
       |    length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0 / chars AS punct,
       |    length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / chars AS digit,
       |    ${duckTokCount(Seq("the", "a", "of"))} * 1.0 / words AS stop,
       |    words
       |  FROM (
       |    SELECT doc_id, source, text, greatest(length(text), 1) AS chars,
       |      greatest(len($duckToks), 1) AS words
       |    FROM documents))""".stripMargin

  val qualityScoreSql: String =
    s"""SELECT bucket, count(*) AS n_docs,
       |  round(avg(score), 4) AS avg_score,
       |  round(avg(punct), 4) AS avg_punct_ratio,
       |  round(avg(stop), 4) AS avg_stop_ratio
       |FROM (
       |  SELECT CAST(floor(score * 10) AS INT) AS bucket, score, punct, stop FROM (
       |    SELECT
       |      0.25 * least(words / 100.0, 1.0) + 0.25 * (1.0 - punct)
       |        + 0.25 * (1.0 - digit) + 0.25 * stop AS score,
       |      punct, stop
       |    FROM (
       |      SELECT
       |        length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0 / chars AS punct,
       |        length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / chars AS digit,
       |        ${duckTokCount(Seq("the", "a", "of"))} * 1.0 / words AS stop,
       |        words
       |      FROM (
       |        SELECT text, greatest(length(text), 1) AS chars,
       |          greatest(len($duckToks), 1) AS words
       |        FROM documents))))
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------- gopher rules

  /** Gopher quality-filter rule thresholds (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training Gopher",
    * §A.1.1 quality filtering): word-count bounds, mean-word-length
    * bounds, hash/ellipsis symbol-to-word ratio, alphabetic-word
    * fraction, and the required-stop-word rule. */
  val GopherMinWords = 50
  val GopherMaxWords = 100000
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher quality-rule census: evaluate each document against the five
    * paper rules in ONE narrow scan of (source, text) — every signal is a
    * codegen'd higher-order-function expression over one shared
    * tokenization, no explode, no join — then aggregate to a per-source
    * census of per-rule failure counts and the all-rules keep rate. The
    * census (not the filtered corpus) is the operator: at 100 TB the rule
    * report is what a pipeline owner tunes thresholds from, and the only
    * shuffle is the low-cardinality source rollup with map-side partials.
    * The symbol and alpha rules cannot fire on the symbol-free synthetic
    * corpus; TextAnalysisSpec drives crafted documents through
    * [[gopherRulesOn]] to pin all five rules' trip points. */
  def gopherRules(s: SparkSession, dir: String): DataFrame =
    gopherRulesOn(Tables(s, dir, "documents"))

  /** Operator core over any (source, text) frame. */
  def gopherRulesOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val flagged = docs
      .select($"source", $"text", toks(lower($"text")).as("toks"))
      .withColumn("words", size($"toks"))
      .withColumn("mwl", when($"words" > 0,
        aggregate($"toks", lit(0), (acc, w) => acc + length(w))
          .cast("double") / $"words").otherwise(0.0))
      .withColumn("nsym", regexp_count($"text", lit("#|\\.\\.\\.")))
      .withColumn("alpha", when($"words" > 0,
        size(filter($"toks", w => w.rlike("[a-z]"))).cast("double") / $"words")
        .otherwise(0.0))
      .withColumn("nstop",
        GopherStops.map(w => exists($"toks", t => t === lit(w)).cast("int"))
          .reduce(_ + _))
      .select($"source",
        ($"words" < GopherMinWords || $"words" > GopherMaxWords)
          .cast("int").as("f_words"),
        ($"mwl" < 3.0 || $"mwl" > 10.0).cast("int").as("f_word_len"),
        ($"nsym".cast("double") > $"words" * 0.1).cast("int").as("f_symbol"),
        ($"alpha" < 0.8).cast("int").as("f_alpha"),
        ($"nstop" < 2).cast("int").as("f_stopword"))
      .withColumn("keep",
        ($"f_words" + $"f_word_len" + $"f_symbol" + $"f_alpha" + $"f_stopword" === 0)
          .cast("int"))
    flagged.groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"f_words").as("n_fail_words"),
        sum($"f_word_len").as("n_fail_word_len"),
        sum($"f_symbol").as("n_fail_symbol"),
        sum($"f_alpha").as("n_fail_alpha"),
        sum($"f_stopword").as("n_fail_stopword"),
        sum($"keep").as("n_keep"),
        round(avg($"keep".cast("double")), 4).as("keep_rate"))
      .orderBy($"source")
  }

  val gopherRulesSql: String = {
    val nstop = GopherStops
      .map(w => s"CASE WHEN list_contains(toks, '$w') THEN 1 ELSE 0 END")
      .mkString("(", " + ", ")")
    s"""WITH t AS (SELECT source, text, $duckToks AS toks FROM documents),
       |p AS (SELECT source, len(toks) AS words,
       |  CASE WHEN len(toks) > 0
       |    THEN list_sum(list_transform(toks, w -> length(w))) * 1.0 / len(toks)
       |    ELSE 0.0 END AS mwl,
       |  len(regexp_extract_all(text, '#|\\.\\.\\.')) AS nsym,
       |  CASE WHEN len(toks) > 0
       |    THEN len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) * 1.0 / len(toks)
       |    ELSE 0.0 END AS alpha,
       |  $nstop AS nstop
       |  FROM t),
       |f AS (SELECT source,
       |  CASE WHEN words < $GopherMinWords OR words > $GopherMaxWords THEN 1 ELSE 0 END AS f_words,
       |  CASE WHEN mwl < 3.0 OR mwl > 10.0 THEN 1 ELSE 0 END AS f_word_len,
       |  CASE WHEN nsym > words * 0.1 THEN 1 ELSE 0 END AS f_symbol,
       |  CASE WHEN alpha < 0.8 THEN 1 ELSE 0 END AS f_alpha,
       |  CASE WHEN nstop < 2 THEN 1 ELSE 0 END AS f_stopword
       |  FROM p),
       |k AS (SELECT *,
       |  CASE WHEN f_words + f_word_len + f_symbol + f_alpha + f_stopword = 0
       |    THEN 1 ELSE 0 END AS keep
       |  FROM f)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(f_words) AS BIGINT) AS n_fail_words,
       |  CAST(sum(f_word_len) AS BIGINT) AS n_fail_word_len,
       |  CAST(sum(f_symbol) AS BIGINT) AS n_fail_symbol,
       |  CAST(sum(f_alpha) AS BIGINT) AS n_fail_alpha,
       |  CAST(sum(f_stopword) AS BIGINT) AS n_fail_stopword,
       |  CAST(sum(keep) AS BIGINT) AS n_keep,
       |  round(avg(keep * 1.0), 4) AS keep_rate
       |FROM k GROUP BY source ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------------- c4 rules

  /** C4 cleaning-heuristic census (Raffel et al. 2020, "Exploring the
    * Limits of Transfer Learning with a Unified Text-to-Text
    * Transformer", §2.2): the line rules — keep only lines that end in
    * terminal punctuation, contain ≥ [[C4MinLineWords]] words, and do
    * not mention "javascript" — and the page rules — ≥ [[C4MinSentences]]
    * sentences (counted on the KEPT lines, as the paper filters lines
    * first), no "lorem ipsum", no curly brace. The paper's remaining
    * step, three-sentence-span dedup, is the `dedup_spans` operator.
    *
    * Like [[gopherRulesOn]], the census (per-source line/page failure
    * counts and keep rates) is the operator: one narrow (source, text)
    * scan, every line rule a codegen'd higher-order-function expression
    * over one `split`, the only shuffle the low-cardinality source
    * rollup with map-side partials — the shape is corpus-size-free. The
    * newline-free synthetic corpus can never produce a kept line (no
    * terminal punctuation), so TextAnalysisSpec drives crafted multi-line
    * documents through [[c4RulesOn]] to pin every rule's trip point. */
  val C4MinLineWords = 5
  val C4MinSentences = 3

  def c4Rules(s: SparkSession, dir: String): DataFrame =
    c4RulesOn(Tables(s, dir, "documents"))

  /** Operator core over any (source, text) frame. */
  def c4RulesOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val perDoc = docs
      .select($"source", $"text",
        filter(transform(split($"text", "\n"), l => trim(l)), l => l =!= "")
          .as("lines"))
      .withColumn("kept", filter($"lines", l =>
        l.rlike("[.!?\"]$") &&
          size(filter(split(l, "\\s+"), t => t =!= "")) >= C4MinLineWords &&
          !contains(lower(l), lit("javascript"))))
      .withColumn("n_sent", aggregate($"kept", lit(0),
        (a, l) => a + regexp_count(l, lit("[.!?]"))))
      .select($"source",
        size($"lines").cast("long").as("nl"),
        size($"kept").cast("long").as("nk"),
        ($"n_sent" < C4MinSentences).cast("int").as("f_sentences"),
        contains(lower($"text"), lit("lorem ipsum")).cast("int").as("f_lorem"),
        contains($"text", lit("{")).cast("int").as("f_brace"))
      .withColumn("keep",
        ($"f_sentences" + $"f_lorem" + $"f_brace" === 0).cast("int"))
    perDoc.groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"nl").as("n_lines"),
        sum($"nk").as("n_lines_kept"),
        round(sum($"nk") / greatest(sum($"nl"), lit(1L)).cast("double"), 4)
          .as("line_keep_rate"),
        sum($"f_sentences").as("n_fail_sentences"),
        sum($"f_lorem").as("n_fail_lorem"),
        sum($"f_brace").as("n_fail_brace"),
        sum($"keep").as("n_keep"),
        round(avg($"keep".cast("double")), 4).as("keep_rate"))
      .orderBy($"source")
  }

  val c4RulesSql: String =
    s"""WITH d AS (SELECT source, text,
       |  list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
       |    l -> l <> '') AS lines
       |  FROM documents),
       |k AS (SELECT source, text, lines,
       |  list_filter(lines, l -> regexp_matches(l, '[.!?"]$$')
       |    AND len(list_filter(string_split_regex(l, '\\s+'), t -> t <> '')) >= $C4MinLineWords
       |    AND NOT contains(lower(l), 'javascript')) AS kept
       |  FROM d),
       |p AS (SELECT source, len(lines) AS nl, len(kept) AS nk,
       |  CASE WHEN coalesce(list_sum(list_transform(kept,
       |      l -> len(regexp_extract_all(l, '[.!?]')))), 0) < $C4MinSentences
       |    THEN 1 ELSE 0 END AS f_sentences,
       |  CASE WHEN contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END AS f_lorem,
       |  CASE WHEN contains(text, '{') THEN 1 ELSE 0 END AS f_brace
       |  FROM k),
       |q AS (SELECT *,
       |  CASE WHEN f_sentences + f_lorem + f_brace = 0 THEN 1 ELSE 0 END AS keep
       |  FROM p)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(nl) AS BIGINT) AS n_lines,
       |  CAST(sum(nk) AS BIGINT) AS n_lines_kept,
       |  round(sum(nk) * 1.0 / greatest(sum(nl), 1), 4) AS line_keep_rate,
       |  CAST(sum(f_sentences) AS BIGINT) AS n_fail_sentences,
       |  CAST(sum(f_lorem) AS BIGINT) AS n_fail_lorem,
       |  CAST(sum(f_brace) AS BIGINT) AS n_fail_brace,
       |  CAST(sum(keep) AS BIGINT) AS n_keep,
       |  round(avg(keep * 1.0), 4) AS keep_rate
       |FROM q GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------- fingerprint

  /** Rolling polynomial fingerprint per document ([[PolyHash]], codegen'd)
    * + per-fingerprint duplicate-group size. */
  def docFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id", PolyHash($"text").as("fp"))
      .withColumn("group_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy($"fp")))
      .orderBy($"doc_id")
  }

  val docFingerprintSql: String =
    s"""SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS group_size
       |FROM (SELECT doc_id, ${PolyHash.duckSql("text")} AS fp FROM documents)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- winnowing

  /** Winnowing gram width and window (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 "Winnowing: Local Algorithms for Document
    * Fingerprinting"): hash every [[WinnowN]]-gram, then keep the
    * MINIMUM hash of each [[WinnowW]]-long window of consecutive gram
    * hashes. The selection is LOCAL (any two matching substrings of
    * length ≥ w+n-1 share a selected fingerprint — the paper's
    * guarantee) with expected density 2/(w+1), which is what makes the
    * fingerprint index a bounded fraction of the corpus at 100 TB. */
  val WinnowN = 3
  val WinnowW = 4

  /** Winnowed-fingerprint census per source: positional gram hashes
    * ([[graft.functions.WordNgramHashes.positional]], codegen'd — no
    * gram strings materialize), window minima + per-doc distinct as
    * pure array expressions in the SAME narrow scan, then one
    * (source, hash)-keyed aggregation (posting-list discipline: the
    * only corpus-sized shuffle carries 24-byte rows) rolled up to
    * per-source totals: fingerprints kept, distinct, shared across ≥2
    * docs (the near-dup candidate mass), and the per-doc density the
    * 2/(w+1) bound predicts. */
  def winnowFingerprint(s: SparkSession, dir: String): DataFrame =
    winnowFingerprintOn(Tables(s, dir, "documents"))

  /** Operator core over any (doc_id, source, text) frame. */
  def winnowFingerprintOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val sel = winnowSelected(docs)
    val perDoc = sel.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"))
    val perHash = sel
      .select($"source", $"doc_id", explode($"sel").as("h"))
      .groupBy($"source", $"h")
      .agg(count(lit(1)).as("dfh"))
    val perSource = perHash.groupBy($"source")
      .agg(
        sum($"dfh").as("n_fp"),
        count(lit(1)).as("n_distinct_fp"),
        sum(($"dfh" > 1).cast("long")).as("n_shared_fp"))
    perDoc.join(perSource, Seq("source"))
      .select($"source", $"n_docs", $"n_fp", $"n_distinct_fp", $"n_shared_fp",
        round($"n_fp" / $"n_docs".cast("double"), 4).as("avg_fp_per_doc"))
      .orderBy($"source")
  }

  /** Per-doc winnowed fingerprint sets — exposed for the spec (the
    * SIGMOD'03 locality guarantee is a per-doc-set property). One
    * native pass ([[graft.functions.WordNgramHashes.winnowed]]):
    * tokenize → positional hashes → monotone-deque window minima →
    * sorted distinct, O(tokens) per document. The previous
    * `transform(sequence) → slice → array_min` form allocated a
    * w-element array per window (O(tokens×w)) and made this the
    * suite's most expensive entry; the selected SET is identical
    * (same window layout, same minima), so the oracle is unchanged. */
  private[graft] def winnowSelected(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", $"source",
        graft.functions.WordNgramHashes.winnowed($"text", WinnowN, WinnowW)
          .as("sel"))
      .filter(size($"sel") > 0)
  }

  val winnowFingerprintSql: String = {
    val ngrams = graft.functions.TextFeatures.duckNgrams(duckToks, WinnowN)
    val gramHash = graft.functions.WordNgramHashes.duckSql("g")
    s"""WITH hs AS (
       |  SELECT doc_id, source,
       |    list_transform($ngrams, g -> $gramHash) AS hs
       |  FROM documents),
       |sel AS (
       |  SELECT doc_id, source,
       |    list_distinct(list_transform(
       |      range(0, greatest(len(hs) - $WinnowW, 0) + 1),
       |      i -> list_min(hs[i+1:i+$WinnowW]))) AS sel
       |  FROM hs WHERE len(hs) > 0),
       |per_doc AS (
       |  SELECT source, count(*) AS n_docs FROM sel GROUP BY source),
       |per_hash AS (
       |  SELECT source, h, count(*) AS dfh
       |  FROM (SELECT source, doc_id, unnest(sel) AS h FROM sel)
       |  GROUP BY source, h),
       |per_source AS (
       |  SELECT source,
       |    CAST(sum(dfh) AS BIGINT) AS n_fp,
       |    count(*) AS n_distinct_fp,
       |    CAST(sum(CASE WHEN dfh > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_fp
       |  FROM per_hash GROUP BY source)
       |SELECT d.source, d.n_docs, s.n_fp, s.n_distinct_fp, s.n_shared_fp,
       |  round(s.n_fp * 1.0 / d.n_docs, 4) AS avg_fp_per_doc
       |FROM per_doc d JOIN per_source s USING (source)
       |ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------------- vocab

  /** Corpus vocabulary: top-50 words by total occurrences (word
    * tie-break), with document frequency. One explode + one word-keyed
    * aggregation; TakeOrdered ranks without a global sort — the plan a
    * 100-TB vocabulary build needs. */
  def vocabTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id", explode(toks(lower($"text"))).as("w"))
      .groupBy($"w")
      .agg(count(lit(1)).as("n"), count_distinct($"doc_id").as("doc_freq"))
      .orderBy($"n".desc, $"w")
      .limit(50)
  }

  val vocabTopKSql: String =
    s"""SELECT w, count(*) AS n, count(DISTINCT doc_id) AS doc_freq
       |FROM (SELECT doc_id, unnest($duckToks) AS w FROM documents)
       |GROUP BY w ORDER BY n DESC, w LIMIT 50""".stripMargin

  // ----------------------------------------------------- vocab overlap

  /** Top-K vocabulary size for the pairwise overlap matrix. */
  val OverlapK = 128

  /** Pairwise source-vocabulary overlap: Jaccard + containment between
    * every two sources' top-[[OverlapK]] word sets — the mix-design
    * redundancy read (two sources with near-identical head vocabularies
    * contribute overlapping signal; SlimPajama-style mix audits report
    * exactly this matrix). Deterministic membership: rank by (count
    * desc, word) per source.
    *
    * Scale (100 TB): the only corpus-sized exchange is the partial-
    * aggregated (source, word) count; the rank filter is a
    * WindowGroupLimit (spec-asserted), so each source keeps at most K
    * rows PER INPUT PARTITION before the shuffle — a giant noisy
    * source cannot single-sort its whole distinct vocabulary. The
    * top-K table is bounded at |sources|·K rows, localCheckpointed
    * once, and every downstream join/cross is a broadcast over it
    * (output is the |sources|² pair lattice). Ratios are one double
    * division of exact integers, round(4). */
  def vocabOverlap(s: SparkSession, dir: String): DataFrame =
    vocabOverlapOn(Tables(s, dir, "documents"))

  /** The un-checkpointed top-K subtree — split out so the spec can
    * assert its WindowGroupLimit shape (localCheckpoint executes the
    * subtree eagerly, hiding it from the final plan). */
  private[graft] def overlapTopK(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"c".desc, $"w")
    docs
      .select($"source", explode(toks(lower($"text"))).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(win))
      .filter($"rk" <= OverlapK)
      .select($"source", $"w")
  }

  /** [[vocabOverlap]] over an explicit documents frame (spec hook). */
  private[graft] def vocabOverlapOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val topk = overlapTopK(docs).localCheckpoint()
    val sizes = topk.groupBy($"source").agg(count(lit(1)).as("nv"))
    val inter = topk.as("a")
      .join(broadcast(topk.as("b")), Seq("w"))
      .filter($"a.source" < $"b.source")
      .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    sizes.as("x")
      .join(broadcast(sizes.as("y")), $"x.source" < $"y.source")
      .select($"x.source".as("src_a"), $"y.source".as("src_b"),
        $"x.nv".as("n_a"), $"y.nv".as("n_b"))
      .join(broadcast(inter), Seq("src_a", "src_b"), "left")
      .withColumn("n_common", coalesce($"n_common", lit(0L)))
      .select($"src_a", $"src_b", $"n_a", $"n_b", $"n_common",
        round($"n_common".cast("double") /
          ($"n_a" + $"n_b" - $"n_common").cast("double"), 4).as("jaccard"),
        round($"n_common".cast("double") /
          least($"n_a", $"n_b").cast("double"), 4).as("containment"))
      .orderBy($"src_a", $"src_b")
  }

  val vocabOverlapSql: String =
    s"""WITH tok AS (SELECT source, unnest($duckToks) AS w FROM documents),
       |counts AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
       |topk AS (
       |  SELECT source, w FROM (
       |    SELECT source, w, row_number() OVER (
       |      PARTITION BY source ORDER BY c DESC, w) AS rk
       |    FROM counts) WHERE rk <= $OverlapK),
       |sizes AS (SELECT source, count(*) AS nv FROM topk GROUP BY source),
       |inter AS (
       |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
       |  FROM topk a JOIN topk b ON a.w = b.w AND a.source < b.source
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT x.source AS src_a, y.source AS src_b, x.nv AS n_a, y.nv AS n_b
       |  FROM sizes x JOIN sizes y ON x.source < y.source)
       |SELECT p.src_a, p.src_b, p.n_a, p.n_b,
       |  coalesce(i.n_common, 0) AS n_common,
       |  round(CAST(coalesce(i.n_common, 0) AS DOUBLE) /
       |    CAST(p.n_a + p.n_b - coalesce(i.n_common, 0) AS DOUBLE), 4) AS jaccard,
       |  round(CAST(coalesce(i.n_common, 0) AS DOUBLE) /
       |    CAST(least(p.n_a, p.n_b) AS DOUBLE), 4) AS containment
       |FROM pairs p LEFT JOIN inter i USING (src_a, src_b)
       |ORDER BY src_a, src_b""".stripMargin

  // ----------------------------------------------------- heavy hitters

  /** Heavy-hitter threshold denominator: report words with frequency
    * strictly above total/[[HhDenom]]. */
  val HhDenom = 200L

  /** Misra-Gries summary capacity. The MG guarantee retains every item
    * with frequency > N/(capacity+1); with capacity ≫ [[HhDenom]] the
    * candidate set provably contains every true heavy hitter, so the
    * exact re-count below returns the EXACT answer at any partitioning
    * — the sketch only bounds memory, never the result. */
  val HhCapacity = 1000

  /** Exact corpus heavy hitters with bounded memory — the sketch-then-
    * verify shape of the dedup suite applied to frequency counting:
    *
    *   1. candidate pass: one scan aggregated by the Misra-Gries
    *      [[graft.functions.FrequentWords]] summary (≤ [[HhCapacity]]
    *      counters per partition, merged on ONE reducer as
    *      capacity-bounded partials) — provably a superset of every
    *      word with frequency > N/[[HhDenom]];
    *   2. verify pass: exact counts of CANDIDATE words only, via a
    *      broadcast semi-join that filters the corpus map-side, so the
    *      word shuffle carries ≤ capacity distinct keys.
    *
    * Compare the naive exact plan ([[vocabTopK]]'s full word-keyed
    * shuffle): at 100 TB that exchange carries every word occurrence;
    * this one carries the total count (1 row) + candidate occurrences.
    * Output is deterministic and exact — hence oracle-checkable against
    * a plain GROUP BY / HAVING — because the threshold compare uses
    * exact integer arithmetic (cnt · denom > total). */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = Tables(s, dir, "documents")
      .select(explode(toks(lower($"text"))).as("w"))
    val cands = words.agg(
      graft.functions.FrequentWords($"w", HhCapacity).as("cands"),
      count(lit(1)).as("total"))
    val candWords = cands.select(explode($"cands").as("w"), $"total")
    words.join(broadcast(candWords), "w")
      .groupBy($"w", $"total")
      .agg(count(lit(1)).as("cnt"))
      .filter($"cnt" * HhDenom > $"total")
      .select($"w", $"cnt",
        round($"cnt" / $"total".cast("double"), 4).as("share"))
      .orderBy($"w")
  }

  val heavyHittersSql: String =
    s"""WITH w AS (SELECT unnest($duckToks) AS w FROM documents),
       |t AS (SELECT count(*) AS total FROM w)
       |SELECT w, count(*) AS cnt,
       |  round(count(*) / CAST(total AS DOUBLE), 4) AS share
       |FROM w CROSS JOIN t
       |GROUP BY w, total
       |HAVING count(*) * $HhDenom > total
       |ORDER BY w""".stripMargin

  // --------------------------------------------------------- normalize

  /** Normalization map stage: lowercase, strip non-alphanumerics (keep
    * spaces), collapse whitespace runs, trim. Reports per-source
    * shrinkage — the cheap cleanup pass a corpus runs before
    * tokenization; pure per-row codegen'd string ops, no shuffle before
    * the final small aggregation. */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .withColumn("norm", trim(regexp_replace(
        regexp_replace(lower($"text"), "[^a-z0-9\\s]", " "), "\\s+", " ")))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length($"text")).as("raw_chars"),
        sum(length($"norm")).as("norm_chars"),
        round(avg(length($"norm") / greatest(length($"text"), lit(1))), 4)
          .as("avg_keep_ratio"))
      .orderBy($"source")
  }

  // sums CAST to BIGINT for dtype parity (see textStatsSql)
  val textNormalizeSql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS raw_chars,
      |  CAST(sum(length(norm)) AS BIGINT) AS norm_chars,
      |  round(avg(length(norm) * 1.0 / greatest(length(text), 1)), 4)
      |    AS avg_keep_ratio
      |FROM (
      |  SELECT source, text,
      |    trim(regexp_replace(regexp_replace(lower(text),
      |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
      |  FROM documents)
      |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- tfidf

  val TfidfTopK = 10

  /** Per-source top-[[TfidfTopK]] terms by summed TF-IDF (smoothed idf
    * = ln((N+1)/(df+1)), corpus-wide df). Plan: one explode scan → tf
    * per (source, doc, word) with map-side partial agg → corpus df per
    * word → score agg per (source, word) → per-source window top-k.
    * Every shuffle is keyed by words (high cardinality, skew-free);
    * ranking uses the ROUNDED score (word tie-break) so cross-engine
    * float noise below the 4-decimal contract cannot reorder the
    * result. */
  def tfidfTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val n = docs.count() // one scalar; the reference pattern for corpus constants
    val tf = docs.select($"source", $"doc_id", explode(toks(lower($"text"))).as("w"))
      .groupBy($"source", $"doc_id", $"w")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"w").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "w")
      .withColumn("idf", log((lit(n) + 1.0) / ($"df" + lit(1.0))))
      .groupBy($"source", $"w")
      .agg(round(sum($"tf" * $"idf"), 4).as("score"))
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"score".desc, $"w")
    scored.withColumn("rk", row_number().over(byScore))
      .filter($"rk" <= TfidfTopK)
      .select($"source", $"w", $"score", $"rk")
      .orderBy($"source", $"rk")
  }

  val tfidfTopKSql: String =
    s"""WITH tf AS (
       |  SELECT source, doc_id, w, count(*) AS tf FROM (
       |    SELECT source, doc_id, unnest($duckToks) AS w FROM documents)
       |  GROUP BY source, doc_id, w),
       |n AS (SELECT count(*) AS n FROM documents),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
       |scored AS (
       |  SELECT source, w, round(sum(tf * ln((n.n + 1.0) / (df.df + 1.0))), 4) AS score
       |  FROM tf JOIN df USING (w) CROSS JOIN n
       |  GROUP BY source, w),
       |ranked AS (
       |  SELECT source, w, score,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY score DESC, w) AS INT) AS rk
       |  FROM scored)
       |SELECT source, w, score, rk FROM ranked
       |WHERE rk <= $TfidfTopK
       |ORDER BY source, rk""".stripMargin

  // -------------------------------------------------------------- bm25

  /** BM25 query terms — literals from the synthetic corpus's domain
    * vocabulary (the retrieval use case scores a FIXED query against
    * the corpus; a different query re-plans with different literals). */
  val Bm25Terms: Seq[String] = Seq("dup", "data", "stream", "window", "join")
  val Bm25TopDocs = 20

  /** BM25 document ranking (k1 = 1.2, b = 0.75, the Lucene idf
    * variant) for the fixed query — the retrieval scorer over the
    * corpus, and bit-deterministic in a way textbook BM25 is not:
    *
    *  - idf: Lucene's always-positive `ln(1 + (N−df+0.5)/(df+0.5))`
    *    is `ln` of the exact integer ratio `(2N+2)/(2df+1)`, so
    *    [[graft.functions.Log2Fixed]] scores it in 2^-16 units with no
    *    libm call (base-2 instead of e — a constant factor common to
    *    every term, so the ranking is unchanged);
    *  - tf normalization: every factor is an integer, an exactly-
    *    representable literal (1.2 / 2.2 / 0.25 / 0.75 parse to the
    *    same double in every engine), or a correctly-rounded IEEE
    *    mul/div — written in one fixed parenthesization mirrored
    *    verbatim in the oracle;
    *  - the per-document score sums its ≤ 5 term scores in FIXED
    *    term order (a literal expression chain, not an aggregation),
    *    so no reduction order exists to vary.
    *
    * One [[MarkerCounts]] tokenize pass computes dl + all five tfs;
    * corpus stats (N, total tokens, dfs) are one 1-row aggregate
    * broadcast back — at 100 TB this is one scan + one K-row exchange,
    * the [[langId]] shape with a ranking head. */
  def bm25TopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mc0 = Tables(s, dir, "documents")
      .select($"doc_id",
        MarkerCounts($"text", Bm25Terms.map(Seq(_))).as("mc"))
    val mc = mc0.select(
      ($"doc_id" +: $"mc" (0).as("dl") +:
        Bm25Terms.indices.map(i => $"mc"(i + 1).as(s"tf$i"))): _*)
    val tot = mc.agg(
      count(lit(1)).as("n_docs"),
      (sum($"dl").as("t_toks") +:
        Bm25Terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))): _*)
    val totIdf = tot.select(
      ($"n_docs" +: $"t_toks" +: Bm25Terms.indices.map { i =>
        Log2Fixed(lit(2L) * col(s"df$i") + lit(1L),
          lit(2L) * $"n_docs" + lit(2L)).as(s"idf$i")
      }): _*)
    val j = mc.crossJoin(broadcast(totIdf))
    def termScore(i: Int): Column =
      col(s"idf$i").cast("double") * (col(s"tf$i") * lit(2.2) /
        (col(s"tf$i") + lit(1.2) * (lit(0.25) + lit(0.75) *
          (($"dl" * $"n_docs").cast("double") / $"t_toks".cast("double")))))
    val score = Bm25Terms.indices.map(termScore).reduceLeft(_ + _)
    j.select($"doc_id", $"dl",
        round(score / lit(Log2Fixed.Scale.toDouble), 4).as("bm25"))
      .orderBy($"bm25".desc, $"doc_id")
      .limit(Bm25TopDocs)
  }

  val bm25TopKSql: String = {
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, t -> t = '$t')) AS tf$i"
    }.mkString(",\n       |    ")
    val dfCols = Bm25Terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(",\n       |    ")
    val abRows = Bm25Terms.indices.map(i =>
      s"SELECT $i AS ti, 2*df$i + 1 AS a, 2*n_docs + 2 AS b FROM tot")
      .mkString("\n       |  UNION ALL ")
    val scoreTerms = Bm25Terms.indices.map { i =>
      s"(SELECT lbits FROM idf WHERE ti = $i)::DOUBLE * (tf$i * 2.2 / " +
        s"(tf$i + 1.2 * (0.25 + 0.75 * " +
        "(CAST(dl * n_docs AS DOUBLE) / CAST(t_toks AS DOUBLE)))))"
    }.reduceLeft((acc, t) => s"($acc + $t)")
    s"""WITH mc AS (
       |  SELECT doc_id, len(toks) AS dl,
       |    $tfCols
       |  FROM (SELECT doc_id, $duckToks AS toks FROM documents)),
       |tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS t_toks,
       |    $dfCols
       |  FROM mc),
       |ab AS (
       |  $abRows),
       |idf AS (${Log2Fixed.duckUnroll("SELECT * FROM ab")}),
       |j AS (SELECT mc.*, tot.n_docs, tot.t_toks FROM mc CROSS JOIN tot)
       |SELECT doc_id, CAST(dl AS BIGINT) AS dl,
       |  round($scoreTerms / ${Log2Fixed.Scale}.0, 4) AS bm25
       |FROM j
       |ORDER BY bm25 DESC, doc_id
       |LIMIT $Bm25TopDocs""".stripMargin
  }

  // ---------------------------------------------------------- cardinality

  val KmvK = 64
  private val KmvNum = (KmvK - 1).toLong * PolyHash.Mod // (k-1)·p
  // Scatter step: raw PolyHash of short words is biased toward small
  // values (few base-31 wraps), which breaks the KMV uniformity
  // assumption; a multiplicative affine map mod p spreads them across
  // [0, p) and stays portable (h < 2^31, A < 2^31 ⇒ product < 2^62).
  val KmvA = 1103515245L
  val KmvB = 12345L

  /** Per-source distinct-word cardinality, exact AND via the bounded-
    * memory [[graft.functions.KMinValues]] KMV sketch (k smallest
    * distinct PolyHash values; estimate = (k-1)·p / h_k). The sketch
    * shuffles ≤ k longs per group per partition where count_distinct
    * shuffles every distinct word — the 100-TB cardinality path. The
    * deterministic hash makes even the approximate estimate
    * oracle-checkable. */
  def distinctSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r15: dedup (source, w) FIRST (a partial-aggregated group-by —
    // map-side combine absorbs duplicate words before the exchange),
    // then count + sketch the distinct rows. The previous
    // count_distinct + KMV mix planned through Expand: every token row
    // duplicated ×2 across the shuffle with no map-side dedup on the
    // distinct branch (guide §2.3 "aggregate before you shuffle" —
    // measured at sf10 as the 48.9 s entry). count(*) over the deduped
    // rows ≡ count_distinct(w); KMV is duplicate-insensitive (TreeSet)
    // so sketching distinct h is identical by construction — and the
    // oracle SQL already computes exactly this dedup-first shape.
    // PolyHash also now runs once per DISTINCT word, not per token.
    Tables(s, dir, "documents")
      .select($"source", explode(toks(lower($"text"))).as("w"))
      .distinct()
      .select($"source", $"w",
        ((PolyHash($"w") * KmvA + KmvB) % PolyHash.Mod).as("h"))
      .groupBy($"source")
      .agg(count(lit(1)).as("exact_distinct"),
        graft.functions.KMinValues($"h", KmvK).as("kmv"))
      .select($"source", $"exact_distinct",
        when(size($"kmv") < KmvK, size($"kmv").cast("long"))
          .otherwise(expr(s"CAST($KmvNum DIV element_at(kmv, $KmvK) AS BIGINT)"))
          .as("kmv_estimate"))
      .orderBy($"source")
  }

  val distinctSketchSql: String =
    s"""WITH words AS (
       |  SELECT source, unnest($duckToks) AS w FROM documents),
       |hs AS (
       |  SELECT source, w,
       |    (${PolyHash.duckSql("w")} * $KmvA + $KmvB) % ${PolyHash.Mod} AS h
       |  FROM words GROUP BY source, w),
       |agg AS (
       |  SELECT source, count(*) AS exact_distinct,
       |    list_sort(list(DISTINCT h)) AS hs
       |  FROM hs GROUP BY source)
       |SELECT source, exact_distinct,
       |  CASE WHEN len(hs) < $KmvK THEN len(hs)
       |       ELSE $KmvNum // hs[$KmvK] END AS kmv_estimate
       |FROM agg ORDER BY source""".stripMargin

  // ---------------------------------------------------------- co-occurrence

  /** Vocabulary cap for [[wordLift]] — bounds the per-document pair
    * fanout at V·(V−1)/2 regardless of document length. */
  val LiftVocab = 100
  /** Minimum co-document support — below this, lift is rare-pair
    * noise. */
  val LiftMinSupport = 5
  val LiftTopK = 20

  /** Word association mining: the [[LiftTopK]] most-associated word
    * pairs among the top-[[LiftVocab]] vocabulary, scored by LIFT —
    * `P(a,b) / (P(a)·P(b))` at document granularity, i.e.
    * `c_ab · N / (df_a · df_b)` — PMI's argument without the log, kept
    * as an exact ratio of integer counts so the score (one double
    * division + round) is bit-deterministic across engines, where a
    * `log` would hang the hash gate on libm rounding.
    *
    * Scale: presence (not frequency) pairs within a document, and only
    * vocabulary words pair — the per-document fanout is ≤ V²/2 by
    * construction, not document-length²; the vocabulary is a broadcast
    * [[LiftVocab]]-row frame; the only data-sized stages are the
    * tokenize scan and the doc-keyed self-join of the (doc, vocab-word)
    * presence list. The document count rides in as a broadcast 1-row
    * aggregate (no driver collect). */
  def wordLift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val present = docs.select($"doc_id",
      explode(array_distinct(toks(lower($"text")))).as("w"))
    val vocab = present.groupBy($"w").agg(count(lit(1)).as("df"))
      .orderBy($"df".desc, $"w").limit(LiftVocab)
    val pv = present.join(broadcast(vocab), Seq("w"))
    val a = pv.select($"doc_id", $"w".as("w_a"), $"df".as("df_a"))
    val b = pv.select($"doc_id".as("doc_id_b"), $"w".as("w_b"), $"df".as("df_b"))
    a.join(b, $"doc_id" === $"doc_id_b" && $"w_a" < $"w_b")
      .groupBy($"w_a", $"w_b", $"df_a", $"df_b")
      .agg(count(lit(1)).as("c_ab"))
      .filter($"c_ab" >= LiftMinSupport)
      .crossJoin(broadcast(nDocs))
      .select($"w_a", $"w_b", $"c_ab",
        round($"c_ab" * $"n_docs" / ($"df_a" * $"df_b"), 4).as("lift"))
      .orderBy($"lift".desc, $"w_a", $"w_b")
      .limit(LiftTopK)
  }

  val wordLiftSql: String =
    s"""WITH present AS (
       |  SELECT doc_id, unnest(list_distinct($duckToks)) AS w FROM documents),
       |vocab AS (
       |  SELECT w, count(*) AS df FROM present GROUP BY w
       |  ORDER BY df DESC, w LIMIT $LiftVocab),
       |pv AS (SELECT p.doc_id, p.w, v.df FROM present p JOIN vocab v USING (w)),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |pairs AS (
       |  SELECT a.w AS w_a, b.w AS w_b, a.df AS df_a, b.df AS df_b,
       |    count(*) AS c_ab
       |  FROM pv a JOIN pv b ON a.doc_id = b.doc_id AND a.w < b.w
       |  GROUP BY a.w, b.w, a.df, b.df
       |  HAVING count(*) >= $LiftMinSupport)
       |SELECT w_a, w_b, c_ab,
       |  round(c_ab * n_docs / (df_a * df_b), 4) AS lift
       |FROM pairs CROSS JOIN n
       |ORDER BY lift DESC, w_a, w_b LIMIT $LiftTopK""".stripMargin

  // ---------------------------------------------------------- repetition

  /** Flagging threshold on the duplicate-2-gram fraction: the corpus
    * median is ~0.03 and the max ~0.13, so 0.05 splits it meaningfully.
    * The compare is on an IEEE-exact ratio of integers, so both engines
    * flag identically even at the boundary. */
  val RepFlagTau = 0.05

  /** Within-document repetition metrics — the Gopher-style repetition
    * filters (Rae et al. 2021, §A1.1 of the Gopher paper) a pretraining
    * pipeline runs to drop boilerplate/spam before training:
    *
    *   - `dup2/dup3`: fraction of word 2-/3-grams that are repeats of an
    *     earlier gram in the SAME document, `1 − distinct/(words−n+1)`;
    *   - `top_frac`: most frequent word's share of the document;
    *   - `entropy`: Shannon entropy of the word distribution in nats,
    *     `ln(total) − Σ cnt·ln(cnt) / total`;
    *   - `n_flagged`: docs with dup2 > [[RepFlagTau]].
    *
    * Reported as per-source averages. Scale shape: the gram stats are
    * pure per-row codegen ([[graft.functions.WordNgramHashes]] counts
    * distinct grams without materializing a single gram string); the
    * word-distribution stats are one (doc_id, word)-keyed aggregation
    * with map-side partials, one doc_id-keyed aggregation, and a
    * doc_id co-keyed join back to the per-row frame — every shuffle
    * key is high-cardinality and skew-free, so the shape survives
    * 100 TB. Documents with zero tokens leave no word rows, so the
    * doc_id join is INNER on both engines (mirrored in the oracle). */
  def repetitionScore(s: SparkSession, dir: String): DataFrame =
    repetitionScoreOn(Tables(s, dir, "documents"))

  /** Operator core over any (doc_id, source, text) frame — the spec
    * drives hand-computed corpora through it. */
  def repetitionScoreOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val base = docs.select($"doc_id", $"source",
        size(toks(lower($"text"))).as("words"),
        size(graft.functions.WordNgramHashes($"text", 2)).as("d2"),
        size(graft.functions.WordNgramHashes($"text", 3)).as("d3"))
      .withColumn("dup2", when($"words" >= 2,
        lit(1.0) - $"d2" / ($"words" - 1).cast("double")).otherwise(0.0))
      .withColumn("dup3", when($"words" >= 3,
        lit(1.0) - $"d3" / ($"words" - 2).cast("double")).otherwise(0.0))
    val wordStats = docs
      .select($"doc_id", explode(toks(lower($"text"))).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("cnt"))
      .groupBy($"doc_id")
      .agg(max($"cnt").as("mx"), sum($"cnt").as("tot"),
        sum($"cnt" * log($"cnt".cast("double"))).as("slc"))
      .select($"doc_id", ($"mx" / $"tot".cast("double")).as("top_frac"),
        (log($"tot".cast("double")) - $"slc" / $"tot").as("entropy"))
    base.join(wordStats, "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg($"dup2"), 4).as("avg_dup2"),
        round(avg($"dup3"), 4).as("avg_dup3"),
        round(avg($"top_frac"), 4).as("avg_top_frac"),
        round(avg($"entropy"), 4).as("avg_entropy"),
        sum(when($"dup2" > RepFlagTau, 1L).otherwise(0L)).as("n_flagged"))
      .orderBy($"source")
  }

  val repetitionScoreSql: String = {
    import graft.functions.{TextFeatures => TF, WordNgramHashes => WNH}
    def distinctGrams(n: Int): String =
      s"""SELECT doc_id, count(DISTINCT ${WNH.duckSql("g")}) AS d$n
         |  FROM (SELECT doc_id, unnest(${TF.duckNgrams("toks", n)}) AS g FROM t)
         |  GROUP BY doc_id""".stripMargin
    s"""WITH t AS (SELECT doc_id, source, $duckToks AS toks FROM documents),
       |base AS (SELECT doc_id, source, len(toks) AS words FROM t),
       |g2 AS (${distinctGrams(2)}),
       |g3 AS (${distinctGrams(3)}),
       |wc AS (
       |  SELECT doc_id, w, count(*) AS cnt
       |  FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY doc_id, w),
       |ws AS (
       |  SELECT doc_id, max(cnt) * 1.0 / sum(cnt) AS top_frac,
       |    ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt) AS entropy
       |  FROM wc GROUP BY doc_id),
       |j AS (
       |  SELECT b.source,
       |    CASE WHEN b.words >= 2
       |      THEN 1.0 - coalesce(g2.d2, 0) * 1.0 / (b.words - 1)
       |      ELSE 0.0 END AS dup2,
       |    CASE WHEN b.words >= 3
       |      THEN 1.0 - coalesce(g3.d3, 0) * 1.0 / (b.words - 2)
       |      ELSE 0.0 END AS dup3,
       |    ws.top_frac, ws.entropy
       |  FROM base b
       |  LEFT JOIN g2 USING (doc_id) LEFT JOIN g3 USING (doc_id)
       |  JOIN ws USING (doc_id))
       |SELECT source, count(*) AS n_docs,
       |  round(avg(dup2), 4) AS avg_dup2,
       |  round(avg(dup3), 4) AS avg_dup3,
       |  round(avg(top_frac), 4) AS avg_top_frac,
       |  round(avg(entropy), 4) AS avg_entropy,
       |  CAST(sum(CASE WHEN dup2 > $RepFlagTau THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_flagged
       |FROM j GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- pii

  /** PII patterns in the portable Java-regex ∩ RE2 subset (no
    * lookaround, no backreferences — RE2/DuckDB rejects both), applied
    * IN ORDER with each count taken on the text as already redacted by
    * the previous patterns, so one span is never double-counted (an
    * IPv4 inside an email domain is an email, not an IP). */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\+?[0-9][0-9()\\- ]{6,}[0-9]", "<PHONE>"))

  /** PII redaction report over any (doc_id, source, text) frame — the
    * scrubbing pass a corpus runs before anything else ships. Per
    * source: docs, docs containing any PII, per-pattern match counts,
    * and the net character delta of redaction. Pure per-row regex
    * inside whole-stage codegen, one tiny per-source aggregation — the
    * same single-scan shape as [[textNormalize]], so it survives
    * 100 TB unchanged. The synthetic corpus contains no digits at all
    * (every count is 0 — the oracle still verifies the whole fold);
    * TextAnalysisSpec injects PII-bearing docs through this core and
    * asserts the redacted text and counts. */
  def piiRedactOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // fold: count pattern i on the text redacted by patterns 0..i-1
    val staged = PiiPatterns.foldLeft(
        docs.withColumn("red", $"text")) { case (df, (name, re, tag)) =>
      df.withColumn(s"n_$name", regexp_count($"red", lit(re)))
        .withColumn("red", regexp_replace($"red", re, tag))
    }
    val anyPii = PiiPatterns.map { case (n, _, _) => col(s"n_$n") > 0 }
      .reduce(_ || _)
    staged
      .withColumn("has_pii", when(anyPii, 1L).otherwise(0L))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"has_pii").as("n_docs_with_pii"),
        sum($"n_email").cast("long").as("n_emails"),
        sum($"n_ip").cast("long").as("n_ips"),
        sum($"n_phone").cast("long").as("n_phones"),
        sum(length($"red") - length($"text")).as("chars_delta"))
      .orderBy($"source")
  }

  def piiRedact(s: SparkSession, dir: String): DataFrame =
    piiRedactOn(Tables(s, dir, "documents"))

  val piiRedactSql: String = {
    // the same fold as staged CTEs; DuckDB needs the explicit 'g' flag
    val stages = PiiPatterns.zipWithIndex.map {
      case ((name, re, tag), i) =>
        val prev = if (i == 0) "SELECT source, text, text AS red FROM documents"
          else s"SELECT * FROM s${i - 1}"
        s"""s$i AS (
           |  SELECT source, text,
           |    len(regexp_extract_all(red, '$re')) AS n_$name,
           |    regexp_replace(red, '$re', '$tag', 'g') AS red""" +
          (if (i == 0) "" else
            PiiPatterns.take(i).map { case (p, _, _) => s", n_$p" }.mkString("", "", "")) +
          s"\n  FROM ($prev))"
    }.mkString(",\n")
    val anyPii = PiiPatterns.map { case (n, _, _) => s"n_$n > 0" }.mkString(" OR ")
    val last = s"s${PiiPatterns.size - 1}"
    s"""WITH $stages
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN $anyPii THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_docs_with_pii,
       |  CAST(sum(n_email) AS BIGINT) AS n_emails,
       |  CAST(sum(n_ip) AS BIGINT) AS n_ips,
       |  CAST(sum(n_phone) AS BIGINT) AS n_phones,
       |  CAST(sum(length(red) - length(text)) AS BIGINT) AS chars_delta
       |FROM $last GROUP BY source ORDER BY source""".stripMargin
  }

  /** Shingle order for [[ngramNovelty]] (the dedup operators' 3-gram
    * regime). */
  val NoveltyN = 3

  /** Cross-document novelty: per document, the fraction of its DISTINCT
    * word-3-grams that occur in NO other document — the inverse of
    * boilerplate: high novelty marks original text, low novelty marks
    * template/quote-heavy documents (a ranking signal next to
    * [[repetitionScore]], which looks WITHIN the document). Grams are
    * 62-bit dual-PolyHash values ([[graft.functions.WordNgramHashes]]) —
    * the exchange carries 8-byte hashes, never gram strings, and the
    * oracle reproduces the identical hash fold so document frequencies
    * match bit-for-bit.
    *
    * Scale: `n_grams` is free (array size before the explode — never
    * join a per-doc aggregate back for what the row already knows).
    * The load-bearing observation is that a df=1 gram's OWNER is
    * already present in its df group — `min(doc_id)` of a
    * single-member group IS the one document — so "which docs own
    * unique grams" needs NO join of the exploded grams back against
    * the unique-gram set (the naive formulation — and at 100 TB the
    * df=1 set is the zipfian MAJORITY of grams, far too big to
    * broadcast). The whole operator is one explode scan + a
    * gram-keyed aggregation (map-side partials absorb hot-gram skew)
    * + a doc-keyed count of its df=1 rows. */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame =
    ngramNoveltyOn(Tables(s, dir, "documents"))

  /** [[ngramNovelty]] over any (doc_id, source, text) frame — spec
    * surface for planted unique/duplicated documents. */
  def ngramNoveltyOn(docs0: DataFrame): DataFrame = {
    import docs0.sparkSession.implicits._
    val docs = docs0
      .withColumn("hs", graft.functions.WordNgramHashes($"text", NoveltyN))
    val nUniq = docs.select($"doc_id", explode($"hs").as("gh"))
      .groupBy($"gh")
      .agg(count(lit(1)).as("df"), min($"doc_id").as("doc_id"))
      .filter($"df" === 1)
      .groupBy($"doc_id").agg(count(lit(1)).as("n_unique"))
    docs.select($"doc_id", $"source", size($"hs").cast("long").as("n_grams"))
      .filter($"n_grams" > 0)
      .join(nUniq, Seq("doc_id"), "left")
      .select($"doc_id", $"source", $"n_grams",
        coalesce($"n_unique", lit(0L)).as("n_unique"),
        round(coalesce($"n_unique", lit(0L)).cast("double") / $"n_grams", 4)
          .as("novelty"))
      .orderBy($"doc_id")
  }

  val ngramNoveltySql: String = {
    import graft.functions.{TextFeatures => TF, WordNgramHashes}
    s"""WITH grams AS (
       |  SELECT doc_id, source, unnest(gs) AS gram FROM (
       |    SELECT doc_id, source,
       |      list_distinct(${TF.duckNgrams(TF.duckToks, NoveltyN)}) AS gs
       |    FROM documents)),
       |gh AS (
       |  SELECT DISTINCT doc_id, source,
       |    ${WordNgramHashes.duckSql("gram")} AS gh
       |  FROM grams),
       |dfs AS (SELECT gh, count(*) AS df FROM gh GROUP BY gh)
       |SELECT doc_id, source,
       |  CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_unique,
       |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 4) AS novelty
       |FROM gh JOIN dfs USING (gh)
       |GROUP BY doc_id, source
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------- BPE trainer

  /** Words entering the merge trainer: top-[[BpeVocabCap]] by (count
    * DESC, word ASC). BPE training is dictionary-based (Sennrich et
    * al. 2016): the corpus-scale work is ONE distributed word count,
    * and the merge loop runs over the bounded dictionary — so the
    * driver state is ≤ cap rows no matter the corpus size (the same
    * bounded-collect argument as the K centroids / Misra-Gries
    * candidates). A production trainer would raise the cap (30k+);
    * the value is a parameter, the structure is the contract. Words
    * are restricted to printable ASCII so the character split is
    * engine-portable (Java UTF-16 chars vs DuckDB code points agree
    * there; same assumption as [[graft.functions.Subword]]). */
  val BpeVocabCap = 256

  /** Merge rounds learned — one output row each. */
  val BpeMerges = 12

  /** One standard-BPE merge pass (list-based, Sennrich et al. 2016
    * `merge_vocab`): left-to-right, (l, r) merges when the last
    * emitted symbol is `l` and the next input symbol is `r`; a merged
    * symbol never re-merges within the same pass (l||r ≠ l since r is
    * non-empty), so runs behave canonically ('aaaa' + (a,a) →
    * [aa, aa], NOT the string-replace variant's [aa, a, a]). The
    * DuckDB mirror is a `list_reduce` fold with a list accumulator
    * ([[bpeTrainSql]]) — element-for-element the same scan. */
  private def bpeApply(syms: Vector[String], l: String, r: String): Vector[String] =
    syms.foldLeft(Vector.empty[String]) { (acc, x) =>
      if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
      else acc :+ x
    }

  /** BPE merge-table TRAINER — learns the merge table that
    * [[graft.functions.Subword]]-style appliers consume, completing
    * the tokenizer story (train here, apply in `pack_sequences_bpe` /
    * `source_mix_bpe`). Two stages: (1) DISTRIBUTED — one corpus scan
    * to word counts, top-[[BpeVocabCap]] cut (TakeOrdered, bounded
    * driver traffic); (2) DRIVER — [[BpeMerges]] greedy rounds over
    * the dictionary: count adjacent symbol pairs weighted by word
    * count (overlapping, `zip(s, s[1:])` semantics), pick max with
    * (count DESC, l ASC, r ASC) tie-break, apply via [[bpeApply]].
    * Every count is an exact integer and the tie-break is total, so
    * the learned table is bit-deterministic and hash-gated: the
    * oracle re-derives each round as an unrolled CTE chain (pair
    * counts → argmax → list_reduce re-segmentation), the same
    * static-unroll pattern as [[graft.kmeans.KMeansOracle]]. */
  /** The trainer's one distributed stage: word counts → top-V cut.
    * orderBy+limit plans as TakeOrderedAndProject (per-partition top-V
    * merged on the driver — no global sort; PlanShapeSpec asserts),
    * so driver traffic is ≤ cap rows at any corpus size. */
  private[graft] def bpeDict(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(explode(toks(lower($"text"))).as("w"))
      .where($"w".rlike("^[!-~]+$"))
      .groupBy($"w").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"w").limit(BpeVocabCap)
  }

  /** The driver-side trainer core: learned merge rows + the dictionary
    * in its final segmentation. One distributed count ([[bpeDict]]),
    * then [[BpeMerges]] greedy rounds over ≤ [[BpeVocabCap]] words. */
  private def bpeCore(docs: DataFrame)
      : (Seq[(Int, String, String, String, Long)], Seq[(Vector[String], Long)]) = {
    val dict = bpeDict(docs)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var words: Array[(Vector[String], Long)] =
      dict.map { case (w, n) => (w.map(_.toString).toVector, n) }
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    for (rank <- 1 to BpeMerges) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for { (syms, n) <- words; w <- syms.sliding(2) if w.size == 2 }
        pc((w(0), w(1))) = pc.getOrElse((w(0), w(1)), 0L) + n
      if (pc.nonEmpty) {
        val ((l, r), cnt) = pc.minBy { case ((a, b), c) => (-c, a, b) }
        words = words.map { case (syms, n) => (bpeApply(syms, l, r), n) }
        out += ((rank, l, r, l + r, cnt))
      }
    }
    (out.result(), words.toSeq)
  }

  def bpeTrainOn(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    bpeCore(docs)._1
      .toDF("merge_rank", "l_sym", "r_sym", "merged", "pair_count")
      .orderBy("merge_rank")
  }

  /** Train-once memo for [[bpeCore]]'s result — three registry
    * consumers (`bpe_train`, `bpe_vocab`, `tok_fertility_learned`) read
    * the same trained table, so the one corpus word-count + driver
    * merge loop runs once per (session, sf) (the dsir/lm/quality
    * score-once accounting). */
  private val bpeCache = new graft.SessionCache[
    (Seq[(Int, String, String, String, Long)], Seq[(Vector[String], Long)])]()

  def trainBpe(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, String, Long)], Seq[(Vector[String], Long)]) =
    bpeCache.getOrCompute(s, dir) { bpeCore(Tables(s, dir, "documents")) }

  /** Test/bench hook: drop memoized trained merge tables. */
  def clearBpeCache(): Unit = bpeCache.clear()

  /** The learned unit table for the greedy APPLY path: the merged
    * symbols `bpe_train` learns, in merge-rank order. Units containing
    * '~' are excluded on BOTH engines — the DuckDB fold's word
    * terminator relies on `buf || '~'` never being a vocab member (none
    * arise from this corpus; the filter makes the contract hold on any
    * input). */
  private[graft] def learnedUnits(s: SparkSession, dir: String): Seq[String] =
    trainBpe(s, dir)._1.map(_._4).filter(!_.contains("~")).distinct

  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainBpe(s, dir)._1
      .toDF("merge_rank", "l_sym", "r_sym", "merged", "pair_count")
      .orderBy("merge_rank")
  }

  /** The dictionary AFTER training: each word's learned segmentation
    * and subword-token count — what a tokenizer ships alongside the
    * merge table, and the direct view of what the merges bought
    * (frequent words collapse toward single tokens, rare ones stay
    * char-split). Same hash gate: the oracle reads the chain's final
    * `w{[[BpeMerges]]}` and reconstructs the word from its symbols. */
  def bpeVocabOn(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    bpeCore(docs)._2
      .map { case (syms, n) =>
        (syms.mkString, syms.mkString(" "), syms.size, n) }
      .toDF("w", "seg", "n_tokens", "n")
      .orderBy("w")
  }

  def bpeVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainBpe(s, dir)._2
      .map { case (syms, n) =>
        (syms.mkString, syms.mkString(" "), syms.size, n) }
      .toDF("w", "seg", "n_tokens", "n")
      .orderBy("w")
  }

  /** The trainer's oracle: [[BpeMerges]] rounds unrolled statically.
    * `w{i}` = the dictionary re-segmented after i merges (symbol
    * LISTS), `p{i}` = weighted adjacent-pair counts over `w{i-1}`,
    * `m{i}` = that round's argmax under the (cnt DESC, l, r) total
    * order. All multiply-referenced CTEs are AS MATERIALIZED (DuckDB
    * inlines per reference; the kmeans chain hit exponential
    * expansion without it). */
  /** The shared WITH-chain: dictionary, char-split `w0`, and per-round
    * `p{i}`/`m{i}`/`w{i}` CTEs (see [[bpeTrainSql]]'s scaladoc). */
  private val bpeChainSql: String = {
    val rounds = (1 to BpeMerges).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT t.syms[g.i] AS l_sym, t.syms[g.i+1] AS r_sym,
         |    sum(t.n)::BIGINT AS cnt
         |  FROM w${r - 1} t,
         |    LATERAL (SELECT unnest(generate_series(1, len(t.syms)-1)) AS i) g
         |  GROUP BY 1, 2),
         |m$r AS MATERIALIZED (
         |  SELECT l_sym, r_sym, cnt FROM p$r
         |  ORDER BY cnt DESC, l_sym, r_sym LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT list_reduce(
         |      list_transform(t.syms, s -> [s]),
         |      (acc, x) -> CASE WHEN acc[len(acc)] = m.l_sym
         |                        AND x[1] = m.r_sym
         |                  THEN acc[:len(acc)-1] || [m.l_sym || m.r_sym]
         |                  ELSE acc || x END) AS syms, t.n
         |  FROM w${r - 1} t, m$r m)""".stripMargin
    }.mkString(",\n")
    s"""WITH dict AS MATERIALIZED (
       |  SELECT w, count(*)::BIGINT AS n
       |  FROM (SELECT unnest($duckToks) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[!-~]+$$')
       |  GROUP BY w ORDER BY n DESC, w LIMIT $BpeVocabCap),
       |w0 AS MATERIALIZED (
       |  SELECT string_split(trim(regexp_replace(w, '(.)', '\\1 ', 'g')), ' ')
       |    AS syms, n FROM dict),
       |$rounds""".stripMargin
  }

  val bpeTrainSql: String = {
    val union = (1 to BpeMerges).map { r =>
      if (r == 1)
        s"""SELECT 1 AS merge_rank, l_sym, r_sym, l_sym||r_sym AS merged,
           |  cnt AS pair_count FROM m1""".stripMargin
      else s"SELECT $r, l_sym, r_sym, l_sym||r_sym, cnt FROM m$r"
    }.mkString("\n  UNION ALL ")
    s"""$bpeChainSql
       |SELECT * FROM (
       |  $union
       |) ORDER BY merge_rank""".stripMargin
  }

  val bpeVocabSql: String =
    s"""$bpeChainSql
       |SELECT array_to_string(syms, '') AS w, array_to_string(syms, ' ') AS seg,
       |  len(syms)::INT AS n_tokens, n
       |FROM w$BpeMerges ORDER BY w""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_train" -> (bpeTrain(_, _)),
    "bpe_vocab" -> (bpeVocab(_, _)),
    "ngram_novelty" -> (ngramNovelty(_, _)),
    "repetition_score" -> (repetitionScore(_, _)),
    "pii_redact" -> (piiRedact(_, _)),
    "distinct_sketch" -> (distinctSketch(_, _)),
    "text_normalize" -> (textNormalize(_, _)),
    "text_stats" -> (textStats(_, _)),
    "tok_fertility" -> (tokFertility(_, _)),
    "tok_fertility_learned" -> (tokFertilityLearned(_, _)),
    "lang_id" -> (langId(_, _)),
    "quality_score" -> (qualityScore(_, _)),
    "gopher_rules" -> (gopherRules(_, _)),
    "c4_rules" -> (c4Rules(_, _)),
    "doc_fingerprint" -> (docFingerprint(_, _)),
    "winnow_fingerprint" -> (winnowFingerprint(_, _)),
    "vocab_topk" -> (vocabTopK(_, _)),
    "vocab_overlap" -> (vocabOverlap(_, _)),
    "bm25_topk" -> (bm25TopK(_, _)),
    "word_lift" -> (wordLift(_, _)),
    "heavy_hitters" -> (heavyHitters(_, _)),
    "tfidf_topk" -> (tfidfTopK(_, _)))

  def oracles: Map[String, String] = Map(
    "bpe_train" -> bpeTrainSql,
    "bpe_vocab" -> bpeVocabSql,
    "ngram_novelty" -> ngramNoveltySql,
    "repetition_score" -> repetitionScoreSql,
    "pii_redact" -> piiRedactSql,
    "tfidf_topk" -> tfidfTopKSql,
    "distinct_sketch" -> distinctSketchSql,
    "text_normalize" -> textNormalizeSql,
    "text_stats" -> textStatsSql,
    "tok_fertility" -> tokFertilitySql,
    "tok_fertility_learned" -> tokFertilityLearnedSql,
    "lang_id" -> langIdSql,
    "quality_score" -> qualityScoreSql,
    "gopher_rules" -> gopherRulesSql,
    "c4_rules" -> c4RulesSql,
    "doc_fingerprint" -> docFingerprintSql,
    "winnow_fingerprint" -> winnowFingerprintSql,
    "vocab_topk" -> vocabTopKSql,
    "vocab_overlap" -> vocabOverlapSql,
    "bm25_topk" -> bm25TopKSql,
    "word_lift" -> wordLiftSql,
    "heavy_hitters" -> heavyHittersSql)
}
