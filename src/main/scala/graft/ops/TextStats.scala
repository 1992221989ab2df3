package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.rollingHash
import graft.queries.QueryDef
import graft.queries.QueryDef._

/** Text analysis over `documents` (★ SURVEY §2c): token stats, quality
  * scoring, heuristic language ID, BPE-ish token counting, document
  * fingerprinting. All per-row scalar pipelines — fully codegen'd, no
  * UDFs, no shuffle except final aggregates; embarrassingly parallel at
  * 100 TB. Derived doubles come from exact integer counts, so results are
  * bit-identical across engines. */
object TextStats {

  def tokens(text: Column): Column = split(text, " ")

  /** Per-doc token statistics. */
  def stats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"), col("lang"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      size(array_distinct(tokens(col("text")))).cast("long").as("n_distinct"),
      length(col("text")).cast("long").as("len_chars"),
      expr("aggregate(transform(split(text, ' '), w -> CAST(length(w) AS BIGINT)), 0L, (a, x) -> a + x)")
        .as("sum_token_len"))
      .withColumn("avg_token_len", col("sum_token_len").cast("double") / col("n_tokens"))
      .withColumn("distinct_ratio", col("n_distinct").cast("double") / col("n_tokens"))

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")

  private[ops] def inSet(v: String, set: Seq[String]): String =
    set.map(w => s"$v = '$w'").mkString("(", " OR ", ")")

  /** Spark-side stopword hit count over `text` — single source of truth
    * for every operator filtering on stopword presence (quality score
    * here, Sampling.qualityFilter). */
  private[ops] def stopCountExpr: String =
    s"CAST(size(filter(split(text, ' '), w -> ${inSet("w", Stopwords)})) AS BIGINT)"

  /** Spark-side sum of per-token lengths over `text` (the mean-token-
    * length numerator) — shared by stats, the quality filter, the filter
    * funnel, and the dataset card. */
  private[ops] val sumLenExpr: String =
    "aggregate(transform(split(text, ' '), w -> CAST(length(w) AS BIGINT)), 0L, (a, x) -> a + x)"

  /** The four C4-style quality predicates over the signal columns
    * (n_tokens, n_distinct, sum_len, n_stop), as engine-portable SQL —
    * the same text parses identically in Spark and DuckDB. Single source
    * of truth: qualityFilter (q39) keeps the conjunction, filterFunnel
    * (q103) counts each negation, datasetCard (q105) counts the
    * conjunction — so the three reconcile by construction. */
  private[ops] val QcLen = "n_tokens >= 20"
  private[ops] val QcDiversity = "n_distinct * 10 >= n_tokens * 3"
  private[ops] val QcTokenLen = "(sum_len >= n_tokens * 3 AND sum_len <= n_tokens * 12)"
  private[ops] val QcStop = "n_stop >= 1"
  private[graft] val QualityPassCond: String =
    Seq(QcLen, QcDiversity, QcTokenLen, QcStop).mkString(" AND ")

  /** Spark-side projections of the four quality-signal columns. */
  private[graft] def signalCols: Seq[Column] = Seq(
    size(tokens(col("text"))).cast("long").as("n_tokens"),
    size(array_distinct(tokens(col("text")))).cast("long").as("n_distinct"),
    expr(sumLenExpr).as("sum_len"),
    expr(stopCountExpr).as("n_stop"))

  /** DuckDB select-list fragment: the three score-input signals
    * (n_tokens, n_distinct, n_stop). */
  private[ops] def scoreSignalsDuck: String =
    s"""CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
          CAST(len(list_filter(string_split(text, ' '), w -> ${inSet("w", Stopwords)})) AS BIGINT) AS n_stop"""

  /** DuckDB twin of [[sumLenExpr]] (the fourth filter signal). */
  private[ops] val sumLenDuck: String =
    "CAST(list_sum(list_transform(string_split(text, ' '), w -> CAST(length(w) AS BIGINT))) AS BIGINT) AS sum_len"

  /** DuckDB twin of [[scored]]'s score formula over the signal columns.
    * Same expression tree as the Spark side, so the doubles match
    * bit-for-bit. */
  private[ops] val scoreExprDuck: String =
    """(CAST(LEAST(n_tokens, 100) AS DOUBLE) / 100.0) * 0.5
            + (CAST(n_distinct AS DOUBLE) / n_tokens) * 0.3
            + (CAST(LEAST(n_stop, 10) AS DOUBLE) / 10.0) * 0.2"""

  /** doc_id + `keep` columns + the exact-integer quality inputs and the
    * [0,1] score (length term + vocabulary-diversity term + stopword-
    * presence term). SINGLE definition of the quality formula — q31,
    * the weighted sampler, and the source mixer all rank by this. */
  private[graft] def scored(docs: DataFrame, keep: Seq[String]): DataFrame =
    docs.select(col("doc_id") +: keep.map(col) :+
      size(tokens(col("text"))).cast("long").as("n_tokens") :+
      size(array_distinct(tokens(col("text")))).cast("long").as("n_distinct") :+
      expr(stopCountExpr).as("n_stop"): _*)
      .withColumn("score",
        (least(col("n_tokens"), lit(100L)).cast("double") / 100.0) * 0.5 +
          (col("n_distinct").cast("double") / col("n_tokens")) * 0.3 +
          (least(col("n_stop"), lit(10L)).cast("double") / 10.0) * 0.2)

  /** Quality score in [0,1] with its decile bucket (q31). */
  def quality(docs: DataFrame): DataFrame =
    scored(docs, Seq("lang"))
      .withColumn("bucket", floor(col("score") * 10).cast("long"))

  /** The dataset-card signal frame over (doc_id, source, text) rows: the
    * four quality signals, q31's score, the language guess, and the
    * micro-unit quantized score — one stateless codegen'd projection,
    * shared by the batch card (q105) and the streaming live card. */
  private[graft] def cardSignals(docs: DataFrame): DataFrame =
    withLangScores(scored(docs, Seq("source", "text"))
      .withColumn("sum_len", expr(sumLenExpr)))
      .withColumn("lang_guess", langGuessCol)
      .withColumn("q_micro", floor(col("score") * 1000000.0).cast("long"))

  /** Marker-word profiles for the heuristic language classifier. The
    * classifier shape (per-language marker hit counts + argmax with a
    * deterministic priority order) is the standard n-gram-profile
    * heuristic; profiles here are fit to the synthetic corpus vocab. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("table", "scan", "batch"),
    "en" -> Seq("the", "a", "fast"),
    "es" -> Seq("spark", "row", "query"),
    "fr" -> Seq("merge", "sort", "window"),
    "zh" -> Seq("data", "join", "filter"))

  /** Heuristic language ID: marker-hit counts per language, argmax in
    * fixed profile order. Output includes the confusion pair (lang,
    * lang_guess) for downstream eval. */
  /** Attach the per-language marker-hit columns `s_<lang>`. */
  private[ops] def withLangScores(df: DataFrame): DataFrame =
    LangMarkers.foldLeft(df) { case (d, (lng, markers)) =>
      d.withColumn(s"s_$lng",
        expr(s"CAST(size(filter(split(text, ' '), w -> ${inSet("w", markers)})) AS BIGINT)"))
    }

  /** Argmax over the `s_<lang>` columns in fixed profile order — the
    * deterministic tie-break both engines apply identically. */
  private[ops] def langGuessCol: Column = {
    val langs = LangMarkers.map(_._1)
    langs.zipWithIndex.foldRight(lit(langs.last): Column) { case ((lng, _), els) =>
      val geAll = langs.filterNot(_ == lng)
        .map(o => col(s"s_$lng") >= col(s"s_$o")).reduce(_ && _)
      when(geAll, lit(lng)).otherwise(els)
    }
  }

  def langId(docs: DataFrame): DataFrame =
    withLangScores(docs.select(col("doc_id"), col("lang"), col("text")))
      .withColumn("lang_guess", langGuessCol).drop("text")

  /** DuckDB SELECT-list fragment computing the `s_<lang>` columns. */
  private[ops] def langScoresSql: String =
    LangMarkers.map { case (lng, markers) =>
      s"CAST(len(list_filter(string_split(text, ' '), w -> ${inSet("w", markers)})) AS BIGINT) AS s_$lng"
    }.mkString(", ")

  /** DuckDB twin of [[langGuessCol]] over the `s_<lang>` columns. */
  private[ops] def langGuessCaseSql: String = {
    val langs = LangMarkers.map(_._1)
    val cases = langs.map { lng =>
      val cond = langs.filterNot(_ == lng).map(o => s"s_$lng >= s_$o").mkString(" AND ")
      s"WHEN $cond THEN '$lng'"
    }.mkString(" ")
    s"CASE $cases ELSE '${langs.last}' END"
  }

  /** SQL twin of langId (DuckDB). */
  def langIdSql: String = {
    val langs = LangMarkers.map(_._1)
    s"""SELECT doc_id, lang, ${langs.map(l => s"s_$l").mkString(", ")},
      $langGuessCaseSql AS lang_guess
      FROM (SELECT doc_id, lang, $langScoresSql FROM documents)"""
  }

  /** Label-noise audit over the q32 language ID: per (source, labeled
    * lang), how many documents the n-gram heuristic disagrees with and
    * the disagreement rate — the table a curation owner reads before
    * trusting the corpus's `lang` column for per-language mixing
    * (q96/q135 key on it). Pure rollup above q32's stateless scoring:
    * one (source, lang)-keyed exchange of doc-count rows. */
  def langMismatch(docs: DataFrame): DataFrame =
    withLangScores(docs.select(col("doc_id"), col("source"), col("lang"), col("text")))
      .withColumn("lang_guess", langGuessCol)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        expr("count_if(lang_guess <> lang)").as("n_mismatch"))
      .withColumn("mismatch_rate",
        col("n_mismatch").cast("double") / col("n_docs"))

  def langMismatchSql: String =
    s"""SELECT source, lang, count(*) AS n_docs,
        CAST(count_if(lang_guess <> lang) AS BIGINT) AS n_mismatch,
        CAST(count_if(lang_guess <> lang) AS DOUBLE) / count(*) AS mismatch_rate
      FROM (SELECT source, lang, $langGuessCaseSql AS lang_guess
            FROM (SELECT doc_id, source, lang, $langScoresSql FROM documents))
      GROUP BY source, lang"""

  /** BPE-ish tokenizer: count of `[a-z]+|[0-9]+|[^a-z0-9 ]` matches. */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def bpeTokenCount(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).cast("long").as("n_bpe"))

  /** Canonical fingerprint: md5 of whitespace-collapsed lowercased text. */
  def fingerprintMd5(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("fp"))

  /** Polynomial rolling-hash fingerprint over characters, mod 1e9+7 —
    * exact integer fold, identical in any engine. Runs the codegen'd
    * [[graft.functions.RollingHash]] (one O(n) pass per document). */
  def fingerprintRolling(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), rollingHash(col("text")).as("fp"))

  /** Composed-built-ins formulation — the semantic spec for RollingHash
    * (equality locked by GraftFunctionsSpec). O(n²) per document: each
    * lambda element's substr re-seeks the i-th char boundary. */
  def fingerprintRollingViaLambdas(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      expr("""aggregate(
          transform(sequence(1, length(text)), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
          0L, (a, x) -> (a * 31 + x) % 1000000007)""").as("fp"))

  /** Gopher/C4-style repetition signals: the fraction of word tokens and
    * of word bigrams that are repeats of an earlier occurrence in the same
    * document. High values flag boilerplate/templated text — the classic
    * pre-training quality cut alongside [[quality]]. Derived doubles come
    * from exact integer counts (identical operands ⇒ identical IEEE
    * results in any engine). Per-row only — `toks`/`bigrams` are bound
    * columns so nothing re-evaluates per lambda element; linear in
    * document length, no shuffle, embarrassingly parallel at 100 TB. */
  def repetitionSignals(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("bigrams", expr(
        """zip_with(slice(toks, 1, size(toks) - 1),
                    slice(toks, 2, size(toks) - 1),
                    (a, b) -> concat(a, ' ', b))"""))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        size(col("bigrams")).cast("long").as("n_bigrams"),
        size(array_distinct(col("bigrams"))).cast("long").as("n_distinct_bigrams"))
      .withColumn("dup_token_frac",
        (col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens"))
      .withColumn("dup_bigram_frac",
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise((col("n_bigrams") - col("n_distinct_bigrams")).cast("double") / col("n_bigrams")))

  val repetitionSignalsSql: String =
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      b AS (SELECT doc_id, toks,
              list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1]) AS bigrams
            FROM tk)
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        CAST(len(bigrams) AS BIGINT) AS n_bigrams,
        CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct_bigrams,
        CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dup_token_frac,
        CASE WHEN len(bigrams) = 0 THEN 0.0
             ELSE CAST(len(bigrams) - len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams) END AS dup_bigram_frac
      FROM b"""

  /** Corpus frequency table: top-k word bigrams per language (fully
    * tie-broken). Explode + one aggregation + windowed top-n — the
    * standard n-gram statistics shape at any scale. */
  def topBigrams(docs: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("n").desc, col("bigram").asc)
    docs
      .select(col("lang"), split(col("text"), " ").as("toks"))
      .select(col("lang"), explode(expr(
        """CASE WHEN size(toks) >= 2 THEN
             transform(sequence(1, size(toks) - 1),
               i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))
           ELSE CAST(array() AS ARRAY<STRING>) END""")).as("bigram"))
      .groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // --------------------------------------------------------------------
  // Hashed-feature linear classifier inference (the fastText/Vowpal
  // "hashing trick" shape): tokens hash into a FIXED number of feature
  // buckets, each bucket carries a learned weight, a document's score is
  // the sum of its tokens' bucket weights. Memory is O(buckets) however
  // large the vocabulary — the property that lets a quality/toxicity
  // classifier ride along a 100 TB scan with no vocab table, no join,
  // no shuffle. Weights here are derived from md5 (a stand-in for a
  // trained model shipped as a broadcast array); both engines derive the
  // IDENTICAL integers, so the oracle stays a strict hash compare.
  // --------------------------------------------------------------------

  /** Feature buckets for [[hashedClassifier]] (2^12 — collisions are the
    * point of the trick, not a bug). */
  val ClfBuckets = 4096
  /** Integer weights in [-20, 20] per bucket, md5-derived. */
  private def weightSparkExpr(tok: String): String =
    s"CAST(conv(substr(md5(concat('w:', CAST((CAST(conv(substr(md5($tok), 1, 4), 16, 10) AS BIGINT) % $ClfBuckets) AS STRING))), 1, 4), 16, 10) AS BIGINT) % 41 - 20"
  private[ops] def weightDuckExpr(tok: String): String =
    s"CAST(('0x' || substr(md5('w:' || CAST((CAST(('0x' || substr(md5($tok), 1, 4)) AS BIGINT) % $ClfBuckets) AS VARCHAR)), 1, 4)) AS BIGINT) % 41 - 20"

  /** The ONE fold every classifier consumer shares: per doc, the hashed
    * linear score (`score_int` — the md5-per-token chain, the suite's
    * single most expensive stateless projection) and the rule-gate
    * verdict (`rules`, q39's [[QualityPassCond]] over the four signal
    * folds). q152/q172/q179/q195 are all pure arithmetic over this
    * frame — so in a suite run it is computed ONCE per corpus version
    * via [[clfScoredPersisted]] and each consumer pays a 5-column
    * parquet scan instead of re-folding every token (the
    * [[Memo]]/persistedIvfIndexDir discipline; at 100x the fold was
    * ~30 s per consumer, ~100 s of pure recomputation). One stateless
    * codegen'd projection per row; no exchange anywhere. */
  private[graft] def clfScored(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +: col("source") +: signalCols :+
      expr(s"aggregate(split(text, ' '), 0L, (acc, t) -> acc + (${weightSparkExpr("t")}))").as("score_int"): _*)
      .withColumn("rules", expr(QualityPassCond))
      // q31's continuous score rides along (same signal columns, zero
      // extra fold) — the q209 rank-correlation consumer reads it
      .withColumn("q_micro", expr(
        """CAST(floor(((CAST(least(n_tokens, 100L) AS DOUBLE) / 100.0) * 0.5
           + (CAST(n_distinct AS DOUBLE) / n_tokens) * 0.3
           + (CAST(least(n_stop, 10L) AS DOUBLE) / 10.0) * 0.2) * 1000000.0) AS BIGINT)"""))
      .select("doc_id", "source", "n_tokens", "score_int", "rules", "q_micro")

  /** [[clfScored]] over `<dir>/documents.parquet`, built once per corpus
    * version and persisted ([[Memo.sharedFrame]]); every classifier
    * consumer below loads this. Oracles are unchanged — they recompute
    * from text, and the driver's hash compare gates identity. */
  private[graft] def clfScoredPersisted(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Memo.sharedFrame(spark, dir, "documents", "clf-scored")(
      clfScored(t(spark, dir, "documents")))

  /** Linear scorer over hashed token features (q152). Entirely ONE
    * stateless codegen'd projection per row — the token→bucket→weight
    * chain runs inside an array-aggregate lambda, so there is no explode,
    * no distinct-token frame, and NO exchange anywhere in the plan (the
    * whole operator pipelines inside the scan stage). `keep` is an
    * integer-arithmetic threshold on the mean weight (score*5 >= n_toks
    * ⇔ mean >= 0.2) — no float boundary. */
  def hashedClassifier(docs: DataFrame): DataFrame =
    hashedClassifierFrom(clfScored(docs))

  /** q152's report off the shared scored frame. */
  private[graft] def hashedClassifierFrom(scored: DataFrame): DataFrame =
    scored.select(col("doc_id"), col("source"),
      col("n_tokens").as("n_toks"), col("score_int"))
      .withColumn("mean_w", col("score_int").cast("double") / col("n_toks"))
      .withColumn("keep", col("score_int") * 5 >= col("n_toks"))

  val hashedClassifierSql: String =
    s"""WITH s AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)
      SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_toks,
        CAST(list_sum(list_transform(toks, t -> ${weightDuckExpr("t")})) AS BIGINT) AS score_int,
        CAST(list_sum(list_transform(toks, t -> ${weightDuckExpr("t")})) AS DOUBLE)
          / len(toks) AS mean_w,
        CAST(list_sum(list_transform(toks, t -> ${weightDuckExpr("t")})) AS BIGINT) * 5
          >= len(toks) AS keep
      FROM s"""

  /** Gopher-style quality-rule report (q165, Rae et al. 2021 §A1.1
    * adapted to the engine's token model): the five integer-exact rules —
    *
    *   1. word count in [GopherMinWords, GopherMaxWords]
    *   2. mean word length in [3, 10] (cross-multiplied:
    *      `3·n ≤ Σlen ≤ 10·n` — no float boundary)
    *   3. symbol-to-word ratio ≤ 0.1 for '#' and '…'/'...'
    *      (`10·n_sym ≤ n`)
    *   4. ≥ 80% of words contain ≥ 1 alphabetic character
    *      (`5·n_alpha ≥ 4·n`)
    *   5. ≥ 2 stopword hits (the published "stop word" rule, shared
    *      [[Stopwords]] set)
    *
    * reported as per-SOURCE pass counts per rule plus the conjunction —
    * the q103 funnel's shape over the published rule set (q103 ablates
    * the engine's own C4-style predicates; this audits the Gopher ones).
    * One stateless signal projection, one source-keyed partial-agg
    * rollup. */
  val GopherMinWords = 20L
  val GopherMaxWords = 100000L
  def gopherRules(docs: DataFrame): DataFrame = {
    val sig = docs.select(col("source"),
      expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n"),
      expr(sumLenExpr).as("sum_len"),
      expr("CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)" +
        " + CAST(regexp_count(text, '\\\\.\\\\.\\\\.') AS BIGINT)").as("n_sym"),
      expr("CAST(size(filter(split(text, ' '), w -> w rlike '[a-zA-Z]')) AS BIGINT)").as("n_alpha"),
      expr(stopCountExpr).as("n_stop"))
      .withColumn("r_count", col("n") >= GopherMinWords && col("n") <= GopherMaxWords)
      .withColumn("r_meanlen", lit(3) * col("n") <= col("sum_len") &&
        col("sum_len") <= lit(10) * col("n"))
      .withColumn("r_symbol", lit(10) * col("n_sym") <= col("n"))
      .withColumn("r_alpha", lit(5) * col("n_alpha") >= lit(4) * col("n"))
      .withColumn("r_stop", col("n_stop") >= 2L)
    def cnt(c: String) = sum(when(col(c), 1L).otherwise(0L)).as(s"pass_${c.drop(2)}")
    sig.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      cnt("r_count"), cnt("r_meanlen"), cnt("r_symbol"), cnt("r_alpha"), cnt("r_stop"),
      sum(when(col("r_count") && col("r_meanlen") && col("r_symbol") &&
        col("r_alpha") && col("r_stop"), 1L).otherwise(0L)).as("pass_all"))
  }

  def gopherRulesSql: String = {
    val sumLenDuck = "CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS BIGINT)"
    s"""WITH sig AS (SELECT source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
          $sumLenDuck AS sum_len,
          CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
            + CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_sym,
          CAST(len(list_filter(string_split(text, ' '),
            w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
          CAST(len(list_filter(string_split(text, ' '), w -> ${inSet("w", Stopwords)})) AS BIGINT) AS n_stop
        FROM documents),
      r AS (SELECT source,
          (n >= $GopherMinWords AND n <= $GopherMaxWords) AS r_count,
          (3 * n <= sum_len AND sum_len <= 10 * n) AS r_meanlen,
          (10 * n_sym <= n) AS r_symbol,
          (5 * n_alpha >= 4 * n) AS r_alpha,
          (n_stop >= 2) AS r_stop
        FROM sig)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN r_count THEN 1 ELSE 0 END) AS BIGINT) AS pass_count,
        CAST(SUM(CASE WHEN r_meanlen THEN 1 ELSE 0 END) AS BIGINT) AS pass_meanlen,
        CAST(SUM(CASE WHEN r_symbol THEN 1 ELSE 0 END) AS BIGINT) AS pass_symbol,
        CAST(SUM(CASE WHEN r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS pass_alpha,
        CAST(SUM(CASE WHEN r_stop THEN 1 ELSE 0 END) AS BIGINT) AS pass_stop,
        CAST(SUM(CASE WHEN r_count AND r_meanlen AND r_symbol AND r_alpha AND r_stop
          THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
      FROM r GROUP BY source"""
  }

  // --------------------------------------------------------------------
  // Readability (q207): integer-quantized Flesch reading ease per source.
  // Syllables ≈ maximal vowel groups [aeiouy]+ (the standard cheap
  // heuristic; spaces are not vowels, so counting groups over the WHOLE
  // text equals the per-word sum in one regexp pass). Sentences = count
  // of [.!?] floored at 1. The score is computed entirely in micro-unit
  // integer arithmetic — both inner divisions have positive operands
  // (truncation == floor, portable across engines; a signed div would
  // not be: Spark `div` truncates toward zero, DuckDB `//` floors) —
  // (both engines truncate integer division toward zero, so signedness
  // would be portable too — positivity just removes the question) — and
  // clamped to the conventional [0, 100] band.
  // --------------------------------------------------------------------

  /** Per-source readability report: doc count + mean/min/max clamped
    * micro-Flesch. One stateless projection (two regexp passes per doc)
    * + one source-keyed partial-agg rollup — scan-resident at any
    * scale, the q165 shape. */
  def readability(docs: DataFrame): DataFrame =
    docs.select(col("source"),
      expr("CAST(size(split(text, ' ')) AS BIGINT)").as("w"),
      expr("CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS BIGINT)").as("syl"),
      expr("greatest(1L, CAST(regexp_count(text, '[.!?]') AS BIGINT))").as("sen"))
      .withColumn("flesch_micro", expr(
        """greatest(0L, least(100000000L,
           206835000L - (1015000L * w) div sen - (84600000L * syl) div w))"""))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        expr("CAST(sum(flesch_micro) div count(1) AS BIGINT)").as("mean_flesch_micro"),
        min("flesch_micro").as("min_flesch_micro"),
        max("flesch_micro").as("max_flesch_micro"))

  val readabilitySql: String =
    """WITH sig AS (SELECT source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
          CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syl,
          GREATEST(1, CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT)) AS sen
        FROM documents),
      f AS (SELECT source,
          GREATEST(0, LEAST(100000000,
            206835000 - (1015000 * w) // sen - (84600000 * syl) // w)) AS flesch_micro
        FROM sig)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(SUM(flesch_micro) // COUNT(*) AS BIGINT) AS mean_flesch_micro,
        CAST(MIN(flesch_micro) AS BIGINT) AS min_flesch_micro,
        CAST(MAX(flesch_micro) AS BIGINT) AS max_flesch_micro
      FROM f GROUP BY source"""

  /** Classifier-vs-rules agreement audit (q172): the hashed classifier's
    * keep verdict (q152) cross-tabulated against the C4-style rule gate
    * (q39's predicate) per source — the calibration view before trusting
    * a learned filter to replace (or run ahead of) the rule stack:
    * `n_both` / `n_clf_only` / `n_rules_only` / `n_neither` plus the
    * exact agreement rate. A source where `n_clf_only` dominates is
    * where the classifier's threshold (or its training data) disagrees
    * with the rules — the rows a human reviews. One stateless projection
    * computing BOTH verdicts per row (shared signal columns), one
    * source-keyed partial-agg rollup. Off the shared scored frame: both
    * verdicts are arithmetic over (n_tokens, score_int, rules) — no token
    * fold here at all. */
  private[graft] def classifierAgreementFrom(scored: DataFrame): DataFrame = {
    val sig = scored.withColumn("clf", col("score_int") * 5 >= col("n_tokens"))
    sig.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("clf") && col("rules"), 1L).otherwise(0L)).as("n_both"),
      sum(when(col("clf") && !col("rules"), 1L).otherwise(0L)).as("n_clf_only"),
      sum(when(!col("clf") && col("rules"), 1L).otherwise(0L)).as("n_rules_only"),
      sum(when(!col("clf") && !col("rules"), 1L).otherwise(0L)).as("n_neither"))
      .withColumn("agree_rate",
        (col("n_both") + col("n_neither")).cast("double") / col("n_docs").cast("double"))
  }

  val classifierAgreementSql: String =
    s"""WITH sig AS (SELECT source, $scoreSignalsDuck, $sumLenDuck,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
          CAST(list_sum(list_transform(string_split(text, ' '),
            t -> ${weightDuckExpr("t")})) AS BIGINT) AS score_int
        FROM documents),
      v AS (SELECT source, (score_int * 5 >= n) AS clf, ($QualityPassCond) AS rules FROM sig)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN clf AND rules THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        CAST(SUM(CASE WHEN clf AND NOT rules THEN 1 ELSE 0 END) AS BIGINT) AS n_clf_only,
        CAST(SUM(CASE WHEN NOT clf AND rules THEN 1 ELSE 0 END) AS BIGINT) AS n_rules_only,
        CAST(SUM(CASE WHEN NOT clf AND NOT rules THEN 1 ELSE 0 END) AS BIGINT) AS n_neither,
        CAST(SUM(CASE WHEN clf = rules THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS agree_rate
      FROM v GROUP BY source"""

  /** Filter-agreement rank correlation (q209): exact tie-aware Spearman
    * ρ per source between the hashed classifier's quantized mean weight
    * (q152's score axis) and q31's continuous quality score. q195's AUC
    * asks whether the classifier ranks docs above/below the BINARY rule
    * gate; this asks how faithfully it reproduces the continuous
    * score's full ORDER — the number that says a cheap scan-resident
    * scorer can replace an expensive one for ranked selection (q87/q96)
    * rather than just thresholding.
    *
    * Tie-aware ranks via the count-of-counts closed form: per source,
    * each signal's DISTINCT levels get their average rank from one
    * cumulative window over level rows (never a per-document rank —
    * the q193/q195 discipline), kept integer as DOUBLE-ranks
    * (2·avgrank = 2·cumBefore + cnt + 1) and centered by the exact
    * mean (n+1), so every moment is an exact DECIMAL(38,0) sum (fits
    * below ~4·10¹² docs/source). ρ = Σcxcy / (√Σcx² · √Σcy²) — one
    * double division of exact operands at the very end (the cosine
    * discipline; both engines evaluate the identical tree).
    *
    * Scale shape: reads the persisted scored artifact (no token fold);
    * two (source × level) rollups, windows over level rows, two
    * level-keyed joins back (narrow rows), one doc-keyed pairing is
    * avoided entirely — both ranks attach to the SAME row. One moment
    * rollup per source ends the plan. */
  def filterRankCorrelation(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    filterRankCorrelationFrom(clfScoredPersisted(spark, dir))

  private[graft] def filterRankCorrelationFrom(scored: DataFrame): DataFrame = {
    val d = scored.select(col("doc_id"), col("source"),
      expr("(score_int * 1000000L) div n_tokens").as("x"), col("q_micro").as("y"))
      .localCheckpoint() // feeds two level rollups + the rank joins
    def drTable(c: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col(c))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      d.groupBy(col("source"), col(c)).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(w))
        .select(col("source"), col(c),
          (lit(2L) * (col("cum") - col("cnt")) + col("cnt") + 1L).as(s"dr_$c"))
    }
    val nsrc = d.groupBy("source").agg(count(lit(1)).as("nsrc"))
    d.join(drTable("x"), Seq("source", "x"))
      .join(drTable("y"), Seq("source", "y"))
      .join(broadcast(nsrc), "source")
      .withColumn("cx", (col("dr_x") - (col("nsrc") + 1)).cast("decimal(19,0)"))
      .withColumn("cy", (col("dr_y") - (col("nsrc") + 1)).cast("decimal(19,0)"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("cx") * col("cy")).as("sxy"),
        sum(col("cx") * col("cx")).as("sxx"),
        sum(col("cy") * col("cy")).as("syy"))
      .withColumn("rho", col("sxy").cast("double") /
        (sqrt(col("sxx").cast("double")) * sqrt(col("syy").cast("double"))))
      .select("source", "n_docs", "rho")
  }

  val filterRankCorrelationSql: String =
    s"""WITH sig AS (SELECT doc_id, source, $scoreSignalsDuck,
          CAST(list_sum(list_transform(string_split(text, ' '),
            t -> ${weightDuckExpr("t")})) AS BIGINT) AS score_int
        FROM documents),
      d AS (SELECT doc_id, source,
          (score_int * 1000000) // n_tokens AS x,
          CAST(floor(((CAST(LEAST(n_tokens, 100) AS DOUBLE) / 100.0) * 0.5
            + (CAST(n_distinct AS DOUBLE) / n_tokens) * 0.3
            + (CAST(LEAST(n_stop, 10) AS DOUBLE) / 10.0) * 0.2) * 1000000.0) AS BIGINT) AS y
        FROM sig),
      lx AS (SELECT source, x, count(*) AS cnt FROM d GROUP BY 1, 2),
      rx AS (SELECT source, x,
            2 * (CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY x) AS BIGINT) - cnt)
              + cnt + 1 AS dr_x FROM lx),
      ly AS (SELECT source, y, count(*) AS cnt FROM d GROUP BY 1, 2),
      ry AS (SELECT source, y,
            2 * (CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY y) AS BIGINT) - cnt)
              + cnt + 1 AS dr_y FROM ly),
      ns AS (SELECT source, CAST(count(*) AS BIGINT) AS nsrc FROM d GROUP BY 1),
      c AS (SELECT d.source,
            CAST(rx.dr_x - (ns.nsrc + 1) AS HUGEINT) AS cx,
            CAST(ry.dr_y - (ns.nsrc + 1) AS HUGEINT) AS cy
          FROM d JOIN rx ON d.source = rx.source AND d.x = rx.x
                 JOIN ry ON d.source = ry.source AND d.y = ry.y
                 JOIN ns ON d.source = ns.source)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(SUM(cx * cy) AS DOUBLE)
          / (sqrt(CAST(SUM(cx * cx) AS DOUBLE)) * sqrt(CAST(SUM(cy * cy) AS DOUBLE))) AS rho
      FROM c GROUP BY source"""

  /** Exact ROC AUC of the hashed classifier (q152) scored against the
    * rule gate (q39) as ground truth, per source — the one number that
    * says whether the learned score RANKS quality the way the rules
    * judge it, before any threshold is picked (q172 audits one
    * threshold; this audits the whole score). Tie-aware Mann–Whitney
    * over the GROUPED (score level, label) distribution: with levels
    * ascending, 2U = Σ_s pos_s·(2·negBelow_s + neg_s) (half credit for
    * ties), AUC = U/(P·N). The score level is the micro-quantized mean
    * weight `(score_int·10⁶) div n` — integer on both engines, so the
    * grouping key and the ranking are bit-identical; the final
    * quantization rides DECIMAL(38,0) because 2U·10⁶ can pass int64 at
    * corpus scale (the q193 guard).
    *
    * Scale shape: one stateless signal projection, ONE
    * (source × level)-keyed partial-agg exchange, then windows/rollups
    * over distinct-level rows only — never a per-document rank. Off the
    * shared scored frame. */
  private[graft] def classifierAucFrom(scored: DataFrame): DataFrame =
    aucFromScored(scored.select(col("source"),
      expr("(score_int * 1000000L) div n_tokens").as("lvl"),
      expr("CASE WHEN rules THEN 1L ELSE 0L END").as("pos")))

  /** The rank-sum core over an already-scored (source, lvl, pos ∈ {0,1})
    * frame — split out so PropertySpec can drive it against a
    * brute-force all-pairs AUC on random scores. */
  def aucFromScored(scored: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("lvl")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    scored.groupBy("source", "lvl")
      .agg(sum("pos").as("np"), sum(expr("1 - pos")).as("ng"))
      .withColumn("cumg", sum("ng").over(w))
      .groupBy("source").agg(
        sum("np").as("n_pos"), sum("ng").as("n_neg"),
        sum(expr("np * (2 * (cumg - ng) + ng)")).as("u2"))
      .withColumn("auc_micro", expr(
        """CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
           ELSE CAST((CAST(u2 AS DECIMAL(38,0)) * 1000000) div (2 * n_pos * n_neg) AS BIGINT) END"""))
      .select("source", "n_pos", "n_neg", "auc_micro")
  }

  val classifierAucSql: String =
    s"""WITH sig AS (SELECT source, $scoreSignalsDuck, $sumLenDuck,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
          CAST(list_sum(list_transform(string_split(text, ' '),
            t -> ${weightDuckExpr("t")})) AS BIGINT) AS score_int
        FROM documents),
      v AS (SELECT source, (score_int * 1000000) // n AS lvl,
          CASE WHEN $QualityPassCond THEN 1 ELSE 0 END AS pos
        FROM sig),
      g AS (SELECT source, lvl, CAST(SUM(pos) AS BIGINT) AS np,
          CAST(SUM(1 - pos) AS BIGINT) AS ng
        FROM v GROUP BY 1, 2),
      c AS (SELECT *, CAST(SUM(ng) OVER (PARTITION BY source ORDER BY lvl) AS BIGINT) AS cumg
        FROM g)
      SELECT source, CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(ng) AS BIGINT) AS n_neg,
        CASE WHEN SUM(np) = 0 OR SUM(ng) = 0 THEN NULL
          ELSE CAST((CAST(SUM(np * (2 * (cumg - ng) + ng)) AS HUGEINT) * 1000000)
            // (2 * SUM(np) * SUM(ng)) AS BIGINT) END AS auc_micro
      FROM c GROUP BY source"""

  /** Per-source language purity (q183): the heuristically-dominant
    * language of each source (deterministic count+argmax, the q76 mode
    * discipline — ties break by lang asc) and its share — the one-line
    * "is this source monolingual enough for per-language mixing"
    * answer above q140's per-label disagreement detail. One stateless
    * guess projection + one (source × langs)-bounded rollup + an argmax
    * window over rollup rows. */
  def langPurity(docs: DataFrame): DataFrame = {
    val guessed = withLangScores(docs.select(col("doc_id"), col("source"), col("text")))
      .withColumn("lang_guess", langGuessCol)
    val counts = guessed.groupBy("source", "lang_guess").agg(count(lit(1)).as("n"))
    val tot = counts.groupBy("source").agg(sum("n").as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n").desc, col("lang_guess").asc)
    counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(broadcast(tot), "source")
      .withColumn("purity", col("n").cast("double") / col("n_docs").cast("double"))
      .select(col("source"), col("lang_guess").as("dominant_lang"),
        col("n").as("n_dominant"), col("n_docs"), col("purity"))
  }

  val langPuritySql: String =
    s"""WITH g AS (SELECT source, $langScoresSql FROM documents),
      gg AS (SELECT source, $langGuessCaseSql AS lang_guess FROM g),
      c AS (SELECT source, lang_guess, count(*) AS n FROM gg GROUP BY 1, 2),
      t AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs FROM c GROUP BY 1),
      r AS (SELECT source, lang_guess, n,
            row_number() OVER (PARTITION BY source ORDER BY n DESC, lang_guess) AS rn
          FROM c)
      SELECT r.source, r.lang_guess AS dominant_lang, CAST(r.n AS BIGINT) AS n_dominant,
        t.n_docs, CAST(r.n AS DOUBLE) / CAST(t.n_docs AS DOUBLE) AS purity
      FROM r JOIN t USING (source) WHERE rn = 1"""

  /** Classifier calibration curve (q179): fixed integer buckets over the
    * classifier's quantized mean weight (`(score_int·1e6) div n` — the
    * weights live in [-20, 20] structurally, so
    * `((mean_q + 20e6)·10) div (40e6+1)` lands every doc in 0..9 with
    * pure integer arithmetic and NO global ntile window — a corpus-wide
    * rank sort is exactly the single-partition funnel a calibration
    * report must not pay), with the rule-gate pass rate per bucket. Read
    * next to q172: agreement says IF the filters disagree, this says
    * WHERE on the score axis — i.e., where the keep threshold should
    * sit. One stateless projection + one ≤10-key rollup. Off the shared
    * scored frame. */
  private[graft] def classifierCalibrationFrom(scored: DataFrame): DataFrame = {
    val sig = scored
      .withColumn("mean_q", expr("(score_int * 1000000L) div n_tokens"))
      .withColumn("bucket", expr("((mean_q + 20000000L) * 10L) div 40000001L"))
    sig.groupBy("bucket").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("rules"), 1L).otherwise(0L)).as("n_rules_pass"),
      min("mean_q").as("min_mean_q"), max("mean_q").as("max_mean_q"))
      .withColumn("pass_rate",
        col("n_rules_pass").cast("double") / col("n_docs").cast("double"))
  }

  val classifierCalibrationSql: String =
    s"""WITH sig AS (SELECT $scoreSignalsDuck, $sumLenDuck,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
          CAST(list_sum(list_transform(string_split(text, ' '),
            t -> ${weightDuckExpr("t")})) AS BIGINT) AS score_int
        FROM documents),
      b AS (SELECT ($QualityPassCond) AS rules,
          ((((score_int * 1000000) // n) + 20000000) * 10) // 40000001 AS bucket,
          (score_int * 1000000) // n AS mean_q
        FROM sig)
      SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN rules THEN 1 ELSE 0 END) AS BIGINT) AS n_rules_pass,
        CAST(min(mean_q) AS BIGINT) AS min_mean_q,
        CAST(max(mean_q) AS BIGINT) AS max_mean_q,
        CAST(SUM(CASE WHEN rules THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS pass_rate
      FROM b GROUP BY bucket"""

  // --------------------------------------------------------------------
  // Gopher REPETITION rules (q188, Rae et al. 2021 §A1.1 "repetition
  // removal", adapted to the engine's single-line token model: occurrence
  // fraction instead of character fraction). Three published thresholds:
  //
  //   1. top 2-gram share ≤ 0.20         (`5·top2 ≤ n2`)
  //   2. top 3-gram share ≤ 0.18 = 9/50  (`50·top3 ≤ 9·n3`)
  //   3. duplicated-5-gram positional fraction ≤ 0.15 = 3/20
  //      (`20·dup5 ≤ 3·n5`, dup5 = positions whose 5-gram occurs ≥ 2×)
  //
  // q71's distinct-ratio signals can't see these: a doc repeating ONE
  // phrase 50× and a doc with 50 distinct repeated phrases have the same
  // dup_bigram_frac, but only the first trips the top-share rule. The
  // whole computation is a scan-resident array pass: per doc, sort the
  // gram array once and read run lengths off adjacent-start indices
  // (starts = positions where g[i] ≠ g[i-1]; run lengths = diffs of
  // successive starts) — max run = top count, count of 1-runs = the
  // singleton count that turns n5 into dup5. ZERO per-doc exchange; the
  // only shuffle is the final (source)-bounded rollup. The oracle
  // recomputes every count independently via unnest + GROUP BY.

  /** HASHED k-gram array over `toks`, guarded for short docs (Spark's
    * `sequence(1, 0)` is DESCENDING — the q115 guard). The q99 xxhash64
    * discipline: run counts only need gram IDENTITY within a doc, so the
    * sort/run pass works on int64 keys, never on concat'd strings (the
    * string form was 1.5× slower at 100×); 64-bit collisions inside a
    * ≤10³-gram doc are negligible, and the oracle recomputes every count
    * from the STRING grams independently. */
  private[ops] def gramsExpr(k: Int): String = {
    val parts = (0 until k).map(j => s"element_at(toks, i + $j)").mkString(", ")
    s"CASE WHEN size(toks) >= $k THEN transform(sequence(1, size(toks) - ${k - 1}), " +
      s"i -> xxhash64($parts)) ELSE CAST(array() AS ARRAY<BIGINT>) END"
  }

  /** Per-gram-size run statistics as ONE expression: (n, top, singles)
    * off a single sorted pass. The sorted array / starts / run-length
    * intermediates are LET-BOUND via single-element `transform(array(e),
    * v -> …)` wrappers, so each is evaluated exactly once per row —
    * naming them as chained `withColumn`s lets CollapseProject inline the
    * O(L log L) sort into every downstream reference (the named-column
    * form measured 1.23× slower at 100×: 59.3 s vs 48.3 s). */
  private def runStatsExpr(k: Int): String = {
    val starts = "CASE WHEN size(g) = 0 THEN CAST(array() AS ARRAY<INT>) ELSE " +
      "filter(sequence(1, size(g)), i -> i = 1 OR NOT (element_at(g, i) <=> element_at(g, i - 1))) END"
    val runlens = "zip_with(s, concat(slice(s, 2, size(s)), array(size(g) + 1)), (a, b) -> CAST(b - a AS BIGINT))"
    s"""element_at(transform(array(array_sort(${gramsExpr(k)})), g ->
         element_at(transform(array($starts), s ->
           element_at(transform(array($runlens), rl -> named_struct(
             'n', CAST(size(g) AS BIGINT),
             'top', coalesce(array_max(rl), 0L),
             'singles', CAST(size(filter(rl, x -> x = 1L)) AS BIGINT))), 1)), 1)), 1)"""
  }

  def gopherRepetition(docs: DataFrame): DataFrame = {
    val sig = docs.select(col("source"), split(col("text"), " ").as("toks"))
      .select(col("source"),
        expr(runStatsExpr(2)).as("st2"),
        expr(runStatsExpr(3)).as("st3"),
        expr(runStatsExpr(5)).as("st5"))
      .select(col("source"),
        col("st2.n").as("n2"), col("st2.top").as("top2"),
        col("st3.n").as("n3"), col("st3.top").as("top3"),
        col("st5.n").as("n5"),
        (col("st5.n") - col("st5.singles")).as("dup5"))
      .withColumn("r_top2", col("top2") * 5 <= col("n2"))
      .withColumn("r_top3", col("top3") * 50 <= col("n3") * 9)
      .withColumn("r_dup5", col("dup5") * 20 <= col("n5") * 3)
    def cnt(c: String) = sum(when(col(c), 1L).otherwise(0L)).as(s"pass_${c.drop(2)}")
    sig.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      cnt("r_top2"), cnt("r_top3"), cnt("r_dup5"),
      sum(when(col("r_top2") && col("r_top3") && col("r_dup5"), 1L).otherwise(0L)).as("pass_rep"),
      sum("dup5").as("rep5_num"), sum("n5").as("rep5_den"))
  }

  val gopherRepetitionSql: String = {
    def grams(k: Int): String = {
      val parts = (0 until k).map(j => s"toks[i + $j]").mkString(" || ' ' || ")
      s"CASE WHEN len(toks) >= $k THEN list_transform(range(1, len(toks) - ${k - 2}), i -> $parts) ELSE [] END"
    }
    s"""WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      a2 AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS top2, CAST(sum(n) AS BIGINT) AS n2
             FROM (SELECT doc_id, g, count(*) AS n
                   FROM (SELECT doc_id, unnest(${grams(2)}) AS g FROM tk) gr
                   GROUP BY doc_id, g) c GROUP BY doc_id),
      a3 AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS top3, CAST(sum(n) AS BIGINT) AS n3
             FROM (SELECT doc_id, g, count(*) AS n
                   FROM (SELECT doc_id, unnest(${grams(3)}) AS g FROM tk) gr
                   GROUP BY doc_id, g) c GROUP BY doc_id),
      a5 AS (SELECT doc_id,
               CAST(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT) AS dup5,
               CAST(sum(n) AS BIGINT) AS n5
             FROM (SELECT doc_id, g, count(*) AS n
                   FROM (SELECT doc_id, unnest(${grams(5)}) AS g FROM tk) gr
                   GROUP BY doc_id, g) c GROUP BY doc_id),
      j AS (SELECT tk.source,
              coalesce(a2.top2, 0) AS top2, coalesce(a2.n2, 0) AS n2,
              coalesce(a3.top3, 0) AS top3, coalesce(a3.n3, 0) AS n3,
              coalesce(a5.dup5, 0) AS dup5, coalesce(a5.n5, 0) AS n5
            FROM tk LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
              LEFT JOIN a5 USING (doc_id)),
      r AS (SELECT source, n5, dup5,
              (top2 * 5 <= n2) AS r_top2,
              (top3 * 50 <= n3 * 9) AS r_top3,
              (dup5 * 20 <= n5 * 3) AS r_dup5
            FROM j)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN r_top2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_top2,
        CAST(SUM(CASE WHEN r_top3 THEN 1 ELSE 0 END) AS BIGINT) AS pass_top3,
        CAST(SUM(CASE WHEN r_dup5 THEN 1 ELSE 0 END) AS BIGINT) AS pass_dup5,
        CAST(SUM(CASE WHEN r_top2 AND r_top3 AND r_dup5 THEN 1 ELSE 0 END) AS BIGINT) AS pass_rep,
        CAST(SUM(dup5) AS BIGINT) AS rep5_num, CAST(SUM(n5) AS BIGINT) AS rep5_den
      FROM r GROUP BY source"""
  }

  /** Exact tie-aware token-length percentiles per source (q223): p50 /
    * p90 / p99 plus min/max and doc count — the data-card length profile
    * next to q30's moments (a mean hides the bimodal scrape-vs-article
    * shape that decides q137's trim threshold; percentiles show it).
    * The percentile is the classic count-of-counts form: the k-th
    * percentile is the SMALLEST distinct length level whose cumulative
    * doc count reaches ceil(k·N/100) — integer-exact, no interpolation,
    * portable (interpolated quantiles differ by convention across
    * engines; order statistics never do).
    *
    * Scale shape: docs collapse to (source, n_tokens) LEVEL rows
    * map-side; cumulative windows run per source over DISTINCT-level
    * rows (the q195/q209/q220 discipline — never a doc-cardinality
    * rank); the final rollup is source-bounded. */
  def lengthPercentiles(docs: DataFrame): DataFrame = {
    val levels = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("len"))
      .groupBy("source", "len").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy("len")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("source")
    levels.withColumn("cum", sum("cnt").over(w))
      .withColumn("n", sum("cnt").over(wAll))
      .groupBy("source").agg(
        max("n").as("n_docs"),
        min("len").as("min_len"),
        max("len").as("max_len"),
        min(when(expr("cum * 100 >= 50 * n"), col("len"))).as("p50"),
        min(when(expr("cum * 100 >= 90 * n"), col("len"))).as("p90"),
        min(when(expr("cum * 100 >= 99 * n"), col("len"))).as("p99"))
  }

  val lengthPercentilesSql: String =
    """WITH lv AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS len,
            CAST(count(*) AS BIGINT) AS cnt
          FROM documents GROUP BY 1, 2),
      cu AS (SELECT source, len, cnt,
            SUM(cnt) OVER (PARTITION BY source ORDER BY len) AS cum,
            SUM(cnt) OVER (PARTITION BY source) AS n
          FROM lv)
      SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
        CAST(MIN(len) AS BIGINT) AS min_len, CAST(MAX(len) AS BIGINT) AS max_len,
        CAST(MIN(CASE WHEN cum * 100 >= 50 * n THEN len END) AS BIGINT) AS p50,
        CAST(MIN(CASE WHEN cum * 100 >= 90 * n THEN len END) AS BIGINT) AS p90,
        CAST(MIN(CASE WHEN cum * 100 >= 99 * n THEN len END) AS BIGINT) AS p99
      FROM cu GROUP BY source"""

  val queries: Seq[QueryDef] = Seq(
    QueryDef("q36_top_bigrams",
      (s, d) => topBigrams(t(s, d, "documents"), 5),
      Some("""WITH grams AS (
          SELECT lang, unnest(list_transform(range(1, greatest(len(string_split(text, ' ')), 1)),
            i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS bigram
          FROM documents),
        counts AS (SELECT lang, bigram, count(*) AS n FROM grams GROUP BY 1, 2),
        r AS (SELECT lang, bigram, n,
            row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rank FROM counts)
        SELECT lang, bigram, n, rank FROM r WHERE rank <= 5""")),

    QueryDef("q223_length_percentiles",
      (s, d) => lengthPercentiles(t(s, d, "documents")),
      Some(lengthPercentilesSql)),

    QueryDef("q30_text_stats",
      (s, d) => stats(t(s, d, "documents")),
      Some("""SELECT doc_id, lang,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        CAST(length(text) AS BIGINT) AS len_chars,
        CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS BIGINT) AS sum_token_len,
        CAST(CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS BIGINT) AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS BIGINT) AS avg_token_len,
        CAST(CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS BIGINT) AS distinct_ratio
        FROM documents""")),

    QueryDef("q31_quality_score",
      (s, d) => quality(t(s, d, "documents")),
      Some(s"""WITH base AS (SELECT doc_id, lang, ${TextStats.scoreSignalsDuck}
        FROM documents)
        SELECT doc_id, lang, n_tokens, n_distinct, n_stop,
          ${TextStats.scoreExprDuck} AS score,
          CAST(floor((${TextStats.scoreExprDuck}) * 10) AS BIGINT) AS bucket
        FROM base""")),

    QueryDef("q32_langid",
      (s, d) => langId(t(s, d, "documents")),
      Some(langIdSql)),

    QueryDef("q140_lang_mismatch",
      (s, d) => langMismatch(t(s, d, "documents")),
      Some(langMismatchSql)),

    QueryDef("q33_token_bpe",
      (s, d) => bpeTokenCount(t(s, d, "documents")),
      Some(s"""SELECT doc_id, CAST(len(regexp_extract_all(text, '${BpePattern.replace("\\", "\\\\")}')) AS BIGINT) AS n_bpe
        FROM documents""")),

    QueryDef("q34_fingerprint_md5",
      (s, d) => fingerprintMd5(t(s, d, "documents")),
      Some("""SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        FROM documents""")),

    // q152/q172/q195/q179 all read the ONE persisted scored frame
    // (clfScoredPersisted): the md5-per-token fold runs once per corpus
    // version; oracles recompute from text — the hash compare gates it.
    QueryDef("q152_hashed_classifier",
      (s, d) => hashedClassifierFrom(clfScoredPersisted(s, d)),
      Some(hashedClassifierSql)),

    QueryDef("q207_readability",
      (s, d) => readability(t(s, d, "documents")),
      Some(readabilitySql)),

    QueryDef("q165_gopher_rules",
      (s, d) => gopherRules(t(s, d, "documents")),
      Some(gopherRulesSql)),

    QueryDef("q188_gopher_repetition",
      (s, d) => gopherRepetition(t(s, d, "documents")),
      Some(gopherRepetitionSql)),

    QueryDef("q172_classifier_agreement",
      (s, d) => classifierAgreementFrom(clfScoredPersisted(s, d)),
      Some(classifierAgreementSql)),

    QueryDef("q195_classifier_auc",
      (s, d) => classifierAucFrom(clfScoredPersisted(s, d)),
      Some(classifierAucSql)),

    QueryDef("q209_rank_correlation",
      (s, d) => filterRankCorrelation(s, d),
      Some(filterRankCorrelationSql)),

    QueryDef("q179_classifier_calibration",
      (s, d) => classifierCalibrationFrom(clfScoredPersisted(s, d)),
      Some(classifierCalibrationSql)),

    QueryDef("q183_lang_purity",
      (s, d) => langPurity(t(s, d, "documents")),
      Some(langPuritySql)),

    QueryDef("q71_repetition_signals",
      (s, d) => repetitionSignals(t(s, d, "documents")),
      Some(repetitionSignalsSql)),

    QueryDef("q35_fingerprint_rolling",
      (s, d) => fingerprintRolling(t(s, d, "documents")),
      Some("""SELECT doc_id,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
          (a, x) -> (a * 31 + x) % 1000000007) AS fp
        FROM documents"""))
  )
}
