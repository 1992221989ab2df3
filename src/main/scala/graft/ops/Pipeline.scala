package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{bloomFilterAgg, mightContain}
import graft.queries.{QueryDef, Tuning}
import graft.queries.QueryDef._

/** The end-to-end training-corpus preparation pipelines (★ SURVEY §2c —
  * the composition every operator above exists for).
  *
  * [[prepareTrainShard]] (q91) is the classic shard-manifest chain:
  *
  *   1. quality filter        ([[Sampling.qualityFilter]], q39 predicate)
  *   2. exact dedup           ([[Dedup.exact]] min-id representatives, q40)
  *   3. decontaminate TRAIN   (drop train docs sharing any
  *      [[Dedup.SpanWidth]]-token span with a test-split doc — the q90
  *      collision check pointed at the train side)
  *   4. shard manifest        (per-source doc/token counts — what a
  *      packing writer ([[Corpus.packSequences]]) consumes next)
  *
  * [[preparePretrainCorpus]] (q104) is the full modern chain: it prepends
  * C4-style line cleaning ([[Cleaning.cleanLines]], q92) and follows the
  * shared stages 1-3 with epoch-aware source mixing
  * ([[Sampling.sourceMixEpochs]], q102) and deterministic shuffle
  * assignment ([[Sampling.shuffleAssign]], q101) — the per-document
  * training list (epochs, shard, sort key) a shard writer materializes.
  *
  * Stage order is the load-bearing design: line cleaning and the quality
  * filter are stateless scans that shrink everything downstream; exact
  * dedup collapses duplicate texts BEFORE span fingerprinting (the
  * SCALE.md lesson-1 composition — q88 measured the alternative); the
  * span join then runs train-side-big × test-side-distinct-fps, the
  * bloom-filter-friendly shape; mixing sees post-dedup availability (an
  * epoch of a deduped source is an epoch of distinct text). Every stage
  * is the already-gated operator, so each pipeline's oracle is their SQL
  * composed verbatim.
  */
object Pipeline {

  /** Stages 1-3: quality filter → exact-dedup representatives →
    * span-collision decontamination. Returns the clean TRAIN documents
    * (full rows of the input frame, `split` dropped).
    *
    * The span stage is bloom-prefiltered (the q131 discipline composed
    * in, per the 100x campaign: the span join dominated q104's 178 s
    * and q148's 32.5 s): the DISTINCT test-side fps — benchmark-sized
    * at any corpus scale — fold into one serialized Bloom filter
    * carried into the train plan as a base64 LITERAL (the
    * contaminationGuard handoff shape; `might_contain` requires a
    * foldable/scalar bloom, which a cross-joined column is not), so the
    * token-volume train span stream filters MAP-SIDE to bloom survivors
    * before the exact verify join. No false negatives by construction
    * (both sides hash the fp with the same `xxhash64`), so the
    * contaminated-id set — and every q91/q104/q148 oracle — is
    * IDENTICAL to the naive full equi-join the DuckDB twins compute. */
  def cleanTrainDocs(docs: DataFrame, w: Int = Dedup.SpanWidth): DataFrame =
    cleanTrainStages(docs, w)._3

  /** The shared stages as named frames — (kept, deduped, clean) — so a
    * caller that ALSO reports on the intermediate stages (q148's funnel)
    * reads the same computation instead of re-running the quality filter
    * and exact dedup a second time (r14, guide §1.2 step 1 "don't compute
    * things you throw away" — the funnel paid the chain twice).
    *
    * `deduped` is checkpointed HERE because three subtrees of the clean
    * frame consume it (the eager bloom build over test fps, the
    * contaminated-id verify join, and the final train-side filter) — un-
    * materialized, the quality semi-join + exact-dedup hash-groupBy ran
    * once per consumer (3x per cleanTrainDocs call; measured in the r14
    * probe as the dominant repeated stage of q91/q104/q148). */
  private[graft] def cleanTrainStages(docs: DataFrame,
      w: Int = Dedup.SpanWidth): (DataFrame, DataFrame, DataFrame) = {
    // 1. quality cut, as a semi-join on the gated operator's survivors.
    // LAZY checkpoint: with one consumer (deduped, below) it adds only the
    // persist-while-passing cost; when the funnel also reads `kept` the
    // materialized rows are reused instead of re-running the quality scan.
    val kept = docs.join(
      Sampling.qualityFilter(docs).select("doc_id"), Seq("doc_id"), "left_semi")
      .localCheckpoint(eager = false)
    // 2. exact-dedup representatives (min doc_id per identical text)
    val deduped = kept.join(
      Dedup.exact(kept).select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val bySplit = deduped.withColumn("split", expr(Sampling.splitCase("doc_id")))
    // 3. span-collision decontamination of the train side: any train doc
    // sharing one w-token span with a test doc is dropped (anti-join on
    // the contaminated-id set; test fps collapse to DISTINCT first and
    // feed BOTH the bloom build and the exact verify join — checkpointed
    // so the test span sweep runs once)
    val spans = Dedup.spanFps(bySplit, w)
      .withColumn("split", expr(Sampling.splitCase("doc_id")))
    val testFps = spans.filter(col("split") === "test").select("fp").distinct()
      .localCheckpoint()
    val bloomB64 = java.util.Base64.getEncoder.encodeToString(
      testFps.agg(bloomFilterAgg(xxhash64(col("fp")), Dedup.BloomExpectedGrams,
        Dedup.BloomNumBits).as("bf")).head().getAs[Array[Byte]]("bf"))
    val contaminated = spans.filter(col("split") === "train")
      .filter(mightContain(unbase64(lit(bloomB64)), xxhash64(col("fp"))))
      .join(testFps, "fp").select("doc_id").distinct()
    val clean = bySplit.filter(col("split") === "train")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .drop("split")
    (kept, deduped, clean)
  }

  /** SQL twin of [[cleanTrainDocs]] as a CTE chain over `table` ending in
    * `clean` (the input columns, `split` excluded). */
  private def cleanTrainDocsSql(w: Int, table: String): String =
    s"""kept AS (SELECT d.* FROM $table d
          JOIN (SELECT doc_id FROM (${Sampling.qualityFilterSql(table)})) q USING (doc_id)),
      reps AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
      kd AS (SELECT k.*, ${Sampling.splitCaseDuck("k.doc_id")} AS split
             FROM kept k JOIN reps USING (doc_id)),
      tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM kd),
      spans AS (SELECT doc_id, md5(array_to_string(toks[i : i + ${w - 1}], ' ')) AS fp
        FROM (SELECT doc_id, toks,
                unnest(range(1, greatest(len(toks) - ${w - 1} + 1, 1))) AS i
              FROM tk)),
      sp AS (SELECT s.doc_id, s.fp, ${Sampling.splitCaseDuck("s.doc_id")} AS split FROM spans s),
      test_fps AS (SELECT DISTINCT fp FROM sp WHERE split = 'test'),
      contaminated AS (SELECT DISTINCT s.doc_id FROM sp s
        JOIN test_fps t ON s.fp = t.fp WHERE s.split = 'train'),
      clean AS (SELECT * EXCLUDE (split) FROM kd WHERE split = 'train'
        AND doc_id NOT IN (SELECT doc_id FROM contaminated))"""

  /** Per-source manifest (source, n_docs, n_tokens) of the cleaned train
    * shard. */
  def prepareTrainShard(docs: DataFrame, w: Int = Dedup.SpanWidth): DataFrame =
    cleanTrainDocs(docs, w)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))

  def prepareTrainShardSql(w: Int): String =
    s"""WITH ${cleanTrainDocsSql(w, "documents")}
      SELECT source, count(*) AS n_docs,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM clean GROUP BY source"""

  /** Per-source data-yield funnel over the TRAIN split: how many
    * documents and tokens survive each stage of the q91 chain —
    * raw → quality gate → exact-dedup representatives → span
    * decontamination. The q103 filter-funnel answers "which RULE costs
    * what"; this answers the budgeting question above it: "how many
    * trainable tokens does each source actually yield", which is what
    * [[Sampling.sourceMix]]/[[Sampling.unimaxAlloc]] budgets should be
    * fed with (raw token counts overstate a duplicate-heavy source).
    *
    * Stage frames are successive semi-join restrictions (each stage one
    * rollup of doc-count rows); `stage_ord` makes the funnel ordering
    * explicit so consumers need not know stage names. */
  def tokenYieldFunnel(docs: DataFrame, w: Int = Dedup.SpanWidth): DataFrame = {
    val trainOf = (df: DataFrame) =>
      df.withColumn("split", expr(Sampling.splitCase("doc_id")))
        .filter(col("split") === "train").drop("split")
    val rollup = (df: DataFrame, ord: Int, stage: String) =>
      df.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
        .withColumn("stage_ord", lit(ord.toLong)).withColumn("stage", lit(stage))
    // r14 (guide §1.2 step 1): stages 2-4 read the SAME chain the final
    // stage computes — before, `kept`/`reps` were rebuilt here and then
    // cleanTrainDocs re-ran the quality filter and exact dedup internally,
    // so the funnel paid the chain twice. cleanTrainStages materializes
    // kept (lazy) and deduped (eager) once; all four rollups share them.
    val (kept, reps, clean) = cleanTrainStages(docs, w)
    rollup(trainOf(docs), 1, "raw")
      .unionAll(rollup(trainOf(kept), 2, "quality"))
      .unionAll(rollup(trainOf(reps), 3, "dedup"))
      .unionAll(rollup(clean, 4, "decontaminated"))
  }

  def tokenYieldFunnelSql(w: Int = Dedup.SpanWidth): String = {
    def roll(rel: String, ord: Int, stage: String, cond: String) =
      s"""SELECT source, count(*) AS n_docs,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
          CAST($ord AS BIGINT) AS stage_ord, '$stage' AS stage
        FROM $rel WHERE $cond GROUP BY source"""
    s"""WITH ${cleanTrainDocsSql(w, "documents")}
      ${roll("documents", 1, "raw", s"${Sampling.splitCaseDuck("doc_id")} = 'train'")}
      UNION ALL ${roll("kept", 2, "quality", s"${Sampling.splitCaseDuck("doc_id")} = 'train'")}
      UNION ALL ${roll("kd", 3, "dedup", "split = 'train'")}
      UNION ALL ${roll("clean", 4, "decontaminated", "TRUE")}"""
  }

  /** The full modern chain: line cleaning → stages 1-3 → epoch mixing →
    * shuffle assignment. One row per kept TRAIN document: its epoch
    * count in the mixture, its hash shard, and its within-shard sort key
    * — what a [[Sampling.shuffleWrite]]-style writer materializes next.
    * Cleaning parameters flow to [[Cleaning.cleanLines]] (the query
    * passes the corpus stand-ins; real corpora use the defaults). */
  def preparePretrainCorpus(docs: DataFrame, factor: Long = 3L,
      weight: Column = lit(1L), w: Int = Dedup.SpanWidth,
      delim: String = "\n", minWords: Int = Cleaning.MinLineWords,
      lineBlockToken: String = "javascript",
      docBlockPhrase: String = "lorem ipsum"): DataFrame = {
    val cleaned = Cleaning.cleanLines(docs, delim, minWords, lineBlockToken, docBlockPhrase)
      .join(docs.select("doc_id", "source", "lang"), "doc_id")
      .select(col("doc_id"), col("source"), col("lang"), col("text_clean").as("text"))
    // the clean train frame feeds the mixer, the shuffle keys, AND the
    // final join — checkpoint it so the quality/dedup/span chain runs
    // once, not three times (the sourceDrift reuse pattern)
    val clean = cleanTrainDocs(cleaned, w).localCheckpoint()
    val mixed = Sampling.sourceMixEpochs(clean, factor, weight)
    Sampling.shuffleAssign(clean).select("doc_id", "shard", "sortkey")
      .join(mixed, "doc_id")
      .select("doc_id", "source", "n_tokens", "epochs", "shard", "sortkey")
  }

  def preparePretrainCorpusSql(factor: Long, w: Int): String =
    s"""WITH cleaned AS (SELECT doc_id, text_clean FROM (${Cleaning.cleanLinesSql})),
      cd AS (SELECT c.doc_id, d.source, d.lang, c.text_clean AS text
             FROM cleaned c JOIN documents d USING (doc_id)),
      ${cleanTrainDocsSql(w, "cd")},
      mix AS (${Sampling.sourceMixEpochsSql(factor, "clean")}),
      shuf AS (SELECT doc_id, shard, sortkey FROM (${Sampling.shuffleAssignSql("clean")}))
      SELECT m.doc_id, m.source, m.n_tokens, m.epochs, s.shard, s.sortkey
      FROM mix m JOIN shuf s USING (doc_id)"""

  /** Corpus-version diff card (q164): given two versions of a corpus,
    * report per source how many documents were added, removed, changed
    * (same doc_id, different text), and unchanged — the data-ops view a
    * release pipeline signs off on between crawl refreshes (a source
    * whose refresh CHANGES most texts in place is re-extracting, not
    * appending — a different risk than growth, and invisible in row
    * counts). Texts compare by md5 fingerprint; classification is one
    * full-outer doc_id join of (doc_id, source, fp) projections — never
    * text payloads — and one source-keyed rollup.
    *
    * The q164 query derives v2 from the corpus deterministically
    * (removed: doc_id % 97 = 0; changed: % 13 = 0, text → substr(text,
    * 2); added: fresh ids at +[[Dedup.EditInjOffset]] for % 41 = 0) —
    * the q93/q149 injection pattern; library callers pass two real
    * frames. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def fp(df: DataFrame, pfx: String) = df.select(
      col("doc_id"), col("source").as(s"${pfx}_source"),
      md5(col("text")).as(s"${pfx}_fp"))
    fp(oldDocs, "old").join(fp(newDocs, "new"), Seq("doc_id"), "full_outer")
      .withColumn("source", coalesce(col("new_source"), col("old_source")))
      .groupBy("source")
      .agg(
        sum(when(col("old_fp").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("new_fp").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("old_fp").isNotNull && col("new_fp").isNotNull &&
          col("old_fp") =!= col("new_fp"), 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("old_fp") === col("new_fp"), 1L).otherwise(0L)).as("n_unchanged"))
  }

  val corpusDiffSql: String =
    s"""WITH v2 AS (
        SELECT doc_id, source, CASE WHEN doc_id % 13 = 0 THEN substr(text, 2) ELSE text END AS text
        FROM documents WHERE doc_id % 97 <> 0
        UNION ALL
        SELECT doc_id + ${graft.ops.Dedup.EditInjOffset}, source, text
        FROM documents WHERE doc_id % 41 = 0),
      o AS (SELECT doc_id, source AS old_source, md5(text) AS old_fp FROM documents),
      n AS (SELECT doc_id, source AS new_source, md5(text) AS new_fp FROM v2),
      j AS (SELECT COALESCE(n.new_source, o.old_source) AS source, o.old_fp, n.new_fp
            FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
      SELECT source,
        CAST(SUM(CASE WHEN old_fp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        CAST(SUM(CASE WHEN new_fp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        CAST(SUM(CASE WHEN old_fp IS NOT NULL AND new_fp IS NOT NULL
          AND old_fp <> new_fp THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        CAST(SUM(CASE WHEN old_fp = new_fp THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
      FROM j GROUP BY source"""

  /** Cross-version quality drift (q184): per source, the exact
    * micro-unit mean quality (the q105 card discipline — floor(score·1e6)
    * BIGINT sums, one double division per side) of two corpus versions
    * and the delta — the companion to [[corpusDiff]]'s counts: a refresh
    * can keep every doc_id and still silently degrade (truncated
    * extractions score lower, not fewer). Inner join on source: the
    * drift question presumes the source exists in both versions
    * (appearing/vanishing sources are q164's added/removed counts). */
  def qualityDrift(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def roll(df: DataFrame, pfx: String) =
      graft.ops.TextStats.scored(df, Seq("source"))
        .withColumn("q_micro", expr("CAST(floor(score * 1000000.0) AS BIGINT)"))
        .groupBy("source").agg(count(lit(1)).as(s"${pfx}_docs"),
          sum("q_micro").as(s"${pfx}_q"))
    roll(oldDocs, "old").join(roll(newDocs, "new"), "source")
      .withColumn("old_avg", col("old_q").cast("double") /
        (col("old_docs") * lit(1000000L)).cast("double"))
      .withColumn("new_avg", col("new_q").cast("double") /
        (col("new_docs") * lit(1000000L)).cast("double"))
      .withColumn("drift", col("new_avg") - col("old_avg"))
      .select("source", "old_docs", "new_docs", "old_avg", "new_avg", "drift")
  }

  /** Cross-version LENGTH-DISTRIBUTION drift (q190): per source, the
    * total-variation distance between the two versions' token-length
    * histograms (q112's power-of-two buckets), in exact micro-units —
    * `tv2_micro = Σ_b |share_new − share_old|` with shares quantized as
    * `(n_b·1e6) div N` integers, so both engines sum identical integers
    * (2×TV; TV itself halves it). The SHAPE complement to q184's mean
    * drift: a refresh that holds the mean but bimodalizes lengths (truncated
    * extractions + concatenated pages) moves TV while q184 reads flat.
    * Also reports the worst bucket (deterministic argmax: |Δ| desc, bucket
    * asc) with its signed micro-share delta — WHERE the mass moved.
    * Shape: two (source × ≤64-bucket)-bounded map-side-combined rollups,
    * a full-outer join of rollup rows, one source rollup + an argmax
    * window over rollup rows. Version texts never co-shuffle. */
  def lengthDrift(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def hist(df: DataFrame, pfx: String) = {
      val b = df.select(col("source"),
        length(expr("bin(size(split(text, ' ')))")).cast("long").as("bucket"))
        .groupBy("source", "bucket").agg(count(lit(1)).as(s"${pfx}_n"))
      val tot = b.groupBy("source").agg(sum(s"${pfx}_n").as(s"${pfx}_docs"))
      b.join(broadcast(tot), "source")
        .withColumn(s"${pfx}_share", expr(s"(${pfx}_n * 1000000L) div ${pfx}_docs"))
    }
    val o = hist(oldDocs, "old")
    val n = hist(newDocs, "new")
    val j = o.join(n, Seq("source", "bucket"), "full_outer")
      .na.fill(0L, Seq("old_share", "new_share"))
      .withColumn("delta", col("new_share") - col("old_share"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(abs(col("delta")).desc, col("bucket").asc)
    j.withColumn("rn", row_number().over(w))
      .groupBy("source").agg(
        max("old_docs").as("old_docs"), max("new_docs").as("new_docs"),
        sum(abs(col("delta"))).as("tv2_micro"),
        max(when(col("rn") === 1, col("bucket"))).as("worst_bucket"),
        max(when(col("rn") === 1, col("delta"))).as("worst_delta_micro"))
  }

  val lengthDriftSql: String =
    s"""WITH v2 AS (
        SELECT doc_id, source, CASE WHEN doc_id % 13 = 0 THEN substr(text, 2) ELSE text END AS text
        FROM documents WHERE doc_id % 97 <> 0
        UNION ALL
        SELECT doc_id + ${graft.ops.Dedup.EditInjOffset}, source, text
        FROM documents WHERE doc_id % 41 = 0),
      ho AS (SELECT source, CAST(length(bin(len(string_split(text, ' ')))) AS BIGINT) AS bucket,
             count(*) AS old_n FROM documents GROUP BY 1, 2),
      hoT AS (SELECT source, CAST(sum(old_n) AS BIGINT) AS old_docs FROM ho GROUP BY 1),
      hn AS (SELECT source, CAST(length(bin(len(string_split(text, ' ')))) AS BIGINT) AS bucket,
             count(*) AS new_n FROM v2 GROUP BY 1, 2),
      hnT AS (SELECT source, CAST(sum(new_n) AS BIGINT) AS new_docs FROM hn GROUP BY 1),
      so AS (SELECT ho.source, ho.bucket, (old_n * 1000000) // old_docs AS old_share, old_docs
           FROM ho JOIN hoT USING (source)),
      sn AS (SELECT hn.source, hn.bucket, (new_n * 1000000) // new_docs AS new_share, new_docs
           FROM hn JOIN hnT USING (source)),
      j AS (SELECT coalesce(so.source, sn.source) AS source,
             coalesce(so.bucket, sn.bucket) AS bucket,
             coalesce(old_share, 0) AS old_share, coalesce(new_share, 0) AS new_share,
             old_docs, new_docs
           FROM so FULL OUTER JOIN sn ON so.source = sn.source AND so.bucket = sn.bucket),
      d AS (SELECT source, bucket, new_share - old_share AS delta, old_docs, new_docs,
             row_number() OVER (PARTITION BY source ORDER BY abs(new_share - old_share) DESC, bucket) AS rn
           FROM j)
      SELECT source, CAST(max(old_docs) AS BIGINT) AS old_docs,
        CAST(max(new_docs) AS BIGINT) AS new_docs,
        CAST(sum(abs(delta)) AS BIGINT) AS tv2_micro,
        CAST(max(CASE WHEN rn = 1 THEN bucket END) AS BIGINT) AS worst_bucket,
        CAST(max(CASE WHEN rn = 1 THEN delta END) AS BIGINT) AS worst_delta_micro
      FROM d GROUP BY source"""

  /** Crawl-refresh n-gram NOVELTY (q191): per source, how much of the
    * new version's distinct 5-gram set is unseen ANYWHERE in the old
    * corpus — the "did the refresh add content or just recrawl" line.
    * q164 diffs documents by fingerprint (a doc with one changed line
    * reads as 'changed'); this measures how much genuinely new TEXT
    * arrived, robust to re-chunking/re-segmentation because 5-grams
    * don't care where document boundaries fall. Grams ride as xxhash64
    * int64s (the q99/q188 identity-only discipline; the oracle
    * recomputes from strings); shape: two distinct-gram exchanges + one
    * left-anti join on the gram key + source-bounded rollups. The
    * quantized novelty ratio is exact-integer portable. */
  def ngramNovelty(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def grams(df: DataFrame) = df
      .select(col("source"), split(col("text"), " ").as("toks"))
      .select(col("source"), explode(expr(graft.ops.TextStats.gramsExpr(5))).as("gh"))
    val v1 = grams(oldDocs).select("gh").distinct()
    val v2 = grams(newDocs).distinct()
    val novel = v2.join(v1, Seq("gh"), "left_anti")
      .groupBy("source").agg(count(lit(1)).as("n_novel"))
    v2.groupBy("source").agg(count(lit(1)).as("n_grams"))
      .join(novel, Seq("source"), "left").na.fill(0L, Seq("n_novel"))
      .withColumn("novelty_q", expr("(n_novel * 1000000L) div n_grams"))
  }

  val ngramNoveltySql: String = {
    val gram5 = "CASE WHEN len(toks) >= 5 THEN list_transform(range(1, len(toks) - 3), " +
      "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]) ELSE [] END"
    s"""WITH v2d AS (
        SELECT doc_id, source, CASE WHEN doc_id % 13 = 0 THEN substr(text, 2) ELSE text END AS text
        FROM documents WHERE doc_id % 97 <> 0
        UNION ALL
        SELECT doc_id + ${graft.ops.Dedup.EditInjOffset}, source, text
        FROM documents WHERE doc_id % 41 = 0),
      g1 AS (SELECT DISTINCT g FROM (
          SELECT unnest($gram5) AS g
          FROM (SELECT string_split(text, ' ') AS toks FROM documents) t) u),
      g2 AS (SELECT DISTINCT source, g FROM (
          SELECT source, unnest($gram5) AS g
          FROM (SELECT source, string_split(text, ' ') AS toks FROM v2d) t) u),
      nv AS (SELECT source, count(*) AS n_novel
           FROM g2 ANTI JOIN g1 USING (g) GROUP BY source),
      tg AS (SELECT source, count(*) AS n_grams FROM g2 GROUP BY source)
      SELECT tg.source, CAST(tg.n_grams AS BIGINT) AS n_grams,
        CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
        (CAST(coalesce(nv.n_novel, 0) AS BIGINT) * 1000000) // tg.n_grams AS novelty_q
      FROM tg LEFT JOIN nv USING (source)"""
  }

  val qualityDriftSql: String =
    s"""WITH v2 AS (
        SELECT doc_id, source, CASE WHEN doc_id % 13 = 0 THEN substr(text, 2) ELSE text END AS text
        FROM documents WHERE doc_id % 97 <> 0
        UNION ALL
        SELECT doc_id + ${graft.ops.Dedup.EditInjOffset}, source, text
        FROM documents WHERE doc_id % 41 = 0),
      so AS (SELECT source, count(*) AS old_docs,
            CAST(SUM(CAST(floor((${graft.ops.TextStats.scoreExprDuck}) * 1000000.0) AS BIGINT)) AS BIGINT) AS old_q
          FROM (SELECT source, ${graft.ops.TextStats.scoreSignalsDuck} FROM documents)
          GROUP BY source),
      sn AS (SELECT source, count(*) AS new_docs,
            CAST(SUM(CAST(floor((${graft.ops.TextStats.scoreExprDuck}) * 1000000.0) AS BIGINT)) AS BIGINT) AS new_q
          FROM (SELECT source, ${graft.ops.TextStats.scoreSignalsDuck} FROM v2)
          GROUP BY source)
      SELECT source, CAST(old_docs AS BIGINT) AS old_docs, CAST(new_docs AS BIGINT) AS new_docs,
        CAST(old_q AS DOUBLE) / CAST(old_docs * 1000000 AS DOUBLE) AS old_avg,
        CAST(new_q AS DOUBLE) / CAST(new_docs * 1000000 AS DOUBLE) AS new_avg,
        CAST(new_q AS DOUBLE) / CAST(new_docs * 1000000 AS DOUBLE)
          - CAST(old_q AS DOUBLE) / CAST(old_docs * 1000000 AS DOUBLE) AS drift
      FROM so JOIN sn USING (source)"""

  /** JSONL ingest roundtrip ([[graft.sources.JsonlCorpus]]): land the
    * corpus as JSONL (the interchange format training corpora actually
    * arrive in), read it back with a PINNED schema + corrupt-line
    * quarantine, and prove fidelity against the parquet truth — per
    * source: doc count, char volume, and the md5 extremes of the text
    * payload (order-free exact integrity probes). `n_corrupt` rides
    * along as a broadcast scalar and must be 0: a self-writing
    * roundtrip has no torn lines (the quarantine path itself is
    * exercised with deliberately malformed fixtures in OpsSpec). */
  def jsonlRoundtrip(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // deterministic per-corpus scratch path, overwrite inside (the q129
    // discipline: bench iterations reuse ONE directory, no temp leak)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-jsonl-" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_")
    graft.sources.JsonlCorpus.write(docs, path)
    val (parsed, bad) = graft.sources.JsonlCorpus.quarantine(
      graft.sources.JsonlCorpus.read(spark, path, docs.schema))
    parsed.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(md5(col("text"))).as("min_md5"), max(md5(col("text"))).as("max_md5"))
      .crossJoin(broadcast(bad.agg(count(lit(1)).as("n_corrupt"))))
  }

  val jsonlRoundtripSql: String =
    """SELECT source, count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        min(md5(text)) AS min_md5, max(md5(text)) AS max_md5,
        CAST(0 AS BIGINT) AS n_corrupt
       FROM documents GROUP BY source"""

  /** Unified contamination report — every train document flagged by ANY
    * of the three decontamination lenses, side by side:
    *
    *   - `n_shared_grams`: exact 3-gram overlap with the test split
    *     (bloom-prefiltered, q131) — catches copied phrases;
    *   - `n_test_spans`: 13-token verbatim span collisions
    *     ([[Dedup.trainSpanContamination]]) — catches copied passages
    *     too long to be chance;
    *   - `n_test_sims`: embedding cosine hits (q136) — catches
    *     paraphrase the other two can't see.
    *
    * One row per train doc with ≥1 signal; `signals` counts how many
    * lenses fired (a 3-signal doc is a certain leak; a semantic-only
    * doc is a review candidate). The full-outer composition is two
    * doc-keyed joins of already-aggregated doc-count frames — the three
    * underlying sweeps dominate, and each keeps its own gated scale
    * shape. */
  def contaminationReport(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val g = Dedup.bloomDecontaminate(spark, dir)
      .select(col("doc_id"), col("n_shared").as("n_shared_grams"))
    val sp = Dedup.trainSpanContamination(t(spark, dir, "documents"))
    val se = Similarity.semanticDecontaminate(spark, dir, 0.4)
      .select(col("vec_id").as("doc_id"), col("n_test_sims"))
    g.join(sp, Seq("doc_id"), "full_outer")
      .join(se, Seq("doc_id"), "full_outer")
      .na.fill(0L, Seq("n_shared_grams", "n_test_spans", "n_test_sims"))
      .withColumn("signals", expr(
        """CAST((CASE WHEN n_shared_grams > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN n_test_spans > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN n_test_sims > 0 THEN 1 ELSE 0 END) AS BIGINT)"""))
  }

  val contaminationReportSql: String =
    s"""WITH g AS (SELECT doc_id, n_shared AS n_shared_grams
          FROM (${Dedup.bloomDecontaminateSql()})),
      sp AS (${Dedup.trainSpanContaminationSql(Dedup.SpanWidth)}),
      se AS (SELECT vec_id AS doc_id, n_test_sims
          FROM (${Similarity.semanticDecontaminateSql(0.4)})),
      u AS (SELECT COALESCE(g.doc_id, sp.doc_id, se.doc_id) AS doc_id,
          COALESCE(g.n_shared_grams, 0) AS n_shared_grams,
          COALESCE(sp.n_test_spans, 0) AS n_test_spans,
          COALESCE(se.n_test_sims, 0) AS n_test_sims
        FROM g
        FULL OUTER JOIN sp ON g.doc_id = sp.doc_id
        FULL OUTER JOIN se ON COALESCE(g.doc_id, sp.doc_id) = se.doc_id)
      SELECT doc_id, n_shared_grams, n_test_spans, n_test_sims,
        CAST((CASE WHEN n_shared_grams > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN n_test_spans > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN n_test_sims > 0 THEN 1 ELSE 0 END) AS BIGINT) AS signals
      FROM u"""

  /** Corpus release sign-off report (q212): the ONE table a data-release
    * review reads before shipping a corpus version — per source, the
    * dataset card's volume/quality numbers (q105), the MULTI-LENS-confirmed
    * contaminated-doc count (q139's signals ≥ 2 — one lens alone is
    * noise-prone on gram-dense corpora; two independent lenses agreeing
    * is the actionable set), exact-dup savings
    * (q175), and PII density (q210, same injected profile), capped by a
    * deterministic `release_ok` verdict over three integer-exact gates:
    * quality pass-rate ≥ 90%, confirmed-contaminated share ≤ 20%, PII ≤ 10000
    * hits/Mtok (thresholds sit at the corpus's natural spread so the
    * verdict genuinely splits sources; a deployment tunes them).
    * Pure composition: four source-keyed gated reports, three
    * broadcastable joins — the governance twin of q104's data chain.
    *
    * Scale: the sum of its parts (the q139 lenses dominate); every
    * joined table is source-cardinality. */
  def releaseReport(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val card = Corpus.datasetCard(spark, dir)
      .select("source", "n_docs", "n_tokens", "n_exact_dups", "n_pass", "avg_quality")
    val contam = contaminationReport(spark, dir).filter(col("signals") >= 2)
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n_contaminated"))
    val savings = Dedup.dedupSavings(docs)
      .select(col("source"), col("n_dropped").as("n_dup_dropped"), col("save_frac"))
    val pii = Cleaning.piiDensity(docs
        .select(col("doc_id"), col("source"), Cleaning.piiMixInjected.as("text")))
      .select("source", "pii_per_mtok", "pii_doc_share")
    card.join(broadcast(contam), Seq("source"), "left")
      .na.fill(0L, Seq("n_contaminated"))
      .join(broadcast(savings), "source")
      .join(broadcast(pii), "source")
      .withColumn("release_ok",
        col("n_pass") * 10 >= col("n_docs") * 9 &&
          col("n_contaminated") * 5 <= col("n_docs") &&
          col("pii_per_mtok") <= 10000L)
  }

  val releaseReportSql: String =
    s"""WITH card AS (
        SELECT source, n_docs, n_tokens, n_exact_dups, n_pass, avg_quality
        FROM (${Corpus.datasetCardSql})),
      crx AS (SELECT * FROM (${contaminationReportSql})),
      contam AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_contaminated
          FROM crx JOIN documents d ON crx.doc_id = d.doc_id
          WHERE crx.signals >= 2 GROUP BY d.source),
      sav AS (SELECT source, n_dropped AS n_dup_dropped, save_frac
          FROM (${Dedup.dedupSavingsSql})),
      pii AS (SELECT source, pii_per_mtok, pii_doc_share
          FROM (${Cleaning.piiDensitySql}))
      SELECT card.*, COALESCE(contam.n_contaminated, 0) AS n_contaminated,
        sav.n_dup_dropped, sav.save_frac, pii.pii_per_mtok, pii.pii_doc_share,
        (card.n_pass * 10 >= card.n_docs * 9
          AND COALESCE(contam.n_contaminated, 0) * 5 <= card.n_docs
          AND pii.pii_per_mtok <= 10000) AS release_ok
      FROM card
      LEFT JOIN contam USING (source)
      JOIN sav USING (source)
      JOIN pii USING (source)"""

  /** Ablation grid (q242): one row per nested corpus variant — raw →
    * exact-dedup → +rule gate → +classifier gate — with doc and token
    * budgets, so an ablation study (train on each variant, attribute
    * the quality delta to the stage that removed the data) can be
    * PLANNED from one table instead of four pipeline runs. Stages nest
    * deliberately: un-nested variants can't attribute a delta to one
    * gate (two things change between rows).
    *
    * Scale shape: flags come from ONE join of the persisted scored
    * artifact (rules + classifier verdicts, zero token folds here)
    * against the exact-dedup representative set (q40's one
    * hash-groupBy); all four variants are conditional sums in ONE
    * rollup; the 1-row result is checkpointed for its four SELECT
    * consumers (the q237 lesson). */
  def ablationGrid(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val sc = graft.ops.TextStats.clfScoredPersisted(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("rules"),
        (col("score_int") * 5 >= col("n_tokens")).as("clf"))
    val reps = graft.ops.Dedup.exact(t(spark, dir, "documents"))
      .select(col("keep_id").as("doc_id"), lit(true).as("is_rep"))
    val g = sc.join(reps, Seq("doc_id"), "left")
      .na.fill(value = false, Seq("is_rep"))
      .agg(
        count(lit(1)).as("n0"), sum("n_tokens").as("t0"),
        expr("CAST(count_if(is_rep) AS BIGINT)").as("n1"),
        sum(when(col("is_rep"), col("n_tokens")).otherwise(0L)).as("t1"),
        expr("CAST(count_if(is_rep AND rules) AS BIGINT)").as("n2"),
        sum(when(col("is_rep") && col("rules"), col("n_tokens")).otherwise(0L)).as("t2"),
        expr("CAST(count_if(is_rep AND rules AND clf) AS BIGINT)").as("n3"),
        sum(when(col("is_rep") && col("rules") && col("clf"), col("n_tokens")).otherwise(0L))
          .as("t3"))
      .localCheckpoint()
    def row(v: String, n: String, tk: String) =
      g.select(lit(v).as("variant"), col(n).as("n_docs"), col(tk).as("n_tokens"))
    row("0_raw", "n0", "t0")
      .unionAll(row("1_dedup", "n1", "t1"))
      .unionAll(row("2_dedup_rules", "n2", "t2"))
      .unionAll(row("3_dedup_rules_clf", "n3", "t3"))
  }

  /** q242's oracle recomputes signals, rules, classifier score, and the
    * representative set from the raw table. */
  def ablationGridSql: String = {
    val clfSum = s"CAST(list_sum(list_transform(string_split(text, ' '), " +
      s"t -> ${graft.ops.TextStats.weightDuckExpr("t")})) AS BIGINT)"
    s"""WITH sig AS (SELECT doc_id, text, ${graft.ops.TextStats.scoreSignalsDuck},
          ${graft.ops.TextStats.sumLenDuck} FROM documents),
      f AS (SELECT doc_id, n_tokens,
            (${graft.ops.TextStats.QualityPassCond}) AS rules,
            ($clfSum * 5 >= n_tokens) AS clf,
            doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text)) AS is_rep
          FROM sig),
      g AS (SELECT CAST(count(*) AS BIGINT) AS n0, CAST(SUM(n_tokens) AS BIGINT) AS t0,
            CAST(count(*) FILTER (WHERE is_rep) AS BIGINT) AS n1,
            CAST(COALESCE(SUM(n_tokens) FILTER (WHERE is_rep), 0) AS BIGINT) AS t1,
            CAST(count(*) FILTER (WHERE is_rep AND rules) AS BIGINT) AS n2,
            CAST(COALESCE(SUM(n_tokens) FILTER (WHERE is_rep AND rules), 0) AS BIGINT) AS t2,
            CAST(count(*) FILTER (WHERE is_rep AND rules AND clf) AS BIGINT) AS n3,
            CAST(COALESCE(SUM(n_tokens) FILTER (WHERE is_rep AND rules AND clf), 0) AS BIGINT) AS t3
          FROM f)
      SELECT '0_raw' AS variant, n0 AS n_docs, t0 AS n_tokens FROM g
      UNION ALL SELECT '1_dedup', n1, t1 FROM g
      UNION ALL SELECT '2_dedup_rules', n2, t2 FROM g
      UNION ALL SELECT '3_dedup_rules_clf', n3, t3 FROM g"""
  }

  /** Days newer than (max day - [[ViewDeltaDays]]) form q284's delta. */
  val ViewDeltaDays = 7L

  /** Incremental view maintenance (q284): the daily
    * (event_type, day) → (events, value cents, DISTINCT users) view
    * maintained the incremental-ETL way — additive stats merge directly,
    * but the exact distinct is maintained through its SUPPORT table
    * ((key, user) → contribution counts), the textbook IVM construction
    * for non-additive aggregates: the stored support absorbs the delta's
    * support by addition, and the view is a rollup of support rows (NOT
    * of view rows, which would double-count users spanning both sides).
    *
    * The query derives base/delta from the corpus itself (base =
    * days <= max-[[ViewDeltaDays]], delta = the rest), builds the stored
    * support (checkpointed — the "yesterday's artifact" stand-in, so the
    * plan provably cannot re-touch base events when the delta merges),
    * merges, and rolls up. The DuckDB oracle computes the straight
    * full rollup: the hash compare IS the proof that the maintenance
    * algebra loses nothing.
    *
    * Scale shape: support is (key-day, user)-keyed — the same exchange
    * a direct distinct pays ONCE; maintenance pays it only on the delta
    * thereafter. Merge is a union + re-rollup of support rows; nothing
    * driver-side. */
  def viewMaintenance(ev: DataFrame): DataFrame = {
    val keyed = ev.select(col("event_type"),
      expr("ts DIV 86400000000000").as("day"), col("user_id"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val cutoff = keyed.agg(max("day").as("mx"))
      .select(expr(s"mx - $ViewDeltaDays").as("cut"))
    val tagged = keyed.crossJoin(broadcast(cutoff))
    def support(df: DataFrame): DataFrame =
      df.groupBy("event_type", "day", "user_id")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
    val stored = support(tagged.filter(col("day") <= col("cut")))
      .localCheckpoint() // yesterday's persisted support artifact
    val merged = stored.unionByName(support(tagged.filter(col("day") > col("cut"))))
      .groupBy("event_type", "day", "user_id")
      .agg(sum("n").as("n"), sum("cents").as("cents"))
    merged.groupBy("event_type", "day").agg(
      sum("n").as("n_events"), sum("cents").as("value_cents"),
      count(lit(1)).as("n_users"))
  }

  val viewMaintenanceSql: String =
    """SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        CAST(count(*) AS BIGINT) AS n_events,
        CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY 1, 2"""

  val queries: Seq[QueryDef] = Seq(
    QueryDef("q284_view_maintenance",
      (s, d) => viewMaintenance(EventOps.events(s, d)),
      Some(viewMaintenanceSql)),
    QueryDef("q242_ablation_grid",
      (s, d) => ablationGrid(s, d),
      Some(ablationGridSql)),

    QueryDef("q212_release_report",
      (s, d) => releaseReport(s, d),
      Some(releaseReportSql), Tuning.cpuBound),

    QueryDef("q91_train_shard",
      (s, d) => prepareTrainShard(t(s, d, "documents")),
      Some(prepareTrainShardSql(Dedup.SpanWidth)), Tuning.hashJoins),

    QueryDef("q104_pretrain_corpus",
      (s, d) => preparePretrainCorpus(t(s, d, "documents"),
        weight = Sampling.srcNameWeight, delim = Cleaning.LineDelim,
        lineBlockToken = Cleaning.LineBlockToken,
        docBlockPhrase = Cleaning.DocBlockPhrase),
      Some(preparePretrainCorpusSql(3L, Dedup.SpanWidth)), Tuning.hashJoins),

    QueryDef("q134_jsonl_roundtrip",
      (s, d) => jsonlRoundtrip(s, d),
      Some(jsonlRoundtripSql)),

    QueryDef("q139_contamination_report",
      (s, d) => contaminationReport(s, d),
      Some(contaminationReportSql), Tuning.cpuBound),

    QueryDef("q148_token_yield_funnel",
      (s, d) => tokenYieldFunnel(t(s, d, "documents")),
      Some(tokenYieldFunnelSql()), Tuning.hashJoins),

    QueryDef("q184_quality_drift",
      (s, d) => {
        val docs = t(s, d, "documents").select("doc_id", "source", "text")
        val v2 = docs.filter(expr("doc_id % 97 <> 0"))
          .select(col("doc_id"), col("source"),
            when(expr("doc_id % 13 = 0"), expr("substr(text, 2)"))
              .otherwise(col("text")).as("text"))
          .unionByName(docs.filter(expr("doc_id % 41 = 0"))
            .select((col("doc_id") + lit(graft.ops.Dedup.EditInjOffset)).as("doc_id"),
              col("source"), col("text")))
        qualityDrift(docs, v2)
      },
      Some(qualityDriftSql)),

    QueryDef("q190_length_drift",
      (s, d) => {
        val docs = t(s, d, "documents").select("doc_id", "source", "text")
        val v2 = docs.filter(expr("doc_id % 97 <> 0"))
          .select(col("doc_id"), col("source"),
            when(expr("doc_id % 13 = 0"), expr("substr(text, 2)"))
              .otherwise(col("text")).as("text"))
          .unionByName(docs.filter(expr("doc_id % 41 = 0"))
            .select((col("doc_id") + lit(graft.ops.Dedup.EditInjOffset)).as("doc_id"),
              col("source"), col("text")))
        lengthDrift(docs, v2)
      },
      Some(lengthDriftSql)),

    QueryDef("q191_ngram_novelty",
      (s, d) => {
        val docs = t(s, d, "documents").select("doc_id", "source", "text")
        val v2 = docs.filter(expr("doc_id % 97 <> 0"))
          .select(col("doc_id"), col("source"),
            when(expr("doc_id % 13 = 0"), expr("substr(text, 2)"))
              .otherwise(col("text")).as("text"))
          .unionByName(docs.filter(expr("doc_id % 41 = 0"))
            .select((col("doc_id") + lit(graft.ops.Dedup.EditInjOffset)).as("doc_id"),
              col("source"), col("text")))
        ngramNovelty(docs, v2)
      },
      Some(ngramNoveltySql)),

    QueryDef("q164_corpus_diff",
      (s, d) => {
        val docs = t(s, d, "documents").select("doc_id", "source", "text")
        val v2 = docs.filter(expr("doc_id % 97 <> 0"))
          .select(col("doc_id"), col("source"),
            when(expr("doc_id % 13 = 0"), expr("substr(text, 2)"))
              .otherwise(col("text")).as("text"))
          .unionByName(docs.filter(expr("doc_id % 41 = 0"))
            .select((col("doc_id") + lit(graft.ops.Dedup.EditInjOffset)).as("doc_id"),
              col("source"), col("text")))
        corpusDiff(docs, v2)
      },
      Some(corpusDiffSql)))
}
