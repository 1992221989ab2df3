package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{bloomFilterAgg, hammingStr, mightContain, minhashBands,
  minhashSig, rollingHash, simHash32, sortedIntersectCount, winnowSelect, wordShingles}
import graft.queries.{QueryDef, Tuning}
import graft.queries.QueryDef._

/** Deduplication over `documents` (★ SURVEY §2c): exact, n-gram Jaccard,
  * MinHash+LSH, SimHash.
  *
  * Hash functions are engine-portable by construction (md5 hex strings;
  * minimum-over-hex-strings equals minimum-over-values for fixed-length
  * hex), so every operator here has a full DuckDB oracle.
  *
  * Scale story:
  *  - exact: one hash-groupBy; trivially distributed.
  *  - ngram-jaccard pairs: gram-explode + equi-join on gram — exact but
  *    join size grows with shared-gram frequency; at 100 TB cap document
  *    frequency (`maxDocFreq`) or use MinHash instead.
  *  - MinHash+LSH: signatures computed per-row inside codegen (NO
  *    explode-per-hash — an array fold per document), then only 8 band
  *    keys per doc are shuffled; candidate verification touches candidate
  *    pairs only. This is the 100 TB path.
  *  - SimHash: per-row fold, embarrassingly parallel.
  */
object Dedup {

  /** Distinct word 3-gram shingles from a bound `toks` array column
    * (empty when <3 tokens). NB: `toks` must be a materialized column,
    * never an inline `split(...)` — an expression inside the lambda body
    * is re-evaluated per element, so inlining the split costs
    * O(tokens² ) per document. */
  val shinglesExpr: String =
    """CASE WHEN size(toks) >= 3 THEN
         array_distinct(transform(sequence(1, size(toks) - 2),
           i -> concat(element_at(toks, i), ' ',
                       element_at(toks, i + 1), ' ',
                       element_at(toks, i + 2))))
       ELSE CAST(array() AS ARRAY<STRING>) END"""

  /** DuckDB twin of shinglesExpr (over string_split + range). */
  val shinglesSql: String =
    """list_distinct(list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
         i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))"""

  /** Exact dedup: hash-group on canonical text, keep min doc_id. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Shingle sets, spread across the cluster first: document corpora often
    * arrive as few large files, and shingling is CPU-bound per row — the
    * round-robin repartition costs one shuffle of raw text and buys full
    * parallelism for every downstream stage. */
  def shingled(docs: DataFrame): DataFrame = {
    QueryDef.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), wordShingles(col("toks"), 3).as("grams"))
  }

  /** Lambda-only formulation of shingled() — the semantic spec for
    * WordShingles (equality locked by GraftFunctionsSpec). */
  def shingledViaLambdas(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), expr(shinglesExpr).as("grams"))

  /** Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard >= 0.8)
    * via the AllPairs/PPJoin prefix filter: a pair with jaccard >= t MUST
    * share a gram within the first `n - ceil(t*n) + 1` grams of each
    * doc's canonically-sorted gram list — so candidates come from a join
    * over ~(1-t) of the grams, plus the length filter
    * `t <= min(na,nb)/max(na,nb)`, then an exact array_intersect
    * re-rank. No recall loss, ~5x less join volume than the naive
    * gram join; thresholds evaluated in INTEGER arithmetic
    * (5*inter >= 4*(union)) so the cut is exact in any engine.
    * Canonical order is lexicographic (portable); for skewed real-world
    * gram frequencies, ordering by ascending document frequency prunes
    * harder and drops in here unchanged. Threshold is fixed at 0.8 = 4/5
    * (the integer forms 8/10 and 4/5 below). */
  /** @param orderByDocFreq use ascending global document frequency as the
    *   canonical gram order instead of lexicographic. The OUTPUT is
    *   identical (the prefix theorem holds under ANY total order; the
    *   verify stage is exact either way) — what changes is pruning power:
    *   rare grams land in prefixes, so skewed real-world corpora generate
    *   far fewer candidates. Costs one extra aggregation + a broadcast
    *   join to rank grams. Lexicographic stays the default: it needs no
    *   extra pass and is what the DuckDB oracle mirrors structurally. */
  /** `base` (doc_id, grams) plus the canonical per-doc gram order in
    * `sorted`. Lexicographic is a plain per-row array sort; df-ordered
    * re-sorts each doc's gram list by ascending (df, gram). No global
    * rank is needed for the latter — any TOTAL order works for the
    * prefix theorem, and struct sort is lexicographic, so sorting
    * struct(df, gram) yields exactly the order a dense row_number over
    * (df, gram) would, without funneling the vocabulary through one task
    * (a partitionBy-less Window would single-thread the whole gram
    * vocabulary — the opposite of what this skew-focused path is for).
    * The df map is bounded by the distinct-gram vocabulary — broadcast
    * here; swap to a shuffle equi-join on `gram` when the vocabulary
    * outgrows the driver. */
  private[graft] def canonicalSorted(base: DataFrame, orderByDocFreq: Boolean): DataFrame =
    if (!orderByDocFreq) base.withColumn("sorted", sort_array(col("grams")))
    else {
      val df_ = base.select(explode(col("grams")).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("df"))
      val exploded = base.select(col("doc_id"), explode(col("grams")).as("gram"))
        .join(broadcast(df_), "gram")
      exploded.groupBy("doc_id")
        .agg(array_sort(collect_list(struct(col("df"), col("gram")))).as("rg"))
        .select(col("doc_id"), expr("transform(rg, p -> p.gram)").as("sorted"))
        .join(base, "doc_id")
    }

  /** Drop grams whose document frequency exceeds `cap` from every doc's
    * gram set — the 100 TB guard for the exact-Jaccard path: a gram
    * shared by d documents contributes O(d²) candidate pairs, so a few
    * boilerplate grams dominate the join. The cap redefines the operator
    * (Jaccard over the capped gram universe — an explicit approximation,
    * mirrored exactly in the oracle); pairs whose similarity lives only
    * in ubiquitous grams are the ones a dedup pipeline means to ignore.
    * The df map is vocabulary-bounded — broadcast, same trade as
    * canonicalSorted. */
  private[graft] def capGrams(base: DataFrame, cap: Long): DataFrame = {
    val rare = base.select(explode(col("grams")).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap)
      .select("gram")
    base.select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(broadcast(rare), "gram")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("gram"))).as("grams"))
  }

  /** Prefix-filter candidate pairs from `sh` (doc_id, sorted, n):
    * prefix length n - ceil(0.8 n) + 1 with ceil(0.8 n) = (8n+9) DIV 10,
    * joined on shared prefix gram under the integer length filter. */
  private[graft] def prefixCandidates(sh: DataFrame): DataFrame = {
    val prefix = sh
      .withColumn("gram", explode(expr("slice(sorted, 1, CAST(n - ((8 * n + 9) DIV 10) + 1 AS INT))")))
      .select(col("doc_id"), col("gram"), col("n"))
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * 5 >= col("b.n") * 4 && col("b.n") * 5 >= col("a.n") * 4)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  def ngramJaccardPairs(docs: DataFrame, threshold: Double,
      orderByDocFreq: Boolean = false, maxDocFreq: Option[Long] = None): DataFrame = {
    require(threshold == 0.8, "integer-exact prefix filter is derived for t=0.8")
    val base = maxDocFreq.foldLeft(shingled(docs))((b, cap) => capGrams(b, cap))
    val withSorted = canonicalSorted(base, orderByDocFreq)
    // materialize shingle+sort once: the table feeds four subtrees
    // (both prefix sides, both verify sides) — without the checkpoint
    // each recomputes it. `sorted` carries the PREFIX order (canonical);
    // `vsorted` is always lexicographic — the merge-based intersect
    // requires it regardless of the prefix order chosen.
    val sh = withSorted
      .withColumn("vsorted", sort_array(col("grams")))
      .withColumn("n", size(col("grams")).cast("long"))
      .localCheckpoint()
    prefixCandidates(sh)
      .join(sh.select(col("doc_id").as("id_a"), col("vsorted").as("ga"), col("n").as("na")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("vsorted").as("gb"), col("n").as("nb")), "id_b")
      .withColumn("inter", sortedIntersectCount(col("ga"), col("gb")))
      .filter(col("inter") * 5 >= (col("na") + col("nb") - col("inter")) * 4)
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
  }

  val NumHashes = 32
  val Bands = 8
  val Rows = 4 // NumHashes / Bands

  /** MinHash signature: sig[j] = min over shingles of md5(j|gram), as hex
    * strings (min-by-string == min-by-value at fixed length). Computed
    * per-row — one codegen'd fold, no explode. */
  val minhashSigExpr: String =
    s"""transform(sequence(0, ${NumHashes - 1}),
          j -> array_min(transform(grams, g -> md5(concat(cast(j AS STRING), '|', g)))))"""

  /** LSH band keys: md5 over each band's `Rows` signature slots (band
    * index baked into the key so a single equi-join column suffices). */
  val bandKeysExpr: String = {
    val bands = (0 until Bands).map { b =>
      val parts = (1 to Rows).map(r => s"element_at(sig, ${b * Rows + r})").mkString(", ")
      s"md5(concat('$b', ':', $parts))"
    }.mkString(", ")
    s"array($bands)"
  }

  /** MinHash+LSH near-dup pairs: band-bucket join for candidates, then
    * exact Jaccard re-rank (array_intersect on the shingle sets) — output
    * identical to `ngramJaccardPairs` whenever LSH recall holds. */
  def minhashLshPairs(docs: DataFrame, threshold: Double): DataFrame = {
    // checkpoint shingles (feeds bands + both verify sides) and bands
    // (both candidate join sides) so signatures are computed exactly once
    val sh = shingled(docs).withColumn("sorted", sort_array(col("grams"))).localCheckpoint()
    val bands = sh
      .select(col("doc_id"), explode(minhashBands(col("grams"), NumHashes, Rows)).as("bkey"))
      .localCheckpoint()
    val cands = bands.as("a")
      .join(bands.as("b"), col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cands
      .join(sh.select(col("doc_id").as("id_a"), col("sorted").as("ga"), size(col("grams")).cast("long").as("na")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sorted").as("gb"), size(col("grams")).cast("long").as("nb")), "id_b")
      .withColumn("inter", sortedIntersectCount(col("ga"), col("gb")))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Benchmark/eval decontamination: test-split documents whose near-dup
    * (n-gram Jaccard >= threshold) exists in the train split — the overlap
    * check every serious pre-training pipeline runs before holding out an
    * eval set. Split membership is the same md5 hash split as q38
    * ([[Sampling.splitCase]]), so the check composes with the split the
    * pipeline actually trains on.
    *
    * Scale shape: candidates come from the MinHash band equi-join exactly
    * like [[minhashLshPairs]], but JOINED ACROSS SPLITS — the test side is
    * ~10% of the corpus (and eval sets are tiny in practice), so AQE
    * broadcasts the test-side band keys against the full train side;
    * verification touches candidate pairs only. Output is grouped per test
    * doc (contamination count + strongest match), bounded by the test
    * split size.
    *
    * SCALE.md lesson 1 applies here too: candidate volume is
    * test-dups × train-dups per duplicate text (measured 10x on the
    * replicated corpus: 44 → 5,066 contaminated docs, 1.6 s → 15.7 s), so
    * a duplicate-heavy corpus should run [[exact]] first and decontaminate
    * the representatives, exactly like q52's representative pair mine —
    * that composition is `dedupFirst = true` (q88).
    *
    * @param dedupFirst collapse identical texts to their min-id
    *   representative (one hash-groupBy) before shingling. Candidate
    *   volume drops from test-dups × train-dups per duplicate text to one
    *   pair per distinct near-dup TEXT pair; exact cross-split duplicates
    *   are the exact-dedup stage's finding, not a near-dup row. Output is
    *   per test REPRESENTATIVE (splits re-hash on the representative's
    *   doc_id). */
  def decontaminate(docs: DataFrame, threshold: Double,
      dedupFirst: Boolean = false): DataFrame = {
    val base =
      if (!dedupFirst) docs
      // one shuffle on doc_id; reps is corpus-keyed, so no broadcast
      else docs.join(exact(docs).select(col("keep_id").as("doc_id")), "doc_id")
    val sh = shingled(base)
      .withColumn("split", expr(Sampling.splitCase("doc_id")))
      .withColumn("sorted", sort_array(col("grams")))
      .localCheckpoint()
    val bands = sh
      .select(col("doc_id"), col("split"),
        explode(minhashBands(col("grams"), NumHashes, Rows)).as("bkey"))
      .localCheckpoint()
    val cands = bands.filter(col("split") === "test").as("a")
      .join(bands.filter(col("split") === "train").as("b"), col("a.bkey") === col("b.bkey"))
      .select(col("a.doc_id").as("test_id"), col("b.doc_id").as("train_id"))
      .distinct()
    cands
      .join(sh.select(col("doc_id").as("test_id"), col("sorted").as("ga"),
        size(col("grams")).cast("long").as("na")), "test_id")
      .join(sh.select(col("doc_id").as("train_id"), col("sorted").as("gb"),
        size(col("grams")).cast("long").as("nb")), "train_id")
      .withColumn("inter", sortedIntersectCount(col("ga"), col("gb")))
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .groupBy("test_id")
      .agg(count(lit(1)).as("n_train_dups"), max(col("jaccard")).as("max_jaccard"))
  }

  def decontaminateSql(threshold: Double, source: String = "documents"): String = {
    val bandsSql = (0 until Bands).map { b =>
      val parts = (1 to Rows).map(r => s"sig[${b * Rows + r}]").mkString(" || ")
      s"md5('$b' || ':' || $parts)"
    }.mkString(", ")
    s"""WITH sh AS (SELECT doc_id, ${Sampling.splitCaseDuck("doc_id")} AS split,
            $shinglesSql AS grams FROM $source),
      sigs AS (SELECT doc_id, split, grams,
          list_transform(range(0, $NumHashes),
            j -> list_aggregate(list_transform(grams, g -> md5(CAST(j AS VARCHAR) || '|' || g)), 'min')) AS sig
        FROM sh),
      bands AS (SELECT doc_id, split, unnest([$bandsSql]) AS bkey FROM sigs),
      cand AS (SELECT DISTINCT a.doc_id AS test_id, b.doc_id AS train_id
        FROM bands a JOIN bands b ON a.bkey = b.bkey
        WHERE a.split = 'test' AND b.split = 'train'),
      v AS (SELECT c.test_id, c.train_id,
          CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE)
            / (len(sa.grams) + len(sb.grams) - len(list_intersect(sa.grams, sb.grams))) AS jaccard
        FROM cand c JOIN sh sa ON sa.doc_id = c.test_id JOIN sh sb ON sb.doc_id = c.train_id)
      SELECT test_id, count(*) AS n_train_dups, max(jaccard) AS max_jaccard
      FROM v WHERE jaccard >= $threshold GROUP BY test_id"""
  }

  /** Bloom sizing for [[bloomDecontaminate]]. Fixed here because
    * `bloom_filter_agg`'s sizing arguments must be literals; 8 M bits
    * (1 MB serialized) holds ~1 M expected grams under 3% false
    * positives. At 100 TB the TEST side stays benchmark-sized (test
    * suites are fixed corpora, not corpus-sized), so the filter stays
    * ~MBs however large the train corpus grows — size it from one
    * cheap `COUNT(DISTINCT gram)` pass over the test split when the
    * suite is not known in advance. */
  val BloomExpectedGrams = 1000000L
  val BloomNumBits = 8000000L

  /** (train gram stream, bloom-surviving slice of it, distinct test
    * grams) — split out of [[bloomDecontaminate]] so ScaleTechniquesSpec
    * can gate the pruning ratio its scaladoc claims. */
  private[graft] def bloomTrainSurvivors(spark: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    val sh = shingled(t(spark, dir, "documents"))
      .withColumn("split", expr(Sampling.splitCase("doc_id")))
      .localCheckpoint() // feeds the bloom build, the verify join AND the train stream
    val testGrams = sh.filter(col("split") === "test")
      .select(explode(col("grams")).as("gram")).distinct()
    val trainGrams = sh.filter(col("split") === "train")
      .select(col("doc_id"), explode(col("grams")).as("gram"))
    val bloom = testGrams
      .agg(bloomFilterAgg(xxhash64(col("gram")), BloomExpectedGrams, BloomNumBits))
      .scalar()
    val survivors = trainGrams.filter(mightContain(bloom, xxhash64(col("gram"))))
    (trainGrams, survivors, testGrams)
  }

  /** Exact-gram decontamination with a Bloom prefilter — the 100 TB
    * shape of the "does a train document share ANY shingle with the
    * test suite" question (q74 answers the fuzzier Jaccard form).
    *
    * Semantics (exact, fully oracled): a train document is reported,
    * with its shared-gram count, iff at least one of its word 3-gram
    * shingles also occurs in some test-split document.
    *
    * Scale shape: the naive plan equi-joins the full train gram stream
    * (token volume — at 100 TB, trillions of rows) against the test
    * gram table, shuffling BOTH sides on `gram`. Here the test grams
    * fold into one ~1 MB Bloom filter (`bloom_filter_agg`, one scalar
    * subquery job), which reaches every train partition as a literal —
    * the train stream is then filtered MAP-SIDE to bloom survivors
    * (true positives + the ~3% false-positive tail), and only that
    * sliver pays the exact verify join. No false negatives by
    * construction (both sides hash with the same `xxhash64`), so the
    * result is identical to the naive join — the DuckDB oracle computes
    * the naive form and must hash-match. ScaleTechniquesSpec gates the
    * pruning (survivor rows << train gram rows) so the prefilter can't
    * silently degrade to a pass-through. */
  /** The serialized test-gram Bloom filter on its own — the handoff
    * artifact for STREAMING admission
    * ([[graft.streaming.CorpusStream.contaminationGuard]]): built once
    * from the (static) test suite, then applied as a stateless per-row
    * probe over any stream. ~`numBits/8` bytes on the driver — the same
    * k·dim-bounded collect discipline as the centroid caches. */
  def testGramBloomBytes(spark: SparkSession, dir: String,
      expected: Long = BloomExpectedGrams, numBits: Long = BloomNumBits): Array[Byte] = {
    shingled(t(spark, dir, "documents"))
      .withColumn("split", expr(Sampling.splitCase("doc_id")))
      .filter(col("split") === "test")
      .select(explode(col("grams")).as("gram"))
      .agg(bloomFilterAgg(xxhash64(col("gram")), expected, numBits).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val (_, survivors, testGrams) = bloomTrainSurvivors(spark, dir)
    survivors
      .join(testGrams, "gram") // exact verify: survivors only
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"), min(col("gram")).as("first_gram"))
  }

  /** DuckDB twin of [[bloomDecontaminate]] — the NAIVE exact join (the
    * bloom is a pure prefilter, so the answers must be identical). */
  def bloomDecontaminateSql(source: String = "documents"): String =
    s"""WITH sh AS (SELECT doc_id, ${Sampling.splitCaseDuck("doc_id")} AS split,
            $shinglesSql AS grams FROM $source),
      tg AS (SELECT DISTINCT unnest(grams) AS gram FROM sh WHERE split = 'test'),
      tr AS (SELECT doc_id, unnest(grams) AS gram FROM sh WHERE split = 'train')
      SELECT doc_id, count(*) AS n_shared, min(gram) AS first_gram
      FROM tr JOIN tg USING (gram) GROUP BY doc_id"""

  // ----------------------------------------------------------------------
  // Exact-substring span analysis: the token-window twin of the whole-doc
  // paths above. Whole-doc MinHash (q42/q74) misses a copied PARAGRAPH
  // inside an otherwise-novel document; fingerprinting every w-token
  // window (the published pre-training recipe uses w≈13 — long enough
  // that natural language rarely collides, short enough to catch any
  // copied passage) catches exactly that. Everything is md5-exact and
  // positional, so both queries oracle fully.
  // ----------------------------------------------------------------------

  val SpanWidth = 13

  /** One row per token position: (doc_id, fp) where fp = md5 of the
    * space-joined `w`-token window starting there (docs shorter than `w`
    * emit nothing). Row count is token volume — the irreducible cost of
    * substring-level analysis; everything downstream is equi-shaped on
    * `fp`. `toks` is a materialized column so the per-position slice is
    * O(w), not a re-split of the text. */
  private[graft] def spanFps(docs: DataFrame, w: Int,
      keep: Seq[String] = Seq("doc_id")): DataFrame =
    QueryDef.spread(docs.select((keep.map(col) :+ col("text")): _*))
      .select((keep.map(col) :+ split(col("text"), " ").as("toks")): _*)
      .select((keep.map(col) :+ explode(expr(
        s"""CASE WHEN size(toks) >= $w THEN
              transform(sequence(1, size(toks) - ${w - 1}),
                i -> md5(concat_ws(' ', slice(toks, i, $w))))
            ELSE CAST(array() AS ARRAY<STRING>) END""")).as("fp")): _*)

  /** DuckDB twin of [[spanFps]] as a CTE pair over `source`. */
  private def spanFpsSql(w: Int, source: String): String =
    s"""tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $source),
      spans AS (SELECT doc_id, md5(array_to_string(toks[i : i + ${w - 1}], ' ')) AS fp
        FROM (SELECT doc_id, toks,
                unnest(range(1, greatest(len(toks) - ${w - 1} + 1, 1))) AS i
              FROM tk))"""

  /** Per-document duplicated-span stats: how much of each document is a
    * verbatim `w`-token run that also appears in ANOTHER document. The
    * exact-substring dedup signal — a pipeline drops or trims documents
    * past a `dup_frac` cut.
    *
    * Scale shape: one groupBy(fp) over the span stream for document
    * frequencies, one equi-join back, one groupBy(doc_id) — all keyed
    * shuffles of token-volume rows, no pair output at all (this is the
    * span-level answer to SCALE.md lesson 1: report PER-DOC fractions,
    * never materialize span pairs, which are quadratic in span df). */
  def dupSpans(docs: DataFrame, w: Int = SpanWidth): DataFrame = {
    // r14: the span stream feeds BOTH the df rollup and the join-back —
    // un-materialized, the token-volume md5-window pass ran twice (the
    // [[minhashLshPairs]] `sh` checkpoint precedent, guide §5 "reused AND
    // recomputing is more expensive").
    val spans = spanFps(docs, w).localCheckpoint()
    val dfs = spans.groupBy("fp").agg(countDistinct(col("doc_id")).as("df"))
    val per = spans.join(dfs, "fp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), expr("count_if(df >= 2)").as("n_dup_spans"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_frac", when(col("n_spans") === 0, lit(0.0))
        .otherwise(col("n_dup_spans").cast("double") / col("n_spans")))
  }

  def dupSpansSql(w: Int): String =
    s"""WITH ${spanFpsSql(w, "documents")},
      dfs AS (SELECT fp, count(DISTINCT doc_id) AS df FROM spans GROUP BY fp),
      per AS (SELECT s.doc_id, count(*) AS n_spans,
          CAST(count_if(d.df >= 2) AS BIGINT) AS n_dup_spans
        FROM spans s JOIN dfs d USING (fp) GROUP BY s.doc_id)
      SELECT d.doc_id, COALESCE(per.n_spans, 0) AS n_spans,
        COALESCE(per.n_dup_spans, 0) AS n_dup_spans,
        CASE WHEN COALESCE(per.n_spans, 0) = 0 THEN 0.0
             ELSE CAST(per.n_dup_spans AS DOUBLE) / per.n_spans END AS dup_frac
      FROM documents d LEFT JOIN per USING (doc_id)"""

  /** N-gram eval-set contamination: for each TEST-split document, the
    * count and fraction of its `w`-token spans that appear verbatim in
    * any TRAIN-split document — the published-recipe contamination check
    * (exact n-gram collision), stricter per-span and looser per-doc than
    * q74's whole-doc MinHash Jaccard: one copied sentence flags here at
    * a low fraction, while only wholesale near-duplication flags there.
    * Same md5 hash split as q38/q74, so all three compose.
    *
    * Scale shape: the train side collapses to DISTINCT fps before the
    * join (duplicate spans in train carry no extra information), then
    * one equi-join on fp against the (small) test side — the shape
    * Spark's runtime bloom filter accelerates for free when the test
    * side is selective. No pair output: per-test-doc counts only. */
  def spanContamination(docs: DataFrame, w: Int = SpanWidth): DataFrame = {
    val spans = spanFps(docs, w)
      .withColumn("split", expr(Sampling.splitCase("doc_id")))
    val trainFps = spans.filter(col("split") === "train")
      .select("fp").distinct().withColumn("hit", lit(1L))
    val per = spans.filter(col("split") === "test")
      .join(trainFps, Seq("fp"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), expr("count_if(hit IS NOT NULL)").as("n_train_spans"))
    docs.withColumn("split", expr(Sampling.splitCase("doc_id")))
      .filter(col("split") === "test").select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_train_spans"), lit(0L)).as("n_train_spans"))
      .withColumn("contaminated_frac", when(col("n_spans") === 0, lit(0.0))
        .otherwise(col("n_train_spans").cast("double") / col("n_spans")))
  }

  /** Train-side view of [[spanContamination]]: per TRAIN document, how
    * many of its `w`-token span positions collide with any TEST-split
    * span — the "which train docs must be dropped/trimmed" direction
    * (q90 reports the test side's exposure; a curation pass acts on
    * THIS side). Same shape discipline: fp-keyed equi-join of the span
    * stream against the distinct test fps, no pair output. */
  def trainSpanContamination(docs: DataFrame, w: Int = SpanWidth): DataFrame = {
    val spans = spanFps(docs, w)
      .withColumn("split", expr(Sampling.splitCase("doc_id")))
    val testFps = spans.filter(col("split") === "test").select("fp").distinct()
    spans.filter(col("split") === "train")
      .join(testFps, "fp")
      .groupBy("doc_id").agg(count(lit(1)).as("n_test_spans"))
  }

  def trainSpanContaminationSql(w: Int, source: String = "documents"): String =
    s"""WITH ${spanFpsSql(w, source)},
      sp AS (SELECT doc_id, fp, ${Sampling.splitCaseDuck("doc_id")} AS split FROM spans),
      test_fps AS (SELECT DISTINCT fp FROM sp WHERE split = 'test')
      SELECT s.doc_id, count(*) AS n_test_spans
      FROM sp s JOIN test_fps t ON s.fp = t.fp
      WHERE s.split = 'train' GROUP BY s.doc_id"""

  def spanContaminationSql(w: Int): String =
    s"""WITH ${spanFpsSql(w, "documents")},
      sp AS (SELECT doc_id, fp, ${Sampling.splitCaseDuck("doc_id")} AS split FROM spans),
      train_fps AS (SELECT DISTINCT fp FROM sp WHERE split = 'train'),
      per AS (SELECT s.doc_id, count(*) AS n_spans,
          CAST(count_if(t.fp IS NOT NULL) AS BIGINT) AS n_train_spans
        FROM sp s LEFT JOIN train_fps t ON s.fp = t.fp
        WHERE s.split = 'test' GROUP BY s.doc_id)
      SELECT d.doc_id, COALESCE(per.n_spans, 0) AS n_spans,
        COALESCE(per.n_train_spans, 0) AS n_train_spans,
        CASE WHEN COALESCE(per.n_spans, 0) = 0 THEN 0.0
             ELSE CAST(per.n_train_spans AS DOUBLE) / per.n_spans END AS contaminated_frac
      FROM documents d LEFT JOIN per USING (doc_id)
      WHERE ${Sampling.splitCaseDuck("d.doc_id")} = 'test'"""

  /** Cross-source verbatim overlap: for each unordered source pair, how
    * many DISTINCT `w`-token span fingerprints appear in both — the
    * "which feeds share boilerplate / mirrored pages" diagnostic a
    * mixing pipeline runs before trusting per-source dedup in isolation
    * (the corpus has no whole-doc exact dups across sources, but its
    * near-dups share long verbatim runs — span granularity sees them).
    * Jaccard = shared / (n_a + n_b − shared) over distinct-span sets;
    * one division per pair on exact long operands, so the doubles are
    * engine-portable.
    *
    * Scale shape: the token-volume span stream collapses to DISTINCT
    * (source, fp) FIRST (map-side partial dedup), so the fp-keyed
    * self-join carries one row per source containing the span, and each
    * fp emits at most (#sources choose 2) pairs — output is bounded by
    * source-pair cardinality, never corpus size. Per-source totals are
    * one more partial agg off the same distinct rows, broadcast back. */
  def sourceOverlap(docs: DataFrame, w: Int = SpanWidth): DataFrame = {
    val fps = spanFps(docs, w, Seq("source"))
      .select("source", "fp").distinct()
      .localCheckpoint() // feeds both join sides AND the per-source totals
    val ns = fps.groupBy("source").agg(count(lit(1)).as("n"))
    fps.select(col("source").as("source_a"), col("fp"))
      .join(fps.select(col("source").as("source_b"), col("fp")), "fp")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
      .join(broadcast(ns.select(col("source").as("source_a"), col("n").as("n_a"))), "source_a")
      .join(broadcast(ns.select(col("source").as("source_b"), col("n").as("n_b"))), "source_b")
      .withColumn("jaccard", col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
      .select("source_a", "source_b", "n_a", "n_b", "n_shared", "jaccard")
  }

  def sourceOverlapSql(w: Int): String =
    s"""WITH tk AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
      fps AS (SELECT DISTINCT source,
          md5(array_to_string(toks[i : i + ${w - 1}], ' ')) AS fp
        FROM (SELECT source, toks,
                unnest(range(1, greatest(len(toks) - ${w - 1} + 1, 1))) AS i
              FROM tk)),
      ns AS (SELECT source, count(*) AS n FROM fps GROUP BY 1),
      ov AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
             FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
             GROUP BY 1, 2)
      SELECT source_a, source_b, na.n AS n_a, nb.n AS n_b, n_shared,
        CAST(n_shared AS DOUBLE) / (na.n + nb.n - n_shared) AS jaccard
      FROM ov JOIN ns na ON ov.source_a = na.source
              JOIN ns nb ON ov.source_b = nb.source"""

  // --------------------------------------------------------------------
  // Content-defined chunking (CDC): sub-document dedup at boundaries the
  // CONTENT chooses. Fixed-width spans (q89/q90) shift under a one-token
  // insertion — every downstream w-gram changes. CDC cuts where a
  // rolling window fingerprint hits a mask (h % 2^b == 0, E[chunk] =
  // 2^b tokens), so an edit only perturbs its own chunk and its
  // immediate neighbor; shared remainder re-aligns — the property
  // storage dedup (LBFS/Venti lineage) and long-document near-dup
  // pipelines rely on. Everything is exact integer arithmetic: per-token
  // rolling_hash, then a degree-(w-1) polynomial over the window's token
  // hashes via a LITERAL 31^k mod p powers table — identical in DuckDB.
  // --------------------------------------------------------------------

  val CdcWindow = 8 // tokens per boundary window
  val CdcMaskBits = 6 // boundary when window-hash % 64 == 0 -> E[chunk] ~ 64 tokens

  /** 31^k mod 1e9+7 for k = 0..CdcWindow-1 (literal in both engines). */
  private val CdcPows: Seq[Long] = {
    val p = 1000000007L
    Iterator.iterate(1L)(x => x * 31 % p).take(CdcWindow).toSeq
  }

  /** Per-doc chunk list: (fp = md5(chunk text), len in tokens) between
    * consecutive bounds. Pure per-row lambda, no shuffle. */
  private val cdcChunkCol: String =
    """filter(
        transform(sequence(2, size(bounds)), j ->
          struct(md5(concat_ws(' ', slice(toks, element_at(bounds, j - 1) + 1,
              element_at(bounds, j) - element_at(bounds, j - 1)))) AS fp,
            CAST(element_at(bounds, j) - element_at(bounds, j - 1) AS BIGINT) AS len)),
        c -> c.len > 0)"""

  /** Per-source CDC chunk dedup report: chunk volume, distinct volume,
    * and the token fraction sitting in duplicate chunk copies — the
    * sub-document dedup signal at chunk (not fixed-span) granularity.
    *
    * Shape at scale: chunking is a codegen'd per-row lambda pipeline
    * above the scan; the only exchanges are the map-side-combined
    * (source, fp) rollup and the source-cardinality final — q89's
    * discipline with shift-robust boundaries. */
  /** The chunk stream: one row per chunk, (doc_id, source, fp, len). */
  def cdcChunks(docs: DataFrame): DataFrame = {
    val p = 1000000007L
    val mask = (1 << CdcMaskBits) - 1
    val pows = CdcPows.mkString("array(", "L, ", "L)")
    val wh = s"aggregate(sequence(0, ${CdcWindow - 1}), 0L, " +
      s"(a, k) -> a + element_at(th, i - k) * element_at($pows, k + 1) % $p) % $p"
    QueryDef.spread(docs.select(col("doc_id"), col("source"), col("text")))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("th", transform(col("toks"), rollingHash(_)))
      .withColumn("n", size(col("toks")))
      .withColumn("bounds", expr(
        s"""concat(array(0),
            CASE WHEN n >= $CdcWindow
              THEN filter(sequence($CdcWindow, n), i -> ($wh) % ${mask + 1} = 0)
              ELSE CAST(array() AS ARRAY<INT>) END,
            array(n))"""))
      .select(col("doc_id"), col("source"), explode(expr(cdcChunkCol)).as("c"))
      .select(col("doc_id"), col("source"), col("c.fp").as("fp"), col("c.len").as("len"))
  }

  def cdcChunkStats(docs: DataFrame): DataFrame =
    cdcChunks(docs).groupBy("source", "fp")
      .agg(count(lit(1)).as("cnt"), max("len").as("len"))
      .groupBy("source")
      .agg(sum("cnt").as("n_chunks"), count(lit(1)).as("n_distinct_chunks"),
        sum(col("cnt") * col("len")).as("n_tokens"),
        sum((col("cnt") - 1) * col("len")).as("n_dup_tokens"))
      .withColumn("dup_chunk_rate",
        (col("n_chunks") - col("n_distinct_chunks")).cast("double") / col("n_chunks"))
      .withColumn("dup_token_frac",
        col("n_dup_tokens").cast("double") / col("n_tokens"))

  /** The CDC chunk-stream CTE chain over any document-shaped relation,
    * ending in `ch(doc_id, source, c{fp, len})`. */
  private def cdcChunkCtesOver(docsRel: String): String = {
    val p = 1000000007L
    val mask = (1 << CdcMaskBits) - 1
    val pows = CdcPows.mkString("[", ", ", "]")
    // the q35 oracle's char fold (0-prepended list_reduce — also covers
    // the empty token, where the fold returns the 0 seed), per token
    val tokHash = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(range(1, len(t) + 1), " +
      "q -> CAST(ascii(substr(t, CAST(q AS INT), 1)) AS BIGINT))), " +
      s"(a, x) -> (a * 31 + x) % $p)"
    val wh = s"list_sum(list_transform(range(0, $CdcWindow), " +
      s"k -> th[i - k] * ($pows)[k + 1] % $p)) % $p"
    s"""d AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM $docsRel dd),
      t AS (SELECT doc_id, source, toks, len(toks) AS n,
              list_transform(toks, t -> $tokHash) AS th
            FROM d),
      b AS (SELECT doc_id, source, toks,
              list_concat(list_concat([0],
                CASE WHEN n >= $CdcWindow
                  THEN list_filter(range($CdcWindow, n + 1), i -> ($wh) % ${mask + 1} = 0)
                  ELSE [] END), [n]) AS bounds
            FROM t),
      ch AS (SELECT doc_id, source, unnest(list_filter(
               list_transform(range(2, len(bounds) + 1), j ->
                 struct_pack(fp := md5(array_to_string(
                     toks[bounds[j - 1] + 1 : bounds[j]], ' ')),
                   len := CAST(bounds[j] - bounds[j - 1] AS BIGINT))),
               c -> c.len > 0)) AS c
             FROM b)"""
  }

  def cdcChunkStatsSql: String =
    s"""WITH ${cdcChunkCtesOver("documents")},
      pf AS (SELECT source, c.fp AS fp, count(*) AS cnt, max(c.len) AS len
             FROM ch GROUP BY 1, 2)
      SELECT source, CAST(sum(cnt) AS BIGINT) AS n_chunks,
        CAST(count(*) AS BIGINT) AS n_distinct_chunks,
        CAST(sum(cnt * len) AS BIGINT) AS n_tokens,
        CAST(sum((cnt - 1) * len) AS BIGINT) AS n_dup_tokens,
        CAST(sum(cnt) - count(*) AS DOUBLE) / sum(cnt) AS dup_chunk_rate,
        CAST(sum((cnt - 1) * len) AS DOUBLE) / sum(cnt * len) AS dup_token_frac
      FROM pf GROUP BY source"""

  /** Winnowing parameters: `WinK`-token grams hashed, windows of
    * `WinW` consecutive gram hashes — the published guarantee is that
    * any verbatim match of at least `WinW + WinK - 1` tokens shares a
    * selected fingerprint (Schleimer, Wilkerson & Aiken 2003, the MOSS
    * algorithm). */
  val WinK = 4
  val WinW = 4
  /** (pos, h) pack base — strictly above the rolling-hash modulus. */
  val WinPack = 2000000000L

  /** Winnowing fingerprint dedup report — the third point on the
    * sub-document-dedup design space next to fixed-stride spans (q89:
    * every position indexed, w·corpus fingerprints) and
    * content-defined chunks (q128: boundaries from content, variable
    * guarantee). Winnowing keeps the q89-style GUARANTEE (no match of
    * ≥ 7 tokens escapes) at ~1/WinW the index size: per window of
    * `WinW` gram hashes only the minimum (ties: rightmost — the
    * original paper's rule, maximizing window-to-window reuse) is
    * selected. Per document: gram count, selected-fingerprint count,
    * and how many selected fingerprints also occur in ANOTHER document.
    *
    * Scale shape: selection is a per-row lambda (O(m·w) like q128);
    * the cross-doc stage is the q89 discipline verbatim — one fp-keyed
    * df rollup + join-back over SELECTED rows only (≈ token volume
    * / WinW), no pair output. */
  def winnowing(docs: DataFrame): DataFrame = {
    val sel = QueryDef.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("m", greatest(size(col("toks")) - lit(WinK - 1), lit(0)).cast("long"))
      .filter(col("m") > 0)
      // selection runs as ONE tight JVM loop per row (WinnowSelect);
      // the selected SET is distinct (pos, h) pairs packed into one
      // BIGINT (pos·2e9 + h — injective: h < 1e9+7) because DuckDB's
      // list_distinct can't hash STRUCTs, and parity beats elegance.
      // GraftFunctionsSpec locks this against the lambda-composed
      // formulation ([[winnowSelLambdaExpr]]): 15.65 s -> 1.5 s at sf0.1.
      .withColumn("sel", winnowSelect(col("toks"), WinK, WinW, WinPack))
      .select(col("doc_id"), col("m"), explode(col("sel")).as("v"))
      .select(col("doc_id"), col("m"), (col("v") % lit(WinPack)).as("h"))
      .localCheckpoint() // feeds the df rollup AND the join-back
    val nd = sel.groupBy("h").agg(countDistinct(col("doc_id")).as("nd"))
    sel.join(nd, "h")
      .groupBy("doc_id")
      .agg(max(col("m")).as("n_grams"), count(lit(1)).as("n_selected"),
        expr("count_if(nd >= 2)").as("n_dup_sel"))
      .withColumn("dup_sel_frac",
        col("n_dup_sel").cast("double") / col("n_selected"))
  }

  /** The composed-built-ins twin of `winnow_select` over a bound `toks`
    * column — kept ONLY as the semantic reference WinnowSpec locks the
    * custom expression against (it is 50x slower: per-window interpreted
    * aggregate over named_structs). */
  private[graft] val winnowSelLambdaExpr: String = {
    val m = s"greatest(size(toks) - ${WinK - 1}, 0)"
    s"""array_distinct(transform(
        transform(sequence(1L, greatest(CAST($m AS BIGINT) - ${WinW - 1}, 1L)), j ->
          aggregate(slice(transform(sequence(1L, CAST($m AS BIGINT)), i -> named_struct('pos', i,
              'h', rolling_hash(concat_ws(' ', slice(toks, CAST(i AS INT), $WinK))))),
            CAST(j AS INT), $WinW),
            named_struct('pos', 0L, 'h', ${Long.MaxValue}L),
            (acc, x) -> IF(x.h < acc.h OR (x.h = acc.h AND x.pos > acc.pos), x, acc))),
        s -> s.pos * ${WinPack}L + s.h))"""
  }

  def winnowingSql(source: String = "documents"): String = {
    val p = 1000000007L
    // bind the joined gram string once (single-element list_transform),
    // then the q35/q128 char fold over it
    val gramHash = (i: String) =>
      s"""list_transform([array_to_string(toks[$i : $i + ${WinK - 1}], ' ')],
          g -> list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, len(g) + 1),
              q -> CAST(ascii(substr(g, CAST(q AS INT), 1)) AS BIGINT))),
            (a, x) -> (a * 31 + x) % $p))[1]"""
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $source),
      t AS (SELECT doc_id, toks,
              CAST(len(toks) - ${WinK - 1} AS BIGINT) AS m
            FROM d WHERE len(toks) >= $WinK),
      g AS (SELECT doc_id, m, list_transform(range(1, m + 1),
              i -> struct_pack(pos := CAST(i AS BIGINT), h := ${gramHash("i")})) AS gh
            FROM t),
      s AS (SELECT doc_id, m, unnest(list_distinct(list_transform(
              list_transform(range(1, greatest(m - ${WinW - 1}, 1) + 1),
                j -> list_reduce(gh[j : j + ${WinW - 1}],
                  (acc, x) -> CASE WHEN x.h < acc.h
                      OR (x.h = acc.h AND x.pos > acc.pos)
                    THEN x ELSE acc END)),
              s -> s.pos * $WinPack + s.h))) AS v
            FROM g),
      sel AS (SELECT doc_id, m, v % $WinPack AS h FROM s),
      nd AS (SELECT h, count(DISTINCT doc_id) AS nd FROM sel GROUP BY h)
      SELECT doc_id, max(m) AS n_grams, count(*) AS n_selected,
        CAST(count_if(nd >= 2) AS BIGINT) AS n_dup_sel,
        CAST(count_if(nd >= 2) AS DOUBLE) / count(*) AS dup_sel_frac
      FROM sel JOIN nd USING (h) GROUP BY doc_id"""
  }

  /** Chunk-level CONTAINMENT pairs: representatives sharing ≥ `threshold`
    * of the smaller side's distinct chunks. Containment — not symmetric
    * Jaccard — is the partial-copy detector: a long document quoting a
    * short one wholesale scores near 1.0 here while its Jaccard is tiny,
    * and CDC boundaries keep the shared chunks aligned however the
    * surrounding text shifts. Built reps-first from the start (lesson 1:
    * exact copies collapse before any pair forms) with a df cap on
    * chunks (lesson from q49: boilerplate chunks shared by > cap docs
    * generate candidate volume without signal — drop them BEFORE the
    * self-join).
    *
    * Shape at scale: distinct (doc, fp) rows through a df-capped
    * fp-keyed self-join — candidate volume is Σ df² over kept chunks,
    * cap-bounded per chunk; rollups are pair- and doc-cardinality. */
  def cdcContainmentPairs(docs: DataFrame, threshold: Double = 0.5,
      maxDocFreq: Long = 50): DataFrame = {
    val reps = exact(docs).select(col("keep_id").as("doc_id"))
    val ch = cdcChunks(docs.join(reps, "doc_id"))
      .select("doc_id", "fp").distinct().localCheckpoint()
    val kept = ch.join(
      ch.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDocFreq).select("fp"), "fp")
      .localCheckpoint() // feeds sizes + both self-join sides
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n_chunks").as("na")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n_chunks").as("nb")), "id_b")
      .withColumn("containment",
        col("n_shared").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "n_shared", "containment")
  }

  def cdcContainmentPairsSql(threshold: Double = 0.5,
      maxDocFreq: Long = 50): String =
    s"""WITH ${cdcChunkCtesOver(
        """(SELECT d.* FROM documents d
            JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) r
            USING (doc_id))""")},
      chd AS (SELECT DISTINCT doc_id, c.fp AS fp FROM ch),
      dfq AS (SELECT fp FROM chd GROUP BY fp HAVING count(*) <= $maxDocFreq),
      kept AS (SELECT chd.* FROM chd JOIN dfq USING (fp)),
      sizes AS (SELECT doc_id, count(*) AS n_chunks FROM kept GROUP BY doc_id),
      shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
                 FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
      SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared,
        CAST(n_shared AS DOUBLE) / least(sa.n_chunks, sb.n_chunks) AS containment
      FROM shared JOIN sizes sa ON shared.id_a = sa.doc_id
                  JOIN sizes sb ON shared.id_b = sb.doc_id
      WHERE CAST(n_shared AS DOUBLE) / least(sa.n_chunks, sb.n_chunks) >= $threshold"""

  /** Per-source dedup storage savings (q175): the BYTES view of exact
    * dedup — every copy beyond a text's min-id representative costs its
    * `n_chars`, attributed to the copy's own source (syndicated content
    * bills the re-publisher, not the origin). The capacity-planning
    * line next to the q105 card's doc counts: how much storage/compute
    * the dedup pass actually reclaims, per source. One fp-keyed join
    * against the exact-group table + one source rollup. */
  def dedupSavings(docs: DataFrame): DataFrame = {
    val reps = exact(docs).select(col("fp"), col("keep_id"))
    docs.select(col("doc_id"), col("source"), col("n_chars"), md5(col("text")).as("fp"))
      .join(reps, "fp")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("doc_id") =!= col("keep_id"), col("n_chars")).otherwise(0L)).as("bytes_saved"),
        sum(col("n_chars")).as("bytes_total"))
      .withColumn("save_frac",
        col("bytes_saved").cast("double") / col("bytes_total").cast("double"))
  }

  val dedupSavingsSql: String =
    """WITH reps AS (SELECT md5(text) AS fp, min(doc_id) AS keep_id
          FROM documents GROUP BY md5(text)),
      j AS (SELECT d.doc_id, d.source, d.n_chars, r.keep_id
            FROM documents d JOIN reps r ON md5(d.text) = r.fp)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        CAST(SUM(CASE WHEN doc_id <> keep_id THEN n_chars ELSE 0 END) AS BIGINT) AS bytes_saved,
        CAST(SUM(n_chars) AS BIGINT) AS bytes_total,
        CAST(SUM(CASE WHEN doc_id <> keep_id THEN n_chars ELSE 0 END) AS DOUBLE)
          / CAST(SUM(n_chars) AS DOUBLE) AS save_frac
      FROM j GROUP BY source"""

  /** Near-dup cluster-size histogram (q159): how much of the corpus
    * lives in duplicate clusters of what size — the release-card view
    * of duplication STRUCTURE (the q105 card's dup counts say how many
    * docs are copies; this says whether they form a few mega-clusters —
    * one boilerplate page syndicated everywhere, the dedup jackpot — or
    * a long tail of pairs). `pct_docs` is exact-operand division.
    *
    * Scale shape: q53's cluster pass + two cluster-/size-keyed rollups
    * of doc-count rows and a broadcast scalar total. */
  def clusterSizeHistogram(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val sizes = nearDupClusters(docs, threshold)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    sizes.groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_total"))))
      .withColumn("pct_docs", col("n_docs").cast("double") / col("n_total").cast("double"))
      .select("cluster_size", "n_clusters", "n_docs", "pct_docs")
  }

  def clusterSizeHistogramSql(threshold: Double = 0.8): String =
    s"""WITH RECURSIVE $minhashPairsCtes,
      pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= $threshold),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL SELECT id_b, id_a FROM pairs),
      walk(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
      ),
      cl AS (SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
             FROM walk GROUP BY node),
      sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
             FROM cl GROUP BY cluster_id)
      SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
        CAST(cluster_size * count(*) AS DOUBLE)
          / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS pct_docs
      FROM sz GROUP BY cluster_size"""

  /** [[clusterSizeHistogram]] via the q126 group algebra (q162): cluster
    * membership is a property of the exact-dup GROUP (identical text =
    * identical gram set = identical verified partners, and a copy always
    * pairs with its own representative at jaccard 1), so the component
    * walk runs over the REPRESENTATIVE pair graph — group-cardinality
    * nodes, distinct-text-pair edges — and each full cluster's size is
    * the SUM of its member groups' sizes. `cluster_id` equals the naive
    * form's (a group's min doc_id IS its representative id, so the
    * component min is the same doc), and the histogram is identical for
    * every corpus whose texts shingle to ≥ 1 gram (the q126 sub-shingle
    * caveat carries verbatim: byte-identical un-shingleable texts are
    * one cluster here, singletons in the naive mine — this form's answer
    * is the defensible one). The driver gates this against q159's
    * UNCHANGED naive oracle. */
  def clusterSizeHistogramDeduped(docs: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    val groups = docs.groupBy(md5(col("text")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("tot"))
      .localCheckpoint() // feeds the rep restriction AND the size join
    val repDocs = docs.join(groups.select(col("keep_id").as("doc_id")), "doc_id")
    val repClusters = nearDupClusters(repDocs, threshold)
      .withColumnRenamed("doc_id", "keep_id")
    groups.join(repClusters, "keep_id")
      .groupBy("cluster_id").agg(sum("tot").as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_total"))))
      .withColumn("pct_docs", col("n_docs").cast("double") / col("n_total").cast("double"))
      .select("cluster_size", "n_clusters", "n_docs", "pct_docs")
  }

  /** Near-dup cluster source-mixing histogram (q224): how many clusters
    * span how many SOURCES — q159 says whether duplication forms
    * mega-clusters; this says whether those clusters cross provenance
    * boundaries (a 40-source cluster is syndicated boilerplate and a
    * licensing/attribution question; a single-source one is a re-crawl
    * and just a dedup question). The cluster-level view above q216's
    * pairwise source matrix.
    *
    * Scale shape: the q162 group algebra verbatim — the component walk
    * runs over the REPRESENTATIVE pair graph; sizes are sums of member
    * groups' counts; sources arrive as DISTINCT (fp, source) rows
    * (map-side collapse — the 100-copy groups contribute one row per
    * source) joined to the group→cluster map; the histogram is a
    * cluster-then-count rollup. Doc-level pairs never exist. */
  def clusterSourceMix(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    // 3-column checkpoint: the group rollup AND the (fp, source) distinct
    // both read it — ONE md5-of-text pass instead of two (the fp frame is
    // narrow; the text never materializes past this scan)
    val withFp = docs.select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
      .localCheckpoint()
    val groups = withFp.groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("tot"))
      .localCheckpoint() // feeds the rep restriction AND both joins
    val repDocs = docs.join(groups.select(col("keep_id").as("doc_id")), "doc_id")
    val gc = groups.join(
      nearDupClusters(repDocs, threshold).withColumnRenamed("doc_id", "keep_id"),
      "keep_id").localCheckpoint() // fp -> (cluster_id, tot)
    val nSrc = withFp.select("fp", "source").distinct()
      .join(gc.select("fp", "cluster_id"), "fp")
      .select("cluster_id", "source").distinct()
      .groupBy("cluster_id").agg(count(lit(1)).as("n_sources"))
    gc.groupBy("cluster_id").agg(sum("tot").as("cluster_size"))
      .join(nSrc, "cluster_id")
      .groupBy("n_sources").agg(
        count(lit(1)).as("n_clusters"),
        sum("cluster_size").as("n_docs"),
        max("cluster_size").as("max_cluster_size"))
  }

  /** q224's oracle: the q159 naive doc-level walk over the
    * mirror-injected corpus (q216's injection — guarantees multi-source
    * clusters), with per-cluster distinct sources. */
  val clusterSourceMixSql: String =
    s"""WITH RECURSIVE inj AS (SELECT doc_id, source, text FROM documents
          UNION ALL
          SELECT doc_id + $EditInjOffset, 'mirror' AS source, text
          FROM documents WHERE doc_id % 7 = 0),
      ${minhashPairsCtesOver("inj")},
      prs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.8),
      edges AS (SELECT id_a AS src, id_b AS dst FROM prs
                UNION ALL SELECT id_b, id_a FROM prs),
      walk(node, lbl) AS (
        SELECT doc_id, doc_id FROM inj
        UNION
        SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
      ),
      cl AS (SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
             FROM walk GROUP BY node),
      j AS (SELECT cl.cluster_id, inj.source FROM cl JOIN inj USING (doc_id)),
      per AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources
           FROM j GROUP BY 1)
      SELECT n_sources, CAST(count(*) AS BIGINT) AS n_clusters,
        CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
        CAST(MAX(cluster_size) AS BIGINT) AS max_cluster_size
      FROM per GROUP BY n_sources"""

  /** [[leakageSafeFolds]] via the same group algebra (q163): the
    * component walk runs over the representative graph, then every
    * document inherits its GROUP's cluster id (and hence fold) through
    * one fp equi-join — doc-level pairs never exist. Identical output to
    * the naive form on any ≥1-gram corpus (same caveat and gate
    * discipline as q162/q126); the driver gates it against q158's
    * UNCHANGED oracle. */
  def leakageSafeFoldsDeduped(docs: DataFrame, threshold: Double = 0.8,
      k: Int = 5): DataFrame = {
    val withFp = docs.select(col("doc_id"), md5(col("text")).as("fp"))
    val groups = withFp.groupBy("fp").agg(min("doc_id").as("keep_id"))
      .localCheckpoint()
    val repDocs = docs.join(groups.select(col("keep_id").as("doc_id")), "doc_id")
    val repClusters = nearDupClusters(repDocs, threshold)
      .withColumnRenamed("doc_id", "keep_id")
    withFp.join(groups.join(repClusters, "keep_id"), "fp")
      .select(col("doc_id"), col("cluster_id"))
      .withColumn("fold", expr(
        s"CAST(conv(substr(md5(CAST(cluster_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % $k"))
  }

  /** Leakage-safe k-fold assignment (q158): folds are hashed from the
    * near-dup CLUSTER id ([[nearDupClusters]]' min-label component), not
    * the document id — so a document and all its near-duplicates land in
    * the SAME fold by construction, and cross-validation / train-holdout
    * splits cannot leak a near-copy of a validation doc into train (the
    * failure mode a doc-id hash split (q38) has on any corpus with
    * duplication, which is every web corpus). The fold hash is the q38
    * md5-prefix discipline applied to the cluster id, so the assignment
    * is deterministic, engine-portable, and uniform across clusters;
    * singleton docs hash on their own id (they ARE their cluster).
    *
    * Scale shape: the cluster pass is q53's (band mine over candidates +
    * min-label propagation, diameter-bounded rounds); the fold stamp is
    * a stateless projection above it. */
  def leakageSafeFolds(docs: DataFrame, threshold: Double = 0.8,
      k: Int = 5): DataFrame =
    nearDupClusters(docs, threshold)
      .withColumn("fold", expr(
        s"CAST(conv(substr(md5(CAST(cluster_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % $k"))

  def leakageSafeFoldsSql(threshold: Double = 0.8, k: Int = 5): String =
    s"""WITH RECURSIVE $minhashPairsCtes,
      pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= $threshold),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL SELECT id_b, id_a FROM pairs),
      walk(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
      ),
      cl AS (SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
             FROM walk GROUP BY node)
      SELECT doc_id, cluster_id,
        CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4)) AS BIGINT) % $k AS fold
      FROM cl"""

  /** Edit-distance verified near-dup pairs (q157): CHARACTER-level
    * similarity — `1 − levenshtein/max(len)` — which catches the dups
    * token-set metrics structurally miss (a deleted space or a typo
    * merges/splits tokens, cratering word-shingle Jaccard while the
    * texts stay one edit apart). Blocking must therefore be
    * edit-robust too: candidates are representative pairs sharing ≥ 1
    * content-defined chunk ([[cdcChunks]] — a k-char edit perturbs only
    * the chunk containing it, every other chunk fp survives verbatim),
    * NOT MinHash bands (which inherit the token-set fragility this
    * operator exists to escape).
    *
    * Scale shape: exact reps first (lesson 1), the chunk fp self-join
    * is df-capped (Σ df² bounded per chunk, the q130 discipline), and
    * the O(len²) Levenshtein DP runs on candidate pairs only — never
    * n². The verify cut is integer arithmetic (`dist·100 ≤ max_len·pct`
    * — no float boundary); `sim` is one double division of exact
    * integers, portable. Both engines' `levenshtein` is the classic
    * unit-cost DP over characters. */
  def editNearDupPairs(docs: DataFrame, maxDistPct: Int = 20,
      maxDocFreq: Long = 50): DataFrame = {
    val reps = exact(docs).select(col("keep_id").as("doc_id"))
    val repDocs = docs.join(reps, "doc_id").localCheckpoint() // chunks + both text sides
    val ch = cdcChunks(repDocs).select("doc_id", "fp").distinct()
    val kept = ch.join(
      ch.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDocFreq).select("fp"), "fp")
      .localCheckpoint() // both candidate self-join sides
    val cands = kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val txt = repDocs.select(col("doc_id"), col("text"))
    cands
      .join(txt.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
      .join(txt.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
      .withColumn("dist", levenshtein(col("ta"), col("tb")).cast("long"))
      .withColumn("max_len", greatest(length(col("ta")), length(col("tb"))).cast("long"))
      .filter(col("dist") * 100 <= col("max_len") * maxDistPct)
      .withColumn("sim",
        lit(1.0) - col("dist").cast("double") / col("max_len").cast("double"))
      .select("id_a", "id_b", "dist", "max_len", "sim")
  }

  /** DuckDB twin over an injected-variant relation: the word-salad
    * corpus has no organic character-level near-dups, so the q157 query
    * plants a deterministic 1-edit variant (first char dropped) of
    * every 50th document — the q93/q149 injection pattern; library
    * callers on real corpora pass their frames straight to
    * [[editNearDupPairs]]. */
  def editNearDupPairsSql(maxDistPct: Int = 20, maxDocFreq: Long = 50): String =
    s"""WITH inj AS (SELECT doc_id, source, text FROM documents
           UNION ALL
           SELECT doc_id + ${EditInjOffset}, source, substr(text, 2)
           FROM documents WHERE doc_id % 50 = 1),
      repsq AS (SELECT i.* FROM inj i
           JOIN (SELECT min(doc_id) AS doc_id FROM inj GROUP BY md5(text)) r
           USING (doc_id)),
      ${cdcChunkCtesOver("repsq")},
      chd AS (SELECT DISTINCT doc_id, c.fp AS fp FROM ch),
      dfq AS (SELECT fp FROM chd GROUP BY fp HAVING count(*) <= $maxDocFreq),
      kept AS (SELECT chd.* FROM chd JOIN dfq USING (fp)),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id),
      ed AS (SELECT c.id_a, c.id_b,
               CAST(levenshtein(x.text, y.text) AS BIGINT) AS dist,
               CAST(greatest(length(x.text), length(y.text)) AS BIGINT) AS max_len
             FROM cand c JOIN repsq x ON x.doc_id = c.id_a
                         JOIN repsq y ON y.doc_id = c.id_b)
      SELECT id_a, id_b, dist, max_len,
        1.0 - CAST(dist AS DOUBLE) / CAST(max_len AS DOUBLE) AS sim
      FROM ed WHERE dist * 100 <= max_len * $maxDistPct"""

  /** Injected-variant id offset for the q157 query (far above any
    * testdata doc_id; the injection lives in the QUERY, not the
    * operator). */
  final val EditInjOffset = 10000000L

  /** Hex digits whose bit k is set, for k = 0..3 — turns md5 hex chars
    * into hash bits without any hex->int conversion. */
  private val HexBit = Array("13579bdf", "2367abef", "4567cdef", "89abcdef")

  val SimhashBits = 32

  /** 32-bit SimHash over word tokens as a '0'/'1' string: bit b set iff
    * sum over tokens of ±1 (sign of bit b of md5(token)) is >= 0. */
  def simhashExprs: (String, String) = {
    val spark = (0 until SimhashBits).map { b =>
      val pos = 1 + b / 4
      val set = HexBit(b % 4)
      s"CASE WHEN aggregate(transform(hs, h -> CASE WHEN instr('$set', substr(h, $pos, 1)) > 0 THEN 1 ELSE -1 END), 0L, (a, x) -> a + x) >= 0 THEN '1' ELSE '0' END"
    }.mkString("concat(", ", ", ")")
    val duck = (0 until SimhashBits).map { b =>
      val pos = 1 + b / 4
      val set = HexBit(b % 4)
      s"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN strpos('$set', substr(h, $pos, 1)) > 0 THEN 1 ELSE -1 END)) >= 0 THEN '1' ELSE '0' END"
    }.mkString(" || ")
    (spark, duck)
  }

  def simhash(docs: DataFrame): DataFrame = {
    // r13: spread before the per-token md5 fold — the [[shingled]]
    // discipline, but CONDITIONAL: a bare-scan input is one task (3x on
    // q48's fingerprint pass at local[32]); a post-join input is already
    // exchange-distributed and the barrier would only add a pass (the
    // unconditional form measured q52 1.45x SLOWER). The simhash32
    // Project stays above a plain repartition too (PlanSpec); whether
    // barrier=true still pays is left to the ROADMAP's barrier audit.
    QueryDef.spreadIfNarrow(docs.select(col("doc_id"), col("text")),
        minBytes = 0L, barrier = true)
      .select(col("doc_id"), simHash32(split(col("text"), " ")).as("simhash"))
  }

  /** Reference formulation via built-in higher-order functions only —
    * kept as the semantic spec for SimHash32 (equality locked by test). */
  def simhashViaLambdas(docs: DataFrame): DataFrame =
    docs
      .withColumn("hs", expr("transform(split(text, ' '), t -> md5(t))"))
      .select(col("doc_id"), expr(simhashExprs._1).as("simhash"))

  /** SimHash near-dup candidate pairs with Hamming distance <= maxHamming,
    * via band partitioning: split the 32-bit fingerprint into `nBands`
    * equal bands — any pair within Hamming h < nBands shares at least one
    * intact band (pigeonhole), so candidates come from an equi-join on
    * (band index, band bits), then an exact Hamming re-rank. The
    * fingerprint-level twin of MinHash+LSH: one fold per doc, band-key
    * shuffle, no n². */
  def simhashPairs(docs: DataFrame, maxHamming: Int, nBands: Int = 4): DataFrame = {
    require(maxHamming < nBands, "pigeonhole needs maxHamming < nBands")
    val width = SimhashBits / nBands
    val fp = simhash(docs).localCheckpoint() // both join sides + re-rank
    val bands = fp.select(col("doc_id"), col("simhash"),
      explode(expr(
        s"transform(sequence(0, ${nBands - 1}), b -> concat(cast(b AS STRING), ':', substr(simhash, b * $width + 1, $width)))"))
        .as("bkey"))
    // hamming BEFORE distinct: with clustered fingerprints (real corpora)
    // the candidate join can be millions of duplicated rows — the cheap
    // re-rank cuts them down before the expensive wide distinct
    bands.as("a")
      .join(bands.as("b"), col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        hammingStr(col("a.simhash"), col("b.simhash")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SimHash distance histogram (q239): the Hamming-distance spectrum of
    * every band-surfaced representative pair — q227's tuning curve for
    * the OTHER near-dup mine: q43's cutoff (hamming ≤ 3) is a cliff or a
    * plateau depending on where this histogram's mass sits, and the
    * 4-band pigeonhole's recall drops for distances ≥ nBands, so the
    * histogram also shows how much of the spectrum the bands can even
    * see (caveat on the record, as in q227). One reps-first fingerprint
    * pass, one band join, no distance cutoff; the histogram is a
    * 0..32-bounded rollup over distinct candidate pairs. */
  def simhashDistanceHistogram(docs: DataFrame, nBands: Int = 4): DataFrame = {
    val width = SimhashBits / nBands
    val reps = exact(docs).select(col("keep_id").as("doc_id"))
    val fp = simhash(docs.join(reps, "doc_id")).localCheckpoint()
    val bands = fp.select(col("doc_id"), col("simhash"),
      explode(expr(
        s"transform(sequence(0, ${nBands - 1}), b -> concat(cast(b AS STRING), ':', substr(simhash, b * $width + 1, $width)))"))
        .as("bkey"))
    bands.as("a")
      .join(bands.as("b"), col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        hammingStr(col("a.simhash"), col("b.simhash")).as("hamming"))
      .distinct()
      .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
  }

  def simhashDistanceHistogramSql(nBands: Int = 4): String = {
    val width = SimhashBits / nBands
    val fpSql = s"SELECT doc_id, ${simhashExprs._2} AS simhash FROM " +
      "(SELECT doc_id, list_transform(string_split(text, ' '), t -> md5(t)) AS hs FROM " +
      """(SELECT d.* FROM documents d
          JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) r
          USING (doc_id)) dd)"""
    s"""WITH fp AS ($fpSql),
      bands AS (SELECT doc_id, simhash,
          unnest(list_transform(range(0, $nBands), b -> CAST(b AS VARCHAR) || ':' || substr(simhash, CAST(b * $width + 1 AS INT), $width))) AS bkey
        FROM fp),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS fa, b.simhash AS fb
        FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
      h AS (SELECT id_a, id_b,
          CAST(list_sum(list_transform(range(1, ${SimhashBits + 1}),
            i -> CASE WHEN substr(fa, CAST(i AS INT), 1) = substr(fb, CAST(i AS INT), 1) THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
        FROM cand)
      SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs FROM h GROUP BY 1"""
  }

  /** Near-dup pairs over exact-dedup REPRESENTATIVES: collapse identical
    * texts to their min-id doc first (one hash-groupBy), then band-mine
    * pairs among representatives only. The pair output of simhashPairs is
    * inherently quadratic in duplicate-group size — a corpus where each
    * text occurs d times emits O(d²) identical-fingerprint pairs per
    * group (measured: 10x-replicated corpus → 100x pairs, 68x runtime) —
    * so the 100 TB pipeline ALWAYS runs exact dedup before pair mining.
    * Group membership is recoverable by joining back through `exact`'s
    * (fp, keep_id) table. */
  def simhashPairsDeduped(docs: DataFrame, maxHamming: Int, nBands: Int = 4): DataFrame = {
    val reps = exact(docs).select(col("keep_id").as("doc_id"))
    simhashPairs(docs.join(reps, "doc_id"), maxHamming, nBands)
  }

  /** [[minhashLshPairs]] over exact-dedup representatives — the q52
    * discipline applied to the MinHash mine. On a duplicate-heavy corpus
    * the naive mine's output is quadratic in duplicate-group size (every
    * group of d byte-identical texts alone contributes d·(d-1)/2
    * verified 1.0-Jaccard pairs: the 100x campaign measured ~25M pairs
    * from 5,000 groups of 100 — SCALE.md round-6 table); over
    * representatives the output is one pair per distinct near-dup TEXT
    * pair. Group membership joins back through `exact`'s (fp, keep_id)
    * table. */
  def minhashLshPairsDeduped(docs: DataFrame, threshold: Double): DataFrame = {
    val reps = exact(docs).select(col("keep_id").as("doc_id"))
    minhashLshPairs(docs.join(reps, "doc_id"), threshold)
  }

  /** q120's report computed WITHOUT materializing doc-level pairs — same
    * output, group-cardinality work. The insight: near-dup involvement is
    * a property of a document's exact-dup GROUP. jaccard is a function of
    * the gram SET, so every member of group g has the same verified
    * partners: the members of g itself (identical text ⟹ jaccard 1.0,
    * and identical minhash signatures ⟹ guaranteed band collision) plus
    * every member of g's near-dup partner groups N(g) from the
    * REPRESENTATIVE pair mine. A doc in cell (g, source s) is
    * within-involved iff N(g) ∪ {g} holds ≥ 2 docs of source s, and
    * cross-involved iff it holds ≥ 1 doc of another source — both
    * decidable from (group, source) COUNTS alone. Work is the reps mine
    * + exchanges keyed by group/source cardinality; the naive form's
    * 25M-pair explode+groupBy (70.6 s at 100x, vs q42's 36.1 s mine —
    * SCALE.md round-6) never exists.
    *
    * Equality with [[nearDupRates]] holds for every corpus whose texts
    * shingle to ≥ 1 gram. Sub-3-token texts have an EMPTY gram set, so
    * the mine never pairs them (their minhash bands are null — null keys
    * don't join — so no candidate, no 0/0 verify), while this form's
    * group self-edge counts identical such texts as dups. That is the
    * only divergence, it is spec-locked (OpsSpec "degenerate
    * sub-shingle docs"), and this form's answer — byte-identical texts
    * ARE duplicates whether or not they shingle — is the defensible one.
    * The driver gates this query against q120's UNCHANGED oracle, and
    * OpsSpec asserts row-identity with the naive form on a
    * duplicate-heavy corpus. */
  def nearDupRatesDeduped(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame =
    nearDupRatesDedupedOn(t(spark, dir, "documents"), threshold)

  def nearDupRatesDedupedOn(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    // (group, source) occupancy — the only corpus-sized aggregations;
    // checkpointed once, feeds cells/groups/reps
    val cells = docs.select(md5(col("text")).as("fp"), col("source"))
      .groupBy("fp", "source").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val groups = cells.groupBy("fp").agg(sum("cnt").as("tot"))
    val reps = docs.groupBy(md5(col("text")).as("fp"))
      .agg(min("doc_id").as("keep_id"))
    val repDocs = docs.join(reps.select(col("keep_id").as("doc_id")), "doc_id")
    val idToFp = reps.select(col("keep_id"), col("fp"))
    // representative pair mine: one row per distinct near-dup TEXT pair
    val pairs = minhashLshPairs(repDocs, threshold)
      .join(idToFp.select(col("keep_id").as("id_a"), col("fp").as("fp_a")), "id_a")
      .join(idToFp.select(col("keep_id").as("id_b"), col("fp").as("fp_b")), "id_b")
      .select("fp_a", "fp_b")
    // undirected partner edges + each group's self-edge (identical texts
    // are mutual near-dups at any threshold <= 1)
    val edges = pairs
      .union(pairs.select(col("fp_b").as("fp_a"), col("fp_a").as("fp_b")))
      .union(groups.select(col("fp").as("fp_a"), col("fp").as("fp_b")))
      .toDF("fp", "nfp")
    // neighborhood occupancy sums per (group, source) / per group
    val wsum = edges
      .join(cells.select(col("fp").as("nfp"), col("source"), col("cnt")), "nfp")
      .groupBy("fp", "source").agg(sum("cnt").as("wsum"))
    val tsum = edges
      .join(groups.select(col("fp").as("nfp"), col("tot")), "nfp")
      .groupBy("fp").agg(sum("tot").as("tsum"))
    val inv = cells
      .join(wsum, Seq("fp", "source"))
      .join(tsum, "fp")
      .withColumn("has_within", (col("wsum") >= 2).cast("long"))
      .withColumn("has_cross", ((col("tsum") - col("wsum")) >= 1).cast("long"))
    inv.groupBy("source")
      .agg(sum("cnt").as("n_docs"),
        sum(col("cnt") * col("has_within")).as("n_within_dup"),
        sum(col("cnt") * col("has_cross")).as("n_cross_dup"))
      .withColumn("within_rate", col("n_within_dup").cast("double") / col("n_docs"))
      .withColumn("cross_rate", col("n_cross_dup").cast("double") / col("n_docs"))
  }

  /** DuckDB twin of simhashPairs over any document-shaped relation —
    * parameterized exactly like the Spark side so a QueryDef can never
    * pair a re-tuned operator with a stale oracle. */
  def simhashPairsSql(docsRel: String, maxHamming: Int = 3, nBands: Int = 4): String = {
    require(maxHamming < nBands, "pigeonhole needs maxHamming < nBands")
    val width = SimhashBits / nBands
    val fpSql = s"SELECT doc_id, ${simhashExprs._2} AS simhash FROM " +
      s"(SELECT doc_id, list_transform(string_split(text, ' '), t -> md5(t)) AS hs FROM $docsRel dd)"
    s"""WITH fp AS ($fpSql),
        bands AS (SELECT doc_id, simhash,
            unnest(list_transform(range(0, $nBands), b -> CAST(b AS VARCHAR) || ':' || substr(simhash, CAST(b * $width + 1 AS INT), $width))) AS bkey
          FROM fp),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS fa, b.simhash AS fb
          FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
        h AS (SELECT id_a, id_b,
            CAST(list_sum(list_transform(range(1, ${SimhashBits + 1}),
              i -> CASE WHEN substr(fa, CAST(i AS INT), 1) = substr(fb, CAST(i AS INT), 1) THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
          FROM cand)
        SELECT id_a, id_b, hamming FROM h WHERE hamming <= $maxHamming"""
  }

  /** Near-dup CLUSTERS: connected components over the MinHash+LSH pair
    * graph, labeled by each component's min doc_id — the step a real
    * dedup pipeline runs after pair mining (keep one representative per
    * cluster, or weight by cluster size). Min-label propagation: each
    * iteration every node takes the min of its own and its neighbors'
    * labels — converges in O(component diameter) rounds, which for
    * near-dup graphs (small cliques and chains) is 1-3; the loop is
    * driver-paced with a distributed join per round and a convergence
    * count, the standard Spark connected-components shape at any corpus
    * size (each round's state is label pairs, never edges squared).
    *
    * Runs to the TRUE fixpoint (the oracle computes the recursive
    * fixpoint too — returning early would silently mislabel any
    * component with diameter > the cap, e.g. a chain of drifting
    * near-dups at scale). `maxIters` is only a runaway guard, and
    * exceeding it THROWS rather than returning non-converged labels. */
  def nearDupClusters(docs: DataFrame, threshold: Double, maxIters: Int = 1000): DataFrame = {
    val pairs = minhashLshPairs(docs, threshold).select("id_a", "id_b").localCheckpoint()
    val edges = pairs.union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .toDF("src", "dst").localCheckpoint()
    var labels = docs.select(col("doc_id"), col("doc_id").as("cluster_id")).localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0) {
      if (iter >= maxIters)
        throw new IllegalStateException(
          s"nearDupClusters did not converge after $maxIters rounds " +
            s"($changed labels still changing) — component diameter exceeds the guard; " +
            "raise maxIters rather than shipping wrong cluster_ids")
      val nbrMin = edges.join(labels.withColumnRenamed("doc_id", "src"), "src")
        .groupBy(col("dst").as("doc_id")).agg(min("cluster_id").as("nbr_min"))
      // r14 (guide §2.4): carry the did-it-change flag THROUGH the
      // checkpoint (nbr_min < old label ⟺ the label moved) instead of
      // re-joining next against the previous labels — one exchange less
      // per round, and the convergence count is a scan of the
      // already-materialized rows.
      val next = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id"))).as("cluster_id"),
          (col("nbr_min").isNotNull && col("nbr_min") < col("cluster_id")).as("chg"))
        .localCheckpoint()
      changed = next.filter(col("chg")).count()
      labels = next.select("doc_id", "cluster_id") // superseded checkpoints are freed by harness hygiene
      iter += 1
    }
    labels
  }

  /** Per-source near-dup rate report (q120): the NEAR-dup line a dataset
    * card should carry next to its exact-dup rate (q105 only counts
    * byte-identical text) — for each source, how many of its documents
    * sit in a verified near-dup pair (Jaccard ≥ t), split into
    * within-source and cross-source involvement. Cross-source dups are a
    * distinct signal (syndication/mirroring between providers) from
    * within-source ones (crawler revisits, boilerplate).
    *
    * Composition: [[minhashLshPairs]] verbatim for pairs; docs touch the
    * pair set via one explode + source join; rollup is source-keyed.
    * Output is source-cardinality; the pair mine dominates (and its
    * SCALE.md lesson-1 caveat applies unchanged — run [[exact]] first on
    * duplicate-heavy corpora). */
  def nearDupRates(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame = {
    val docs = t(spark, dir, "documents")
    val src = docs.select(col("doc_id"), col("source"))
    val pairs = minhashLshPairs(docs, threshold)
      .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")), "id_b")
    val involved = pairs
      .select(explode(array(
        struct(col("id_a").as("doc_id"), (col("src_a") === col("src_b")).as("within")),
        struct(col("id_b").as("doc_id"), (col("src_a") === col("src_b")).as("within")))).as("e"))
      .select(col("e.doc_id").as("doc_id"), col("e.within").as("within"))
      .groupBy("doc_id")
      .agg(max(when(col("within"), 1L).otherwise(0L)).as("has_within"),
        max(when(!col("within"), 1L).otherwise(0L)).as("has_cross"))
    src.join(involved, Seq("doc_id"), "left")
      .na.fill(0L, Seq("has_within", "has_cross"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("has_within").as("n_within_dup"), sum("has_cross").as("n_cross_dup"))
      .withColumn("within_rate", col("n_within_dup").cast("double") / col("n_docs"))
      .withColumn("cross_rate", col("n_cross_dup").cast("double") / col("n_docs"))
  }

  def nearDupRatesSql(threshold: Double = 0.8): String =
    s"""WITH $minhashPairsCtes,
      p AS (SELECT v.id_a, v.id_b, da.source AS src_a, db.source AS src_b
            FROM verified v
            JOIN documents da ON v.id_a = da.doc_id
            JOIN documents db ON v.id_b = db.doc_id
            WHERE v.jaccard >= $threshold),
      inv AS (SELECT doc_id, MAX(CASE WHEN within THEN 1 ELSE 0 END) AS has_within,
                MAX(CASE WHEN within THEN 0 ELSE 1 END) AS has_cross
              FROM (SELECT id_a AS doc_id, src_a = src_b AS within FROM p
                    UNION ALL
                    SELECT id_b AS doc_id, src_a = src_b AS within FROM p)
              GROUP BY doc_id)
      SELECT d.source, count(*) AS n_docs,
        CAST(SUM(COALESCE(has_within, 0)) AS BIGINT) AS n_within_dup,
        CAST(SUM(COALESCE(has_cross, 0)) AS BIGINT) AS n_cross_dup,
        CAST(SUM(COALESCE(has_within, 0)) AS DOUBLE) / count(*) AS within_rate,
        CAST(SUM(COALESCE(has_cross, 0)) AS DOUBLE) / count(*) AS cross_rate
      FROM documents d LEFT JOIN inv ON d.doc_id = inv.doc_id
      GROUP BY d.source"""

  /** q42's oracle CTE chain ending in `verified` (id_a, id_b, jaccard) —
    * shared by the pair query and the cluster query built on it. */
  private def minhashPairsCtes: String = minhashPairsCtesOver("documents")

  /** The q42 oracle CTE chain over any document-shaped relation (the
    * simhashPairsSql pattern): the reps-composed queries reuse the exact
    * mine SQL over the representative subquery. */
  private[ops] def minhashPairsCtesOver(docsRel: String): String = {
    val bandsSql = (0 until Bands).map { b =>
      val parts = (1 to Rows).map(r => s"sig[${b * Rows + r}]").mkString(" || ")
      s"md5('$b' || ':' || $parts)"
    }.mkString(", ")
    s"""sh AS (SELECT doc_id, $shinglesSql AS grams FROM $docsRel dd),
        sigs AS (SELECT doc_id, grams,
            list_transform(range(0, $NumHashes),
              j -> list_aggregate(list_transform(grams, g -> md5(CAST(j AS VARCHAR) || '|' || g)), 'min')) AS sig
          FROM sh),
        bands AS (SELECT doc_id, unnest([$bandsSql]) AS bkey FROM sigs),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
        verified AS (SELECT c.id_a, c.id_b,
            CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE)
              / (len(sa.grams) + len(sb.grams) - len(list_intersect(sa.grams, sb.grams))) AS jaccard
          FROM cand c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b)"""
  }

  /** Effective-token budget (q213): per source, raw token volume vs the
    * EFFECTIVE volume — each distinct text's token mass counted ONCE
    * per source — and the effective fraction. This is the number the
    * mixers (q96/q135/q198) should budget against: raw counts overstate
    * a duplicate-heavy source by its copy factor, so a "15%" raw share
    * can be a 2% share of distinct text (the q148 yield funnel's dedup
    * stage, reduced to the one budgeting ratio and computed WITHOUT the
    * pipeline). Source-local view: a text appearing in two sources
    * counts once in EACH (each source really does hold that mass).
    *
    * Scale shape: one scan computes (source, xxhash64(text), n_tok);
    * raw is a source rollup; effective collapses (source, fp) first —
    * both map-side-combined, text never past the scan; the final join
    * is source-cardinality. String-form oracle = collision tripwire. */
  def effectiveTokens(docs: DataFrame): DataFrame = {
    val base = docs.select(col("source"), xxhash64(col("text")).as("fp"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val raw = base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens_raw"))
    val eff = base.groupBy("source", "fp").agg(min("n_tok").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_distinct_texts"), sum("n_tok").as("n_tokens_effective"))
    raw.join(eff, "source")
      .withColumn("effective_frac_micro",
        expr("(n_tokens_effective * 1000000L) div n_tokens_raw"))
  }

  /** Cross-source duplication matrix (q216): for every source pair that
    * shares at least one exact text, the shared distinct-text count and
    * the Jaccard overlap of their distinct-text sets (micro-quantized) —
    * the provenance question q100's gram-level overlap asks at span
    * granularity, answered at whole-document granularity: which sources
    * are mirrors/re-crawls of each other (keep one), which merely quote
    * each other (keep both, dedup across). Feeds the mixer the same way
    * q208's vocabulary TVD does — two sources can have near-zero TVD
    * (same language) yet zero text overlap, or identical text at high
    * TVD after boilerplate injection; mixture design needs both axes.
    *
    * Scale shape: texts collapse to DISTINCT (source, fp) rows map-side
    * (xxhash64 int64 keys — the q94/q99 discipline; at 100-copy skew the
    * combine removes the volume before the exchange); the self-join is
    * fp-keyed over distinct rows only; per-source distinct counts are a
    * rollup of the SAME rows, broadcast back; output is sources²-bounded.
    * String-form oracle = collision tripwire. */
  def sourceDupMatrix(docs: DataFrame): DataFrame = {
    val sf = docs.select(col("source"), xxhash64(col("text")).as("fp"))
      .distinct().localCheckpoint() // feeds margins AND both join sides
    val marg = sf.groupBy("source").agg(count(lit(1)).as("n_texts"))
    sf.as("a").join(sf.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(marg.select(col("source").as("source_a"), col("n_texts").as("n_a"))),
        "source_a")
      .join(broadcast(marg.select(col("source").as("source_b"), col("n_texts").as("n_b"))),
        "source_b")
      .withColumn("jaccard_micro",
        expr("(n_shared * 1000000L) div (n_a + n_b - n_shared)"))
      .select("source_a", "source_b", "n_shared", "n_a", "n_b", "jaccard_micro")
  }

  /** q216's oracle over the mirror-source injection (every 7th doc's
    * text replayed under source 'mirror' — the corpus has no organic
    * cross-source exact dups at 1x, the q149/q213 injection pattern). */
  val sourceDupMatrixSql: String =
    s"""WITH inj AS (SELECT source, text FROM documents
          UNION ALL
          SELECT 'mirror' AS source, text FROM documents WHERE doc_id % 7 = 0),
      sf AS (SELECT DISTINCT source, text FROM inj),
      marg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_texts FROM sf GROUP BY 1),
      pairs AS (SELECT a.source AS source_a, b.source AS source_b,
            CAST(count(*) AS BIGINT) AS n_shared
          FROM sf a JOIN sf b ON a.text = b.text AND a.source < b.source
          GROUP BY 1, 2)
      SELECT p.source_a, p.source_b, p.n_shared,
        ma.n_texts AS n_a, mb.n_texts AS n_b,
        (p.n_shared * 1000000) // (ma.n_texts + mb.n_texts - p.n_shared) AS jaccard_micro
      FROM pairs p
        JOIN marg ma ON ma.source = p.source_a
        JOIN marg mb ON mb.source = p.source_b"""

  /** MinHash estimator calibration (q218): over every LSH-candidate
    * representative pair, the signature-estimated Jaccard (matching
    * coordinates / $NumHashes) against the exact gram Jaccard, rolled up
    * to ONE corpus row — pair count, mean of each axis, mean/max
    * absolute error and the signed bias sum. THE parameter-tuning gate
    * for the q42/q52/q88 family: the band/row trade (8×4 here) is chosen
    * from textbook collision curves, and this audit measures what the
    * estimator actually does on THIS corpus's shingle distribution —
    * a drifting mean error or a one-sided bias says re-tune bands before
    * trusting near-dup rates (q120) built on the mine.
    *
    * Determinism discipline: both axes are exact integer rationals
    * floor-micro'd per pair — est = matches·1e6 div 32, exact =
    * inter·1e6 div union — so errors are integer subtractions; means
    * divide non-negative DECIMAL sums once (signed bias is reported as
    * the SUM — integral division of negatives is truncate-vs-floor
    * trapdoor across engines, so it never divides).
    *
    * Scale shape: the candidate mine is exactly q52's reps-first form
    * (identical-text pairs estimate perfectly — they'd only dilute the
    * audit); signatures ride the checkpointed shingle frame, so the
    * audit adds one zip_with per candidate pair over what the mine
    * already pays. */
  /** The reps-first LSH candidate mine with per-pair signatures and the
    * exact integer-micro Jaccard — q218's and q227's shared front end
    * (one shingle/signature pass, one band join, checkpointed). */
  private[graft] def repCalibrationPairs(docs: DataFrame): DataFrame = {
    val reps = docs.join(exact(docs).select(col("keep_id").as("doc_id")), "doc_id")
    val sh = shingled(reps)
      .withColumn("sorted", sort_array(col("grams")))
      .withColumn("sig", minhashSig(col("grams"), NumHashes))
      .localCheckpoint()
    val bands = sh
      .select(col("doc_id"), explode(minhashBands(col("grams"), NumHashes, Rows)).as("bkey"))
      .localCheckpoint()
    val cands = bands.as("a")
      .join(bands.as("b"), col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cands
      .join(sh.select(col("doc_id").as("id_a"), col("sorted").as("ga"),
        size(col("grams")).cast("long").as("na"), col("sig").as("siga")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sorted").as("gb"),
        size(col("grams")).cast("long").as("nb"), col("sig").as("sigb")), "id_b")
      .withColumn("inter", sortedIntersectCount(col("ga"), col("gb")))
      .withColumn("exact_micro", expr("(inter * 1000000L) div (na + nb - inter)"))
  }

  def minhashCalibration(docs: DataFrame): DataFrame = {
    repCalibrationPairs(docs)
      .withColumn("matches", expr(
        "aggregate(zip_with(siga, sigb, (x, y) -> IF(x = y, 1L, 0L)), 0L, (a, x) -> a + x)"))
      .withColumn("est_micro", expr(s"(matches * 1000000L) div ${NumHashes}L"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("CAST(sum(CAST(est_micro AS DECIMAL(38,0))) div count(1) AS BIGINT)")
          .as("mean_est_micro"),
        expr("CAST(sum(CAST(exact_micro AS DECIMAL(38,0))) div count(1) AS BIGINT)")
          .as("mean_exact_micro"),
        expr("CAST(sum(CAST(abs(est_micro - exact_micro) AS DECIMAL(38,0))) div count(1) AS BIGINT)")
          .as("mean_abs_err_micro"),
        max(expr("abs(est_micro - exact_micro)")).as("max_abs_err_micro"),
        sum(expr("est_micro - exact_micro")).as("sum_bias_micro"))
  }

  /** q218's oracle: the q125 reps subquery + the q42 mine chain carrying
    * signatures through to the per-pair match count. */
  val minhashCalibrationSql: String = {
    val bandsSql = (0 until Bands).map { b =>
      val parts = (1 to Rows).map(r => s"sig[${b * Rows + r}]").mkString(" || ")
      s"md5('$b' || ':' || $parts)"
    }.mkString(", ")
    s"""WITH sh AS (SELECT doc_id, $shinglesSql AS grams FROM
          (SELECT d.* FROM documents d
            JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) r
            USING (doc_id)) dd),
      sigs AS (SELECT doc_id, grams,
          list_transform(range(0, $NumHashes),
            j -> list_aggregate(list_transform(grams, g -> md5(CAST(j AS VARCHAR) || '|' || g)), 'min')) AS sig
        FROM sh),
      bands AS (SELECT doc_id, unnest([$bandsSql]) AS bkey FROM sigs),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
      pr AS (SELECT c.id_a, c.id_b,
          CAST(len(list_intersect(sa.grams, sb.grams)) AS BIGINT) AS inter,
          CAST(len(sa.grams) AS BIGINT) AS na, CAST(len(sb.grams) AS BIGINT) AS nb,
          CAST(len(list_filter(range(1, $NumHashes + 1),
            i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS matches
        FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a JOIN sigs sb ON sb.doc_id = c.id_b),
      mm AS (SELECT id_a, id_b,
          (inter * 1000000) // (na + nb - inter) AS exact_micro,
          (matches * 1000000) // $NumHashes AS est_micro
        FROM pr)
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(CAST(SUM(est_micro) AS HUGEINT) // count(*) AS BIGINT) AS mean_est_micro,
        CAST(CAST(SUM(exact_micro) AS HUGEINT) // count(*) AS BIGINT) AS mean_exact_micro,
        CAST(CAST(SUM(abs(est_micro - exact_micro)) AS HUGEINT) // count(*) AS BIGINT) AS mean_abs_err_micro,
        CAST(MAX(abs(est_micro - exact_micro)) AS BIGINT) AS max_abs_err_micro,
        CAST(SUM(est_micro - exact_micro) AS BIGINT) AS sum_bias_micro
      FROM mm"""
  }

  /** Near-dup threshold sensitivity sweep (q227): the q42 mine's tuning
    * curve — pair count and affected-representative count at Jaccard
    * cutoffs 0.7 / 0.8 / 0.9, all binned from ONE reps-first mine pass
    * (the exact per-pair micro Jaccard is computed once; each threshold
    * row is a filter over the checkpointed pair frame). The "how much
    * does the corpus care where we draw the line" view that should be
    * read next to q218's estimator-error row before re-tuning bands:
    * a cliff between 0.7 and 0.8 means the threshold is load-bearing
    * and the estimator's ±error band around it matters.
    *
    * Candidate-recall caveat ON the record: candidates come from the
    * 8×4 band join, whose recall falls with true Jaccard — the 0.7 row
    * counts pairs the bands SURFACE (s-curve ~0.76 at j=0.7), which is
    * the operational quantity (it is what the mine at that threshold
    * would return), not the true-pair census. */
  def thresholdSweep(docs: DataFrame): DataFrame = {
    val pairs = repCalibrationPairs(docs)
      .select("id_a", "id_b", "exact_micro").localCheckpoint()
    Seq(700000L, 800000L, 900000L).map { th =>
      val p = pairs.filter(col("exact_micro") >= th)
      p.agg(count(lit(1)).as("n_pairs")).withColumn("threshold_micro", lit(th))
        .join(p.select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
          .distinct().agg(count(lit(1)).as("n_docs"))
          .withColumn("threshold_micro", lit(th)), "threshold_micro")
        .select("threshold_micro", "n_pairs", "n_docs")
    }.reduce(_ unionAll _)
  }

  /** q227's oracle: the q218 chain to per-pair exact micro Jaccard,
    * sweep rows via UNION ALL. */
  val thresholdSweepSql: String = {
    val bandsSql = (0 until Bands).map { b =>
      val parts = (1 to Rows).map(r => s"sig[${b * Rows + r}]").mkString(" || ")
      s"md5('$b' || ':' || $parts)"
    }.mkString(", ")
    val row = (th: Long) =>
      s"""SELECT CAST($th AS BIGINT) AS threshold_micro,
          CAST((SELECT count(*) FROM mm WHERE exact_micro >= $th) AS BIGINT) AS n_pairs,
          CAST((SELECT count(DISTINCT id) FROM
            (SELECT unnest([id_a, id_b]) AS id FROM mm WHERE exact_micro >= $th)) AS BIGINT)
            AS n_docs"""
    s"""WITH sh AS (SELECT doc_id, $shinglesSql AS grams FROM
          (SELECT d.* FROM documents d
            JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) r
            USING (doc_id)) dd),
      sigs AS (SELECT doc_id, grams,
          list_transform(range(0, $NumHashes),
            j -> list_aggregate(list_transform(grams, g -> md5(CAST(j AS VARCHAR) || '|' || g)), 'min')) AS sig
        FROM sh),
      bands AS (SELECT doc_id, unnest([$bandsSql]) AS bkey FROM sigs),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
      mm AS (SELECT c.id_a, c.id_b,
          (CAST(len(list_intersect(sa.grams, sb.grams)) AS BIGINT) * 1000000)
            // (len(sa.grams) + len(sb.grams) - len(list_intersect(sa.grams, sb.grams)))
            AS exact_micro
        FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a JOIN sigs sb ON sb.doc_id = c.id_b)
      ${row(700000L)} UNION ALL ${row(800000L)} UNION ALL ${row(900000L)}"""
  }

  /** q213's oracle over the q203-style injected corpus (every 7th doc
    * duplicated) — groups by raw text. */
  val effectiveTokensSql: String =
    s"""WITH inj AS (SELECT doc_id, source, text FROM documents
          UNION ALL
          SELECT doc_id + $EditInjOffset, source, text FROM documents WHERE doc_id % 7 = 0),
      base AS (SELECT source, text,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM inj),
      raw AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(SUM(n_tok) AS BIGINT) AS n_tokens_raw FROM base GROUP BY 1),
      eff0 AS (SELECT source, text, MIN(n_tok) AS n_tok FROM base GROUP BY 1, 2),
      eff AS (SELECT source, CAST(count(*) AS BIGINT) AS n_distinct_texts,
            CAST(SUM(n_tok) AS BIGINT) AS n_tokens_effective FROM eff0 GROUP BY 1)
      SELECT raw.source, raw.n_docs, raw.n_tokens_raw,
        eff.n_distinct_texts, eff.n_tokens_effective,
        (eff.n_tokens_effective * 1000000) // raw.n_tokens_raw AS effective_frac_micro
      FROM raw JOIN eff USING (source)"""

  /** Duplicate-quality audit (q203): is duplicated content skewing low
    * quality? Per source — the doc/quality split between members of
    * multi-copy exact groups and unique docs, with the exact micro-mean
    * of each side and the lift. The curation question behind q175's
    * byte savings: if dup quality ≈ unique quality, dedup only saves
    * compute; if dups skew low (scraped chrome, error pages), dedup is
    * ALSO a quality filter and its effect must be separated from the
    * gate's in any ablation.
    *
    * Scale shape: one scan computes score + xxhash64(text) group key
    * (the q94/q99 int64 discipline — text never keys an exchange); group
    * sizes are a map-side-combined fp rollup (100-copy groups collapse
    * before the shuffle); the size join carries (fp, source, q_micro)
    * rows — no text; the final rollup is source-bounded. Means stay
    * NULL-guarded integer micro units. */
  def dupQualityAudit(docs: DataFrame): DataFrame = {
    val base = graft.ops.TextStats.scored(docs, Seq("source", "text"))
      .withColumn("q_micro", expr("CAST(floor(score * 1000000.0) AS BIGINT)"))
      .withColumn("fp", xxhash64(col("text")))
      .select("fp", "source", "q_micro")
    val sizes = base.groupBy("fp").agg(count(lit(1)).as("gsz"))
    base.join(sizes, "fp")
      .withColumn("dup", col("gsz") >= 2)
      .groupBy("source").agg(
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(!col("dup"), 1L).otherwise(0L)).as("n_uniq_docs"),
        sum(when(col("dup"), col("q_micro")).otherwise(0L)).as("dup_q_sum"),
        sum(when(!col("dup"), col("q_micro")).otherwise(0L)).as("uniq_q_sum"))
      .withColumn("mean_q_dup_micro",
        expr("CASE WHEN n_dup_docs = 0 THEN NULL ELSE dup_q_sum div n_dup_docs END"))
      .withColumn("mean_q_uniq_micro",
        expr("CASE WHEN n_uniq_docs = 0 THEN NULL ELSE uniq_q_sum div n_uniq_docs END"))
      .withColumn("lift_micro", col("mean_q_dup_micro") - col("mean_q_uniq_micro"))
      .select("source", "n_dup_docs", "n_uniq_docs",
        "mean_q_dup_micro", "mean_q_uniq_micro", "lift_micro")
  }

  /** q203's oracle over the injected corpus — groups by raw TEXT (the
    * xxhash64 collision tripwire, as q94/q149). */
  val dupQualityAuditSql: String =
    s"""WITH inj AS (SELECT doc_id, source, text FROM documents
          UNION ALL
          SELECT doc_id + $EditInjOffset, source, text FROM documents WHERE doc_id % 7 = 0),
      base AS (SELECT source, text, ${graft.ops.TextStats.scoreSignalsDuck} FROM inj),
      scored AS (SELECT source, text,
            CAST(floor((${graft.ops.TextStats.scoreExprDuck}) * 1000000.0) AS BIGINT) AS q_micro
          FROM base),
      sz AS (SELECT text, count(*) AS gsz FROM scored GROUP BY text),
      j AS (SELECT s.source, s.q_micro, (sz.gsz >= 2) AS dup
            FROM scored s JOIN sz USING (text)),
      agg AS (SELECT source,
            CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
            CAST(SUM(CASE WHEN dup THEN 0 ELSE 1 END) AS BIGINT) AS n_uniq_docs,
            CAST(SUM(CASE WHEN dup THEN q_micro ELSE 0 END) AS BIGINT) AS dup_q_sum,
            CAST(SUM(CASE WHEN dup THEN 0 ELSE q_micro END) AS BIGINT) AS uniq_q_sum
          FROM j GROUP BY source)
      SELECT source, n_dup_docs, n_uniq_docs,
        CASE WHEN n_dup_docs = 0 THEN NULL ELSE CAST(dup_q_sum // n_dup_docs AS BIGINT) END
          AS mean_q_dup_micro,
        CASE WHEN n_uniq_docs = 0 THEN NULL ELSE CAST(uniq_q_sum // n_uniq_docs AS BIGINT) END
          AS mean_q_uniq_micro,
        CASE WHEN n_dup_docs = 0 OR n_uniq_docs = 0 THEN NULL
          ELSE CAST(dup_q_sum // n_dup_docs - uniq_q_sum // n_uniq_docs AS BIGINT) END
          AS lift_micro
      FROM agg"""

  val queries: Seq[QueryDef] = Seq(
    QueryDef("q40_dedup_exact",
      (s, d) => exact(t(s, d, "documents")),
      Some("""SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_docs
        FROM documents GROUP BY md5(text)""")),

    QueryDef("q41_dedup_ngram_jaccard",
      (s, d) => ngramJaccardPairs(t(s, d, "documents"), 0.8),
      Some(s"""WITH sh AS (SELECT doc_id, $shinglesSql AS grams FROM documents),
        s2 AS (SELECT doc_id, grams, list_sort(grams) AS sorted, CAST(len(grams) AS BIGINT) AS n FROM sh),
        prefix AS (SELECT doc_id, n, unnest(sorted[1:CAST(n - ((8 * n + 9) // 10) + 1 AS INT)]) AS gram FROM s2),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM prefix a JOIN prefix b ON a.gram = b.gram AND a.doc_id < b.doc_id
            AND a.n * 5 >= b.n * 4 AND b.n * 5 >= a.n * 4),
        v AS (SELECT c.id_a, c.id_b,
            CAST(len(list_intersect(sa.grams, sb.grams)) AS BIGINT) AS inter, sa.n AS na, sb.n AS nb
          FROM cand c JOIN s2 sa ON sa.doc_id = c.id_a JOIN s2 sb ON sb.doc_id = c.id_b)
        SELECT id_a, id_b, CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
        FROM v WHERE inter * 5 >= (na + nb - inter) * 4"""), Tuning.cpuBound),

    QueryDef("q49_dedup_jaccard_capped",
      (s, d) => ngramJaccardPairs(t(s, d, "documents"), 0.8, maxDocFreq = Some(4)),
      Some(s"""WITH sh0 AS (SELECT doc_id, $shinglesSql AS grams FROM documents),
        ex AS (SELECT doc_id, unnest(grams) AS gram FROM sh0),
        dfreq AS (SELECT gram, count(*) AS df FROM ex GROUP BY gram),
        s2 AS (SELECT doc_id, list_sort(list(gram)) AS grams, list_sort(list(gram)) AS sorted,
                 CAST(count(*) AS BIGINT) AS n
               FROM ex JOIN dfreq USING (gram) WHERE df <= 4 GROUP BY doc_id),
        prefix AS (SELECT doc_id, n, unnest(sorted[1:CAST(n - ((8 * n + 9) // 10) + 1 AS INT)]) AS gram FROM s2),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM prefix a JOIN prefix b ON a.gram = b.gram AND a.doc_id < b.doc_id
            AND a.n * 5 >= b.n * 4 AND b.n * 5 >= a.n * 4),
        v AS (SELECT c.id_a, c.id_b,
            CAST(len(list_intersect(sa.grams, sb.grams)) AS BIGINT) AS inter, sa.n AS na, sb.n AS nb
          FROM cand c JOIN s2 sa ON sa.doc_id = c.id_a JOIN s2 sb ON sb.doc_id = c.id_b)
        SELECT id_a, id_b, CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
        FROM v WHERE inter * 5 >= (na + nb - inter) * 4"""), Tuning.cpuBound),

    QueryDef("q42_dedup_minhash_lsh",
      // routed through its TVF form (r12 — the q281 discipline: the TVF
      // yields the same analyzed plan, the oracle hash keeps it honest)
      (s, d) => s.sql(
        s"SELECT * FROM dedup_near_pairs('$d/documents.parquet', 0.8)"),
      Some(s"""WITH $minhashPairsCtes
        SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.8"""), Tuning.cpuBound),

    QueryDef("q53_dedup_clusters",
      (s, d) => nearDupClusters(t(s, d, "documents"), 0.8),
      // min reachable label == component min: the walk seeds every node
      // with its own id and pushes labels along (undirected) edges until
      // the UNION fixpoint
      Some(s"""WITH RECURSIVE $minhashPairsCtes,
        pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.8),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL SELECT id_b, id_a FROM pairs),
        walk(node, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
        )
        SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
        FROM walk GROUP BY node"""), Tuning.cpuBound),

    QueryDef("q74_decontaminate",
      // routed through its TVF form (r13 — the q42 discipline: same
      // analyzed plan, the oracle hash keeps the SQL surface honest)
      (s, d) => s.sql(
        s"SELECT * FROM decontaminate('$d/documents.parquet', 0.8)"),
      Some(decontaminateSql(0.8)), Tuning.cpuBound),

    // the corpus has no organic character-level near-dups, so the query
    // injects a deterministic 1-edit variant of every 50th doc (the
    // q93/q149 pattern) — the operator itself takes any frame
    QueryDef("q157_edit_near_dups",
      (s, d) => {
        val docs = t(s, d, "documents").select("doc_id", "source", "text")
        val inj = docs.filter(expr("doc_id % 50 = 1"))
          .select((col("doc_id") + lit(EditInjOffset)).as("doc_id"),
            col("source"), expr("substr(text, 2)").as("text"))
        editNearDupPairs(docs.unionByName(inj))
      },
      Some(editNearDupPairsSql()), Tuning.cpuBound),

    QueryDef("q158_leakage_safe_folds",
      (s, d) => leakageSafeFolds(t(s, d, "documents")),
      Some(leakageSafeFoldsSql()), Tuning.cpuBound),

    QueryDef("q159_cluster_size_histogram",
      (s, d) => clusterSizeHistogram(t(s, d, "documents")),
      Some(clusterSizeHistogramSql()), Tuning.cpuBound),

    // gated against q159's UNCHANGED naive oracle — the q126 discipline:
    // the composed form must return the identical histogram
    QueryDef("q162_cluster_histogram_reps",
      (s, d) => clusterSizeHistogramDeduped(t(s, d, "documents")),
      Some(clusterSizeHistogramSql()), Tuning.cpuBound),

    QueryDef("q163_leakage_folds_reps",
      (s, d) => leakageSafeFoldsDeduped(t(s, d, "documents")),
      Some(leakageSafeFoldsSql()), Tuning.cpuBound),

    QueryDef("q175_dedup_savings",
      (s, d) => dedupSavings(t(s, d, "documents")),
      Some(dedupSavingsSql)),

    // the q149 injection pattern: the word-salad corpus has no organic
    // exact dups at 1x, so the query plants a copy of every 7th doc
    // (fresh ids at +EditInjOffset) — library callers pass real frames
    QueryDef("q213_effective_tokens",
      (s, d) => {
        val docs = t(s, d, "documents").select("doc_id", "source", "text")
        effectiveTokens(docs.unionAll(
          docs.filter(expr("doc_id % 7 = 0"))
            .select((col("doc_id") + lit(EditInjOffset)).as("doc_id"),
              col("source"), col("text"))))
      },
      Some(effectiveTokensSql)),

    QueryDef("q224_cluster_source_mix",
      (s, d) => {
        val docs = t(s, d, "documents").select("doc_id", "source", "text")
        clusterSourceMix(docs.unionAll(
          docs.filter(expr("doc_id % 7 = 0"))
            .select((col("doc_id") + lit(EditInjOffset)).as("doc_id"),
              lit("mirror").as("source"), col("text"))))
      },
      Some(clusterSourceMixSql), Tuning.cpuBound),

    QueryDef("q218_minhash_calibration",
      (s, d) => minhashCalibration(t(s, d, "documents")),
      Some(minhashCalibrationSql), Tuning.cpuBound),

    QueryDef("q227_threshold_sweep",
      (s, d) => thresholdSweep(t(s, d, "documents")),
      Some(thresholdSweepSql), Tuning.cpuBound),

    QueryDef("q239_simhash_histogram",
      (s, d) => simhashDistanceHistogram(t(s, d, "documents")),
      Some(simhashDistanceHistogramSql()), Tuning.cpuBound),

    QueryDef("q216_source_dup_matrix",
      (s, d) => {
        val docs = t(s, d, "documents").select("doc_id", "source", "text")
        sourceDupMatrix(docs.select("source", "text").unionAll(
          docs.filter(expr("doc_id % 7 = 0"))
            .select(lit("mirror").as("source"), col("text"))))
      },
      Some(sourceDupMatrixSql)),

    QueryDef("q203_dup_quality_audit",
      (s, d) => {
        val docs = t(s, d, "documents").select("doc_id", "source", "text")
        dupQualityAudit(docs.unionAll(
          docs.filter(expr("doc_id % 7 = 0"))
            .select((col("doc_id") + lit(EditInjOffset)).as("doc_id"),
              col("source"), col("text"))))
      },
      Some(dupQualityAuditSql)),

    QueryDef("q131_bloom_decontaminate",
      (s, d) => bloomDecontaminate(s, d),
      Some(bloomDecontaminateSql()), Tuning.cpuBound),

    QueryDef("q89_dup_spans",
      (s, d) => dupSpans(t(s, d, "documents")),
      Some(dupSpansSql(SpanWidth))),

    QueryDef("q141_winnowing",
      (s, d) => winnowing(t(s, d, "documents")),
      Some(winnowingSql()), Tuning.cpuBound),

    QueryDef("q90_span_contamination",
      (s, d) => spanContamination(t(s, d, "documents")),
      Some(spanContaminationSql(SpanWidth))),

    QueryDef("q100_source_overlap",
      (s, d) => sourceOverlap(t(s, d, "documents")),
      Some(sourceOverlapSql(SpanWidth))),

    QueryDef("q120_near_dup_rates",
      (s, d) => nearDupRates(s, d),
      Some(nearDupRatesSql()), Tuning.cpuBound),

    QueryDef("q125_dedup_minhash_reps",
      (s, d) => minhashLshPairsDeduped(t(s, d, "documents"), 0.8),
      Some(s"""WITH ${minhashPairsCtesOver(
        """(SELECT d.* FROM documents d
            JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) r
            USING (doc_id))""")}
        SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.8"""), Tuning.cpuBound),

    // the reps-composed rate report is gated against q120's UNCHANGED
    // oracle: the whole point is output equality with the naive form
    QueryDef("q126_near_dup_rates_reps",
      (s, d) => nearDupRatesDeduped(s, d),
      Some(nearDupRatesSql()), Tuning.cpuBound),

    QueryDef("q128_cdc_chunks",
      (s, d) => cdcChunkStats(t(s, d, "documents")),
      Some(cdcChunkStatsSql), Tuning.cpuBound),

    QueryDef("q130_cdc_containment",
      (s, d) => cdcContainmentPairs(t(s, d, "documents")),
      Some(cdcContainmentPairsSql()), Tuning.cpuBound),

    QueryDef("q88_decontaminate_reps",
      (s, d) => decontaminate(t(s, d, "documents"), 0.8, dedupFirst = true),
      Some(decontaminateSql(0.8,
        """(SELECT d.* FROM documents d
            JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) r
            USING (doc_id))""")), Tuning.cpuBound),

    QueryDef("q48_dedup_simhash_pairs",
      (s, d) => simhashPairs(t(s, d, "documents"), maxHamming = 3),
      Some(simhashPairsSql("documents")), Tuning.cpuBound),

    QueryDef("q52_dedup_simhash_reps",
      (s, d) => simhashPairsDeduped(t(s, d, "documents"), maxHamming = 3),
      Some(simhashPairsSql(
        """(SELECT d.* FROM documents d
            JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) r
            USING (doc_id))""")), Tuning.cpuBound),

    QueryDef("q43_dedup_simhash",
      (s, d) => simhash(t(s, d, "documents")),
      Some(s"""SELECT doc_id, ${simhashExprs._2} AS simhash
        FROM (SELECT doc_id, list_transform(string_split(text, ' '), t -> md5(t)) AS hs FROM documents)"""),
      Tuning.cpuBound)
  )
}
