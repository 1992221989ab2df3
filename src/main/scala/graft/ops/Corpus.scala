package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.quantizedDot
import graft.queries.{QueryDef, Tuning}
import graft.queries.QueryDef._

/** Corpus-level token statistics over `documents` (★ SURVEY §2c — the
  * vocabulary-scale siblings of the per-document TextStats ops):
  * sketch-assisted heavy hitters, TF-IDF term ranking, and an inverted
  * index. These are the operators whose naive plans die at web scale not
  * on row count but on VOCABULARY size — each one here keeps the shuffle
  * bounded by candidates/postings, not by raw token volume. */
object Corpus {

  /** Exploded (doc_id, term) token stream; one row per occurrence. */
  def tokenStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))

  val HeavyBufferSize = 256 // MG summary bound m; guarantees freq > n/(m+1) survival
  val HeavyDivisor = 64.0 // report tokens with freq >= n/64 (ample MG headroom)

  /** Heavy tokens, sketch-first: pass 1 runs the Misra–Gries aggregator
    * (bounded ≤ m-entry partial aggregates — the shuffle carries ≤ m
    * entries per input partition, NOT the full vocabulary) to get a
    * candidate superset; pass 2 re-counts ONLY the candidates exactly
    * (broadcast semi-join on the ≤ m-token candidate list) and applies the
    * threshold. Output is exact and deterministic — the sketch can only
    * add candidates that the exact threshold then discards, never lose a
    * qualifying token (n/64 threshold vs n/257 guarantee). */
  def heavyTokens(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokenStream(t(spark, dir, "documents"))
    val mg = graft.functions.MisraGries.candidates(HeavyBufferSize)
    val cands = toks.agg(mg(col("term")).as("cands"))
      .select(explode(col("cands")).as("term"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.join(broadcast(cands), Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt").cast("double") >= col("n_total").cast("double") / HeavyDivisor)
      .select("term", "cnt")
  }

  val heavyTokensSql: String =
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      tot AS (SELECT count(*) AS n_total FROM toks)
      SELECT term, count(*) AS cnt FROM toks GROUP BY term
      HAVING CAST(count(*) AS DOUBLE) >= (SELECT CAST(n_total AS DOUBLE) FROM tot) / $HeavyDivisor"""

  /** Top-k terms per document by TF-IDF. The idf here is the LINEAR form
    * N/df (not log(N/df)): every arithmetic step is then an exactly-
    * rounded IEEE op on identical operands in both engines, which is what
    * makes the score hash-portable — transcendental log differs across
    * libm implementations in the last ulp. Ranking order is identical to
    * the log form (log is monotone), so the top-k sets agree.
    *
    * Shape at scale: tf is one partial-aggregated groupBy; the df table is
    * vocabulary-sized and joined via a SIZE-ADAPTIVE equi-join on term —
    * Catalyst broadcasts it while its estimate fits the broadcast
    * threshold (as on the test corpus) and falls back to a shuffled join
    * when a web-scale vocabulary exceeds it, with no plan change here.
    * The final per-doc top-k is a rank-limited window: WindowGroupLimit
    * keeps ≤ k rows per doc per partition BEFORE the shuffle. */
  def tfidfTopK(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val toks = tokenStream(t(spark, dir, "documents"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = toks.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = t(spark, dir, "documents").agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "term", "tf", "df", "score")
  }

  def tfidfSql(k: Int): String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1),
      s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
              CAST(tf.tf AS DOUBLE) * (SELECT count(*) FROM documents) / df.df AS score
            FROM tf JOIN df USING (term)),
      r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM s)
      SELECT doc_id, rank, term, tf, df, score FROM r WHERE rank <= $k"""

  /** Per-document corpus-frequency score — the CCNet-style LM-filtering
    * proxy (Wenzek et al. 2020 filter docs by LM perplexity; the cheap
    * engine-native stand-in is "how common are this doc's tokens in the
    * corpus"): avg_tf = (Σ over tokens of the token's corpus count) /
    * n_tokens. Low scorers are rare-token/noisy docs, high scorers are
    * stopword soup — the CCNet recipe keeps the middle band. Same
    * determinism discipline as [[tfidfTopK]]: NO log — the score is one
    * exact integer sum divided once, so it hash-matches across engines
    * (a mean of log-probs would drift per-ulp and per-order).
    *
    * Shape at scale: occurrences collapse to per-(doc, term) tf rows
    * FIRST (partial-aggregated — the q57 tf table), so the vocab join
    * carries distinct pairs, never raw occurrences; the vocabulary count
    * itself partial-aggregates off the same tf rows (Σ tf per term ==
    * corpus count). The join is size-adaptive (broadcast while the vocab
    * fits, shuffled equi-join beyond); the per-doc weighted sum
    * Σ tf·cnt is a final partial agg keyed by doc_id. */
  def tokenFrequencyScore(spark: SparkSession, dir: String): DataFrame = {
    val tf = tokenStream(t(spark, dir, "documents"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy("term").agg(sum("tf").as("cnt"))
    tf.join(vocab, "term")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"), sum(col("tf") * col("cnt")).as("sum_tf"))
      .withColumn("avg_tf", col("sum_tf").cast("double") / col("n_tokens"))
  }

  val tokenFrequencyScoreSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      vocab AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1)
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        CAST(SUM(tf * cnt) AS BIGINT) AS sum_tf,
        CAST(CAST(SUM(tf * cnt) AS BIGINT) AS DOUBLE) / CAST(SUM(tf) AS BIGINT) AS avg_tf
      FROM tf JOIN vocab USING (term) GROUP BY doc_id"""

  /** Per-source token-distribution drift: the total-variation distance
    * TV(source, corpus) = ½ Σ_t |p_s(t) − p(t)| — the source-mixing
    * diagnostic ("which source's vocabulary diverges from the blend")
    * run before committing mixture weights. Determinism discipline:
    * the summand |cnt_s(t)·N − cnt(t)·N_s| is EXACT DECIMAL(38,0)
    * arithmetic (cross-multiplied to a common denominator — no per-term
    * division, no float accumulation; 38 digits absorbs token counts to
    * ~1e13 tokens × 1e6-term vocabularies), and the single division by
    * 2·N_s·N happens once per source on exact operands, so the doubles
    * match bit-for-bit across engines.
    *
    * Shape at scale: per-(source, term) counts partial-aggregate off the
    * token stream; corpus-level term counts are Σ over sources of those
    * same rows (vocabulary-keyed second agg, never the raw stream
    * twice); the join is term-keyed and vocabulary-sized. Nothing scales
    * with token volume past the first map-side combine. */
  def sourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val st = t(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cnt_s"))
      .localCheckpoint() // feeds the corpus rollup AND the drift join
    val corpus = st.groupBy("term").agg(sum("cnt_s").as("cnt"))
    val ns = st.groupBy("source").agg(sum("cnt_s").as("n_src"))
    val n = corpus.agg(sum("cnt").as("n_total"))
    st.join(corpus, "term").join(ns, "source").crossJoin(broadcast(n))
      .withColumn("diff", abs(
        col("cnt_s").cast("decimal(38,0)") * col("n_total").cast("decimal(38,0)") -
          col("cnt").cast("decimal(38,0)") * col("n_src").cast("decimal(38,0)")))
      .groupBy("source")
      // n_total rides through the agg (constant per group) — re-joining
      // broadcast(n) here would re-execute the corpus-total subtree and
      // add a second broadcast exchange for a value already in hand
      .agg(first(col("n_src")).as("n_tokens_src"),
        first(col("n_total")).as("n_total"), sum(col("diff")).as("num"))
      .withColumn("tv", col("num").cast("double") /
        (lit(2.0) * col("n_tokens_src").cast("double") * col("n_total").cast("double")))
      .select("source", "n_tokens_src", "tv")
  }

  // NOTE on the missing-term completeness: a term absent from a source
  // contributes |0·N − cnt·N_s| to ITS half of the TV sum; the inner
  // join above drops those rows. The identity Σ_t∈src |…| over PRESENT
  // terms plus Σ_t∉src cnt(t)·N_s would need an outer join — instead the
  // oracle and the operator BOTH use the present-terms sum, so the
  // statistic is "TV restricted to the source's support" — the same
  // deterministic, comparable-across-sources diagnostic, cheaper by the
  // outer-join blowup (sources × vocabulary rows).

  val sourceDriftSql: String =
    """WITH st AS (SELECT source, term, count(*) AS cnt_s
            FROM (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
            GROUP BY 1, 2),
      corpus AS (SELECT term, CAST(SUM(cnt_s) AS BIGINT) AS cnt FROM st GROUP BY 1),
      ns AS (SELECT source, CAST(SUM(cnt_s) AS BIGINT) AS n_src FROM st GROUP BY 1),
      n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM corpus),
      diffs AS (SELECT st.source, ns.n_src,
            abs(CAST(st.cnt_s AS DECIMAL(38,0)) * (SELECT CAST(n_total AS DECIMAL(38,0)) FROM n)
              - CAST(corpus.cnt AS DECIMAL(38,0)) * CAST(ns.n_src AS DECIMAL(38,0))) AS diff
          FROM st JOIN corpus USING (term) JOIN ns USING (source))
      SELECT source, MIN(n_src) AS n_tokens_src,
        CAST(SUM(diff) AS DOUBLE)
          / (2.0 * CAST(MIN(n_src) AS DOUBLE) * (SELECT CAST(n_total AS DOUBLE) FROM n)) AS tv
      FROM diffs GROUP BY source"""

  /** Pairwise source-distribution distance matrix (q208): EXACT total
    * variation distance between every two sources' unigram term
    * distributions — the redundancy/diversity matrix a mixture designer
    * reads next to q98's source-vs-corpus drift (two sources at small
    * TVD are distributionally interchangeable: upweighting both buys no
    * diversity; a source at large TVD from everything is the coverage
    * it uniquely supplies). Log-free per the suite's determinism
    * discipline (no KL): TVD(a,b) = 1 − Σ_t min(p_a(t), p_b(t)), and
    * the min-identity needs only the SHARED vocabulary — an absent
    * term's whole mass lands in the distance automatically — so the
    * term join stays an inner equi-join (the outer-join blowup q98's
    * note avoids is avoided here by algebra, with nothing restricted).
    * min compared by cross-multiplication (c·N on DECIMAL — passes
    * int64 at corpus scale), one ×1e6 quantization at the end.
    *
    * Scale shape: one (source × term-hash) rollup off the scan (int64
    * xxhash64 keys — the q99 discipline; the oracle joins by the raw
    * term string, the collision tripwire); the matrix join's volume is
    * Σ_t (#sources carrying t)² ≤ sources × vocab-rollup rows; totals
    * broadcast; output is source²-bounded. */
  def sourceSimilarityMatrix(spark: SparkSession, dir: String): DataFrame =
    sourceSimilarityMatrixOn(t(spark, dir, "documents"))

  private[graft] def sourceSimilarityMatrixOn(docs: DataFrame): DataFrame = {
    val st = docs
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .select(col("source"), xxhash64(col("term")).as("th"))
      .groupBy("source", "th").agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds totals + both matrix sides
    val ns = st.groupBy("source").agg(sum("c").as("n"))
    val a = st.select(col("source").as("src_a"), col("th"), col("c").as("ca"))
    val b = st.select(col("source").as("src_b"), col("th"), col("c").as("cb"))
    a.join(b, "th").filter(col("src_a") < col("src_b"))
      .join(broadcast(ns.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
      .join(broadcast(ns.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
      .withColumn("minc", least(
        col("ca").cast("decimal(19,0)") * col("nb").cast("decimal(19,0)"),
        col("cb").cast("decimal(19,0)") * col("na").cast("decimal(19,0)")))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared_terms"),
        first(col("na")).as("na"), first(col("nb")).as("nb"),
        sum(col("minc")).as("summin"))
      .withColumn("tvd_micro", expr(
        """CAST(1000000L - (summin * 1000000) div
           (CAST(na AS DECIMAL(19,0)) * CAST(nb AS DECIMAL(19,0))) AS BIGINT)"""))
      .select("src_a", "src_b", "n_shared_terms", "tvd_micro")
  }

  val sourceSimilarityMatrixSql: String =
    """WITH st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
          FROM (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
          GROUP BY 1, 2),
      ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM st GROUP BY 1),
      j AS (SELECT a.source AS src_a, b.source AS src_b, a.c AS ca, b.c AS cb
            FROM st a JOIN st b ON a.term = b.term AND a.source < b.source),
      m AS (SELECT j.src_a, j.src_b,
            LEAST(CAST(j.ca AS HUGEINT) * nb.n, CAST(j.cb AS HUGEINT) * na.n) AS minc,
            na.n AS na, nb.n AS nb
          FROM j JOIN ns na ON na.source = j.src_a JOIN ns nb ON nb.source = j.src_b)
      SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_shared_terms,
        CAST(1000000 - (SUM(minc) * 1000000)
          // (CAST(MIN(na) AS HUGEINT) * MIN(nb)) AS BIGINT) AS tvd_micro
      FROM m GROUP BY 1, 2"""

  /** Fixed-point scale for the q99 bigram conditional probabilities:
    * each p(w2|w1) is quantized to `(c12 · 1e6) div c1` — an exact
    * integer both engines compute identically. */
  val LmScale = 1000000L

  /** Bigram-LM quality score — the next order up from
    * [[tokenFrequencyScore]]'s unigram CCNet proxy: train bigram counts
    * on the corpus itself, then score each document by the mean
    * conditional probability p(w2|w1) = c(w1,w2)/c(w1·) of its bigram
    * occurrences. Word-salad text (rare transitions) scores low even
    * when every individual token is common — the signal a real LM
    * perplexity filter adds over unigram frequency.
    *
    * Determinism discipline: each conditional probability is quantized
    * to the exact integer `(c12 · LmScale) div c1` (all-positive
    * operands, so Spark `div` and DuckDB `//` agree), accumulated as
    * BIGINT — order-independent — and divided ONCE per document by
    * `n_bigrams · LmScale` on exactly-representable operands, so the
    * double matches bit-for-bit across engines. Headroom: the per-term
    * product `bf · (c12·1e6 div c1)` is ≤ bf·1e6 (the quotient is a
    * probability scaled by 1e6), so the doc sum is ≤ n_bigrams·1e6 —
    * overflow needs a 9-petatoken document. The INTERMEDIATE `c12·1e6`
    * binds first, though: a corpus-wide bigram count past ~9.2e12 (one
    * boilerplate bigram dominating a ~1e13-token corpus) would overflow
    * BIGINT before the divide, so both engines widen exactly — Spark to
    * DECIMAL(38,0) (div returns BIGINT), DuckDB to HUGEINT — making the
    * quotient, not the product, the binding bound.
    *
    * Shape at scale: occurrences collapse to per-(doc, bigram) rows
    * first (map-side partial agg); the bigram table c12 = Σ bf and the
    * left-context table c1 = Σ c12 both partial-aggregate off those
    * same rows (never the raw stream twice — the q98 discipline); both
    * joins are bigram-/term-keyed and vocabulary²-sized, size-adaptive
    * (AQE broadcasts while the vocab fits). Docs with < 2 tokens emit
    * no bigrams and drop out — both engines agree.
    *
    * Key representation: every exchange and join is keyed by the
    * `xxhash64` of the bigram (`bh = xxhash64(w1, w2)`, `h1 =
    * xxhash64(w1)` — the multi-arg form chains seeds, so ("a","bc") and
    * ("ab","c") never alias), NOT the strings themselves — at 100x the
    * (doc, bigram) partial agg was the suite's dominant single exchange
    * and the string keys were most of its bytes. The score only ever
    * consumed the strings as equality keys, so the output is unchanged
    * up to 64-bit collisions (~n²/2^65 ≈ 5e-8 at a 10^6 vocabulary);
    * the ORACLE keeps the exact string form, so a collision would
    * surface as a hash mismatch at the correctness gate. */
  def bigramLmScore(spark: SparkSession, dir: String): DataFrame = {
    val tf = t(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        """transform(slice(toks, 1, size(toks) - 1),
             (w, i) -> named_struct('w1', w, 'w2', toks[i + 1]))""")).as("b"))
      .select(col("doc_id"), xxhash64(col("b.w1"), col("b.w2")).as("bh"),
        xxhash64(col("b.w1")).as("h1"))
      .groupBy("doc_id", "bh", "h1").agg(count(lit(1)).as("bf"))
      .localCheckpoint() // feeds c12 (and through it c1) AND the score join
    val c12 = tf.groupBy("bh", "h1").agg(sum("bf").as("c12"))
    val c1 = c12.groupBy("h1").agg(sum("c12").as("c1"))
    tf.join(c12, Seq("bh", "h1")).join(c1, Seq("h1"))
      .groupBy("doc_id")
      .agg(sum("bf").as("n_bigrams"),
        sum(col("bf") * expr(s"(CAST(c12 AS DECIMAL(38,0)) * ${LmScale}L) div c1")).as("score_num"))
      .withColumn("avg_p", col("score_num").cast("double") /
        (col("n_bigrams") * lit(LmScale)).cast("double"))
  }

  val bigramLmScoreSql: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      bi AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
             FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tk)),
      tf AS (SELECT doc_id, w1, w2, count(*) AS bf FROM bi GROUP BY 1, 2, 3),
      c12 AS (SELECT w1, w2, CAST(SUM(bf) AS BIGINT) AS c12 FROM tf GROUP BY 1, 2),
      c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1)
      SELECT doc_id, CAST(SUM(bf) AS BIGINT) AS n_bigrams,
        CAST(SUM(bf * CAST((CAST(c12 AS HUGEINT) * $LmScale) // c1 AS BIGINT)) AS BIGINT) AS score_num,
        CAST(CAST(SUM(bf * CAST((CAST(c12 AS HUGEINT) * $LmScale) // c1 AS BIGINT)) AS BIGINT) AS DOUBLE)
          / (CAST(SUM(bf) AS BIGINT) * $LmScale) AS avg_p
      FROM tf JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
      GROUP BY doc_id"""

  /** CCNet-style quality bucketing: rank every document by its corpus
    * bigram-LM score ([[bigramLmScore]] — the engine's stand-in for
    * CCNet's KenLM perplexity) WITHIN its source and cut each source
    * into head/middle/tail terciles. The published recipe keeps `head`
    * (and often `middle`) for pre-training and drops `tail`; reporting
    * per-(source, bucket) counts and score bounds is the audit view a
    * curation run signs off on.
    *
    * Scale shape: everything up to the per-doc score is q99's plan (one
    * doc-keyed aggregation tree over token volume); the tercile cut
    * adds ONE window shuffle keyed by source over doc-count rows (not
    * token rows) and a source-keyed rollup. Ties broken by doc_id so
    * the ntile frontier is deterministic on both engines. */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val sc = bigramLmScore(spark, dir).select("doc_id", "avg_p")
    val w = Window.partitionBy("source").orderBy(col("avg_p").desc, col("doc_id"))
    sc.join(t(spark, dir, "documents").select("doc_id", "source"), "doc_id")
      .withColumn("nt", ntile(3).over(w))
      .withColumn("bucket", when(col("nt") === 1, "head")
        .when(col("nt") === 2, "middle").otherwise("tail"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("avg_p")).as("min_p"), max(col("avg_p")).as("max_p"))
  }

  val ccnetBucketsSql: String =
    s"""WITH sc AS ($bigramLmScoreSql),
      b AS (SELECT d.source, sc.doc_id, sc.avg_p,
            ntile(3) OVER (PARTITION BY d.source
                           ORDER BY sc.avg_p DESC, sc.doc_id) AS nt
            FROM sc JOIN documents d USING (doc_id))
      SELECT source,
        CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
        count(*) AS n_docs, min(avg_p) AS min_p, max(avg_p) AS max_p
      FROM b GROUP BY 1, 2"""

  val RrfConst = 60L // the published reciprocal-rank-fusion constant
  val RrfPoolK = 50 // per-channel candidate pool
  val RrfTopK = 10
  val RrfScale = 1000000L

  /** Hybrid retrieval with reciprocal-rank fusion (q123, Cormack et al.
    * 2009) — the modern RAG pattern: a sparse channel (BM25 over the
    * fixed term query, q64's scorer verbatim) and a dense channel
    * (integer-quantized cosine against the corpus's min-vec_id query
    * embedding, the q45 discipline) each contribute their top-50 pool,
    * and documents are fused by `Σ RrfScale div (60 + rank)` — RRF's
    * 1/(k+rank) quantized to an exact integer, so the fused ORDER BY
    * never touches a float and both engines agree bit-for-bit. Rank ties
    * inside each channel break on doc_id; the query vector itself is
    * excluded from its channel.
    *
    * Shape at scale: each channel is its existing operator's plan (BM25:
    * broadcast stats + TakeOrderedAndProject; dense: broadcast 1-row
    * query + TakeOrderedAndProject); fusion is a full-outer join of two
    * ≤50-row frames — driver-trivial, executor-bounded. The rank
    * windows reuse TakeOrderedAndProject's reported output ordering (no
    * re-sort of the pools), and the fusion join is hinted SHUFFLE_HASH —
    * full-outer hash join needs no sort at all, so the only Sort left in
    * the whole plan is the final top-10. */
  def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    val sparse = bm25TopK(spark, dir, Bm25Terms, RrfPoolK)
      .withColumn("r_sparse", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)))
      .select("doc_id", "r_sparse")
    val q = Similarity.quantized(spark, dir)
    val minId = q.agg(min("vec_id")).head().getLong(0) // 1-row driver scalar
    val qvec = broadcast(q.filter(col("vec_id") === minId)
      .select(col("qv").as("qq"), col("nrm").as("nq")))
    val dense = q.filter(col("vec_id") =!= minId).crossJoin(qvec)
      .withColumn("sim", Similarity.cosine(
        quantizedDot(col("qv"), col("qq")).cast("double"), col("nrm"), col("nq")))
      .orderBy(col("sim").desc, col("vec_id").asc).limit(RrfPoolK)
      .withColumn("r_dense", row_number().over(
        Window.orderBy(col("sim").desc, col("vec_id").asc)))
      .select(col("vec_id").as("doc_id"), col("r_dense"))
    sparse.hint("SHUFFLE_HASH").join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf_q",
        coalesce(expr(s"$RrfScale div ($RrfConst + r_sparse)"), lit(0L)) +
          coalesce(expr(s"$RrfScale div ($RrfConst + r_dense)"), lit(0L)))
      .orderBy(col("rrf_q").desc, col("doc_id").asc).limit(RrfTopK)
      .select("doc_id", "r_sparse", "r_dense", "rrf_q")
  }

  def hybridSearchSql: String =
    s"""WITH sp AS (${bm25Sql(Bm25Terms, RrfPoolK)}),
      spr AS (SELECT doc_id,
                CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS r_sparse
              FROM sp),
      qv AS (SELECT vec_id, ${Similarity.quantSql} AS qv FROM embeddings),
      nn AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS nrm FROM qv),
      mq AS (SELECT min(vec_id) AS mid FROM embeddings),
      qq AS (SELECT qv AS qq, nrm AS nq FROM nn WHERE vec_id = (SELECT mid FROM mq)),
      ds AS (SELECT vec_id,
               CAST(list_sum(list_transform(range(1, len(qv) + 1),
                 i -> qv[i] * qq[i])) AS DOUBLE)
                 / (sqrt(CAST(nrm AS DOUBLE)) * sqrt(CAST(nq AS DOUBLE))) AS sim
             FROM nn CROSS JOIN qq WHERE vec_id <> (SELECT mid FROM mq)),
      dp AS (SELECT vec_id, sim FROM ds ORDER BY sim DESC, vec_id LIMIT $RrfPoolK),
      dr AS (SELECT vec_id AS doc_id,
               CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INT) AS r_dense
             FROM dp)
      SELECT COALESCE(spr.doc_id, dr.doc_id) AS doc_id, r_sparse, r_dense,
        CAST(COALESCE($RrfScale // ($RrfConst + r_sparse), 0)
           + COALESCE($RrfScale // ($RrfConst + r_dense), 0) AS BIGINT) AS rrf_q
      FROM spr FULL OUTER JOIN dr ON spr.doc_id = dr.doc_id
      ORDER BY rrf_q DESC, doc_id LIMIT $RrfTopK"""

  /** Tokenizer fertility report (q117): per-source mean BPE tokens per
    * whitespace word under the trained tokenizer — THE metric a tokenizer
    * release ships with (fertility ≈ 1 means the vocabulary fits the
    * domain; high fertility warns of over-segmentation, e.g. code or
    * out-of-domain text). Pure composition: q110's per-doc encode rolled
    * up by source, with the exact-operand discipline — one BIGINT/BIGINT
    * double division per source, no float accumulation. */
  def tokenizerFertility(spark: SparkSession, dir: String,
      nMerges: Int = BpeTrainMerges): DataFrame =
    bpeEncode(spark, dir, nMerges)
      .join(t(spark, dir, "documents").select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_ws_tokens").as("n_ws"), sum("n_bpe_tokens").as("n_bpe"))
      .withColumn("fertility", col("n_bpe").cast("double") / col("n_ws").cast("double"))

  def tokenizerFertilitySql(nMerges: Int = BpeTrainMerges): String =
    s"""WITH enc AS (${bpeEncodeSql(nMerges)})
      SELECT source, count(*) AS n_docs,
        CAST(SUM(n_ws_tokens) AS BIGINT) AS n_ws,
        CAST(SUM(n_bpe_tokens) AS BIGINT) AS n_bpe,
        CAST(SUM(n_bpe_tokens) AS DOUBLE) / CAST(SUM(n_ws_tokens) AS BIGINT) AS fertility
      FROM enc JOIN documents USING (doc_id)
      GROUP BY source"""

  val DiversityNgram = 4 // n-gram order for the diversity report

  /** N-gram diversity report (q118): per-source distinct-4-gram ratio —
    * the corpus-level diversity measurement (the distinct-n-grams side
    * of self-BLEU) that catches template/synthetic text whose documents
    * pass per-doc quality but repeat each other. `distinct_ratio` near 1
    * = healthy variety; low = boilerplate or generator collapse. Also
    * reports the top n-gram's share (`top_share`) — the q56 heavy-hitter
    * question asked of phrases.
    *
    * All-integer counts; two double divisions per source at the end on
    * exact operands. Shape at scale: occurrences collapse map-side to
    * (source, gram) rows — the only corpus-sized exchange; the rollup
    * and the max are (source)-keyed off those rows (q98 read-once). */
  def ngramDiversity(spark: SparkSession, dir: String,
      n: Int = DiversityNgram): DataFrame = {
    val grams = t(spark, dir, "documents")
      .select(col("source"), split(col("text"), " ").as("toks"))
      .select(col("source"), explode(expr(
        s"""CASE WHEN size(toks) < $n THEN array()
           ELSE transform(sequence(1, size(toks) - ${n - 1}),
             i -> concat_ws(' ', ${(0 until n).map(j => s"toks[i + ${j - 1}]").mkString(", ")})) END"""))
        .as("g"))
      .groupBy("source", "g").agg(count(lit(1)).as("cnt"))
    grams.groupBy("source")
      .agg(count(lit(1)).as("n_distinct"), sum("cnt").as("n_total"),
        max("cnt").as("top_cnt"))
      .withColumn("distinct_ratio",
        col("n_distinct").cast("double") / col("n_total").cast("double"))
      .withColumn("top_share",
        col("top_cnt").cast("double") / col("n_total").cast("double"))
  }

  def ngramDiversitySql(n: Int = DiversityNgram): String =
    s"""WITH tk AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
      gr AS (SELECT source, ${(0 until n).map(j => s"toks[i + $j]").mkString(" || ' ' || ")} AS g
             FROM (SELECT source, toks, unnest(range(1, len(toks) - ${n - 2})) AS i FROM tk)),
      c AS (SELECT source, g, count(*) AS cnt FROM gr GROUP BY 1, 2)
      SELECT source, count(*) AS n_distinct, CAST(sum(cnt) AS BIGINT) AS n_total,
        CAST(max(cnt) AS BIGINT) AS top_cnt,
        CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS BIGINT) AS distinct_ratio,
        CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS BIGINT) AS top_share
      FROM c GROUP BY source"""

  /** Frequency-of-frequency histogram (q119): how many distinct tokens
    * occur k times, k in power-of-two bands — the Zipf/vocabulary-health
    * diagnostic behind OOV planning and Good–Turing smoothing (N_k
    * counts). Uses q112's binary-digit-count bucket (no float log).
    * Shape: vocabulary rollup (the only corpus-sized exchange), then a
    * ~40-bucket rollup — both map-side combined. */
  def freqOfFreq(spark: SparkSession, dir: String): DataFrame =
    tokenStream(t(spark, dir, "documents"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .withColumn("freq_bucket", length(expr("bin(cnt)")).cast("long"))
      .groupBy("freq_bucket")
      .agg(count(lit(1)).as("n_terms"), sum("cnt").as("n_occurrences"))

  val freqOfFreqSql: String =
    """WITH c AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      v AS (SELECT term, count(*) AS cnt FROM c GROUP BY 1)
      SELECT CAST(length(bin(cnt)) AS BIGINT) AS freq_bucket,
        count(*) AS n_terms, CAST(sum(cnt) AS BIGINT) AS n_occurrences
      FROM v GROUP BY 1"""

  /** Heaps'-law vocabulary-growth curve (q189): distinct-vocabulary size
    * at power-of-two corpus prefixes — the empirical V(n) ≈ K·n^β curve
    * that sizes tokenizer vocabularies and predicts OOV decay as the
    * corpus grows (Heaps 1978). q119 answers "how is frequency mass
    * distributed NOW"; this answers "how fast does new vocabulary keep
    * arriving" — the two sides of the same planning decision.
    *
    * Prefixes are deterministic doc_id ranges: bucket b = binary digit
    * count of doc_id+1 (q112's no-float-log trick), so prefix b = all
    * docs with doc_id+1 < 2^b and the curve needs NO global sort — a
    * word's prefix of first appearance is just `min(doc_id)` per word.
    * Shape: one vocabulary-bounded rollup keyed by xxhash64(term) (the
    * q99/q188 discipline — bucket COUNTS only need term identity; the
    * oracle recomputes from strings), one (≤64-bucket) doc rollup, and
    * cumulative sums over ≤64 rollup rows. The heaps_q column is the
    * quantized V/n ratio (`cum_vocab·1e6 div cum_tokens`) — monotone
    * decreasing on natural text, the sanity line a template-collapsed
    * or synthetic-flooded corpus visibly breaks. */
  def heapsCurve(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val firstB = toks.select(expr("xxhash64(term)").as("th"), col("doc_id"))
      .groupBy("th").agg(min("doc_id").as("first_doc"))
      .withColumn("bucket", length(expr("bin(first_doc + 1)")).cast("long"))
      .groupBy("bucket").agg(count(lit(1)).as("new_terms"))
    val docB = docs.select(
      length(expr("bin(doc_id + 1)")).cast("long").as("bucket"),
      expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_toks"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docB.join(broadcast(firstB), Seq("bucket"), "left")
      .na.fill(0L, Seq("new_terms"))
      .withColumn("cum_docs", sum("n_docs").over(w))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("cum_vocab", sum("new_terms").over(w))
      .withColumn("heaps_q", expr("(cum_vocab * 1000000L) div cum_tokens"))
      .select("bucket", "n_docs", "cum_docs", "cum_tokens", "cum_vocab", "heaps_q")
  }

  val heapsCurveSql: String =
    """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      f AS (SELECT term, min(doc_id) AS first_doc FROM tk GROUP BY 1),
      fb AS (SELECT CAST(length(bin(first_doc + 1)) AS BIGINT) AS bucket,
             count(*) AS new_terms FROM f GROUP BY 1),
      db AS (SELECT CAST(length(bin(doc_id + 1)) AS BIGINT) AS bucket,
             count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
      j AS (SELECT db.bucket, db.n_docs, db.n_tokens,
             coalesce(fb.new_terms, 0) AS new_terms
           FROM db LEFT JOIN fb USING (bucket))
      SELECT bucket, CAST(n_docs AS BIGINT) AS n_docs,
        CAST(sum(n_docs) OVER (ORDER BY bucket) AS BIGINT) AS cum_docs,
        CAST(sum(n_tokens) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens,
        CAST(sum(new_terms) OVER (ORDER BY bucket) AS BIGINT) AS cum_vocab,
        (CAST(sum(new_terms) OVER (ORDER BY bucket) AS BIGINT) * 1000000)
          // CAST(sum(n_tokens) OVER (ORDER BY bucket) AS BIGINT) AS heaps_q
      FROM j"""

  /** Head-mass concentration (q217): per source, the share of token mass
    * covered by its top-10/100/1000 terms — the rank-frequency HEAD view
    * next to q189's Heaps tail view (vocabulary growth) and q208's
    * pairwise TVD: a source whose top-10 terms carry half its mass is
    * boilerplate/template-heavy (navigation chrome, log lines) even when
    * every document is textually unique, which is exactly the failure
    * mode exact/near dedup cannot see and q149's per-source line
    * thresholds can (this is the term-level screen that says WHERE to
    * point q149). Log-free Zipf-head summary — shares are exact
    * DECIMAL-widened micro rationals, no slope fit, no ln.
    *
    * Scale shape: occurrences collapse to (source, term) counts
    * map-side; the rank window runs over those ROLLUP rows partitioned
    * by source (vocab-bounded, never the occurrence stream — the
    * q195/q209 distinct-level discipline); the share rollup is
    * source-bounded. */
  def headMass(docs: DataFrame): DataFrame = {
    val st = docs.select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
    st.withColumn("rnk", expr(
        "row_number() OVER (PARTITION BY source ORDER BY cnt DESC, term)"))
      .groupBy("source").agg(
        count(lit(1)).as("n_terms"),
        sum("cnt").as("n_tokens"),
        sum(when(col("rnk") <= 10, col("cnt")).otherwise(0L)).as("top10"),
        sum(when(col("rnk") <= 100, col("cnt")).otherwise(0L)).as("top100"),
        sum(when(col("rnk") <= 1000, col("cnt")).otherwise(0L)).as("top1000"))
      .withColumn("top10_micro",
        expr("CAST((CAST(top10 AS DECIMAL(38,0)) * 1000000) div n_tokens AS BIGINT)"))
      .withColumn("top100_micro",
        expr("CAST((CAST(top100 AS DECIMAL(38,0)) * 1000000) div n_tokens AS BIGINT)"))
      .withColumn("top1000_micro",
        expr("CAST((CAST(top1000 AS DECIMAL(38,0)) * 1000000) div n_tokens AS BIGINT)"))
      .select("source", "n_terms", "n_tokens",
        "top10_micro", "top100_micro", "top1000_micro")
  }

  val headMassSql: String =
    """WITH st AS (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
      cnts AS (SELECT source, term, CAST(count(*) AS BIGINT) AS cnt FROM st GROUP BY 1, 2),
      rk AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY cnt DESC, term) AS rnk
           FROM cnts)
      SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
        CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        CAST((CAST(SUM(CASE WHEN rnk <= 10 THEN cnt ELSE 0 END) AS HUGEINT) * 1000000)
          // SUM(cnt) AS BIGINT) AS top10_micro,
        CAST((CAST(SUM(CASE WHEN rnk <= 100 THEN cnt ELSE 0 END) AS HUGEINT) * 1000000)
          // SUM(cnt) AS BIGINT) AS top100_micro,
        CAST((CAST(SUM(CASE WHEN rnk <= 1000 THEN cnt ELSE 0 END) AS HUGEINT) * 1000000)
          // SUM(cnt) AS BIGINT) AS top1000_micro
      FROM rk GROUP BY source"""

  val VocabCoverageV = 1000 // the "tokenizer vocabulary" stand-in size

  /** Vocabulary-coverage / OOV audit (q221): fix the corpus top-V terms
    * (V=1000 by corpus count, the tokenizer-vocab stand-in) and report
    * per source how much of its token mass that vocabulary covers, plus
    * its distinct out-of-vocabulary term count. The tokenizer-sizing
    * twin of q117's fertility: fertility measures how hard the LEARNED
    * BPE works per word; coverage measures how much of each source a
    * FIXED head vocabulary would leave out-of-vocab — the number that
    * says whether a new source needs a tokenizer retrain before it can
    * join the mix.
    *
    * Scale shape: ONE (source, term) rollup feeds both the corpus vocab
    * (a term-keyed second agg of the same rows) and the coverage rollup;
    * top-V rides orderBy+limit (TakeOrderedAndProject — distributed
    * top-k, never a single-partition rank window) with the (cnt DESC,
    * term ASC) deterministic tie-break; the V-row vocab broadcasts back
    * onto rollup rows; output is source-bounded. */
  def vocabCoverage(docs: DataFrame, v: Int = VocabCoverageV): DataFrame = {
    val st = docs.select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // feeds the vocab agg AND the coverage rollup
    val vocab = st.groupBy("term").agg(sum("cnt").as("ccnt"))
      .orderBy(col("ccnt").desc, col("term")).limit(v)
      .select(col("term"), lit(1L).as("in_v"))
    st.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("source").agg(
        sum("cnt").as("n_tokens"),
        sum(when(col("in_v").isNotNull, col("cnt")).otherwise(0L)).as("covered"),
        expr("CAST(count_if(in_v IS NULL) AS BIGINT)").as("n_oov_terms"))
      .withColumn("oov_micro", expr(
        "CAST((CAST(n_tokens - covered AS DECIMAL(38,0)) * 1000000) div n_tokens AS BIGINT)"))
      .select("source", "n_tokens", "covered", "n_oov_terms", "oov_micro")
  }

  def vocabCoverageSql(v: Int = VocabCoverageV): String =
    s"""WITH st AS (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
      cnts AS (SELECT source, term, CAST(count(*) AS BIGINT) AS cnt FROM st GROUP BY 1, 2),
      vocab AS (SELECT term, 1 AS in_v FROM
          (SELECT term, CAST(SUM(cnt) AS BIGINT) AS ccnt FROM cnts GROUP BY 1
           ORDER BY ccnt DESC, term LIMIT $v)),
      cov AS (SELECT c.source, c.cnt, v.in_v
          FROM cnts c LEFT JOIN vocab v USING (term))
      SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN in_v = 1 THEN cnt ELSE 0 END) AS BIGINT) AS covered,
        CAST(count(*) FILTER (WHERE in_v IS NULL) AS BIGINT) AS n_oov_terms,
        CAST((CAST(SUM(cnt) - SUM(CASE WHEN in_v = 1 THEN cnt ELSE 0 END) AS HUGEINT)
          * 1000000) // SUM(cnt) AS BIGINT) AS oov_micro
      FROM cov GROUP BY source"""

  /** Per-label characteristic terms, c-TF-IDF style (q228): for each
    * embedding label (= topic cluster), the top-k terms ranked by how
    * over-represented they are in that label's documents vs the corpus —
    * BERTopic's cluster-labeling step (Grootendorst 2022,
    * arXiv:2203.05794) made exact and log-free: rank by the quantized
    * rational (tf_label · n_total · 1e6) div (n_label · n_term) — the
    * q114/q187 discipline (log is monotone, so the lift ORDER is
    * identical and the number stays an exact integer). This is what
    * turns q61's anonymous cluster ids into a human-readable topic
    * card — the missing rendering step between the cluster mix (q109)
    * and a release note.
    *
    * Scale shape: labels join the doc stream BEFORE tokenization
    * explodes it (doc-keyed equi-join); occurrences collapse to
    * (label, term) rollup rows map-side; label totals broadcast; term
    * totals are a vocab-keyed second agg of the same rows (rollup-level
    * exchange); the rank window partitions by label over rollup rows. */
  def labelTerms(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val labels = t(spark, dir, "embeddings").select(col("vec_id").as("doc_id"), col("label"))
    val lt = t(spark, dir, "documents").select("doc_id", "text")
      .join(labels, "doc_id")
      .select(col("label"), explode(split(col("text"), " ")).as("term"))
      .groupBy("label", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint() // feeds label totals, term totals, AND the rank
    val labTot = lt.groupBy("label").agg(sum("tf").as("n_label"))
    val termTot = lt.groupBy("term").agg(sum("tf").as("n_term"))
    val tot = lt.agg(sum("tf").as("n_total"))
    lt.join(broadcast(labTot), "label")
      .join(termTot, "term")
      .crossJoin(broadcast(tot))
      .withColumn("score_q", expr(
        "CAST((CAST(tf AS DECIMAL(38,0)) * n_total * 1000000) div (CAST(n_label AS DECIMAL(38,0)) * n_term) AS BIGINT)"))
      .withColumn("rnk", expr(
        "row_number() OVER (PARTITION BY label ORDER BY score_q DESC, term)"))
      .filter(col("rnk") <= k)
      .select("label", "rnk", "term", "tf", "score_q")
  }

  def labelTermsSql(k: Int = 5): String =
    s"""WITH lt AS (SELECT e.label, unnest(string_split(d.text, ' ')) AS term
          FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
      c AS (SELECT label, term, CAST(count(*) AS BIGINT) AS tf FROM lt GROUP BY 1, 2),
      la AS (SELECT label, CAST(SUM(tf) AS BIGINT) AS n_label FROM c GROUP BY 1),
      te AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS n_term FROM c GROUP BY 1),
      tt AS (SELECT CAST(SUM(tf) AS BIGINT) AS n_total FROM c),
      s AS (SELECT c.label, c.term, c.tf,
            CAST((CAST(c.tf AS HUGEINT) * tt.n_total * 1000000)
              // (CAST(la.n_label AS HUGEINT) * te.n_term) AS BIGINT) AS score_q
          FROM c JOIN la USING (label) JOIN te USING (term) CROSS JOIN tt),
      r AS (SELECT *, row_number() OVER (PARTITION BY label ORDER BY score_q DESC, term) AS rnk
          FROM s)
      SELECT label, CAST(rnk AS BIGINT) AS rnk, term, tf, score_q FROM r WHERE rnk <= $k"""

  /** Lexical diversity, Gini-Simpson form (q233): per source, the
    * probability two random token occurrences are DIFFERENT terms —
    * 1 − Σp² = (N² − Σc²)/N² — plus the inverse-Simpson "effective
    * vocabulary" N²·1e6 div Σc² (how many equally-common terms would
    * produce this diversity). The log-free entropy stand-in (Shannon
    * would put a per-term log in the rollup — not portable; Simpson is
    * ONE exact rational per source): completes the lexical triptych —
    * q217 head mass (how top-heavy), q221 coverage (how much a fixed
    * vocab catches), q233 diversity (how concentrated overall). A
    * template-spam source scores low diversity even when q94/q42 find
    * no duplicate lines or documents.
    *
    * Scale shape: the same (source, term) rollup as q217/q221; Σc² is
    * one DECIMAL(38,0) partial agg over rollup rows; output is
    * source-bounded. */
  def simpsonDiversity(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
      .groupBy("source").agg(
        count(lit(1)).as("n_terms"),
        sum("cnt").as("n_tokens"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt")).as("sum_sq"))
      .withColumn("simpson_micro", expr(
        """CAST(((CAST(n_tokens AS DECIMAL(38,0)) * n_tokens - sum_sq) * 1000000)
           div (CAST(n_tokens AS DECIMAL(38,0)) * n_tokens) AS BIGINT)"""))
      .withColumn("inv_simpson_micro", expr(
        "CAST((CAST(n_tokens AS DECIMAL(38,0)) * n_tokens * 1000000) div sum_sq AS BIGINT)"))
      .select("source", "n_terms", "n_tokens", "simpson_micro", "inv_simpson_micro")

  val simpsonDiversitySql: String =
    """WITH c AS (SELECT source, term, CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
          GROUP BY 1, 2),
      r AS (SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
            CAST(SUM(cnt) AS BIGINT) AS n_tokens,
            CAST(SUM(CAST(cnt AS HUGEINT) * cnt) AS HUGEINT) AS sum_sq
          FROM c GROUP BY 1)
      SELECT source, n_terms, n_tokens,
        CAST(((CAST(n_tokens AS HUGEINT) * n_tokens - sum_sq) * 1000000)
          // (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT) AS simpson_micro,
        CAST((CAST(n_tokens AS HUGEINT) * n_tokens * 1000000) // sum_sq AS BIGINT)
          AS inv_simpson_micro
      FROM r"""

  /** CCNet-style frequency bands (q246): docs split into head / middle /
    * tail terciles of the corpus-frequency score (the exact integer
    * avg_tf behind [[tokenFrequencyScore]] — high = stopword soup, low =
    * rare-token noise), reported per (band × source) with doc and token
    * budgets. This is the CCNet recipe's final step made a table (Wenzek
    * et al. 2020 keep the middle band); q220 cuts by QUALITY score, this
    * cuts by the LM-proxy axis — the two tercile tables together are the
    * filter-design grid.
    *
    * Tie-aware exact terciles without ranking docs — boundaries from
    * cumulative counts over DISTINCT avg-micro levels (the q220/q195
    * count-of-counts discipline); per-doc score is an exact integer
    * rational (sum_tf·1e6 div n_tokens, DECIMAL-widened).
    *
    * Scale shape: the tf/vocab rollups are q58's; the level window runs
    * over distinct score levels; boundaries broadcast; the band stamp is
    * a stateless CASE; final rollup is (3 × sources)-bounded. */
  def ccnetBands(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val tf = tokenStream(docs).groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy("term").agg(sum("tf").as("cnt"))
    val scored = tf.join(vocab, "term")
      .groupBy("doc_id")
      // widen BEFORE summing (the crossSplitShift wsum discipline): cnt is a
      // corpus-wide term count, so a raw BIGINT tf*cnt sum can wrap at 100x
      // scale while DuckDB's HUGEINT-promoting SUM keeps going
      .agg(sum("tf").as("n_tokens"),
        sum(expr("CAST(tf AS DECIMAL(38,0)) * cnt")).as("sum_tf"))
      .withColumn("avg_micro", expr(
        "CAST((sum_tf * 1000000) div n_tokens AS BIGINT)"))
      .localCheckpoint() // feeds the level rollup AND the band stamp
    val levels = scored.groupBy("avg_micro").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("avg_micro")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val bounds = levels.withColumn("cum", sum("cnt").over(w))
      .crossJoin(broadcast(levels.agg(sum("cnt").as("n"))))
      .agg(
        min(when(expr("cum >= (n + 2) div 3"), col("avg_micro"))).as("b1"),
        min(when(expr("cum >= (2 * n + 2) div 3"), col("avg_micro"))).as("b2"))
    scored.join(docs.select("doc_id", "source"), "doc_id")
      .crossJoin(broadcast(bounds))
      .withColumn("band",
        when(col("avg_micro") <= col("b1"), lit("tail"))
          .when(col("avg_micro") <= col("b2"), lit("middle")).otherwise(lit("head")))
      .groupBy("band", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
  }

  val ccnetBandsSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
      vocab AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
      sc AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
            CAST((CAST(SUM(tf * cnt) AS HUGEINT) * 1000000) // SUM(tf) AS BIGINT) AS avg_micro
          FROM tf JOIN vocab USING (term) GROUP BY doc_id),
      lv AS (SELECT avg_micro, CAST(count(*) AS BIGINT) AS cnt FROM sc GROUP BY 1),
      cu AS (SELECT avg_micro, SUM(cnt) OVER (ORDER BY avg_micro) AS cum,
            (SELECT SUM(cnt) FROM lv) AS n FROM lv),
      b AS (SELECT MIN(CASE WHEN cum >= (n + 2) // 3 THEN avg_micro END) AS b1,
            MIN(CASE WHEN cum >= (2 * n + 2) // 3 THEN avg_micro END) AS b2 FROM cu)
      SELECT CASE WHEN sc.avg_micro <= b.b1 THEN 'tail'
                  WHEN sc.avg_micro <= b.b2 THEN 'middle' ELSE 'head' END AS band,
        d.source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(SUM(sc.n_tokens) AS BIGINT) AS n_tokens
      FROM sc JOIN documents d USING (doc_id) CROSS JOIN b
      GROUP BY 1, 2"""

  /** Cross-split frequency shift (q250): score the TEST split's tokens
    * under the TRAIN split's unigram counts — per source: test-token
    * OOV-vs-train rate and the exact mean train-frequency of covered
    * occurrences. The log-free domain-shift screen between q38's split
    * and any eval that trusts it: a test slice whose tokens the train
    * split barely contains will read as "hard" for reasons that are
    * sampling artifacts, not model quality (the perplexity-eval
    * confound, caught BEFORE training). Complements q245: that audits
    * COUNTS per split, this audits CONTENT.
    *
    * Scale shape: one (split × source × term) rollup off the scan
    * (checkpointed — train vocab and test stream both read it); the
    * train vocab is a term-keyed second agg; the test join is
    * rollup-level; output is source-bounded. All integers; means are
    * DECIMAL-widened micro rationals. */
  def crossSplitShift(spark: SparkSession, dir: String): DataFrame = {
    val tf = t(spark, dir, "documents")
      .withColumn("split", expr(Sampling.splitCase("doc_id")))
      .select(col("split"), col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("split", "source", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val trainVocab = tf.filter(col("split") === "train")
      .groupBy("term").agg(sum("tf").as("cnt"))
    tf.filter(col("split") === "test")
      .join(trainVocab, Seq("term"), "left")
      .groupBy("source").agg(
        sum("tf").as("n_test_tokens"),
        sum(when(col("cnt").isNotNull, col("tf")).otherwise(0L)).as("covered"),
        sum(when(col("cnt").isNotNull,
          expr("CAST(tf AS DECIMAL(38,0)) * cnt")).otherwise(expr("CAST(0 AS DECIMAL(38,0))")))
          .as("wsum"))
      .withColumn("oov_micro", expr(
        "CAST((CAST(n_test_tokens - covered AS DECIMAL(38,0)) * 1000000) div n_test_tokens AS BIGINT)"))
      .withColumn("mean_train_freq_micro", expr(
        "CASE WHEN covered = 0 THEN NULL ELSE CAST((wsum * 1000000) div covered AS BIGINT) END"))
      .select("source", "n_test_tokens", "covered", "oov_micro",
        "mean_train_freq_micro")
  }

  val crossSplitShiftSql: String =
    s"""WITH tf AS (SELECT ${Sampling.splitCaseDuck("doc_id")} AS split, source, term,
            CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
                FROM documents)
          GROUP BY 1, 2, 3),
      tv AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf
          WHERE split = 'train' GROUP BY 1),
      j AS (SELECT t.source, t.tf, tv.cnt FROM tf t LEFT JOIN tv USING (term)
          WHERE t.split = 'test')
      SELECT source, CAST(SUM(tf) AS BIGINT) AS n_test_tokens,
        CAST(SUM(CASE WHEN cnt IS NOT NULL THEN tf ELSE 0 END) AS BIGINT) AS covered,
        CAST((CAST(SUM(tf) - SUM(CASE WHEN cnt IS NOT NULL THEN tf ELSE 0 END) AS HUGEINT)
          * 1000000) // SUM(tf) AS BIGINT) AS oov_micro,
        CASE WHEN SUM(CASE WHEN cnt IS NOT NULL THEN tf ELSE 0 END) = 0 THEN NULL
             ELSE CAST((CAST(SUM(CASE WHEN cnt IS NOT NULL THEN tf * cnt ELSE 0 END) AS HUGEINT)
               * 1000000) // SUM(CASE WHEN cnt IS NOT NULL THEN tf ELSE 0 END) AS BIGINT) END
          AS mean_train_freq_micro
      FROM j GROUP BY source"""

  val KmvK = 256 // sketch size: k smallest hashes kept per source

  /** KMV (k-minimum-values) distinct-vocabulary estimate per source
    * (q230, Bar-Yossef et al. 2002): keep the k smallest 60-bit term
    * hashes; the distinct count is estimated by how densely the minima
    * pack the hash space — est = (k−1)·2⁶⁰ div h_k. The third portable
    * sketch next to CMS (q116: how often) and Misra-Gries (q56: who is
    * heavy) — KMV answers HOW MANY distinct, in fixed memory, and unlike
    * Spark's HLL it is cross-engine EXACT (md5-derived hashes: both
    * engines build the IDENTICAL sketch, so the estimate hash-matches —
    * q70's HLL stays rows-only for exactly this reason). The query
    * reports estimate next to exact distinct and the signed micro error,
    * so the ±1/√k guarantee is visible in the output. KMV's union
    * mergeability (k smallest of a union of sketches = sketch of the
    * union) is what makes it the 100 TB shape: per-shard sketches merge
    * on the driver without re-scanning (spec-locked below).
    *
    * Scale shape: occurrences collapse to DISTINCT (source, hash) rows
    * map-side; the k-smallest selection is a rank window over those
    * DISTINCT-level rows per source; everything after is k·sources
    * rows. */
  def kmvDistinct(docs: DataFrame, k: Int = KmvK): DataFrame = {
    val hashes = docs
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .select(col("source"),
        expr("CAST(conv(substr(md5(term), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .distinct() // map-side collapse: occurrences never reach the window
    val ranked = hashes.withColumn("rnk", expr(
      "row_number() OVER (PARTITION BY source ORDER BY h)"))
    val exact = hashes.groupBy("source").agg(count(lit(1)).as("n_exact"))
    ranked.filter(col("rnk") <= k)
      .groupBy("source").agg(count(lit(1)).as("n_kept"), max("h").as("kth_hash"))
      .join(broadcast(exact), "source")
      .withColumn("est", expr(
        // n_kept < k means the source's full distinct set fits the
        // sketch — the estimate IS the exact count
        s"CASE WHEN n_kept < $k THEN n_kept ELSE " +
          s"CAST(((CAST(n_kept AS DECIMAL(38,0)) - 1) * 1152921504606846976) div kth_hash AS BIGINT) END"))
      // abs BEFORE the division: integral division of negatives is
      // truncate-vs-floor across engines (the q218 trapdoor); the sign
      // is readable from est vs n_exact, both in the output
      .withColumn("err_abs_micro", expr(
        "(abs(est - n_exact) * 1000000L) div n_exact"))
      .select("source", "n_exact", "n_kept", "kth_hash", "est", "err_abs_micro")
  }

  def kmvDistinctSql(k: Int = KmvK): String =
    s"""WITH h AS (SELECT DISTINCT source,
            CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) AS h
          FROM (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)),
      rk AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rnk
          FROM h),
      sk AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
            CAST(MAX(h) AS BIGINT) AS kth_hash
          FROM rk WHERE rnk <= $k GROUP BY 1),
      ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM h GROUP BY 1)
      SELECT sk.source, ex.n_exact, sk.n_kept, sk.kth_hash,
        CASE WHEN sk.n_kept < $k THEN sk.n_kept
             ELSE CAST(((CAST(sk.n_kept AS HUGEINT) - 1) * 1152921504606846976)
               // sk.kth_hash AS BIGINT) END AS est,
        (abs((CASE WHEN sk.n_kept < $k THEN sk.n_kept
             ELSE CAST(((CAST(sk.n_kept AS HUGEINT) - 1) * 1152921504606846976)
               // sk.kth_hash AS BIGINT) END) - ex.n_exact) * 1000000) // ex.n_exact
          AS err_abs_micro
      FROM sk JOIN ex USING (source)"""

  /** [[kmvDistinct]] via the [[graft.functions.KmvSketch]] typed
    * Aggregator (q234): same estimate, sketch-sized exchange. The q230
    * form DISTINCTs the (source, hash) stream (a vocabulary-sized
    * shuffle) then rank-windows it; this form feeds raw occurrence
    * hashes straight into an ObjectHashAggregate whose partials are
    * ≤ k sorted longs per partition — the exchange carries k·partitions
    * longs at ANY corpus size, and the merge is the same k-min-of-union
    * the OpsSpec merge test locks. Answer-identical BY CONSTRUCTION
    * (the KMV buffer is a set function — spec'd equal to the window
    * form under an adversarial repartition); gated against q230's
    * oracle chain minus the exact-count columns. */
  def kmvDistinctAgg(docs: DataFrame, k: Int = KmvK): DataFrame = {
    val kmv = graft.functions.KmvSketch.sketch(k)
    docs.select(col("source"), explode(split(col("text"), " ")).as("term"))
      .select(col("source"),
        expr("CAST(conv(substr(md5(term), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .groupBy("source").agg(kmv(col("h")).as("sk"))
      .select(col("source"), size(col("sk")).cast("long").as("n_kept"),
        expr("element_at(sk, -1)").as("kth_hash"))
      .withColumn("est", expr(
        s"CASE WHEN n_kept < $k THEN n_kept ELSE " +
          s"CAST(((CAST(n_kept AS DECIMAL(38,0)) - 1) * 1152921504606846976) div kth_hash AS BIGINT) END"))
  }

  def kmvDistinctAggSql(k: Int = KmvK): String =
    s"""WITH h AS (SELECT DISTINCT source,
            CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) AS h
          FROM (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)),
      rk AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rnk
          FROM h)
      SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        CAST(MAX(h) AS BIGINT) AS kth_hash,
        CASE WHEN count(*) < $k THEN CAST(count(*) AS BIGINT)
             ELSE CAST(((CAST(count(*) AS HUGEINT) - 1) * 1152921504606846976)
               // MAX(h) AS BIGINT) END AS est
      FROM rk WHERE rnk <= $k GROUP BY source"""

  val CmsDepth = 4 // independent hash rows
  val CmsHexChars = 2 // 256 buckets per row
  val CmsReportK = 30 // tokens whose estimates the query reports

  /** Count-Min sketch frequency estimation (q116, Cormode & Muthukrishnan
    * 2005) — point-query token counts in FIXED memory: depth × width
    * (4 × 256) counters instead of vocabulary-sized state, the
    * complement to Misra–Gries' heavy-hitter list (q56: WHO is heavy;
    * CMS: how often is ANY given token, within +εN overestimate). The
    * query reports the sketch estimate next to the exact count for the
    * top-k tokens, so the overestimate guarantee `cms_n ≥ exact_n` is
    * visible in the output.
    *
    * Determinism discipline: row hashes are md5 hex prefixes
    * (`substr(md5(r|term), 1, 2)` — the q37 fixed-length-hex trick), so
    * both engines build the IDENTICAL sketch and the estimate is
    * hash-exact, not merely distribution-equal — which is what makes a
    * cross-engine oracle possible for a sketch (q70/q79's HLL/GK are
    * engine-internal and stay rows-only; CMS is simple enough to BE the
    * portable sketch).
    *
    * Scale/merge shape: the sketch build is a map-side-combined groupBy
    * onto depth·width = 1024 keys — the partial aggregates ARE the
    * mergeable sketch (counter-wise sums), so the exchange carries ≤1024
    * rows per partition regardless of corpus size; estimates then probe
    * it with a k·depth-row broadcast join. */
  def cmsCounts(spark: SparkSession, dir: String,
      k: Int = CmsReportK): DataFrame = {
    val rows = (0 until CmsDepth).map(_.toString).mkString(", ")
    def bkt(termCol: String) =
      s"substr(md5(concat(r, '|', $termCol)), 1, $CmsHexChars)"
    val toks = tokenStream(t(spark, dir, "documents")).localCheckpoint()
    val cms = toks.withColumn("r", explode(expr(s"array($rows)")))
      .withColumn("bkt", expr(bkt("term")))
      .groupBy("r", "bkt").agg(count(lit(1)).as("cnt"))
    val top = toks.groupBy("term").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("term")).limit(k)
    broadcast(top).withColumn("r", explode(expr(s"array($rows)")))
      .withColumn("bkt", expr(bkt("term")))
      .join(cms, Seq("r", "bkt"))
      .groupBy("term")
      .agg(max("exact_n").as("exact_n"), min("cnt").as("cms_n"))
  }

  def cmsCountsSql(k: Int = CmsReportK): String = {
    val rows = (0 until CmsDepth).map(_.toString).mkString(", ")
    def bkt(termCol: String) =
      s"substr(md5(r || '|' || $termCol), 1, $CmsHexChars)"
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      hashed AS (SELECT term, CAST(r AS VARCHAR) AS r FROM toks,
                   (SELECT unnest([$rows]) AS r)),
      cms AS (SELECT r, ${bkt("term")} AS bkt, count(*) AS cnt
              FROM hashed GROUP BY 1, 2),
      top AS (SELECT term, count(*) AS exact_n FROM toks
              GROUP BY 1 ORDER BY exact_n DESC, term LIMIT $k),
      probes AS (SELECT term, exact_n, CAST(r AS VARCHAR) AS r
                 FROM top, (SELECT unnest([$rows]) AS r))
      SELECT term, CAST(MAX(exact_n) AS BIGINT) AS exact_n,
        CAST(MIN(cnt) AS BIGINT) AS cms_n
      FROM (SELECT term, exact_n, r, ${bkt("term")} AS bkt FROM probes)
      JOIN cms USING (r, bkt)
      GROUP BY term"""
  }

  val PmiMinCount = 5 // collocation support floor: rare pairs have unstable PMI
  val PmiTopK = 50

  /** PMI collocation mining (q114): the corpus's top-k statistically
    * bound word pairs — bigrams whose observed count most exceeds the
    * independence expectation c1(w1)·c1(w2)/N. The classic collocation
    * extractor (Church & Hanks 1990), run off the SAME bigram/unigram
    * count tables as [[bigramLmScore]].
    *
    * Determinism discipline: the PMI *ratio* is quantized before the log
    * would ever be taken — `pmi_q = (c12 · N · 1e6) div (c1a · c1b)`,
    * exact integers both engines agree on (log is monotone, so ranking
    * by the ratio IS ranking by PMI; no float in the ORDER BY). The
    * product widens exactly: Spark DECIMAL(38,0), DuckDB HUGEINT — a
    * petatoken corpus's c12·N·1e6 is ~1e38, right at the wide-decimal
    * edge, so the engine keeps the corpus-size factor inside the
    * quantizer rather than multiplying it back later. The DENOMINATOR
    * widens the same way (c1a cast before the multiply): two ~3e9-count
    * words would overflow a BIGINT product long before the numerator
    * headroom runs out, and silently in Spark's non-ANSI mode. Ties break on the
    * pair text. Support floor `c12 ≥ PmiMinCount` applies before
    * ranking (textbook practice — df-1 pairs are noise).
    *
    * Shape at scale: both count tables partial-aggregate off the one
    * (w1, w2) rollup (q98 read-once discipline); the unigram join is
    * vocabulary-bounded; top-k is TakeOrderedAndProject — no global
    * sort, no window. */
  def pmiCollocations(spark: SparkSession, dir: String,
      minCount: Long = PmiMinCount, k: Int = PmiTopK): DataFrame = {
    val c12 = t(spark, dir, "documents")
      .select(split(col("text"), " ").as("toks"))
      .select(explode(expr(
        """transform(slice(toks, 1, size(toks) - 1),
             (w, i) -> named_struct('w1', w, 'w2', toks[i + 1]))""")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint() // feeds both unigram margins AND the score join
    val left = c12.groupBy("w1").agg(sum("c12").as("c1a"))
    val right = c12.groupBy("w2").agg(sum("c12").as("c1b"))
    val n = c12.agg(sum("c12").as("n_total"))
    c12.filter(col("c12") >= minCount)
      .join(left, "w1").join(right, "w2").crossJoin(broadcast(n))
      .withColumn("pmi_q", expr(
        s"(CAST(c12 AS DECIMAL(38,0)) * n_total * ${LmScale}L)" +
          " div (CAST(c1a AS DECIMAL(38,0)) * c1b)"))
      .select(col("w1"), col("w2"), col("c12"), col("pmi_q"))
      .orderBy(col("pmi_q").desc, col("w1"), col("w2"))
      .limit(k)
  }

  def pmiCollocationsSql(minCount: Long = PmiMinCount, k: Int = PmiTopK): String =
    s"""WITH tk AS (SELECT string_split(text, ' ') AS toks FROM documents),
      bi AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
             FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM tk)),
      c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
      l AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1a FROM c12 GROUP BY 1),
      r AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c1b FROM c12 GROUP BY 1),
      n AS (SELECT CAST(SUM(c12) AS BIGINT) AS n_total FROM c12)
      SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
        CAST((CAST(c12 AS HUGEINT) * n_total * $LmScale) // (CAST(c1a AS HUGEINT) * c1b) AS BIGINT) AS pmi_q
      FROM c12 JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN n
      WHERE c12 >= $minCount
      ORDER BY pmi_q DESC, w1, w2 LIMIT $k"""

  val SkipWindow = 2

  /** Windowed skip-gram PMI — [[pmiCollocations]] widened from adjacent
    * bigrams to unordered co-occurrence within ±`SkipWindow` tokens (the
    * word2vec-era association extractor: "neural … networks" with an
    * adjective between them scores here, never in q114). Pairs are
    * canonicalized (lexicographic min first) so (a,b) and (b,a) pool;
    * the ranking stays the q114 discipline — the EXACT quantized
    * rational `(c12·N·scale) div (c1a·c1b)`, log-free because log is
    * monotone, so no float enters the ORDER BY. Margins are symmetric
    * occurrence counts over the pair table.
    *
    * Scale shape: token volume × SkipWindow pair rows through one
    * (w1, w2)-keyed map-side-combined exchange, then margins off the
    * pooled pair table (vocabulary-sized), broadcast total, top-k via
    * TakeOrderedAndProject. */
  def skipgramPmi(spark: SparkSession, dir: String,
      minCount: Long = PmiMinCount, k: Int = PmiTopK): DataFrame = {
    val c12 = t(spark, dir, "documents")
      .select(split(col("text"), " ").as("toks"))
      .select(explode(expr(
        s"""flatten(transform(slice(toks, 1, greatest(size(toks) - 1, 0)),
             (w, i) -> transform(slice(toks, i + 2, $SkipWindow),
               v -> named_struct('w1', IF(w <= v, w, v), 'w2', IF(w <= v, v, w)))))""")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint() // feeds the symmetric margins AND the score join
    // symmetric margin: occurrences of w on EITHER side of a pooled pair
    val occ = c12.select(col("w1").as("w"), col("c12"))
      .unionAll(c12.select(col("w2").as("w"), col("c12")))
      .groupBy("w").agg(sum("c12").as("cw"))
    val n = c12.agg(sum("c12").as("n_total"))
    c12.filter(col("c12") >= minCount)
      .join(occ.select(col("w").as("w1"), col("cw").as("c1a")), "w1")
      .join(occ.select(col("w").as("w2"), col("cw").as("c1b")), "w2")
      .crossJoin(broadcast(n))
      .withColumn("pmi_q", expr(
        s"(CAST(c12 AS DECIMAL(38,0)) * n_total * ${LmScale}L)" +
          " div (CAST(c1a AS DECIMAL(38,0)) * c1b)"))
      .select(col("w1"), col("w2"), col("c12"), col("pmi_q"))
      .orderBy(col("pmi_q").desc, col("w1"), col("w2"))
      .limit(k)
  }

  def skipgramPmiSql(minCount: Long = PmiMinCount, k: Int = PmiTopK): String =
    s"""WITH tk AS (SELECT string_split(text, ' ') AS toks FROM documents),
      pr AS (SELECT least(toks[i], toks[i + d]) AS w1,
                    greatest(toks[i], toks[i + d]) AS w2
             FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM tk),
                  (SELECT unnest(range(1, $SkipWindow + 1)) AS d)
             WHERE i + d <= len(toks)),
      c12 AS (SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY 1, 2),
      occ AS (SELECT w, CAST(SUM(c12) AS BIGINT) AS cw FROM (
                SELECT w1 AS w, c12 FROM c12
                UNION ALL SELECT w2 AS w, c12 FROM c12) GROUP BY w),
      n AS (SELECT CAST(SUM(c12) AS BIGINT) AS n_total FROM c12)
      SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
        CAST((CAST(c12 AS HUGEINT) * n_total * $LmScale)
          // (CAST(a.cw AS HUGEINT) * b.cw) AS BIGINT) AS pmi_q
      FROM c12 JOIN occ a ON a.w = c12.w1 JOIN occ b ON b.w = c12.w2 CROSS JOIN n
      WHERE c12 >= $minCount
      ORDER BY pmi_q DESC, w1, w2 LIMIT $k"""

  /** Hashed-ngram feature space for [[dsirScore]]: 3 hex chars of md5 =
    * 4096 buckets. The bucket key stays a STRING — fixed-length lowercase
    * hex needs no hex-to-int conversion to group/join portably (the q37
    * hash-sampling trick applied to features). */
  val DsirBucketChars = 3

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every candidate
    * document by how much its hashed-bigram feature distribution looks
    * like a TARGET corpus (here the `lang = 'en'` slice) relative to the
    * raw pool — the published recipe for picking pretraining data that
    * matches a trusted domain. Bigrams hash into 4096 md5 buckets; each
    * bucket carries the smoothed target/raw likelihood ratio; a document's
    * weight is the mean ratio over its bigram occurrences. Selection is
    * then a deterministic weight-ranked cut (the paper's Gumbel-noise
    * resampling needs log(rand()) — float noise that no cross-engine
    * oracle can replay; the ranked cut is its exact-determinism twin).
    *
    * Determinism discipline (q99's, applied to ratios): each bucket ratio
    * is quantized to `((tgt + 1) · LmScale) div (raw + 1)` — add-one
    * smoothed, all-positive integer operands, so Spark `div` and DuckDB
    * `//` agree — accumulated as BIGINT, divided once per document.
    * Headroom: tgt ≤ raw, so every quotient is ≤ LmScale and the doc sum
    * is ≤ n_bigrams · 1e6; the intermediate `(tgt+1)·1e6` widens exactly
    * (DECIMAL(38,0) / HUGEINT) like q99's c12 product.
    *
    * Shape at scale: occurrences collapse to per-(doc, bucket) rows
    * map-side first; BOTH distributions partial-aggregate off those same
    * rows (raw = Σ bf, target = Σ bf where target-flagged — the q98
    * read-once discipline); the bucket table is 4096 rows — broadcast,
    * never a shuffle — and the per-doc rollup is the only real exchange.
    * Docs with < 2 tokens emit no bigrams and drop out; docs with zero
    * target-bucket overlap still score (smoothing), both engines agree. */
  def dsirScore(spark: SparkSession, dir: String): DataFrame = {
    val tf = t(spark, dir, "documents")
      .select(col("doc_id"), (col("lang") === "en").as("is_tgt"),
        split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("is_tgt"), explode(expr(
        """transform(slice(toks, 1, size(toks) - 1),
             (w, i) -> concat(w, ' ', toks[i + 1]))""")).as("bg"))
      .withColumn("b", expr(s"substr(md5(bg), 1, $DsirBucketChars)"))
      .groupBy("doc_id", "is_tgt", "b").agg(count(lit(1)).as("bf"))
      .localCheckpoint() // feeds both distributions AND the score join
    val dist = tf.groupBy("b").agg(
      sum("bf").as("raw_cnt"),
      sum(when(col("is_tgt"), col("bf")).otherwise(0L)).as("tgt_cnt"))
    tf.join(dist, "b")
      .groupBy("doc_id")
      .agg(sum("bf").as("n_bigrams"),
        sum(col("bf") * expr(
          s"(CAST(tgt_cnt + 1 AS DECIMAL(38,0)) * ${LmScale}L) div (raw_cnt + 1)")).as("score_num"))
      .withColumn("avg_ratio", col("score_num").cast("double") /
        (col("n_bigrams") * lit(LmScale)).cast("double"))
  }

  val dsirScoreSql: String =
    s"""WITH tk AS (SELECT doc_id, lang = 'en' AS is_tgt,
               string_split(text, ' ') AS toks FROM documents),
      bi AS (SELECT doc_id, is_tgt, toks[i] || ' ' || toks[i + 1] AS bg
             FROM (SELECT doc_id, is_tgt, toks, unnest(range(1, len(toks))) AS i FROM tk)),
      tf AS (SELECT doc_id, is_tgt, substr(md5(bg), 1, $DsirBucketChars) AS b,
               count(*) AS bf FROM bi GROUP BY 1, 2, 3),
      dist AS (SELECT b, CAST(SUM(bf) AS BIGINT) AS raw_cnt,
                 CAST(SUM(CASE WHEN is_tgt THEN bf ELSE 0 END) AS BIGINT) AS tgt_cnt
               FROM tf GROUP BY 1)
      SELECT doc_id, CAST(SUM(bf) AS BIGINT) AS n_bigrams,
        CAST(SUM(bf * CAST((CAST(tgt_cnt + 1 AS HUGEINT) * $LmScale) // (raw_cnt + 1) AS BIGINT)) AS BIGINT) AS score_num,
        CAST(CAST(SUM(bf * CAST((CAST(tgt_cnt + 1 AS HUGEINT) * $LmScale) // (raw_cnt + 1) AS BIGINT)) AS BIGINT) AS DOUBLE)
          / (CAST(SUM(bf) AS BIGINT) * $LmScale) AS avg_ratio
      FROM tf JOIN dist USING (b)
      GROUP BY doc_id"""

  /** Dataset card: the one-row-per-source corpus report a data team
    * publishes with a release — document/token volume, exact-duplicate
    * rate, quality-filter pass count, heuristic language mix, and mean
    * quality. The mean is exact: each doc's [0,1] score (identical IEEE
    * doubles in both engines, q31-locked) is quantized to micro-units
    * `floor(score·1e6)` so the per-source sum is an order-independent
    * BIGINT, divided ONCE at the end — the q62/q80 integer-moment
    * discipline applied to a float-valued signal.
    *
    * Shape at scale: one per-row codegen'd signal projection + one
    * partial-aggregated rollup keyed by source (the single countDistinct
    * plans two-phase without an Expand). Output is source-cardinality. */
  /** The card's aggregate list over a [[TextStats.cardSignals]] frame.
    * `withDupCount = false` is the streaming variant (count(DISTINCT) is
    * not a streaming aggregate — the live card reports dups by differencing
    * n_docs across the dedup stage instead). */
  private[graft] def cardAggs(withDupCount: Boolean): Seq[org.apache.spark.sql.Column] =
    Seq(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens")) ++
      (if (withDupCount)
        Seq((count(lit(1)) - countDistinct(md5(col("text")))).as("n_exact_dups"))
      else Nil) ++
      Seq(expr("CAST(count_if(lang_guess = 'en') AS BIGINT)").as("n_en_guess"),
        expr(s"CAST(count_if(${TextStats.QualityPassCond}) AS BIGINT)").as("n_pass"),
        sum("q_micro").as("q_micro_sum"))

  /** Attach the exact micro-unit mean to an aggregated card frame. */
  private[graft] def withAvgQuality(card: DataFrame): DataFrame =
    card.withColumn("avg_quality", col("q_micro_sum").cast("double") /
      (col("n_docs") * lit(1000000L)).cast("double"))

  /** q307's fixture: documents as three batch shards, two tiered
    * maintenance windows (exercising the cascade), one live batch.
    * PID-scoped path + in-JVM memo (r12 review): a fixed shared path
    * with delete-on-entry let two JVMs on the same dataset race
    * delete-against-read — each process now builds its own. */
  private val tieredFixtureCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def tieredFixtureDir(spark: SparkSession, dir: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-tiered-" +
      s"${ProcessHandle.current().pid()}-" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_")
    tieredFixtureCache.getOrElseUpdate(out, {
      val root = new org.apache.hadoop.fs.Path(out)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(root)) fs.delete(root, true)
      val docs = t(spark, dir, "documents")
      (0 to 2).foreach(i => docs.filter(col("doc_id") % 3 === i)
        .write.parquet(s"$out/batch_id=$i"))
      graft.streaming.StreamState.compactShardsTiered(spark, out, 1)
      graft.streaming.StreamState.compactShardsTiered(spark, out, 2)
      out
    })
  }

  /** Bench-warmup fixture resolution (r13 — see
    * [[Similarity.prebuildFixtures]]). */
  private[graft] def prebuildFixtures(spark: SparkSession, dir: String): Unit = {
    tieredFixtureDir(spark, dir)
    trigramStreamPersisted(spark, dir)
    ()
  }

  def datasetCard(spark: SparkSession, dir: String): DataFrame =
    datasetCardOn(t(spark, dir, "documents"))

  /** [[datasetCard]] over an explicit documents frame — the
    * `dataset_card('/docs.parquet')` TVF's entry point (r12). */
  def datasetCardOn(docs: DataFrame): DataFrame = {
    val aggs = cardAggs(withDupCount = true)
    withAvgQuality(TextStats.cardSignals(docs)
      .groupBy("source").agg(aggs.head, aggs.tail: _*))
  }

  val datasetCardSql: String =
    s"""WITH base AS (SELECT doc_id, source, text,
          ${TextStats.scoreSignalsDuck}, ${TextStats.sumLenDuck},
          ${TextStats.langScoresSql}
        FROM documents),
      sig AS (SELECT *,
          ${TextStats.scoreExprDuck} AS score,
          ${TextStats.langGuessCaseSql} AS lang_guess
        FROM base),
      q AS (SELECT *, CAST(floor(score * 1000000.0) AS BIGINT) AS q_micro FROM sig)
      SELECT source, count(*) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        count(*) - count(DISTINCT md5(text)) AS n_exact_dups,
        CAST(count_if(lang_guess = 'en') AS BIGINT) AS n_en_guess,
        CAST(count_if(${TextStats.QualityPassCond}) AS BIGINT) AS n_pass,
        CAST(SUM(q_micro) AS BIGINT) AS q_micro_sum,
        CAST(CAST(SUM(q_micro) AS BIGINT) AS DOUBLE)
          / (count(*) * 1000000) AS avg_quality
      FROM q GROUP BY source"""

  val BpeTopMerges = 50 // merge candidates reported per iteration

  /** BPE tokenizer-training inner loop: corpus-wide adjacent symbol-pair
    * frequencies at the character level, ranked — the statistic whose
    * argmax IS the next BPE merge (Sennrich et al. 2016's `get_stats`).
    *
    * Shape at scale — the reason this runs on 100 TB at all: the corpus
    * collapses to the DISTINCT-word frequency table first (one map-side-
    * combined shuffle; every later job is vocabulary-bounded, not
    * token-volume-bounded — exactly how the published BPE trainers
    * precompute word counts before any merge iteration). Pair explosion
    * then runs per distinct word (≤ word-length rows each), and the
    * pair rollup's key space is the symbol alphabet squared — tiny. The
    * final top-k is `orderBy.limit` → TakeOrderedAndProject, no global
    * sort. Tie-break on the pair string keeps the ranking deterministic
    * across engines and partitionings. */
  def bpeMergePairs(spark: SparkSession, dir: String, k: Int = BpeTopMerges): DataFrame = {
    val vocab = t(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    vocab
      .select(col("cnt"), explode(sequence(lit(1), length(col("w")) - 1)).as("i"),
        col("w"))
      .select(expr("substring(w, i, 2)").as("pair"), col("cnt"))
      .groupBy("pair").agg(sum("cnt").as("freq"))
      .orderBy(col("freq").desc, col("pair"))
      .limit(k)
  }

  def bpeMergePairsSql(k: Int = BpeTopMerges): String =
    s"""WITH words AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      vocab AS (SELECT w, count(*) AS cnt FROM words WHERE len(w) >= 2 GROUP BY w),
      pos AS (SELECT w, cnt, unnest(range(1, len(w))) AS i FROM vocab),
      pairs AS (SELECT substr(w, CAST(i AS INT), 2) AS pair, cnt FROM pos)
      SELECT pair, CAST(sum(cnt) AS BIGINT) AS freq FROM pairs
      GROUP BY pair ORDER BY freq DESC, pair LIMIT $k"""

  val BpeTrainMerges = 3 // learned merges per q108 run
  /** Fixed replace passes per merge application. Each pass resolves the
    * leftmost remaining match of every same-symbol run, so P passes are
    * EXACTLY the greedy left-to-right merge for runs up to 2^P symbols —
    * far beyond any real word; the spec proves the equivalence on the
    * actual corpus against a driver-side exact-greedy recompute. A fixed
    * pass count (vs a fixpoint loop) is what keeps the oracle expressible:
    * both engines unroll the SAME P replaces, so they agree by
    * construction. */
  val BpeReplacePasses = 6

  /** Distributed BPE trainer (q108): the full Sennrich et al. 2016
    * learn-loop — count adjacent symbol pairs, take the argmax, apply the
    * merge to the vocabulary, repeat. The driver paces the loop exactly
    * like the k-means trainer (`Similarity.kmeansCentroids`): each
    * iteration is one vocabulary-bounded Spark job whose collected result
    * is ONE row (the winning pair), and the merge application is a
    * stateless projection over the (distinct word, count) table —
    * checkpointed per iteration so lineage stays flat however many merges
    * are trained.
    *
    * Scale: after the first map-side-combined word rollup nothing ever
    * touches the corpus again — pair counting, argmax, and merge apply
    * all run over the DISTINCT-word table (the published BPE-trainer
    * precompute). Determinism: the argmax total order is (freq DESC,
    * pair ASC) in both engines; merges apply via plain (non-regex)
    * left-to-right string replace with identical semantics in Spark and
    * DuckDB. */
  /** One learned merge applied to a spaced-symbol string: the fixed
    * [[BpeReplacePasses]]-pass sentinel-padded replace shared by the
    * trainer ([[bpeTrain]]) and the encoder ([[bpeEncode]]) — both sides
    * of the tokenizer loop MUST apply merges with bit-identical
    * semantics or the encoder would segment differently than the
    * vocabulary the trainer scored. */
  private def applyMerge(s: org.apache.spark.sql.Column, pair: String) = {
    val merged = pair.replace(" ", "")
    var x = concat(lit(" "), s, lit(" "))
    for (_ <- 1 to BpeReplacePasses)
      x = call_function("replace", x, lit(s" $pair "), lit(s" $merged "))
    trim(x)
  }

  def bpeTrain(spark: SparkSession, dir: String,
      nMerges: Int = BpeTrainMerges): DataFrame = {
    import spark.implicits._
    var vocab = t(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(trim(regexp_replace(col("w"), "(.)", "$1 ")).as("s"), col("cnt"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, Long)]
    for (it <- 1 to nMerges) {
      val top = vocab.select(col("cnt"), split(col("s"), " ").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
             i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1)))""")).as("pair"))
        .groupBy("pair").agg(sum("cnt").as("freq"))
        .orderBy(col("freq").desc, col("pair")).limit(1)
        .as[(String, Long)].collect() // exactly one row — driver-bounded
      top.foreach { case (pair, freq) =>
        merges += ((it, pair, freq))
        vocab = vocab.withColumn("s", applyMerge(col("s"), pair)).localCheckpoint()
      }
    }
    merges.result().toDF("iter", "pair", "freq")
  }

  def bpeTrainSql(nMerges: Int = BpeTrainMerges): String = {
    def pairsOf(v: String, p: String): String =
      s"""${p}sy AS (SELECT string_split(s, ' ') AS syms, cnt FROM $v),
        ${p}ix AS (SELECT syms, cnt, unnest(range(1, len(syms))) AS i FROM ${p}sy WHERE len(syms) >= 2),
        $p AS (SELECT syms[CAST(i AS INT)] || ' ' || syms[CAST(i AS INT) + 1] AS pair, cnt FROM ${p}ix)"""
    def applied(src: String, m: String): String = {
      val search = s"' ' || (SELECT pair FROM $m) || ' '"
      val repl = s"' ' || replace((SELECT pair FROM $m), ' ', '') || ' '"
      var x = "' ' || s || ' '"
      for (_ <- 1 to BpeReplacePasses) x = s"replace($x, $search, $repl)"
      s"SELECT trim($x) AS s, cnt FROM $src"
    }
    val iterCtes = (1 to nMerges).map { it =>
      s"""${pairsOf(s"v${it - 1}", s"p$it")},
        m$it AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS freq FROM p$it
          GROUP BY pair ORDER BY freq DESC, pair LIMIT 1),
        v$it AS (${applied(s"v${it - 1}", s"m$it")})"""
    }
    val out = (1 to nMerges)
      .map(it => s"SELECT CAST($it AS INTEGER) AS iter, pair, freq FROM m$it")
      .mkString("\n      UNION ALL ")
    s"""WITH words AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      vocab AS (SELECT w, count(*) AS cnt FROM words WHERE len(w) >= 2 GROUP BY w),
      v0 AS (SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s, cnt FROM vocab),
      ${iterCtes.mkString(",\n      ")}
      $out"""
  }

  /** BPE encoder (q110): the other half of the tokenizer loop — apply the
    * merges [[bpeTrain]] learned to the corpus and report per-document
    * token counts under the trained tokenizer (the number every
    * LLM-pipeline budget decision — packing, mixing, pricing — actually
    * runs on; whitespace counts are only a proxy).
    *
    * Shape at scale — encode the VOCABULARY, not the corpus: the learned
    * merge list is driver-side (nMerges rows, collected once — same bound
    * as the k-means centroid collect), and segmentation is a stateless
    * merge-chain projection over the DISTINCT-word table. The corpus-sized
    * side only ever does a map-side-combined (doc, word) rollup and one
    * equi-join against the word → token-count table (vocabulary-bounded;
    * AQE broadcasts it at real-world vocab sizes). Token volume is never
    * re-segmented per occurrence — a 10×-replicated corpus re-encodes
    * NOTHING (the vocabulary is identical), it only re-counts.
    * Determinism: merges apply via [[applyMerge]] (plain replace, exact
    * trainer semantics) and the output columns are BIGINT sums only. */
  def bpeEncode(spark: SparkSession, dir: String,
      nMerges: Int = BpeTrainMerges): DataFrame = {
    import spark.implicits._
    val merges = bpeTrain(spark, dir, nMerges)
      .orderBy("iter").as[(Int, String, Long)].collect().map(_._2) // nMerges rows — driver-bounded
    val words = t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val perDoc = words.groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
    var enc = words.select("w").distinct()
      .withColumn("s", trim(regexp_replace(col("w"), "(.)", "$1 ")))
    for (pair <- merges) enc = enc.withColumn("s", applyMerge(col("s"), pair))
    val ntok = enc.select(col("w"), size(split(col("s"), " ")).as("n_tok"))
    perDoc.join(ntok, "w")
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_ws_tokens"),
        sum(col("n") * col("n_tok")).as("n_bpe_tokens"))
  }

  def bpeEncodeSql(nMerges: Int = BpeTrainMerges): String = {
    def pairsOf(v: String, p: String): String =
      s"""${p}sy AS (SELECT string_split(s, ' ') AS syms, cnt FROM $v),
        ${p}ix AS (SELECT syms, cnt, unnest(range(1, len(syms))) AS i FROM ${p}sy WHERE len(syms) >= 2),
        $p AS (SELECT syms[CAST(i AS INT)] || ' ' || syms[CAST(i AS INT) + 1] AS pair, cnt FROM ${p}ix)"""
    def applied(src: String, m: String, carry: String): String = {
      val search = s"' ' || (SELECT pair FROM $m) || ' '"
      val repl = s"' ' || replace((SELECT pair FROM $m), ' ', '') || ' '"
      var x = "' ' || s || ' '"
      for (_ <- 1 to BpeReplacePasses) x = s"replace($x, $search, $repl)"
      s"SELECT trim($x) AS s, $carry FROM $src"
    }
    // Training chain: bpeTrainSql's CTEs verbatim (same merges by
    // construction), then the encode chain re-applies m1..mN to EVERY
    // distinct word (len-1 words pass through segment-free).
    val trainCtes = (1 to nMerges).map { it =>
      s"""${pairsOf(s"v${it - 1}", s"p$it")},
        m$it AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS freq FROM p$it
          GROUP BY pair ORDER BY freq DESC, pair LIMIT 1),
        v$it AS (${applied(s"v${it - 1}", s"m$it", "cnt")})"""
    }
    val encCtes = (1 to nMerges).map { it =>
      s"e$it AS (${applied(s"e${it - 1}", s"m$it", "w")})"
    }
    s"""WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      vocab AS (SELECT w, count(*) AS cnt FROM words WHERE len(w) >= 2 GROUP BY w),
      v0 AS (SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s, cnt FROM vocab),
      ${trainCtes.mkString(",\n      ")},
      per_doc AS (SELECT doc_id, w, count(*) AS n FROM words GROUP BY doc_id, w),
      e0 AS (SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s, w
        FROM (SELECT DISTINCT w FROM words)),
      ${encCtes.mkString(",\n      ")},
      ntok AS (SELECT w, len(string_split(s, ' ')) AS n_tok FROM e$nMerges)
      SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_ws_tokens,
        CAST(sum(n * n_tok) AS BIGINT) AS n_bpe_tokens
      FROM per_doc JOIN ntok USING (w) GROUP BY doc_id"""
  }

  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** Fixed retrieval query for q64 (terms present in every testdata SF). */
  val Bm25Terms: Seq[String] = Seq("join", "filter", "window")

  /** BM25 ranked retrieval: top-k documents for a fixed query-term set.
    * Same determinism discipline as [[tfidfTopK]]: the idf is the RATIONAL
    * Robertson form `(N − df + 0.5)/(df + 0.5)` — the argument of
    * Lucene's `log(1 + ·)` — because +,−,×,÷ are exactly-rounded IEEE ops
    * that agree bit-for-bit across engines while `log` differs in the
    * last ulp across libm implementations (ranking per term is identical;
    * cross-term weighting is the documented divergence from log-BM25).
    * The per-document sum over query terms is fixed-order: each term's
    * partial score is pivoted into its own column (`max(when(term=t))` —
    * one row per (doc, term), so max is selection, not arithmetic) and
    * added left-to-right, never via a float `sum()` whose accumulation
    * order would be partitioning-dependent.
    *
    * Shape at scale: tf is filtered to the query terms BEFORE grouping —
    * the big token stream reduces map-side; dl (per-doc length) joins tf
    * on doc_id as a plain equi-join (AQE broadcasts the tf side when the
    * term set is selective); df and the corpus stats are broadcast
    * scalars; the final top-k is `orderBy.limit` ⇒ TakeOrderedAndProject
    * (per-partition heaps, no global sort). */
  def bm25TopK(spark: SparkSession, dir: String, terms: Seq[String], k: Int): DataFrame =
    bm25TopKOn(t(spark, dir, "documents"), terms, k)

  /** [[bm25TopK]] over an explicit documents frame — the
    * `bm25_topk('/docs.parquet', 'terms', k)` TVF's entry point (r13). */
  def bm25TopKOn(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val toks = tokenStream(docs)
    val qtoks = toks.filter(col("term").isin(terms: _*))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = toks.agg(count(lit(1)).cast("double").as("n_tokens"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).cast("double").as("n_docs"))))
      .select((col("n_tokens") / col("n_docs")).as("avgdl"), col("n_docs"))
    val tf = qtoks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfq = qtoks.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val idf = (col("n_docs") - col("df").cast("double")) + lit(0.5)
    val idfDen = col("df").cast("double") + lit(0.5)
    val tfD = col("tf").cast("double")
    val dlD = col("dl").cast("double")
    val denom = tfD + (lit(Bm25K1) * ((lit(1.0) - lit(Bm25B)) + ((lit(Bm25B) * dlD) / col("avgdl"))))
    val scored = tf
      .join(dl, "doc_id")
      .join(broadcast(dfq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("s", (idf / idfDen) * ((tfD * lit(2.2)) / denom))
    val perTerm = terms.zipWithIndex.map { case (tm, i) =>
      max(when(col("term") === tm, col("s"))).as(s"s$i")
    }
    val total = terms.indices
      .map(i => coalesce(col(s"s$i"), lit(0.0)))
      .reduceLeft[org.apache.spark.sql.Column]((a, b) => a + b)
    scored.groupBy("doc_id").agg(perTerm.head, perTerm.tail: _*)
      .withColumn("score", total)
      .join(dl, "doc_id")
      .select("doc_id", "dl", "score")
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  def bm25Sql(terms: Seq[String], k: Int): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val pivots = terms.zipWithIndex.map { case (tm, i) =>
      s"max(CASE WHEN term = '$tm' THEN s END) AS s$i"
    }.mkString(",\n              ")
    val total = terms.indices.map(i => s"COALESCE(s$i, 0.0)").reduceLeft((a, b) => s"($a + $b)")
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM toks)
                      / (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS avgdl,
                    (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n_docs),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
             WHERE term IN ($inList) GROUP BY 1, 2),
      dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
              WHERE term IN ($inList) GROUP BY 1),
      sc AS (SELECT tf.doc_id, tf.term,
               (((st.n_docs - CAST(dfq.df AS DOUBLE)) + 0.5) / (CAST(dfq.df AS DOUBLE) + 0.5))
                 * ((CAST(tf.tf AS DOUBLE) * 2.2)
                    / (CAST(tf.tf AS DOUBLE)
                       + ($Bm25K1 * ((1.0 - $Bm25B) + (($Bm25B * CAST(dl.dl AS DOUBLE)) / st.avgdl))))) AS s
             FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN st),
      p AS (SELECT doc_id, $pivots
            FROM sc GROUP BY 1)
      SELECT p.doc_id, dl.dl, $total AS score
      FROM p JOIN dl USING (doc_id)
      ORDER BY score DESC, doc_id LIMIT $k"""
  }

  /** Inverted index: term → document frequency + sorted postings list.
    * One distinct + one aggregation, both shuffle-partitioned by term.
    * The postings ARRAY is the one deliberately bounded piece: a stopword
    * term's postings list is corpus-sized, so real deployments cap it —
    * exactly the role of the heavy-token list above (drop or chunk terms
    * past the cap). Here the corpus vocabulary is small and the full list
    * is emitted; the cap hook is documented rather than silently applied
    * so the oracle stays a plain GROUP BY. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    tokenStream(t(spark, dir, "documents"))
      .distinct()
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sort_array(collect_list(col("doc_id"))).as("postings"))

  val invertedIndexSql: String =
    """WITH pairs AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term, doc_id FROM documents)
      SELECT term, count(*) AS df,
        array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
      FROM pairs GROUP BY term"""

  /** Positional trigram stream: one row per 3-token window with its
    * 1-based start position — the positional index [[invertedIndex]]'s
    * df+postings shape lacks. Pure per-row expansion above the scan
    * (same shape as [[chunkOverlap]]): no shuffle, position derived from
    * the slice offset, never an unnest ordinal. */
  private def trigramStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        // guard: sequence(1, 0) DESCENDS in Spark, so short docs must
        // take the empty-array branch explicitly
        """CASE WHEN size(toks) < 3 THEN array()
           ELSE transform(sequence(1, size(toks) - 2),
             i -> named_struct('pos', CAST(i AS BIGINT),
               'phrase', concat_ws(' ', toks[i - 1], toks[i], toks[i + 1]))) END""")).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.phrase").as("phrase"))

  /** The positional trigram stream over `<dir>/documents.parquet`, mined
    * ONCE per corpus version and persisted ([[Memo.sharedFrame]] —
    * the persistedIvfIndexDir discipline): at 100x the stream mine is
    * token-volume (~31 s) and BOTH q115 and q178 were re-paying it.
    * This IS the positional index materialization the q115 Scaladoc
    * points at ("at index time you'd materialize the stream") — a
    * deployment would additionally bucket it by phrase; here one
    * parquet suffices and consumers pay a 3-column scan. */
  private[graft] def trigramStreamPersisted(spark: SparkSession,
      dir: String): DataFrame =
    // r13 (VERDICT ask 2): shared across JVMs — token-volume to mine,
    // pure function of the corpus version ([[Memo.sharedFrame]])
    Memo.sharedFrame(spark, dir, "documents", "tri-stream")(
      trigramStream(t(spark, dir, "documents")))

  /** Positional phrase search (q115): all documents containing an exact
    * consecutive 3-token phrase, with hit count and first position — the
    * phrase-query capability a positional inverted index exists for. The
    * library API takes the phrase; the oracle query derives a
    * deterministic one from the corpus itself (its most frequent
    * trigram, count-desc then lexicographic — boilerplate detection and
    * phrase search in one pass).
    *
    * Shape at scale: the trigram stream is a stateless expansion; the
    * phrase filter collapses it BEFORE the per-doc rollup (for a
    * constant phrase the filter is codegen'd above the scan — at index
    * time you'd materialize the stream bucketed by phrase instead); the
    * top-phrase subquery is a TakeOrderedAndProject over a map-side-
    * combined count, broadcast into the hit scan. */
  def phraseSearch(docs: DataFrame, phrase: DataFrame): DataFrame =
    trigramStream(docs)
      .join(broadcast(phrase), "phrase")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), min("pos").as("first_pos"))

  /** The q115 query: search for the corpus's top trigram. Reads the
    * persisted stream — the mine runs once per corpus version, shared
    * with q178. */
  def topPhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val stream = trigramStreamPersisted(spark, dir)
    val top = stream.groupBy("phrase").agg(count(lit(1)).as("n_total"))
      .orderBy(col("n_total").desc, col("phrase")).limit(1)
    stream.join(broadcast(top.select("phrase")), "phrase")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), min("pos").as("first_pos"))
  }

  val topPhraseSearchSql: String =
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      tri AS (SELECT doc_id, i AS pos,
                toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS phrase
              FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM tk)),
      top AS (SELECT phrase FROM tri GROUP BY phrase
              ORDER BY count(*) DESC, phrase LIMIT 1)
      SELECT doc_id, count(*) AS n_hits, CAST(min(pos) AS BIGINT) AS first_pos
      FROM tri JOIN top USING (phrase)
      GROUP BY doc_id"""

  /** Context tokens kept on each side of a hit in [[searchSnippets]]. */
  val SnippetCtx = 5

  /** Search-result snippets (q178): for every positional hit of the
    * corpus's top trigram (the q115 derived phrase), the ±[[SnippetCtx]]-
    * token context window re-joined as text — the retrieval-UX step
    * above q115's hit counts. The context slice is a stateless
    * projection over the doc's token array (the positional stream
    * already carries `toks` nowhere — the slice re-reads via an id
    * join so hit rows stay narrow); one broadcast of the 1-row phrase,
    * one id-keyed join, everything else map-side. */
  def searchSnippets(spark: SparkSession, dir: String,
      ctx: Int = SnippetCtx): DataFrame = {
    val docs = t(spark, dir, "documents")
    val stream = trigramStreamPersisted(spark, dir) // shared with q115
    val top = stream.groupBy("phrase").agg(count(lit(1)).as("n_total"))
      .orderBy(col("n_total").desc, col("phrase")).limit(1)
    val hits = stream.join(broadcast(top.select("phrase")), "phrase")
      .select("doc_id", "pos", "phrase")
    hits.join(docs.select(col("doc_id"), split(col("text"), " ").as("toks")), "doc_id")
      .withColumn("snip_from", greatest(col("pos") - ctx, lit(1)))
      .withColumn("snippet", array_join(
        expr(s"slice(toks, snip_from, pos + 2 + $ctx - snip_from + 1)"), " "))
      .select(col("doc_id"), col("pos"), col("phrase"),
        col("snip_from"), col("snippet"))
  }

  def searchSnippetsSql(ctx: Int = SnippetCtx): String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      tri AS (SELECT doc_id, i AS pos,
                toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS phrase
              FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM tk)),
      top AS (SELECT phrase FROM tri GROUP BY phrase
              ORDER BY count(*) DESC, phrase LIMIT 1),
      h AS (SELECT doc_id, pos, phrase FROM tri JOIN top USING (phrase))
      SELECT h.doc_id, CAST(h.pos AS BIGINT) AS pos, h.phrase,
        CAST(greatest(h.pos - $ctx, 1) AS BIGINT) AS snip_from,
        array_to_string(tk.toks[greatest(h.pos - $ctx, 1) :
          CAST(h.pos + 2 + $ctx AS INT)], ' ') AS snippet
      FROM h JOIN tk USING (doc_id)"""

  val PackCapacity = 256L

  /** Concat-split sequence packing (the GPT-style "concatenate the shard,
    * cut every C tokens" batching step): documents are laid end-to-end in
    * doc_id order WITHIN each source shard, and each document is assigned
    * to the fixed-capacity bin its first token lands in. Emits per-bin
    * manifest stats (doc count, token count, id range) — the table a
    * packing writer iterates.
    *
    * Scale shape: the only shuffle is one exchange on `source`, and the
    * running sum is an incremental per-key window frame — linear, like
    * q65's trailing window. Packing is deliberately PER-SHARD: a global
    * concatenation order would funnel the corpus through one task's
    * window (the q41 global-window lesson), while per-source packing is
    * how multi-file training shards are actually laid out. Integer-only
    * arithmetic — bin boundaries are portable across engines. */
  def packSequences(docs: DataFrame, capacity: Long = PackCapacity): DataFrame = {
    val tk = docs.select(col("source"), col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tk.withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", expr(s"(cum - n_tok) div $capacity"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
  }

  def packSequencesSql(capacity: Long = PackCapacity): String =
    s"""WITH tk AS (SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents),
      c AS (SELECT source, doc_id, n_tok,
              sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM tk)
      SELECT source, CAST((cum - n_tok) // $capacity AS BIGINT) AS bin,
        count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM c GROUP BY 1, 2"""

  /** Sequence-length distribution report (q112): per-source histogram of
    * document token counts in power-of-two bins — the batch-shape
    * planning table behind context-length and packing decisions. The
    * bucket is the binary DIGIT COUNT of n_tok (`length(bin(n))` =
    * floor(log2 n) + 1) — an integer both engines compute identically,
    * with no float log to disagree on; bucket b covers [2^(b-1), 2^b).
    *
    * Scale shape: one codegen'd projection above the scan and ONE
    * (source × ~40-bucket)-bounded rollup with map-side combine — the
    * q105 dataset-card shape. */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("len_bucket", length(expr("bin(n_tok)")).cast("long"))
      .groupBy("source", "len_bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok"))

  val lengthHistogramSql: String =
    """WITH tk AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents)
      SELECT source, CAST(length(bin(n_tok)) AS BIGINT) AS len_bucket,
        count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        min(n_tok) AS min_tok, max(n_tok) AS max_tok
      FROM tk GROUP BY 1, 2"""

  /** Packing-efficiency report (q113): per-source padding waste of naive
    * fixed-length batching (every document padded to a multiple of the
    * capacity — `ceil(n_tok / C)` rows of C slots each) against the
    * concat-packed floor (`ceil(Σ n_tok / C)` rows) — the measurement
    * that motivates sequence packing in the efficient-batching
    * literature. All-integer ceilings (`(x + C - 1) div C` on positive
    * operands), one double division per source at the end.
    *
    * Scale shape: a single source-keyed partial-agg rollup above the
    * scan; output is source-cardinality. */
  def packingEfficiency(spark: SparkSession, dir: String,
      capacity: Long = PackCapacity): DataFrame =
    t(spark, dir, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(expr(s"(n_tok + $capacity - 1) div $capacity")).as("naive_rows"))
      .withColumn("packed_rows", expr(s"(n_tokens + $capacity - 1) div $capacity"))
      .withColumn("naive_waste_pct",
        (col("naive_rows") * lit(capacity) - col("n_tokens")).cast("double") /
          (col("naive_rows") * lit(capacity)).cast("double"))

  def packingEfficiencySql(capacity: Long = PackCapacity): String =
    s"""WITH tk AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents),
      r AS (SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
              CAST(sum((n_tok + $capacity - 1) // $capacity) AS BIGINT) AS naive_rows
            FROM tk GROUP BY 1)
      SELECT source, n_docs, n_tokens, naive_rows,
        CAST((n_tokens + $capacity - 1) // $capacity AS BIGINT) AS packed_rows,
        CAST(naive_rows * $capacity - n_tokens AS DOUBLE)
          / (naive_rows * $capacity) AS naive_waste_pct
      FROM r"""

  val ChunkSize = 32
  val ChunkStride = 24

  /** Overlapping token chunks (the RAG/embedding-prep step): each document
    * is cut into windows of `ChunkSize` tokens every `ChunkStride` tokens
    * (trailing chunk may be short), emitting one row per chunk with its
    * stable id, token count, and content fingerprint.
    *
    * Scale shape: pure per-row expansion — `explode` multiplies rows by
    * ~n/stride (that IS the output), all chunk columns are codegen'd
    * functions of the bound `toks` array, and there is no shuffle at all:
    * chunking pipelines directly between the scan and the sink. chunk_id
    * is derived from the start offset (not an unnest ordinal), so the row
    * set is deterministic under any partitioning. */
  def chunkOverlap(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("start", explode(expr(s"sequence(1, size(toks), $ChunkStride)")))
      .select(col("doc_id"),
        expr(s"CAST((start - 1) div $ChunkStride AS BIGINT)").as("chunk_id"),
        col("start").cast("long").as("start"),
        expr(s"CAST(size(slice(toks, start, $ChunkSize)) AS BIGINT)").as("chunk_tokens"),
        md5(expr(s"array_join(slice(toks, start, $ChunkSize), ' ')")).as("chunk_md5"))

  val chunkOverlapSql: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      st AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), $ChunkStride)) AS s FROM tk)
      SELECT doc_id, CAST((s - 1) // $ChunkStride AS BIGINT) AS chunk_id, CAST(s AS BIGINT) AS start,
        CAST(len(toks[s:s + ${ChunkSize - 1}]) AS BIGINT) AS chunk_tokens,
        md5(array_to_string(toks[s:s + ${ChunkSize - 1}], ' ')) AS chunk_md5
      FROM st"""

  /** RAKE keyphrase extraction (q167, Rose et al. 2010): candidate
    * phrases are maximal stopword-free token runs (≤ `maxLen` tokens —
    * the standard practical cap); each word scores `deg/freq` within its
    * document (deg = Σ length of candidate phrases containing it, freq =
    * its occurrence count — co-occurrence-favoring, the paper's default
    * metric) and a phrase scores the sum of its words' scores; top-k
    * phrase occurrences per doc. Scores are quantized to
    * `(deg·1e6) div freq` exact integers and summed as BIGINTs — no
    * float enters any ORDER BY (the q114 discipline).
    *
    * Scale shape: phrase segmentation needs a running stop-count, ONE
    * doc-keyed window over token rows (unique `pos` makes the default
    * RANGE frame deterministic and portable); everything after is
    * (doc, word)- / (doc, phrase)-keyed partial-agg rollups and
    * equi-joins; the top-k rank window plans as WindowGroupLimit. */
  val RakeMaxLen = 4
  val RakeTopK = 3
  def rakeKeyphrases(docs: DataFrame, k: Int = RakeTopK,
      maxLen: Int = RakeMaxLen): DataFrame = {
    val toks = docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .withColumn("is_stop", expr(TextStats.inSet("w", TextStats.Stopwords)))
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val tok2 = toks
      .withColumn("phrase_id", sum(when(col("is_stop"), 1L).otherwise(0L)).over(wDoc))
      .filter(!col("is_stop"))
      .select("doc_id", "phrase_id", "pos", "w")
      .localCheckpoint() // feeds phrases, word stats, and the score join
    val phrases = tok2.groupBy("doc_id", "phrase_id")
      .agg(count(lit(1)).as("plen"),
        array_join(expr("transform(array_sort(collect_list(struct(pos, w))), t -> t.w)"),
          " ").as("phrase"))
      .filter(col("plen") <= maxLen)
    val tokKept = tok2.join(phrases.select("doc_id", "phrase_id", "plen"),
      Seq("doc_id", "phrase_id"))
    val wstats = tokKept.groupBy("doc_id", "w")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .withColumn("wscore", expr("(deg * 1000000L) div freq"))
    val scored = tokKept.join(wstats.select("doc_id", "w", "wscore"), Seq("doc_id", "w"))
      .groupBy("doc_id", "phrase_id")
      .agg(sum("wscore").as("score_q"))
      .join(phrases, Seq("doc_id", "phrase_id"))
    val wr = Window.partitionBy("doc_id")
      .orderBy(col("score_q").desc, col("phrase").asc, col("phrase_id").asc)
    scored.withColumn("rank", row_number().over(wr)).filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("phrase"), col("plen"), col("score_q"))
  }

  def rakeKeyphrasesSql(k: Int = RakeTopK, maxLen: Int = RakeMaxLen): String =
    s"""WITH ls AS (SELECT doc_id, string_split(text, ' ') AS ls FROM documents),
      tk AS (SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS pos, ls[t.i] AS w
             FROM ls, LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i) t),
      st AS (SELECT *, ${TextStats.inSet("w", TextStats.Stopwords)} AS is_stop FROM tk),
      ph AS (SELECT *, SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id FROM st),
      tok2 AS (SELECT doc_id, phrase_id, pos, w FROM ph WHERE NOT is_stop),
      phr AS (SELECT doc_id, phrase_id, CAST(count(*) AS BIGINT) AS plen,
                string_agg(w, ' ' ORDER BY pos) AS phrase
              FROM tok2 GROUP BY 1, 2 HAVING count(*) <= $maxLen),
      tkk AS (SELECT t.*, p.plen FROM tok2 t JOIN phr p USING (doc_id, phrase_id)),
      ws AS (SELECT doc_id, w, count(*) AS freq, CAST(SUM(plen) AS BIGINT) AS deg
             FROM tkk GROUP BY 1, 2),
      ws2 AS (SELECT doc_id, w, (deg * 1000000) // freq AS wscore FROM ws),
      sc AS (SELECT t.doc_id, t.phrase_id, CAST(SUM(ws2.wscore) AS BIGINT) AS score_q
             FROM tkk t JOIN ws2 ON t.doc_id = ws2.doc_id AND t.w = ws2.w
             GROUP BY 1, 2),
      r AS (SELECT sc.doc_id, sc.score_q, p.phrase, p.plen,
              row_number() OVER (PARTITION BY sc.doc_id
                ORDER BY sc.score_q DESC, p.phrase, sc.phrase_id) AS rank
            FROM sc JOIN phr p USING (doc_id, phrase_id))
      SELECT doc_id, CAST(rank AS BIGINT) AS rank, phrase, plen, score_q
      FROM r WHERE rank <= $k"""

  /** Character-coverage card (q280): corpus-weighted frequency of every
    * character, ranked desc (tie char asc) with the exact micro
    * cumulative share — the table a byte-fallback alphabet is cut from
    * (the "which symbols cover 99.99% of the corpus" step that precedes
    * q108's merge training; q106 ranks PAIRS for merging, this ranks the
    * base symbols the merge alphabet starts from).
    *
    * Scale shape: the corpus collapses to the distinct-word frequency
    * table first (the q106/q108 precompute), chars explode per VOCAB row
    * weighted by corpus count, and the rank/cumsum window runs over
    * <= alphabet-size rows — a single-partition window on a provably
    * bounded frame. */
  def charCoverage(spark: SparkSession, dir: String): DataFrame = {
    val cc = t(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(col("n"), explode(expr(
        "transform(sequence(1, length(word)), i -> substr(word, i, 1))")).as("ch"))
      .groupBy("ch").agg(sum("n").as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("cnt").desc, col("ch"))
    cc.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum("cnt").over(w.rowsBetween(Long.MinValue, 0)))
      .withColumn("total", sum("cnt").over(
        org.apache.spark.sql.expressions.Window
          .orderBy().rowsBetween(Long.MinValue, Long.MaxValue)))
      .withColumn("cum_micro", expr(
        "CAST((CAST(cum AS DECIMAL(38,0)) * 1000000) div total AS BIGINT)"))
      .select("rank", "ch", "cnt", "cum_micro")
  }

  val charCoverageSql: String =
    """WITH wc0 AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY 1),
      cc AS (SELECT substr(word, CAST(i AS BIGINT), 1) AS ch, CAST(SUM(n) AS BIGINT) AS cnt
        FROM (SELECT word, n, unnest(range(1, len(word) + 1)) AS i FROM wc0)
        GROUP BY 1)
      SELECT CAST(row_number() OVER (ORDER BY cnt DESC, ch) AS BIGINT) AS rank,
        ch, cnt,
        CAST((CAST(SUM(cnt) OVER (ORDER BY cnt DESC, ch
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) * 1000000)
          // SUM(cnt) OVER () AS BIGINT) AS cum_micro
      FROM cc"""

  val queries: Seq[QueryDef] = Seq(
    QueryDef("q280_char_coverage",
      (s, d) => charCoverage(s, d),
      Some(charCoverageSql)),
    QueryDef("q167_rake_keyphrases",
      (s, d) => rakeKeyphrases(t(s, d, "documents")),
      Some(rakeKeyphrasesSql())),
    QueryDef("q178_search_snippets",
      (s, d) => searchSnippets(s, d),
      Some(searchSnippetsSql())),
    QueryDef("q72_pack_sequences",
      (s, d) => packSequences(t(s, d, "documents")),
      Some(packSequencesSql())),
    QueryDef("q73_chunk_overlap",
      (s, d) => chunkOverlap(t(s, d, "documents")),
      Some(chunkOverlapSql)),
    QueryDef("q56_heavy_tokens", (s, d) => heavyTokens(s, d), Some(heavyTokensSql)),
    QueryDef("q57_tfidf_topk", (s, d) => tfidfTopK(s, d, 3), Some(tfidfSql(3))),

    QueryDef("q97_token_freq_score",
      (s, d) => tokenFrequencyScore(s, d),
      Some(tokenFrequencyScoreSql)),

    QueryDef("q208_source_tvd_matrix",
      (s, d) => sourceSimilarityMatrix(s, d),
      Some(sourceSimilarityMatrixSql)),

    QueryDef("q98_source_drift",
      (s, d) => sourceDrift(s, d),
      Some(sourceDriftSql)),

    QueryDef("q99_bigram_lm_score",
      (s, d) => bigramLmScore(s, d),
      Some(bigramLmScoreSql)),

    QueryDef("q132_ccnet_buckets",
      (s, d) => ccnetBuckets(s, d),
      Some(ccnetBucketsSql)),

    QueryDef("q111_dsir_weights",
      (s, d) => dsirScore(s, d),
      Some(dsirScoreSql)),

    QueryDef("q114_pmi_collocations",
      (s, d) => pmiCollocations(s, d),
      Some(pmiCollocationsSql())),

    QueryDef("q144_skipgram_pmi",
      (s, d) => skipgramPmi(s, d),
      Some(skipgramPmiSql())),

    QueryDef("q115_phrase_search",
      (s, d) => topPhraseSearch(s, d),
      Some(topPhraseSearchSql)),

    QueryDef("q116_cms_counts",
      (s, d) => cmsCounts(s, d),
      Some(cmsCountsSql())),

    QueryDef("q117_tokenizer_fertility",
      (s, d) => tokenizerFertility(s, d),
      Some(tokenizerFertilitySql())),

    QueryDef("q118_ngram_diversity",
      (s, d) => ngramDiversity(s, d),
      Some(ngramDiversitySql())),

    QueryDef("q189_heaps_curve",
      (s, d) => heapsCurve(t(s, d, "documents")),
      Some(heapsCurveSql)),

    QueryDef("q217_head_mass",
      (s, d) => headMass(t(s, d, "documents")),
      Some(headMassSql)),

    QueryDef("q228_label_terms",
      (s, d) => labelTerms(s, d),
      Some(labelTermsSql())),

    QueryDef("q230_kmv_distinct",
      (s, d) => kmvDistinct(t(s, d, "documents")),
      Some(kmvDistinctSql())),

    QueryDef("q246_ccnet_bands",
      (s, d) => ccnetBands(s, d),
      Some(ccnetBandsSql)),

    QueryDef("q250_cross_split_shift",
      (s, d) => crossSplitShift(s, d),
      Some(crossSplitShiftSql)),

    QueryDef("q233_simpson_diversity",
      (s, d) => simpsonDiversity(t(s, d, "documents")),
      Some(simpsonDiversitySql)),

    QueryDef("q234_kmv_distinct_agg",
      (s, d) => kmvDistinctAgg(t(s, d, "documents")),
      Some(kmvDistinctAggSql())),

    QueryDef("q221_vocab_coverage",
      (s, d) => vocabCoverage(t(s, d, "documents")),
      Some(vocabCoverageSql())),

    QueryDef("q119_freq_of_freq",
      (s, d) => freqOfFreq(s, d),
      Some(freqOfFreqSql)),

    QueryDef("q123_hybrid_search",
      (s, d) => hybridSearch(s, d),
      Some(hybridSearchSql), Tuning.cpuBound),

    QueryDef("q112_length_histogram",
      (s, d) => lengthHistogram(s, d),
      Some(lengthHistogramSql)),

    QueryDef("q113_packing_efficiency",
      (s, d) => packingEfficiency(s, d),
      Some(packingEfficiencySql())),

    // r12: the tiered shard-compaction READ path oracle-gated —
    // documents land as three batch shards, two maintenance windows
    // fold them into size-tiered runs (exercising the geometric
    // cascade), one batch stays live; the per-source card over
    // StreamState.read must see every row exactly once through
    // runs ∪ live partitions or the hash breaks.
    QueryDef("q307_tiered_shard_card",
      (s, d) => graft.streaming.StreamState
        .read(s, tieredFixtureDir(s, d)).get
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("n_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id")),
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS n_chars,
        CAST(min(doc_id) AS BIGINT) AS min_id,
        CAST(max(doc_id) AS BIGINT) AS max_id
        FROM documents GROUP BY source""")),

    QueryDef("q105_dataset_card",
      // routed through its TVF form (r12 — the q281 discipline)
      (s, d) => s.sql(s"SELECT * FROM dataset_card('$d/documents.parquet')"),
      Some(datasetCardSql)),

    QueryDef("q106_bpe_merge_pairs",
      (s, d) => bpeMergePairs(s, d),
      Some(bpeMergePairsSql())),

    QueryDef("q108_bpe_train",
      (s, d) => bpeTrain(s, d),
      Some(bpeTrainSql())),

    QueryDef("q110_bpe_encode",
      (s, d) => bpeEncode(s, d),
      Some(bpeEncodeSql())),
    // Postings projected through array_join: the driver's pandas compare
    // can't sort ARRAY columns; invertedIndex keeps the array-typed API.
    QueryDef("q58_inverted_index",
      (s, d) => invertedIndex(s, d)
        .withColumn("postings", expr("array_join(CAST(postings AS ARRAY<STRING>), ',')")),
      Some(invertedIndexSql)),
    QueryDef("q64_bm25_topk",
      // routed through its TVF form (r13 — the q42 discipline)
      (s, d) => s.sql(s"SELECT * FROM bm25_topk('$d/documents.parquet', " +
        s"'${Bm25Terms.mkString(" ")}', 10)"),
      Some(bm25Sql(Bm25Terms, 10)))
  )
}
