package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.wordGramMd5
import graft.queries.QueryDef
import graft.queries.QueryDef.t

/** RAG / retrieval chunking operators — the indexing layer of the
  * training-data pipeline (fixed-window chunk geometry, chunk-level
  * dedup, retrieval containment, stride planning, boundary integrity).
  *
  * The reference pipeline has no retrieval surface
  * (/root/reference/csv-extractor/csv_extractor.py processes sensor CSVs),
  * so this family is pure ★ extension: the operators a RAG ingestion
  * run needs between a cleaned corpus and a chunk index — how many
  * chunks a (window, stride) policy produces, how much duplicate mass
  * pollutes the index, whether a gram-width overlap guarantees span
  * recall, what the stride costs in index inflation, and how often a
  * character window tears a word at its boundary.
  *
  * Chunking rule (identical integer arithmetic on both engines): a
  * document of `n` chars yields chunks at offsets `k*S` for
  * `k = 0..K`, `K = 0` when `n <= W` else `ceil((n-W)/S)` — the first
  * window that reaches the end of the document closes the sequence, so
  * every chunk except the last is exactly `W` chars and the last is
  * `n - K*S` chars (never shorter than the `W-S` overlap). `ceil` is
  * written `(n - W + S - 1) div S` guarded by the `n <= W` CASE so the
  * dividend is always positive (Spark's `div` truncates toward zero,
  * DuckDB's `//` floors — they agree only on non-negatives).
  *
  * Scale shape: every op here is a stateless explode above the scan
  * followed by a source- or query-keyed rollup — chunk text never
  * shuffles (fps do), and the two planning cards (q278/q279) never
  * materialize chunk text at all.
  */
object Chunking {

  /** Char window and stride for the char-chunk ops (q275/q276/q279). */
  val ChunkChars = 200
  val ChunkStride = 150

  /** Word window and stride for the retrieval ops (q277). Overlap
    * (`WordChunk - WordStride` = 10) is chosen >= [[QueryGramWords]] so
    * every query gram is contained in at least one chunk — recall 1 by
    * construction, and q277's `self_hit` column proves it corpus-wide. */
  val WordChunk = 40
  val WordStride = 30

  /** Query span width in words for q277. */
  val QueryGramWords = 8

  /** Docs contributing an eval query (the q157 injection discipline —
    * the query set lives in the QUERY layer; library callers pass their
    * own query frame). */
  val QueryDocMod = 37

  /** `K`-expression: index of the last chunk for a given length column,
    * shared by the Spark ops. */
  private def lastChunk(nCol: String, w: Int, s: Int): String =
    s"CASE WHEN $nCol <= $w THEN 0L ELSE ($nCol - $w + ${s - 1}) div $s END"

  /** Same in DuckDB. */
  private def lastChunkDuck(nCol: String, w: Int, s: Int): String =
    s"CASE WHEN $nCol <= $w THEN 0 ELSE ($nCol - $w + ${s - 1}) // $s END"

  /** (doc_id, source, k, chunk) char-window chunk stream — the shared
    * derivation for q275/q276/q294. Stateless: one `sequence` explode
    * above the scan, no exchange. `k` rides along because "k = 0"
    * marks exactly one row per document — the distinct-free doc
    * counter that keeps the geometry card a PURE streaming aggregate
    * (no countDistinct state). */
  private[graft] def charChunks(docs: DataFrame,
      w: Int = ChunkChars, s: Int = ChunkStride): DataFrame =
    docs.select(col("doc_id"), col("source"), col("text"),
        explode(expr(s"sequence(0L, ${lastChunk("n_chars", w, s)})")).as("k"))
      .select(col("doc_id"), col("source"), col("k"),
        expr(s"substr(text, k * $s + 1, $w)").as("chunk"))

  /** DuckDB twin as a CTE named `ch`. */
  private def charChunksCte(w: Int = ChunkChars, s: Int = ChunkStride): String =
    s"""ch AS (SELECT doc_id, source, k,
          substr(text, k * $s + 1, $w) AS chunk
        FROM documents, LATERAL (SELECT
          unnest(range(0, ${lastChunkDuck("n_chars", w, s)} + 1)) AS k) u)"""

  // -------------------------------------------------------------------
  // q275 — chunk geometry card
  // -------------------------------------------------------------------

  /** Per-source chunk geometry under the (W, S) policy: documents,
    * chunks, chunk chars, exact micro mean chunk length, and how many
    * chunks run short of the full window (exactly the per-doc tail
    * chunks, so `n_short <= n_docs` is a conservation invariant the
    * spec locks). The first question a RAG ingestion asks: how big is
    * the index this policy builds.
    *
    * Scale shape: explode + one source-keyed rollup; chunk text is
    * consumed by `length` in the same stage it is produced and never
    * shuffles. Docs are counted as "chunks with k = 0" (exactly one per
    * doc) instead of a countDistinct — cheaper batch-side, and it makes
    * the card a pure streaming aggregate, so the live twin
    * ([[graft.streaming.CorpusStream.liveChunkCard]]) is EXACTLY this
    * rollup in complete mode, column-identical. */
  def chunkGeometry(docs: DataFrame): DataFrame =
    geometryCard(charChunks(docs))

  /** The rollup over a chunk stream — shared by the batch op and the
    * streaming twin (every aggregate is merge-only: no distinct). */
  private[graft] def geometryCard(chunks: DataFrame): DataFrame =
    chunks
      .select(col("source"), col("k"), length(col("chunk")).as("clen"))
      .groupBy("source").agg(
        expr("CAST(count_if(k = 0) AS BIGINT)").as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum("clen").as("chunk_chars"),
        expr(s"CAST(count_if(clen < $ChunkChars) AS BIGINT)").as("n_short"))
      .withColumn("mean_len_micro", expr(
        "CAST((CAST(chunk_chars AS DECIMAL(38,0)) * 1000000) div n_chunks AS BIGINT)"))
      .select("source", "n_docs", "n_chunks", "chunk_chars", "n_short",
        "mean_len_micro")

  val chunkGeometrySql: String =
    s"""WITH ${charChunksCte()}
      SELECT source, CAST(count(*) FILTER (k = 0) AS BIGINT) AS n_docs,
        CAST(count(*) AS BIGINT) AS n_chunks,
        CAST(SUM(len(chunk)) AS BIGINT) AS chunk_chars,
        CAST(count(*) FILTER (len(chunk) < $ChunkChars) AS BIGINT) AS n_short,
        CAST((CAST(SUM(len(chunk)) AS HUGEINT) * 1000000) // count(*) AS BIGINT)
          AS mean_len_micro
      FROM ch GROUP BY source"""

  // -------------------------------------------------------------------
  // q276 — chunk dup card
  // -------------------------------------------------------------------

  /** Per-source chunk-level duplicate mass: distinct chunk texts, dup
    * chunks (the index rows a dedup pass would drop), the heaviest
    * chunk's frequency, and how many chunk texts recur across more than
    * one DOCUMENT — the cross-doc boilerplate that makes a retrieval
    * index return the same passage k times. Document-level dedup (q40)
    * does not see this: two distinct docs sharing a window produce dup
    * chunks.
    *
    * Scale shape: the q252 two-level discipline — one (source, fp)
    * rollup over int64 xxhash64 keys (chunk text never shuffles; the
    * DuckDB twin groups md5 strings as the collision tripwire), then a
    * source rollup of rollup rows. */
  def chunkDupCard(docs: DataFrame): DataFrame =
    dupCardRollup(chunkFps(docs))

  /** The (source, fp) level of the dup card — per distinct chunk text:
    * occurrences and contributing docs. These rows are the MERGEABLE
    * unit of the card: a document's chunks all live in one ingest
    * batch, so per-batch fp rollups sum losslessly across batches
    * (n by +, nd by + since doc_ids never recur across batches) — which
    * is exactly what [[graft.streaming.CorpusStream.chunkIndexStream]]
    * persists per micro-batch. */
  private[graft] def chunkFps(docs: DataFrame,
      w: Int = ChunkChars, s: Int = ChunkStride): DataFrame =
    charChunks(docs, w, s)
      .groupBy(col("source"), xxhash64(col("chunk")).as("fp"))
      .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("nd"))

  /** The source-level card over (source, fp, n, nd) rows — shared by
    * batch q276 and the live twin (which feeds it MERGED state rows). */
  private[graft] def dupCardRollup(fpt: DataFrame): DataFrame =
    fpt
      .groupBy("source").agg(
        sum("n").as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        max("n").as("max_df"),
        expr("CAST(count_if(nd > 1) AS BIGINT)").as("n_multi_doc"))
      .withColumn("dup_share_micro", expr(
        "CAST((CAST(n_chunks - n_distinct AS DECIMAL(38,0)) * 1000000) div n_chunks AS BIGINT)"))
      .select("source", "n_chunks", "n_distinct", "max_df", "n_multi_doc",
        "dup_share_micro")

  val chunkDupCardSql: String =
    s"""WITH ${charChunksCte()},
      fpt AS (SELECT source, md5(chunk) AS fp, CAST(count(*) AS BIGINT) AS n,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
        FROM ch GROUP BY 1, 2)
      SELECT source, CAST(SUM(n) AS BIGINT) AS n_chunks,
        CAST(count(*) AS BIGINT) AS n_distinct,
        CAST(MAX(n) AS BIGINT) AS max_df,
        CAST(count(*) FILTER (nd > 1) AS BIGINT) AS n_multi_doc,
        CAST((CAST(SUM(n) - count(*) AS HUGEINT) * 1000000) // SUM(n) AS BIGINT)
          AS dup_share_micro
      FROM fpt GROUP BY source"""

  /** q311's fixture (r13 — VERDICT ask 1): the chunk-index STATE as
    * [[graft.streaming.CorpusStream.chunkIndexStream]] leaves it —
    * per-batch (source, fp, n, nd) partials — compacted through TWO
    * merge-aware tiered windows, so the geometric cascade applies the
    * SUM merge at a real run fold (run=0-1 ∪ fold(batch 1) →
    * run=0-2) with batch 2 left live. PID-scoped + in-JVM memo (the
    * tieredFixtureDir discipline: a fixed shared path would let two
    * JVMs race delete-against-read). */
  private val stateFixtureCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def tieredStateFixtureDir(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-chunkstate-" +
      s"${ProcessHandle.current().pid()}-" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_")
    stateFixtureCache.getOrElseUpdate(out, {
      val root = new org.apache.hadoop.fs.Path(out)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(root)) fs.delete(root, true)
      val docs = t(spark, dir, "documents")
      (0 to 2).foreach(i => chunkFps(docs.filter(col("doc_id") % 3 === i))
        .write.parquet(s"$out/batch_id=$i"))
      graft.streaming.CorpusStream.compactChunkIndex(spark, out, 1)
      graft.streaming.CorpusStream.compactChunkIndex(spark, out, 2)
      out
    })
  }

  /** Bench-warmup fixture resolution (r13 — see
    * [[graft.ops.Similarity.prebuildFixtures]]). */
  private[graft] def prebuildFixtures(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    tieredStateFixtureDir(spark, dir)
    ()
  }

  // -------------------------------------------------------------------
  // q277 — retrieval containment card
  // -------------------------------------------------------------------

  /** Exact-containment retrieval eval over word-aligned chunks: each
    * query doc (doc_id % [[QueryDocMod]] == 0 with >= 16 words)
    * contributes one [[QueryGramWords]]-word mid-document span as its
    * query; a chunk "retrieves" the query iff the span appears verbatim
    * among the chunk's word grams. Per query: hit chunks, hit docs, and
    * whether the origin doc is among them (`self_hit`) — which is 1 for
    * EVERY query because the chunk overlap (>= gram width) guarantees
    * no span straddles all boundaries; the card proves that recall
    * invariant corpus-wide, and `n_hit_docs > 1` measures cross-doc
    * leakage (near-dup docs answering each other's queries).
    *
    * Scale shape: each 8-gram is hashed ONCE at its word position — by
    * the registered [[graft.functions.WordGramMd5]] single-pass
    * expression, because the equivalent `transform(sequence, i ->
    * md5(concat_ws(slice)))` lambda evaluates interpreted with a fresh
    * slice allocation per position (41.8 s at 100x; this form 17.9 s,
    * 2.3x — fps bit-identical, so the oracle is untouched) — and its
    * chunk memberships derived arithmetically (a gram at position i
    * lives in chunks ceil((i+g-1-W)/S)..floor((i-1)/S)); the naive
    * per-chunk re-slice would re-hash every overlap-region gram. The
    * stream stays linear in token volume; it equi-joins a BROADCAST
    * distinct query-fp set (corpus_docs / [[QueryDocMod]] rows), then
    * one query-keyed rollup. No substring scans, no pair explosion. */
  def retrievalContainment(docs: DataFrame): DataFrame = {
    val cw = WordChunk; val cs = WordStride; val g = QueryGramWords
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("nw", size(col("w")).cast("long"))
    // query per eligible doc: 8 words starting at word (nw div 2 - 3), 1-based
    val queries = toks
      .filter(col("doc_id") % QueryDocMod === 0 && col("nw") >= 16)
      .select(col("doc_id").as("qdoc_id"),
        expr(s"md5(concat_ws(' ', slice(w, CAST(nw div 2 AS INT) - 3, $g)))").as("fp"))
    val qfps = queries.select("fp").distinct()
    // gram fps hashed once per position; chunk ids derived arithmetically
    val grams = toks
      .filter(col("nw") >= g)
      .select(col("doc_id"), col("nw"), col("w"),
        posexplode(wordGramMd5(col("w"), g)).as(Seq("i0", "fp")))
      .withColumn("i", col("i0").cast("long") + 1L)
      .select(col("doc_id"), col("fp"),
        explode(expr(
          s"""sequence(
                CASE WHEN i + ${g - 1} <= $cw THEN 0L
                     ELSE (i + ${g - 1} - $cw + ${cs - 1}) div $cs END,
                least(${lastChunk("nw", cw, cs)}, (i - 1) div $cs))""")).as("k"))
    val hits = grams.join(broadcast(qfps), "fp")
      .groupBy("fp").agg(
        count(lit(1)).as("n_hit_grams"),
        countDistinct(col("doc_id"), col("k")).as("n_hit_chunks"),
        countDistinct("doc_id").as("n_hit_docs"),
        collect_set("doc_id").as("hit_docs"))
    queries.join(hits, "fp")
      .select(col("qdoc_id"), col("n_hit_grams"), col("n_hit_chunks"),
        col("n_hit_docs"),
        expr("CAST(array_contains(hit_docs, qdoc_id) AS BIGINT)").as("self_hit"))
  }

  val retrievalContainmentSql: String = {
    val cw = WordChunk; val cs = WordStride; val g = QueryGramWords
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS w,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS nw FROM documents),
      q AS (SELECT doc_id AS qdoc_id,
          md5(array_to_string(w[(nw // 2 - 3) : (nw // 2 - 3 + ${g - 1})], ' ')) AS fp
        FROM tk WHERE doc_id % $QueryDocMod = 0 AND nw >= 16),
      cw AS (SELECT doc_id, k, w[(k * $cs + 1) : (k * $cs + $cw)] AS cw
        FROM tk, LATERAL (SELECT
          unnest(range(0, ${lastChunkDuck("nw", cw, cs)} + 1)) AS k) u),
      grams AS (SELECT doc_id, k,
          md5(array_to_string(cw[i : i + ${g - 1}], ' ')) AS fp
        FROM (SELECT doc_id, k, cw,
                unnest(range(1, greatest(len(cw) - ${g - 1} + 1, 1))) AS i
              FROM cw)),
      hits AS (SELECT gr.fp, CAST(count(*) AS BIGINT) AS n_hit_grams,
          CAST(count(DISTINCT (gr.doc_id, gr.k)) AS BIGINT) AS n_hit_chunks,
          CAST(count(DISTINCT gr.doc_id) AS BIGINT) AS n_hit_docs,
          list(DISTINCT gr.doc_id) AS hit_docs
        FROM grams gr JOIN (SELECT DISTINCT fp FROM q) qf ON qf.fp = gr.fp
        GROUP BY gr.fp)
      SELECT q.qdoc_id, n_hit_grams, n_hit_chunks, n_hit_docs,
        CAST(list_contains(hit_docs, q.qdoc_id) AS BIGINT) AS self_hit
      FROM q JOIN hits ON hits.fp = q.fp"""
  }

  // -------------------------------------------------------------------
  // q278 — stride sweep (index planning card)
  // -------------------------------------------------------------------

  /** Strides evaluated by the planning sweep. */
  val SweepStrides = Seq(100, 150, 200)

  /** Closed-form index-inflation sweep: for each candidate stride (at
    * window [[ChunkChars]]), per source: total chunks, total chunk
    * chars, and the exact micro inflation factor over raw corpus chars
    * — what each stride costs in index size, WITHOUT materializing a
    * single chunk. Uses the closed form: a doc of `n` chars with last
    * chunk index `K` carries `n + K*(W-S)` chunk chars (all chunks
    * before the last are exactly `W`; the last is `n - K*S`).
    *
    * Scale shape: a 3-way literal explode above the scan of two integer
    * columns + one (source, stride) rollup — the cheapest op in the
    * family at any corpus size. */
  def strideSweep(docs: DataFrame): DataFrame = {
    val w = ChunkChars
    docs.select(col("source"), col("n_chars"),
        explode(lit(SweepStrides.toArray)).as("stride"))
      .withColumn("lastk", expr(
        s"CASE WHEN n_chars <= $w THEN 0L ELSE (n_chars - $w + stride - 1) div stride END"))
      .groupBy("source", "stride").agg(
        sum(expr("lastk + 1")).as("n_chunks"),
        sum(col("n_chars")).as("raw_chars"),
        sum(expr(s"n_chars + lastk * ($w - stride)")).as("chunk_chars"))
      .withColumn("inflation_micro", expr(
        "CAST((CAST(chunk_chars AS DECIMAL(38,0)) * 1000000) div raw_chars AS BIGINT)"))
      .select("source", "stride", "n_chunks", "raw_chars", "chunk_chars",
        "inflation_micro")
  }

  val strideSweepSql: String = {
    val w = ChunkChars
    s"""WITH s AS (SELECT source, n_chars, unnest([${SweepStrides.mkString(", ")}]) AS stride
          FROM documents),
      k AS (SELECT source, CAST(stride AS INT) AS stride, n_chars,
          CASE WHEN n_chars <= $w THEN 0
               ELSE (n_chars - $w + stride - 1) // stride END AS lastk
        FROM s)
      SELECT source, stride, CAST(SUM(lastk + 1) AS BIGINT) AS n_chunks,
        CAST(SUM(n_chars) AS BIGINT) AS raw_chars,
        CAST(SUM(n_chars + lastk * ($w - stride)) AS BIGINT) AS chunk_chars,
        CAST((CAST(SUM(n_chars + lastk * ($w - stride)) AS HUGEINT) * 1000000)
          // SUM(n_chars) AS BIGINT) AS inflation_micro
      FROM k GROUP BY 1, 2"""
  }

  // -------------------------------------------------------------------
  // q279 — boundary integrity card
  // -------------------------------------------------------------------

  /** Per-source boundary-integrity screen for the char-window policy:
    * of the interior chunk boundaries (offsets `k*S`, `k = 1..K`), how
    * many land mid-word — the boundary tears a word in two, so the
    * torn word's grams are unfindable in either chunk and embeddings
    * see a truncated token. A boundary at position `p` (0-based) splits
    * a word iff neither the char before it nor the char at it is a
    * space. The micro split share is the policy's "tear rate" — the
    * number a sentence-aligned chunker drives to zero.
    *
    * Scale shape: explode over boundary indices, two single-char
    * substrs, one source rollup; chunk text is never built. */
  def boundaryIntegrity(docs: DataFrame): DataFrame = {
    val s = ChunkStride; val w = ChunkChars
    docs.select(col("source"), col("text"),
        explode(expr(s"CASE WHEN n_chars <= $w THEN CAST(array() AS ARRAY<BIGINT>) " +
          s"ELSE sequence(1L, ${lastChunk("n_chars", w, s)}) END")).as("k"))
      .select(col("source"),
        expr(s"CAST(substr(text, k * $s, 1) != ' ' AND substr(text, k * $s + 1, 1) != ' ' AS BIGINT)")
          .as("split"))
      .groupBy("source").agg(
        count(lit(1)).as("n_boundaries"),
        sum("split").as("n_split"))
      .withColumn("split_micro", expr(
        "CAST((CAST(n_split AS DECIMAL(38,0)) * 1000000) div n_boundaries AS BIGINT)"))
      .select("source", "n_boundaries", "n_split", "split_micro")
  }

  val boundaryIntegritySql: String = {
    val s = ChunkStride; val w = ChunkChars
    s"""WITH b AS (SELECT source,
          CAST(substr(text, CAST(k * $s AS BIGINT), 1) != ' '
            AND substr(text, CAST(k * $s + 1 AS BIGINT), 1) != ' ' AS BIGINT) AS split
        FROM documents, LATERAL (SELECT
          unnest(range(1, ${lastChunkDuck("n_chars", w, s)} + 1)) AS k) u
        WHERE n_chars > $w)
      SELECT source, CAST(count(*) AS BIGINT) AS n_boundaries,
        CAST(SUM(split) AS BIGINT) AS n_split,
        CAST((CAST(SUM(split) AS HUGEINT) * 1000000) // count(*) AS BIGINT)
          AS split_micro
      FROM b GROUP BY source"""
  }

  /** RAG release report (q294): the q212-style capstone for the
    * chunking family — per source, everything a retrieval-index release
    * gate reads in ONE table: chunk geometry (docs, chunks, chars, mean
    * length), duplicate mass (dup share + cross-doc boilerplate count),
    * and the boundary tear rate. Composes the family's rollups off ONE
    * chunk stream (localCheckpoint — the Memo "pay shared heavy
    * intermediates once" discipline at query scope); the boundary card
    * reads the raw docs (it never needs chunk text). All joins are
    * source-keyed over source-bounded frames.
    *
    * Left joins + zero-fills: a source whose docs are all shorter than
    * the window has no interior boundaries — it must still release. */
  def ragReleaseReport(docs: DataFrame): DataFrame = {
    val ch = charChunks(docs)
      .select(col("source"), col("doc_id"), col("k"), col("chunk"))
      .localCheckpoint() // ONE chunk stream feeds both heavy rollups
    val geo = ch.select(col("source"), col("k"), length(col("chunk")).as("clen"))
      .groupBy("source").agg(
        expr("CAST(count_if(k = 0) AS BIGINT)").as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum("clen").as("chunk_chars"))
      .withColumn("mean_len_micro", expr(
        "CAST((CAST(chunk_chars AS DECIMAL(38,0)) * 1000000) div n_chunks AS BIGINT)"))
    val dup = ch.groupBy(col("source"), xxhash64(col("chunk")).as("fp"))
      .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("nd"))
      .groupBy("source").agg(
        sum("n").as("nch"), count(lit(1)).as("n_distinct"),
        expr("CAST(count_if(nd > 1) AS BIGINT)").as("n_multi_doc"))
      .withColumn("dup_share_micro", expr(
        "CAST((CAST(nch - n_distinct AS DECIMAL(38,0)) * 1000000) div nch AS BIGINT)"))
      .select("source", "n_multi_doc", "dup_share_micro")
    val tear = boundaryIntegrity(docs).select("source", "n_boundaries", "split_micro")
    geo.join(dup, Seq("source"))
      .join(tear, Seq("source"), "left")
      .withColumn("n_boundaries", coalesce(col("n_boundaries"), lit(0L)))
      .withColumn("split_micro", coalesce(col("split_micro"), lit(0L)))
      .select("source", "n_docs", "n_chunks", "chunk_chars", "mean_len_micro",
        "n_multi_doc", "dup_share_micro", "n_boundaries", "split_micro")
  }

  val ragReleaseReportSql: String =
    s"""WITH ${charChunksCte()},
      geo AS (SELECT source, CAST(count(*) FILTER (k = 0) AS BIGINT) AS n_docs,
          CAST(count(*) AS BIGINT) AS n_chunks,
          CAST(SUM(len(chunk)) AS BIGINT) AS chunk_chars,
          CAST((CAST(SUM(len(chunk)) AS HUGEINT) * 1000000) // count(*) AS BIGINT)
            AS mean_len_micro
        FROM ch GROUP BY source),
      fpt AS (SELECT source, md5(chunk) AS fp, CAST(count(*) AS BIGINT) AS n,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
        FROM ch GROUP BY 1, 2),
      dup AS (SELECT source,
          CAST(count(*) FILTER (nd > 1) AS BIGINT) AS n_multi_doc,
          CAST((CAST(SUM(n) - count(*) AS HUGEINT) * 1000000) // SUM(n) AS BIGINT)
            AS dup_share_micro
        FROM fpt GROUP BY source),
      b AS (SELECT source,
          CAST(substr(text, CAST(k * $ChunkStride AS BIGINT), 1) != ' '
            AND substr(text, CAST(k * $ChunkStride + 1 AS BIGINT), 1) != ' ' AS BIGINT) AS split
        FROM documents, LATERAL (SELECT
          unnest(range(1, ${lastChunkDuck("n_chars", ChunkChars, ChunkStride)} + 1)) AS k) u
        WHERE n_chars > $ChunkChars),
      tear AS (SELECT source, CAST(count(*) AS BIGINT) AS n_boundaries,
          CAST((CAST(SUM(split) AS HUGEINT) * 1000000) // count(*) AS BIGINT)
            AS split_micro
        FROM b GROUP BY source)
      SELECT geo.source, n_docs, n_chunks, chunk_chars, mean_len_micro,
        n_multi_doc, dup_share_micro,
        COALESCE(n_boundaries, 0) AS n_boundaries,
        COALESCE(split_micro, 0) AS split_micro
      FROM geo JOIN dup ON dup.source = geo.source
      LEFT JOIN tear ON tear.source = geo.source"""

  def queries: Seq[QueryDef] = Seq(
    QueryDef("q294_rag_release_report",
      (s, d) => ragReleaseReport(t(s, d, "documents")),
      Some(ragReleaseReportSql)),
    QueryDef("q275_chunk_geometry",
      (s, d) => chunkGeometry(t(s, d, "documents")), Some(chunkGeometrySql)),
    QueryDef("q276_chunk_dup_card",
      (s, d) => chunkDupCard(t(s, d, "documents")), Some(chunkDupCardSql)),
    // r13: the dup card over MERGE-AWARE tiered state — per-batch fp
    // partials compacted through a real cascade fold (sum merge applied
    // at run-merge time) + one live batch; must equal batch q276 over
    // the whole corpus or the LSM discipline dropped/double-counted rows
    QueryDef("q311_tiered_state_card",
      (s, d) => graft.streaming.CorpusStream.liveChunkDupCard(s,
        tieredStateFixtureDir(s, d)),
      Some(chunkDupCardSql)),
    QueryDef("q277_retrieval_containment",
      (s, d) => retrievalContainment(t(s, d, "documents")),
      Some(retrievalContainmentSql)),
    QueryDef("q278_stride_sweep",
      (s, d) => strideSweep(t(s, d, "documents")), Some(strideSweepSql)),
    QueryDef("q279_boundary_integrity",
      (s, d) => boundaryIntegrity(t(s, d, "documents")), Some(boundaryIntegritySql)))
}
