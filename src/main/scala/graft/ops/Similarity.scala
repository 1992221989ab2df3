package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{lshKeys, pqAdcSum, quantizedDot}
import graft.queries.{QueryDef, Tuning}
import graft.queries.QueryDef._
import graft.util.{FsUtil, ParquetTables}

/** Similarity search over `embeddings` (★ SURVEY §2c): cosine top-k —
  * brute force as the exact baseline, multi-table random-hyperplane LSH
  * and a trained IVF index as the scale paths.
  *
  * Determinism: embeddings are quantized to integers (floor(x * 1e6)), so
  * dot products and norms are EXACT integer arithmetic — order-independent
  * and bit-identical in any engine; the final cosine is one double
  * division of identical operands. This is what makes cosine top-k
  * oracle-able at all (float accumulation order would differ). The same
  * discipline extends to the index structures: LSH hyperplanes are ±1
  * integer vectors (seeded, baked as literals into BOTH engines'
  * expressions) and k-means centroids are integer vectors updated with
  * truncating integer division — Spark `DIV` and DuckDB `//` both
  * truncate toward zero, so the trained index is bit-identical across
  * engines.
  *
  * Scale: brute force is O(n²) — fine as a re-rank stage or for one-side-
  * small joins. LSH candidate generation is an equi-join on (table, bits)
  * keys; IVF assignment is a narrow n × k broadcast pass and candidate
  * generation an equi-join on cell — both shuffle-partitionable, the
  * 100 TB paths. Recall on near-isotropic synthetic data is bounded by
  * candidate volume (SimilarityRecallSpec quantifies the curve); real
  * clustered embeddings prune far harder at the same recall. */
object Similarity {

  /** floor(x * 1e6) quantization of the float vector. */
  val quantExpr = "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
  val quantSql = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"

  /** Quantized vectors + exact integer norms. The norm and all pairwise
    * dot products go through the codegen'd QuantizedDot expression — the
    * built-in zip_with/aggregate lambda pipeline evaluates interpretively
    * and was ~50x slower on the O(n²) join hot path. */
  def quantized(spark: SparkSession, dir: String): DataFrame = {
    // spread the (often single-file) vector table before the O(n²) work
    QueryDef.spread(t(spark, dir, "embeddings"))
      .select(col("vec_id"), expr(quantExpr).as("qv"), col("label"))
      .withColumn("nrm", quantizedDot(col("qv"), col("qv")))
  }

  /** Total cosine: try_divide(dot, |a||b|) coalesced to -Infinity. A
    * zero-norm (all-zero) vector has no direction — it must rank LAST in
    * every top-k / assignment argmax, and the expression must be total
    * under BOTH ANSI modes: ANSI `/` (the Spark 4 session default)
    * throws DIVIDE_BY_ZERO on the degenerate input, and the non-ANSI
    * NULL that rank windows ordered last would crash the non-nullable
    * bounded aggregators (TopKSim). try_divide == `/` bit-for-bit on
    * every non-degenerate row, so results and oracles are unchanged. */
  private[graft] def cosine(dot: Column, na: Column, nb: Column): Column =
    coalesce(
      try_divide(dot, sqrt(na.cast("double")) * sqrt(nb.cast("double"))),
      lit(Double.NegativeInfinity))

  private val simCol =
    cosine(quantizedDot(col("qa"), col("qb")).cast("double"), col("na"), col("nb"))

  private def pairFrames(qa: DataFrame, qb: DataFrame): (DataFrame, DataFrame) = (
    qa.select(col("vec_id").as("id_a"), col("qv").as("qa"), col("nrm").as("na")),
    qb.select(col("vec_id").as("id_b"), col("qv").as("qb"), col("nrm").as("nb")))

  private def pairFrames(q: DataFrame): (DataFrame, DataFrame) = pairFrames(q, q)

  /** All near-duplicate pairs (id_a < id_b) with cosine >= threshold. */
  def nearDupPairs(spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    val (a, b) = pairFrames(quantized(spark, dir))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", simCol)
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Exact brute-force cosine top-k per vector. r14: ranked by the
    * bounded [[graft.functions.TopKSim]] aggregator ([[topkPairs]])
    * instead of a rank window — map partitions reduce each query to ≤ k
    * candidates BEFORE the exchange, where the window shuffled and
    * sorted all n² pairs. Total order (sim desc, id asc) matches the
    * window tie-break; TopKPlanSwapSpec locks row-identity against the
    * inline window twin and the oracle keeps the window form. */
  def knnBrute(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val (a, b) = pairFrames(quantized(spark, dir))
    topkPairs(
      a.join(b, col("id_a") =!= col("id_b")).withColumn("sim", simCol),
      k)
  }

  /** Contrastive-pair training manifest (q174): anchors are the
    * near-dup TEXT pairs the reps MinHash mine surfaces (q125 — the
    * natural positives for contrastive/embedding training: same content,
    * different bytes), and each anchor's hard negative is its
    * most-similar OTHER-LABEL vector from the IVF candidates (q155's
    * mining set). One row per (anchor, positive) pair that has an
    * embedding and an in-cell negative — the (anchor, pos, neg) triple
    * file a contrastive trainer consumes directly. Pure composition of
    * two gated operators joined on the shared doc_id == vec_id key;
    * both inputs keep their own scale shapes. */
  def contrastivePairs(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame = {
    val pos = graft.ops.Dedup.minhashLshPairsDeduped(
      t(spark, dir, "documents"), threshold)
      .select(col("id_a").as("anchor_id"), col("id_b").as("positive_id"),
        col("jaccard"))
    val neg = hardTripletsOn(spark, dir,
      ivfScoredPairs(spark, persistedIvfIndexDir(spark, dir)))
      .filter(col("neg_id").isNotNull)
      .select(col("vec_id").as("anchor_id"), col("neg_id").as("negative_id"),
        col("neg_sim"))
    pos.join(neg, "anchor_id")
      .select("anchor_id", "positive_id", "jaccard", "negative_id", "neg_sim")
  }

  /** q174's oracle: q125's reps-mine CTEs joined with q155's
    * IVF-triplet CTEs on the anchor id. */
  private lazy val contrastivePairsSql: String = {
    val repsRel =
      "(SELECT d.* FROM documents d " +
        "JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) r " +
        "USING (doc_id))"
    s"""WITH $ivfPairCtes,
    l AS (SELECT vec_id, label FROM embeddings),
    pp AS (SELECT p.vec_id AS id_a, p.neighbor_id AS id_b, p.sim,
          CASE WHEN la.label = lb.label THEN 'pos' ELSE 'neg' END AS grp
        FROM p JOIN l la ON la.vec_id = p.vec_id
               JOIN l lb ON lb.vec_id = p.neighbor_id),
    rr AS (SELECT id_a, id_b, sim, grp,
          row_number() OVER (PARTITION BY id_a, grp ORDER BY sim DESC, id_b) AS rn
        FROM pp),
    trip AS (SELECT id_a AS anchor_id,
          max(CASE WHEN grp = 'neg' THEN id_b END) AS negative_id,
          max(CASE WHEN grp = 'neg' THEN sim END) AS neg_sim
        FROM rr WHERE rn = 1 GROUP BY id_a),
    ${graft.ops.Dedup.minhashPairsCtesOver(repsRel)}
    SELECT v.id_a AS anchor_id, v.id_b AS positive_id, v.jaccard,
      t.negative_id, t.neg_sim
    FROM verified v JOIN trip t ON t.anchor_id = v.id_a
    WHERE v.jaccard >= 0.8 AND t.negative_id IS NOT NULL"""
  }

  /** MMR literals — kept as STRINGS so both engines parse the identical
    * double (never compute 1−λ at runtime: `1 - 0.7` is
    * 0.30000000000000004 in IEEE, silently diverging from a literal
    * `0.3`). */
  val MmrLambda = "0.7"
  val MmrOneMinusLambda = "0.3"
  val MmrPoolK = 50
  val MmrTopK = 10

  /** Maximal-marginal-relevance re-ranking (q161, Carbonell & Goldstein
    * 1998): greedily select `k` results maximizing `λ·rel − (1−λ)·max
    * sim-to-already-selected` — the standard retrieval diversification
    * (a plain top-k over a corpus with near-dups returns the same
    * passage k times; MMR spends each slot on new information). Query =
    * the corpus's min well-formed vector (deterministic, the q115
    * derived-phrase discipline); relevance and inter-candidate
    * similarity are the exact quantized cosines, so every score is a
    * portable double and the oracle unrolls the SAME greedy steps.
    *
    * Scale shape: the pool selection is the distributed part — exact
    * top-`poolK` by relevance via TakeOrderedAndProject (at 100 TB,
    * compose the pool from the persisted IVF index like q153-q155); the
    * greedy re-rank is inherently sequential over the POOL, which is
    * bounded by `poolK` (50), so it runs on the driver over collected
    * pool rows — the k·dim-bounded collect discipline of the k-means
    * trainer, and the same shape every production reranker uses (pools
    * are request-sized, never corpus-sized). */
  def mmrRerank(spark: SparkSession, dir: String,
      k: Int = MmrTopK, poolK: Int = MmrPoolK): DataFrame = {
    val wf = quantized(spark, dir)
      .filter(expr(s"size(qv) = $Dim AND NOT exists(qv, x -> x IS NULL)"))
      .select("vec_id", "qv", "nrm").localCheckpoint()
    val qRow = wf.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("q_id"), col("qv").as("qqv"), col("nrm").as("qnrm"))
    val pool = wf.crossJoin(broadcast(qRow))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("rel", cosine(
        quantizedDot(col("qv"), col("qqv")).cast("double"), col("nrm"), col("qnrm")))
      .orderBy(col("rel").desc, col("vec_id").asc).limit(poolK)
      .select("vec_id", "qv", "nrm", "rel")
      .collect()
    // driver greedy over <= poolK rows: exact Long dots, IEEE doubles —
    // the identical arithmetic the unrolled oracle performs
    case class C(id: Long, qv: Array[Long], nrm: Long, rel: Double)
    val cs = pool.map(r => C(r.getLong(0),
      r.getSeq[Long](1).toArray, r.getLong(2), r.getDouble(3)))
    def cos(a: C, b: C): Double = {
      var dot = 0L; var i = 0
      while (i < a.qv.length) { dot += a.qv(i) * b.qv(i); i += 1 }
      dot.toDouble / (math.sqrt(a.nrm.toDouble) * math.sqrt(b.nrm.toDouble))
    }
    val lam = MmrLambda.toDouble; val oml = MmrOneMinusLambda.toDouble
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, C, Double)]
    val remaining = scala.collection.mutable.ArrayBuffer.from(cs)
    for (step <- 1 to math.min(k, cs.length)) {
      val scored = remaining.map { c =>
        val pen = if (picked.isEmpty) 0.0 else picked.map(p => cos(c, p._2)).max
        (c, lam * c.rel - oml * pen)
      }
      val best = scored.minBy { case (c, s) => (-s, c.id) }
      picked += ((step, best._1, best._2))
      remaining -= best._1
    }
    import spark.implicits._
    picked.toSeq.map { case (r, c, s) => (r.toLong, c.id, c.rel, s) }
      .toDF("rank", "vec_id", "rel", "score")
  }

  def mmrRerankSql(k: Int = MmrTopK, poolK: Int = MmrPoolK): String = {
    val lam = MmrLambda; val oml = MmrOneMinusLambda
    def cosTo(a: String, b: String) =
      s"""CAST(list_sum(list_transform(range(1, $Dim + 1), i -> $a.qv[i] * $b.qv[i])) AS DOUBLE)
          / (sqrt(CAST($a.nrm AS DOUBLE)) * sqrt(CAST($b.nrm AS DOUBLE)))"""
    // the penalty is a join+max, never a correlated subquery: DuckDB
    // rejects outer-column references inside list lambdas, but a lambda
    // over two joined columns is the proven af-CTE pattern
    val steps = (1 to k).map { i =>
      val prevSel = (1 until i).map(j => s"SELECT vec_id FROM s$j").mkString(" UNION ALL ")
      val prevAll = (1 until i)
        .map(j => s"SELECT vec_id, qv, nrm FROM s$j").mkString(" UNION ALL ")
      if (i == 1)
        s"""s$i AS MATERIALIZED (SELECT $i AS rank, p.vec_id, p.qv, p.nrm, p.rel,
              $lam * p.rel - $oml * 0.0 AS score
            FROM pool p
            ORDER BY score DESC, p.vec_id LIMIT 1)"""
      else
        s"""pen$i AS MATERIALIZED (SELECT p.vec_id, max(${cosTo("p", "s")}) AS pen
              FROM pool p, ($prevAll) s GROUP BY p.vec_id),
        s$i AS MATERIALIZED (SELECT $i AS rank, p.vec_id, p.qv, p.nrm, p.rel,
              $lam * p.rel - $oml * pp.pen AS score
            FROM pool p JOIN pen$i pp USING (vec_id)
            WHERE p.vec_id NOT IN ($prevSel)
            ORDER BY score DESC, p.vec_id LIMIT 1)"""
    }.mkString(",\n      ")
    s"""WITH $quantCte,
      wf AS (SELECT vec_id, qv, nrm FROM n
             WHERE len(qv) = $Dim AND len(list_filter(qv, x -> x IS NULL)) = 0),
      q0 AS (SELECT vec_id AS q_id, qv, nrm FROM wf ORDER BY vec_id LIMIT 1),
      pool AS MATERIALIZED (SELECT p.vec_id, p.qv, p.nrm, ${cosTo("p", "q")} AS rel
               FROM wf p, q0 q WHERE p.vec_id <> q.q_id
               ORDER BY rel DESC, p.vec_id LIMIT $poolK),
      $steps
      SELECT CAST(rank AS BIGINT) AS rank, vec_id, rel, score
      FROM (${(1 to k).map(j => s"SELECT * FROM s$j").mkString(" UNION ALL ")})"""
  }

  /** Embedding-space decontamination: for every TRAIN vector, count the
    * TEST-split vectors within cosine `threshold` and report the max —
    * the semantic sibling of the gram-exact q131/q74 paths (catches a
    * paraphrased benchmark answer no shingle or span ever will). Splits
    * ride the shared hash split ([[Sampling.splitCase]]) on vec_id, so
    * doc-keyed and embedding-keyed decontamination agree on membership
    * (vec_id == doc_id, the q50 join contract).
    *
    * Scale shape: the TEST side is benchmark-sized however big the
    * train corpus is (the q131 argument), so it BROADCASTS and the
    * train side streams through map-side — no shuffle of train rows at
    * all; the plan is scan → broadcast-nest-join → partial agg. */
  def semanticDecontaminate(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val q = quantized(spark, dir)
      .withColumn("split", expr(Sampling.splitCase("vec_id")))
    val (a, b) = pairFrames(q.filter(col("split") === "train"),
      q.filter(col("split") === "test"))
    a.join(broadcast(b), col("id_a") =!= col("id_b"))
      .withColumn("sim", simCol)
      .filter(col("sim") >= threshold)
      .groupBy(col("id_a").as("vec_id"))
      .agg(count(lit(1)).as("n_test_sims"), max(col("sim")).as("max_sim"))
  }

  def semanticDecontaminateSql(threshold: Double): String =
    s"""WITH $quantCte,
      s AS (SELECT vec_id, qv, nrm, ${Sampling.splitCaseDuck("vec_id")} AS split FROM n),
      p AS (SELECT a.vec_id, $simSql AS sim
            FROM s a JOIN s b ON a.split = 'train' AND b.split = 'test'
              AND a.vec_id <> b.vec_id)
      SELECT vec_id, count(*) AS n_test_sims, max(sim) AS max_sim
      FROM p WHERE sim >= $threshold GROUP BY vec_id"""

  val RpSeed = 137
  val RpDim = 16
  /** Seeded ±1 projection planes for [[rpDistortion]] — same generator
    * as the LSH hyperplanes, literal-baked into the oracle SQL. LAZY:
    * `Dim` is declared later in this object and would still be 0 during
    * an eager val's initialization (the init-order trap that silently
    * produced EMPTY planes and a NULL-cascade before). */
  lazy val rpPlanes: IndexedSeq[IndexedSeq[Int]] =
    graft.functions.Hyperplanes.planes(RpSeed, 1, RpDim, Dim)(0)

  /** Johnson–Lindenstrauss distortion audit: project every embedding to
    * `RpDim` dimensions through a seeded ±1 matrix (exact integer dots —
    * 16 codegen'd `quantized_dot`s against literal arrays per row) and
    * report, for every exact near-dup pair (the q44 cut), the original
    * cosine, the projected cosine, and their absolute gap. This is the
    * go/no-go table for running ANN on cheap projected vectors: if the
    * distortion at the dedup threshold is small, candidate generation
    * can run at RpDim/Dim the memory bandwidth and re-rank exactly.
    *
    * Scale shape: the projection is a stateless per-row map; pair
    * scoring rides q44's join; the join-backs are id-keyed. */
  def rpDistortion(spark: SparkSession, dir: String): DataFrame =
    rpDistortionOn(spark, dir, nearDupPairs(spark, dir, 0.4))

  /** [[rpDistortion]] over ANY (id_a, id_b, sim) pair frame — the
    * projection and scoring are linear in pairs + vectors; what sets
    * the cost is the PAIR SOURCE. q142 feeds it the exact brute sweep
    * (its 434 s at 100x is entirely the q44/q45 O(n²) mine — the
    * projection stages are seconds); at scale feed it LSH or IVF
    * candidates (q46/q47/q129) exactly as [[mutualTop1]] composes. */
  def rpDistortionOn(spark: SparkSession, dir: String,
      pairs: DataFrame): DataFrame = {
    val rpArr = rpPlanes.map(p => quantizedDot(col("qv"), typedLit(p.map(_.toLong).toSeq)))
    // well-formed vectors only: the corpus's degenerate fixtures (short
    // or null-element vectors) would otherwise split the engines —
    // quantized_dot nulls the whole dot, DuckDB's list_sum skips the
    // missing tail. An audit over malformed vectors is meaningless
    // anyway; they drop from both sides identically.
    val proj = quantized(spark, dir)
      .filter(expr(s"size(qv) = $Dim AND NOT exists(qv, x -> x IS NULL)"))
      .select(col("vec_id"), array(rpArr: _*).as("py"))
      .withColumn("pn", quantizedDot(col("py"), col("py")))
      .localCheckpoint() // joined twice (both pair sides)
    pairs
      .join(proj.select(col("vec_id").as("id_a"), col("py").as("pa"), col("pn").as("pna")), "id_a")
      .join(proj.select(col("vec_id").as("id_b"), col("py").as("pb"), col("pn").as("pnb")), "id_b")
      .withColumn("psim", cosine(
        quantizedDot(col("pa"), col("pb")).cast("double"), col("pna"), col("pnb")))
      .withColumn("err", abs(col("sim") - col("psim")))
      .select("id_a", "id_b", "sim", "psim", "err")
  }

  /** Projection CTEs + final distortion select, over already-declared
    * CTEs `n` (the quantized frame) and `pairs` (id_a, id_b, sim) —
    * shared by the brute (q142) and IVF-composed (q153) oracles. CTE
    * names rproj/rpj avoid the `pr` name the IVF prefix uses. */
  private def rpDistortionTailSql: String = {
    val comp = rpPlanes.map { p =>
      val arr = p.mkString("[", ",", "]")
      s"CAST(list_sum(list_transform(range(1, ${Dim + 1}), i -> qv[i] * ($arr)[i])) AS BIGINT)"
    }.mkString(", ")
    s"""rproj AS (SELECT vec_id, [$comp] AS py FROM n
            WHERE len(qv) = $Dim
              AND len(list_filter(qv, x -> x IS NULL)) = 0),
      rpj AS (SELECT vec_id, py,
            CAST(list_sum(list_transform(py, x -> x * x)) AS BIGINT) AS pn FROM rproj)
      SELECT p.id_a, p.id_b, p.sim,
        CAST(list_sum(list_transform(range(1, $RpDim + 1), i -> x.py[i] * y.py[i])) AS DOUBLE)
          / (sqrt(CAST(x.pn AS DOUBLE)) * sqrt(CAST(y.pn AS DOUBLE))) AS psim,
        abs(p.sim - CAST(list_sum(list_transform(range(1, $RpDim + 1), i -> x.py[i] * y.py[i])) AS DOUBLE)
          / (sqrt(CAST(x.pn AS DOUBLE)) * sqrt(CAST(y.pn AS DOUBLE)))) AS err
      FROM pairs p JOIN rpj x ON x.vec_id = p.id_a JOIN rpj y ON y.vec_id = p.id_b"""
  }

  def rpDistortionSql: String =
    s"""WITH $quantCte,
      pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, $simSql AS sim
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            WHERE $simSql >= 0.4),
      $rpDistortionTailSql"""

  /** Per-dimension corpus statistics over the quantized embeddings —
    * the whitening/normalization audit (a dimension with runaway
    * variance dominates every cosine; a near-constant one is dead
    * weight): exact integer count / sum / sum-of-squares per dim plus
    * the truncated mean. One posexplode and ONE dim-keyed exchange of
    * (dim-count × partitions) partially-aggregated rows. */
  def embedDimStats(spark: SparkSession, dir: String): DataFrame =
    quantized(spark, dir)
      .select(posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy((col("pos") + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sum_x"),
        sum(col("x") * col("x")).as("sum_x2"))
      .withColumn("mean_t", expr("sum_x div n"))

  def embedDimStatsSql: String =
    s"""WITH q AS (SELECT vec_id, $quantSql AS qv FROM embeddings),
      m AS (SELECT unnest(range(1, len(qv) + 1)) AS dim, unnest(qv) AS x FROM q)
      SELECT CAST(dim AS BIGINT) AS dim, count(*) AS n,
        CAST(SUM(x) AS BIGINT) AS sum_x, CAST(SUM(x * x) AS BIGINT) AS sum_x2,
        CAST(SUM(x) AS BIGINT) // count(*) AS mean_t
      FROM m GROUP BY dim"""

  /** Triplet mining for contrastive/metric training: per anchor vector,
    * the hardest POSITIVE (most-similar vector sharing its label,
    * self excluded) and the hardest NEGATIVE (most-similar vector of a
    * DIFFERENT label), with the margin between them. Anchors with a
    * non-positive margin (`neg_sim >= pos_sim`) are the batch-mining
    * targets — the "semi-hard/hard" set every triplet-loss recipe
    * feeds on; margin ranking is also the label-noise audit (a negative
    * closer than every positive is very often a mislabeled point).
    *
    * Scale shape: scoring is the exact O(n²) sweep (the q45 caveat —
    * at 100 TB mine within IVF cells or label-stratified blocks); the
    * per-anchor reduction is ONE window per group kind over the scored
    * stream, then a pivot to one row per anchor — no pair output
    * survives the operator. */
  def hardTriplets(spark: SparkSession, dir: String): DataFrame = {
    val q = quantized(spark, dir)
    val a = q.select(col("vec_id").as("id_a"), col("qv").as("qa"),
      col("nrm").as("na"), col("label").as("label_a"))
    val b = q.select(col("vec_id").as("id_b"), col("qv").as("qb"),
      col("nrm").as("nb"), col("label").as("label_b"))
    // r14: same TopKSim(k=1) swap as [[hardTripletsOn]] — the rank window
    // sorted all n² scored pairs per partition; the bounded aggregator
    // reduces map-side. Row-identical by the shared (sim desc, id asc)
    // total order (TopKPlanSwapSpec's window twin).
    val top = a.join(b, col("id_a") =!= col("id_b"))
      .withColumn("sim", simCol)
      .withColumn("grp", when(col("label_a") === col("label_b"), "pos").otherwise("neg"))
      .groupBy("id_a", "grp")
      .agg(graft.functions.TopKSim.topk(1)(col("sim"), col("id_b")).as("top"))
      .select(col("id_a"), col("grp"),
        expr("top[0].id").as("id_b"), expr("top[0].sim").as("sim"))
    top.groupBy(col("id_a").as("vec_id"))
      .agg(
        max(when(col("grp") === "pos", col("id_b"))).as("pos_id"),
        max(when(col("grp") === "pos", col("sim"))).as("pos_sim"),
        max(when(col("grp") === "neg", col("id_b"))).as("neg_id"),
        max(when(col("grp") === "neg", col("sim"))).as("neg_sim"))
      .withColumn("margin", col("pos_sim") - col("neg_sim"))
  }

  // def, not val: quantCte/simSql are declared later in this object and
  // would still be null during a val's initialization
  def hardTripletsSql: String =
    s"""WITH $quantCte,
      l AS (SELECT n.vec_id, n.qv, n.nrm, e.label
            FROM n JOIN embeddings e USING (vec_id)),
      p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, $simSql AS sim,
            CASE WHEN a.label = b.label THEN 'pos' ELSE 'neg' END AS grp
            FROM l a JOIN l b ON a.vec_id <> b.vec_id),
      r AS (SELECT id_a, id_b, sim, grp,
            row_number() OVER (PARTITION BY id_a, grp ORDER BY sim DESC, id_b) AS rn
            FROM p)
      SELECT id_a AS vec_id,
        max(CASE WHEN grp = 'pos' THEN id_b END) AS pos_id,
        max(CASE WHEN grp = 'pos' THEN sim END) AS pos_sim,
        max(CASE WHEN grp = 'neg' THEN id_b END) AS neg_id,
        max(CASE WHEN grp = 'neg' THEN sim END) AS neg_sim,
        max(CASE WHEN grp = 'pos' THEN sim END)
          - max(CASE WHEN grp = 'neg' THEN sim END) AS margin
      FROM r WHERE rn = 1 GROUP BY id_a"""

  /** Reciprocal (mutual) top-1 pairs: (a, b) reported iff b is a's
    * single nearest neighbor AND a is b's — the standard high-precision
    * curation signal (a mutual pair is a near-certain duplicate or a
    * tight semantic twin, where one-directional top-1 is often just a
    * hub vector). Takes ANY (vec_id, rank, neighbor_id, sim) knn frame,
    * so at 100 TB it composes over the IVF paths (q47/q129) exactly as
    * the q133 query composes it over the exact brute-force frame — the
    * mutuality join itself is one doc-count-sized self-equi-join on
    * (vec_id, neighbor_id), trivially distributed. */
  def mutualTop1(knn: DataFrame): DataFrame = {
    val t1 = knn.filter(col("rank") === 1)
      .select(col("vec_id"), col("neighbor_id"), col("sim"))
    t1.as("x").join(t1.as("y"),
        col("x.vec_id") === col("y.neighbor_id") &&
          col("x.neighbor_id") === col("y.vec_id") &&
          col("x.vec_id") < col("x.neighbor_id"))
      .select(col("x.vec_id").as("id_a"),
        col("x.neighbor_id").as("id_b"), col("x.sim").as("sim"))
  }

  // ----------------------------------------------------------------------
  // Random-hyperplane LSH: `LshTables` hash tables of `LshBits` sign bits
  // each. Each bit is the sign of <qv, h> for a seeded ±1 hyperplane h —
  // integer-exact, so the bucket keys are engine-portable. Multi-table
  // (table index baked into the key) is what buys recall: a near pair
  // missed by one table's 4 bits collides in another; recall ~0.9 at 16
  // tables on the test corpus (SimilarityRecallSpec).
  // ----------------------------------------------------------------------

  val LshTables = 16
  val LshBits = 4
  val LshSeed = 42
  val Dim = 64 // embeddings.parquet vector dimensionality

  /** ±1 hyperplane coefficients (shared generator with the fused
    * HyperplaneKeys expression), baked as literals into the oracle SQL
    * and the composed spec formulation. */
  val lshPlanes: IndexedSeq[IndexedSeq[IndexedSeq[Int]]] =
    graft.functions.Hyperplanes.planes(LshSeed, LshTables, LshBits, Dim)

  /** Composed formulation of the key array — the spec-locked semantic
    * twin of `lsh_keys` (GraftFunctionsSpec asserts equality); the hot
    * path uses the fused expression. */
  def lshKeysComposed: Column =
    array(lshPlanes.zipWithIndex.map { case (tbl, t) =>
      val bits = tbl.map { plane =>
        when(quantizedDot(col("qv"), longs(plane.map(_.toLong))) >= 0, "1").otherwise("0")
      }
      concat(lit(t.toString) +: lit(":") +: bits: _*)
    }: _*)

  /** DuckDB twin of lshKeysComposed (one list literal; integer list_sum dot,
    * NOT list_dot_product — that returns DOUBLE). */
  val lshKeysSql: String = {
    val keys = lshPlanes.zipWithIndex.map { case (tbl, t) =>
      val bits = tbl.map { plane =>
        val arr = plane.mkString("[", ",", "]")
        s"CASE WHEN list_sum(list_transform(range(1, ${Dim + 1}), i -> qv[i] * ($arr)[i])) >= 0 THEN '1' ELSE '0' END"
      }.mkString(" || ")
      s"'$t' || ':' || $bits"
    }.mkString(", ")
    s"[$keys]"
  }

  /** Approximate top-k via multi-table LSH: candidates = pairs sharing
    * any table's bucket key (equi-join on key, distinct), exact cosine
    * re-rank. Join-back for vectors keeps the wide arrays out of the
    * distinct — the same shape as Dedup.minhashLshPairs. */
  def knnLsh(spark: SparkSession, dir: String, k: Int): DataFrame =
    // r14: bounded TopKSim ranking over the directed candidate sims
    // (was a row_number window over every candidate pair) — same swap
    // as knnBrute, spec-locked row-identical in TopKPlanSwapSpec.
    topkPairs(lshDirectedSims(spark, dir), k)

  /** The directed LSH candidate similarities knnLsh ranks: candidates =
    * pairs sharing any table's bucket key, scored once per UNORDERED
    * pair, then mirrored. Exposed (package-private) so the plan-swap
    * spec can rank the identical candidate set with the pre-r14 window
    * formulation. */
  private[graft] def lshDirectedSims(spark: SparkSession, dir: String): DataFrame = {
    val q = quantized(spark, dir).select("vec_id", "qv", "nrm").localCheckpoint()
    // keys feed both join sides; checkpoint the small (id, key) frame so
    // the 16x4 hyperplane dots per row run once (hygiene unpins it later)
    val keyed = q.select(col("vec_id"),
      explode(lshKeys(col("qv"), LshSeed, LshTables, LshBits, Dim)).as("bkey"))
      .localCheckpoint()
    // candidates as UNORDERED pairs (id_a < id_b): cosine is symmetric,
    // so each pair's 64-dim dot runs once and the cheap 3-column mirror
    // (union of both directions) feeds the per-vector ranking — half the
    // dot products and half the wide join-back of the directed formulation
    val cand = keyed.as("a")
      .join(keyed.as("b"), col("a.bkey") === col("b.bkey") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    // materialize before the self-union: Spark shares no common subtrees
    // across union branches, so an un-checkpointed `sims` would run the
    // candidate distinct + both join-backs + every dot product TWICE —
    // exactly the cost this pair formulation exists to avoid
    val sims = cand
      .join(q.select(col("vec_id").as("id_a"), col("qv").as("qa"), col("nrm").as("na")), "id_a")
      .join(q.select(col("vec_id").as("id_b"), col("qv").as("qb"), col("nrm").as("nb")), "id_b")
      .withColumn("sim", simCol)
      .select("id_a", "id_b", "sim")
      .localCheckpoint()
    sims.union(
      sims.select(col("id_b").as("id_a"), col("id_a").as("id_b"), col("sim")))
  }

  /** [[knnLsh]] with a per-BUCKET member cap (q304, r11): the LSH twin
    * of q296's cell cap. An LSH band bucket is the hot-cell exposure of
    * this family — a near-dup-heavy corpus collapses whole duplicate
    * clusters into the SAME band keys (SCALE.md lesson 1's quadratic
    * blowup, measured at 25k-doc duplicate groups), and the bucket
    * self-join is quadratic in bucket size. Capping each bucket at
    * `cap` members by the SAME unbiased md5 draw bounds every bucket's
    * pair volume at cap² — worst-case constant work per bucket, linear
    * total in keys — while keeping the draw a uniform sample (a
    * similarity-ranked draw would bias which near-neighbors survive).
    * A pair survives iff BOTH endpoints survive in a shared bucket, so
    * capped candidates ⊆ uncapped (spec-locked) and a cap above the
    * largest bucket is a row-identical no-op. */
  def knnLshCapped(spark: SparkSession, dir: String, k: Int,
      cap: Int = IvfMemberCap): DataFrame = {
    val q = quantized(spark, dir).select("vec_id", "qv", "nrm").localCheckpoint()
    val keyed = q.select(col("vec_id"),
      explode(lshKeys(col("qv"), LshSeed, LshTables, LshBits, Dim)).as("bkey"))
      .localCheckpoint()
    val w = Window.partitionBy("bkey")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    val capped = keyed.withColumn("mrn", row_number().over(w))
      .filter(col("mrn") <= cap).drop("mrn")
    val cand = capped.as("a")
      .join(capped.as("b"), col("a.bkey") === col("b.bkey") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val sims = cand
      .join(q.select(col("vec_id").as("id_a"), col("qv").as("qa"), col("nrm").as("na")), "id_a")
      .join(q.select(col("vec_id").as("id_b"), col("qv").as("qb"), col("nrm").as("nb")), "id_b")
      .withColumn("sim", simCol)
      .select("id_a", "id_b", "sim")
      .localCheckpoint()
    val directed = sims.union(
      sims.select(col("id_b").as("id_a"), col("id_a").as("id_b"), col("sim")))
    val rw = Window.partitionBy("id_a").orderBy(col("sim").desc, col("id_b").asc)
    directed
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select(col("id_a").as("vec_id"), col("rank"), col("id_b").as("neighbor_id"), col("sim"))
  }

  /** The capped LSH candidate pair set — exposed for the spec's
    * capped ⊆ uncapped lock on the pair algebra itself. */
  private[graft] def lshCandidatePairs(spark: SparkSession, dir: String,
      cap: Int = Int.MaxValue): DataFrame = {
    val q = quantized(spark, dir).select("vec_id", "qv", "nrm").localCheckpoint()
    val keyed = q.select(col("vec_id"),
      explode(lshKeys(col("qv"), LshSeed, LshTables, LshBits, Dim)).as("bkey"))
    val side =
      if (cap == Int.MaxValue) keyed
      else {
        val w = Window.partitionBy("bkey")
          .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        keyed.withColumn("mrn", row_number().over(w))
          .filter(col("mrn") <= cap).drop("mrn")
      }
    side.as("a")
      .join(side.as("b"), col("a.bkey") === col("b.bkey") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
  }

  // ----------------------------------------------------------------------
  // IVF with trained centroids: deterministic k-means (init = first k by
  // vec_id, fixed Lloyd iterations, INTEGER truncated-mean updates, empty
  // cells keep their previous centroid) — every step is exact integer or
  // identical-operand double arithmetic, so DuckDB mirrors the training
  // bit-for-bit. `nprobe` is the recall knob: queries probe their nprobe
  // nearest cells (members stay in exactly one), recall rising with
  // candidate volume (quantified in SimilarityRecallSpec).
  // ----------------------------------------------------------------------

  val IvfCentroids = 16
  val KmeansIters = 2
  val IvfNprobe = 2

  /** Derived coarse-cell count k = max(IvfCentroids, ceil(sqrt(n))) —
    * the standard IVF sizing: cells ~ sqrt(n) keeps BOTH the broadcast
    * centroid table (k·dim) and the expected per-cell candidate volume
    * (n/k ~ sqrt(n)) growing as the square root of the corpus, so
    * neither side of the index becomes the 100x bottleneck. The floor is
    * the shipped constant so tiny corpora keep their measured behavior.
    * [[ivfKSqlExpr]] is the oracle's scalar-subquery twin — both engines
    * derive the identical k from the data at any SF. */
  def ivfCentroidsFor(n: Long): Int =
    math.max(IvfCentroids, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Argmax cell as a k=1 bounded [[graft.functions.TopKSim]] aggregate —
    * (csim desc, cent_id asc), the exact `max_by(cent_id, struct(csim,
    * -cent_id))` total order. The point is the PHYSICAL operator:
    * max_by's struct buffer is neither fixed-width (HashAggregate) nor
    * TypedImperative (ObjectHashAggregate), so Catalyst plans
    * SortAggregateExec — which SORTS the n·k scored stream per
    * assignment, the spill that killed the 1000x trainer before any
    * pair work. The typed aggregator keeps the reduction in a hashed
    * map with a 2-field buffer; `element_at(top, 1).id` recovers the
    * cell. */
  private def argmaxCell: Column =
    graft.functions.TopKSim.topk(1)(col("csim"), col("cent_id"))

  private val ivfKSqlExpr =
    s"(SELECT GREATEST($IvfCentroids, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) FROM n)"

  /** Top-`nprobe` cells per vector — (vec_id, qv, nrm, cent_id, rn),
    * rn = 1 the home cell — by cosine desc (ties: cent_id asc).
    *
    * NOT a rank window: the scored frame is n·k rows, and with the
    * derived cell count k ~ sqrt(n) that is an n^1.5 volume — a window
    * (or any checkpoint of it) shuffles/spills n^1.5 rows CARRYING the
    * 64-long vector payload, which is exactly what the 100x campaign
    * caught (q66's ranked-assign checkpoint wrote ~50 GB of local
    * checkpoint + window sort spill at 200k vectors x 448 cells and
    * filled the disk; SCALE.md "Round-6: the 100x campaign, recorded").
    * Instead the reduction is
    * partial-aggregated per vector: the centroid cross-join is
    * partition-local, so map-side combine collapses n·k scored rows to
    * ONE row per vector per partition before any exchange — the shuffle
    * carries n rows (vec payload once each), never n·k. rn = 1 uses
    * [[argmaxCell]] (the k=1 bounded aggregator); deeper probes use the
    * same [[graft.functions.TopKSim]] aggregator at k = nprobe
    * (≤ nprobe entries per buffer). Both realize the SAME total order as
    * the rank-window form, so results — and the oracles' window SQL —
    * are unchanged. */
  private[graft] def assignCells(q: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val scored = q.crossJoin(broadcast(cents))
      .withColumn("csim", cosine(
        quantizedDot(col("qv"), col("cqv")).cast("double"), col("nrm"), col("cnrm")))
    // The reduction carries NO vector payload: a first(qv) in the
    // aggregate would put the 64-long array in every buffer, demoting
    // the whole n·k stream to ObjectHashAggregate (array buffers can't
    // live in the codegen'd fixed-width hash map) — whose fallback SORTS
    // the stream, the exact spill the 1000x campaign measured (2.8B
    // scored rows x ~600 B sorted on 4 cores filled the box). With only
    // (cent_id | top-nprobe ids) in the buffer the argmax runs in the
    // fixed-width HashAggregate (nprobe=1) / a ≤nprobe-entry TopKSim
    // buffer, and the payload comes back via ONE n-row equi-join against
    // the (checkpointed) quantized frame.
    val top =
      if (nprobe == 1)
        scored.groupBy("vec_id")
          .agg(argmaxCell.as("top"))
          .select(col("vec_id"), expr("element_at(top, 1).id").as("cent_id"))
          .withColumn("rn", lit(1))
      else
        scored.groupBy("vec_id")
          .agg(graft.functions.TopKSim.topk(nprobe)(col("csim"), col("cent_id")).as("top"))
          .select(col("vec_id"), posexplode(col("top")).as(Seq("i", "t")))
          .select(col("vec_id"), col("t.id").as("cent_id"),
            (col("i") + 1).cast("int").as("rn"))
    top.join(q.select("vec_id", "qv", "nrm"), "vec_id")
      .select("vec_id", "qv", "nrm", "cent_id", "rn")
  }

  /** Trained centroids (cent_id, cqv, cnrm). Updates are per-dimension
    * truncated integer means: posexplode -> sum/count per (cell, dim) ->
    * `s DIV cnt` (truncation toward zero — matching DuckDB's integer
    * `//`) -> array rebuilt in dim order. The aggregation is distributed
    * (keyed by cell/dim — any corpus size); the centroid TABLE itself is
    * k·dim longs, so it iterates on the driver: each Lloyd iteration is
    * exactly one Spark job (the means aggregation, k·dim result rows),
    * and the centroids become a LOCAL relation — broadcast to the
    * assignment cross-join without a build job. Empty cells keep their
    * previous centroid. */
  def kmeansCentroids(q: DataFrame, k: Int, iters: Int): DataFrame =
    centroidFrame(q.sparkSession, kmeansCentroidSeq(q, k, iters))

  private def centroidFrame(spark: SparkSession,
      c: Seq[(Long, Seq[Long])]): DataFrame = {
    import spark.implicits._
    c.toDF("cent_id", "cqv").withColumn("cnrm", quantizedDot(col("cqv"), col("cqv")))
  }

  private def kmeansCentroidSeq(q: DataFrame, k: Int,
      iters: Int): Seq[(Long, Seq[Long])] = {
    val spark = q.sparkSession
    import spark.implicits._
    def centsDF(c: Seq[(Long, Seq[Long])]): DataFrame = centroidFrame(spark, c)
    var cents: Seq[(Long, Seq[Long])] = q.filter(col("vec_id") < k)
      .select(col("vec_id"), col("qv")).as[(Long, Seq[Long])]
      .collect().toSeq.sortBy(_._1)
    for (_ <- 1 to iters) {
      // assignment argmax via max_by(cent_id, struct(csim, -cent_id)) —
      // the same total order as rankedAssign's (csim desc, cent_id asc)
      // window but partial-aggregated through the FIXED-WIDTH hash
      // aggregate (no array in any buffer — a first(qv) here demoted the
      // n·k stream to sort-fallback spill at 2M vectors; see
      // assignCells), the vectors rejoined per vec for the mean step
      val assign = q.crossJoin(broadcast(centsDF(cents)))
        .withColumn("csim", cosine(
          quantizedDot(col("qv"), col("cqv")).cast("double"), col("nrm"), col("cnrm")))
        .groupBy("vec_id")
        .agg(argmaxCell.as("top"))
        .select(col("vec_id"), expr("element_at(top, 1).id").as("cent_id"))
      val sums = assign.join(q.select("vec_id", "qv"), "vec_id")
        .select(col("cent_id"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy("cent_id", "pos")
        .agg(sum("x").as("s"), count(lit(1)).as("cnt"))
        .select(col("cent_id"), col("pos"), expr("s DIV cnt").as("m"))
        .as[(Long, Int, Long)].collect() // k·dim rows — driver-bounded
      val byCell = sums.groupBy(_._1).map { case (cid, rows) =>
        cid -> rows.sortBy(_._2).map(_._3).toSeq
      }
      cents = cents.map { case (cid, prev) => cid -> byCell.getOrElse(cid, prev) }
    }
    cents
  }

  /** The coarse index shared by the cluster family (q47/q95/q107/q109
    * and q66's coarse space): the quantized frame, the centroids trained
    * at the DERIVED cell count (nCents < 0 → [[ivfCentroidsFor]](n)),
    * and that k. Training is deterministic per (dir contents, k, iters),
    * so the trained rows (k·dim driver-local longs, kilobytes) are
    * memoized keyed on [[cacheKeyDir]]'s content fingerprint — in a
    * suite run the Lloyd jobs execute ONCE and every later family member
    * reuses them, while overwriting the directory's parquet invalidates
    * the entry; an explicit nCents bypasses the cache. */
  private[graft] val coarseCache = scala.collection.concurrent.TrieMap
    .empty[(String, Int, Int), Seq[(Long, Seq[Long])]]
  private[graft] val pqCodebookCache = scala.collection.concurrent.TrieMap
    .empty[(String, Int), Seq[(Int, Long, Seq[Long])]]

  /** Content fingerprint of `<dir>/embeddings.parquet`
    * ([[ParquetTables.fingerprint]]): the trained-centroid caches key on
    * it, so overwriting a directory's parquet — even with an equal row
    * count, where the derived k would collide — invalidates the memoized
    * training instead of serving stale centroids. Listing the path costs
    * milliseconds against a multi-second Lloyd train. */
  private[graft] def cacheKeyDir(spark: SparkSession, dir: String): String =
    ParquetTables.fingerprint(spark, s"$dir/embeddings.parquet")

  def coarseIndex(spark: SparkSession, dir: String, nCents: Int = -1,
      iters: Int = KmeansIters): (DataFrame, DataFrame, Int) = {
    val q = quantized(spark, dir).select("vec_id", "qv", "nrm").localCheckpoint()
    val k = if (nCents > 0) nCents else ivfCentroidsFor(q.count())
    val seq =
      if (nCents > 0) kmeansCentroidSeq(q, k, iters)
      else coarseCache.getOrElseUpdate((cacheKeyDir(spark, dir), k, iters),
        kmeansCentroidSeq(q, k, iters))
    (q, centroidFrame(spark, seq), k)
  }

  /** Persist the trained coarse index as parquet: `centroids` (cent_id,
    * cqv, cnrm) and `assignments` (vec_id, qv, nrm, cent_id, rn — the
    * [[assignCells]] output for nprobe probes). The production
    * deployment shape at 100 TB: Lloyd training and the assignment pass
    * amortize across every query batch that follows, and the
    * assignments table — written here unpartitioned; a deployment
    * partitions by cent_id — is the cell-prunable index file. */
  def saveIvfIndex(spark: SparkSession, dir: String, indexDir: String,
      nprobe: Int = IvfNprobe): Unit = {
    val (q, cents, _) = coarseIndex(spark, dir)
    val buildId = newBuildId()
    writeAssignmentsBucketed(spark, assignCells(q, cents, nprobe), indexDir,
      buildId)
    writeCentroidsSwapped(spark, cents, indexDir, buildId)
  }

  /** Per-rebuild completion marker (r13 — ADVICE r12): the assignments
    * and centroids swaps are two renames, and a crash between them
    * leaves new assignments + old centroids DURABLY — queries still
    * succeed (they read only assignments), but every subsequent append
    * assigns new vectors against the stale centroids, silently mixing
    * inconsistent cells into the index. Both tmp dirs are therefore
    * stamped with one shared build id BEFORE their swaps, and
    * [[checkBuildConsistency]] refuses the append paths on mismatch
    * (retrain repairs — it rewrites both sides under a fresh id). */
  private val BuildMarker = "_graft_build"
  private def newBuildId(): String =
    s"${ProcessHandle.current().pid()}@${System.nanoTime()}"

  /** Throw iff the index's assignments and centroids come from
    * DIFFERENT rebuilds (the crash-between-swaps residue). Legacy
    * indexes (neither side stamped — pre-r13 builds) pass: the check
    * gates on positive evidence of a torn rebuild, not on marker
    * presence. A small-file read per side — the append paths pay it
    * once per batch, next to the centroids parquet read they already
    * do. */
  def checkBuildConsistency(spark: SparkSession, indexDir: String): Unit = {
    val fs = FsUtil.fsOf(spark, new org.apache.hadoop.fs.Path(indexDir))
    def marker(sub: String) = FsUtil.readSmallFile(fs,
      new org.apache.hadoop.fs.Path(s"$indexDir/$sub", BuildMarker))
    (marker("assignments"), marker("centroids")) match {
      case (Some(a), Some(c)) if a != c => throw new IllegalStateException(
        s"index $indexDir is torn: assignments build '$a' != centroids " +
          s"build '$c' — a rebuild crashed between its two swaps. " +
          "Appending would assign new vectors against centroids " +
          "inconsistent with the base; retrain the index to repair " +
          "(Similarity.saveIvfIndex* / IndexStream.retrain rewrite both " +
          "sides under one build id)")
      case (Some(a), None) => throw new IllegalStateException(
        s"index $indexDir is torn: assignments carry build '$a' but the " +
          "centroids dir has no build marker — a rebuild crashed between " +
          "its two swaps (or the centroids were replaced by hand). " +
          "Retrain the index to repair")
      case _ => () // consistent, or legacy unstamped (pre-r13) — pass
    }
  }

  /** Centroids land AFTER the assignments swap, themselves tmp+swap
    * (r12): a retrain never clobbers the live index's centroids before
    * the (lazy, possibly self-reading) assignment job has completed,
    * and a crash leaves either the whole old index or new assignments +
    * old centroids for one write-window — detected thereafter by the
    * [[BuildMarker]] stamped into both tmp dirs pre-swap (r13). */
  private def writeCentroidsSwapped(spark: SparkSession, cents: DataFrame,
      indexDir: String, buildId: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(s"$indexDir/centroids")
    val fs = FsUtil.fsOf(spark, live)
    FsUtil.replaceDir(fs, live) { tmp =>
      cents.write.mode("overwrite").parquet(tmp.toString)
      FsUtil.writeSmallFile(fs, new org.apache.hadoop.fs.Path(tmp, BuildMarker), buildId)
    }
  }

  /** Bucket count of the persisted assignments table. 32 matches the
    * shipped shuffle parallelism; on a fleet a deployment sizes it to
    * cores-per-replica × replicas like any bucketed fact table. */
  val IvfIndexBuckets = 32

  /** Session-catalog name for an index directory's assignments table —
    * deterministic so every consumer in the JVM resolves the SAME
    * bucketed relation (path-hash suffix disambiguates dirs whose
    * sanitized names collide). */
  private def ivfTableName(indexDir: String): String = {
    val tail = indexDir.replaceAll("[^A-Za-z0-9_]", "_").takeRight(40)
    val h = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(indexDir))
    s"graft_ivf_${tail}_$h"
  }

  /** Bucket-spec marker file (r12 — VERDICT ask 3 / r11 ADVICE):
    * `assignments/_graft_buckets` records `<bucketCount>:<bucketKey>`
    * at WRITE time, so [[assignmentsRead]]'s CLUSTERED BY registration
    * is keyed on what the writer actually did — the r11 file-name-regex
    * inference would silently degrade to the re-shuffling plan if a
    * Spark release renamed part files, and (worse) files copied from an
    * index built with a different bucket count would register a FALSE
    * claim, under which a bucketed join silently drops matching pairs. */
  private val BucketsMarker = "_graft_buckets"

  /** The recorded bucket count of an assignments dir: Some(n) iff the
    * writer's marker says the files are bucketed INTO n BY cent_id.
    * Legacy plain-parquet dirs (no marker) read as unbucketed —
    * correctness never depends on the claim, only the Exchange does. */
  private def bucketMarker(spark: SparkSession, dir: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir, BucketsMarker)
    FsUtil.readSmallFile(FsUtil.fsOf(spark, p), p).flatMap { s =>
      s.split(":") match {
        case Array(n, "cent_id") => n.toIntOption
        case _ => None
      }
    }
  }

  /** One-time migration for an index written BEFORE the marker existed
    * (r11 bucketed dirs): the operator — who knows what bucket count
    * the index was built with, which a file-name regex provably does
    * not ([[BucketsMarker]] doc) — stamps the claim explicitly, and
    * every consumer regains the zero-Exchange plan. Stamping a wrong
    * count silently drops join matches: that is exactly why this is an
    * explicit operator call and not filename inference. */
  def stampBucketMarker(spark: SparkSession, indexDir: String,
      buckets: Int = IvfIndexBuckets): Unit = {
    val p = new org.apache.hadoop.fs.Path(
      s"$indexDir/assignments", BucketsMarker)
    FsUtil.writeSmallFile(FsUtil.fsOf(spark, p), p, s"$buckets:cent_id")
  }

  /** Persist an assignments frame as a cent_id-BUCKETED, cent_id-sorted
    * external parquet table (r11 — VERDICT ask 3): every consumer's
    * cell equi-join ([[ivfScoredPairsOn]] probes ⋈ members, the capped
    * window, q171's occupancy rollup) then reads a scan that already
    * satisfies HashPartitioning(cent_id, buckets) — ZERO Exchange on
    * either side of the self-join, where the plain-parquet index
    * re-shuffled the member side on EVERY query batch
    * (ScaleTechniquesSpec proved the zero-Exchange bucketed join; this
    * applies it to the library's own index artifact). The
    * repartition-by-bucket-key before the write yields one file per
    * bucket, so the per-file sort metadata survives and the SMJ's sort
    * is elided too.
    *
    * Build-into-tmp + swap ([[FsUtil.replaceDir]]): the r11 form deleted
    * the live directory BEFORE the lazy write job ran, so a retrain whose
    * input derives from that same directory (the documented
    * [[saveIvfIndexOn]]-over-base∪appends recipe) destroyed its own
    * input. Now the write job runs against the intact live index into
    * `assignments.tmp-<pid>`; only after `_SUCCESS` + marker land does
    * the swap happen (live → `.old`, tmp → live) — the `.old` copy is
    * retained one rebuild cycle for racing readers, and a crash at any
    * point leaves either the old index intact or a complete new one
    * plus recoverable leftovers. */
  private def writeAssignmentsBucketed(spark: SparkSession, asg: DataFrame,
      indexDir: String, buildId: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(s"$indexDir/assignments")
    val fs = FsUtil.fsOf(spark, live)
    val tname = ivfTableName(indexDir)
    val buildName = tname + "_build"
    FsUtil.replaceDir(fs, live) { tmp =>
      spark.sql(s"DROP TABLE IF EXISTS $buildName")
      asg.repartition(IvfIndexBuckets, col("cent_id"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(IvfIndexBuckets, "cent_id").sortBy("cent_id")
        .option("path", tmp.toString)
        .saveAsTable(buildName)
      spark.sql(s"DROP TABLE IF EXISTS $buildName") // external: files stay
      FsUtil.writeSmallFile(fs, new org.apache.hadoop.fs.Path(tmp, BucketsMarker),
        s"$IvfIndexBuckets:cent_id")
      FsUtil.writeSmallFile(fs, new org.apache.hadoop.fs.Path(tmp, BuildMarker), buildId)
    }
    // stale catalog entries must not survive the rebuild; consumers
    // re-register lazily from the marker
    spark.sql(s"DROP TABLE IF EXISTS $tname")
  }

  /** The assignments relation of a persisted index, BUCKETED per the
    * writer's [[BucketsMarker]] (re-registering the external table in a
    * fresh session with exactly the recorded bucket count); legacy
    * plain-parquet dirs (pre-r11 indexes, streamed append partitions)
    * read as before. */
  private[graft] def assignmentsRead(spark: SparkSession,
      indexDir: String): DataFrame = {
    val dir = s"$indexDir/assignments"
    bucketMarker(spark, dir) match {
      case None => ParquetTables.read(spark, dir)
      case Some(n) =>
        val tname = ivfTableName(indexDir)
        if (!spark.catalog.tableExists(tname)) {
          val ddl = ParquetTables.read(spark, dir).schema.toDDL
          spark.sql(
            s"""CREATE TABLE $tname ($ddl) USING PARQUET
               CLUSTERED BY (cent_id) SORTED BY (cent_id)
               INTO $n BUCKETS
               LOCATION '$dir'""")
        }
        spark.table(tname)
    }
  }

  /** Directed scored candidate pairs (id_a, id_b, sim) straight off a
    * [[saveIvfIndex]] directory: probes (rn ≤ nprobe) equi-joined with
    * home-cell members, exact cosine per pair. This frame is the shared
    * substrate of the whole persisted-index family — top-k (q129),
    * mutual-top-1 (q154), distortion audit (q153), triplet mining
    * (q155) — each of which pays the cell join, never O(n²). A pair
    * meets at most once per direction (b lives in exactly one cell). */
  def ivfScoredPairs(spark: SparkSession, indexDir: String,
      nprobe: Int = IvfNprobe, memberCap: Int = Int.MaxValue): DataFrame =
    ivfScoredPairsOn(spark, assignmentsRead(spark, indexDir), nprobe, memberCap)

  /** [[ivfScoredPairs]] over an EXPLICIT assignments frame (vec_id, qv,
    * nrm, cent_id, rn) — the reader hook for streamed indexes, whose
    * live view is base assignments ∪ batch-id-partitioned appends
    * ([[graft.streaming.IndexStream.assignments]]).
    *
    * `memberCap` (r11 — VERDICT ask 4): the q296 per-cell md5-draw cap,
    * threaded into the PERSISTED/STREAMED family — a hot cell (q171's
    * drift signal) previously had no bound on the production index
    * path. Capped candidates are a subset of uncapped by construction
    * (the draw ranks, the cap filters — SimilarityCappedSpec locks it
    * on the persisted frame too). On a bucketed index the capping
    * window partitions by the SAME cell key the scan is bucketed on, so
    * it adds a per-partition sort, never an Exchange. */
  private[graft] def ivfScoredPairsOn(spark: SparkSession, ranked: DataFrame,
      nprobe: Int = IvfNprobe, memberCap: Int = Int.MaxValue): DataFrame = {
    val membersAll = ranked.filter(col("rn") === 1)
      .select(col("vec_id").as("id_b"), col("qv").as("qb"),
        col("nrm").as("nb"), col("cent_id").as("cell"))
    val members =
      if (memberCap == Int.MaxValue) membersAll
      else capMembersByCell(membersAll, memberCap, "id_b")
    val probes = ranked.filter(col("rn") <= nprobe)
      .select(col("vec_id").as("id_a"), col("qv").as("qa"),
        col("nrm").as("na"), col("cent_id").as("cell"))
    probes.join(members, Seq("cell"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("sim", simCol)
      .select("id_a", "id_b", "sim")
  }

  /** Top-k straight off a [[saveIvfIndex]] directory: no training jobs,
    * no assignment pass — the cell equi-join + exact re-rank only, and
    * on an r11 bucketed index not even an Exchange (the scan satisfies
    * the join's distribution on both sides; plan-gated in
    * SimilaritySpec). Row-identical to [[knnIvf]] at the same nprobe
    * (q129 is gated against q47's exact oracle); `memberCap` bounds hot
    * cells exactly as [[knnIvfCapped]] does on the from-scratch path
    * (q303 gates it against q296's oracle). */
  def knnIvfPersisted(spark: SparkSession, indexDir: String, k: Int,
      nprobe: Int = IvfNprobe, memberCap: Int = Int.MaxValue): DataFrame =
    topkPairs(ivfScoredPairs(spark, indexDir, nprobe, memberCap), k)

  /** Top-k over an explicit assignments frame — the query surface of a
    * STREAMED index ([[graft.streaming.IndexStream]]): row-identical to
    * [[knnIvfPersisted]] on the equivalent batch-appended index, because
    * assignment is per-vector (the q170 invariant). */
  private[graft] def knnIvfOnAssignments(spark: SparkSession, ranked: DataFrame,
      k: Int, nprobe: Int = IvfNprobe,
      memberCap: Int = Int.MaxValue): DataFrame =
    topkPairs(ivfScoredPairsOn(spark, ranked, nprobe, memberCap), k)

  /** Scored pairs over a SPLIT index view — bucketed base + small
    * streamed appends — without unioning the sides before the join
    * (r11): `(pB ∪ pA) ⋈ (mB ∪ mA)` decomposes into four quadrants,
    * and each quadrant gets the plan its sizes deserve — base ⋈ base
    * rides the bucket co-partitioning (ZERO Exchange, the
    * SimilarityIndexSpec gate), while every append-touching quadrant
    * BROADCASTS its append side, so the BASE — the 100 TB side — is
    * never shuffled by a streamed-index query at all. A pre-join union
    * instead discards the base's output partitioning (a Union has
    * none), re-shuffling both sides on cell at every query. Identical
    * pair set by distributivity of ⋈ over ∪; spec-locked row-identical
    * to the union form. Uncapped only: a member cap must rank the
    * UNION's members per cell, which forces the sides together. */
  private[graft] def ivfScoredPairsSplit(spark: SparkSession, base: DataFrame,
      appends: DataFrame, nprobe: Int = IvfNprobe): DataFrame = {
    def members(df: DataFrame) = df.filter(col("rn") === 1)
      .select(col("vec_id").as("id_b"), col("qv").as("qb"),
        col("nrm").as("nb"), col("cent_id").as("cell"))
    def probes(df: DataFrame) = df.filter(col("rn") <= nprobe)
      .select(col("vec_id").as("id_a"), col("qv").as("qa"),
        col("nrm").as("na"), col("cent_id").as("cell"))
    val (mB, mA) = (members(base), members(appends))
    val (pB, pA) = (probes(base), probes(appends))
    Seq(
      pB.join(mB, Seq("cell")),            // bucket-co-partitioned
      pB.join(broadcast(mA), Seq("cell")), // base streams, appends ship
      broadcast(pA).join(mB, Seq("cell")), // base streams, appends ship
      pA.join(broadcast(mA), Seq("cell"))) // small x small
      .map(_.filter(col("id_a") =!= col("id_b"))
        .withColumn("sim", simCol)
        .select("id_a", "id_b", "sim"))
      .reduce(_ unionAll _)
  }

  /** The CAPPED quadrant split (r12 — VERDICT ask 4): member-cap
    * semantics over the base ∪ appends view WITHOUT shuffling the base.
    *
    * The cap keeps, per cell, the `cap` members with the smallest
    * (md5(id), id) draw over the UNION's members — which r11 computed
    * by unioning the sides first, discarding the base's bucketing and
    * re-shuffling the 100 TB side on exactly the hot-cell corpora where
    * the cap matters. Instead, rank each side separately and correct
    * the base ranks with BROADCAST append draws:
    *
    *   - a BASE member's union rank = its base rank (a window over the
    *     bucketed scan — partitioned by the bucket key, so a
    *     per-partition sort, never an Exchange) + the count of append
    *     draws below its own, read from a per-cell broadcast of the
    *     (small) append side — only cells the appends touch pay the
    *     correction;
    *   - an APPEND member's union rank = its append rank (a window over
    *     the small side) + the count of SMALLER BASE DRAWS in its cell,
    *     a cell-keyed aggregate that also rides the bucketing.
    *
    * Kept set identical to capping the union (the rank of a member is
    * the number of smaller draws either way); spec-locked row-identical
    * to `ivfScoredPairsOn(base ∪ appends, …, cap)`, plan-gated zero
    * base-side Exchange. Caller gates on appends size exactly like the
    * uncapped split ([[graft.streaming.IndexStream.knn]]).
    *
    * Precondition: a vec_id appears on ONE side only — the streamed
    * contract ([[graft.streaming.IndexStream.appendStream]] assigns NEW
    * vectors; a replay rewrites its own partition). A duplicate id with
    * an identical draw would tie in the union's total order and the
    * strict-inequality cross-corrections here would rank both copies
    * equally — at an exactly-full cell both could survive where the
    * union form keeps one. */
  private[graft] def ivfScoredPairsSplitCapped(spark: SparkSession,
      base: DataFrame, appends: DataFrame, nprobe: Int = IvfNprobe,
      cap: Int = IvfMemberCap): DataFrame = {
    def members(df: DataFrame) = df.filter(col("rn") === 1)
      .select(col("vec_id").as("id_b"), col("qv").as("qb"),
        col("nrm").as("nb"), col("cent_id").as("cell"),
        md5(col("vec_id").cast("string")).as("draw"))
    def probes(df: DataFrame) = df.filter(col("rn") <= nprobe)
      .select(col("vec_id").as("id_a"), col("qv").as("qa"),
        col("nrm").as("na"), col("cent_id").as("cell"))
    val w = Window.partitionBy("cell").orderBy(col("draw"), col("id_b"))
    val mB = members(base)
    val mA = members(appends)
    // append draws per touched cell, shipped to every base partition
    val appDraws = mA.groupBy("cell")
      .agg(collect_list(struct(col("draw"), col("id_b").as("id"))).as("adraws"))
    def below(arr: Column, d: Column, id: Column) =
      size(filter(arr, x =>
        x("draw") < d || (x("draw") === d && x("id") < id)))
    val keptB = mB.withColumn("mrn", row_number().over(w))
      .join(broadcast(appDraws), Seq("cell"), "left")
      // the null guard must be EXPLICIT, not a coalesce around size():
      // under spark.sql.legacy.sizeOfNull (ANSI off — a common user
      // session setting this library can't assume away) size(null) is
      // -1, not null, and a coalesce would pass -1 through as a rank
      // CREDIT, admitting one extra member in every append-untouched
      // cell
      .withColumn("adj", when(col("adraws").isNull, lit(0))
        .otherwise(below(col("adraws"), col("draw"), col("id_b"))))
      .filter(col("mrn") + col("adj") <= cap)
      .select("id_b", "qb", "nb", "cell")
    // smaller base draws per append member: a cell-keyed count that
    // rides the bucketing (group keys (cell, id) cluster by cell, so
    // the partial/final aggregate needs no exchange); the result is
    // append-cardinality and ships back as a broadcast
    val baseBelow = mB.join(
        broadcast(mA.select(col("cell"), col("draw").as("adraw"),
          col("id_b").as("aid"))), Seq("cell"))
      .filter(col("draw") < col("adraw") ||
        (col("draw") === col("adraw") && col("id_b") < col("aid")))
      .groupBy(col("cell"), col("aid"))
      .agg(count(lit(1)).as("badj"))
    // the append member's own-side rank comes off the SAME broadcast
    // array (count of smaller append draws + 1) — no appends-side
    // window sort; the only exchanges in the whole capped plan are the
    // appends-scale aggregates (gated small by the caller), never the
    // base
    val keptA = mA.join(broadcast(appDraws), Seq("cell"))
      .withColumn("mrn", below(col("adraws"), col("draw"), col("id_b")) + 1)
      .join(broadcast(baseBelow.withColumnRenamed("aid", "id_b")),
        Seq("cell", "id_b"), "left")
      .withColumn("badj", coalesce(col("badj"), lit(0L)))
      .filter(col("mrn") + col("badj") <= cap)
      .select("id_b", "qb", "nb", "cell")
    val (pB, pA) = (probes(base), probes(appends))
    Seq(
      pB.join(keptB, Seq("cell")),            // bucket-co-partitioned
      pB.join(broadcast(keptA), Seq("cell")), // base streams, appends ship
      broadcast(pA).join(keptB, Seq("cell")),
      pA.join(broadcast(keptA), Seq("cell"))) // small x small
      .map(_.filter(col("id_a") =!= col("id_b"))
        .withColumn("sim", simCol)
        .select("id_a", "id_b", "sim"))
      .reduce(_ unionAll _)
  }

  /** [[saveIvfIndex]] from an EXPLICIT quantized frame (vec_id, qv,
    * nrm) — the index-over-a-subset path q170 builds its incremental
    * base from. No cache: ad-hoc frames have no content fingerprint. */
  def saveIvfIndexOn(spark: SparkSession, q: DataFrame, indexDir: String,
      nprobe: Int = IvfNprobe): Unit = {
    val qc = q.select("vec_id", "qv", "nrm").localCheckpoint()
    val k = ivfCentroidsFor(qc.count())
    val cents = centroidFrame(spark, kmeansCentroidSeq(qc, k, KmeansIters))
    val buildId = newBuildId()
    writeAssignmentsBucketed(spark, assignCells(qc, cents, nprobe), indexDir,
      buildId)
    writeCentroidsSwapped(spark, cents, indexDir, buildId)
  }

  /** Incremental index maintenance (q170): assign NEW vectors against
    * the persisted centroids — NO retraining — and append their
    * assignment rows. The production shape for a growing corpus: the
    * Lloyd train amortizes over every append, each batch pays only its
    * own n×k broadcast assignment pass, and the index stays
    * answer-identical to "assign everything against the base
    * centroids" BY CONSTRUCTION (assignment is per-vector, so
    * append-then-query == assign-union-then-query row for row). Retrain
    * when drift warrants it — the signal is the cell-occupancy skew a
    * [[clusterProfile]]-style audit reads off the assignments table. */
  def appendToIvfIndex(spark: SparkSession, indexDir: String,
      newQ: DataFrame, nprobe: Int = IvfNprobe): Unit = {
    checkBuildConsistency(spark, indexDir) // refuse a torn index (r13)
    val cents = ParquetTables.read(spark, s"$indexDir/centroids")
    val asg = assignCells(newQ.select("vec_id", "qv", "nrm"), cents, nprobe)
    bucketMarker(spark, s"$indexDir/assignments") match {
      case Some(n) =>
        assignmentsRead(spark, indexDir) // ensures the table is registered
        asg.repartition(n, col("cent_id"))
          .write.mode("append").format("parquet")
          .bucketBy(n, "cent_id").sortBy("cent_id")
          .saveAsTable(ivfTableName(indexDir))
      case None =>
        asg.write.mode("append").parquet(s"$indexDir/assignments")
    }
  }

  /** IVF cell-occupancy audit (q171): per home cell, member count and
    * occupancy share of a persisted index, plus the corpus-wide skew
    * summary every row carries (max-cell share and the max/mean ratio —
    * a balanced index sits near 1; a hot cell both degrades recall at
    * fixed nprobe and concentrates candidate work). This is the number
    * the [[appendToIvfIndex]] retrain decision reads: appends assign
    * against frozen centroids, so drifted data piles into few cells and
    * the ratio climbs. One cell-keyed rollup of the assignments table +
    * a broadcast scalar summary — never touches vectors. */
  def ivfCellOccupancy(spark: SparkSession, indexDir: String): DataFrame =
    ivfCellOccupancyOn(assignmentsRead(spark, indexDir))

  /** [[ivfCellOccupancy]] over an EXPLICIT ranked assignments frame —
    * the reader hook for STREAMED indexes, whose drift signal lives in
    * the base ∪ appends live view
    * ([[graft.streaming.IndexStream.assignments]]), not the base alone
    * (appends assign against frozen centroids, so drifted data piles
    * into few cells exactly there). r13: [[graft.streaming.IndexStream
    * .maintain]] reads its advisor verdict off this. */
  def ivfCellOccupancyOn(ranked: DataFrame): DataFrame = {
    val mem = ranked                           // bucketed base: rollup
      .filter(col("rn") === 1)                 // partial-aggs in place
    val cells = mem.groupBy("cent_id").agg(count(lit(1)).as("n_vecs"))
    val summary = cells.agg(max("n_vecs").as("max_vecs"),
      sum("n_vecs").as("n_total"), count(lit(1)).as("n_cells"))
    cells.crossJoin(broadcast(summary))
      .withColumn("share", col("n_vecs").cast("double") / col("n_total").cast("double"))
      .withColumn("skew", col("max_vecs").cast("double") * col("n_cells").cast("double") /
        col("n_total").cast("double"))
      .select("cent_id", "n_vecs", "share", "n_cells", "skew")
  }

  /** Occupancy skew above which [[graft.streaming.IndexStream.retrain]]
    * is advised: max-cell / mean-cell of 4 means the hottest cell does
    * 4× its fair share of every query's candidate work AND recall at
    * fixed nprobe has drifted (vectors pile where centroids aren't). */
  val RetrainSkewThreshold = 4.0

  /** The retrain decision as a one-row card (q308, r12): corpus size,
    * cell count, occupancy skew, and the boolean the maintenance cron
    * acts on — [[ivfCellOccupancy]]'s corpus-wide summary reduced to
    * the verdict. Reads only the assignments table (cell-keyed rollup
    * riding the bucketing; vectors never touched). */
  def retrainAdvisor(spark: SparkSession, indexDir: String): DataFrame =
    retrainAdvisorOn(assignmentsRead(spark, indexDir))

  /** [[retrainAdvisor]] over an explicit ranked assignments frame (the
    * streamed live view — see [[ivfCellOccupancyOn]]). */
  def retrainAdvisorOn(ranked: DataFrame): DataFrame =
    ivfCellOccupancyOn(ranked)
      .agg(sum("n_vecs").as("n_vecs"), max("n_cells").as("n_cells"),
        max("skew").as("skew"))
      .select(col("n_vecs"), col("n_cells"), col("skew"),
        (col("skew") > lit(RetrainSkewThreshold)).as("retrain"))

  /** q308's oracle: q171's CTEs reduced to the one-row verdict. */
  private lazy val retrainAdvisorSql: String = {
    val (kmeans, cf) = kmeansSqlAuto()
    s"""WITH $quantCte,
    $kmeans,
    af AS (SELECT n.vec_id, c.cent_id,
          row_number() OVER (PARTITION BY n.vec_id ORDER BY
            CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
            / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cent_id) AS rn
          FROM n CROSS JOIN $cf c),
    cells AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n_vecs
              FROM af WHERE rn = 1 GROUP BY cent_id),
    s AS (SELECT CAST(max(n_vecs) AS BIGINT) AS max_vecs,
            CAST(sum(n_vecs) AS BIGINT) AS n_total,
            CAST(count(*) AS BIGINT) AS n_cells FROM cells)
    SELECT n_total AS n_vecs, n_cells,
      CAST(max_vecs AS DOUBLE) * CAST(n_cells AS DOUBLE) / CAST(n_total AS DOUBLE) AS skew,
      (CAST(max_vecs AS DOUBLE) * CAST(n_cells AS DOUBLE) / CAST(n_total AS DOUBLE))
        > $RetrainSkewThreshold AS retrain
    FROM s"""
  }

  /** q171's oracle: the q47 assignment CTEs + the same rollup. */
  private lazy val ivfCellOccupancySql: String = {
    val (kmeans, cf) = kmeansSqlAuto()
    s"""WITH $quantCte,
    $kmeans,
    af AS (SELECT n.vec_id, c.cent_id,
          row_number() OVER (PARTITION BY n.vec_id ORDER BY
            CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
            / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cent_id) AS rn
          FROM n CROSS JOIN $cf c),
    cells AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n_vecs
              FROM af WHERE rn = 1 GROUP BY cent_id),
    s AS (SELECT CAST(max(n_vecs) AS BIGINT) AS max_vecs,
            CAST(sum(n_vecs) AS BIGINT) AS n_total,
            CAST(count(*) AS BIGINT) AS n_cells FROM cells)
    SELECT cent_id, n_vecs,
      CAST(n_vecs AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
      n_cells,
      CAST(max_vecs AS DOUBLE) * CAST(n_cells AS DOUBLE) / CAST(n_total AS DOUBLE) AS skew
    FROM cells, s"""
  }

  /** The suite's one persisted index per corpus version: [[saveIvfIndex]]
    * into a deterministic scratch path, memoized on the SAME content
    * fingerprint as the centroid caches — q129/q153/q154/q155 share one
    * build (the amortization point of a persisted index: train + assign
    * once per corpus version, every consumer pays only its own join),
    * while overwriting the corpus parquet invalidates the entry. */
  private[graft] val ivfIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  def persistedIvfIndexDir(spark: SparkSession, dir: String): String = {
    val idx = s"${System.getProperty("java.io.tmpdir")}/graft-ivf-idx-" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_")
    ivfIndexCache.getOrElseUpdate(s"${cacheKeyDir(spark, dir)}->$idx", {
      buildSharedIndex(spark, dir, idx); idx
    })
  }

  // Corpus-fingerprint marker of a shared index dir (`_graft_fingerprint`):
  // a complete index carries the [[cacheKeyDir]] of the corpus it was
  // built from, so a SECOND session sharing the scratch path ADOPTS the
  // finished build instead of rebuilding it out from under the first
  // session's readers. The marker file and protocol live in
  // [[graft.util.SharedArtifact]] since r13.

  /** Build the shared per-corpus index exactly once ACROSS SESSIONS
    * (r12 — VERDICT ask 3): adopt a complete matching build; otherwise
    * take the cross-JVM lock file, re-check (another session may have
    * won the race), build, stamp the fingerprint, release. A builder
    * that finds the lock held waits for the winner and adopts; a lock
    * older than [[graft.util.SharedArtifact.StaleMs]] is a crashed
    * builder and is broken. */
  private def buildSharedIndex(spark: SparkSession, dir: String,
      idx: String): Unit =
    sharedArtifact(spark, dir, idx)(
      bucketMarker(spark, s"$idx/assignments").nonEmpty)(
      saveIvfIndex(spark, dir, idx))

  /** The cross-JVM build-once protocol shared by every fixed-path
    * artifact derived from a corpus version — moved to
    * [[graft.util.SharedArtifact]] r13 (VERDICT ask 2) so
    * [[Memo.sharedFrame]] and any future artifact reuse it; this is the
    * index-flavored entry (fingerprint = [[cacheKeyDir]]). */
  private def sharedArtifact(spark: SparkSession, dir: String, idx: String)(
      structure: => Boolean)(build: => Unit): Unit =
    graft.util.SharedArtifact.ensure(spark, idx, cacheKeyDir(spark, dir))(
      structure)(build)

  /** Undirected near-dup pairs over the persisted IVF candidates — the
    * scale-path pair source for [[rpDistortionOn]] (q153): canonicalize
    * the directed cell pairs (least/greatest + DISTINCT — sim is
    * bit-identical in both directions, the dot sums the same products in
    * the same index order) and keep those at/above the q44 threshold. */
  def ivfNearDupPairs(spark: SparkSession, indexDir: String,
      threshold: Double, nprobe: Int = IvfNprobe): DataFrame =
    ivfScoredPairs(spark, indexDir, nprobe)
      .filter(col("sim") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("sim"))
      .distinct()

  /** [[hardTriplets]] over ANY directed (id_a, id_b, sim) candidate
    * frame — per anchor, hardest same-label positive and hardest
    * other-label negative WITHIN the candidates. q155 feeds it the
    * persisted-IVF cell pairs ([[ivfScoredPairs]]), replacing q138's
    * O(n²) sweep with the cell-bounded candidate volume; anchors whose
    * cells hold no positive (or no negative) report NULL on that side,
    * exactly as the restricted oracle does. */
  def hardTripletsOn(spark: SparkSession, dir: String,
      pairs: DataFrame): DataFrame = {
    val lab = t(spark, dir, "embeddings").select(col("vec_id"), col("label"))
    // r14: per-(anchor, pos/neg) best row via the bounded TopKSim
    // aggregator at k = 1 (was a rank window + rn = 1 filter) — map-side
    // partial reduction instead of a per-partition sort of the scored
    // candidate stream; total order (sim desc, id asc) matches the
    // window tie-break, so the selected row is identical
    // (TopKPlanSwapSpec locks the whole operator to the window twin).
    val top = pairs
      .join(lab.select(col("vec_id").as("id_a"), col("label").as("label_a")), "id_a")
      .join(lab.select(col("vec_id").as("id_b"), col("label").as("label_b")), "id_b")
      .withColumn("grp", when(col("label_a") === col("label_b"), "pos").otherwise("neg"))
      .groupBy("id_a", "grp")
      .agg(graft.functions.TopKSim.topk(1)(col("sim"), col("id_b")).as("top"))
      .select(col("id_a"), col("grp"),
        expr("top[0].id").as("id_b"), expr("top[0].sim").as("sim"))
    top.groupBy(col("id_a").as("vec_id"))
      .agg(
        max(when(col("grp") === "pos", col("id_b"))).as("pos_id"),
        max(when(col("grp") === "pos", col("sim"))).as("pos_sim"),
        max(when(col("grp") === "neg", col("id_b"))).as("neg_id"),
        max(when(col("grp") === "neg", col("sim"))).as("neg_sim"))
      .withColumn("margin", col("pos_sim") - col("neg_sim"))
  }

  /** Per-query top-k over scored candidate pairs via the bounded
    * [[graft.functions.TopKSim]] aggregator — map partitions reduce to
    * ≤ k pairs per query BEFORE the exchange, where the rank-window
    * formulation shuffles and sorts every candidate pair (the measured
    * dominant cost at 10x: two such windows were ~8 s of q66's 20 s).
    * Total order (sim desc, id asc) matches the window tie-break, so the
    * output is row-identical and the oracles keep the window form. */
  private[graft] def topkPairs(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("id_a"))
      .agg(graft.functions.TopKSim.topk(k)(col("sim"), col("id_b")).as("top"))
      .select(col("id_a"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("id_a").as("vec_id"), (col("i") + 1).cast("int").as("rank"),
        col("t.id").as("neighbor_id"), col("t.sim").as("sim"))

  /** Approximate top-k with a trained IVF index: candidates = (probe
    * cell of a) x (home cell of b) equi-join; a pair meets at most once
    * since b lives in exactly one cell. Exact cosine re-rank within. */
  def knnIvf(spark: SparkSession, dir: String, k: Int, nCents: Int = -1,
      iters: Int = KmeansIters, nprobe: Int = IvfNprobe): DataFrame = {
    val (q, cents, _) = coarseIndex(spark, dir, nCents, iters)
    val ranked = assignCells(q, cents, nprobe).localCheckpoint() // feeds both sides
    val members = ranked.filter(col("rn") === 1)
      .select(col("vec_id").as("id_b"), col("qv").as("qb"), col("nrm").as("nb"), col("cent_id").as("cell"))
    val probes = ranked.filter(col("rn") <= nprobe)
      .select(col("vec_id").as("id_a"), col("qv").as("qa"), col("nrm").as("na"), col("cent_id").as("cell"))
    topkPairs(
      probes.join(members, Seq("cell"))
        .filter(col("id_a") =!= col("id_b"))
        .withColumn("sim", simCol),
      k)
  }

  // ----------------------------------------------------------------------
  // Capped-probe IVF: the single-box answer to SCALE.md lesson 4. The
  // uncapped candidate volume is Θ(nprobe·n²/k) = Θ(nprobe·n^1.5) with
  // the derived cell count — ~11.3B scored pairs at 2M vectors, which
  // exhausts one box's shuffle scratch long before its CPU. The cap
  // bounds the MEMBER side of every cell at `cap` vectors, making the
  // candidate volume Θ(nprobe·n·cap) — linear in the corpus at a fixed
  // cap, so one box (or one executor's share of a fleet) can always be
  // sized. Which members survive is a deterministic UNBIASED draw: rank
  // within the cell by md5(vec_id) — a fixed pseudo-random permutation
  // both engines compute identically — so the kept subset is a uniform
  // cell sample, not a geometry-biased one (ranking by centroid
  // similarity would systematically starve cell-edge queries). Recall
  // is priced, not guessed: q298 puts the cap sweep on the same
  // brute-truth axis as q243's nprobe curve, and the spec locks
  // capped ⊆ uncapped candidates + answer == uncapped once the cap
  // clears the largest cell.
  // ----------------------------------------------------------------------

  /** Default per-cell member cap for the GATED capped queries — small
    * enough to bite at every shipped SF (cells hold ~sqrt(n) members),
    * so the gate exercises real capping, never a vacuous pass-through.
    * Scale campaigns pass their own cap sized to scratch. */
  val IvfMemberCap = 8

  /** Keep ≤ `cap` members per cell, by the md5 draw (ties by id — md5 of
    * distinct longs never collides in practice, but the ORDER must be
    * total for bit-parity). One cell-keyed window over n member rows —
    * the sort is per-cell (~sqrt(n) rows each), never global. */
  private[graft] def capMembersByCell(members: DataFrame, cap: Int,
      idCol: String): DataFrame =
    capMembersByCellRanked(members, idCol).filter(col("mrn") <= cap).drop("mrn")

  /** The capped candidate frame (directed, scored) — [[knnIvfCapped]]'s
    * substrate, exposed so the spec can assert capped ⊆ uncapped on the
    * PAIR set itself, not just on the ranked answer. */
  private[graft] def ivfCappedScoredPairs(spark: SparkSession, dir: String,
      cap: Int, nprobe: Int = IvfNprobe): DataFrame = {
    val (q, cents, _) = coarseIndex(spark, dir)
    val ranked = assignCells(q, cents, nprobe).localCheckpoint()
    val members = capMembersByCell(
      ranked.filter(col("rn") === 1)
        .select(col("vec_id").as("id_b"), col("qv").as("qb"),
          col("nrm").as("nb"), col("cent_id").as("cell")),
      cap, "id_b")
    val probes = ranked.filter(col("rn") <= nprobe)
      .select(col("vec_id").as("id_a"), col("qv").as("qa"),
        col("nrm").as("na"), col("cent_id").as("cell"))
    probes.join(members, Seq("cell"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("sim", simCol)
      .select("id_a", "id_b", "sim")
  }

  /** [[knnIvf]] with the per-cell member cap (q296): identical train /
    * assign / exact re-rank, candidate volume bounded at nprobe·n·cap.
    * With cap ≥ the largest cell this IS knnIvf row-for-row
    * (spec-locked); below it, recall degrades along q298's measured
    * curve. */
  def knnIvfCapped(spark: SparkSession, dir: String, k: Int,
      cap: Int = IvfMemberCap, nprobe: Int = IvfNprobe): DataFrame =
    topkPairs(ivfCappedScoredPairs(spark, dir, cap, nprobe), k)

  /** Capped-member recall curve (q298): recall@k at the shipped nprobe
    * across member caps, against the SAME memoized brute truth as
    * q243 — the dial that prices a scratch budget in recall. The last
    * curve point uses a cap no real cell reaches, so it must reproduce
    * q243's nprobe=$IvfNprobe recall exactly (the spec pins this).
    *
    * Scale shape: ONE assignment, ONE member ranking window — each cap
    * point is a FILTER on the ranked members (mrn is cap-independent),
    * so the curve costs one extra scan per point, never a re-rank; the
    * probe side is the q243 sample, broadcast-joined hit counting. */
  def ivfCappedRecallCurve(spark: SparkSession, dir: String, k: Int = 3,
      sampleMod: Long = 50L, caps: Seq[Int] = Seq(4, 8, 16, 1000000),
      nprobe: Int = IvfNprobe): DataFrame = {
    val (q, cents, _) = coarseIndex(spark, dir)
    val ranked = assignCells(q, cents, nprobe).localCheckpoint()
    val truth = recallTruth(spark, dir, k, sampleMod).localCheckpoint()
    val members = capMembersByCellRanked(
      ranked.filter(col("rn") === 1)
        .select(col("vec_id").as("id_b"), col("qv").as("qb"),
          col("nrm").as("nb"), col("cent_id").as("cell")), "id_b")
      .localCheckpoint() // one window; every cap point filters it
    val probes = ranked
      .filter(col("vec_id") % sampleMod === 0 && col("rn") <= nprobe)
      .select(col("vec_id").as("id_a"), col("qv").as("qa"),
        col("nrm").as("na"), col("cent_id").as("cell"))
    caps.map { cap =>
      topkPairs(probes.join(members.filter(col("mrn") <= cap), Seq("cell"))
          .filter(col("id_a") =!= col("id_b")).withColumn("sim", simCol), k)
        .select("vec_id", "neighbor_id")
        .join(truth, Seq("vec_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
        .select(lit(cap.toLong).as("cap"), col("n_hit"), col("n_truth"),
          expr("(n_hit * 1000000L) div n_truth").as("recall_micro"))
    }.reduce(_ unionAll _)
  }

  /** [[capMembersByCell]] keeping the rank column — the shared ranking
    * the curve's cap points filter. */
  private def capMembersByCellRanked(members: DataFrame,
      idCol: String): DataFrame = {
    val w = Window.partitionBy("cell")
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    members.withColumn("mrn", row_number().over(w))
  }

  // ----------------------------------------------------------------------
  // IVF-PQ: the memory-bandwidth scale path. The IVF cells prune the
  // candidate space (equi-join, as q47); PRODUCT QUANTIZATION collapses
  // each member vector to `PqSubspaces` small code ints — the cell join's
  // member side carries codes + one norm, a 16x payload cut on the
  // dominant shuffle — and ADC scores a pair with `PqSubspaces` table
  // LOOKUPS (pq_adc_sum over the probe's precomputed per-sub-centroid
  // dot table) instead of a 64-dim dot. Integer adds commute, so the
  // lookup sum equals quantized_dot(query, reconstruction) bit-for-bit:
  // the DuckDB oracle keeps the reconstruction form and still
  // hash-matches. The ADC ranking keeps the top `PqCandidates` per
  // query; only those join back to raw vectors for the exact cosine
  // re-rank. Sub-codebooks are the SAME deterministic k-means as IVF,
  // run on vector slices, so the whole index mirrors bit-for-bit.
  // ----------------------------------------------------------------------

  val PqSubspaces = 4
  val PqSubDim = 16 // 64-dim embeddings / 4 subspaces
  val PqSubCents = 16
  // ADC survivors per query before the exact re-rank. Sized for the
  // near-isotropic testdata, where 16 sub-centroids reconstruct coarsely
  // (random data is the quantization worst case) — the ADC ordering is
  // noisy, so a generous cut is what buys recall back; clustered real
  // embeddings reconstruct far tighter and tolerate a smaller cut.
  val PqCandidates = 24

  /** Per-(vec, subspace) slice rows: the grouped-training input. */
  private def subspaceRows(q: DataFrame): DataFrame =
    q.select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${PqSubspaces - 1}), " +
          s"s -> struct(s AS space, slice(qv, s * $PqSubDim + 1, $PqSubDim) AS sqv))")).as("sub"))
      .select(col("vec_id"), col("sub.space").as("space"), col("sub.sqv").as("qv"))
      .withColumn("nrm", quantizedDot(col("qv"), col("qv")))

  /** PQ reconstruction audit (q206): the codebook-quality signal for the
    * q66 IVF-PQ index, the sibling of q171's cell-occupancy audit — per
    * subspace, the EXACT mean and max squared reconstruction error of
    * nearest-codeword encoding, next to the corpus energy baseline and
    * their ratio (the operational number: relative distortion rising
    * across corpus versions means the frozen codebooks stopped fitting
    * and ADC scores are degrading — retrain). The error needs no
    * per-dimension subtraction pass: ‖x−c‖² = ‖x‖² + ‖c‖² − 2⟨x,c⟩,
    * all three terms already-exact BIGINTs (nrm, cnrm, quantized_dot),
    * so per-vector errors are exact integers and the corpus sums ride
    * DECIMAL(38,0) (n·err can pass int64 — the q193 guard).
    *
    * Scale shape: codebooks come from the shared training cache (a
    * suite run trains once, q66 or this — whoever runs first); the
    * assignment is the established broadcast cross-join with the
    * max_by(struct(csim, −cent_id)) partial-agg argmax — the exchange
    * carries one row per (vector × subspace), never n·k; the rollup is
    * subspace-bounded. */
  def pqReconstructionAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qraw = quantized(spark, dir).select("vec_id", "qv", "nrm")
    val subs = subspaceRows(qraw).localCheckpoint()
    val pseq = pqCodebookCache.getOrElseUpdate((cacheKeyDir(spark, dir), KmeansIters),
      kmeansCentroidsBySpace(subs, 0, PqSubCents, KmeansIters))
    val books = pseq.toDF("space", "cent_id", "cqv")
      .withColumn("cnrm", quantizedDot(col("cqv"), col("cqv")))
    subs.join(broadcast(books), "space")
      .withColumn("csim", cosine(
        quantizedDot(col("qv"), col("cqv")).cast("double"), col("nrm"), col("cnrm")))
      .withColumn("err", col("nrm") + col("cnrm") -
        lit(2L) * quantizedDot(col("qv"), col("cqv")).cast("bigint"))
      .groupBy("vec_id", "space")
      .agg(expr("max_by(err, struct(csim, -cent_id))").as("err"),
        first(col("nrm")).as("nrm"))
      .groupBy("space").agg(
        count(lit(1)).as("n_vecs"),
        expr("CAST(sum(CAST(err AS DECIMAL(38,0))) div count(1) AS BIGINT)").as("mean_err"),
        max("err").as("max_err"),
        expr("CAST(sum(CAST(nrm AS DECIMAL(38,0))) div count(1) AS BIGINT)").as("mean_energy"))
      .withColumn("rel_distortion",
        col("mean_err").cast("double") / col("mean_energy").cast("double"))
  }

  /** q206's oracle: the q66 per-subspace CTE chains + the same
    * argmax-assignment and error identity. */
  def pqReconstructionAuditSql: String = {
    val subs = (0 until PqSubspaces).map { s =>
      val lo = s * PqSubDim + 1; val hi = (s + 1) * PqSubDim
      val src =
        s"""ns$s AS (SELECT vec_id, qv[$lo:$hi] AS qv,
            CAST(list_sum(list_transform(qv[$lo:$hi], x -> x * x)) AS BIGINT) AS nrm FROM n)"""
      val (chain, last) = kmeansSqlFor(s"ns$s", s"p$s", PqSubCents.toString, KmeansIters)
      val assign =
        s"""asr$s AS (SELECT n.vec_id, n.nrm,
              CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS BIGINT) AS dot,
              c.cnrm,
              row_number() OVER (PARTITION BY n.vec_id ORDER BY
                CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
                / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cent_id) AS rn
            FROM ns$s n CROSS JOIN $last c),
          er$s AS (SELECT $s AS space, vec_id, nrm, nrm + cnrm - 2 * dot AS err
            FROM asr$s WHERE rn = 1)"""
      s"$src,\n        $chain,\n        $assign"
    }.mkString(",\n        ")
    val union = (0 until PqSubspaces).map(s => s"SELECT * FROM er$s").mkString(" UNION ALL ")
    s"""WITH $quantCte,
      $subs,
      allerr AS ($union)
      SELECT space, CAST(count(*) AS BIGINT) AS n_vecs,
        CAST(CAST(SUM(err) AS HUGEINT) // COUNT(*) AS BIGINT) AS mean_err,
        CAST(MAX(err) AS BIGINT) AS max_err,
        CAST(CAST(SUM(nrm) AS HUGEINT) // COUNT(*) AS BIGINT) AS mean_energy,
        CAST(CAST(CAST(SUM(err) AS HUGEINT) // COUNT(*) AS BIGINT) AS DOUBLE)
          / CAST(CAST(CAST(SUM(nrm) AS HUGEINT) // COUNT(*) AS BIGINT) AS DOUBLE) AS rel_distortion
      FROM allerr GROUP BY space"""
  }

  /** Davies-Bouldin cluster-separation audit over the label clusters
    * (q215): for each label l, the scatter S_l = mean Euclidean distance
    * of its vectors to the label centroid (in the exact quantized
    * integer space), and for each other label m the centroid separation
    * M_lm; the per-label DB component is R_l = max_{m≠l} (S_l+S_m)/M_lm
    * — lower is better-separated (Davies & Bouldin 1979). The sibling of
    * q196's silhouette: the silhouette reads per-VECTOR misassignment,
    * DB reads per-CLUSTER compactness vs separation — the form k-means
    * sweeps optimize, so this is the k/retrain tuning signal next to
    * q171's occupancy drift and q206's PQ distortion.
    *
    * Determinism discipline: dist² = nrm + nc − 2·dot is the exact
    * BIGINT identity (the q206 trick — no per-dimension subtraction
    * pass); sqrt is the one correctly-rounded IEEE op, so per-row
    * floor(1e6·sqrt) matches across engines; scatter sums ride
    * DECIMAL(38,0); the final ratio is ONE integral division of exact
    * micro operands (HUGEINT/DECIMAL-widened — two ~1.6e13 scatters
    * ×1e6 exceeds int64).
    *
    * Scale shape: centroids are q196's (label × dim) rollup collected
    * driver-side (labels·dim longs — the coarse-trainer pattern) and
    * baked as ONE literal CASE giving each row its OWN-centroid
    * distance — zero per-vector exchange; the pairwise M matrix is
    * labels² driver math; everything past the label-keyed scatter
    * rollup is labels-bounded. */
  def daviesBouldin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (q, rollup) = silhouetteInputs(spark, dir)
    val cents: Seq[(Int, Seq[Long], Long)] = rollup
      .as[(Int, Int, Long)].collect() // labels·dim rows — driver-bounded
      .groupBy(_._1).toSeq.map { case (l, rows) =>
        val cv = rows.sortBy(_._2).map(_._3).toSeq
        (l, cv, cv.map(x => x * x).sum)
      }.sortBy(_._1)
    val d2 = byLabel(cents.map { case (l, cv, nc) =>
      l -> (col("nrm") + lit(nc) - lit(2L) * quantizedDot(col("qv"), longs(cv)))
    })
    val scatter = q
      .withColumn("dist_micro", floor(lit(1000000.0) * sqrt(d2.cast("double"))).cast("bigint"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        expr("CAST(sum(CAST(dist_micro AS DECIMAL(38,0))) div count(1) AS BIGINT)")
          .as("s_micro"))
      .localCheckpoint() // labels rows; feeds both ratio sides
    val seps = for {
      (l, cvL, ncL) <- cents; (m, cvM, ncM) <- cents if l != m
    } yield {
      val dot = cvL.zip(cvM).map { case (a, b) => a * b }.sum
      (l, m, math.floor(1e6 * math.sqrt((ncL + ncM - 2L * dot).toDouble)).toLong)
    }
    val ratios = scatter.select(col("label"), col("s_micro"))
      .join(broadcast(seps.toDF("label", "other", "m_micro")), "label")
      .join(broadcast(scatter.select(col("label").as("other"),
        col("s_micro").as("s_other"))), "other")
      .withColumn("r_micro", expr(
        "CAST(((CAST(s_micro AS DECIMAL(38,0)) + s_other) * 1000000) div m_micro AS BIGINT)"))
      .withColumn("rn", expr(
        "row_number() OVER (PARTITION BY label ORDER BY r_micro DESC, other)"))
      .filter(col("rn") === 1) // labels² rows — the window is free
      .select(col("label"), col("other").as("worst_other"),
        col("r_micro").as("r_max_micro"))
    scatter.join(broadcast(ratios), "label")
      .select("label", "n_vecs", "s_micro", "worst_other", "r_max_micro")
  }

  /** q215's oracle: brute per-vector distances + the same micro-exact
    * ratio, HUGEINT-widened where the engine rides DECIMAL(38,0). */
  val daviesBouldinSql: String =
    s"""WITH q AS (SELECT vec_id, label, $quantSql AS qv FROM embeddings),
      n AS (SELECT vec_id, label, qv,
              CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm FROM q),
      m AS (SELECT label, unnest(range(1, len(qv) + 1)) AS pos, unnest(qv) AS x FROM q),
      s AS (SELECT label, pos, SUM(x) AS sm, COUNT(*) AS cnt FROM m GROUP BY 1, 2),
      c AS (SELECT label, list(sm // cnt ORDER BY pos) AS cv FROM s GROUP BY label),
      cn AS (SELECT label, cv,
              CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT) AS nc FROM c),
      d AS (SELECT n.label,
              CAST(floor(1000000.0 * sqrt(CAST(n.nrm + cn.nc
                - 2 * list_sum(list_transform(range(1, len(n.qv) + 1),
                    i -> n.qv[i] * cn.cv[i])) AS DOUBLE))) AS BIGINT) AS dist_micro
            FROM n JOIN cn USING (label)),
      sc AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
              CAST(CAST(SUM(dist_micro) AS HUGEINT) // count(*) AS BIGINT) AS s_micro
            FROM d GROUP BY 1),
      sep AS (SELECT a.label AS label, b.label AS other,
              CAST(floor(1000000.0 * sqrt(CAST(a.nc + b.nc
                - 2 * list_sum(list_transform(range(1, len(a.cv) + 1),
                    i -> a.cv[i] * b.cv[i])) AS DOUBLE))) AS BIGINT) AS m_micro
            FROM cn a JOIN cn b ON a.label <> b.label),
      r AS (SELECT sep.label, sep.other,
              CAST(((CAST(sa.s_micro AS HUGEINT) + sb.s_micro) * 1000000) // sep.m_micro AS BIGINT) AS r_micro
            FROM sep JOIN sc sa ON sa.label = sep.label
              JOIN sc sb ON sb.label = sep.other),
      w AS (SELECT *, row_number() OVER (PARTITION BY label ORDER BY r_micro DESC, other) AS rn FROM r)
      SELECT sc.label, sc.n_vecs, sc.s_micro,
        w.other AS worst_other, w.r_micro AS r_max_micro
      FROM sc JOIN w ON w.label = sc.label AND w.rn = 1"""

  /** Embedding-norm hygiene audit (q222): per label — vector count,
    * zero-norm count (no direction: every cosine consumer coalesces
    * them to rank-last, q44's contract, but an index should KNOW), exact
    * min/max/mean micro norms, and the count of norm outliers (outside
    * [mean/2, 2·mean]) — the intake screen an embedding table passes
    * before the IVF build: a bimodal or zero-heavy norm profile usually
    * means two encoder versions or failed rows landed in one table, and
    * no downstream cosine audit (q153–q155) can see that once vectors
    * are normalized away.
    *
    * Determinism: norm_micro = floor(1e6·sqrt(nrm)) per row — nrm is the
    * exact quantized BIGINT, sqrt correctly rounded, so the rollups sum
    * integers; the mean is one DECIMAL div; outlier bounds
    * cross-multiply against mean_micro (no division per row).
    *
    * Scale shape: one scan projects (label, norm_micro) — checkpointed,
    * vec-cardinality but 2 columns; label rollup; means broadcast back
    * for the outlier rollup. No joins over vectors, no windows. */
  def embeddingNormAudit(spark: SparkSession, dir: String): DataFrame = {
    val norms = quantized(spark, dir)
      .select(col("label"),
        expr("CAST(floor(1000000.0D * sqrt(CAST(nrm AS DOUBLE))) AS BIGINT)")
          .as("norm_micro"))
      .localCheckpoint() // feeds the stats rollup AND the outlier pass
    val stats = norms.groupBy("label").agg(
      count(lit(1)).as("n_vecs"),
      expr("CAST(count_if(norm_micro = 0) AS BIGINT)").as("n_zero"),
      min("norm_micro").as("min_norm_micro"),
      max("norm_micro").as("max_norm_micro"),
      expr("CAST(sum(CAST(norm_micro AS DECIMAL(38,0))) div count(1) AS BIGINT)")
        .as("mean_norm_micro"))
    val outliers = norms.join(broadcast(stats.select("label", "mean_norm_micro")), "label")
      .filter(col("norm_micro") * 2 < col("mean_norm_micro") ||
        col("norm_micro") > col("mean_norm_micro") * 2)
      .groupBy("label").agg(count(lit(1)).as("n_outliers"))
    stats.join(broadcast(outliers), Seq("label"), "left")
      .na.fill(0L, Seq("n_outliers"))
      .select("label", "n_vecs", "n_zero", "min_norm_micro", "max_norm_micro",
        "mean_norm_micro", "n_outliers")
  }

  val embeddingNormAuditSql: String =
    s"""WITH q AS (SELECT vec_id, label, $quantSql AS qv FROM embeddings),
      n AS (SELECT label,
              CAST(floor(1000000.0 * sqrt(CAST(list_sum(list_transform(qv, x -> x * x))
                AS DOUBLE))) AS BIGINT) AS norm_micro FROM q),
      st AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
              CAST(count(*) FILTER (WHERE norm_micro = 0) AS BIGINT) AS n_zero,
              CAST(MIN(norm_micro) AS BIGINT) AS min_norm_micro,
              CAST(MAX(norm_micro) AS BIGINT) AS max_norm_micro,
              CAST(CAST(SUM(norm_micro) AS HUGEINT) // count(*) AS BIGINT) AS mean_norm_micro
            FROM n GROUP BY 1),
      o AS (SELECT n.label, CAST(count(*) AS BIGINT) AS n_outliers
            FROM n JOIN st USING (label)
            WHERE n.norm_micro * 2 < st.mean_norm_micro
               OR n.norm_micro > st.mean_norm_micro * 2
            GROUP BY 1)
      SELECT st.label, st.n_vecs, st.n_zero, st.min_norm_micro,
        st.max_norm_micro, st.mean_norm_micro,
        COALESCE(o.n_outliers, 0) AS n_outliers
      FROM st LEFT JOIN o USING (label)"""

  /** IVF nprobe recall curve (q243): recall@k of the IVF index at probe
    * widths 1/2/4 against exact brute truth, on a deterministic query
    * SAMPLE (vec_id % 50) — the ANN tuning table that says what the
    * IvfNprobe=2 default actually buys on THIS corpus, the vector-side
    * sibling of q227 (MinHash thresholds) and q239 (SimHash spectrum).
    * Truth is exact and the sample is a pure id function, so the curve
    * is reproducible and oracle-gated, not a spec-only recall claim
    * (SimilarityRecallSpec stays the per-query gate; this is the
    * operator an index OWNER runs on their own data).
    *
    * Scale shape: ONE cell assignment at max(nprobe) serves every curve
    * point (filters, not re-assignments); truth is the q136 sweep shape
    * — the sampled query side BROADCASTS against the member stream, so
    * the O(sample·n) work is map-side and the full n² brute (q142's
    * 434 s lesson) never exists; hit-counting joins are top-k-row
    * sized. The truth table — by far the dominant cost (the exact
    * sample×corpus sweep) and a pure function of (corpus, k,
    * sampleMod) — is memoized via [[Memo.sharedFrame]]: every
    * nprobe/threshold re-tune against the same corpus version reads
    * sample·k rows of parquet instead of repaying the sweep (the
    * builder and warm path share this construction, so the oracle is
    * unchanged — warm==cold is additionally spec-locked). */
  def recallTruth(spark: SparkSession, dir: String, k: Int,
      sampleMod: Long): DataFrame =
    // r13 (VERDICT ask 2): SHARED across JVMs — the exact sweep is the
    // family's dominant cost and a pure function of the corpus version,
    // so a multi-session deployment builds it once fleet-wide
    Memo.sharedFrame(spark, dir, "embeddings", s"recall-truth-k$k-m$sampleMod") {
      val q = quantized(spark, dir)
      val sample = q.filter(col("vec_id") % sampleMod === 0)
        .select(col("vec_id").as("id_a"), col("qv").as("qa"), col("nrm").as("na"))
      val all = q.select(col("vec_id").as("id_b"), col("qv").as("qb"), col("nrm").as("nb"))
      topkPairs(
          broadcast(sample).join(all, col("id_a") =!= col("id_b"))
            .withColumn("sim", simCol), k)
        .select("vec_id", "neighbor_id")
    }

  def ivfRecallCurve(spark: SparkSession, dir: String, k: Int = 3,
      sampleMod: Long = 50L, nprobes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    val (q, cents, _) = coarseIndex(spark, dir)
    val ranked = assignCells(q, cents, nprobes.max).localCheckpoint()
    val truth = recallTruth(spark, dir, k, sampleMod).localCheckpoint()
    val members = ranked.filter(col("rn") === 1)
      .select(col("vec_id").as("id_b"), col("qv").as("qb"),
        col("nrm").as("nb"), col("cent_id").as("cell"))
    nprobes.map { np =>
      val probes = ranked
        .filter(col("vec_id") % sampleMod === 0 && col("rn") <= np)
        .select(col("vec_id").as("id_a"), col("qv").as("qa"),
          col("nrm").as("na"), col("cent_id").as("cell"))
      topkPairs(probes.join(members, Seq("cell"))
          .filter(col("id_a") =!= col("id_b")).withColumn("sim", simCol), k)
        .select("vec_id", "neighbor_id")
        .join(truth, Seq("vec_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
        .select(lit(np.toLong).as("nprobe"), col("n_hit"), col("n_truth"),
          expr("(n_hit * 1000000L) div n_truth").as("recall_micro"))
    }.reduce(_ unionAll _)
  }

  /** q243's oracle: one assignment CTE at max nprobe, brute truth over
    * the same id sample, one row per probe width. */
  def ivfRecallCurveSql(k: Int = 3, sampleMod: Long = 50L,
      nprobes: Seq[Int] = Seq(1, 2, 4)): String = {
    val (kmeans, cf) = kmeansSqlAuto()
    val rows = nprobes.map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe,
          CAST((SELECT count(*) FROM iv$np x JOIN tr t
            ON t.vec_id = x.vec_id AND t.neighbor_id = x.neighbor_id) AS BIGINT) AS n_hit,
          (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_truth,
          (CAST((SELECT count(*) FROM iv$np x JOIN tr t
            ON t.vec_id = x.vec_id AND t.neighbor_id = x.neighbor_id) AS BIGINT) * 1000000)
            // (SELECT count(*) FROM tr) AS recall_micro"""
    }.mkString(" UNION ALL ")
    val ivCtes = nprobes.map { np =>
      s"""pi$np AS (SELECT a.vec_id, b.vec_id AS neighbor_id, $simSql AS sim
          FROM (SELECT * FROM af WHERE vec_id % $sampleMod = 0 AND rn <= $np) a
          JOIN mem b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
      iv$np AS (SELECT vec_id, neighbor_id FROM (
          SELECT vec_id, neighbor_id,
            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
          FROM pi$np) WHERE rank <= $k)"""
    }.mkString(",\n      ")
    s"""WITH $quantCte,
      $kmeans,
      af AS (SELECT n.vec_id, n.qv, n.nrm, c.cent_id AS cell,
            row_number() OVER (PARTITION BY n.vec_id ORDER BY
              CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
              / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cent_id) AS rn
          FROM n CROSS JOIN $cf c),
      mem AS (SELECT vec_id, qv, nrm, cell FROM af WHERE rn = 1),
      pt AS (SELECT a.vec_id, b.vec_id AS neighbor_id, $simSql AS sim
          FROM (SELECT * FROM n WHERE vec_id % $sampleMod = 0) a
          JOIN n b ON a.vec_id <> b.vec_id),
      tr AS (SELECT vec_id, neighbor_id FROM (
          SELECT vec_id, neighbor_id,
            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
          FROM pt) WHERE rank <= $k),
      $ivCtes
      $rows"""
  }

  /** q298's oracle: q243's chain with the member-cap axis — ONE ranked
    * member CTE (the md5 draw), one filtered candidate join per cap. */
  def ivfCappedRecallCurveSql(k: Int = 3, sampleMod: Long = 50L,
      caps: Seq[Int] = Seq(4, 8, 16, 1000000),
      nprobe: Int = IvfNprobe): String = {
    val (kmeans, cf) = kmeansSqlAuto()
    val rows = caps.map { cap =>
      s"""SELECT CAST($cap AS BIGINT) AS cap,
          CAST((SELECT count(*) FROM iv$cap x JOIN tr t
            ON t.vec_id = x.vec_id AND t.neighbor_id = x.neighbor_id) AS BIGINT) AS n_hit,
          (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_truth,
          (CAST((SELECT count(*) FROM iv$cap x JOIN tr t
            ON t.vec_id = x.vec_id AND t.neighbor_id = x.neighbor_id) AS BIGINT) * 1000000)
            // (SELECT count(*) FROM tr) AS recall_micro"""
    }.mkString(" UNION ALL ")
    val ivCtes = caps.map { cap =>
      s"""pi$cap AS (SELECT a.vec_id, b.vec_id AS neighbor_id, $simSql AS sim
          FROM (SELECT * FROM af WHERE vec_id % $sampleMod = 0 AND rn <= $nprobe) a
          JOIN (SELECT * FROM memr WHERE mrn <= $cap) b
            ON a.cell = b.cell AND a.vec_id <> b.vec_id),
      iv$cap AS (SELECT vec_id, neighbor_id FROM (
          SELECT vec_id, neighbor_id,
            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
          FROM pi$cap) WHERE rank <= $k)"""
    }.mkString(",\n      ")
    s"""WITH $quantCte,
      $kmeans,
      af AS (SELECT n.vec_id, n.qv, n.nrm, c.cent_id AS cell,
            row_number() OVER (PARTITION BY n.vec_id ORDER BY
              CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
              / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cent_id) AS rn
          FROM n CROSS JOIN $cf c),
      mem AS (SELECT vec_id, qv, nrm, cell FROM af WHERE rn = 1),
      memr AS (SELECT vec_id, qv, nrm, cell,
            row_number() OVER (PARTITION BY cell
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS mrn FROM mem),
      pt AS (SELECT a.vec_id, b.vec_id AS neighbor_id, $simSql AS sim
          FROM (SELECT * FROM n WHERE vec_id % $sampleMod = 0) a
          JOIN n b ON a.vec_id <> b.vec_id),
      tr AS (SELECT vec_id, neighbor_id FROM (
          SELECT vec_id, neighbor_id,
            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
          FROM pt) WHERE rank <= $k),
      $ivCtes
      $rows"""
  }

  /** All sub-codebooks trained in ONE grouped Lloyd loop: centroids keyed
    * (space, cent_id), assignment joined on `space` and ranked within
    * (vec, space) — per-space math identical to running
    * [[kmeansCentroids]] on each slice (the oracle mirrors them as
    * separate CTE chains), but each iteration is ONE Spark job for all
    * subspaces instead of one chain each. Sequential-job latency, not
    * data volume, dominates the separate-chain form; at scale the
    * aggregation keys by (space, cell, dim) and stays distributed. */
  def kmeansCentroidsBySpace(qsub: DataFrame, kCoarse: Int, kSub: Int,
      iters: Int): Seq[(Int, Long, Seq[Long])] = {
    val spark = qsub.sparkSession
    import spark.implicits._
    def centsDF(c: Seq[(Int, Long, Seq[Long])]): DataFrame =
      c.toDF("space", "cent_id", "cqv").withColumn("cnrm", quantizedDot(col("cqv"), col("cqv")))
    // per-space init cut: the coarse pseudo-space (-1) takes its DERIVED
    // cell count while the PQ subspaces keep the fixed codebook size
    // (codes must stay one small int per subspace at any corpus scale)
    var cents: Seq[(Int, Long, Seq[Long])] = qsub.filter(
        (col("space") === -1 && col("vec_id") < kCoarse) ||
          (col("space") >= 0 && col("vec_id") < kSub))
      .select(col("space"), col("vec_id"), col("qv")).as[(Int, Long, Seq[Long])]
      .collect().toSeq.sortBy(c => (c._1, c._2))
    for (_ <- 1 to iters) {
      // assignment argmax per (vec, space) via max_by over
      // struct(csim, -cent_id): best csim, ties to the LOWEST cent_id —
      // the same total order as a (csim desc, cent_id asc) rank window,
      // partial-aggregated through the fixed-width hash aggregate (no
      // array in any buffer — see assignCells), slices rejoined per
      // (vec, space) for the mean step
      val assign = qsub.join(broadcast(centsDF(cents)), "space")
        .withColumn("csim", cosine(
          quantizedDot(col("qv"), col("cqv")).cast("double"), col("nrm"), col("cnrm")))
        .groupBy("vec_id", "space")
        .agg(argmaxCell.as("top"))
        .select(col("vec_id"), col("space"), expr("element_at(top, 1).id").as("cent_id"))
      val sums = assign
        .join(qsub.select("vec_id", "space", "qv"), Seq("vec_id", "space"))
        .select(col("space"), col("cent_id"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy("space", "cent_id", "pos")
        .agg(sum("x").as("s"), count(lit(1)).as("cnt"))
        .select(col("space"), col("cent_id"), col("pos"), expr("s DIV cnt").as("m"))
        .as[(Int, Long, Int, Long)].collect() // spaces·k·subdim rows
      val byCell = sums.groupBy(t => (t._1, t._2))
        .map { case (key, rows) => key -> rows.sortBy(_._3).map(_._4).toSeq }
      cents = cents.map { case (sp, cid, prev) => (sp, cid, byCell.getOrElse((sp, cid), prev)) }
    }
    cents
  }

  private def spaceCentsDF(spark: SparkSession, c: Seq[(Int, Long, Seq[Long])]): DataFrame = {
    import spark.implicits._
    c.toDF("space", "cent_id", "cqv").withColumn("cnrm", quantizedDot(col("cqv"), col("cqv")))
  }

  /** The ARRAY<BIGINT> literal of `xs`. */
  private def longs(xs: Seq[Long]): Column = typedLit(xs).cast("array<bigint>")

  /** `CASE label WHEN l THEN e ... END` over per-label columns. */
  private def byLabel(es: Seq[(Int, Column)]): Column =
    es.tail.foldLeft(when(col("label") === es.head._1, es.head._2)) {
      case (c, (l, e)) => c.when(col("label") === l, e)
    }

  /** floor(1e6 · cosine(a, b)) as BIGINT, from the two norm columns. */
  private def cosMicro(a: String, b: String, na: String, nb: String): Column =
    floor(quantizedDot(col(a), col(b)).cast("double") /
      (sqrt(col(na).cast("double")) * sqrt(col(nb).cast("double"))) * 1000000).cast("bigint")

  /** `memberCap` < MaxValue applies the q296 per-cell member cap to the
    * CODE side before the cell join (q297): the pair count — unchanged
    * by PQ's 16x payload cut, and the reason q66 died beside q47 at
    * 1000x — becomes nprobe·n·cap. Same md5 draw, same spec locks. */
  def knnIvfPq(spark: SparkSession, dir: String, k: Int,
      candidates: Int = PqCandidates,
      memberCap: Int = Int.MaxValue): DataFrame = {
    val qraw = quantized(spark, dir).select("vec_id", "qv", "nrm")
    // ALL five codebooks (full-vector IVF as pseudo-space -1 + the 4 PQ
    // subspaces) train in ONE grouped Lloyd loop: per-space math is
    // independent (assignment ranks within (vec, space), means key on
    // (space, cell, dim)), so the results are bit-identical to separate
    // trainings — but each iteration is one Spark job for all codebooks
    // instead of two serial 1+KmeansIters job chains, and ONE checkpoint
    // (qall, which also serves the full-vector rows as space -1) replaces
    // two. Sequential job latency was the measured cost: separate
    // trainings were 3.7 s of q66's 7.5 s fresh run at sf0.1. The init
    // cut is per-space: the coarse space takes the DERIVED cell count,
    // the PQ subspaces the fixed codebook size.
    val kCoarse = ivfCentroidsFor(t(spark, dir, "embeddings").count())
    val qall = qraw.select(lit(-1).as("space"), col("vec_id"), col("qv"), col("nrm"))
      .unionByName(subspaceRows(qraw).select("space", "vec_id", "qv", "nrm"))
      .localCheckpoint()
    val q = qall.filter(col("space") === -1).select("vec_id", "qv", "nrm")
    // both codebook families share the deterministic-training caches:
    // coarse cells with q47/q95/q107/q109 (coarseCache), PQ subspace
    // codebooks in their own map — a suite run trains each exactly once,
    // and a fresh q66 seeds both for the rest of the family
    val ckDir = cacheKeyDir(spark, dir)
    val coarseHit = coarseCache.get((ckDir, kCoarse, KmeansIters))
    val pqHit = pqCodebookCache.get((ckDir, KmeansIters))
    val trained = (coarseHit, pqHit) match {
      case (Some(cseq), Some(pseq)) =>
        pseq ++ cseq.map { case (cid, v) => (-1, cid, v) }
      case (Some(cseq), None) =>
        val pseq = kmeansCentroidsBySpace(qall.filter(col("space") >= 0),
          kCoarse, PqSubCents, KmeansIters)
        pqCodebookCache.put((ckDir, KmeansIters), pseq)
        pseq ++ cseq.map { case (cid, v) => (-1, cid, v) }
      case (None, _) =>
        val all = kmeansCentroidsBySpace(qall, kCoarse, PqSubCents, KmeansIters)
        coarseCache.put((ckDir, kCoarse, KmeansIters),
          all.collect { case (-1, cid, v) => (cid, v) }.sortBy(_._1))
        pqCodebookCache.put((ckDir, KmeansIters), all.filter(_._1 >= 0))
        all
    }
    val cents = {
      import spark.implicits._
      trained.collect { case (-1, cid, v) => (cid, v) }.sortBy(_._1)
        .toDF("cent_id", "cqv").withColumn("cnrm", quantizedDot(col("cqv"), col("cqv")))
    }
    val ranked = assignCells(q, cents, IvfNprobe).localCheckpoint()
    val qsub = qall.filter(col("space") >= 0)
    // trained codebook, driver-resident: spaces·k·subdim longs
    val cbook = trained.filter(_._1 >= 0).sortBy(c => (c._1, c._2))
    val subCents = spaceCentsDF(spark, cbook)
    // member side carries CODES, not vectors: one small int per subspace.
    // Assignment is an argmax per (vec, space) — the k=1 bounded
    // aggregator (best csim, ties to the LOWEST cent_id, the same total
    // order as the rank-window form) keeps the whole reduction in a
    // partial-agg'd OBJECT hash aggregate instead of a shuffle-and-sort
    // rank window over every (vec, space, cent) triple (see argmaxCell)
    val codes = qsub.join(broadcast(subCents), "space")
      .withColumn("csim", cosine(
        quantizedDot(col("qv"), col("cqv")).cast("double"), col("nrm"), col("cnrm")))
      .groupBy("vec_id", "space")
      .agg(argmaxCell.as("top"))
      .select(col("vec_id"), col("space"), expr("element_at(top, 1).id").as("cent_id"))
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(space, cent_id))), t -> t.cent_id)").as("codes"))
    // reconstructed norm from codes alone: flat |c|² table lookup-summed
    val cnrmFlat = longs(cbook.map { case (_, _, v) => v.map(x => x * x).sum })
    val membersAll = ranked.filter(col("rn") === 1)
      .select(col("vec_id").as("id_b"), col("cent_id").as("cell"))
      .join(codes.withColumnRenamed("vec_id", "id_b"), "id_b")
      .withColumn("nrec", pqAdcSum(cnrmFlat, col("codes")))
    val members =
      if (memberCap == Int.MaxValue) membersAll
      else capMembersByCell(membersAll, memberCap, "id_b")
    // probe side precomputes its ADC table ONCE per query vector: the dot
    // of each of its subvectors with every sub-centroid (spaces·k dots) —
    // per-PAIR scoring is then `spaces` table lookups (pq_adc_sum), never
    // a re-dot of a reconstruction. Integer adds commute, so the score
    // equals quantized_dot(query, reconstruction) bit-for-bit and the
    // oracle keeps the reconstruction form.
    val atab = array(cbook.map { case (s, _, v) =>
      quantizedDot(slice(col("qv"), s * PqSubDim + 1, PqSubDim), longs(v))
    }: _*)
    val probes = ranked.filter(col("rn") <= IvfNprobe)
      .select(col("vec_id").as("id_a"), col("qv").as("qa"), col("nrm").as("na"),
        col("cent_id").as("cell"), atab.as("atab"))
    // ADC cut via the bounded aggregator: map-side ≤`candidates` pairs
    // per query — no 50M-row rank-window sort (see topkPairs)
    val approx = probes.join(members, Seq("cell"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("sim", cosine(
        pqAdcSum(col("atab"), col("codes")).cast("double"), col("na"), col("nrec")))
    val survivors = topkPairs(approx, candidates)
      .select(col("vec_id").as("id_a"), col("neighbor_id").as("id_b"))
    // exact re-rank of the ≤`candidates` survivors only
    val a = q.select(col("vec_id").as("id_a"), col("qv").as("qa"), col("nrm").as("na"))
    val b = q.select(col("vec_id").as("id_b"), col("qv").as("qb"), col("nrm").as("nb"))
    topkPairs(
      survivors.join(a, "id_a").join(b, "id_b").withColumn("sim", simCol),
      k)
  }

  private val simSql =
    """CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
       / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE)))"""

  private val quantCte =
    s"""q AS (SELECT vec_id, $quantSql AS qv FROM embeddings),
        n AS (SELECT vec_id, qv, CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm FROM q)"""

  /** k-means CTE chain {pfx}c0..{pfx}c{iters} over source CTE `src`
    * (vec_id, qv, nrm): mirrors kmeansCentroids exactly (truncating `//`,
    * list ORDER BY pos, LEFT JOIN + COALESCE for empty cells). The prefix
    * keeps several chains (full-vector IVF + one per PQ subspace)
    * coexisting in one WITH clause. */
  private def kmeansSqlFor(src: String, pfx: String, kExpr: String, iters: Int): (String, String) = {
    val csimSql = """CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
       / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE)))"""
    val init = s"${pfx}c0 AS (SELECT vec_id AS cent_id, qv AS cqv, nrm AS cnrm FROM $src WHERE vec_id < $kExpr)"
    val iterCtes = (1 to iters).map { it =>
      val prev = s"${pfx}c${it - 1}"
      s"""${pfx}a$it AS (SELECT n.vec_id, n.qv, c.cent_id,
            row_number() OVER (PARTITION BY n.vec_id ORDER BY $csimSql DESC, c.cent_id) AS rn
          FROM $src n CROSS JOIN $prev c),
        ${pfx}m$it AS (SELECT cent_id, unnest(range(1, len(qv) + 1)) AS pos, unnest(qv) AS x
          FROM ${pfx}a$it WHERE rn = 1),
        ${pfx}s$it AS (SELECT cent_id, pos, SUM(x) AS s, COUNT(*) AS cnt FROM ${pfx}m$it GROUP BY cent_id, pos),
        ${pfx}g$it AS (SELECT cent_id, list(s // cnt ORDER BY pos) AS mqv FROM ${pfx}s$it GROUP BY cent_id),
        ${pfx}c$it AS (SELECT p.cent_id, COALESCE(g.mqv, p.cqv) AS cqv,
            CAST(list_sum(list_transform(COALESCE(g.mqv, p.cqv), x -> x * x)) AS BIGINT) AS cnrm
          FROM $prev p LEFT JOIN ${pfx}g$it g USING (cent_id))"""
    }
    ((init +: iterCtes).mkString(",\n        "), s"${pfx}c$iters")
  }

  private def kmeansSql(k: Int, iters: Int): (String, String) =
    kmeansSqlFor("n", "", k.toString, iters)

  /** Derived-k chain: the oracle's init cut computes the same
    * k = max(floor, ceil(sqrt(n))) the Scala side derives. */
  private def kmeansSqlAuto(iters: Int = KmeansIters): (String, String) =
    kmeansSqlFor("n", "", ivfKSqlExpr, iters)

  /** Per-label centroid of the quantized vectors: the same distributed
    * mean machinery as one k-means Lloyd step (posexplode → (label, dim)
    * partial-aggregated sums → truncated integer mean → array rebuilt in
    * dim order), but grouped by the given label instead of the assigned
    * cell. Scale: the aggregation is keyed by (label, dim) — any corpus
    * size; output is labels × dim longs. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    quantized(spark, dir)
      .select(col("label"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(sum("x").as("s"), count(lit(1)).as("cnt"))
      .select(col("label"), col("pos"), expr("s DIV cnt").as("m"), col("cnt"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), t -> t.m)").as("centroid"),
        max("cnt").as("n_vecs"))

  val OutlierK = 5 // least-prototypical vectors reported per label

  /** Per-label prototypicality outliers (q122): the embedding-space
    * data-curation filter — for each label, the k vectors LEAST similar
    * to their label's centroid (mislabeled, noisy, or boundary points;
    * the thing a CLIP-score-style filter drops). Centroid is q61's exact
    * truncated-mean vector (integer `s DIV cnt` per dimension — NOT the
    * raw sum, whose squared norm overflows BIGINT at ~1e3 members);
    * similarity is the established integer-dot-then-IEEE-double cosine
    * ([[knnBrute]]'s discipline), so both engines agree bit-for-bit.
    *
    * Shape at scale: centroids are label-cardinality — broadcast; the
    * per-label bottom-k rank filter plans as WindowGroupLimit (pre-
    * shuffle per-partition cap, the q68 gate), so the exchange carries
    * ≤ k·labels candidate rows, not the corpus. */
  def labelOutliers(spark: SparkSession, dir: String,
      k: Int = OutlierK): DataFrame =
    labelOutliersOn(quantized(spark, dir), k)

  /** [[labelOutliers]] over an EXPLICIT quantized frame (vec_id, label,
    * qv, nrm) — the composition point [[embedCuration]] uses to prune
    * over stage-1 SURVIVORS (centroids recomputed on the restricted
    * set, as the pipeline semantics require). */
  private[graft] def labelOutliersOn(q: DataFrame, k: Int = OutlierK): DataFrame = {
    val cent = q
      .select(col("label"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(sum("x").as("s"), count(lit(1)).as("cnt"))
      .select(col("label"), col("pos"), expr("s DIV cnt").as("m"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), t -> t.m)").as("cv"))
      .withColumn("nc", quantizedDot(col("cv"), col("cv")))
    val w = Window.partitionBy("label").orderBy(col("sim").asc, col("vec_id").asc)
    q.join(broadcast(cent), "label")
      .withColumn("sim", cosine(
        quantizedDot(col("qv"), col("cv")).cast("double"), col("nrm"), col("nc")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("label"), col("rank"), col("vec_id"), col("sim"))
  }

  def labelOutliersSql(k: Int = OutlierK): String =
    s"""WITH q AS (SELECT vec_id, label, $quantSql AS qv FROM embeddings),
      n AS (SELECT vec_id, label, qv,
              list_sum(list_transform(qv, x -> x * x)) AS nrm FROM q),
      m AS (SELECT label, unnest(range(1, len(qv) + 1)) AS pos, unnest(qv) AS x FROM q),
      s AS (SELECT label, pos, SUM(x) AS s, COUNT(*) AS cnt FROM m GROUP BY 1, 2),
      c AS (SELECT label, list(s // cnt ORDER BY pos) AS cv FROM s GROUP BY label),
      cn AS (SELECT label, cv, list_sum(list_transform(cv, x -> x * x)) AS nc FROM c),
      sc AS (SELECT n.label, n.vec_id,
               CAST(list_sum(list_transform(range(1, len(n.qv) + 1),
                 i -> n.qv[i] * cn.cv[i])) AS DOUBLE)
                 / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(cn.nc AS DOUBLE))) AS sim
             FROM n JOIN cn USING (label)),
      r AS (SELECT label, vec_id, sim,
              row_number() OVER (PARTITION BY label ORDER BY sim ASC, vec_id ASC) AS rank
            FROM sc)
      SELECT label, CAST(rank AS BIGINT) AS rank, vec_id, sim
      FROM r WHERE rank <= $k"""

  /** Centroid-form silhouette per label (q196): how separable the label
    * clusters are in embedding space — for each vector, a = cosine
    * distance to its OWN label centroid, b = distance to the NEAREST
    * OTHER label centroid, s = (b−a)/max(a,b) — algebraically
    * (sim_own − sim_other)/(1 − min(sim_own, sim_other)). The classic
    * simplified silhouette (centroids instead of all-pairs — the only
    * form that scales; exact silhouette is O(n²)). Reported per label:
    * mean silhouette (micro-quantized) and the count of NEGATIVE rows
    * (closer to a foreign centroid than their own — the label-noise
    * set q122 ranks). Centroids are q61's exact truncated-mean integer
    * vectors; all dots ride `quantized_dot`, so per-row doubles are
    * bit-identical across engines, and per-row FLOOR-micro quantization
    * happens BEFORE the label rollup so every aggregate is an
    * order-free integer sum (a mean of raw doubles would be
    * partial-agg-order-dependent — not hash-stable).
    *
    * Scale shape: one (label × dim)-keyed centroid exchange (labels·dim
    * rows out), centroids collected driver-side (labels·dim longs —
    * driver-bounded, the coarse-trainer pattern) and baked as literals
    * into ONE stateless projection over the scan, then one label-keyed
    * partial-agg rollup. No per-vector exchange anywhere. */
  /** Beyond this many labels, [[labelSilhouette]] switches from the
    * baked-literal projection to the broadcast-array form: the chained
    * CASE inlines labels·(dim+2) literals and its codegen'd method grows
    * linearly with label count — in the hundreds it trips Janino method
    * limits / constant-pool pressure and Spark degrades to interpreted
    * evaluation. The broadcast form's plan size is CONSTANT in label
    * count (centroids arrive as DATA through a 1-row broadcast), at the
    * cost of a higher-order-function loop per row. Both forms compute
    * the identical IEEE expression per (vector, label) — spec'd equal
    * either side of the threshold at an adversarial 200 labels. */
  val SilhouetteLiteralMaxLabels = 32

  def labelSilhouette(spark: SparkSession, dir: String): DataFrame = {
    val (q, rollup) = silhouetteInputs(spark, dir)
    val nLabels = rollup.select("label").distinct().count()
    if (nLabels <= SilhouetteLiteralMaxLabels)
      labelSilhouetteLiteral(spark, q, rollup)
    else labelSilhouetteBroadcast(spark, q, rollup)
  }

  /** The quantized frame + per-(label, pos) centroid rollup both
    * silhouette forms consume. The rollup is labels·dim rows — tiny;
    * checkpointed so the branch count and centroid consumption don't
    * recompute it. */
  /** Label-confusion card (q286): every vector assigned to its NEAREST
    * label centroid (exact integer d² = nrm + nc − 2·dot, ties to the
    * smaller label) and cross-tabulated against its GIVEN label — the
    * confident-learning label-noise screen (Northcutt et al. 2021's
    * confusion joint, with the nearest-centroid rule as the predictor):
    * off-diagonal mass is the suspected-mislabel set, and WHICH other
    * label absorbs it says whether two classes have merged. Completes
    * the cluster-quality trio — q196's silhouette reads per-vector
    * misassignment STRENGTH, q215's DB reads per-cluster geometry, this
    * names the label pairs that actually confuse.
    *
    * Scale shape: centroids are the q196 (label × dim) rollup collected
    * driver-side and baked as ONE literal array-of-structs argmin
    * (`array_min` over (d², label) structs — lexicographic struct order
    * IS the tie-break), so per-vector work is a stateless codegen'd
    * projection with zero exchange; the card is a labels²-bounded
    * rollup plus a broadcast share join. */
  def labelConfusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (q, rollup) = silhouetteInputs(spark, dir)
    val cents: Seq[(Int, Seq[Long], Long)] = rollup
      .as[(Int, Int, Long)].collect() // labels·dim rows — driver-bounded
      .groupBy(_._1).toSeq.map { case (l, rows) =>
        val cv = rows.sortBy(_._2).map(_._3).toSeq
        (l, cv, cv.map(x => x * x).sum)
      }.sortBy(_._1)
    val structs = cents.map { case (l, cv, nc) =>
      struct((col("nrm") + lit(nc) - lit(2L) * quantizedDot(col("qv"), longs(cv))).as("d2"),
        lit(l).as("l"))
    }
    val conf = q.select(col("label"), array_min(array(structs: _*)).getField("l").as("pred_label"))
      .groupBy("label", "pred_label").agg(count(lit(1)).as("n"))
      .localCheckpoint() // labels²-bounded; feeds totals AND the card
    val totals = conf.groupBy("label").agg(sum("n").as("total"))
    conf.join(broadcast(totals), "label")
      .withColumn("share_micro", expr(
        "CAST((CAST(n AS DECIMAL(38,0)) * 1000000) div total AS BIGINT)"))
      .withColumn("pred_label", col("pred_label").cast("long"))
      .select("label", "pred_label", "n", "share_micro")
  }

  /** q286's oracle: the same centroids and exact d² identity, with the
    * argmin as a (d², candidate) row-number window. */
  val labelConfusionSql: String =
    s"""WITH q AS (SELECT vec_id, label, $quantSql AS qv FROM embeddings),
      n AS (SELECT vec_id, label, qv,
              CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm FROM q),
      m AS (SELECT label, unnest(range(1, len(qv) + 1)) AS pos, unnest(qv) AS x FROM q),
      s AS (SELECT label, pos, SUM(x) AS sm, COUNT(*) AS cnt FROM m GROUP BY 1, 2),
      c AS (SELECT label, list(sm // cnt ORDER BY pos) AS cv FROM s GROUP BY label),
      cn AS (SELECT label, cv,
              CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT) AS nc FROM c),
      d AS (SELECT n.vec_id, n.label, cn.label AS cand,
              n.nrm + cn.nc - 2 * CAST(list_sum(list_transform(
                range(1, len(n.qv) + 1), i -> n.qv[i] * cn.cv[i])) AS BIGINT) AS d2
            FROM n CROSS JOIN cn),
      p AS (SELECT vec_id, label, cand AS pred_label FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY d2, cand) AS rn FROM d) WHERE rn = 1),
      conf AS (SELECT label, pred_label, CAST(count(*) AS BIGINT) AS n
            FROM p GROUP BY 1, 2),
      tot AS (SELECT label, CAST(SUM(n) AS BIGINT) AS total FROM conf GROUP BY 1)
      SELECT conf.label, CAST(pred_label AS BIGINT) AS pred_label, n,
        CAST((CAST(n AS HUGEINT) * 1000000) // total AS BIGINT) AS share_micro
      FROM conf JOIN tot ON tot.label = conf.label"""

  private[graft] def silhouetteInputs(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val q = quantized(spark, dir)
    val rollup = q
      .select(col("label"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(sum("x").as("s"), count(lit(1)).as("cnt"))
      .select(col("label"), col("pos"), expr("s DIV cnt").as("m"))
      .localCheckpoint()
    (q, rollup)
  }

  /** The literal form: centroids collected driver-side (labels·dim
    * longs — driver-bounded, the coarse-trainer pattern) and baked as a
    * chained-CASE literal projection — zero per-vector exchange, fully
    * codegen'd at small label counts. */
  private[graft] def labelSilhouetteLiteral(spark: SparkSession, q: DataFrame,
      rollup: DataFrame): DataFrame = {
    import spark.implicits._
    val cents: Seq[(Int, Seq[Long], Long)] = rollup
      .as[(Int, Int, Long)].collect() // labels·dim rows — driver-bounded
      .groupBy(_._1).toSeq.map { case (l, rows) =>
        val cv = rows.sortBy(_._2).map(_._3).toSeq
        (l, cv, cv.map(x => x * x).sum)
      }.sortBy(_._1)
    val simFor = cents.map { case (l, cv, nc) =>
      l -> cosine(quantizedDot(col("qv"), longs(cv)).cast("double"), col("nrm"), lit(nc))
    }
    val other = greatest(simFor.map { case (l, e) =>
      when(col("label") === l, lit(Double.NegativeInfinity)).otherwise(e)
    }: _*)
    silhouetteRollup(
      q.select(col("label"), byLabel(simFor).as("sim_own"), other.as("sim_other")))
  }

  /** The high-cardinality form: the centroid table collapses to ONE row
    * carrying an array of (l, cv, nc) structs, broadcast and cross-joined
    * (1-row side — no replication), and per row a `transform` lambda
    * computes the same cosine against every centroid with `aggregate`
    * maxes splitting own/other. Still zero per-vector exchange; plan
    * size constant in label count. Sim values are bit-identical to the
    * literal form (same quantized_dot / try_divide tree; max over
    * identical doubles is order-free). */
  private[graft] def labelSilhouetteBroadcast(spark: SparkSession, q: DataFrame,
      rollup: DataFrame): DataFrame = {
    val centArr = rollup
      .groupBy("label")
      .agg(expr("transform(array_sort(array_agg(struct(pos, m))), s -> s.m)").as("cv"))
      .select(col("label").as("l"), col("cv"),
        expr("aggregate(cv, 0L, (a, x) -> a + x * x)").as("nc"))
      .agg(expr("array_sort(array_agg(struct(l, cv, nc)))").as("cents")) // 1 row
    val sims = transform(col("cents"), c => struct(c("l").as("l"),
      cosine(quantizedDot(col("qv"), c("cv")).cast("double"), col("nrm"), c("nc")).as("sim")))
    silhouetteRollup(
      q.crossJoin(broadcast(centArr))
        .withColumn("sims", sims)
        .select(col("label"),
          expr("aggregate(sims, CAST('-Infinity' AS DOUBLE), " +
            "(a, s) -> CASE WHEN s.l = label THEN greatest(a, s.sim) ELSE a END)").as("sim_own"),
          expr("aggregate(sims, CAST('-Infinity' AS DOUBLE), " +
            "(a, s) -> CASE WHEN s.l <> label THEN greatest(a, s.sim) ELSE a END)").as("sim_other")))
  }

  /** Shared tail: per-row FLOOR-micro quantization BEFORE the label
    * rollup so every aggregate is an order-free integer sum. */
  private def silhouetteRollup(sims: DataFrame): DataFrame =
    sims.withColumn("s_micro", expr(
        """CAST(floor(1000000 * (CASE
             WHEN sim_other = CAST('-Infinity' AS DOUBLE) THEN 0.0D
             WHEN 1.0D - least(sim_own, sim_other) = 0.0D THEN 0.0D
             ELSE (sim_own - sim_other) / (1.0D - least(sim_own, sim_other)) END)) AS BIGINT)"""))
      .groupBy("label").agg(
        count(lit(1)).as("n_vecs"),
        expr("CAST(sum(s_micro) div count(1) AS BIGINT)").as("mean_sil_micro"),
        expr("CAST(count_if(s_micro < 0) AS BIGINT)").as("n_negative"))
      .select("label", "n_vecs", "mean_sil_micro", "n_negative")

  val labelSilhouetteSql: String =
    s"""WITH q AS (SELECT vec_id, label, $quantSql AS qv FROM embeddings),
      n AS (SELECT vec_id, label, qv,
              list_sum(list_transform(qv, x -> x * x)) AS nrm FROM q),
      m AS (SELECT label, unnest(range(1, len(qv) + 1)) AS pos, unnest(qv) AS x FROM q),
      s AS (SELECT label, pos, SUM(x) AS sm, COUNT(*) AS cnt FROM m GROUP BY 1, 2),
      c AS (SELECT label, list(sm // cnt ORDER BY pos) AS cv FROM s GROUP BY label),
      cn AS (SELECT label AS clabel, cv,
              list_sum(list_transform(cv, x -> x * x)) AS nc FROM c),
      sc AS (SELECT n.vec_id, n.label, cn.clabel,
               CAST(list_sum(list_transform(range(1, len(n.qv) + 1),
                 i -> n.qv[i] * cn.cv[i])) AS DOUBLE)
                 / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(cn.nc AS DOUBLE))) AS sim
             FROM n CROSS JOIN cn),
      agg AS (SELECT vec_id, label,
               MAX(CASE WHEN clabel = label THEN sim END) AS sim_own,
               MAX(CASE WHEN clabel <> label THEN sim END) AS sim_other
             FROM sc GROUP BY 1, 2),
      sil AS (SELECT label,
               CAST(floor(1000000 * (CASE
                 WHEN sim_other IS NULL THEN 0.0
                 WHEN 1.0 - least(sim_own, sim_other) = 0.0 THEN 0.0
                 ELSE (sim_own - sim_other) / (1.0 - least(sim_own, sim_other)) END)) AS BIGINT) AS s_micro
             FROM agg)
      SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        CAST(SUM(s_micro) // count(*) AS BIGINT) AS mean_sil_micro,
        CAST(count_if(s_micro < 0) AS BIGINT) AS n_negative
      FROM sil GROUP BY label"""

  /** SemDeDup threshold: testdata cosines top out near 0.51, with a thin
    * >= 0.4 tail — the same cut as the q44 exact near-dup query, so the
    * two operators' drop sets are directly comparable. */
  val SemDedupThreshold = 0.4

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings with the SAME
    * deterministic integer k-means as the IVF index, then inside each
    * cluster drop every vector that has an EARLIER (lower vec_id)
    * cluster-mate with cosine >= threshold. The paper's greedy variant
    * re-checks only against SURVIVORS (a sequential scan per cluster);
    * the earlier-mate rule used here is its order-free relaxation — a
    * pure self-join, so it parallelizes — and drops a superset (anything
    * greedy drops has an earlier similar mate). Cost: clustering is the
    * shared k-means (one broadcast-join job per Lloyd iteration); the
    * candidate self-join is equi-keyed on cell, O(Σ cell²) pairs instead
    * of the O(n²) brute force — the clusters ARE the blocking scheme.
    * Output keeps every vector with its cell and verdict, so callers can
    * either filter `kept` or audit the drops. */
  def semanticDedup(spark: SparkSession, dir: String, threshold: Double = SemDedupThreshold,
      nCents: Int = -1, iters: Int = KmeansIters): DataFrame = {
    val (q, cents, _) = coarseIndex(spark, dir, nCents, iters)
    val home = assignCells(q, cents, 1)
      .select(col("vec_id"), col("qv"), col("nrm"), col("cent_id").as("cell"))
      .localCheckpoint() // feeds both self-join sides + the final output
    val a = home.select(col("vec_id").as("id_a"), col("qv").as("qa"),
      col("nrm").as("na"), col("cell"))
    val b = home.select(col("vec_id").as("id_b"), col("qv").as("qb"),
      col("nrm").as("nb"), col("cell"))
    val blocked = a.join(b, Seq("cell"))
      .filter(col("id_b") < col("id_a") && simCol >= threshold)
      .select(col("id_a").as("vec_id")).distinct()
      .withColumn("blk", lit(true))
    home.select(col("vec_id"), col("cell"))
      .join(blocked, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("blk").isNull.as("kept"))
  }

  /** [[semanticDedup]] with the per-cell BLOCKER cap (q305, r11): the
    * cap family applied to the admission side. The blocker self-join is
    * quadratic in cell size exactly like the knn join (a duplicate-heavy
    * corpus is ALSO the one whose cells run hot), so the blocker side is
    * bounded at `cap` members per cell by the same unbiased md5 draw.
    * Semantics shift MONOTONICALLY: a document is dropped only if an
    * earlier DRAW-SURVIVING near-dup shares its cell, so
    * kept ⊇ uncapped-kept (spec-locked) — the cap can only ADMIT MORE,
    * never lose a document, which is the right failure direction for
    * dedup (a missed drop is a later exact-pass problem; a false drop is
    * data loss). With cap above the largest cell this IS q95 row for
    * row. */
  def semanticDedupCapped(spark: SparkSession, dir: String,
      threshold: Double = SemDedupThreshold, cap: Int = IvfMemberCap,
      nCents: Int = -1, iters: Int = KmeansIters): DataFrame = {
    val (q, cents, _) = coarseIndex(spark, dir, nCents, iters)
    val home = assignCells(q, cents, 1)
      .select(col("vec_id"), col("qv"), col("nrm"), col("cent_id").as("cell"))
      .localCheckpoint()
    val a = home.select(col("vec_id").as("id_a"), col("qv").as("qa"),
      col("nrm").as("na"), col("cell"))
    val b = capMembersByCell(
      home.select(col("vec_id").as("id_b"), col("qv").as("qb"),
        col("nrm").as("nb"), col("cell")),
      cap, "id_b")
    val blocked = a.join(b, Seq("cell"))
      .filter(col("id_b") < col("id_a") && simCol >= threshold)
      .select(col("id_a").as("vec_id")).distinct()
      .withColumn("blk", lit(true))
    home.select(col("vec_id"), col("cell"))
      .join(blocked, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("blk").isNull.as("kept"))
  }

  /** Embedding-cluster corpus profile (q107): the domain-balance report a
    * pretraining run reads before weighting its mixture. Documents are
    * clustered in EMBEDDING space (the shared deterministic integer
    * k-means — same trained cells as q47/q95, same argmax total order),
    * then each cluster is profiled with the shared quality machinery:
    * document/token volume, quality-pass count, exact micro-unit mean
    * quality (q62 integer-moment discipline), and the dominant source
    * with a deterministic (count DESC, source ASC) argmax.
    *
    * Scale shape: training is k·dim driver-bounded (one Lloyd job per
    * iteration); assignment is the n × k broadcast pass; the
    * embeddings→documents join is an equi-join on the id — both sides
    * shuffle-partitioned, no window over the corpus. The rollups are
    * partial-aggregated and their outputs are cluster- and
    * (cluster × source)-bounded; the dominant-source window sorts only
    * those rollup rows, never document rows. */
  def clusterProfile(spark: SparkSession, dir: String, nCents: Int = -1,
      iters: Int = KmeansIters): DataFrame = {
    val (q, cents, _) = coarseIndex(spark, dir, nCents, iters)
    val home = assignCells(q, cents, 1)
      .select(col("vec_id"), col("cent_id").as("cluster"))
    val sig = TextStats.scored(
      t(spark, dir, "documents").select("doc_id", "source", "text"), Seq("source", "text"))
      .withColumn("sum_len", expr(TextStats.sumLenExpr))
      .withColumn("q_micro", floor(col("score") * 1000000.0).cast("long"))
      .drop("text")
    val j = home.join(sig, home("vec_id") === sig("doc_id"))
    // ONE pass over the joined corpus: everything rolls up to the
    // (cluster x source) grain first, checkpointed (kilobytes), so the
    // profile re-aggregation and the dominant-source argmax below both
    // read the tiny rollup instead of re-running the assignment + join
    val grouped = j.groupBy("cluster", "source")
      .agg(count(lit(1)).as("cnt"),
        sum("n_tokens").as("src_tokens"),
        expr(s"CAST(count_if(${TextStats.QualityPassCond}) AS BIGINT)").as("src_pass"),
        sum("q_micro").as("src_q"))
      .localCheckpoint()
    val prof = grouped.groupBy("cluster")
      .agg(sum("cnt").as("n_docs"),
        sum("src_tokens").as("n_tokens"),
        sum("src_pass").as("n_pass"),
        sum("src_q").as("q_micro_sum"))
      .withColumn("avg_quality", col("q_micro_sum").cast("double") /
        (col("n_docs") * lit(1000000L)).cast("double"))
    val tops = grouped
      .withColumn("rn", row_number().over(
        Window.partitionBy("cluster").orderBy(col("cnt").desc, col("source"))))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("source").as("top_source"),
        col("cnt").as("top_source_docs"))
    prof.join(broadcast(tops), Seq("cluster"))
  }

  val ClusterMixBudgetTokens = 8000L

  /** Cluster-balanced token mixing (q109): q96's greedy quality fill with
    * the mixture keyed by EMBEDDING CLUSTER instead of source — the
    * uniform domain-reweighting baseline (each latent domain gets an
    * equal `budget DIV k` token share regardless of its corpus share, so
    * over-represented domains are down-sampled and scarce ones kept
    * whole). Clusters are the shared deterministic k-means cells; the
    * per-cluster fill is greedy by the shared q31 quality score with the
    * doc_id tie-break, integer window cum — every cut bit-portable.
    *
    * Scale shape: q96's exactly — ONE window shuffle keyed by cluster
    * (per-cluster sort within its partition, no global sort); the
    * cluster count attaches as a broadcast scalar; assignment and the
    * documents join are the q107 passes. */
  def clusterMix(spark: SparkSession, dir: String,
      budgetTokens: Long = ClusterMixBudgetTokens, nCents: Int = -1,
      iters: Int = KmeansIters): DataFrame = {
    val (q, cents, _) = coarseIndex(spark, dir, nCents, iters)
    val home = assignCells(q, cents, 1)
      .select(col("vec_id"), col("cent_id").as("cluster"))
    val scored = TextStats.scored(
      t(spark, dir, "documents").select("doc_id", "source", "text"), Seq("source"))
    val j = home.join(scored, home("vec_id") === scored("doc_id"))
    val kc = home.agg(countDistinct("cluster").as("kc"))
    val win = Window.partitionBy("cluster").orderBy(col("score").desc, col("doc_id").asc)
    j.crossJoin(broadcast(kc))
      .withColumn("share_tokens", expr(s"$budgetTokens DIV kc"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(win))
      .filter(col("cum_tokens") <= col("share_tokens"))
      .select("doc_id", "cluster", "source", "n_tokens", "cum_tokens", "share_tokens")
  }

  def clusterMixSql(budgetTokens: Long = ClusterMixBudgetTokens,
      nCents: Int = -1, iters: Int = KmeansIters): String = {
    val (kmeans, cf) =
      if (nCents > 0) kmeansSql(nCents, iters) else kmeansSqlAuto(iters)
    s"""WITH $quantCte,
      $kmeans,
      af AS (SELECT n.vec_id, c.cent_id,
            row_number() OVER (PARTITION BY n.vec_id ORDER BY
              CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
              / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cent_id) AS rn
            FROM n CROSS JOIN $cf c),
      mem AS (SELECT vec_id, cent_id AS cluster FROM af WHERE rn = 1),
      base AS (SELECT doc_id, source, ${TextStats.scoreSignalsDuck} FROM documents),
      scored AS (SELECT doc_id, source, n_tokens, ${TextStats.scoreExprDuck} AS score
            FROM base),
      j AS (SELECT m.cluster, d.* FROM mem m JOIN scored d ON d.doc_id = m.vec_id),
      kc AS (SELECT count(DISTINCT cluster) AS kc FROM mem),
      c AS (SELECT doc_id, cluster, source, n_tokens,
            CAST($budgetTokens // (SELECT kc FROM kc) AS BIGINT) AS share_tokens,
            CAST(SUM(n_tokens) OVER (PARTITION BY cluster ORDER BY score DESC, doc_id)
              AS BIGINT) AS cum_tokens
          FROM j)
      SELECT doc_id, cluster, source, n_tokens, cum_tokens, share_tokens
      FROM c WHERE cum_tokens <= share_tokens"""
  }

  /** D4-style embedding-curation capstone (q197; Tirumala et al. 2023,
    * arXiv:2308.12284 — "D4: Improving LLM Pretraining via Document
    * De-Duplication and Diversification"): the embedding-side twin of
    * the q104 pretrain chain, composing the three gated stages into one
    * curated training manifest —
    *
    *   1. SemDeDup ([[semanticDedup]], q95): drop every vector with an
    *      earlier similar cluster-mate (cosine ≥ threshold).
    *   2. Prototype prune ([[labelOutliersOn]], q122's machinery over
    *      the SURVIVORS): per-label centroids recomputed on the deduped
    *      set, the k least-prototypical per label (mislabeled / noisy /
    *      boundary points) removed.
    *   3. Cluster-balanced greedy-quality fill ([[clusterMix]]'s q109
    *      window, budget split across the clusters that SURVIVE both
    *      prunes): equal token share per latent domain.
    *
    * One row per selected document: (doc_id, cluster, source, n_tokens,
    * cum_tokens, share_tokens) — what a shard writer materializes.
    *
    * Scale shape — strictly the sum of its parts, no new exchanges: the
    * coarse index is the memoized shared build; stage 1 is the
    * cell-blocked self-join; stage 2 is one (label × dim) rollup +
    * a labels-bounded broadcast join + a WindowGroupLimit rank; stage 3
    * is ONE cluster-keyed window over the curated docs. The stage-1/2
    * survivor frames are id projections (vec_id, cell) — vectors and
    * text never co-shuffle. */
  def embedCuration(spark: SparkSession, dir: String,
      threshold: Double = SemDedupThreshold, k: Int = OutlierK,
      budgetTokens: Long = ClusterMixBudgetTokens): DataFrame = {
    // Stage 1 — SemDeDup survivors with their home cell. Checkpointed:
    // feeds the stage-2 restriction, the stage-3 join, and the cluster
    // count (id+cell rows only — kilobytes per million vectors).
    val dedup = semanticDedup(spark, dir, threshold)
      .filter(col("kept")).select("vec_id", "cell")
      .localCheckpoint()
    // Stage 2 — prune the k least-prototypical per label, centroids
    // recomputed over the survivors.
    val qSurv = quantized(spark, dir)
      .join(dedup.select("vec_id"), Seq("vec_id"), "left_semi")
    val pruned = dedup
      .join(labelOutliersOn(qSurv, k).select("vec_id"), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell").as("cluster"))
      .localCheckpoint() // feeds the fill join AND the cluster count
    // Stage 3 — q109's greedy-quality fill over the curated docs.
    val scored = TextStats.scored(
      t(spark, dir, "documents").select("doc_id", "source", "text"), Seq("source"))
    val j = pruned.join(scored, pruned("vec_id") === scored("doc_id"))
    val kc = pruned.agg(countDistinct("cluster").as("kc"))
    val win = Window.partitionBy("cluster").orderBy(col("score").desc, col("doc_id").asc)
    j.crossJoin(broadcast(kc))
      .withColumn("share_tokens", expr(s"$budgetTokens DIV kc"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(win))
      .filter(col("cum_tokens") <= col("share_tokens"))
      .select("doc_id", "cluster", "source", "n_tokens", "cum_tokens", "share_tokens")
  }

  /** q197's oracle: the q95 CTEs → survivor-restricted q122 CTEs → the
    * q109 fill, chained — each stage is its standalone oracle's SQL over
    * the previous stage's survivor set. */
  def embedCurationSql(threshold: Double = SemDedupThreshold,
      k: Int = OutlierK,
      budgetTokens: Long = ClusterMixBudgetTokens): String = {
    val (kmeans, cf) = kmeansSqlAuto()
    s"""WITH $quantCte,
      $kmeans,
      af AS (SELECT n.vec_id, n.qv, n.nrm, c.cent_id,
            row_number() OVER (PARTITION BY n.vec_id ORDER BY
              CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
              / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cent_id) AS rn
            FROM n CROSS JOIN $cf c),
      mem AS (SELECT vec_id, qv, nrm, cent_id AS cell FROM af WHERE rn = 1),
      blk AS (SELECT DISTINCT a.vec_id
            FROM mem a JOIN mem b ON a.cell = b.cell AND b.vec_id < a.vec_id
            WHERE $simSql >= $threshold),
      kept AS (SELECT m.vec_id, m.qv, m.nrm, m.cell
            FROM mem m LEFT JOIN blk b ON m.vec_id = b.vec_id
            WHERE b.vec_id IS NULL),
      kl AS (SELECT kt.vec_id, e.label, kt.qv, kt.nrm, kt.cell
            FROM kept kt JOIN embeddings e USING (vec_id)),
      mm AS (SELECT label, unnest(range(1, len(qv) + 1)) AS pos, unnest(qv) AS x FROM kl),
      ss AS (SELECT label, pos, SUM(x) AS s, COUNT(*) AS cnt FROM mm GROUP BY 1, 2),
      cc AS (SELECT label, list(s // cnt ORDER BY pos) AS cv FROM ss GROUP BY label),
      cn2 AS (SELECT label, cv, list_sum(list_transform(cv, x -> x * x)) AS nc FROM cc),
      sc2 AS (SELECT kl.vec_id, kl.label, kl.cell,
            CAST(list_sum(list_transform(range(1, len(kl.qv) + 1),
              i -> kl.qv[i] * cn2.cv[i])) AS DOUBLE)
              / (sqrt(CAST(kl.nrm AS DOUBLE)) * sqrt(CAST(cn2.nc AS DOUBLE))) AS sim
          FROM kl JOIN cn2 USING (label)),
      rk AS (SELECT vec_id, cell,
            row_number() OVER (PARTITION BY label ORDER BY sim ASC, vec_id ASC) AS rank
          FROM sc2),
      pruned AS (SELECT vec_id, cell AS cluster FROM rk WHERE rank > $k),
      base AS (SELECT doc_id, source, ${TextStats.scoreSignalsDuck} FROM documents),
      scored AS (SELECT doc_id, source, n_tokens, ${TextStats.scoreExprDuck} AS score
          FROM base),
      jj AS (SELECT p.cluster, d.* FROM pruned p JOIN scored d ON d.doc_id = p.vec_id),
      kc AS (SELECT count(DISTINCT cluster) AS kc FROM pruned),
      cw AS (SELECT doc_id, cluster, source, n_tokens,
            CAST($budgetTokens // (SELECT kc FROM kc) AS BIGINT) AS share_tokens,
            CAST(SUM(n_tokens) OVER (PARTITION BY cluster ORDER BY score DESC, doc_id)
              AS BIGINT) AS cum_tokens
          FROM jj)
      SELECT doc_id, cluster, source, n_tokens, cum_tokens, share_tokens
      FROM cw WHERE cum_tokens <= share_tokens"""
  }

  def clusterProfileSql(nCents: Int = -1, iters: Int = KmeansIters): String = {
    val (kmeans, cf) =
      if (nCents > 0) kmeansSql(nCents, iters) else kmeansSqlAuto(iters)
    s"""WITH $quantCte,
      $kmeans,
      af AS (SELECT n.vec_id, c.cent_id,
            row_number() OVER (PARTITION BY n.vec_id ORDER BY
              CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
              / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cent_id) AS rn
            FROM n CROSS JOIN $cf c),
      mem AS (SELECT vec_id, cent_id AS cluster FROM af WHERE rn = 1),
      base AS (SELECT doc_id, source, ${TextStats.scoreSignalsDuck}, ${TextStats.sumLenDuck}
            FROM documents),
      sig AS (SELECT *, CAST(floor((${TextStats.scoreExprDuck}) * 1000000.0) AS BIGINT) AS q_micro
            FROM base),
      j AS (SELECT m.cluster, d.* FROM mem m JOIN sig d ON d.doc_id = m.vec_id),
      prof AS (SELECT cluster, count(*) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
            CAST(count_if(${TextStats.QualityPassCond}) AS BIGINT) AS n_pass,
            CAST(sum(q_micro) AS BIGINT) AS q_micro_sum,
            CAST(CAST(sum(q_micro) AS BIGINT) AS DOUBLE)
              / (count(*) * 1000000) AS avg_quality
          FROM j GROUP BY cluster),
      srcs AS (SELECT cluster, source, count(*) AS cnt FROM j GROUP BY 1, 2),
      tops AS (SELECT cluster, source AS top_source, cnt AS top_source_docs,
            row_number() OVER (PARTITION BY cluster ORDER BY cnt DESC, source) AS rn
          FROM srcs)
      SELECT p.*, t.top_source, t.top_source_docs
      FROM prof p JOIN tops t ON p.cluster = t.cluster AND t.rn = 1"""
  }

  /** The persisted-index family's shared oracle substrate: CTEs through
    * `p` — the directed scored cell pairs (vec_id, neighbor_id, sim),
    * the DuckDB twin of [[ivfScoredPairs]]. q47/q129 rank it; q153
    * canonicalizes + audits it; q154 takes mutual top-1; q155 mines
    * triplets within it. */
  private lazy val ivfPairCtes: String = ivfPairCtesWithCap(None)

  /** [[ivfPairCtes]] with the q296 member cap injected between the
    * home-cell members and the probe join: the same md5-draw window the
    * Scala side ranks with ([[capMembersByCell]]). */
  private def ivfPairCtesWithCap(cap: Option[Int]): String = {
    val (kmeans, cf) = kmeansSqlAuto()
    val memCte = cap match {
      case None =>
        s"mem AS (SELECT vec_id, qv, nrm, cent_id AS cell FROM af WHERE rn = 1)"
      case Some(c) =>
        s"""mem0 AS (SELECT vec_id, qv, nrm, cent_id AS cell FROM af WHERE rn = 1),
    mem AS (SELECT vec_id, qv, nrm, cell FROM (
          SELECT m.*, row_number() OVER (PARTITION BY cell
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS mrn FROM mem0 m)
        WHERE mrn <= $c)"""
    }
    s"""$quantCte,
    $kmeans,
    af AS (SELECT n.vec_id, n.qv, n.nrm, c.cent_id,
          row_number() OVER (PARTITION BY n.vec_id ORDER BY
            CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
            / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cent_id) AS rn
          FROM n CROSS JOIN $cf c),
    $memCte,
    pr AS (SELECT vec_id, qv, nrm, cent_id AS cell FROM af WHERE rn <= $IvfNprobe),
    p AS (SELECT a.vec_id, b.vec_id AS neighbor_id, $simSql AS sim
          FROM pr a JOIN mem b ON a.cell = b.cell AND a.vec_id <> b.vec_id)"""
  }

  /** q170's oracle: centroids trained on the EVEN-id half only (the
    * incremental base — same init cut and derived k, over that half),
    * then EVERY vector assigned against those frozen centroids — the
    * append-without-retrain semantics, computed from scratch. */
  private lazy val knnIvfIncrementalSql: String = {
    val kHalf = s"(SELECT GREATEST($IvfCentroids, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) FROM nb)"
    val (kmeans, cf) = kmeansSqlFor("nb", "b", kHalf, KmeansIters)
    s"""WITH $quantCte,
    nb AS (SELECT * FROM n WHERE vec_id % 2 = 0),
    $kmeans,
    af AS (SELECT n.vec_id, n.qv, n.nrm, c.cent_id,
          row_number() OVER (PARTITION BY n.vec_id ORDER BY
            CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
            / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cent_id) AS rn
          FROM n CROSS JOIN $cf c),
    mem AS (SELECT vec_id, qv, nrm, cent_id AS cell FROM af WHERE rn = 1),
    pr AS (SELECT vec_id, qv, nrm, cent_id AS cell FROM af WHERE rn <= $IvfNprobe),
    p AS (SELECT a.vec_id, b.vec_id AS neighbor_id, $simSql AS sim
          FROM pr a JOIN mem b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
    r AS (SELECT vec_id, neighbor_id, sim,
          row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank FROM p)
    SELECT vec_id, rank, neighbor_id, sim FROM r WHERE rank <= 3"""
  }

  /** q306's oracle (r12): the STREAMED capped index from scratch —
    * centroids trained on the even half (the persisted base), EVERY
    * vector assigned against them (appends assign per-vector against
    * the frozen centroids, so base ∪ appends == assign-all), then the
    * md5-draw member cap over the UNION's members and the top-3 rank.
    * The engine side routes through [[graft.streaming.IndexStream.knn]]
    * with a cap, i.e. the capped quadrant split
    * ([[ivfScoredPairsSplitCapped]]) whenever the appends fit the
    * broadcast gate — the oracle hash is what pins the rank
    * decomposition to union-cap semantics. */
  private lazy val knnStreamedCappedSql: String = {
    val kHalf = s"(SELECT GREATEST($IvfCentroids, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) FROM nb)"
    val (kmeans, cf) = kmeansSqlFor("nb", "b", kHalf, KmeansIters)
    s"""WITH $quantCte,
    nb AS (SELECT * FROM n WHERE vec_id % 2 = 0),
    $kmeans,
    af AS (SELECT n.vec_id, n.qv, n.nrm, c.cent_id,
          row_number() OVER (PARTITION BY n.vec_id ORDER BY
            CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
            / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cent_id) AS rn
          FROM n CROSS JOIN $cf c),
    mem0 AS (SELECT vec_id, qv, nrm, cent_id AS cell FROM af WHERE rn = 1),
    mem AS (SELECT vec_id, qv, nrm, cell FROM (
          SELECT m.*, row_number() OVER (PARTITION BY cell
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS mrn FROM mem0 m)
        WHERE mrn <= $IvfMemberCap),
    pr AS (SELECT vec_id, qv, nrm, cent_id AS cell FROM af WHERE rn <= $IvfNprobe),
    p AS (SELECT a.vec_id, b.vec_id AS neighbor_id, $simSql AS sim
          FROM pr a JOIN mem b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
    r AS (SELECT vec_id, neighbor_id, sim,
          row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank FROM p)
    SELECT vec_id, rank, neighbor_id, sim FROM r WHERE rank <= 3"""
  }

  /** q310's oracle (r13): the retrain advisor read off the STREAMED
    * live view — even-half-trained centroids (the split fixture's
    * base), EVERY vector assigned against them (base ∪ appends ==
    * assign-all, the q306 invariant), then q171's cells/summary rollup
    * reduced to q308's one-row verdict. This is the number
    * [[graft.streaming.IndexStream.maintain]] acts on: drift lives in
    * the appends, so the base-only advisor would under-read it. */
  private lazy val streamedAdvisorSql: String = {
    val kHalf = s"(SELECT GREATEST($IvfCentroids, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) FROM nb)"
    val (kmeans, cf) = kmeansSqlFor("nb", "b", kHalf, KmeansIters)
    s"""WITH $quantCte,
    nb AS (SELECT * FROM n WHERE vec_id % 2 = 0),
    $kmeans,
    af AS (SELECT n.vec_id, c.cent_id,
          row_number() OVER (PARTITION BY n.vec_id ORDER BY
            CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
            / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cent_id) AS rn
          FROM n CROSS JOIN $cf c),
    cells AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n_vecs
              FROM af WHERE rn = 1 GROUP BY cent_id),
    s AS (SELECT CAST(max(n_vecs) AS BIGINT) AS max_vecs,
            CAST(sum(n_vecs) AS BIGINT) AS n_total,
            CAST(count(*) AS BIGINT) AS n_cells FROM cells)
    SELECT n_total AS n_vecs, n_cells,
      CAST(max_vecs AS DOUBLE) * CAST(n_cells AS DOUBLE) / CAST(n_total AS DOUBLE) AS skew,
      (CAST(max_vecs AS DOUBLE) * CAST(n_cells AS DOUBLE) / CAST(n_total AS DOUBLE))
        > $RetrainSkewThreshold AS retrain
    FROM s"""
  }

  /** Bench-warmup fixture resolution (r13 — VERDICT ask 5): build every
    * memoized per-corpus artifact this module's queries consume, so a
    * timed iteration measures the QUERY, not a first-touch fixture
    * build (q306's paired-bench number was ~2.5 s with the split-index
    * build inside the timing; production pays that once per corpus
    * version, so the bench should too — in warmup). */
  private[graft] def prebuildFixtures(spark: SparkSession, dir: String): Unit = {
    persistedIvfIndexDir(spark, dir)
    streamedSplitIndexDir(spark, dir)
    recallTruth(spark, dir, 3, 50L) // Memo build is eager at the call
    ()
  }

  /** q306's split-index fixture, built once per (JVM, corpus version)
    * like [[persistedIvfIndexDir]]: base index trained on the even-id
    * half, the odd half's assignment rows as one streamed appends
    * batch — the layout [[graft.streaming.IndexStream.appendStream]]
    * writes, without a stream. Memoized in-JVM AND guarded by the same
    * cross-JVM fingerprint/lock protocol as the persisted index (a
    * second session adopts the finished fixture instead of rebuilding
    * it out from under the first session's readers). */
  private val streamIdxCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def streamedSplitIndexDir(spark: SparkSession,
      dir: String): String = {
    val idx = s"${System.getProperty("java.io.tmpdir")}/graft-ivf-stream-" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_")
    streamIdxCache.getOrElseUpdate(s"${cacheKeyDir(spark, dir)}->$idx", {
      val fs = FsUtil.fsOf(spark, new org.apache.hadoop.fs.Path(idx))
      sharedArtifact(spark, dir, idx)(
        bucketMarker(spark, s"$idx/assignments").nonEmpty &&
          fs.exists(new org.apache.hadoop.fs.Path(s"$idx/appends/batch_id=0"))) {
        val q = quantized(spark, dir).select("vec_id", "qv", "nrm")
          .localCheckpoint()
        saveIvfIndexOn(spark, q.filter(expr("vec_id % 2 = 0")), idx)
        val cents = ParquetTables.read(spark, s"$idx/centroids")
        assignCells(q.filter(expr("vec_id % 2 = 1")), cents, IvfNprobe)
          .write.mode("overwrite").parquet(s"$idx/appends/batch_id=0")
      }
      idx
    })
  }

  /** q296's oracle: q47's chain with the md5-draw member cap. */
  private def knnIvfCappedOracleSql(cap: Int): String =
    s"""WITH ${ivfPairCtesWithCap(Some(cap))},
    r AS (SELECT vec_id, neighbor_id, sim,
          row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank FROM p)
    SELECT vec_id, rank, neighbor_id, sim FROM r WHERE rank <= 3"""

  /** q47's exact oracle — shared verbatim by q129 (the persisted index
    * must answer identically to the freshly built one). */
  private lazy val knnIvfOracleSql: String =
    s"""WITH $ivfPairCtes,
    r AS (SELECT vec_id, neighbor_id, sim,
          row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank FROM p)
    SELECT vec_id, rank, neighbor_id, sim FROM r WHERE rank <= 3"""

  /** q153: the rp-distortion audit fed by IVF candidates instead of the
    * brute O(n²) sweep — the composition SCALE.md prescribed. */
  private lazy val rpDistortionIvfSql: String =
    s"""WITH $ivfPairCtes,
    pairs AS (SELECT DISTINCT least(vec_id, neighbor_id) AS id_a,
          greatest(vec_id, neighbor_id) AS id_b, sim
        FROM p WHERE sim >= 0.4),
    $rpDistortionTailSql"""

  /** q154: mutual top-1 within the IVF candidates. */
  private lazy val mutualTop1IvfSql: String =
    s"""WITH $ivfPairCtes,
    r AS (SELECT vec_id, neighbor_id, sim,
          row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank FROM p),
    t1 AS (SELECT vec_id, neighbor_id, sim FROM r WHERE rank = 1)
    SELECT x.vec_id AS id_a, x.neighbor_id AS id_b, x.sim AS sim
    FROM t1 x JOIN t1 y ON x.vec_id = y.neighbor_id AND x.neighbor_id = y.vec_id
    WHERE x.vec_id < x.neighbor_id"""

  /** q155: hardest positive/negative per anchor within the IVF
    * candidates. */
  private lazy val hardTripletsIvfSql: String =
    s"""WITH $ivfPairCtes,
    l AS (SELECT vec_id, label FROM embeddings),
    pp AS (SELECT p.vec_id AS id_a, p.neighbor_id AS id_b, p.sim,
          CASE WHEN la.label = lb.label THEN 'pos' ELSE 'neg' END AS grp
        FROM p JOIN l la ON la.vec_id = p.vec_id
               JOIN l lb ON lb.vec_id = p.neighbor_id),
    rr AS (SELECT id_a, id_b, sim, grp,
          row_number() OVER (PARTITION BY id_a, grp ORDER BY sim DESC, id_b) AS rn
        FROM pp)
    SELECT id_a AS vec_id,
      max(CASE WHEN grp = 'pos' THEN id_b END) AS pos_id,
      max(CASE WHEN grp = 'pos' THEN sim END) AS pos_sim,
      max(CASE WHEN grp = 'neg' THEN id_b END) AS neg_id,
      max(CASE WHEN grp = 'neg' THEN sim END) AS neg_sim,
      max(CASE WHEN grp = 'pos' THEN sim END)
        - max(CASE WHEN grp = 'neg' THEN sim END) AS margin
    FROM rr WHERE rn = 1 GROUP BY id_a"""

  /** Encoder-version embedding drift audit (q256): per label, the
    * centroid displacement and mean-norm shift between two embedding
    * versions of the SAME corpus — the vector-side completion of the
    * corpus-diff family (q164/q184/q190/q191 diff TEXT between
    * versions; this diffs the GEOMETRY an encoder bump moved under a
    * frozen index) and the retrain signal that pairs with q171's
    * occupancy drift and q206's PQ error: a label whose centroid moved
    * is a label whose IVF cells and PQ codebooks no longer fit.
    *
    * v2 derivation (the q164 injection discipline — the derivation
    * lives in the QUERY; library callers pass two real embedding
    * tables): a deterministic per-dimension shift of (3+label)·1000
    * quantized units on every 4th dimension — a label-dependent
    * translation, so the audit's output differentiates labels exactly.
    *
    * Determinism: qv is the exact quantized BIGINT vector; per-(label,
    * dim) sums are exact; Σ(s2−s1)² is DECIMAL-widened BEFORE summing;
    * displacement = floor(sqrt(Σds²)/n) and per-vec norms
    * floor(sqrt(nrm)) are single IEEE ops on identical exact operands;
    * means are integral divisions.
    *
    * Scale shape: ONE vector scan (checkpointed 2-version projection);
    * the (label × dim)-keyed rollup is the only vector-volume exchange
    * (map-side combined, output labels·dim rows); norms roll up per
    * label off the same frame; output is label-cardinality. No joins
    * over vectors, no windows, no pairs. */
  def embeddingVersionDrift(spark: SparkSession, dir: String): DataFrame = {
    val q = quantized(spark, dir)
      .withColumn("qv2", expr(
        "transform(qv, (x, i) -> x + CASE WHEN (i + 1) % 4 = 1 THEN CAST((3 + label) * 1000 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"))
      .withColumn("nrm2", quantizedDot(col("qv2"), col("qv2")))
      .localCheckpoint() // feeds the dim rollup AND the norm rollup
    val disp = q
      .select(col("label"), posexplode(arrays_zip(col("qv"), col("qv2"))))
      .groupBy(col("label"), col("pos").as("d"))
      .agg(sum(expr("col.qv")).as("s1"), sum(expr("col.qv2")).as("s2"))
      .groupBy("label")
      .agg(sum(expr("CAST(s2 - s1 AS DECIMAL(38,0)) * (s2 - s1)")).as("ssq"))
    val norms = q.groupBy("label").agg(
      count(lit(1)).as("n_vecs"),
      sum(expr("CAST(floor(sqrt(CAST(nrm AS DOUBLE))) AS DECIMAL(38,0))")).as("sn1"),
      sum(expr("CAST(floor(sqrt(CAST(nrm2 AS DOUBLE))) AS DECIMAL(38,0))")).as("sn2"))
    norms.join(disp, "label")
      .withColumn("disp_micro",
        expr("CAST(floor(sqrt(CAST(ssq AS DOUBLE)) / n_vecs) AS BIGINT)"))
      .withColumn("mean_norm1_micro", expr("CAST(sn1 div n_vecs AS BIGINT)"))
      .withColumn("mean_norm2_micro", expr("CAST(sn2 div n_vecs AS BIGINT)"))
      .withColumn("norm_shift_micro",
        col("mean_norm2_micro") - col("mean_norm1_micro"))
      .select("label", "n_vecs", "disp_micro", "mean_norm1_micro",
        "mean_norm2_micro", "norm_shift_micro")
  }

  val embeddingVersionDriftSql: String =
    s"""WITH q AS (SELECT vec_id, label, $quantSql AS qv FROM embeddings),
      v AS (SELECT vec_id, label, qv,
            list_transform(range(1, len(qv) + 1),
              i -> qv[i] + CASE WHEN i % 4 = 1 THEN (3 + label) * 1000 ELSE 0 END) AS qv2
          FROM q),
      nr AS (SELECT label,
            CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm,
            CAST(list_sum(list_transform(qv2, x -> x * x)) AS BIGINT) AS nrm2
          FROM v),
      norms AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
            SUM(CAST(floor(sqrt(CAST(nrm AS DOUBLE))) AS HUGEINT)) AS sn1,
            SUM(CAST(floor(sqrt(CAST(nrm2 AS DOUBLE))) AS HUGEINT)) AS sn2
          FROM nr GROUP BY 1),
      dims AS (SELECT label, i AS d,
            CAST(SUM(qv[i]) AS BIGINT) AS s1, CAST(SUM(qv2[i]) AS BIGINT) AS s2
          FROM (SELECT label, qv, qv2, unnest(range(1, len(qv) + 1)) AS i FROM v)
          GROUP BY 1, 2),
      disp AS (SELECT label, SUM(CAST(s2 - s1 AS HUGEINT) * (s2 - s1)) AS ssq
          FROM dims GROUP BY 1)
      SELECT norms.label, norms.n_vecs,
        CAST(floor(sqrt(CAST(ssq AS DOUBLE)) / n_vecs) AS BIGINT) AS disp_micro,
        CAST(sn1 // n_vecs AS BIGINT) AS mean_norm1_micro,
        CAST(sn2 // n_vecs AS BIGINT) AS mean_norm2_micro,
        CAST(sn2 // n_vecs AS BIGINT) - CAST(sn1 // n_vecs AS BIGINT)
          AS norm_shift_micro
      FROM norms JOIN disp USING (label)"""

  // -------------------------------------------------------------------
  // q265: semantic packing (in-context-pretraining sequence composition)
  // -------------------------------------------------------------------

  /** Sequence token budget for [[semanticPacking]]. */
  val SemPackCapacity = 2048L

  /** q265: semantic packing card — compose training sequences from
    * RELATED documents instead of random ones (the in-context
    * pretraining recipe: packing a sequence from one topic teaches
    * cross-document reasoning; random packing teaches separator
    * tokens). Documents are grouped by their IVF home cell, ordered
    * within the cell by similarity-to-centroid (a deterministic
    * semantic chain both engines reproduce), and packed greedily into
    * capacity-C bins; the card reports, per cell, the bins consumed
    * and the exact mean adjacent-pair cosine of the chain (micro
    * fixed-point) — the coherence a random packer would destroy.
    *
    * Scale shape: rides the memoized coarse index (train once per
    * corpus version); ONE cell-keyed exchange for the window (linear
    * in corpus size — the vector payload moves once); output is
    * cell-cardinality. */
  def semanticPacking(spark: SparkSession, dir: String,
      capacity: Long = SemPackCapacity): DataFrame = {
    val (q, cents, _) = coarseIndex(spark, dir)
    val home = assignCells(q, cents, 1)
      .join(broadcast(cents), "cent_id")
      .withColumn("csim", cosine(
        quantizedDot(col("qv"), col("cqv")).cast("double"), col("nrm"), col("cnrm")))
      .select("cent_id", "vec_id", "qv", "nrm", "csim")
    val toks = t(spark, dir, "documents")
      .select(col("doc_id").as("vec_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cent_id").orderBy(col("csim").desc, col("vec_id"))
    val wCum = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    home.join(toks, "vec_id")
      .withColumn("cum", sum(col("n_tok")).over(wCum))
      .withColumn("bin", expr(s"(cum - n_tok) div $capacity"))
      .withColumn("prev_qv", lag("qv", 1).over(w))
      .withColumn("prev_nrm", lag("nrm", 1).over(w))
      .withColumn("adj_cos_micro", when(col("prev_qv").isNotNull,
        cosMicro("qv", "prev_qv", "nrm", "prev_nrm")))
      .groupBy("cent_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        (max(col("bin")) + 1).as("n_bins"),
        count(col("adj_cos_micro")).as("n_adj"),
        sum("adj_cos_micro").as("adj_sum"))
      .withColumn("mean_adj_cos_micro",
        expr("CASE WHEN n_adj = 0 THEN 0 ELSE adj_sum div n_adj END"))
      .drop("adj_sum")
  }

  lazy val semanticPackingSql: String = {
    val (kmeans, cf) = kmeansSqlAuto()
    s"""WITH $quantCte,
      $kmeans,
      af AS (SELECT n.vec_id, n.qv, n.nrm, c.cent_id,
            CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
              / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) AS csim,
            row_number() OVER (PARTITION BY n.vec_id ORDER BY
              CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
              / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cent_id) AS rn
          FROM n CROSS JOIN $cf c),
      home AS (SELECT vec_id, qv, nrm, cent_id, csim FROM af WHERE rn = 1),
      tok AS (SELECT doc_id AS vec_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
      chain AS (SELECT h.cent_id, h.vec_id, h.n_tok_cum AS cum, h.n_tok,
            CASE WHEN prev_qv IS NULL THEN NULL
              ELSE CAST(floor(CAST(list_sum(list_transform(range(1, len(qv) + 1),
                  i -> qv[i] * prev_qv[i])) AS DOUBLE)
                / (sqrt(CAST(nrm AS DOUBLE)) * sqrt(CAST(prev_nrm AS DOUBLE)))
                * 1000000) AS BIGINT) END AS adj_cos_micro
          FROM (SELECT h.cent_id, h.vec_id, h.qv, h.nrm, t.n_tok,
                SUM(t.n_tok) OVER w AS n_tok_cum,
                lag(h.qv) OVER w AS prev_qv, lag(h.nrm) OVER w AS prev_nrm
              FROM home h JOIN tok t USING (vec_id)
              WINDOW w AS (PARTITION BY h.cent_id ORDER BY h.csim DESC, h.vec_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) h)
      SELECT cent_id, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        CAST(MAX((cum - n_tok) // $SemPackCapacity) + 1 AS BIGINT) AS n_bins,
        CAST(count(adj_cos_micro) AS BIGINT) AS n_adj,
        CAST(CASE WHEN count(adj_cos_micro) = 0 THEN 0
             ELSE SUM(adj_cos_micro) // count(adj_cos_micro) END AS BIGINT)
          AS mean_adj_cos_micro
      FROM chain GROUP BY cent_id"""
  }

  // -------------------------------------------------------------------
  // q271: cross-modal alignment audit
  // -------------------------------------------------------------------

  /** Alignment flag threshold (micro cosine). */
  val AlignFlagMicro = 500000L

  /** q271: cross-modal alignment audit — per label: the exact mean
    * cosine between each item's two modality embeddings (text vs the
    * derived "image side") and the count of misaligned pairs below
    * [[AlignFlagMicro]]. The CLIP-pipeline screen: a caption whose
    * image embedding points elsewhere is a mislabeled pair that
    * poisons contrastive training. The second modality is derived (the
    * q256 discipline): a small label-keyed perturbation for aligned
    * rows, and a NEGATED vector (cosine exactly −1) planted on
    * vec_id % 37 = 5 — the flags must recover exactly that set.
    *
    * Scale shape: per-row cosine is a stateless zip-dot above the scan
    * (floored to micro, so sums are exact integers); ONE label rollup;
    * output is label-cardinality. */
  def crossModalAlignment(spark: SparkSession, dir: String): DataFrame =
    quantized(spark, dir)
      .withColumn("qv2", expr(
        """CASE WHEN vec_id % 37 = 5 THEN transform(qv, x -> -x)
             ELSE transform(qv, (x, i) -> x + CASE WHEN (i + 1) % 4 = 1
               THEN CAST((3 + label) * 1000 AS BIGINT) ELSE 0L END) END"""))
      .withColumn("nrm2", quantizedDot(col("qv2"), col("qv2")))
      .withColumn("align_micro", cosMicro("qv", "qv2", "nrm", "nrm2"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_pairs"),
        sum("align_micro").as("align_sum"),
        expr(s"CAST(count_if(align_micro < $AlignFlagMicro) AS BIGINT)")
          .as("n_flagged"),
        min("align_micro").as("min_align_micro"))
      .withColumn("mean_align_micro", expr("align_sum div n_pairs"))
      .drop("align_sum")

  val crossModalAlignmentSql: String =
    s"""WITH q AS (SELECT vec_id, label, $quantSql AS qv FROM embeddings),
      v AS (SELECT vec_id, label, qv,
            CASE WHEN vec_id % 37 = 5 THEN list_transform(qv, x -> -x)
              ELSE list_transform(range(1, len(qv) + 1),
                i -> qv[i] + CASE WHEN i % 4 = 1
                  THEN (3 + label) * 1000 ELSE 0 END) END AS qv2
          FROM q),
      a AS (SELECT label,
            CAST(floor(CAST(list_sum(list_transform(range(1, len(qv) + 1),
                i -> qv[i] * qv2[i])) AS DOUBLE)
              / (sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE))
                 * sqrt(CAST(list_sum(list_transform(qv2, x -> x * x)) AS DOUBLE)))
              * 1000000) AS BIGINT) AS align_micro
          FROM v)
      SELECT label, CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(count(*) FILTER (WHERE align_micro < $AlignFlagMicro) AS BIGINT)
          AS n_flagged,
        CAST(MIN(align_micro) AS BIGINT) AS min_align_micro,
        CAST(SUM(align_micro) // count(*) AS BIGINT) AS mean_align_micro
      FROM a GROUP BY label"""

  val queries: Seq[QueryDef] = Seq(
    QueryDef("q271_cross_modal_alignment",
      (s, d) => crossModalAlignment(s, d),
      Some(crossModalAlignmentSql), Tuning.cpuBound),

    // The driver's pandas compare can't sort ARRAY columns, so the query
    // projects the centroid through array_join; labelCentroids keeps the
    // array-typed API for library callers.
    QueryDef("q61_label_centroids",
      (s, d) => labelCentroids(s, d)
        .withColumn("centroid", expr("array_join(CAST(centroid AS ARRAY<STRING>), ',')")),
      Some("""WITH q AS (SELECT label, list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv FROM embeddings),
        m AS (SELECT label, unnest(range(1, len(qv) + 1)) AS pos, unnest(qv) AS x FROM q),
        s AS (SELECT label, pos, SUM(x) AS s, COUNT(*) AS cnt FROM m GROUP BY 1, 2)
        SELECT label, array_to_string(list(s // cnt ORDER BY pos), ',') AS centroid,
          max(cnt) AS n_vecs
        FROM s GROUP BY label"""), Tuning.cpuBound),

    QueryDef("q122_label_outliers",
      (s, d) => labelOutliers(s, d),
      Some(labelOutliersSql()), Tuning.cpuBound),

    QueryDef("q196_label_silhouette",
      (s, d) => labelSilhouette(s, d),
      Some(labelSilhouetteSql), Tuning.cpuBound),

    QueryDef("q286_label_confusion",
      (s, d) => labelConfusion(s, d),
      Some(labelConfusionSql), Tuning.cpuBound),

    QueryDef("q44_embed_near_dup",
      (s, d) => nearDupPairs(s, d, 0.4),
      Some(s"""WITH $quantCte
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, $simSql AS sim
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE $simSql >= 0.4"""), Tuning.cpuBound),

    QueryDef("q45_knn_brute",
      (s, d) => knnBrute(s, d, 5),
      Some(s"""WITH $quantCte,
        p AS (SELECT a.vec_id, b.vec_id AS neighbor_id, $simSql AS sim
              FROM n a JOIN n b ON a.vec_id <> b.vec_id),
        r AS (SELECT vec_id, neighbor_id, sim,
              row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank FROM p)
        SELECT vec_id, rank, neighbor_id, sim FROM r WHERE rank <= 5"""), Tuning.cpuBound),

    QueryDef("q136_semantic_decontaminate",
      (s, d) => semanticDecontaminate(s, d, 0.4),
      Some(semanticDecontaminateSql(0.4)), Tuning.cpuBound),

    QueryDef("q138_hard_triplets",
      (s, d) => hardTriplets(s, d),
      Some(hardTripletsSql), Tuning.cpuBound),

    QueryDef("q142_rp_distortion",
      (s, d) => rpDistortion(s, d),
      Some(rpDistortionSql), Tuning.cpuBound),

    QueryDef("q143_embed_dim_stats",
      (s, d) => embedDimStats(s, d),
      Some(embedDimStatsSql), Tuning.cpuBound),

    QueryDef("q133_mutual_top1",
      (s, d) => mutualTop1(knnBrute(s, d, 1)),
      Some(s"""WITH $quantCte,
        p AS (SELECT a.vec_id, b.vec_id AS neighbor_id, $simSql AS sim
              FROM n a JOIN n b ON a.vec_id <> b.vec_id),
        r AS (SELECT vec_id, neighbor_id, sim,
              row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank FROM p),
        t1 AS (SELECT vec_id, neighbor_id, sim FROM r WHERE rank = 1)
        SELECT x.vec_id AS id_a, x.neighbor_id AS id_b, x.sim AS sim
        FROM t1 x JOIN t1 y ON x.vec_id = y.neighbor_id AND x.neighbor_id = y.vec_id
        WHERE x.vec_id < x.neighbor_id"""), Tuning.cpuBound),

    QueryDef("q46_knn_lsh",
      (s, d) => knnLsh(s, d, 3),
      Some(s"""WITH $quantCte,
        keys AS (SELECT vec_id, unnest($lshKeysSql) AS bkey FROM n),
        cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
              FROM keys x JOIN keys y ON x.bkey = y.bkey AND x.vec_id < y.vec_id),
        p AS (SELECT c.id_a, c.id_b, $simSql AS sim
              FROM cand c JOIN n a ON a.vec_id = c.id_a JOIN n b ON b.vec_id = c.id_b),
        d AS (SELECT id_a AS vec_id, id_b AS neighbor_id, sim FROM p
              UNION ALL SELECT id_b, id_a, sim FROM p),
        r AS (SELECT vec_id, neighbor_id, sim,
              row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank FROM d)
        SELECT vec_id, rank, neighbor_id, sim FROM r WHERE rank <= 3"""), Tuning.cpuBound),

    QueryDef("q47_knn_ivf",
      (s, d) => knnIvf(s, d, 3),
      Some(knnIvfOracleSql), Tuning.cpuBound),

    // the persisted index round-trips through parquet and MUST return the
    // exact same answer — gated against q47's identical oracle. The
    // build is memoized on the corpus content fingerprint
    // (persistedIvfIndexDir), so q129/q153/q154/q155 share ONE
    // train+assign per corpus version.
    QueryDef("q129_knn_ivf_persisted",
      // routed through its TVF form (r12 — the q281 discipline): a SQL
      // session queries the shared persisted index by path
      (s, d) => s.sql(
        s"SELECT * FROM knn_ivf_persisted('${persistedIvfIndexDir(s, d)}', 3)"),
      Some(knnIvfOracleSql), Tuning.cpuBound),

    // the q125 discipline applied to the embedding family (VERDICT r6
    // ask #2): the three brute-pair audits re-composed over the
    // persisted IVF candidates, each a first-class gated query whose
    // oracle computes the SAME candidate restriction in DuckDB.
    QueryDef("q153_rp_distortion_ivf",
      (s, d) => rpDistortionOn(s, d,
        ivfNearDupPairs(s, persistedIvfIndexDir(s, d), 0.4)),
      Some(rpDistortionIvfSql), Tuning.cpuBound),

    QueryDef("q154_mutual_top1_ivf",
      (s, d) => mutualTop1(knnIvfPersisted(s, persistedIvfIndexDir(s, d), 1)),
      Some(mutualTop1IvfSql), Tuning.cpuBound),

    QueryDef("q155_hard_triplets_ivf",
      (s, d) => hardTripletsOn(s, d,
        ivfScoredPairs(s, persistedIvfIndexDir(s, d))),
      Some(hardTripletsIvfSql), Tuning.cpuBound),

    QueryDef("q161_mmr_rerank",
      (s, d) => mmrRerank(s, d),
      Some(mmrRerankSql()), Tuning.cpuBound),

    QueryDef("q171_ivf_cell_occupancy",
      (s, d) => ivfCellOccupancy(s, persistedIvfIndexDir(s, d)),
      Some(ivfCellOccupancySql)),

    // r12: q171's summary reduced to the maintenance cron's decision —
    // the boolean IndexStream.retrain acts on.
    QueryDef("q308_retrain_advisor",
      (s, d) => retrainAdvisor(s, persistedIvfIndexDir(s, d)),
      Some(retrainAdvisorSql)),

    QueryDef("q174_contrastive_pairs",
      (s, d) => contrastivePairs(s, d),
      Some(contrastivePairsSql), Tuning.cpuBound),

    // incremental maintenance round-trip: build on the even half, append
    // the odd half with the centroids FROZEN, query the result — must
    // equal assigning the union against the half-trained centroids
    QueryDef("q170_ivf_incremental",
      (s, d) => {
        val q = quantized(s, d).select("vec_id", "qv", "nrm").localCheckpoint()
        val idx = s"${System.getProperty("java.io.tmpdir")}/graft-ivf-incr-" +
          d.replaceAll("[^A-Za-z0-9._-]", "_")
        saveIvfIndexOn(s, q.filter(expr("vec_id % 2 = 0")), idx)
        appendToIvfIndex(s, idx, q.filter(expr("vec_id % 2 = 1")))
        knnIvfPersisted(s, idx, 3)
      },
      Some(knnIvfIncrementalSql), Tuning.cpuBound),

    QueryDef("q206_pq_reconstruction",
      (s, d) => pqReconstructionAudit(s, d),
      Some(pqReconstructionAuditSql), Tuning.cpuBound),

    QueryDef("q215_davies_bouldin",
      (s, d) => daviesBouldin(s, d),
      Some(daviesBouldinSql), Tuning.cpuBound),

    QueryDef("q222_embedding_norm_audit",
      (s, d) => embeddingNormAudit(s, d),
      Some(embeddingNormAuditSql), Tuning.cpuBound),

    QueryDef("q265_semantic_packing",
      (s, d) => semanticPacking(s, d),
      Some(semanticPackingSql), Tuning.cpuBound),

    QueryDef("q256_embedding_version_drift",
      (s, d) => embeddingVersionDrift(s, d),
      Some(embeddingVersionDriftSql), Tuning.cpuBound),
    QueryDef("q243_ivf_recall_curve",
      (s, d) => ivfRecallCurve(s, d),
      Some(ivfRecallCurveSql()), Tuning.cpuBound),

    QueryDef("q66_knn_ivf_pq",
      (s, d) => knnIvfPq(s, d, 3),
      Some(knnIvfPqOracleSql(None)), Tuning.cpuBound),

    // capped-probe twins (SCALE.md lesson 4 answered in code): the same
    // trained indexes with the per-cell md5-draw member cap — candidate
    // volume nprobe·n·cap, the form that completes the 1000x campaign
    // on one box. Gated at a cap that BITES at every SF; q298 prices
    // the recall the cap costs on q243's own truth axis.
    QueryDef("q296_knn_ivf_capped",
      (s, d) => knnIvfCapped(s, d, 3),
      Some(knnIvfCappedOracleSql(IvfMemberCap)), Tuning.cpuBound),

    QueryDef("q297_knn_ivf_pq_capped",
      (s, d) => knnIvfPq(s, d, 3, memberCap = IvfMemberCap),
      Some(knnIvfPqOracleSql(Some(IvfMemberCap))), Tuning.cpuBound),

    QueryDef("q298_ivf_capped_recall",
      (s, d) => ivfCappedRecallCurve(s, d),
      Some(ivfCappedRecallCurveSql()), Tuning.cpuBound),

    // r11: the q296 cap on the PRODUCTION index path — the persisted
    // index's cell join bounded per cell. Same oracle as q296: the
    // persisted index answers identically to the freshly built one
    // (the q129 invariant), capped or not.
    QueryDef("q303_knn_ivf_persisted_capped",
      (s, d) => knnIvfPersisted(s, persistedIvfIndexDir(s, d), 3,
        memberCap = IvfMemberCap),
      Some(knnIvfCappedOracleSql(IvfMemberCap)), Tuning.cpuBound),

    // r11: the cap on the LSH family — band buckets are this path's hot
    // cells (duplicate clusters collapse into shared band keys; the
    // bucket self-join is quadratic in bucket size), and the md5-draw
    // cap bounds every bucket's pair volume at cap².
    QueryDef("q304_knn_lsh_capped",
      (s, d) => knnLshCapped(s, d, 3),
      Some(s"""WITH $quantCte,
        keys AS (SELECT vec_id, unnest($lshKeysSql) AS bkey FROM n),
        ck AS (SELECT vec_id, bkey FROM (
              SELECT vec_id, bkey, row_number() OVER (PARTITION BY bkey
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS mrn FROM keys)
            WHERE mrn <= $IvfMemberCap),
        cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
              FROM ck x JOIN ck y ON x.bkey = y.bkey AND x.vec_id < y.vec_id),
        p AS (SELECT c.id_a, c.id_b, $simSql AS sim
              FROM cand c JOIN n a ON a.vec_id = c.id_a JOIN n b ON b.vec_id = c.id_b),
        d AS (SELECT id_a AS vec_id, id_b AS neighbor_id, sim FROM p
              UNION ALL SELECT id_b, id_a, sim FROM p),
        r AS (SELECT vec_id, neighbor_id, sim,
              row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank FROM d)
        SELECT vec_id, rank, neighbor_id, sim FROM r WHERE rank <= 3"""), Tuning.cpuBound),

    // r12 (VERDICT ask 4): the member cap on the STREAMED-index query
    // surface with the quadrant split kept — base on the even half,
    // odd half as one streamed appends batch, IndexStream.knn ranks
    // the union's members per cell WITHOUT shuffling the base (the
    // bucketed window + broadcast-rank-correction decomposition,
    // plan-gated in SimilarityIndexSpec; this oracle pins the answer).
    QueryDef("q306_knn_streamed_capped",
      // routed through the knn_stream TVF (r13 — the q42 discipline:
      // same analyzed plan as IndexStream.knn(..., cap), oracle-pinned)
      (s, d) => s.sql(s"SELECT * FROM knn_stream(" +
        s"'${streamedSplitIndexDir(s, d)}', 3, $IvfMemberCap)"),
      Some(knnStreamedCappedSql), Tuning.cpuBound),

    // r13: the maintain verdict on a STREAMED index — q308's advisor
    // over the base ∪ appends live view (where drift actually shows),
    // the exact number IndexStream.maintain folds/retrains on
    QueryDef("q310_streamed_retrain_advisor",
      (s, d) => retrainAdvisorOn(graft.streaming.IndexStream
        .assignments(s, streamedSplitIndexDir(s, d))),
      Some(streamedAdvisorSql)),

    QueryDef("q107_cluster_profile",
      (s, d) => clusterProfile(s, d),
      Some(clusterProfileSql()), Tuning.cpuBound),

    QueryDef("q109_cluster_mix",
      (s, d) => clusterMix(s, d),
      Some(clusterMixSql()), Tuning.cpuBound),

    QueryDef("q95_semantic_dedup",
      (s, d) => semanticDedup(s, d),
      Some {
        val (kmeans, cf) = kmeansSqlAuto()
        s"""WITH $quantCte,
        $kmeans,
        af AS (SELECT n.vec_id, n.qv, n.nrm, c.cent_id,
              row_number() OVER (PARTITION BY n.vec_id ORDER BY
                CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
                / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cent_id) AS rn
              FROM n CROSS JOIN $cf c),
        mem AS (SELECT vec_id, qv, nrm, cent_id AS cell FROM af WHERE rn = 1),
        blk AS (SELECT DISTINCT a.vec_id
              FROM mem a JOIN mem b ON a.cell = b.cell AND b.vec_id < a.vec_id
              WHERE $simSql >= $SemDedupThreshold)
        SELECT m.vec_id, m.cell, k.vec_id IS NULL AS kept
        FROM mem m LEFT JOIN blk k ON m.vec_id = k.vec_id"""
      }, Tuning.cpuBound),

    // r11: the cap on the ADMISSION side — q95's blocker self-join is
    // quadratic in cell size on exactly the duplicate-heavy corpora
    // where cells run hot; capping blockers can only admit MORE (the
    // right failure direction for dedup).
    QueryDef("q305_semantic_dedup_capped",
      (s, d) => semanticDedupCapped(s, d),
      Some {
        val (kmeans, cf) = kmeansSqlAuto()
        s"""WITH $quantCte,
        $kmeans,
        af AS (SELECT n.vec_id, n.qv, n.nrm, c.cent_id,
              row_number() OVER (PARTITION BY n.vec_id ORDER BY
                CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
                / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cent_id) AS rn
              FROM n CROSS JOIN $cf c),
        mem AS (SELECT vec_id, qv, nrm, cent_id AS cell FROM af WHERE rn = 1),
        cb AS (SELECT vec_id, qv, nrm, cell FROM (
              SELECT m.*, row_number() OVER (PARTITION BY cell
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS mrn FROM mem m)
            WHERE mrn <= $IvfMemberCap),
        blk AS (SELECT DISTINCT a.vec_id
              FROM mem a JOIN cb b ON a.cell = b.cell AND b.vec_id < a.vec_id
              WHERE $simSql >= $SemDedupThreshold)
        SELECT m.vec_id, m.cell, k.vec_id IS NULL AS kept
        FROM mem m LEFT JOIN blk k ON m.vec_id = k.vec_id"""
      }, Tuning.cpuBound),

    QueryDef("q197_embed_curation",
      (s, d) => embedCuration(s, d),
      Some(embedCurationSql()), Tuning.cpuBound)
  )

  /** q66's oracle (cap = None) and q297's (cap = Some): the PQ
    * reconstruction chain with the optional md5-draw member cap injected
    * on the code side, exactly where the Scala plan caps. */
  private def knnIvfPqOracleSql(cap: Option[Int]): String = {
        val (ivf, cf) = kmeansSqlAuto()
        val subs = (0 until PqSubspaces).map { s =>
          val lo = s * PqSubDim + 1; val hi = (s + 1) * PqSubDim
          val src =
            s"""ns$s AS (SELECT vec_id, qv[$lo:$hi] AS qv,
                CAST(list_sum(list_transform(qv[$lo:$hi], x -> x * x)) AS BIGINT) AS nrm FROM n)"""
          val (chain, last) = kmeansSqlFor(s"ns$s", s"p$s", PqSubCents.toString, KmeansIters)
          val assign =
            s"""as$s AS (SELECT n.vec_id, c.cqv,
                row_number() OVER (PARTITION BY n.vec_id ORDER BY
                  CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
                  / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cent_id) AS rn
              FROM ns$s n CROSS JOIN $last c),
            rec$s AS (SELECT vec_id, cqv FROM as$s WHERE rn = 1)"""
          s"$src,\n        $chain,\n        $assign"
        }.mkString(",\n        ")
        val cat = (0 until PqSubspaces).map(s => s"r$s.cqv").mkString(" || ")
        val recJoins = (1 until PqSubspaces).map(s => s"JOIN rec$s r$s USING (vec_id)").mkString(" ")
        val memCte = cap match {
          case None =>
            s"""mem AS (SELECT m.vec_id, m.cent_id AS cell, r.qrec, r.nrec
              FROM af m JOIN recq r USING (vec_id) WHERE m.rn = 1)"""
          case Some(c) =>
            s"""mem0 AS (SELECT m.vec_id, m.cent_id AS cell, r.qrec, r.nrec
              FROM af m JOIN recq r USING (vec_id) WHERE m.rn = 1),
        mem AS (SELECT vec_id, cell, qrec, nrec FROM (
              SELECT m.*, row_number() OVER (PARTITION BY cell
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS mrn FROM mem0 m)
            WHERE mrn <= $c)"""
        }
        s"""WITH $quantCte,
        $ivf,
        af AS (SELECT n.vec_id, n.qv, n.nrm, c.cent_id,
              row_number() OVER (PARTITION BY n.vec_id ORDER BY
                CAST(list_sum(list_transform(range(1, len(n.qv) + 1), i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
                / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) DESC, c.cent_id) AS rn
              FROM n CROSS JOIN $cf c),
        $subs,
        recn AS (SELECT r0.vec_id, $cat AS qrec FROM rec0 r0 $recJoins),
        recq AS (SELECT vec_id, qrec,
              CAST(list_sum(list_transform(qrec, x -> x * x)) AS BIGINT) AS nrec FROM recn),
        $memCte,
        pr AS (SELECT vec_id, qv, nrm, cent_id AS cell FROM af WHERE rn <= $IvfNprobe),
        ap AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * b.qrec[i])) AS DOUBLE)
              / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrec AS DOUBLE))) AS asim
              FROM pr a JOIN mem b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
        ar AS (SELECT id_a, id_b,
              row_number() OVER (PARTITION BY id_a ORDER BY asim DESC, id_b) AS arank FROM ap),
        ex AS (SELECT c.id_a, c.id_b, $simSql AS sim
              FROM (SELECT id_a, id_b FROM ar WHERE arank <= $PqCandidates) c
              JOIN n a ON a.vec_id = c.id_a JOIN n b ON b.vec_id = c.id_b),
        r AS (SELECT id_a AS vec_id, id_b AS neighbor_id, sim,
              row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rank FROM ex)
        SELECT vec_id, rank, neighbor_id, sim FROM r WHERE rank <= 3"""
  }
}
