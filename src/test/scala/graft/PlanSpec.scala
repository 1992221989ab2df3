package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: the properties that make these plans
  * survive a 100x scale-up. Asserting on explain output keeps regressions
  * (a lost pushdown, a broadcast turned shuffle) from slipping in
  * silently. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark
  val dir = "/root/testdata/sf0.001"

  def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q02: filters and projection push down to the parquet scan") {
    val p = plan("q02_filter_revenue")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate range must reach the scan")
    assert(p.contains("LessThan(l_quantity"), "quantity filter must reach the scan")
    // only the 4 needed columns are read
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(Seq("l_shipdate", "l_discount", "l_quantity", "l_extendedprice")
      .forall(readSchema.contains))
    assert(!readSchema.contains("l_orderkey"), "unused columns must be pruned")
  }

  test("q04: dimension joins are broadcast, fact side not shuffled") {
    val p = plan("q04_region_rollup")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "small dims must never sort-merge")
  }

  test("q03: top-k plans as TakeOrderedAndProject, not global sort") {
    val p = plan("q03_topk_orders")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"), "no full sort for limit-k")
  }

  test("q01: aggregate is partial (map-side) then final") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("HashAggregate"))
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, "expect partial+final")
  }

  test("q16: unpivot is a single Expand with no shuffle") {
    val p = plan("q16_unpivot_measures")
    assert(p.contains("Expand"))
    assert(!p.contains("Exchange"), "unpivot must be narrow")
  }

  test("q45: pairwise KNN uses the custom dot expression and bounded top-k") {
    val p = plan("q45_knn_brute")
    assert(p.contains("quantizeddot"), "custom expression must be in the plan")
    // r14: the rank window (planned as WindowGroupLimit) became the
    // bounded TopKSim aggregate — map partitions reduce each query to
    // ≤ k candidates with NO per-partition sort of the n² pair stream
    // (TopKPlanSwapSpec locks row-identity to the window twin)
    assert(p.toLowerCase.contains("partial_topksim"),
      "candidate cut must be map-side bounded aggregation")
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window"),
      "no rank window over the pair stream")
  }

  test("q54: topk aggregator plans as partial ObjectHashAggregate, no window sort") {
    val p = plan("q54_topk_agg")
    // map-side partial aggregation: each partition reduces to <=k rows
    // per key BEFORE the exchange — the whole point vs the q10 window
    assert(p.contains("ObjectHashAggregate"))
    assert(p.toLowerCase.contains("partial_topkpriced"),
      "aggregator must run in partial mode before the shuffle")
    assert(!p.contains("Window"), "no per-group full sort")
  }

  test("q55: proximity range join plans as an equi-join on (user, bucket)") {
    val p = plan("q55_proximity_pairs")
    assert(!p.contains("NestedLoop"),
      "banding rewrite must not fall back to a nested-loop theta join")
    assert(p.contains("bkt"), "bucket key must be a join key")
  }

  test("q64: bm25 top-k is a heap limit with broadcast stats, no global sort") {
    val p = plan("q64_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not be a full sort")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "df/stats sides must broadcast")
    assert(!p.contains("Exchange rangepartitioning"), "no range-partition sort for limit-k")
  }

  test("q47: ANN top-k is a bounded partial aggregate, not a rank window") {
    val p = plan("q47_knn_ivf")
    assert(p.toLowerCase.contains("partial_topksim"),
      "candidate cut must be map-side bounded aggregation")
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window"),
      "no per-query rank window over the candidate pairs")
  }

  test("q63: naive theta range join is auto-banded by the optimizer rule") {
    val p = plan("q63_range_join_auto")
    assert(!p.contains("NestedLoop"),
      "BandedRangeJoinRule must rewrite the theta join before physical planning")
    assert(p.contains("__graft_band_bucket"), "band buckets must be the equi key")
  }

  test("q92: doc-block predicate reaches the parquet scan; no shuffle at all") {
    val p = plan("q92_clean_lines")
    assert(p.contains("StringContains(text,slow slow)"),
      "doc-marker filter must push into the scan")
    assert(!p.contains("Exchange"), "line cleaning is a pure projection pipeline")
  }

  test("q94: line-dedup winner selection is partial-aggregated before its exchange") {
    val p = plan("q94_line_dedup")
    // two SortAggregates (partial + final) around the line-keyed exchange:
    // the shuffle carries one candidate winner per distinct line per
    // partition, not the occurrence list
    assert("SortAggregate".r.findAllIn(p).size >= 2, "min(struct) must partial-aggregate")
    assert(!p.contains("Window"), "no rank window over line occurrences")
  }

  test("q96: weight total is broadcast and its scan reads only the source column") {
    val p = plan("q96_source_mix")
    assert(p.contains("BroadcastExchange"), "20-row weight total must broadcast")
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.exists(s => s.contains("source") && !s.contains("text")),
      "the totw scan must prune to the source column only")
  }

  test("q122: outlier rank filter plans as WindowGroupLimit with broadcast centroids") {
    val p = plan("q122_label_outliers")
    // rank <= k must cap per-partition BEFORE the label exchange — the
    // q68 gate: without it the window sorts every label's full membership
    assert(p.contains("WindowGroupLimit"), "bottom-k must pre-shuffle cap")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "label centroids are label-cardinality and must broadcast")
  }

  test("q123: hybrid fusion keeps both channels bounded, no corpus-sized window") {
    val p = plan("q123_hybrid_search")
    assert(p.contains("TakeOrderedAndProject"), "channel pools must be top-k, not global sorts")
    // the only Window operators run over <= pool-size rows AFTER a limit;
    // a window directly above a corpus-sized scan would show no limit
    assert(p.contains("BroadcastExchange"), "stats/query-vector sides must broadcast")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      "only broadcast scalar cross-joins allowed")
    // PLANS.md's stated invariant for the r5 re-plan: ZERO standalone Sort
    // nodes — every ordering is a TakeOrderedAndProject (top-k) or fused
    // into an operator (SortAggregate/SortMergeJoin are excluded by the
    // word boundary). Reintroducing a rank-window sort must fail here.
    assert("""\bSort\b""".r.findFirstIn(p).isEmpty,
      "no Sort node outside TakeOrderedAndProject (PLANS.md zero-Sort claim)")
  }

  test("q126: group-algebra rates materialize no doc pairs — zero Window/Generate") {
    // PLANS.md round-6 claim: the naive q120's per-doc involvement
    // explode never exists in the composed plan; every post-mine
    // exchange is group-/cell-keyed. A Generate (explode) or Window
    // reappearing here means someone reintroduced doc-pair processing.
    val p = plan("q126_near_dup_rates_reps")
    assert(!p.contains("Window"), "no window over pair or doc rows")
    assert(!p.contains("Generate"), "no explode: involvement comes from occupancy sums")
  }

  test("q114: pmi top-k is TakeOrderedAndProject over partial aggs, no window") {
    val p = plan("q114_pmi_collocations")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    assert(!p.contains("Window"), "ranking is ORDER BY + LIMIT, not a window")
    assert(!p.contains("CartesianProduct") ||
      p.contains("BroadcastNestedLoopJoin"), // the 1-row n_total broadcast
      "only the broadcast scalar may cross-join")
  }

  test("q115: phrase search probes a broadcast one-row phrase table") {
    val p = plan("q115_phrase_search")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the derived phrase must broadcast into the hit scan")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"),
      "no window, no shuffled join for a one-row probe")
  }

  test("q116: cms sketch build is a map-side-combined bounded aggregate") {
    val p = plan("q116_cms_counts")
    // partial HashAggregates before both exchanges: the sketch merge IS
    // the combine; nothing vocabulary-sized may cross unreduced
    assert("HashAggregate".r.findAllIn(p).size >= 4, "sketch + top-k must partial-agg")
    assert(p.contains("TakeOrderedAndProject"), "exact top-k must not global-sort")
    assert(!p.contains("Window"), "no window anywhere in the sketch path")
  }

  test("q111: dsir scoring joins the 4096-bucket table, no window, no nested loop") {
    val p = plan("q111_dsir_weights")
    // the distribution join is keyed on the hashed bucket — 4096 rows,
    // broadcast-or-shuffle by AQE, never a nested loop
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "bucket join must stay equi-shaped")
    assert(!p.contains("Window"), "per-doc scoring is an aggregate, not a window")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "doc agg must map-side combine")
  }

  test("q99: bigram scoring is all equi-joins and partial aggregates, no window") {
    val p = plan("q99_bigram_lm_score")
    // the c12/c1 joins are keyed on bigram/term — any nested-loop here
    // would be vocabulary² row pairs at scale
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "corpus-table joins must stay equi-shaped")
    assert(!p.contains("Window"), "per-doc scoring is an aggregate, not a window")
    // the per-doc score agg partial-aggregates before its doc_id exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, "doc agg must map-side combine")
  }

  test("q100: overlap self-join is fp-keyed; per-source totals broadcast") {
    val p = plan("q100_source_overlap")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "the span self-join must be an equi-join on fp, never a loop")
    assert(p.contains("BroadcastExchange"), "per-source distinct-span totals must broadcast")
    assert(!p.contains("Window"), "pair counting is an aggregate, not a window")
  }

  test("q104: the capstone chain stays equi-shaped end to end") {
    val p = plan("q104_pretrain_corpus")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cartesian anywhere")
    // the only nested loops are the mixer's 1-row broadcast scalar
    // attachments (totw, t_total) — every one must be a broadcast cross,
    // never an inner/outer nested loop over data-sized sides
    val loops = p.linesIterator
      .filter(l => l.contains("BroadcastNestedLoopJoin") && (l.contains("+-") || l.contains(":-")))
      .toSeq
    assert(loops.nonEmpty && loops.forall(_.contains("Cross BuildRight")),
      s"nested loops must be broadcast scalar crosses: $loops")
    assert(loops.count(_.contains("Cross BuildRight")) <= 2, "only the two mixer scalars")
    // the only window is the mixer's single source-keyed cum-sum
    assert("\\bWindow\\b".r.findAllIn(p).size <= 2, "no stray windows beyond the mixer's")
  }

  test("q106: bpe pairs top-k is TakeOrderedAndProject over partial aggs, no global sort") {
    val p = plan("q106_bpe_merge_pairs")
    assert(p.contains("TakeOrderedAndProject"), "top-k must be a heap limit")
    assert(!p.contains("Exchange rangepartitioning"), "no full sort for limit-k")
    // both rollups (word freq, pair freq) partial-aggregate map-side
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4,
      "vocab and pair rollups must both be partial+final")
    assert(!p.contains("Window"), "no window anywhere in the pair counting")
  }

  test("q110: bpe encode joins the vocabulary table, no window, no global sort") {
    val p = plan("q110_bpe_encode")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cartesian")
    assert(!p.contains("Window"), "encode is pure agg + join — no window")
    assert(!p.contains("Exchange rangepartitioning"), "no global sort anywhere")
    // the word -> token-count side attaches as an equi-join (AQE is free
    // to broadcast it at runtime; statically it must still be an equi-join)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), "vocab join must be an equi-join")
    // per-doc rollup and distinct both partial-aggregate map-side
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4,
      "rollups must be partial+final")
  }

  test("q107: cluster profile joins shuffle on ids, windows only rollup rows") {
    val p = plan("q107_cluster_profile")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cartesian")
    // exactly two window OPERATORS (formatted explain names each operator
    // twice — tree + details): the per-vector assignment rank (partition
    // size = k centroids, never corpus-sized) and the dominant-source
    // argmax over checkpointed (cluster x source) rollup rows — the
    // heavy assignment+join subtree must appear once, not once per rollup
    assert(p.linesIterator.count(_.matches("""\(\d+\) Window""")) <= 2,
      "assignment rank + argmax only (WindowGroupLimit pushdowns don't count)")
    val loops = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(loops.forall(_.contains("Cross BuildRight")),
      s"centroids must attach as a broadcast cross: $loops")
  }

  test("q136: test split broadcasts, train rows never shuffle") {
    // semanticDecontaminate's scale contract: the benchmark-sized TEST
    // side is the broadcast build, the train stream is map-side only —
    // the plan must carry exactly one broadcast loop join building the
    // RIGHT (test) side, and no Exchange may sit below the join on the
    // train path (the only exchanges allowed are the broadcast itself
    // and the final partial-agg rollup above the join).
    val p = plan("q136_semantic_decontaminate")
    // tree lines only — the formatted detail section repeats the node
    // name without its BuildRight argument
    val loops = p.linesIterator
      .filter(l => l.contains("BroadcastNestedLoopJoin") && l.contains("- ")).toSeq
    assert(loops.nonEmpty && loops.forall(_.contains("BuildRight")),
      s"test side must be the broadcast build: $loops")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "train side must never shuffle into the join")
  }

  test("q150: attribution carries ONE user-keyed exchange end to end") {
    // the scale claim in EventOps.attribution's scaladoc (and SURVEY's
    // q150 row): HashPartitioning(user_id) from the single shuffle
    // satisfies the lag window, the per-user click range join, and the
    // (user, purchase) rank window — Spark plans sorts above it, never
    // a re-shuffle. Tree lines only (the formatted detail section
    // repeats node names).
    val p = plan("q150_attribution")
    val exchanges = p.linesIterator
      .filter(_.matches(""".*\(\d+\) Exchange.*""")).toSeq
    assert(exchanges.size == 1, s"expected exactly 1 Exchange, got: $exchanges")
    // the tree line is bare; the key lives in the detail section
    assert(p.contains("hashpartitioning(user_id"), "the one exchange must key on user_id")
  }

  test("q152: hashed classifier is a pure scan-stage projection — zero exchanges") {
    // the whole token→bucket→weight chain runs inside one array-aggregate
    // lambda per row: no explode, no distinct-token frame, no shuffle.
    // Gate the BUILD plan (clfScored, the fold that gets persisted) —
    // the registered query reads the memoized artifact, gated below.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.TextStats.clfScored(docs).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), "classifier fold must pipeline inside the scan stage")
    assert(!p.contains("Generate"), "no explode: tokens fold inside the lambda")
    // the consumer plan: a narrow scan of the persisted artifact, still
    // exchange-free (pure arithmetic over 4 columns)
    val pq = plan("q152_hashed_classifier")
    assert(!pq.contains("Exchange"), "consumer must stay a scan-stage projection")
  }

  test("q91: span decontamination is bloom-prefiltered map-side") {
    // the q131 composition into the pipeline: the train span stream must
    // probe the literal test-fp bloom BEFORE the exact verify join, so
    // the token-volume side only pays the join for survivors.
    val p = plan("q91_train_shard")
    // (the base64 bloom literal itself constant-folds to a binary
    // literal, so only the probe call is visible in explain output)
    assert(p.contains("might_contain"), "train spans must probe the test-fp bloom map-side")
  }

  test("q201: keyframe selection is shuffle-free — the per-shot argmax never leaves the row") {
    // a window formulation would exchange frame rows to rank them; the
    // typed mapPartitions keeps the whole argmax inside the scan stage
    val p = plan("q201_keyframe_select")
    assert(!p.contains("Exchange"), "keyframe selection must not shuffle")
    assert(p.contains("MapPartitions"), "typed per-partition decode boundary expected")
  }

  test("q202: path mining carries ONE user-keyed exchange for both leads") {
    // the q150 discipline: both lead() calls plan into one Window over
    // one (user_id)-keyed sort; the only other exchange is the bounded
    // (t1,t2,t3) rollup, and top-k is TakeOrderedAndProject, never a
    // rangepartitioning sort
    val p = plan("q202_path_trigrams")
    val exchanges = p.linesIterator
      .filter(_.matches(""".*\(\d+\) Exchange.*""")).toSeq
    assert(exchanges.size == 2, s"expected window + rollup exchanges only, got: $exchanges")
    assert(p.contains("hashpartitioning(user_id"), "the window exchange must key on user_id")
    assert(p.linesIterator.count(_.contains("Window")) >= 1 &&
      p.linesIterator.filter(_.contains("Window")).forall(!_.contains("Exchange")),
      "both leads must share one Window")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    assert(!p.contains("rangepartitioning"), "no range exchange anywhere")
  }

  test("q199: CUSUM never exchanges event rows beyond the (type, day) rollup") {
    // the daily rollup partial-aggregates map-side; the mean join is a
    // broadcast; both windows run over day-level rows (keyed by
    // event_type — already co-located by the rollup's exchange)
    val p = plan("q199_rate_cusum")
    assert(!p.contains("rangepartitioning"), "no global sort")
    assert(!p.contains("SortMergeJoin"), "the type-cardinality mean must broadcast")
    val exchanges = p.linesIterator
      .filter(_.matches(""".*\(\d+\) Exchange.*""")).toSeq
    assert(exchanges.size <= 3, s"rollup/mean/window exchanges only, got: $exchanges")
  }

  test("q217/q223: head-mass and percentile windows run over rollup rows only") {
    // the scale claim: the rank/cumulative windows see (source, term) /
    // (source, len) LEVEL rows — the occurrence/doc stream ends at the
    // partial aggregate. Two exchanges max (rollup + window re-key), and
    // never a global sort.
    for (q <- Seq("q217_head_mass", "q223_length_percentiles")) {
      val p = plan(q)
      assert(!p.contains("rangepartitioning"), s"$q: no global sort")
      val exchanges = p.linesIterator
        .filter(_.matches(""".*\(\d+\) Exchange.*""")).toSeq
      assert(exchanges.size <= 2, s"$q: rollup + window exchanges only, got: $exchanges")
      assert(p.contains("hashpartitioning(source"),
        s"$q: the window re-key must be source-partitioned, never single-partition")
    }
  }

  test("q221: the top-V vocabulary is a distributed top-k, not a rank window") {
    // orderBy+limit must plan TakeOrderedAndProject (per-partition heaps
    // + driver merge of V rows); a row_number window here would funnel
    // the vocabulary through one partition
    val p = plan("q221_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"), "top-V must be TakeOrderedAndProject")
    assert(!p.contains("Window"), "no rank window anywhere in the vocab path")
  }

  test("q219: anomaly screen joins stay broadcast above the cell rollup") {
    // profile (24 x types) and the day count (1 row) broadcast back onto
    // cell rows; a shuffled join would re-key the rollup for nothing
    val p = plan("q219_seasonal_anomalies")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "profile/day-count joins must broadcast")
    assert(!p.contains("rangepartitioning"), "no global sort")
  }

  test("q249: support joins sit ABOVE the top-k, not under it") {
    // the measured 94.7->48.6 s lesson as a gate: the pair rollup must
    // reach a TakeOrderedAndProject before any join with the support
    // table — if a support join slips below the limit again, the plan
    // carries it across the ~basket²·orders pair frame
    val p = plan("q249_basket_pairs")
    // the top-k was paid EAGERLY at the localCheckpoint: the final plan
    // must read the k-row ExistingRDD and contain NO rank/sort operator
    // of its own — a TakeOrderedAndProject (or global sort) appearing
    // here means the checkpoint was dropped and the support joins are
    // back under the pair-frame rank
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
      "the k-row frame must be checkpointed (joins read it, not the pair rollup)")
    assert(!p.contains("TakeOrderedAndProject") && !p.contains("rangepartitioning"),
      "no rank left to pay in the final plan")
  }

  test("q245/q250: split audits keep marginals broadcast") {
    for (q <- Seq("q245_split_balance")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q: marginals must broadcast back onto rollup rows")
    }
    // q250's train-vocab join is term-keyed over rollup rows — shuffling
    // THAT join is by design (vocab-cardinality); gate only that the
    // occurrence stream never joins (the join inputs are aggregates)
    val p = plan("q250_cross_split_shift")
    assert(!p.contains("rangepartitioning"), "q250: no global sort")
  }

  test("q242: ablation grid reduces to one rollup over the artifact join") {
    // four variants = conditional sums in ONE aggregate; the plan after
    // the checkpoint is four 1-row SELECT branches unioned — no
    // re-aggregation of the corpus per variant
    val p = plan("q242_ablation_grid")
    assert(!p.contains("rangepartitioning"), "no global sort")
    val unions = p.linesIterator.count(_.matches(""".*\(\d+\) Union.*"""))
    assert(unions <= 1, s"one union of 1-row branches, got $unions Union nodes")
  }

  test("q251: the turn parse is a stateless explode above the scan — no exchange") {
    val p = plan("q251_chat_turns")
    assert(!p.contains("Exchange"), "chatTurns must not shuffle")
    assert(p.contains("Generate"), "the turn explode must be a Generate node")
  }

  test("q254: benchmark fingerprints join broadcast, never cartesian") {
    val p = plan("q254_asst_decontam")
    assert(p.contains("BroadcastHashJoin"), "the benchmark side must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"), "a 2-row benchmark must never sort-merge")
  }

  test("q252: turn-dedup card aggregates map-side before both exchanges") {
    val p = plan("q252_turn_dedup_card")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4,
      "fp rollup and role rollup must both be partial+final")
    assert(!p.contains("rangepartitioning"), "no global sort in a card")
  }

  test("q256: drift audit has no pair frame and no global sort") {
    val p = plan("q256_embedding_version_drift")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("rangepartitioning"))
    // the (label x dim) rollup must combine map-side: partial+final pairs
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4)
  }

  test("q260/q262/q263: preference cards are joinless single rollups") {
    Seq("q260_pref_model_card", "q262_length_bias", "q263_position_bias")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("Join"), s"$q: the derivation+card must not join")
        assert(!p.contains("rangepartitioning"), s"$q: no global sort")
        assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
          s"$q: rollup must combine map-side (partial+final)")
      }
  }

  test("q264: agreement card collapses slots by rollup, never a self-join") {
    val p = plan("q264_annotator_agreement")
    assert(!p.contains("Join"),
      "the two judgment slots must collapse in a pair_id rollup, not a self-join")
    // two rollup levels (pair, then model-pair), each partial+final
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4)
  }

  test("q257/q259: conversational windows are per-key, never a global sort") {
    Seq("q257_conv_packing", "q259_parroting_screen").foreach { q =>
      val p = plan(q)
      assert(!p.contains("rangepartitioning"),
        s"$q: the cumulative/lag window must partition by key, not sort globally")
      assert(p.linesIterator.count(_.matches("^\\(\\d+\\) Window\\s*$")) <= 2,
        s"$q: window work must not multiply")
    }
  }

  test("q258: chat layout card is one conv rollup — no join, no string render") {
    val p = plan("q258_chat_render_card")
    assert(!p.contains("Join"), "geometry comes from the turn stream alone")
    assert(!p.contains("rangepartitioning"))
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      "the conv rollup must combine map-side")
  }

  test("q266/q270/q274: derived-score cards stay joinless until rollup rows") {
    // q266/q274: argmax/estimator as codegen'd CASE chains, one rollup.
    // q270 joins only AFTER the (source, tag) rollup collapses the corpus
    // (top-tag recovery over rollup rows) — gate the shape that matters:
    // no global sort, and aggregation starts map-side.
    Seq("q266_best_of_n", "q274_pass_at_k").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: candidates/attempts never join")
      assert(!p.contains("rangepartitioning"), s"$q: no global sort")
      assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2)
    }
    val p270 = plan("q270_instruction_tags")
    assert(!p270.contains("rangepartitioning"), "q270: no global sort")
    assert(!p270.contains("Generate"), "q270: the tag is a projection, not an explode")
  }

  test("q271: alignment audit is a stateless zip-dot plus one rollup") {
    val p = plan("q271_cross_modal_alignment")
    assert(!p.contains("Join"))
    assert(!p.contains("rangepartitioning"))
    assert(!p.contains("Generate"), "no per-dimension explode — the dot is one expression")
  }

  test("q265: semantic packing is linear — broadcast centroids, one window") {
    val p = plan("q265_semantic_packing")
    assert(!p.contains("CartesianProduct"), "centroid assignment must broadcast")
    assert(p.contains("BroadcastNestedLoopJoin"), "k-row centroid side broadcast")
    assert(!p.contains("rangepartitioning"), "the chain sort is per-cell, never global")
    assert(p.linesIterator.count(_.matches("^\\(\\d+\\) Window\\s*$")) == 1,
      "cumsum, lag and bin ride ONE cell-keyed window")
  }

  test("catalog missing-series plans as broadcast left-anti") {
    import spark.implicits._
    val headers = Seq((0, "1", "n", 0)).toDF("fileOrd", "externalId", "name", "colIndex")
    val catalog = Seq(graft.tebis.TimeSeriesMeta("2", "x", "d")).toDS()
    val p = graft.tebis.Catalog.missing(headers, catalog)
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("LeftAnti"))
    assert(p.contains("Broadcast"))
  }

  test("spread premise (Spark 4.1.2): per-row Projects stay above repartition(n) without the barrier") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Repartition}
    import org.apache.spark.sql.functions.{col, expr, split}
    import graft.functions.GraftFunctions.{quantizedDot, simHash32}
    import graft.queries.QueryDef
    val n = 7
    // every Project that computes `fn` must have the repartition below it
    def projectsAbove(df: DataFrame, fns: String*): Unit = {
      val opt = df.queryExecution.optimizedPlan
      val reps = opt.collect { case r: Repartition if r.shuffle && r.numPartitions == n => r }
      assert(reps.size == 1, s"expected one Repartition $n, true:\n$opt")
      def computes(p: LogicalPlan, fn: String) = p match {
        case pr: Project => pr.projectList.exists(_.exists(_.getClass.getSimpleName == fn))
        case _ => false
      }
      fns.foreach { fn =>
        val ps = opt.collect { case p if computes(p, fn) => p }
        assert(ps.nonEmpty, s"no Project computes $fn:\n$opt")
        assert(ps.forall(_.exists(_ eq reps.head)), s"$fn is computed below the repartition:\n$opt")
      }
    }
    // Dedup's simhash fingerprint pass, as spreadIfNarrow(barrier = true)
    // builds it, with a plain repartition in place of the checkpoint
    val docs = QueryDef.t(spark, dir, "documents")
    projectsAbove(docs.select(col("doc_id"), col("text")).repartition(n)
      .select(col("doc_id"), simHash32(split(col("text"), " ")).as("simhash")), "SimHash32")
    // Similarity.quantized's transform and norm, likewise
    projectsAbove(QueryDef.t(spark, dir, "embeddings").repartition(n)
      .select(col("vec_id"), expr(graft.ops.Similarity.quantExpr).as("qv"), col("label"))
      .withColumn("nrm", quantizedDot(col("qv"), col("qv"))), "ArrayTransform", "QuantizedDot")
  }
}
