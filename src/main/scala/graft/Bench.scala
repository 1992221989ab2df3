package graft

import graft.queries.Tuning

/** Benchmark main. Robustness against environment pressure (the round-1
  * record was a 10× environmental outlier vs the same code re-run):
  *   - every query runs in a hygienic session: cached relations and pinned
  *     RDD blocks (localCheckpoint debris) are cleared before each timing,
  *     so no query pays for a predecessor's leftovers;
  *   - each query runs `iters` times (default 3) and the MIN is reported —
  *     the min is the best estimate of the plan's intrinsic cost, robust
  *     to one-off GC pauses / page-cache misses / co-located load; a query
  *     that crashes in SOME iterations still reports its min but is named
  *     in `flaky` with its failure count, so intermittent failures stay
  *     visible;
  *   - JVM opts are pinned in build.sbt (fixed 16g heap, G1 with a pause
  *     target).
  */
object Bench {

  /** Evaluate EVERY output column of the frame without collecting it.
    * `count()` is not a benchmark action: Catalyst prunes columns the
    * count doesn't need, which drops whole Project pipelines and even
    * entire Window operators from projection-only queries (q77's 6M-row
    * window "ran" in scan time). The noop data source is Spark's
    * purpose-built benchmarking sink — full evaluation, zero I/O. */
  private def evaluate(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // 3 iterations: the per-query MIN converges even when one full pass
    // lands under transient co-located load (observed 26-38s run-to-run
    // band for an identical binary at 2 iterations)
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val spark = GraftSession()
    val cpus = GraftSession.cpus
    // JIT/codegen warmup OUTSIDE the timed region: run every query once
    // at the tiny scale factor so Janino compilation of the generated
    // code (dominant for the wide custom expressions — LSH keys, minhash
    // bands) is paid before any timing starts. Data cost is negligible;
    // what carries over is the compiled-class cache.
    // Optional subset (comma-separated names): the scale campaign times
    // individual queries against /tmp/scale* corpora without paying for
    // the whole suite.
    val only = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n)))
    val warmDir = "/root/testdata/sf0.001"
    names.foreach { n =>
      try { evaluate(SparkEntry.queries(n)(spark, warmDir)) } catch { case _: Throwable => () }
    }
    // Memoized per-corpus fixtures (persisted/streamed IVF indexes,
    // tiered-shard layout, classifier scores, trigram stream, recall
    // truth) build ONCE per corpus version; without this they'd build
    // inside the first timed iteration of their consumer queries (r13 —
    // VERDICT ask 5: q306's paired number carried a ~2 s fixture
    // build). min-of-N already rejects that, but single-iteration
    // paired runs don't — prebuild in warmup so every iteration times
    // the query. Skipped for subset campaigns (scale corpora may lack
    // the fixture inputs; the subset's own first pass warms it).
    if (only.isEmpty) {
      try {
        // the fixtures' operators ran under their queries' tuning
        Tuning.cpuBound.applyTo(spark)
        graft.ops.Similarity.prebuildFixtures(spark, sfDir)
        graft.ops.Corpus.prebuildFixtures(spark, sfDir)
        graft.ops.Chunking.prebuildFixtures(spark, sfDir)
        graft.ops.TextStats.clfScoredPersisted(spark, sfDir)
      } catch { case _: Throwable => () }
    }
    SessionHygiene.clear(spark)

    val best = scala.collection.mutable.Map[String, Double]()
    val fails = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    for (iter <- 1 to iters; name <- names) {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok = try { evaluate(fn(spark, sfDir)); true } catch { case _: Throwable => false }
      val sec = (System.nanoTime() - t0) / 1e9
      val v = if (ok) sec else { fails(name) += 1; Double.MaxValue }
      best(name) = math.min(best.getOrElse(name, Double.MaxValue), v)
      // Diagnostic only (r13): per-execution trace on stderr, OFF unless
      // SPARK_GRAFT_BENCH_TRACE is set — lets a session-degradation
      // investigation see each iteration's raw time without touching the
      // recorded JSON (which stays min-of-iters).
      if (sys.env.contains("SPARK_GRAFT_BENCH_TRACE"))
        System.err.println(f"[trace] iter=$iter $name%s $sec%.3f")
      // Hygiene runs OUTSIDE the timed region: the next query should not
      // pay for (or benefit from) this one's cache/checkpoint leftovers.
      SessionHygiene.clear(spark)
      // Settle between full passes (GC + a short cooldown): the round-3
      // record showed whole-pass degradation — all three iterations of a
      // query can run under the same sustained pressure, which min-of-N
      // can't reject. The pause lets compaction/page-cache churn from the
      // previous pass drain before the next timing starts.
      if (name == names.last && iter < iters) { System.gc(); Thread.sleep(2000) }
    }
    val results = names.map(n => n -> (if (best(n) == Double.MaxValue) -1.0 else best(n)))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // a crashed query must be LOUD, not a smaller (better-looking) total:
    // its -1 stays in the per-query map and its name lands in "failed".
    // A query that failed in SOME iterations but has a successful min is
    // "flaky" (name -> failure count) — the per-query min must not let an
    // intermittent crash masquerade as healthy.
    val failed = results.collect { case (n, v) if v < 0 => n }
    failed.foreach(n => System.err.println(s"[bench] FAILED: $n"))
    val flaky = names.filter(n => fails(n) > 0 && !failed.contains(n))
    flaky.foreach(n => System.err.println(s"[bench] FLAKY: $n failed ${fails(n)}/$iters iterations"))
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val flakyJson = flaky.map(n => s"\"" + n + "\":" + fails(n)).mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // protocol is self-describing so the artifact can't mis-imply its
    // environment (a wrapping driver may stamp ITS host cpus on top; the
    // timings here were taken under exactly this master/shuffle/sink)
    val protocol = s""""protocol":{"master":"local[$cpus]","shuffle_partitions":$cpus,"iters":$iters,"measure":"min","sink":"noop"}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec",$protocol,"queries":$qs,"failed":$failedJson,"flaky":$flakyJson,"sf":"$sfDir"}""")
    // The driver records only the last 2000 chars of output, and the full
    // per-query JSON is bigger than that — the round-3 total was truncated
    // out of the artifact. Print a compact headline line LAST so any tail
    // window preserves the numbers that matter.
    def r2(v: Double): Double = math.round(v * 100) / 100.0
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(5)
      .map { case (k, v) => s"\"" + k + "\":" + r2(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r2(total)},"unit":"sec",$protocol,"n_queries":${names.size},"slowest5":$slowest,"n_failed":${failed.size},"n_flaky":${flaky.size},"sf":"$sfDir"}""")
    spark.stop()
  }
}
