package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two remaining 100 TB techniques from the survey's scale matrix,
  * locked as plan-level facts on this Spark version:
  *
  *  - BUCKETING: two tables bucketed on the join key co-locate — the
  *    join plans with ZERO Exchange, the technique that amortizes one
  *    write-time shuffle across every subsequent join of a fact table.
  *  - AQE SKEW SPLIT: a skewed build side is split at runtime into
  *    multiple tasks (plan marks the join `skew=true`) — the no-code-
  *    change complement to the explicit salting in [[ops.SkewJoin]].
  */
class ScaleTechniquesSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  private def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed tables co-locate the join: zero Exchange in the plan") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val customer = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_name"))
    orders.write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
    customer.write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")
    // forbid broadcast so the join must rely on the bucket partitioning
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
      val n = j.count()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucket-co-located join must not shuffle:\n$plan")
      assert(n == orders.count(), "every order has a customer")
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    import spark.implicits._
    // key 0 carries ~50k rows, keys 1..40 one row each -> one partition
    // dwarfs the rest once thresholds are scaled down to test size
    val skewed = (0 until 50000).map(i => (0L, i.toLong)) ++ (1 to 40).map(i => (i.toLong, 0L))
    val left = skewed.toDF("k", "v").repartition(4)
    val right = (0 to 40).map(i => (i.toLong, s"dim$i")).toDF("k", "name")
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val j = left.join(right, "k")
      // execute THIS frame so AQE finalizes its adaptive plan (count()
      // would plan a separate query and leave this one unexecuted)
      assert(j.collect().length == 50040)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE must mark the skewed join split:\n$plan")
    }
  }

  test("runtime bloom filter from a filtered dim prunes the fact side pre-shuffle") {
    // The third leg of the scale matrix: when a shuffle join's build side
    // carries a selective filter, Catalyst injects a bloom filter of the
    // surviving keys into the probe side's scan (InjectRuntimeFilter) —
    // at 100 TB that's the difference between shuffling the whole fact
    // table and shuffling the ~matching sliver. Thresholds here only
    // scale the heuristic to test-sized inputs; the rewrite itself is
    // stock Spark.
    val dim = spark.read.parquet(s"$dir/customer.parquet").filter(col("c_acctbal") > 9000)
    val fact = spark.read.parquet(s"$dir/orders.parquet")
    def join() = fact.join(dim, col("o_custkey") === col("c_custkey"))
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
      val j = join()
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"bloom filter must be injected on the fact side:\n${plan.take(1500)}")
      val filtered = j.collect().map(_.getAs[Long]("o_orderkey")).sorted
      val baseline = withConfsResult(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
        join().collect().map(_.getAs[Long]("o_orderkey")).sorted
      }
      assert(filtered.sameElements(baseline) && filtered.nonEmpty,
        "bloom pruning must not change the join result")
    }
  }

  test("q131 bloom decontamination: prefilter prunes the train gram stream, result stays exact") {
    // The explicit counterpart of the injected runtime filter above:
    // ops.Dedup.bloomDecontaminate folds the TEST gram set into one
    // bloom_filter_agg scalar and map-side-filters the train gram stream
    // before the exact verify join. Two claims, both gated: the filter
    // actually prunes (survivors are a strict minority of train grams —
    // otherwise the "100 TB shape" scaladoc is fiction), and pruning is
    // lossless (bloom has no false negatives, so the per-doc report
    // equals the naive full equi-join computed WITHOUT the bloom).
    val (trainGrams, survivors, testGrams) = ops.Dedup.bloomTrainSurvivors(spark, dir)
    val total = trainGrams.count()
    val kept = survivors.count()
    assert(kept > 0 && kept < total / 2,
      s"bloom prefilter must prune most train grams (kept $kept of $total)")
    val viaBloom = SparkEntry.queries("q131_bloom_decontaminate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val naive = trainGrams
      .join(testGrams, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"), min(col("gram")).as("first_gram"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(viaBloom.nonEmpty && viaBloom.sameElements(naive),
      "bloom prefilter must not change the decontamination report")
  }

  private def withConfsResult[A](kvs: (String, String)*)(body: => A): A = {
    var out: Option[A] = None
    withConfs(kvs: _*) { out = Some(body) }
    out.get
  }

  test("broadcast→shuffle degradation: joins stay row-identical with broadcasts forbidden") {
    // Several operators document "AQE broadcasts this side while small and
    // falls back to a shuffled join at scale, same code". This locks the
    // semantic half of that claim: forbidding broadcast joins entirely
    // (the 100 TB dimension-outgrows-the-threshold regime) must not
    // change a single row. Covers the funnel's per-user aggregate joins,
    // the outlier stats join, decontamination's band/verify joins, and
    // tfidf's vocabulary join.
    val queries = Seq("q78_funnel_stages", "q80_value_outliers",
      "q74_decontaminate", "q57_tfidf_topk")
    def rows(name: String): Set[String] =
      SparkEntry.queries(name)(spark, dir).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    queries.foreach { name =>
      val default = rows(name)
      val shuffled = withConfsResult(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") { rows(name) }
      assert(shuffled == default && default.nonEmpty, s"$name changed under shuffle joins")
    }
  }
}
