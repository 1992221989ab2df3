package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Pipeline, Similarity}
import graft.queries.{QueryDef, Tuning}

/** Session hygiene. Pinned-block lifecycle: operators that localCheckpoint
  * intermediates (Dedup q41/q42) leave pinned RDDs after their action —
  * the harness (Bench/Verify) must release them between queries, and
  * does. Session conf: operators leave it alone, queries change exactly
  * their declared [[Tuning]], and `SessionHygiene.clear` undoes it. */
class HygieneSpec extends AnyFunSuite {
  private val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  test("SessionHygiene.clear releases every pinned localCheckpoint block") {
    SessionHygiene.clear(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    SparkEntry.queries("q42_dedup_minhash_lsh")(spark, sf).count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "expected q42's localCheckpoint intermediates to be pinned after the action")
    SessionHygiene.clear(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "hygiene must leave zero pinned RDD blocks")
  }

  test("no oracle SQL carries an interpolated Scala null (val-init-order trap)") {
    // Twice this round a string-interpolated oracle captured a
    // not-yet-initialized val (`s"WITH $quantCte"` before quantCte's
    // declaration) and silently baked the literal text "null" into the
    // SQL. Engine SQL spells the SQL constant in UPPERCASE everywhere,
    // so a lowercase standalone `null` token can only be the trap.
    val bad = "\\bnull\\b".r
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(bad.findFirstIn(sql).isEmpty,
        s"$name's oracle contains a lowercase 'null' — an uninitialized " +
          "val was interpolated; make the SQL a def or lazy val")
    }
  }

  test("Catalog.save releases its own checkpoint blocks") {
    import spark.implicits._
    SessionHygiene.clear(spark)
    val dir = java.nio.file.Files.createTempDirectory("cat").toString
    val cat = Seq(graft.tebis.TimeSeriesMeta("a", "a", "d")).toDS()
    graft.tebis.Catalog.save(cat, s"$dir/catalog.parquet")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "save() must unpersist the snapshot it pinned")
  }

  test("the operators that once tuned the session leave its conf unchanged") {
    SessionHygiene.clear(spark)
    val before = spark.conf.getAll
    def unchanged[T](op: String)(run: => T): T = {
      val out = run
      assert(spark.conf.getAll == before, s"$op changed the session conf")
      out
    }
    val docs = QueryDef.t(spark, sf, "documents")
    unchanged("ngramJaccardPairs")(noop(Dedup.ngramJaccardPairs(docs, 0.8)))
    unchanged("minhashLshPairs")(noop(Dedup.minhashLshPairs(docs, 0.8)))
    unchanged("decontaminate")(noop(Dedup.decontaminate(docs, 0.8)))
    unchanged("bloomTrainSurvivors")(noop(Dedup.bloomTrainSurvivors(spark, sf)._2))
    unchanged("cdcChunks")(noop(Dedup.cdcChunks(docs)))
    unchanged("winnowing")(noop(Dedup.winnowing(docs)))
    unchanged("simhash")(noop(Dedup.simhash(docs)))
    unchanged("simhashDistanceHistogram")(noop(Dedup.simhashDistanceHistogram(docs)))
    unchanged("repCalibrationPairs")(noop(Dedup.repCalibrationPairs(docs)))
    unchanged("cleanTrainStages")(noop(Pipeline.cleanTrainStages(docs)._3))
    val q = unchanged("quantized")(
      Similarity.quantized(spark, sf).select("vec_id", "qv", "nrm").localCheckpoint())
    // a split index: even vectors as the base, odd ones as one appends batch
    val idx = java.nio.file.Files.createTempDirectory("hyg-idx").toString
    Similarity.saveIvfIndexOn(spark, q.filter(expr("vec_id % 2 = 0")), idx)
    Similarity.assignCells(q.filter(expr("vec_id % 2 = 1")),
        spark.read.parquet(s"$idx/centroids"), Similarity.IvfNprobe)
      .write.parquet(s"$idx/appends/batch_id=0")
    val base = Similarity.assignmentsRead(spark, idx)
    val app = graft.streaming.StreamState.read(spark, s"$idx/appends").get
    unchanged("ivfScoredPairsOn")(
      noop(Similarity.ivfScoredPairsOn(spark, base.unionByName(app))))
    unchanged("ivfScoredPairsSplit")(
      noop(Similarity.ivfScoredPairsSplit(spark, base, app)))
    unchanged("ivfScoredPairsSplitCapped")(
      noop(Similarity.ivfScoredPairsSplitCapped(spark, base, app)))
    SessionHygiene.clear(spark)
  }

  test("a tuned query changes exactly its declared conf, and clear undoes it") {
    val tuned = SparkEntry.modules.filter(_.tuning.keys.nonEmpty)
    assert(tuned.nonEmpty)
    tuned.foreach { q =>
      SessionHygiene.clear(spark)
      val before = spark.conf.getAll
      noop(q.fn(spark, sf))
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k)).map(k => k -> after(k)).toMap
      val declared = spark.newSession()
      q.tuning.applyTo(declared)
      assert(changed == q.tuning.keys.map(k => k -> declared.conf.get(k)).toMap,
        s"${q.name} changed conf beyond its declared tuning")
      SessionHygiene.clear(spark)
      assert(spark.conf.getAll == before, s"clear left ${q.name}'s tuning behind")
    }
  }

  test("the SHJ conversion threshold follows a raised advisory partition size") {
    val s = spark.newSession()
    def threshold =
      s.sessionState.conf.getConf(SQLConf.ADAPTIVE_MAX_SHUFFLE_HASH_JOIN_LOCAL_MAP_THRESHOLD)
    def advisory = s.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    Tuning.hashJoins.applyTo(s)
    assert(threshold == (64L << 20) && threshold >= advisory)
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256m")
    Tuning.hashJoins.applyTo(s)
    assert(threshold == (256L << 20), "AQE converts SMJ→SHJ only when threshold ≥ advisory")
    // and the conversion does fire: equal-sized, unbroadcastable sides
    // plan as SMJ statically and become SHJ in the AQE-final plan
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val joined = s.range(1000).join(s.range(1000).withColumnRenamed("id", "id2"),
      expr("id = id2"))
    joined.toLocalIterator().forEachRemaining(_ => ())
    val plan = joined.queryExecution.executedPlan
      .asInstanceOf[AdaptiveSparkPlanExec].executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") && !plan.contains("SortMergeJoin"), plan)
  }
}
