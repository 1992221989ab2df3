package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Memo
import graft.queries.QueryDef
import graft.util.ParquetTables

/** [[ParquetTables]]: a table's schema is inferred once per table
  * version, so a warm frame build runs no footer-inference job, and any
  * change of the files or of the parquet-reading conf re-infers. */
class ParquetTablesSpec extends AnyFunSuite {
  private val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  /** The Spark jobs `body` starts on this thread: they carry a job tag; a
    * tagged sentinel job after it marks the end of the listener's queue. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"graft-pt-${java.util.UUID.randomUUID}"
    val (jobs, done) = (new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(",").toSet)
        if (tags(tag)) { jobs.incrementAndGet(); () }
        if (tags(s"$tag-end")) { done.incrementAndGet(); () }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
      sc.addJobTag(s"$tag-end")
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(s"$tag-end")
      val deadline = System.currentTimeMillis + 10000
      while (done.get == 0 && System.currentTimeMillis < deadline) Thread.sleep(10)
      assert(done.get == 1, "the sentinel job never reached the listener")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("the second t() of an unchanged table runs no Spark job") {
    ParquetTables.clear()
    assert(jobsOf(QueryDef.t(spark, sf, "orders")) == 1, "the first read infers")
    assert(jobsOf(QueryDef.t(spark, sf, "orders")) == 0, "a warm read must not infer")
    assert(QueryDef.t(spark, sf, "orders").schema ==
      ParquetTables.inferEveryRead(QueryDef.t(spark, sf, "orders")).schema)
  }

  test("a table overwritten at the same path is read with its new schema") {
    val dir = tempDir("pt-over")
    spark.range(3).toDF("a").write.parquet(s"$dir/x.parquet")
    assert(QueryDef.t(spark, dir, "x").columns.toSeq == Seq("a"))
    assert(jobsOf(QueryDef.t(spark, dir, "x")) == 0)
    spark.range(3).selectExpr("id AS b", "CAST(id AS STRING) AS c")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/x.parquet")
    val after = QueryDef.t(spark, dir, "x")
    assert(after.columns.toSeq == Seq("b", "c"))
    assert(after.collect().map(_.getString(1)).sorted.toSeq == Seq("0", "1", "2"))
  }

  test("flipping spark.sql.legacy.parquet.nanosAsLong re-infers") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val was = spark.conf.getOption(key)
    try {
      QueryDef.t(spark, sf, "events")
      assert(jobsOf(QueryDef.t(spark, sf, "events")) == 0)
      spark.conf.set(key, (!was.contains("true")).toString)
      assert(jobsOf(QueryDef.t(spark, sf, "events")) == 1, "a changed parquet conf must re-infer")
      assert(jobsOf(QueryDef.t(spark, sf, "events")) == 0)
    } finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a rebuilt Memo artifact is read with its new schema") {
    val dir = tempDir("pt-memo")
    spark.range(4).toDF("a").write.parquet(s"$dir/src.parquet")
    val name = s"pt-spec-${java.util.UUID.randomUUID}"
    val first = Memo.sharedFrame(spark, dir, "src", name)(QueryDef.t(spark, dir, "src"))
    assert(first.columns.toSeq == Seq("a"))
    // a new input version: the artifact is rebuilt at the same path
    spark.range(4).toDF("b").write.mode(SaveMode.Overwrite).parquet(s"$dir/src.parquet")
    val second = Memo.sharedFrame(spark, dir, "src", name)(QueryDef.t(spark, dir, "src"))
    assert(second.columns.toSeq == Seq("b"))
    assert(second.count() == 4)
    val art = s"${System.getProperty("java.io.tmpdir")}/graft-memo-shared-$name-" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_")
    Seq(art, s"$art.old").foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("suite_sf0.01's queries plan the same from cached schemas as from inferred ones") {
    // the queries of perfbench's suite_sf0.01 workload, one per module
    val suite = Seq("q15_epoch_ms", "q291_holt_forecast", "q152_hashed_classifier",
      "q38_train_split", "q43_dedup_simhash", "q61_label_centroids", "q83_frame_sample",
      "q119_freq_of_freq", "q75_zorder_stats", "q164_corpus_diff", "q92_clean_lines",
      "q251_chat_turns", "q261_bradley_terry", "q278_stride_sweep", "q299_column_profile_kmv")
    // expression ids, object hash codes and generated lambda-variable
    // names differ between any two builds
    def normalized(df: DataFrame): String =
      df.queryExecution.optimizedPlan.toString
        .replaceAll("#\\d+", "#N")
        .replaceAll("@[0-9a-f]+", "@H")
        .replaceAll("\\bx_\\d+", "x_N")
    def built(name: String): DataFrame = {
      SessionHygiene.clear(spark)
      SparkEntry.queries(name)(spark, sf)
    }
    suite.foreach(built) // warm every memo, trained index and schema
    suite.foreach { name =>
      val inferred = normalized(ParquetTables.inferEveryRead(built(name)))
      assert(normalized(built(name)) == inferred, s"$name plans differently from cached schemas")
    }
    SessionHygiene.clear(spark)
  }
}
