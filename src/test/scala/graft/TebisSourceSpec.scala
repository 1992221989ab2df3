package graft

import java.nio.charset.Charset
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.tebis.{TebisCsv, TebisFile}

/** DataSourceV2 read source: `spark.read.format("tebis")` must agree
  * row-for-row with the typed TebisCsv path, plan one partition per file,
  * prune columns, and absorb externalId filters before value parsing. */
class TebisSourceSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark

  private def writeFile(dir: Path, name: String, content: String): Path = {
    val p = dir.resolve(name)
    Files.write(p, content.getBytes(Charset.forName(TebisCsv.Encoding)))
    p
  }

  private def tebisContent(series: Seq[(String, String)], t0: Long, nRows: Int): String = {
    val hdr = ";" + series.map { case (id, nm) => s"$id : $nm" }.mkString(";")
    val units = "u" + ";x" * series.size
    val rows = (0 until nRows).map { i =>
      s"${t0 + i};" + series.indices.map(j => s"$j,$i").mkString(";")
    }
    (hdr +: units +: rows).mkString("\n") + "\n"
  }

  private lazy val dir: Path = {
    val d = Files.createTempDirectory("tebis-src")
    writeFile(d, "TEBIS_FK_100.csv", tebisContent(Seq("33" -> "A"), 1000, 5))
    writeFile(d, "TEBIS_FK_200.csv", tebisContent(Seq("34" -> "B", "35" -> "C"), 2000, 3))
    writeFile(d, "broken_x_300.csv", ";1 : Z\nu;x\nBAD;1,5\n")
    writeFile(d, "notes.txt", "not a csv")
    d
  }

  test("reads long-form datapoints identical to the typed TebisCsv path") {
    val df = spark.read.format("tebis").load(dir.toString)
    val got = df.select("externalId", "timestampMs", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val want = TebisCsv.datapoints(spark, Seq(dir.toString)).collect()
      .map(d => (d.externalId, d.timestampMs, d.value)).toSet
    assert(got == want && want.size == 11, "dead-lettered file contributes zero rows")
    // provenance columns survive too
    val names = df.select("path", "name").collect().map(r => r.getString(1)).toSet
    assert(names == Set("A", "B", "C"))
  }

  test("load(paths*) keeps each root whole: a comma in a directory name splits nothing") {
    val root = Files.createTempDirectory("tebis-roots")
    val ab = Files.createDirectory(root.resolve("a,b"))
    writeFile(ab, "TEBIS_FK_100.csv", tebisContent(Seq("33" -> "A"), 1000, 5))
    val y = Files.createDirectory(root.resolve("y"))
    writeFile(y, "TEBIS_FK_200.csv", tebisContent(Seq("34" -> "B"), 2000, 3))
    val df = spark.read.format("tebis").load(ab.toString, y.toString)
    assert(df.rdd.getNumPartitions == 2)
    assert(df.groupBy("externalId").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("33" -> 5L, "34" -> 3L))
  }

  test("one input partition per file — cluster-parallel by construction") {
    val df = spark.read.format("tebis").load(dir.toString)
    assert(df.rdd.getNumPartitions == 3, "3 csv files => 3 partitions (txt ignored)")
  }

  test("externalId pushdown skips whole files by header peek") {
    // id 33 lives only in TEBIS_FK_100 — the other two files must not
    // even be planned (header line read driver-side, body untouched)
    val df = spark.read.format("tebis").load(dir.toString)
      .filter("externalId = '33'")
    assert(df.collect().length == 5)
    assert(df.rdd.getNumPartitions == 1, "two of three files prune by header")
    // broken header parses to Nil -> conservatively kept
    val broken = spark.read.format("tebis").load(dir.toString)
      .filter("externalId = '1'") // broken_x_300 names id 1 but dead-letters
    assert(broken.collect().isEmpty, "dead-lettered file still yields no rows")
  }

  test("SupportsRuntimeFiltering: a join-delivered id set prunes files at execution") {
    import graft.sources.{TebisDataSource, TebisScan}
    import org.apache.spark.sql.sources.{Filter, In}
    val scan = new TebisScan(Seq(dir.toString), TebisDataSource.Schema, None)
    assert(scan.planInputPartitions().length == 3, "no filter: all files planned")
    scan.filter(Array[Filter](In("externalId", Array[Any]("34", "35"))))
    assert(scan.planInputPartitions().length == 1,
      "runtime ids {34,35} keep only TEBIS_FK_200 (broken_x_300's header " +
        "parses to id 1, so it proves its own absence and is skipped)")
    assert(TebisDataSource.lastPlanned.get() == ((1, 3)))
    // runtime set intersects a STATIC pushed set
    val both = new TebisScan(Seq(dir.toString), TebisDataSource.Schema, Some(Set("33", "34")))
    both.filter(Array[Filter](In("externalId", Array[Any]("34", "35"))))
    val kept = both.planInputPartitions()
    assert(kept.length == 1 && TebisDataSource.lastPlanned.get() == ((1, 3)),
      "effective ids {34} keep only the file whose header names 34")
    // e2e: a broadcast dim join returns exactly the dim-matched rows
    val dim = spark.createDataFrame(Seq(Tuple1("34"))).toDF("externalId")
    val joined = spark.read.format("tebis").load(dir.toString)
      .join(org.apache.spark.sql.functions.broadcast(dim), "externalId")
    assert(joined.select("externalId").collect().map(_.getString(0)).toSet == Set("34"))
  }

  test("column pruning reaches the scan") {
    val df = spark.read.format("tebis").load(dir.toString).select("value")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<value:double>"), s"pruned schema must reach the scan:\n$plan")
  }

  test("externalId filter is absorbed by the scan and prunes whole columns") {
    val df = spark.read.format("tebis").load(dir.toString)
      .filter("externalId = '34'").select("externalId", "value")
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("pushedExternalIds=[34]"), s"filter must reach the source:\n$desc")
    val got = df.collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(got == Set(("34", 0.0), ("34", 0.1), ("34", 0.2)))
    // IN-lists push too, and conjuncts intersect
    val in = spark.read.format("tebis").load(dir.toString)
      .filter("externalId IN ('33','35') AND externalId IN ('35','99')")
    assert(in.queryExecution.executedPlan.toString.contains("pushedExternalIds=[35]"))
    assert(in.select("externalId").collect().map(_.getString(0)).toSet == Set("35"))
  }

  test("SQL over the source: aggregate per series") {
    spark.read.format("tebis").load(dir.toString).createOrReplaceTempView("tebis_dp")
    val got = spark.sql(
      "SELECT externalId, count(*) AS n, min(timestampMs) AS t0 FROM tebis_dp GROUP BY externalId ORDER BY externalId")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("33", 5L, 1000000L), ("34", 3L, 2000000L), ("35", 3L, 2000000L)))
  }

  test("aggregate pushdown: count/min/max reach the scan, partial rows per file, answers unchanged") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("tebis").load(dir.toString)
      .groupBy("externalId")
      .agg(count(lit(1)).as("n"), min("timestampMs").as("t0"),
        max("timestampMs").as("t1"), min("value").as("v0"), max("value").as("v1"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates:"), s"aggregation must reach the scan:\n$plan")
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getDouble(4), r.getDouble(5))).sortBy(_._1).toSeq
    // series 33: 5 pts 0,0..0,4 (value j,i with j=0); 34: 0,0..0,2; 35: 1,0..1,2
    assert(got == Seq(
      ("33", 5L, 1000000L, 1004000L, 0.0, 0.4),
      ("34", 3L, 2000000L, 2002000L, 0.0, 0.2),
      ("35", 3L, 2000000L, 2002000L, 1.0, 1.2)), s"got $got")
    // the partial rows the scan emits are group-cardinality, not
    // datapoint-volume: 3 files x their local groups = 1 + 2 = 3 rows
    // (the dead-lettered file emits none)
    val partialRows = spark.read.format("tebis").load(dir.toString)
      .groupBy("externalId").agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan.collectLeaves().head.execute().count()
    assert(partialRows == 3L, s"scan must emit partial aggregate rows, got $partialRows")

    // global (no group-by) count(*) also pushes and agrees
    val g = spark.read.format("tebis").load(dir.toString).agg(count(lit(1)).as("n"))
    assert(g.queryExecution.executedPlan.toString.contains("PushedAggregates:"))
    assert(g.head().getLong(0) == 11L)

    // composes with the externalId filter pushdown
    val f = spark.read.format("tebis").load(dir.toString)
      .filter(col("externalId") === "34")
      .groupBy("externalId").agg(count(lit(1)).as("n"))
    val fPlan = f.queryExecution.executedPlan.toString
    assert(fPlan.contains("PushedAggregates:") && fPlan.contains("pushedExternalIds=[34]"))
    assert(f.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("34", 3L)))

    // an unsupported aggregate (avg) falls back to the row scan, same answer
    val avg = spark.read.format("tebis").load(dir.toString)
      .groupBy("externalId").agg(sum("value").as("s"))
    assert(!avg.queryExecution.executedPlan.toString.contains("PushedAggregates:"),
      "sum must NOT push (not in the supported set) and must still answer")
    assert(avg.collect().length == 3)
  }

  test("the source reads through the session's Hadoop conf: a scheme only it knows") {
    import org.apache.spark.sql.functions._
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.tebistest.impl", classOf[SchemeLocalFs].getName)
    // no FileSystem cache: every open has to find the scheme in its own conf
    hc.set("fs.tebistest.impl.disable.cache", "true")
    try {
      def read(root: String) = spark.read.format("tebis").load(root)
      def rows(root: String) = read(root).select("externalId", "timestampMs", "value")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val scheme = s"tebistest://${dir.toUri.getPath}"
      assert(rows(scheme) == rows(dir.toString) && rows(dir.toString).size == 11)
      // the header peek (pushed id) and the pushed-aggregate reader too
      assert(read(scheme).filter("externalId = '33'").count() == 5)
      val perSeries = (root: String) => read(root).groupBy("externalId")
        .agg(count(lit(1)).as("n")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(perSeries(scheme) == Map("33" -> 5L, "34" -> 3L, "35" -> 3L))
    } finally {
      hc.unset("fs.tebistest.impl")
      hc.unset("fs.tebistest.impl.disable.cache")
    }
  }

  test("TebisCsv.files and the live stream read through the session's Hadoop conf too") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.tebistest.impl", classOf[SchemeLocalFs].getName)
    hc.set("fs.tebistest.impl.disable.cache", "true")
    try {
      type Point = (String, Long, Double)
      def points(fs: Seq[TebisFile]): Set[Point] = fs.filter(_.error.isEmpty)
        .flatMap(_.datapoints).map(d => (d.externalId, d.timestampMs, d.value)).toSet
      val local = points(TebisCsv.files(spark, Seq(dir.toString)).collect().toSeq)
      val scheme = s"tebistest://${dir.toUri.getPath}"
      assert(points(TebisCsv.files(spark, Seq(scheme)).collect().toSeq) == local && local.size == 11)
      // live tasks open each settled file through the carried conf
      val in = Files.createTempDirectory("tebis-scheme-live")
      Files.list(dir).forEach(f => if (f.toString.endsWith(".csv")) Files.copy(f, in.resolve(f.getFileName)))
      val ckpt = Files.createTempDirectory("tebis-scheme-ckpt")
      RecordingClient.reset()
      val q = graft.streaming.LiveStream.start(spark,
        graft.streaming.LiveStream.Config(s"tebistest://${in.toUri.getPath}", ckpt.toString,
          triggerMs = 100L),
        new RecordingClient)
      try q.processAllAvailable() finally q.stop()
      val live = RecordingClient.all.flatten
        .flatMap(s => s.datapoints.map(d => (s.externalId, d.timestampMs, d.value))).toSet
      assert(live == local)
    } finally {
      hc.unset("fs.tebistest.impl")
      hc.unset("fs.tebistest.impl.disable.cache")
    }
  }
}

/** The local file system under the `tebistest` scheme, which only a conf
  * naming this class can resolve. */
class SchemeLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("tebistest:///")
  override def getScheme: String = "tebistest"
}
