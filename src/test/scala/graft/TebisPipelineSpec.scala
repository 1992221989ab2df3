package graft

import java.nio.charset.Charset
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sink.{BatchedSink, DatapointsClient, SeriesPayload}
import graft.tebis._

/** Serializable test client; records into a JVM-static buffer so the
  * closure carries no test-suite state. */
class RecordingClient extends DatapointsClient {
  def insertMultiple(batch: Seq[SeriesPayload]): Unit = RecordingClient.add(batch)
  def batches: Seq[Seq[SeriesPayload]] = RecordingClient.all
}
object RecordingClient {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Seq[SeriesPayload]]()
  def add(b: Seq[SeriesPayload]): Unit = buf.add(b)
  def all: Seq[Seq[SeriesPayload]] = { import scala.jdk.CollectionConverters._; buf.asScala.toSeq }
  def reset(): Unit = buf.clear()
}

/** A write whose tasks fail at commit, after writing their files: the
  * crash of a job that is already past any planning-time check. */
class FailingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol(
      jobId, path, dynamicPartitionOverwrite) {
  override def commitTask(ctx: org.apache.hadoop.mapreduce.TaskAttemptContext)
      : org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage =
    throw new java.io.IOException("injected task commit failure")
}

/** Spark-level pipeline tests: distributed read, discovery, catalog,
  * unpivot equivalence, batched sink. */
class TebisPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark

  def writeFile(dir: Path, name: String, content: String): Path = {
    val p = dir.resolve(name)
    Files.write(p, content.getBytes(Charset.forName(TebisCsv.Encoding)))
    p
  }

  def tebisContent(series: Seq[(String, String)], t0: Long, nRows: Int): String = {
    val hdr = ";" + series.map { case (id, nm) => s"$id : $nm" }.mkString(";")
    val units = "u" + ";x" * series.size
    val rows = (0 until nRows).map { i =>
      s"${t0 + i};" + series.indices.map(j => s"$j,$i").mkString(";")
    }
    (hdr +: units +: rows).mkString("\n") + "\n"
  }

  test("distributed read: datapoints across multiple files") {
    val dir = Files.createTempDirectory("tebis")
    writeFile(dir, "TEBIS_FK_100.csv", tebisContent(Seq("33" -> "A"), 1000, 5))
    writeFile(dir, "TEBIS_FK_200.csv", tebisContent(Seq("34" -> "B", "35" -> "C"), 2000, 3))
    writeFile(dir, "broken_x_300.csv", ";1 : Z\nu;x\nBAD;1,5\n")
    val files = TebisCsv.files(spark, Seq(dir.toString)).collect()
    assert(files.length == 3)
    assert(files.count(_.error.isDefined) == 1)
    val dps = TebisCsv.datapoints(spark, Seq(dir.toString)).collect()
    assert(dps.length == 5 + 6)
    assert(dps.filter(_.externalId == "33").map(_.value).toSet == Set(0.0, 0.1, 0.2, 0.3, 0.4))
    assert(dps.filter(_.externalId == "34").forall(d => d.timestampMs >= 2000000L))
  }

  test("discovery: historical range filter + sort parity") {
    val dir = Files.createTempDirectory("disc")
    Seq("TEBIS_FK_300.csv", "TEBIS_FK_100.csv", "TEBIS_FK_200.csv", "plain.csv", "two_parts.csv")
      .foreach(writeFile(dir, _, "x"))
    // no bounds: all, sorted asc by trailing token (missing/<=2 parts -> 0)
    val all = Discovery.findHistoricalFiles(dir.toString).map(p => Paths.get(p).getFileName.toString)
    assert(all.takeRight(3) == Seq("TEBIS_FK_100.csv", "TEBIS_FK_200.csv", "TEBIS_FK_300.csv"))
    assert(all.take(2).toSet == Set("plain.csv", "two_parts.csv"))
    // exclusive bounds; <=2-part stems excluded when a bound is set
    val ranged = Discovery.findHistoricalFiles(dir.toString, timeFrom = Some(100L), timeUntil = Some(300L))
      .map(p => Paths.get(p).getFileName.toString)
    assert(ranged == Seq("TEBIS_FK_200.csv"))
    // bound of 0 = unset (python falsiness)
    val zero = Discovery.findHistoricalFiles(dir.toString, timeFrom = Some(0L))
    assert(zero.size == 5)
    // non-int trailing token with >2 parts is skipped when bounds set
    writeFile(dir, "a_b_xyz.csv", "x")
    val skipped = Discovery.findHistoricalFiles(dir.toString, timeFrom = Some(100L))
      .map(p => Paths.get(p).getFileName.toString)
    assert(skipped == Seq("TEBIS_FK_200.csv", "TEBIS_FK_300.csv"))
  }

  test("unpivotWide matches parseContent on clean data") {
    import spark.implicits._
    val wide = Seq(
      ("100", "1,5", "2,5"),
      ("200", "", "4,5"),
      ("300", "bad", "6,5")
    ).toDF("ts", "33 : A", "34 : B")
    val long = Datapoints.unpivotWide(wide, "ts")
      .select("externalId", "timestampMs", "value").as[(String, Long, Double)].collect().toSet
    val viaParse = TebisCsv.parseContent("f.csv",
      ";33 : A;34 : B\nu;x;y\n100;1,5;2,5\n200;;4,5\n300;bad;6,5\n")
      .datapoints.map(d => (d.externalId, d.timestampMs, d.value)).toSet
    assert(long == viaParse)
    assert(long == Set(("33", 100000L, 1.5), ("34", 100000L, 2.5), ("34", 200000L, 4.5), ("34", 300000L, 6.5)))
  }

  test("unpivotWide chunked matches unchunked") {
    import spark.implicits._
    val wide = Seq(("100", "1,0", "2,0", "3,0", "4,0")).toDF("ts", "a : A", "b : B", "c : C", "d : D")
    val a = Datapoints.unpivotWide(wide, "ts", chunk = 2).collect().toSet
    val b = Datapoints.unpivotWide(wide, "ts", chunk = 256).collect().toSet
    assert(a == b && a.size == 4)
  }

  test("wide file: 2000 series columns parse and unpivot (SURVEY §7.5#4)") {
    import spark.implicits._
    val n = 2000
    val hdr = ";" + (1 to n).map(i => s"w$i : W$i").mkString(";")
    val unit = "u" + ";x" * n
    val row = "100;" + (1 to n).map(i => s"$i,5").mkString(";")
    val f = TebisCsv.parseContent("wide.csv", s"$hdr\n$unit\n$row\n")
    assert(f.error.isEmpty && f.datapointCount == n && f.seriesCount == n)
    // declarative path: chunked Expand bounds expression size
    val wideDf = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row.fromSeq("100" +: (1 to n).map(i => s"$i,5"))),
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.StringType) +:
          (1 to n).map(i => org.apache.spark.sql.types.StructField(s"w$i : W$i", org.apache.spark.sql.types.StringType))))
    val long = Datapoints.unpivotWide(wideDf, "ts", chunk = 256)
    assert(long.count() == n)
    assert(long.agg(org.apache.spark.sql.functions.countDistinct("externalId")).head.getLong(0) == n)
  }

  test("gap detection: strictly-greater threshold, per series") {
    import spark.implicits._
    val dp = Seq(
      Datapoint("a", 1000L, 1.0), Datapoint("a", 2000L, 2.0), Datapoint("a", 10000L, 3.0),
      Datapoint("b", 1000L, 1.0), Datapoint("b", 9000L, 2.0)
    ).toDF
    val g = Datapoints.gaps(dp, 7999L).collect()
    assert(g.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet ==
      Set(("a", 2000L, 10000L, 8000L), ("b", 1000L, 9000L, 8000L)))
    // strictly-greater: with threshold 8000 neither 8000ms gap qualifies
    assert(Datapoints.gaps(dp, 8000L).count() == 0)
  }

  test("resample: LOCF onto regular grid") {
    import spark.implicits._
    val dp = Seq(
      Datapoint("a", 1000L, 1.0), Datapoint("a", 3500L, 2.0), Datapoint("a", 4000L, 3.0)
    ).toDF
    val r = Datapoints.resample(dp, 1000L).collect()
      .map(x => (x.getLong(1), x.getDouble(2))).sortBy(_._1)
    // slots: 1000,2000,3000 from p1; p2 (3500) covers no slot before 4000; p3 covers 4000
    assert(r.toSeq == Seq((1000L, 1.0), (2000L, 1.0), (3000L, 1.0), (4000L, 3.0)))
  }

  test("resample: negative (pre-1970) timestamps land on correct grid slots") {
    import spark.implicits._
    // -2000 is an exact grid multiple: ceil must keep it at -2000 (the
    // add-step-minus-1 idiom would shift it to -1000); -1500 ceils to -1000
    val dp = Seq(Datapoint("a", -2000L, 1.0), Datapoint("a", -1500L, 2.0), Datapoint("a", 500L, 3.0)).toDF
    val r = Datapoints.resample(dp, 1000L).collect()
      .map(x => (x.getLong(1), x.getDouble(2))).sortBy(_._1)
    // p1 covers -2000 (exact multiple, strictly before ceil(-1500)=-1000);
    // p2 covers -1000 and 0 (strictly before ceil(500)=1000); p3 covers 1000
    assert(r.toSeq == Seq((-2000L, 1.0), (-1000L, 2.0), (0L, 2.0), (1000L, 3.0)))
  }

  test("catalog: missing via broadcast anti-join, first-wins name, upsert") {
    import spark.implicits._
    // fileOrd is DISCOVERY order (numeric token rank): file 2 here would
    // sort after file 10 lexicographically, but discovery order wins
    val headers = Seq(
      (2, "33", "FIRST", 0),
      (2, "33", "SECOND", 1), // later column, same id -> name ignored
      (10, "33", "LATER_FILE", 0), // later file -> name ignored
      (2, "44", "NEW", 2),
      (10, "55", "KNOWN", 0)
    ).toDF("fileOrd", "externalId", "name", "colIndex")
    val catalog = Seq(TimeSeriesMeta("55", "KNOWN", "d")).toDS()
    val missing = Catalog.missing(headers, catalog).collect().sortBy(_.externalId)
    assert(missing.map(m => (m.externalId, m.name)).toSeq == Seq(("33", "FIRST"), ("44", "NEW")))
    assert(missing.forall(_.description == Catalog.AutoDescription))
    val after = Catalog.upsert(catalog, Catalog.missing(headers, catalog))
    assert(after.collect().map(_.externalId).sorted.toSeq == Seq("33", "44", "55"))
    // idempotent
    assert(Catalog.missing(headers, after).count() == 0)
  }

  test("catalog: load reads columns by name, whatever their order or extras on disk") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cat-load")
    val rows = Seq(("d1", "n1", "1", 7L), ("d2", "n2", "2", 8L))
    // reordered, with a column the catalog does not declare
    val reordered = dir.resolve("reordered").toString
    rows.toDF("description", "name", "externalId", "extra").write.parquet(reordered)
    val got = Catalog.load(spark, reordered)
    assert(got.schema == org.apache.spark.sql.Encoders.product[TimeSeriesMeta].schema)
    assert(got.collect().sortBy(_.externalId).toSeq ==
      Seq(TimeSeriesMeta("1", "n1", "d1"), TimeSeriesMeta("2", "n2", "d2")))
  }

  test("catalog: a save whose write job fails leaves the previous catalog readable and unchanged") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cat-fail")
    val path = dir.resolve("catalog.parquet").toString
    Catalog.save(Seq(TimeSeriesMeta("1", "n1", "d1"), TimeSeriesMeta("2", "n2", "d2")).toDS(), path)
    val want = Catalog.load(spark, path).collect().sortBy(_.externalId).toSeq
    def unchanged(): Unit = {
      assert(Catalog.load(spark, path).collect().sortBy(_.externalId).toSeq == want)
      assert(dir.toFile.list().toSeq == Seq("catalog.parquet"), "a failed save leaves no temp copy")
    }
    // the upsert reads the catalog it replaces; the throwing UDF fails its write job
    val boom = org.apache.spark.sql.functions.udf { (id: String) =>
      if (id == "3") throw new IllegalStateException("injected row failure")
      id
    }
    val created = Seq(TimeSeriesMeta("3", "n3", "d3")).toDS()
      .withColumn("externalId", boom($"externalId")).as[TimeSeriesMeta]
    intercept[Exception](Catalog.save(Catalog.upsert(Catalog.load(spark, path), created), path))
    unchanged()
    // every row computes; the job dies committing its output
    val key = "spark.sql.sources.commitProtocolClass"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, classOf[FailingCommitProtocol].getName)
    try intercept[Exception](Catalog.save(Catalog.upsert(Catalog.load(spark, path),
      Seq(TimeSeriesMeta("4", "n4", "d4")).toDS()), path))
    finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    unchanged()
  }

  test("postFile: <=1000 series per request, empty series skipped") {
    val cols = (1 to 2500).map(i =>
      SeriesColumn(s"id$i", s"n$i", i, Seq(DatapointValue(1000L, i.toDouble)))) :+
      SeriesColumn("empty", "e", 2501, Nil)
    val file = TebisFile("f.csv", cols, None)
    val client = new RecordingClient
    RecordingClient.reset()
    BatchedSink.postFile(file, client)
    assert(client.batches.map(_.size).sorted == Seq(500, 1000, 1000))
    assert(client.batches.flatten.map(_.externalId).toSet.size == 2500)
  }

  test("DataSourceV2 sink: format(graft-datapoints) posts batched payloads") {
    import spark.implicits._
    RecordingClient.reset()
    val dps = (1 to 30).flatMap(s => (1 to 4).map(i => Datapoint(s"v2s$s", i * 1000L, i.toDouble)))
    dps.toDS().toDF()
      .repartition(org.apache.spark.sql.functions.col("externalId"))
      // sorted input keeps every series whole across the writer's
      // incremental (memory-bounded) flushes
      .sortWithinPartitions("externalId", "timestampMs")
      .write.format("graft-datapoints")
      .option("clientClass", "graft.RecordingClient")
      .option("batchMax", "8")
      .mode("append").save()
    val all = RecordingClient.all
    assert(all.flatten.map(_.externalId).distinct.size == 30)
    assert(all.forall(_.size <= 8))
    assert(all.flatten.flatMap(_.datapoints).size == 120)
    // each series lands whole in one payload (repartitioned+sorted by key)
    assert(all.flatten.groupBy(_.externalId).forall(_._2.size == 1))
  }

  test("DataSourceV2 sink: unsorted input still delivers everything under bounded memory") {
    import spark.implicits._
    RecordingClient.reset()
    // interleaved series order forces mid-partition flushes of incomplete
    // series (the memory bound at work); delivery must stay complete —
    // splits are fine under the endpoint's (externalId, ts) upsert
    val dps = (1 to 4).flatMap(i => (1 to 10).map(s => Datapoint(s"u$s", i * 1000L, i.toDouble)))
    dps.toDS().toDF().coalesce(1)
      .write.format("graft-datapoints")
      .option("clientClass", "graft.RecordingClient")
      .option("batchMax", "3")
      .mode("append").save()
    val all = RecordingClient.all
    assert(all.forall(_.size <= 3))
    assert(all.flatten.flatMap(_.datapoints).size == 40)
    assert(all.flatten.map(_.externalId).distinct.size == 10)
    // more than one request before commit proves the incremental flush ran
    assert(all.size > (10 + 2) / 3)
  }
}
