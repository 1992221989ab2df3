package graft

import java.nio.charset.Charset
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.tebis.TebisCsv

/** End-to-end historical CLI pipeline: discover -> parse -> catalog ->
  * parquet sink -> lifecycle. */
class MainSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark

  def write(dir: Path, name: String, content: String): Unit = {
    Files.write(dir.resolve(name), content.getBytes(Charset.forName(TebisCsv.Encoding)))
    ()
  }

  test("parseArgs mirrors reference flags") {
    val c = Main.parseArgs(Array("--input", "/in", "--from-time", "10", "--until-time", "20",
      "--move-failed", "--keep-finished", "--output", "/out", "--catalog", "/cat"))
    assert(c.input == "/in" && !c.live && c.fromTime.contains(10L) && c.untilTime.contains(20L))
    assert(c.moveFailed && c.keepFinished && c.output.contains("/out") && c.catalog.contains("/cat"))
    assertThrows[IllegalArgumentException](Main.parseArgs(Array("--nope")))
    assertThrows[IllegalArgumentException](Main.parseArgs(Array("--live")))
    // live mode creates no series, so a catalog is refused, not ignored
    val e = intercept[IllegalArgumentException](
      Main.parseArgs(Array("--input", "/in", "--live", "--catalog", "/cat")))
    assert(e.getMessage.contains("--live") && e.getMessage.contains("--catalog"))
  }

  test("--log DIR (and the reference's -d alias) parse to the log4j2 mapping") {
    val c = Main.parseArgs(Array("--input", "/in", "--log", "/var/log/graft"))
    assert(c.logDir.contains("/var/log/graft"))
    val d = Main.parseArgs(Array("--input", "/in", "-d", "logs"))
    assert(d.logDir.contains("logs"))
    assert(Main.parseArgs(Array("--input", "/in")).logDir.isEmpty)
  }

  test("api key: flag parsed, scrubbed from every Config rendering") {
    val c = Main.parseArgs(Array("--input", "/in", "--api-key", "s3cr3t", "--log-level", "INFO"))
    assert(c.apiKey.map(_.value).contains("s3cr3t"))
    assert(c.logLevel == "INFO")
    // the reference zeroes args.api_key before logging (main.py:85-86);
    // here the Secret wrapper makes any toString leak-proof by type
    assert(!c.toString.contains("s3cr3t"))
    assert(!c.apiKey.get.toString.contains("s3cr3t"))
  }

  test("prometheus sink: exposition-format body PUT to the gateway URL") {
    val in = Files.createTempDirectory("prom-in")
    write(in, "TEBIS_A_100.csv", ";41 : T9\nu;bar\n1550092501;1,5\n1550092502;2,5\n")
    write(in, "broken_x_300.csv", ";7 : Z\nu;x\nBAD;1,0\n")
    // recording transport: capture (url, body) with no network
    val sent = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val sink = new MetricsSink.Prometheus("http://gw:9091/", "csv ex",
      "proj-1", (url, body) => { sent += ((url, body)); () })
    val metrics = Metrics(spark.sparkContext, "csv_hist", sink)
    val lifecycle = new graft.tebis.Discovery.Lifecycle(None, None,
      spark.sparkContext.hadoopConfiguration)
    Main.runHistorical(spark,
      Main.Config(input = in.toString), metrics, lifecycle)

    // push-gateway URL contract: PUT /metrics/job/<job>, job path-encoded
    assert(sent.nonEmpty && sent.forall(_._1 == "http://gw:9091/metrics/job/csv%20ex"))
    // the FINAL snapshot's body, exposition text format 0.0.4:
    val body = sent.last._2
    // counters carry the client-library _total suffix + reference HELP
    assert(body.contains(
      "# HELP csv_hist_posted_data_points_total Number of datapoints posted since the extractor started running\n" +
      "# TYPE csv_hist_posted_data_points_total counter\n" +
      """csv_hist_posted_data_points_total{project_name="proj-1"} 2""" + "\n"))
    assert(body.contains(
      "# TYPE csv_hist_failed_processing_files_total counter\n" +
      """csv_hist_failed_processing_files_total{project_name="proj-1"} 1""" + "\n"))
    // gauges: bare name, gauge type, final batch accounting
    assert(body.contains(
      "# TYPE csv_hist_available_csv_files gauge\n" +
      """csv_hist_available_csv_files{project_name="proj-1"} 2""" + "\n"))
    assert(body.contains(
      """csv_hist_successfully_processed_files{project_name="proj-1"} 1""" + "\n"))
    assert(body.contains(
      """csv_hist_unprocessed_files{project_name="proj-1"} 0""" + "\n"))
    // every line is a comment or `name{labels} value` — nothing malformed
    val lineRe = """(# (HELP|TYPE) [a-zA-Z_:][a-zA-Z0-9_:]* .*|[a-zA-Z_:][a-zA-Z0-9_:]*\{project_name="proj-1"\} -?\d+)""".r
    body.split("\n").filter(_.nonEmpty).foreach { l =>
      assert(lineRe.pattern.matcher(l).matches(), s"malformed exposition line: $l")
    }
    // label values escape quotes/backslashes/newlines per the spec
    val esc = MetricsSink.Prometheus.exposition(Map("ns.m" -> 1L), "a\"b\\c\nd")
    assert(esc.contains("""ns_m{project_name="a\"b\\c\nd"} 1"""))
    // configure_prometheus parity: missing env trio -> logging fallback
    assert(MetricsSink.Prometheus.fromEnv("p", Map.empty)
      .isInstanceOf[MetricsSink.Logging])
    assert(MetricsSink.Prometheus.fromEnv("p", Map(
      "GRAFT_PROMETHEUS_GATEWAY" -> "http://gw:9091",
      "GRAFT_PROMETHEUS_JOBNAME" -> "j",
      "GRAFT_PROMETHEUS_USERNAME" -> "u",
      "GRAFT_PROMETHEUS_PASSWORD" -> "p"))
      .isInstanceOf[MetricsSink.Prometheus])
  }

  test("prometheus sink e2e: the production transport PUTs to a real localhost gateway") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    // in-process listener on an ephemeral loopback port (no egress):
    // closes the gap between "the spec asserts the body string" and "the
    // wire transport actually delivers it" — this path goes through
    // fromEnv -> Prometheus -> httpPut, the exact production stack
    final case class Req(method: String, uri: String, ctype: String,
      auth: String, body: String)
    val received = scala.collection.mutable.ArrayBuffer[Req]()
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        def hdr(k: String) = Option(ex.getRequestHeaders.getFirst(k)).getOrElse("")
        received.synchronized {
          received += Req(ex.getRequestMethod, ex.getRequestURI.toString,
            hdr("Content-Type"), hdr("Authorization"), body)
          ()
        }
        ex.sendResponseHeaders(200, -1)
        ex.close()
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val sink = MetricsSink.Prometheus.fromEnv("proj-e2e", Map(
        "GRAFT_PROMETHEUS_GATEWAY" -> s"http://127.0.0.1:$port",
        "GRAFT_PROMETHEUS_JOBNAME" -> "csv extractor",
        "GRAFT_PROMETHEUS_USERNAME" -> "u1",
        "GRAFT_PROMETHEUS_PASSWORD" -> "p1"))
      assert(sink.isInstanceOf[MetricsSink.Prometheus])
      val in = Files.createTempDirectory("prom-e2e")
      write(in, "TEBIS_A_100.csv", ";51 : T1\nu;bar\n1550092501;1,5\n")
      val metrics = Metrics(spark.sparkContext, "csv_hist", sink)
      val lifecycle = new graft.tebis.Discovery.Lifecycle(None, None,
        spark.sparkContext.hadoopConfiguration)
      Main.runHistorical(spark, Main.Config(input = in.toString), metrics, lifecycle)
      val reqs = received.synchronized(received.toSeq)
      // push cadence arrived over the wire: discovery + 1 file + final
      assert(reqs.size == 3, s"expected 3 pushes, got ${reqs.size}")
      assert(reqs.forall(_.method == "PUT"), "push-gateway replace semantics are PUT")
      assert(reqs.forall(_.uri == "/metrics/job/csv%20extractor"))
      assert(reqs.forall(_.ctype == "text/plain; version=0.0.4; charset=utf-8"))
      val basic = "Basic " + java.util.Base64.getEncoder
        .encodeToString("u1:p1".getBytes("UTF-8"))
      assert(reqs.forall(_.auth == basic), "basic auth from the env credentials")
      assert(reqs.last.body.contains(
        """csv_hist_posted_data_points_total{project_name="proj-e2e"} 1""" + "\n"))
      assert(reqs.last.body.contains(
        """csv_hist_processed_files_total{project_name="proj-e2e"} 1""" + "\n"))
    } finally server.stop(0)
  }

  test("historical run: client posts in one job, dead-letter, archive") {
    val in = Files.createTempDirectory("main-post-in")
    write(in, "TEBIS_A_100.csv", ";33 : T3\nu;bar\n1550092501;1,5\n1550092502;2,5\n")
    write(in, "TEBIS_B_200.csv", ";34 : T4\nu;bar\n1550092501;3,5\n")
    write(in, "broken_x_300.csv", ";9 : Z\nu;x\nBAD;1,0\n")
    val cfg = Main.Config(input = in.toString, moveFailed = true, keepFinished = true)
    val sink = new MetricsSink.Recording
    val metrics = Metrics(spark.sparkContext, "test_post", sink)
    val lifecycle = new graft.tebis.Discovery.Lifecycle(
      Some(s"$in/failed"), Some(s"$in/finished"), spark.sparkContext.hadoopConfiguration)
    // count the jobs this run starts: the test thread tags them with a
    // local property, which every job it submits carries
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.run") == tag)) {
          jobs.incrementAndGet(); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    RecordingClient.reset()
    spark.sparkContext.setLocalProperty("graft.test.run", tag)
    try Main.runHistorical(spark, cfg, metrics, lifecycle, new RecordingClient)
    finally spark.sparkContext.setLocalProperty("graft.test.run", null)
    try {
      // listener events arrive asynchronously
      val deadline = System.currentTimeMillis + 10000
      while (jobs.get == 0 && System.currentTimeMillis < deadline) Thread.sleep(20)
      Thread.sleep(200)
      assert(jobs.get == 1, s"jobs per historical run: ${jobs.get}")
    } finally spark.sparkContext.removeSparkListener(listener)

    // each good file's series posted exactly once; the bad file posts nothing
    val posted = RecordingClient.all.flatten
    assert(posted.map(_.externalId).sorted == Seq("33", "34"))
    assert(posted.find(_.externalId == "33").get.datapoints.map(_.value) == Seq(1.5, 2.5))
    assert(posted.find(_.externalId == "34").get.datapoints.map(_.value) == Seq(3.5))
    // lifecycle and accounting as on the parquet path
    assert(Files.list(in.resolve("finished")).count() == 2)
    assert(Files.exists(in.resolve("failed").resolve("broken_x_300.csv")))
    assert(metrics.failedFiles.value == 1 && metrics.processedFiles.value == 2)
    assert(metrics.postedDatapoints.value == 3 && metrics.createdTimeSeries.value == 0)
    assert(metrics.availableCsvFiles.get == 3 && metrics.unprocessedFiles.get == 0)
    assert(metrics.successfullyProcessedFiles.get == 2)
    assert(metrics.postedTimeSeriesCount.get == 1)
    assert(sink.pushes.size == 5) // discovery + 3 files + final
  }

  test("historical run: parquet sink, catalog upsert, dead-letter, archive") {
    val in = Files.createTempDirectory("main-in")
    val out = Files.createTempDirectory("main-out").resolve("dp").toString
    val cat = Files.createTempDirectory("main-cat").resolve("catalog").toString
    write(in, "TEBIS_A_100.csv", ";33 : T3\nu;bar\n1550092501;1,5\n1550092502;2,5\n")
    write(in, "TEBIS_B_200.csv", ";34 : T4\nu;bar\n1550092501;3,5\n")
    write(in, "broken_x_300.csv", ";9 : Z\nu;x\nBAD;1,0\n")
    val cfg = Main.Config(input = in.toString, moveFailed = true, keepFinished = true,
      output = Some(out), catalog = Some(cat))
    val sink = new MetricsSink.Recording
    val metrics = Metrics(spark.sparkContext, "test_hist", sink)
    val lifecycle = new graft.tebis.Discovery.Lifecycle(
      Some(s"$in/failed"), Some(s"$in/finished"), spark.sparkContext.hadoopConfiguration)
    Main.runHistorical(spark, cfg, metrics, lifecycle)

    // sink: day-partitioned parquet with all 3 good datapoints
    val dps = spark.read.parquet(out)
    assert(dps.count() == 3)
    assert(dps.columns.contains("day"))
    // catalog: both good series plus the failed file's pre-failure header
    // ("9" — the reference creates the series before the timestamp raise)
    val catalog = spark.read.parquet(cat).collect()
    assert(catalog.map(_.getAs[String]("externalId")).sorted.toSeq == Seq("33", "34", "9"))
    // lifecycle: good files archived, bad file dead-lettered
    assert(Files.list(in.resolve("finished")).count() == 2)
    assert(Files.exists(in.resolve("failed").resolve("broken_x_300.csv")))
    assert(metrics.failedFiles.value == 1 && metrics.processedFiles.value == 2)
    assert(metrics.postedDatapoints.value == 3 && metrics.createdTimeSeries.value == 3)
    // gauges (reference monitoring.py parity): 3 files were available, all
    // accounted; 2 succeeded; the last posted file had 1 valid series
    assert(metrics.availableCsvFiles.get == 3)
    assert(metrics.unprocessedFiles.get == 0)
    assert(metrics.successfullyProcessedFiles.get == 2)
    assert(metrics.postedTimeSeriesCount.get == 1)
    assert(metrics.snapshot()("test_hist.available_csv_files") == 3)
    // push hook (reference monitoring.py push cadence): one post-discovery
    // push, one per file, one final — and the LAST push carries the final
    // counter/gauge values
    assert(sink.pushes.size == 5) // discovery + 3 files + final
    val last = sink.last.get
    assert(last("test_hist.posted_data_points") == 3)
    assert(last("test_hist.processed_files") == 2)
    assert(last("test_hist.failed_processing_files") == 1)
    assert(last("test_hist.unprocessed_files") == 0)
    assert(last("test_hist.successfully_processed_files") == 2)

    // second run over the (now empty) input is a no-op, catalog unchanged
    Main.runHistorical(spark, cfg, metrics, lifecycle)
    assert(spark.read.parquet(cat).count() == 3)

    // incremental run WITH new files against the existing catalog:
    // upsert must not trip overwrite-while-reading, new series appended
    write(in, "TEBIS_C_300.csv", ";35 : T5\nu;bar\n1550092503;9,0\n")
    Main.runHistorical(spark, cfg, metrics, lifecycle)
    val cat2 = spark.read.parquet(cat).collect()
    assert(cat2.map(_.getAs[String]("externalId")).sorted.toSeq == Seq("33", "34", "35", "9"))
    assert(spark.read.parquet(out).count() == 4)
  }
}
