package graft

import java.nio.charset.Charset
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sink.{DatapointsClient, SeriesPayload}
import graft.streaming.{Anomaly, EventStream, LiveStream}
import graft.tebis.TebisCsv

/** When each series was posted (local-mode tasks share this JVM). */
object PostTimes {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
  def add(extId: String): Unit = { buf.add(extId -> System.currentTimeMillis); () }
  def all: Seq[(String, Long)] = { import scala.jdk.CollectionConverters._; buf.asScala.toSeq }
  def reset(): Unit = buf.clear()
}

class TimedClient extends DatapointsClient {
  def insertMultiple(batch: Seq[SeriesPayload]): Unit = batch.foreach(s => PostTimes.add(s.externalId))
}

/** Records like [[RecordingClient]], but throws on a batch holding `extId`. */
class FailingClient(extId: String) extends DatapointsClient {
  def insertMultiple(batch: Seq[SeriesPayload]): Unit =
    if (batch.exists(_.externalId == extId)) throw new java.io.IOException(s"post of $extId refused")
    else RecordingClient.add(batch)
}

/** Jobs per (query id, batch id), from the local properties the
  * micro-batch execution sets on every job it runs. */
class BatchJobs extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[(String, String), Int]()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).foreach { props =>
      val query = props.getProperty("sql.streaming.queryId")
      val batch = props.getProperty("streaming.sql.batchId")
      if (query != null && batch != null) { jobs.merge((query, batch), 1, _ + _); () }
    }

  /** Job counts of `q`'s batches that had input. */
  def counts(q: StreamingQuery): Seq[Int] = {
    val batches = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId.toString).toSeq
    def now = batches.map(b => Option(jobs.get((q.id.toString, b))).getOrElse(0))
    // listener events arrive asynchronously
    val deadline = System.currentTimeMillis + 10000
    while (now.contains(0) && System.currentTimeMillis < deadline) Thread.sleep(20)
    Thread.sleep(200)
    now
  }
}

/** Structured Streaming specs: the live TEBIS pipeline and windowed
  * event-stream aggregates. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark

  def writeTebis(dir: Path, name: String, t0: Long, n: Int, extId: String): Unit = {
    val rows = (1 to n).map(i => s"${t0 + i};0,$i").mkString("\n")
    Files.write(dir.resolve(name),
      s";$extId : S\nu;bar\n$rows\n".getBytes(Charset.forName(TebisCsv.Encoding)))
    ()
  }

  test("live stream: files parsed, batched posts, checkpointed") {
    val dir = Files.createTempDirectory("live-in")
    val ckpt = Files.createTempDirectory("live-ckpt")
    writeTebis(dir, "TEBIS_A_100.csv", 1000, 5, "1")
    writeTebis(dir, "TEBIS_B_200.csv", 2000, 3, "2")
    Files.write(dir.resolve("broken_x_50.csv"),
      ";9 : Z\nu;x\nBAD;1,0\n".getBytes(Charset.forName(TebisCsv.Encoding)))
    RecordingClient.reset()
    val sink = new MetricsSink.Recording
    val metrics = Metrics(spark.sparkContext, "test_live", sink)
    val q = LiveStream.start(spark,
      LiveStream.Config(dir.toString, ckpt.toString, triggerMs = 100L,
        failedDir = Some(dir.resolve("failed").toString)),
      new RecordingClient, Some(metrics))
    try {
      q.processAllAvailable()
      val posted = RecordingClient.all.flatten
      assert(posted.map(_.externalId).toSet == Set("1", "2"))
      assert(posted.flatMap(_.datapoints).size == 8)
      // gauges are DRIVER-set (an executor-closure .set would mutate a
      // deserialized copy): each posted file here has exactly 1 series
      assert(metrics.postedTimeSeriesCount.get == 1)
      assert(metrics.processedFiles.value == 2 && metrics.failedFiles.value == 1)
      // parse failure dead-lettered out of the source dir
      assert(Files.exists(dir.resolve("failed").resolve("broken_x_50.csv")))
      // new file arrives -> next micro-batch picks it up exactly once
      writeTebis(dir, "TEBIS_C_300.csv", 3000, 2, "3")
      q.processAllAvailable()
      val all = RecordingClient.all.flatten
      assert(all.flatMap(_.datapoints).size == 10)
      assert(all.count(_.externalId == "3") == 1)
      // per-poll push (reference csv_extractor.py:41): one snapshot per
      // micro-batch, the last carrying the final counters
      assert(sink.pushes.nonEmpty)
      val last = sink.last.get
      assert(last("test_live.processed_files") == 3)
      assert(last("test_live.failed_processing_files") == 1)
    } finally q.stop()
  }

  test("live stream: one job per micro-batch, mixed batch accounted on the driver") {
    val dir = Files.createTempDirectory("live1-in")
    val ckpt = Files.createTempDirectory("live1-ckpt")
    writeTebis(dir, "TEBIS_A_100.csv", 1000, 5, "1")
    writeTebis(dir, "TEBIS_B_200.csv", 2000, 3, "2")
    Files.write(dir.resolve("broken_x_50.csv"),
      ";9 : Z\nu;x\nBAD;1,0\n".getBytes(Charset.forName(TebisCsv.Encoding)))
    RecordingClient.reset()
    val sink = new MetricsSink.Recording
    val metrics = Metrics(spark.sparkContext, "test_live1", sink)
    val listener = new BatchJobs
    spark.sparkContext.addSparkListener(listener)
    val q = LiveStream.start(spark,
      LiveStream.Config(dir.toString, ckpt.toString, triggerMs = 100L,
        failedDir = Some(dir.resolve("failed").toString)),
      new RecordingClient, Some(metrics))
    try {
      q.processAllAvailable()
      writeTebis(dir, "TEBIS_C_300.csv", 3000, 2, "3")
      q.processAllAvailable()
      val counts = listener.counts(q)
      assert(counts.size == 2)
      assert(counts == Seq(1, 1), s"jobs per micro-batch: $counts")
      // the first micro-batch held all three files: its snapshot
      assert(sink.pushes.size == 2)
      assert(sink.pushes.head == Map(
        "test_live1.posted_data_points" -> 8L,
        "test_live1.created_time_series" -> 0L,
        "test_live1.failed_processing_files" -> 1L,
        "test_live1.processed_files" -> 2L,
        "test_live1.available_csv_files" -> 0L,
        "test_live1.unprocessed_files" -> 0L,
        "test_live1.successfully_processed_files" -> 2L,
        "test_live1.posted_time_series_count" -> 1L,
        "test_live1.oldest_pending_file_age_ms" -> 0L))
      assert(metrics.processedFiles.value == 3 && metrics.failedFiles.value == 1)
      assert(metrics.postedDatapoints.value == 10 && metrics.postedTimeSeriesCount.get == 1)
      assert(sink.last.get("test_live1.successfully_processed_files") == 1)
      assert(RecordingClient.all.flatten.flatMap(_.datapoints).size == 10)
      assert(Files.exists(dir.resolve("failed").resolve("broken_x_50.csv")))
      assert(!Files.exists(dir.resolve("TEBIS_A_100.csv")) && !Files.exists(dir.resolve("TEBIS_C_300.csv")))
    } finally { q.stop(); spark.sparkContext.removeSparkListener(listener) }
  }

  test("live stream: a file commits when its own task has posted, before the batch's last settle") {
    val dir = Files.createTempDirectory("early-in")
    val ckpt = Files.createTempDirectory("early-ckpt")
    writeTebis(dir, "TEBIS_E_100.csv", 1000, 3, "e1")
    writeTebis(dir, "TEBIS_L_200.csv", 2000, 2, "e2")
    val early = dir.resolve("TEBIS_E_100.csv")
    val now = System.currentTimeMillis
    // settled long ago: read at once
    Files.setLastModifiedTime(early, FileTime.fromMillis(now - 10000))
    // an hour ahead: settles 1.5 s after its task first sees it, so the
    // two deadlines of this one micro-batch are >= 1 s apart
    Files.setLastModifiedTime(dir.resolve("TEBIS_L_200.csv"), FileTime.fromMillis(now + 3600000))
    PostTimes.reset()
    @volatile var earlyGoneAt = 0L
    val watcher = new Thread(() => {
      while (Files.exists(early)) Thread.sleep(2)
      earlyGoneAt = System.currentTimeMillis
    })
    watcher.setDaemon(true)
    watcher.start()
    val listener = new BatchJobs
    spark.sparkContext.addSparkListener(listener)
    val q = LiveStream.start(spark,
      LiveStream.Config(dir.toString, ckpt.toString, triggerMs = 100L, settleMs = 1500L),
      new TimedClient)
    try {
      q.processAllAvailable()
      watcher.join(10000)
      assert(listener.counts(q) == Seq(1), "both files in one micro-batch, run by one job")
      assert(PostTimes.all.map(_._1).sorted == Seq("e1", "e2"), "each file posted exactly once")
      val latePostedAt = PostTimes.all.find(_._1 == "e2").get._2
      assert(earlyGoneAt > 0 && earlyGoneAt < latePostedAt,
        s"early file deleted ${earlyGoneAt - latePostedAt} ms after the late file's settled post")
      assert(Files.list(dir).noneMatch(_.toString.endsWith(".csv")))
    } finally { q.stop(); spark.sparkContext.removeSparkListener(listener) }
  }

  test("live stream: a failed post keeps the batch's finished files committed across a restart") {
    val dir = Files.createTempDirectory("fail-in")
    val ckpt = Files.createTempDirectory("fail-ckpt")
    val dead = dir.resolveSibling(dir.getFileName.toString + "_failed")
    writeTebis(dir, "TEBIS_G_100.csv", 1000, 3, "g1")
    writeTebis(dir, "TEBIS_F_200.csv", 2000, 2, "f1")
    Files.write(dir.resolve("broken_x_50.csv"),
      ";9 : Z\nu;x\nBAD;1,0\n".getBytes(Charset.forName(TebisCsv.Encoding)))
    val now = System.currentTimeMillis
    Files.list(dir).forEach(f => Files.setLastModifiedTime(f, FileTime.fromMillis(now - 10000)))
    // the failing file settles last, so the other two tasks finish first
    Files.setLastModifiedTime(dir.resolve("TEBIS_F_200.csv"), FileTime.fromMillis(now + 3600000))
    val cfg = LiveStream.Config(dir.toString, ckpt.toString, triggerMs = 100L,
      failedDir = Some(dead.toString))
    RecordingClient.reset()
    val q1 = LiveStream.start(spark, cfg, new FailingClient("f1"))
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException](q1.processAllAvailable())
    finally q1.stop()
    // the finished tasks' files were committed: posted and deleted, or
    // dead-lettered; the failed post's file stays for the replay
    assert(RecordingClient.all.flatten.map(_.externalId) == Seq("g1"))
    assert(!Files.exists(dir.resolve("TEBIS_G_100.csv")))
    assert(Files.exists(dead.resolve("broken_x_50.csv")))
    assert(Files.exists(dir.resolve("TEBIS_F_200.csv")))

    // restart from the checkpoint: the batch replays, its committed files
    // are skipped, and the failed file is posted once
    RecordingClient.reset()
    val sink = new MetricsSink.Recording
    val metrics = Metrics(spark.sparkContext, "test_fail", sink)
    val q2 = LiveStream.start(spark, cfg, new RecordingClient, Some(metrics))
    try q2.processAllAvailable() finally q2.stop()
    assert(RecordingClient.all.flatten.map(_.externalId) == Seq("f1"))
    assert(metrics.processedFiles.value == 1 && metrics.failedFiles.value == 0)
    assert(Files.list(dead).map(_.getFileName.toString).toArray.toSeq == Seq("broken_x_50.csv"))
    assert(Files.list(dir).noneMatch(_.toString.endsWith(".csv")))
  }

  test("live stream: lag gauge reads the age of the oldest file a batch left in the folder") {
    val dir = Files.createTempDirectory("lag-in")
    val ckpt = Files.createTempDirectory("lag-ckpt")
    val now = System.currentTimeMillis
    // one file more than a trigger takes: newest first, so the oldest waits
    (0 to LiveStream.FilesPerTrigger).foreach { i =>
      writeTebis(dir, s"TEBIS_L_${100 + i}.csv", 1000L * (i + 1), 1, s"l$i")
      Files.setLastModifiedTime(dir.resolve(s"TEBIS_L_${100 + i}.csv"),
        FileTime.fromMillis(now - 60000 + 1000L * i))
    }
    RecordingClient.reset()
    val sink = new MetricsSink.Recording
    val q = LiveStream.start(spark,
      LiveStream.Config(dir.toString, ckpt.toString, triggerMs = 100L),
      new RecordingClient, Some(Metrics(spark.sparkContext, "test_lag", sink)))
    try q.processAllAvailable() finally q.stop()
    val first = sink.pushes.head
    assert(first("test_lag.available_csv_files") == 1)
    assert(first("test_lag.oldest_pending_file_age_ms") >= 60000L)
    assert(sink.last.get("test_lag.oldest_pending_file_age_ms") == 0L)
    assert(RecordingClient.all.flatten.size == LiveStream.FilesPerTrigger + 1)
  }

  test("live stream: folder gauges skip the hidden files the source never reads") {
    val dir = Files.createTempDirectory("hidden-in")
    val ckpt = Files.createTempDirectory("hidden-ckpt")
    writeTebis(dir, "TEBIS_H_100.csv", 1000, 2, "h1")
    // '_'-prefixed: Spark's file index skips it, so it is never pending
    writeTebis(dir, "_partial.csv", 2000, 2, "h2")
    RecordingClient.reset()
    val sink = new MetricsSink.Recording
    val metrics = Metrics(spark.sparkContext, "test_hidden", sink)
    val q = LiveStream.start(spark,
      LiveStream.Config(dir.toString, ckpt.toString, triggerMs = 100L),
      new RecordingClient, Some(metrics))
    try q.processAllAvailable() finally q.stop()
    assert(RecordingClient.all.flatten.map(_.externalId) == Seq("h1"))
    assert(Files.exists(dir.resolve("_partial.csv")))
    val last = sink.last.get
    assert(last("test_hidden.processed_files") == 1)
    assert(last("test_hidden.available_csv_files") == 0)
    assert(last("test_hidden.unprocessed_files") == 0)
  }

  test("live stream: settle window reads a slow writer's final bytes") {
    val dir = Files.createTempDirectory("settle-in")
    val ckpt = Files.createTempDirectory("settle-ckpt")
    val enc = Charset.forName(TebisCsv.Encoding)
    val partial = ";7 : S\nu;bar\n1001;0,1\n"
    Files.write(dir.resolve("TEBIS_S_100.csv"), partial.getBytes(enc))
    RecordingClient.reset()
    // a slow writer finishes the file 300 ms in — well inside the 1.5 s
    // settle window, so the parsed bytes must be the FINAL content even
    // though the source listed (and snapshotted) the torn 1-row version
    val writer = new Thread(() => {
      Thread.sleep(300)
      Files.write(dir.resolve("TEBIS_S_100.csv"),
        (partial + "1002;0,2\n1003;0,3\n").getBytes(enc))
      ()
    })
    writer.start()
    val q = LiveStream.start(spark,
      LiveStream.Config(dir.toString, ckpt.toString, triggerMs = 100L, settleMs = 1500L),
      new RecordingClient)
    try { q.processAllAvailable(); writer.join() } finally q.stop()
    val pts = RecordingClient.all.flatten.flatMap(_.datapoints)
    assert(pts.size == 3, s"expected settled 3-row content, got ${pts.size}")
  }

  test("live stream: parquet lakehouse output, idempotent per-batch dirs") {
    val dir = Files.createTempDirectory("lake-in")
    val ckpt = Files.createTempDirectory("lake-ckpt")
    val out = Files.createTempDirectory("lake-out").resolve("dp").toString
    writeTebis(dir, "TEBIS_P_100.csv", 1550092501L, 4, "p1")
    val cfg = LiveStream.Config(dir.toString, ckpt.toString, triggerMs = 100L, outputDir = Some(out))
    val q1 = LiveStream.start(spark, cfg, new RecordingClient)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(out).count() == 4)
    // restart: the processed (and deleted) file is not re-offered; a new
    // file lands in a NEW batch_id dir — totals add up, no duplicates
    writeTebis(dir, "TEBIS_P_200.csv", 1550092600L, 2, "p2")
    val q2 = LiveStream.start(spark, cfg, new RecordingClient)
    try { q2.processAllAvailable() } finally q2.stop()
    val lake = spark.read.parquet(out)
    assert(lake.count() == 6)
    assert(lake.select("externalId").distinct().count() == 2)
    assert(lake.columns.contains("batch_id") && lake.columns.contains("day"))
    // compaction: per-trigger batch_id dirs -> historical Append layout
    val compact = Files.createTempDirectory("lake-compact").resolve("dp").toString
    val done = graft.sink.BatchedSink.compactLake(spark, out, compact)
    assert(done.nonEmpty)
    val c = spark.read.parquet(compact)
    assert(c.count() == 6 && !c.columns.contains("batch_id") && c.columns.contains("day"))
    // idempotence is in-band (_COMPACTED markers): a re-run with NO
    // caller-side cleanup compacts nothing and duplicates nothing
    assert(graft.sink.BatchedSink.compactLake(spark, out, compact).isEmpty)
    assert(spark.read.parquet(compact).count() == 6)
    // and the marker is invisible to lake readers
    assert(spark.read.parquet(out).count() == 6)
  }

  test("windowed event stream: tumbling counts with watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventStream.windowedAgg(events, width = "1 hour", watermark = "30 minutes")
      .writeStream.outputMode("append").format("memory").queryName("winagg").start()
    try {
      def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      mem.addData((ts(0, 10), "click", 1.0), (ts(0, 40), "click", 2.0), (ts(1, 5), "view", 3.0))
      q.processAllAvailable()
      // advance watermark far enough to close hour-0 and hour-1 windows
      mem.addData((ts(3, 0), "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("winagg").collect()
      val hour0 = rows.filter(r => r.getAs[Timestamp]("ws") == ts(0, 0))
      assert(hour0.length == 1 && hour0.head.getAs[Long]("n") == 2)
      val hour1 = rows.filter(r => r.getAs[Timestamp]("ws") == ts(1, 0))
      assert(hour1.length == 1 && hour1.head.getAs[String]("event_type") == "view")
    } finally q.stop()
  }

  test("streaming dedup: watermark-bounded, replayed ids suppressed") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val events = mem.toDF().toDF("ts", "event_id", "value")
    val q = EventStream.dedupe(events, Seq("event_id"), "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    try {
      def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
      // same-batch duplicate + cross-batch replay with a DIFFERENT ts
      // inside the watermark horizon: both suppressed
      mem.addData((ts(1), 1L, 1.0), (ts(1), 1L, 1.0), (ts(2), 2L, 2.0))
      q.processAllAvailable()
      mem.addData((ts(3), 1L, 1.0), (ts(4), 3L, 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup").collect().map(_.getAs[Long]("event_id"))
      assert(ids.sorted.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("stream-stream interval join: clicks within the gap, across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val purchases = MemoryStream[(Timestamp, Long, Long)]
    val q = EventStream.intervalJoin(
      clicks.toDF().toDF("ts", "event_id", "user_id"),
      purchases.toDF().toDF("ts", "event_id", "user_id"),
      maxGapSec = 300L)
      .writeStream.outputMode("append").format("memory").queryName("ivjoin").start()
    try {
      def ts(m: Int, s: Int = 0) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:$s%02d")
      // user 1: clicks at 00:01 and 00:04; purchase at 00:05 → both within
      // 5 min. user 2: click at 00:01, purchase at 00:07 → 6 min, outside.
      // click AFTER its purchase (user 3) must not match.
      clicks.addData((ts(1), 11L, 1L), (ts(4), 12L, 1L), (ts(1), 21L, 2L), (ts(9), 31L, 3L))
      purchases.addData((ts(5), 100L, 1L), (ts(7), 200L, 2L), (ts(8), 300L, 3L))
      q.processAllAvailable()
      // a later click for user 1 in a SECOND micro-batch joins a purchase
      // buffered from the first batch only if within the gap — it is not
      // (00:20 click vs 00:05 purchase), so results stay fixed
      clicks.addData((ts(20), 13L, 1L))
      q.processAllAvailable()
      val got = spark.table("ivjoin").collect()
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id"))).toSet
      assert(got == Set((100L, 11L), (100L, 12L)), s"got $got")
    } finally q.stop()
  }

  test("stateful anomaly detector: state persists across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val events = mem.toDF().toDF("user_id", "value")
    val q = EventStream.anomalies(events, factor = 3.0)
      .writeStream.outputMode("append").format("memory").queryName("anom").start()
    try {
      mem.addData((1L, 10.0), (1L, 12.0), (1L, 11.0))
      q.processAllAvailable()
      assert(spark.table("anom").count() == 0) // all near the mean
      // next BATCH: running mean ~11 carried in state; 50 > 3x mean
      mem.addData((1L, 50.0), (1L, 12.0))
      q.processAllAvailable()
      val rows = spark.table("anom").as[Anomaly].collect()
      assert(rows.length == 1)
      assert(rows.head.user_id == 1L && rows.head.value == 50.0 && rows.head.n_seen == 3)
    } finally q.stop()
  }

  test("streaming funnel: conversions across micro-batches == batch q78 stage-3 rows") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.Conversion
    // (user, type, t_sec): complete chain (1), click out of window (2),
    // purchase out of window (3), pre-view click ignored (4), first-view
    // min semantics (5), post-conversion purchase ignored (1 again)
    val W = graft.ops.EventOps.FunnelWindowUs / 1000000L // 7200 s
    val evts = Seq(
      (1L, "view", 1000L), (1L, "click", 2000L), (1L, "purchase", 4000L), (1L, "purchase", 5000L),
      (2L, "view", 1000L), (2L, "click", 1000L + W + 1), (2L, "purchase", 1000L + W + 2),
      (3L, "view", 1000L), (3L, "click", 2000L), (3L, "purchase", 2000L + W + 1),
      (4L, "click", 500L), (4L, "view", 1000L), (4L, "click", 1200L), (4L, "purchase", 1300L),
      (5L, "view", 1000L), (5L, "view", 1100L), (5L, "click", 1150L), (5L, "purchase", 1160L))
    val mem = MemoryStream[(Long, String, Timestamp)]
    val stream = mem.toDF().toDF("user_id", "event_type", "ts")
    val q = EventStream.funnel(stream)
      .writeStream.outputMode("append").format("memory").queryName("conv").start()
    try {
      val (b1, b2) = evts.partition(_._3 < 1500L)
      mem.addData(b1.map { case (u, t, s) => (u, t, new Timestamp(s * 1000L)) }: _*)
      q.processAllAvailable()
      mem.addData(b2.map { case (u, t, s) => (u, t, new Timestamp(s * 1000L)) }: _*)
      q.processAllAvailable()
      val got = spark.table("conv").as[Conversion].collect()
        .map(c => (c.user_id, c.v_ts, c.c_ts, c.p_ts)).toSet
      // batch twin on the same events (ts as epoch nanos, as q78 reads them)
      val batchDf = evts.map { case (u, t, s) => (u, t, s * 1000000000L) }
        .toDF("user_id", "event_type", "ts")
      val expect = graft.ops.EventOps.funnelStages(batchDf)
        .filter(col("stage") === 3).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("v_ts"),
          r.getAs[Long]("c_ts"), r.getAs[Long]("p_ts"))).toSet
      assert(got == expect)
      assert(got.map(_._1) == Set(1L, 4L, 5L))
      assert(got.count(_._1 == 1L) == 1) // done-state: one conversion per user
    } finally q.stop()
  }

  test("streaming transitions: cross-batch emissions aggregate to the batch q166 matrix") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.Transition
    // user 1: two sessions (gap > 1800 s between t=3000 and t=10000);
    // user 2: one session; distinct times so ordering is unambiguous
    val evts = Seq(
      (1L, 1L, "view", 1000L), (2L, 1L, "click", 2000L), (3L, 1L, "purchase", 3000L),
      (4L, 1L, "view", 10000L), (5L, 1L, "click", 10100L),
      (6L, 2L, "view", 1500L), (7L, 2L, "view", 1600L), (8L, 2L, "click", 1700L))
    val mem = MemoryStream[(Long, String, Timestamp)]
    val stream = mem.toDF().toDF("user_id", "event_type", "ts")
    val q = EventStream.transitions(stream)
      .writeStream.outputMode("append").format("memory").queryName("trans").start()
    try {
      val (b1, b2) = evts.partition(_._4 < 1700L)
      mem.addData(b1.map { case (_, u, t, s) => (u, t, new Timestamp(s * 1000L)) }: _*)
      q.processAllAvailable()
      mem.addData(b2.map { case (_, u, t, s) => (u, t, new Timestamp(s * 1000L)) }: _*)
      q.processAllAvailable()
      val got = spark.table("trans").as[Transition].collect()
        .groupBy(t => (t.from_type, t.to_type)).view.mapValues(_.length.toLong).toMap
      val batchDf = evts.map { case (e, u, t, s) => (e, u, t, 0.0, s * 1000000000L) }
        .toDF("event_id", "user_id", "event_type", "value", "ts")
      val expect = graft.ops.EventOps.sessionTransitions(batchDf).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == expect, s"streaming $got != batch $expect")
      // the session boundary was exercised: no purchase->view transition
      assert(!got.contains(("purchase", "view")))
    } finally q.stop()
  }

  test("streaming transition latencies: cross-batch emissions aggregate to batch q214") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.TransitionLat
    // includes a cross-session-size gap (3000 -> 10000 s): q214 has NO
    // gap cut, so unlike q166 the pair must still be emitted
    val evts = Seq(
      (1L, 1L, "view", 1000L), (2L, 1L, "click", 2000L), (3L, 1L, "purchase", 3000L),
      (4L, 1L, "view", 10000L), (5L, 1L, "click", 10100L),
      (6L, 2L, "view", 1500L), (7L, 2L, "view", 1600L), (8L, 2L, "click", 1700L))
    val mem = MemoryStream[(Long, Long, String, Timestamp)]
    val stream = mem.toDF().toDF("event_id", "user_id", "event_type", "ts")
    val q = EventStream.transitionLatencies(stream)
      .writeStream.outputMode("append").format("memory").queryName("translat").start()
    try {
      val (b1, b2) = evts.partition(_._4 < 1700L)
      def rows(b: Seq[(Long, Long, String, Long)]) =
        b.map { case (e, u, t, s) => (e, u, t, new Timestamp(s * 1000L)) }
      mem.addData(rows(b1): _*)
      q.processAllAvailable()
      mem.addData(rows(b2): _*)
      q.processAllAvailable()
      val got = spark.table("translat").as[TransitionLat].collect()
        .groupBy(t => (t.from_type, t.to_type)).view
        .mapValues(g => (g.length.toLong,
          g.map(_.gap_us).sum / g.length, g.map(_.gap_us).max)).toMap
      val batchDf = evts.map { case (e, u, t, s) => (e, u, t, 0.0, s * 1000000000L) }
        .toDF("event_id", "user_id", "event_type", "value", "ts")
      val expect = graft.ops.EventOps.transitionLatency(batchDf).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(got == expect, s"streaming $got != batch $expect")
      // the no-gap-cut contract was exercised: the 7000 s dwell is present
      assert(got(("purchase", "view"))._3 == 7000L * 1000000L)
    } finally q.stop()
  }

  test("streaming KMV sketch: merged per-batch sketches == from-scratch batch sketch; replay is a no-op") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.CorpusStream
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val (a, b) = docs.splitAt(docs.length / 2)
    val k = 64
    // batch twin: the corpus-level k-smallest sketch from scratch
    val want = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("term"))
      .select(expr("CAST(conv(substr(md5(term), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .distinct().orderBy("h").limit(k)
      .collect().map(_.getLong(0)).toSeq
    val state = Files.createTempDirectory("kmv-state").toString
    val mem = MemoryStream[(Long, String)]
    val q = CorpusStream.kmvStream(mem.toDF().toDF("doc_id", "text"), state,
      Files.createTempDirectory("kmv-ckpt").toString, k)
    try {
      mem.addData(a.toSeq: _*); q.processAllAvailable()
      mem.addData(b.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    def liveHashes() = spark.read.parquet(state).select("h").distinct()
      .orderBy("h").limit(k).collect().map(_.getLong(0)).toSeq
    assert(liveHashes() == want, "streamed sketch must equal the batch sketch")
    val est0 = CorpusStream.kmvLive(spark, state, k).collect()(0).toSeq
    // replay: same batches, fresh checkpoint — each overwrites its own
    // batch_id partition bit-identically; sketch and estimate unchanged.
    // Reprocessing the same source from a new checkpoint is an explicit
    // operator decision since r12 (lineage guard): adopt first.
    val ckpt2 = Files.createTempDirectory("kmv-ckpt2").toString
    graft.streaming.StreamState.adoptLineage(spark, state, ckpt2)
    val mem2 = MemoryStream[(Long, String)]
    val q2 = CorpusStream.kmvStream(mem2.toDF().toDF("doc_id", "text"), state,
      ckpt2, k)
    try {
      mem2.addData(a.toSeq: _*); q2.processAllAvailable()
      mem2.addData(b.toSeq: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(liveHashes() == want, "replay must not change the sketch")
    assert(CorpusStream.kmvLive(spark, state, k).collect()(0).toSeq == est0,
      "replay must not change the estimate")
  }

  test("streaming funnel contract: a cross-batch out-of-order view cannot rewind state") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.Conversion
    // click arrives in batch 1; the view it should follow arrives in
    // batch 2 with an EARLIER event time. The documented contract: state
    // advances in arrival order across batches, so the view is applied
    // after the click and the chain needs a LATER click to complete.
    val mem = MemoryStream[(Long, String, Timestamp)]
    val q = EventStream.funnel(mem.toDF().toDF("user_id", "event_type", "ts"))
      .writeStream.outputMode("append").format("memory").queryName("ooo").start()
    try {
      mem.addData((7L, "click", new Timestamp(2000L * 1000)))
      q.processAllAvailable()
      mem.addData((7L, "view", new Timestamp(1000L * 1000)),
        (7L, "purchase", new Timestamp(3000L * 1000)))
      q.processAllAvailable()
      // view is now recorded (v_ts=1000s) but the batch-1 click is gone;
      // the purchase cannot skip the click step
      assert(spark.table("ooo").count() == 0)
      // a later in-window click + purchase completes the chain normally
      mem.addData((7L, "click", new Timestamp(4000L * 1000)),
        (7L, "purchase", new Timestamp(5000L * 1000)))
      q.processAllAvailable()
      val rows = spark.table("ooo").as[Conversion].collect()
      assert(rows.length == 1 &&
        rows.head == Conversion(7L, 1000000000L, 4000000000L, 5000000000L))
    } finally q.stop()
  }

  test("restartable funnel: converts like funnel in-window, re-opens after expiry") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.Conversion
    val W = graft.ops.EventOps.FunnelWindowUs / 1000000L // 7200 s
    val mem = MemoryStream[(Long, String, Timestamp)]
    val q = EventStream.funnelRestartable(
      mem.toDF().toDF("user_id", "event_type", "ts"), watermarkDelay = "0 seconds")
      .writeStream.outputMode("append").format("memory").queryName("rfun").start()
    def at(s: Long) = new Timestamp(s * 1000L)
    try {
      // in-window behavior == funnel: user 1 converts, user 2 stalls at view
      mem.addData((1L, "view", at(1000)), (1L, "click", at(2000)),
        (1L, "purchase", at(3000)), (2L, "view", at(1000)))
      q.processAllAvailable()
      assert(spark.table("rfun").as[Conversion].collect().toSet ==
        Set(Conversion(1L, 1000000000L, 2000000000L, 3000000000L)))
      // advance the watermark past 1000 + W => user 2's attempt expires
      // (timeouts fire in the batch AFTER the watermark advances)
      mem.addData((99L, "view", at(1000 + W + 100)))
      q.processAllAvailable()
      mem.addData((99L, "click", at(1000 + W + 101)))
      q.processAllAvailable()
      // a fresh attempt for user 2 now converts — under plain funnel the
      // original view would pin v_ts=1000s forever and the click below
      // (out of ITS window) could never advance the chain
      val t2 = 1000 + W + 200
      mem.addData((2L, "view", at(t2)), (2L, "click", at(t2 + 10)),
        (2L, "purchase", at(t2 + 20)))
      q.processAllAvailable()
      val got = spark.table("rfun").as[Conversion].collect()
        .filter(_.user_id == 2L).toSet
      assert(got == Set(Conversion(2L, t2 * 1000000L, (t2 + 10) * 1000000L, (t2 + 20) * 1000000L)),
        s"fresh attempt after expiry must convert, got $got")
      // SAME-BATCH restart: user 3 stalls at a view; the watermark moves
      // past its expiry; the fresh chain then arrives WITH data (so the
      // timeout callback never fires for user 3) — the inline expiry
      // check must reset the dead attempt, not judge the new events
      // against it
      mem.addData((3L, "view", at(t2 + 100)))
      q.processAllAvailable()
      val t3 = t2 + 100 + W + 500
      mem.addData((99L, "view", at(t3 - 1))) // watermark past user 3's expiry
      q.processAllAvailable()
      mem.addData((3L, "view", at(t3)), (3L, "click", at(t3 + 5)), (3L, "purchase", at(t3 + 9)))
      q.processAllAvailable()
      val got3 = spark.table("rfun").as[Conversion].collect()
        .filter(_.user_id == 3L).toSet
      assert(got3 == Set(Conversion(3L, t3 * 1000000L, (t3 + 5) * 1000000L, (t3 + 9) * 1000000L)),
        s"same-batch restart must convert, got $got3")
    } finally q.stop()
  }

  test("corpus ingest stream: clean + gate + first-arrival dedup match the batch stages") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.CorpusStream
    // texts that pass the q39 gate: 25 tokens, full diversity, token
    // lengths in [3,12], one stopword
    def good(seed: Int) = (1 to 24).map(i => s"w${seed}word$i").mkString(" ") + " the"
    val a = good(1) + "\nxx yy\n" + good(2) // middle line dropped (< 3 words)
    val aClean = good(1) + "\n" + good(2) // what d4 must collide with
    val c = good(3) + "\n" + good(4)
    val rows = Seq(
      (1L, "src0", a), // admitted
      (2L, "src0", "lorem ipsum " + good(5)), // doc-blocked by clean
      (3L, "src1", c), // admitted
      (4L, "src1", aClean), // cross-batch dup of d1's CLEANED text
      (5L, "src1", "too short the"), // fails the gate
      (6L, "src0", c)) // in-batch dup of d3
    val mem = MemoryStream[(Long, String, String)]
    val q = CorpusStream.ingest(mem.toDF().toDF("doc_id", "source", "text"))
      .writeStream.outputMode("append").format("memory").queryName("ingest").start()
    try {
      mem.addData(rows.take(3): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table("ingest").collect()
      assert(streamed.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 3L))
      // row content equals the batch pipeline's stateless stages plus
      // first-arrival (== min doc_id here) representative selection
      val batch = CorpusStream.dedupeExact(CorpusStream.qualityGate(
        CorpusStream.clean(rows.toDF("doc_id", "source", "text"))))
        .collect().map(r => r.getAs[String]("content_md5") -> r).toMap
      // batch dropDuplicates keeps an arbitrary row per hash; compare on
      // the hash set + the per-id signal columns of the streamed rows
      assert(streamed.map(_.getAs[String]("content_md5")).toSet == batch.keySet)
      val byId = CorpusStream.qualityGate(
        CorpusStream.clean(rows.toDF("doc_id", "source", "text")))
        .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
      streamed.foreach { r =>
        val twin = byId(r.getAs[Long]("doc_id"))
        Seq("source", "text", "n_tokens", "n_distinct", "sum_len", "n_stop")
          .foreach(c => assert(r.getAs[Any](c) == twin.getAs[Any](c), c))
      }
    } finally q.stop()
  }

  test("streaming jsonl drop folder: parsed shards land, torn lines dead-letter per batch") {
    import graft.sources.JsonlCorpus
    val in = Files.createTempDirectory("jsdrop")
    val docsSchema = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").schema
    Files.write(in.resolve("a.jsonl"), java.util.Arrays.asList(
      """{"doc_id": 1, "text": "alpha beta", "lang": "en", "source": "web", "n_chars": 10}""",
      """{"doc_id": 2, "text": "torn"""))
    Files.write(in.resolve("b.jsonl"), java.util.Arrays.asList(
      """{"doc_id": 3, "text": "gamma", "lang": "de", "source": "web", "n_chars": 5}"""))
    var good = Vector.empty[Long]
    var bad = Vector.empty[String]
    val q = JsonlCorpus.readStream(spark, in.toString, docsSchema, maxFilesPerTrigger = 1)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (p, b) = JsonlCorpus.quarantine(batch)
        good ++= p.collect().map(_.getAs[Long]("doc_id"))
        bad ++= b.collect().map(_.getAs[String]("raw_line"))
        (): Unit
      }.start()
    try {
      q.processAllAvailable()
      assert(good.sorted == Vector(1L, 3L), s"parsed ids: $good")
      assert(bad == Vector("""{"doc_id": 2, "text": "torn"""), s"dead letters: $bad")
    } finally q.stop()
  }

  test("streaming contamination guard: bloom flags reproduce the exact gram overlap") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.ops.{Dedup, Sampling}
    import graft.streaming.CorpusStream
    val dir = "/root/testdata/sf0.001"
    val bloom = Dedup.testGramBloomBytes(spark, dir)
    // exact per-train-doc truth from the oracle-gated batch path
    val exact = SparkEntry.queries("q131_bloom_decontaminate")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    // stream a mix of REAL train docs: contaminated and clean
    val train = graft.queries.QueryDef.t(spark, dir, "documents")
      .join(Sampling.hashSplit(graft.queries.QueryDef.t(spark, dir, "documents"))
        .filter(col("split") === "train").select("doc_id"), "doc_id")
      .select("doc_id", "source", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val sample = train.filter(t => exact(t._1)).take(5) ++
      train.filterNot(t => exact(t._1)).take(5)
    val mem = MemoryStream[(Long, String, String)]
    val q = CorpusStream.contaminationGuard(
        mem.toDF().toDF("doc_id", "source", "text"), bloom)
      .writeStream.outputMode("append").format("memory").queryName("contam").start()
    try {
      mem.addData(sample.take(4): _*)
      q.processAllAvailable()
      mem.addData(sample.drop(4): _*)
      q.processAllAvailable()
      val flags = spark.table("contam").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("contaminated")).toMap
      assert(flags.size == sample.length)
      // no false negatives is a HARD guarantee; on this fixed corpus the
      // bloom also produces no false positive among the sampled clean
      // docs, so flags reproduce the exact truth (deterministic data +
      // deterministic hashes: this cannot flake)
      sample.foreach { case (id, _, _) =>
        assert(flags(id) == exact(id), s"doc $id: guard=${flags(id)} exact=${exact(id)}")
      }
    } finally q.stop()
  }

  test("corpus ingest stream: watermarked dedup suppresses replays inside the horizon") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.CorpusStream
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = CorpusStream.dedupeExact(docs, tsCol = Some("ingest_ts"), delay = "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("wmdedup").start()
    try {
      def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
      mem.addData((1L, "alpha text", ts(0)), (2L, "beta text", ts(1)))
      q.processAllAvailable()
      // replay of doc 1's text 10 minutes later, well inside the horizon
      mem.addData((3L, "alpha text", ts(10)), (4L, "gamma text", ts(11)))
      q.processAllAvailable()
      val ids = spark.table("wmdedup").collect().map(_.getAs[Long]("doc_id")).sorted
      assert(ids.toSeq == Seq(1L, 2L, 4L), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("ingestToShards: batch-keyed parquet shards + post-then-push metrics cadence") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.CorpusStream
    def good(seed: Int) = (1 to 24).map(i => s"s${seed}word$i").mkString(" ") + " the"
    val out = java.nio.file.Files.createTempDirectory("shards").toString
    val ckpt = java.nio.file.Files.createTempDirectory("shards-ckpt").toString
    val sink = new graft.MetricsSink.Recording
    val mem = MemoryStream[(Long, String, String)]
    val q = CorpusStream.ingestToShards(mem.toDF().toDF("doc_id", "source", "text"),
      out, ckpt, sink)
    try {
      mem.addData((1L, "sA", good(1)), (2L, "sB", good(2)), (3L, "sA", good(1)))
      q.processAllAvailable() // batch 0: docs 1,2 admitted; 3 is an in-batch dup
      mem.addData((4L, "sB", good(1)), (5L, "sB", good(3)))
      q.processAllAvailable() // batch 1: 4 is a cross-batch dup; 5 admitted
      val b0 = spark.read.parquet(s"$out/batch_id=0")
        .select("doc_id").collect().map(_.getLong(0)).sorted
      val b1 = spark.read.parquet(s"$out/batch_id=1")
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(b0.toSeq == Seq(1L, 2L) && b1.toSeq == Seq(5L))
      // one push per non-empty batch, with per-source admitted accounting
      val pushes = sink.pushes.filter(_.exists(_._1.startsWith("corpus.admitted")))
      assert(pushes.size == 2)
      assert(pushes(0)("corpus.admitted_docs.sA") == 1L)
      assert(pushes(0)("corpus.admitted_docs.sB") == 1L)
      assert(pushes(0)("corpus.batch_id") == 0L)
      assert(pushes(1)("corpus.admitted_docs.sB") == 1L)
      assert(pushes(1).get("corpus.admitted_docs.sA").isEmpty)
      val toks = spark.read.parquet(s"$out/batch_id=0")
        .filter($"doc_id" === 1L).select("n_tokens").head().getLong(0)
      assert(pushes(0)("corpus.admitted_tokens.sA") == toks)
    } finally q.stop()
  }

  test("streaming near-dedup: cross-batch and in-batch near-dups drop, invariant holds") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.CorpusStream
    // 30 distinct tokens per doc; a near-dup changes the LAST token only,
    // so 27 of 28 3-gram shingles survive (J = 27/29 ≈ 0.93 ≥ 0.8)
    def words(p: String) = (1 to 30).map(i => s"$p$i")
    def doc(p: String) = words(p).mkString(" ")
    def nearDup(p: String) = (words(p).init :+ "CHANGED").mkString(" ")
    val out = java.nio.file.Files.createTempDirectory("neardup-out").toString
    val state = java.nio.file.Files.createTempDirectory("neardup-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("neardup-ckpt").toString
    val mem = MemoryStream[(Long, String, String)]
    val q = CorpusStream.dedupeNearToShards(
      mem.toDF().toDF("doc_id", "source", "text"), state, out, ckpt, 0.8)
    try {
      mem.addData((1L, "s", doc("a")), (2L, "s", nearDup("a")), (3L, "s", doc("c")))
      q.processAllAvailable() // batch 0: 2 is an in-batch near-dup of 1
      mem.addData((4L, "s", nearDup("a")), (5L, "s", doc("d")), (6L, "s", nearDup("d")))
      q.processAllAvailable() // batch 1: 4 dups ADMITTED 1 cross-batch; 6 dups 5 in-batch
      val b0 = spark.read.parquet(s"$out/batch_id=0")
        .select("doc_id").collect().map(_.getLong(0)).sorted
      val b1 = spark.read.parquet(s"$out/batch_id=1")
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(b0.toSeq == Seq(1L, 3L), s"batch 0 admitted ${b0.toSeq}")
      assert(b1.toSeq == Seq(5L), s"batch 1 admitted ${b1.toSeq}")
      // the batch invariant, brute-forced: no two admitted docs are
      // near-dups; every dropped doc near-dups an admitted one
      def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
      def j(a: String, b: String) = {
        val (x, y) = (sh(a), sh(b)); (x & y).size.toDouble / (x | y).size
      }
      val texts = Map(1L -> doc("a"), 2L -> nearDup("a"), 3L -> doc("c"),
        4L -> nearDup("a"), 5L -> doc("d"), 6L -> nearDup("d"))
      val admitted = (b0 ++ b1).toSeq
      for (x <- admitted; y <- admitted if x < y)
        assert(j(texts(x), texts(y)) < 0.8, s"admitted pair $x,$y too similar")
      for (d <- texts.keySet -- admitted.toSet)
        assert(admitted.exists(a => j(texts(d), texts(a)) >= 0.8), s"dropped $d has no witness")
      // state carries the admitted reps only: 8 band rows per admitted doc
      val stBands = spark.read.parquet(s"$state/bands")
      assert(stBands.select("rep_id").distinct().collect().map(_.getLong(0)).sorted
        .toSeq == admitted.sorted.toSeq)
      assert(stBands.count() == admitted.size * graft.ops.Dedup.Bands)
    } finally q.stop()
  }

  test("streaming near-dedup: a replayed batch ignores its own partial state writes") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.ops.Dedup
    import graft.streaming.CorpusStream
    val text = (1 to 30).map(i => s"r$i").mkString(" ")
    val out = java.nio.file.Files.createTempDirectory("replay-out").toString
    val state = java.nio.file.Files.createTempDirectory("replay-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("replay-ckpt").toString
    // simulate a crash AFTER batch 0 wrote its state but BEFORE the
    // checkpoint committed: plant doc 1's own band keys and shingles
    // under batch_id=0 (attributed to a bogus rep) — on replay, batch 0
    // must NOT drop doc 1 against them (batch_id < 0 prunes everything)
    val one = Seq((1L, "s", text)).toDF("doc_id", "source", "text")
    val sh = Dedup.shingled(one).withColumn("sorted", sort_array(col("grams")))
      .withColumn("n", size(col("grams")).cast("long"))
    sh.select(explode(expr(
        s"minhash_bands(grams, ${Dedup.NumHashes}, ${Dedup.Rows})")).as("bkey"),
        lit(999L).as("rep_id"))
      .write.parquet(s"$state/bands/batch_id=0")
    sh.select(lit(999L).as("rep_id"), col("sorted").as("gb"), col("n").as("nb"))
      .write.parquet(s"$state/grams/batch_id=0")
    val mem = MemoryStream[(Long, String, String)]
    val q = CorpusStream.dedupeNearToShards(
      mem.toDF().toDF("doc_id", "source", "text"), state, out, ckpt, 0.8)
    try {
      mem.addData((1L, "s", text))
      q.processAllAvailable()
      val b0 = spark.read.parquet(s"$out/batch_id=0")
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(b0 == Seq(1L), s"replayed batch dropped its own doc: $b0")
      // the replay overwrote the planted partial state with the real one
      val reps = spark.read.parquet(s"$state/bands")
        .select("rep_id").distinct().collect().map(_.getLong(0)).toSeq
      assert(reps == Seq(1L), s"partial state survived the replay: $reps")
    } finally q.stop()
  }

  test("streaming near-dedup: compactState folds old partitions, admission decisions unchanged") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.streaming.CorpusStream
    def words(p: String) = (1 to 30).map(i => s"$p$i")
    def doc(p: String) = words(p).mkString(" ")
    def nearDup(p: String) = (words(p).init :+ "CHANGED").mkString(" ")
    val out = java.nio.file.Files.createTempDirectory("cmp-out").toString
    val state = java.nio.file.Files.createTempDirectory("cmp-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cmp-ckpt").toString
    val mem = MemoryStream[(Long, String, String)]
    val q = CorpusStream.dedupeNearToShards(
      mem.toDF().toDF("doc_id", "source", "text"), state, out, ckpt, 0.8)
    try {
      mem.addData((1L, "s", doc("a")), (2L, "s", nearDup("a")))
      q.processAllAvailable() // batch 0 admits 1
      mem.addData((3L, "s", doc("c")))
      q.processAllAvailable() // batch 1 admits 3
      def stateSet(tbl: String) = graft.streaming.StreamState
        .read(spark, s"$state/$tbl").get
        .collect().map(_.toString).sorted.toSeq
      val bandsBefore = stateSet("bands")
      val gramsBefore = stateSet("grams")
      CorpusStream.compactState(spark, state, 2)
      assert(stateSet("bands") == bandsBefore, "compaction changed the bands rows")
      assert(stateSet("grams") == gramsBefore, "compaction changed the grams rows")
      def partsOf(tbl: String) = new java.io.File(s"$state/$tbl").listFiles()
        .filter(_.isDirectory).map(_.getName).sorted.toSeq
      // grace window (r12): the folded partitions survive one cycle for
      // racing readers; gc() force-collects them (no readers here)
      assert(partsOf("bands").contains("base"))
      Seq("bands", "grams").foreach(t =>
        graft.streaming.StreamState.gc(spark, s"$state/$t"))
      assert(stateSet("bands") == bandsBefore, "gc changed the bands rows")
      // both batches folded into the base — no live partitions left
      assert(partsOf("bands") == Seq("base"), s"bands parts: ${partsOf("bands")}")
      assert(partsOf("grams") == Seq("base"), s"grams parts: ${partsOf("grams")}")
      // r13 (VERDICT ask 1): the corpus-scale band/gram state rides the
      // SIZE-TIERED cascade now — the base holds runs, never a
      // full-rewrite generation (the O(corpus)-per-window shape)
      Seq("bands", "grams").foreach { t =>
        val base = new java.io.File(s"$state/$t/base").listFiles()
          .filter(_.isDirectory).map(_.getName).toSeq
        assert(base.nonEmpty && base.forall(_.startsWith("run=")),
          s"$t base must be tiered runs: $base")
      }
      assert(graft.streaming.StreamState.horizon(spark, s"$state/bands") == 2L)
      CorpusStream.compactState(spark, state, 2) // idempotent
      assert(stateSet("bands") == bandsBefore && partsOf("bands") == Seq("base"))
      // the stream continues over the compacted state: near-dups of BOTH
      // pre-compaction admits still drop, fresh content still admits
      mem.addData((4L, "s", nearDup("a")), (5L, "s", nearDup("c")), (6L, "s", doc("f")))
      q.processAllAvailable()
      val b2 = spark.read.parquet(s"$out/batch_id=2")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(b2 == Seq(6L), s"post-compaction admission diverged: $b2")
    } finally q.stop()
  }

  test("streaming near-dedup: bands-only partial state (no grams table) does not wedge") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.ops.Dedup
    import graft.streaming.CorpusStream
    // The exact ADVICE-r4 crash: batch 0 died AFTER writing bands/ but
    // BEFORE grams/ ever existed. Replay must treat the missing grams
    // table as empty state (not throw on .get) and admit normally.
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val out = java.nio.file.Files.createTempDirectory("wedge-out").toString
    val state = java.nio.file.Files.createTempDirectory("wedge-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("wedge-ckpt").toString
    val one = Seq((1L, "s", text)).toDF("doc_id", "source", "text")
    Dedup.shingled(one).select(explode(expr(
        s"minhash_bands(grams, ${Dedup.NumHashes}, ${Dedup.Rows})")).as("bkey"),
        lit(999L).as("rep_id"))
      .write.parquet(s"$state/bands/batch_id=0") // grams/ deliberately absent
    val mem = MemoryStream[(Long, String, String)]
    val q = CorpusStream.dedupeNearToShards(
      mem.toDF().toDF("doc_id", "source", "text"), state, out, ckpt, 0.8)
    try {
      mem.addData((1L, "s", text))
      q.processAllAvailable() // throws before the fix
      val b0 = spark.read.parquet(s"$out/batch_id=0")
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(b0 == Seq(1L), s"bands-only state wedged or dropped the doc: $b0")
      // and the replay completed the state pair
      assert(spark.read.parquet(s"$state/grams")
        .select("rep_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    } finally q.stop()
  }

  test("live dataset card equals the batch card on the same corpus") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.CorpusStream
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "text").as[(Long, String, String)].collect().toSeq
    val mem = MemoryStream[(Long, String, String)]
    val q = CorpusStream.liveCard(mem.toDF().toDF("doc_id", "source", "text"))
      .writeStream.outputMode("complete").format("memory").queryName("livecard").start()
    try {
      mem.addData(docs.take(docs.size / 2): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(docs.size / 2): _*)
      q.processAllAvailable()
      val live = spark.table("livecard").collect()
        .map(r => r.getAs[String]("source") -> r).toMap
      val batch = graft.ops.Corpus.datasetCard(spark, dir).collect()
        .map(r => r.getAs[String]("source") -> r).toMap
      assert(live.keySet == batch.keySet)
      batch.foreach { case (src, b) =>
        val l = live(src)
        Seq("n_docs", "n_tokens", "n_en_guess", "n_pass", "q_micro_sum")
          .foreach(c => assert(l.getAs[Long](c) == b.getAs[Long](c), s"$src $c"))
        assert(l.getAs[Double]("avg_quality") == b.getAs[Double]("avg_quality"), s"$src avg")
        // the mergeable dup estimate tracks the batch card's exact count
        // within HLL tolerance (default rsd 0.05)
        val exactDistinct = b.getAs[Long]("n_docs") - b.getAs[Long]("n_exact_dups")
        val approx = l.getAs[Long]("n_distinct_approx")
        assert(math.abs(approx - exactDistinct) <= math.max(2L, (0.06 * exactDistinct).toLong),
          s"$src approx distinct $approx vs exact $exactDistinct")
      }
    } finally q.stop()
  }

  test("live preference win-rate monitor: batch card streams unchanged") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // prefModelCard is stateless projections + ONE aggregation, so the
    // SAME DataFrame function is the live monitor under complete mode —
    // the design property, locked here: the final streamed card equals
    // the batch card over everything delivered so far.
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "text").as[(Long, String, String)].collect().toSeq
    val mem = MemoryStream[(Long, String, String)]
    val q = graft.ops.Preferences.prefModelCard(
        mem.toDF().toDF("doc_id", "source", "text"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("livewinrate").start()
    try {
      mem.addData(docs.take(docs.size / 3): _*)
      q.processAllAvailable()
      val early = spark.table("livewinrate").collect()
        .map(r => r.getAs[Long]("model") -> r.getAs[Long]("games")).toMap
      mem.addData(docs.drop(docs.size / 3): _*)
      q.processAllAvailable()
      val live = spark.table("livewinrate").collect()
        .map(r => r.getAs[Long]("model") -> r).toMap
      val batch = graft.ops.Preferences.prefModelCard(
          spark.read.parquet(s"$dir/documents.parquet")).collect()
        .map(r => r.getAs[Long]("model") -> r).toMap
      assert(live.keySet == batch.keySet)
      batch.foreach { case (m, b) =>
        val l = live(m)
        Seq("games", "games_as_a", "wins", "win_micro", "mean_len_micro")
          .foreach(c => assert(l.getAs[Long](c) == b.getAs[Long](c), s"model $m $c"))
        assert(early(m) < l.getAs[Long]("games"),
          s"model $m: the mid-stream card must be a strict prefix")
      }
    } finally q.stop()
  }

  test("live eval monitor: pass@k card streams unchanged") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // passAtK is a stateless projection + ONE aggregation — the same
    // function is the live eval monitor under complete mode (a benchmark
    // run streaming attempt shards watches pass@k converge)
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "text").as[(Long, String, String)].collect().toSeq
    val mem = MemoryStream[(Long, String, String)]
    val q = graft.ops.Sampling.passAtK(mem.toDF().toDF("doc_id", "source", "text"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("livepassk").start()
    try {
      mem.addData(docs.take(docs.size / 2): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(docs.size / 2): _*)
      q.processAllAvailable()
      val live = spark.table("livepassk").collect()
        .map(r => r.getAs[String]("source") -> r).toMap
      val batch = graft.ops.Sampling.passAtK(
          spark.read.parquet(s"$dir/documents.parquet")).collect()
        .map(r => r.getAs[String]("source") -> r).toMap
      assert(live.keySet == batch.keySet)
      batch.foreach { case (src, b) =>
        Seq("n_problems", "mean_c_micro", "pass1_micro", "pass2_micro", "pass4_micro")
          .foreach(c => assert(live(src).getAs[Long](c) == b.getAs[Long](c), s"$src $c"))
      }
    } finally q.stop()
  }

  test("cleaning ops are stateless projections: they stream unchanged") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // cleanLines + redactPii are pure select/filter pipelines, so the SAME
    // DataFrame functions run under Structured Streaming with no twin
    // implementation — this is the design property, locked here
    val rows = Seq(
      (1L, "keep this line alive\nno\ncall me at +1-555-0001 today"),
      (2L, "lorem ipsum marker doc\nperfectly fine line"),
      (3L, "mail x@y.io fast please\nbad slow line here"))
    val mem = MemoryStream[(Long, String)]
    val cleaned = graft.ops.Cleaning.cleanLines(
      mem.toDF().toDF("doc_id", "text"), delim = "\n", minWords = 3,
      lineBlockToken = "slow", docBlockPhrase = "lorem ipsum")
    val q = graft.ops.Cleaning.redactPii(
      cleaned.withColumnRenamed("text_clean", "text"), col("text"))
      .writeStream.outputMode("append").format("memory").queryName("cln").start()
    try {
      mem.addData(rows.take(2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val batch = graft.ops.Cleaning.redactPii(
        graft.ops.Cleaning.cleanLines(rows.toDF("doc_id", "text"), delim = "\n",
          minWords = 3, lineBlockToken = "slow", docBlockPhrase = "lorem ipsum")
          .withColumnRenamed("text_clean", "text"), col("text"))
        .collect().map(_.toSeq).toSet
      val streamed = spark.table("cln").collect().map(_.toSeq).toSet
      assert(streamed == batch)
      def has(m: String) = batch.exists(_.exists(v => v != null && v.toString.contains(m)))
      assert(batch.nonEmpty && has("<PHONE>") && has("<EMAIL>"))
    } finally q.stop()
  }

  test("live stream: checkpoint recovery processes each file exactly once") {
    val dir = Files.createTempDirectory("rec-in")
    val ckpt = Files.createTempDirectory("rec-ckpt")
    writeTebis(dir, "TEBIS_R_100.csv", 1000, 4, "r1")
    RecordingClient.reset()
    val cfg = LiveStream.Config(dir.toString, ckpt.toString, triggerMs = 100L)
    val q1 = LiveStream.start(spark, cfg, new RecordingClient)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(RecordingClient.all.flatten.flatMap(_.datapoints).size == 4)
    // restart from the same checkpoint: old file NOT reprocessed, new one is
    writeTebis(dir, "TEBIS_R_200.csv", 2000, 2, "r2")
    val q2 = LiveStream.start(spark, cfg, new RecordingClient)
    try { q2.processAllAvailable() } finally q2.stop()
    val all = RecordingClient.all.flatten
    assert(all.flatMap(_.datapoints).size == 6) // 4 + 2, no duplicates
    assert(all.count(_.externalId == "r1") == 1)
  }

  test("transformWithState sessions: final-only emit, out-of-order merge, exactly once") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "value")
    val q = graft.streaming.SessionProcessor.sessions(events,
      gapMs = 30L * 60 * 1000, watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("twsess").start()
    try {
      def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      // user 7, session 1: 0:00 and 0:20. Watermark after this batch is
      // 0:10 — far from the session close (0:20 + gap = 0:50), so nothing
      // may emit yet (incl. the no-data timer batch processAllAvailable runs)
      mem.addData((ts(0, 0), 7L, 1.0), (ts(0, 20), 7L, 4.0))
      q.processAllAvailable()
      assert(spark.table("twsess").count() == 0,
        "no session may emit before the watermark closes it")
      // out-of-order row INSIDE session 1 (0:15 > watermark 0:10, so not
      // late-dropped) must merge into it; 1:00 is > gap after and opens
      // session 2
      mem.addData((ts(0, 15), 7L, 2.0), (ts(1, 0), 7L, 5.0))
      q.processAllAvailable()
      mem.addData((ts(5, 0), 99L, 1.0)) // watermark -> 4:50, closes both of user 7's
      q.processAllAvailable()
      val rows = spark.table("twsess").filter(col("user_id") === 7L)
        .orderBy("session_start").collect()
      assert(rows.length == 2, s"got ${rows.length} sessions")
      assert(rows(0).getAs[Long]("n_events") == 3 && rows(0).getAs[Double]("sum_value") == 7.0)
      assert(rows(0).getAs[Long]("session_start") == ts(0, 0).getTime)
      assert(rows(0).getAs[Long]("session_end") == ts(0, 20).getTime)
      assert(rows(1).getAs[Long]("n_events") == 1 && rows(1).getAs[Double]("sum_value") == 5.0)
      // exactly once: further watermark advances re-emit nothing
      mem.addData((ts(12, 0), 99L, 1.0))
      q.processAllAvailable()
      assert(spark.table("twsess").filter(col("user_id") === 7L).count() == 2)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("session windows: gap splits sessions per user") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "value")
    val q = EventStream.sessionAgg(events, gap = "30 minutes", watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("sessagg").start()
    try {
      def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      // user 7: two events 10min apart (one session), then 2h gap (new session)
      mem.addData((ts(0, 0), 7L, 1.0), (ts(0, 10), 7L, 1.0), (ts(2, 0), 7L, 1.0))
      q.processAllAvailable()
      mem.addData((ts(5, 0), 99L, 1.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("sessagg").filter(col("user_id") === 7L).collect()
      assert(rows.length == 2)
      assert(rows.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming CUSUM: closed days == batch q199 at the same frozen reference, across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.ops.EventOps
    import graft.streaming.EventStream
    val ev = EventOps.events(spark, "/root/testdata/sf0.001")
    val rows = ev.selectExpr("event_type", "ts").collect()
      .map(r => (r.getString(0), r.getLong(1))) // ts is epoch ns
    // frozen reference: the same integer mean the batch op derives
    val mu = rows.groupBy(_._1).map { case (t, rs) =>
      val perDay = rs.groupBy(_._2 / 86400000000000L).view.mapValues(_.length.toLong)
      t -> perDay.values.sum * 1000000L / perDay.size
    }
    val batch = EventOps.rateCusum(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    def tsOf(ns: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(ns / 1000000000L, ns % 1000000000L))
    val days = rows.map(_._2 / 86400000000000L)
    val (minD, maxD) = (days.min, days.max)
    val mid = (minD + maxD) / 2
    val b1 = rows.filter(_._2 / 86400000000000L <= mid).map { case (t, ns) => (t, tsOf(ns)) }
    val b2 = rows.filter(_._2 / 86400000000000L > mid).map { case (t, ns) => (t, tsOf(ns)) }
    // one sentinel event per type on a far-future day closes every real day
    val flush = rows.map(_._1).distinct.map(t =>
      (t, tsOf((maxD + 1000L) * 86400000000000L)))
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val q = EventStream.driftMonitor(mem.toDF().toDF("event_type", "ts"), mu)
      .writeStream.outputMode("append").format("memory").queryName("drift").start()
    try {
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      mem.addData(b2.toSeq: _*); q.processAllAvailable()
      mem.addData(flush.toSeq: _*); q.processAllAvailable()
      val streamed = spark.table("drift").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getBoolean(4))).toSet
      assert(streamed == batch,
        s"streamed CUSUM diverges:\nonly-stream=${streamed -- batch}\nonly-batch=${batch -- streamed}")
    } finally q.stop()
  }

  test("streaming seasonal monitor: flagged cells == batch q219 at the same frozen profile, across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.ops.EventOps
    import graft.streaming.EventStream
    // sf0.01: at sf0.001 the support rule (n_hour >= n_days) flags zero
    // cells and the equality would be vacuous; sf0.01 flags ~100
    val ev = EventOps.events(spark, "/root/testdata/sf0.01")
    val rows = ev.selectExpr("event_type", "ts").collect()
      .map(r => (r.getString(0), r.getLong(1))) // ts is epoch ns
    // frozen profile: the same (type, hour) totals + day count the batch
    // op derives
    val profile = rows.groupBy(r => (r._1, (r._2 / 3600000000000L) % 24))
      .view.mapValues(_.length.toLong).toMap
    val nDays = rows.map(_._2 / 86400000000000L).distinct.length.toLong
    val batch = EventOps.seasonalityAnomalies(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7))).toSet
    def tsOf(ns: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(ns / 1000000000L, ns % 1000000000L))
    val hours = rows.map(_._2 / 3600000000000L)
    val mid = (hours.min + hours.max) / 2
    val b1 = rows.filter(_._2 / 3600000000000L <= mid).map { case (t, ns) => (t, tsOf(ns)) }
    val b2 = rows.filter(_._2 / 3600000000000L > mid).map { case (t, ns) => (t, tsOf(ns)) }
    // one far-future sentinel per type closes every real cell; its own
    // cell never closes and the profile is frozen, so it adds nothing
    val flush = rows.map(_._1).distinct.map(t =>
      (t, tsOf((hours.max + 1000L) * 3600000000000L)))
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val q = EventStream.seasonalMonitor(mem.toDF().toDF("event_type", "ts"),
        profile, nDays)
      .writeStream.outputMode("append").format("memory").queryName("seas").start()
    try {
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      mem.addData(b2.toSeq: _*); q.processAllAvailable()
      mem.addData(flush.toSeq: _*); q.processAllAvailable()
      val streamed = spark.table("seas").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7))).toSet
      assert(streamed == batch,
        s"streamed flags diverge:\nonly-stream=${streamed -- batch}\nonly-batch=${batch -- streamed}")
    } finally q.stop()
  }

  test("streaming IVF append: N streamed appends == batch q170 assign-union; replay leaves the index unchanged") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.ops.Similarity
    import graft.streaming.IndexStream
    val dir = "/root/testdata/sf0.001"
    val q = Similarity.quantized(spark, dir).select("vec_id", "qv", "nrm")
    val odd = q.filter(expr("vec_id % 2 = 1"))
      .as[(Long, Seq[Long], Long)].collect().sortBy(_._1)
    assert(odd.length >= 4, "need enough odd vectors to split across batches")
    val (oddA, oddB) = odd.splitAt(odd.length / 2)
    def freshDir(p: String) = Files.createTempDirectory(p).toString
    // batch twin: base on evens + ONE bulk append of all odds (q170's shape)
    val idxBatch = freshDir("ivf-batch")
    Similarity.saveIvfIndexOn(spark, q.filter(expr("vec_id % 2 = 0")), idxBatch)
    Similarity.appendToIvfIndex(spark, idxBatch, q.filter(expr("vec_id % 2 = 1")))
    val want = Similarity.knnIvfPersisted(spark, idxBatch, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    // streamed twin: same base, odds arrive as TWO micro-batches
    val idxStream = freshDir("ivf-stream")
    Similarity.saveIvfIndexOn(spark, q.filter(expr("vec_id % 2 = 0")), idxStream)
    val mem = MemoryStream[(Long, Seq[Long], Long)]
    val sq = IndexStream.appendStream(
      mem.toDF().toDF("vec_id", "qv", "nrm"), idxStream, freshDir("ivf-ckpt"))
    try {
      mem.addData(oddA.toSeq: _*); sq.processAllAvailable()
      mem.addData(oddB.toSeq: _*); sq.processAllAvailable()
    } finally sq.stop()
    def knnRows() = IndexStream.knn(spark, idxStream, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val streamed = knnRows()
    assert(streamed == want,
      s"streamed index diverges from batch append:\nonly-stream=${streamed -- want}\nonly-batch=${want -- streamed}")
    val rowsBeforeReplay = IndexStream.assignments(spark, idxStream).count()
    // replay: a restarted source re-delivers the same batches with the
    // same ids — each overwrites its own batch_id partition with
    // bit-identical rows, so the live view (and every query) is unchanged
    val replayCkpt = freshDir("ivf-ckpt2")
    graft.streaming.StreamState.adoptLineage(
      spark, s"$idxStream/appends", replayCkpt)
    val mem2 = MemoryStream[(Long, Seq[Long], Long)]
    val sq2 = IndexStream.appendStream(
      mem2.toDF().toDF("vec_id", "qv", "nrm"), idxStream, replayCkpt)
    try {
      mem2.addData(oddA.toSeq: _*); sq2.processAllAvailable()
      mem2.addData(oddB.toSeq: _*); sq2.processAllAvailable()
    } finally sq2.stop()
    assert(IndexStream.assignments(spark, idxStream)
      .count() == rowsBeforeReplay, "replay must not grow the index")
    assert(knnRows() == want, "replayed batches must leave every answer unchanged")
    SessionHygiene.clear(spark)
  }

  test("dup monitor: streamed delivery groups == batch q247 rollup, card identical") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.DupGroup
    val ev = graft.ops.EventOps.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "ts") // ts: epoch ns
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // replay injection (q247's): every 13th event delivered twice — the
    // duplicate rides in the SAME micro-batch as a prompt redelivery does
    val delivered = (ev ++ ev.filter(_._1 % 13 == 0)).sortBy(_._4)
    val batches = delivered.grouped((delivered.length + 2) / 3).toSeq
    val mem = MemoryStream[(Long, String, Timestamp)]
    val q = EventStream.dupMonitor(mem.toDF().toDF("user_id", "event_type", "ts"))
      .writeStream.outputMode("append").format("memory").queryName("dupmon").start()
    try {
      def rows(b: Seq[(Long, Long, String, Long)]) = b.map { case (_, u, t, ns) =>
        val tsn = new Timestamp(ns / 1000000L)
        tsn.setNanos(((ns % 1000000000L) / 1000L * 1000L).toInt)
        (u, t, tsn)
      }
      batches.foreach { b => mem.addData(rows(b): _*); q.processAllAvailable() }
      // sentinel far past every group + watermark delay: every timeout fires
      mem.addData((-1L, "x", new Timestamp(delivered.last._4 / 1000000L + 86400000L)))
      q.processAllAvailable()
      val got = spark.table("dupmon").as[DupGroup].collect()
        .filter(_.user_id >= 0)
        .map(g => (g.user_id, g.event_type, g.t_us * 1000L) -> g.n).toMap
      val want = delivered.groupBy(e => (e._2, e._3, e._4)).view
        .mapValues(_.length.toLong).toMap
      assert(got.size == want.size && got == want,
        "streamed groups must equal the (user, type, ts) delivery rollup")
      // card == batch q247 on the same delivered rows
      val injected = delivered.map { case (_, u, t, ns) => (u, t, ns) }
        .toSeq.toDF("user_id", "event_type", "ts")
      def cardMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("n_events"), r.getAs[Long]("n_dup_groups"),
            r.getAs[Long]("n_extra_rows"), r.getAs[Long]("dup_micro")))).toMap
      val live = EventStream.dupCard(
        spark.table("dupmon").filter(col("user_id") >= 0))
      assert(cardMap(live) == cardMap(graft.ops.EventOps.duplicateEvents(injected)),
        "live card must equal the batch q247 card")
    } finally q.stop()
  }

  test("dup monitor: an out-of-order redelivery within the watermark cannot double-emit") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.DupGroup
    // the at-least-once shape that broke the later-timestamp close: a
    // redelivery of 12:00 arrives AFTER 12:05 (in the next batch), still
    // inside the 10-minute watermark — it must MERGE into the 12:00
    // group (n=2), not re-open and re-emit it
    def ts(s: String) = Timestamp.valueOf(s"2024-01-01 $s")
    val mem = MemoryStream[(Long, String, Timestamp)]
    val q = EventStream.dupMonitor(mem.toDF().toDF("user_id", "event_type", "ts"))
      .writeStream.outputMode("append").format("memory").queryName("dupooo").start()
    try {
      mem.addData((1L, "t", ts("12:00:00")), (1L, "t", ts("12:05:00")))
      q.processAllAvailable() // watermark now 11:55 — 12:00 must stay open
      mem.addData((1L, "t", ts("12:00:00")), (1L, "t", ts("12:06:00")))
      q.processAllAvailable()
      mem.addData((-1L, "x", ts("23:00:00"))) // push the watermark past all
      q.processAllAvailable()
      val got = spark.table("dupooo").as[DupGroup].collect()
        .filter(_.user_id >= 0).sortBy(_.t_us)
      assert(got.length === 3, s"exactly one emission per group: ${got.mkString(",")}")
      assert(got.map(_.n).toSeq === Seq(2L, 1L, 1L),
        s"the redelivered 12:00 group must close once with n=2: ${got.mkString(",")}")
    } finally q.stop()
  }

  test("typed sessions: live q235/q236 cards == batch cards on the event table") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.{SessionCards, TypedSessionProcessor}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val batchEv = graft.ops.EventOps.events(spark, "/root/testdata/sf0.001")
    val ev = batchEv.select("event_id", "user_id", "event_type", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(_._4)
    val batches = ev.grouped((ev.length + 2) / 3).toSeq
    val mem = MemoryStream[(Long, Long, String, Timestamp)]
    val q = TypedSessionProcessor.sessions(
        mem.toDF().toDF("event_id", "user_id", "event_type", "ts"))
      .writeStream.outputMode("append").format("memory").queryName("typedsess").start()
    try {
      def rows(b: Seq[(Long, Long, String, Long)]) = b.map { case (e, u, t, ns) =>
        val tsn = new Timestamp(ns / 1000000L)
        tsn.setNanos(((ns % 1000000000L) / 1000L * 1000L).toInt)
        (e, u, t, tsn)
      }
      batches.foreach { b => mem.addData(rows(b): _*); q.processAllAvailable() }
      mem.addData((-1L, -1L, "x", new Timestamp(ev.last._4 / 1000000L + 86400000L)))
      q.processAllAvailable()
      val sessions = spark.table("typedsess").filter(col("user_id") >= 0)
        .localCheckpoint()
      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      assert(rowsOf(SessionCards.sizeCard(sessions)) ==
        rowsOf(graft.ops.EventOps.sessionSizes(batchEv)),
        "live size card must equal batch q235")
      assert(rowsOf(SessionCards.entryExitCard(sessions)) ==
        rowsOf(graft.ops.EventOps.entryExitTypes(batchEv)),
        "live entry/exit card must equal batch q236")
      assert(rowsOf(SessionCards.concurrencyCard(sessions)) ==
        rowsOf(graft.ops.EventOps.sessionConcurrency(batchEv)),
        "live concurrency card must equal batch q289")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("live chunk card: complete-mode stream equals batch q275 on everything arrived") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "source", "n_chars")
      .as[(Long, String, String, Long)].collect()
    val mem = MemoryStream[(Long, String, String, Long)]
    val q = graft.streaming.CorpusStream.liveChunkCard(
        mem.toDF().toDF("doc_id", "text", "source", "n_chars"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("chunkcard").start()
    try {
      docs.grouped(math.max(1, docs.length / 3)).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      val live = spark.table("chunkcard").collect().map(_.toString).sorted.toSeq
      val batch = graft.ops.Chunking.chunkGeometry(
          spark.read.parquet(s"$dir/documents.parquet"))
        .collect().map(_.toString).sorted.toSeq
      assert(live.nonEmpty && live == batch,
        "the live chunk card must equal the batch geometry card exactly")
    } finally q.stop()
  }

  test("scd2 monitor: streamed closed intervals equal batch q283 under batched replay") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.Scd2Iv
    val dir = "/root/testdata/sf0.001"
    // the same rows the batch op sees, parsed to (user, ts, event_id, k)
    val src = spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .as[(Long, Timestamp, Long, Long)].collect()
      .sortBy(r => (r._2.getTime, r._3))
    // sequential event-time batches (no event crosses the watermark),
    // deterministically scrambled WITHIN each batch — order independence
    val batches = src.grouped(math.max(1, src.length / 7)).toSeq
      .map(_.sortBy(r => r._3 * 2654435761L % 1000003L))
    val mem = MemoryStream[(Long, Timestamp, Long, Long)]
    val q = EventStream.scd2Monitor(
        mem.toDF().toDF("user_id", "ts", "event_id", "k"), "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("scd2mon").start()
    try {
      batches.foreach { b => mem.addData(b.toSeq: _*); q.processAllAvailable() }
      // far-future sentinel: watermark passes every real decision day
      val far = new Timestamp(src.last._2.getTime + 40L * 86400000L)
      mem.addData((-1L, far, -1L, 0L)); q.processAllAvailable()
      val got = spark.table("scd2mon").as[Scd2Iv].collect()
        .filter(_.user_id >= 0)
        .map(v => (v.user_id, v.k, v.valid_from_day, v.valid_to_day, v.n_days))
        .sorted.toSeq
      val want = graft.ops.EventOps.scd2History(
          graft.ops.EventOps.events(spark, dir)).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("k"),
          r.getAs[Long]("valid_from_day"), r.getAs[Long]("valid_to_day"),
          r.getAs[Long]("n_days"))).sorted.toSeq
      assert(got.nonEmpty && got == want,
        "streamed SCD2 intervals must equal the batch history exactly")
    } finally q.stop()
  }

  test("chunk index stream: live dup card == batch q276; replay is a no-op") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.CorpusStream
    val dir = "/root/testdata/sf0.001"
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "text", "n_chars")
    val docs = docsDf.as[(Long, String, String, Long)].collect().sortBy(_._1)
    val (a, b) = docs.splitAt(docs.length / 2)
    val want = graft.ops.Chunking.chunkDupCard(docsDf)
      .collect().map(_.toSeq).toSet
    val state = Files.createTempDirectory("chunkidx-state").toString
    def run(ckpt: String): Unit = {
      val mem = MemoryStream[(Long, String, String, Long)]
      val q = CorpusStream.chunkIndexStream(
        mem.toDF().toDF("doc_id", "source", "text", "n_chars"), state, ckpt)
      try {
        mem.addData(a.toSeq: _*); q.processAllAvailable()
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      } finally q.stop()
    }
    run(Files.createTempDirectory("chunkidx-ckpt").toString)
    val live = CorpusStream.liveChunkDupCard(spark, state)
      .collect().map(_.toSeq).toSet
    assert(live == want, "live chunk-dup card must equal batch q276")
    // replay on a fresh checkpoint: every batch overwrites its own
    // batch_id partition bit-identically — card unchanged (adopt the
    // new lineage first: reprocessing is explicit since r12)
    val ckpt2 = Files.createTempDirectory("chunkidx-ckpt2").toString
    graft.streaming.StreamState.adoptLineage(spark, state, ckpt2)
    run(ckpt2)
    assert(CorpusStream.liveChunkDupCard(spark, state)
      .collect().map(_.toSeq).toSet == want, "replay must be a no-op")
  }

  test("SFT gates: template strip drops mined texts; bloom drops exactly " +
      "contaminated ASSISTANT turns (user quotes survive)") {
    import spark.implicits._
    import graft.streaming.SftStream
    val bloom = SftStream.benchBloomBytes(spark)
    val passage = graft.ops.Conversations.BenchPassages.head
    val filler = (1 to 12).map(i => s"w$i").mkString(" ")
    val turns = Seq(
      (1L, 0L, "user", "hi i have a question about the data"), // template
      (1L, 1L, "assistant", s"$filler $passage"),              // leak: drop
      (1L, 2L, "user", s"$filler $passage"),                   // quote: keep
      (1L, 3L, "assistant", filler),                           // clean: keep
      (2L, 0L, "assistant", passage))                          // exact leak: drop
      .toDF("conv_id", "turn_idx", "role", "text")
    val got = SftStream.gateTurns(turns,
        Seq("hi i have a question about the data"), bloom)
      .select("conv_id", "turn_idx").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 3L)),
      s"expected the user quote and the clean turn only, got $got")
  }

  test("SFT ingest stream: admitted shards == batch admission; live " +
      "role-balance card == batch card; replay is a no-op") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.SftStream
    val dir = "/root/testdata/sf0.001"
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "text")
    val docs = docsDf.select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    val (a, b) = docs.splitAt(docs.length / 2)
    val bloom = SftStream.benchBloomBytes(spark)
    // templates mined by batch q253 — the strip set both sides share
    val templates = graft.ops.Conversations.turnTemplates(docsDf)
      .select("text").as[String].collect().toSeq
    assert(templates.nonEmpty, "the shipped corpus must plant templates")
    val wantTurns = SftStream.admitBatch(docsDf, templates, bloom)
      .collect().map(_.toSeq).toSet
    val wantCard = graft.ops.Conversations.roleBalanceOnTurns(
        SftStream.admitBatch(docsDf, templates, bloom))
      .collect().map(_.toSeq).toSet
    val state = Files.createTempDirectory("sft-state").toString
    val out = Files.createTempDirectory("sft-out").toString
    def run(ckpt: String): Unit = {
      val mem = MemoryStream[(Long, String)]
      val q = SftStream.ingestToShards(
        mem.toDF().toDF("doc_id", "text"), templates, bloom, state, out, ckpt)
      try {
        mem.addData(a.toSeq: _*); q.processAllAvailable()
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      } finally q.stop()
    }
    run(Files.createTempDirectory("sft-ckpt").toString)
    def landed() = spark.read.parquet(out)
      .select("conv_id", "turn_idx", "role", "text")
      .collect().map(_.toSeq).toSet
    assert(landed() == wantTurns,
      "streamed admission must equal the batch min-representative set")
    assert(SftStream.liveRoleBalance(spark, out).collect().map(_.toSeq).toSet
      == wantCard, "live role-balance card must equal batch q255 on admitted")
    // template strip and cross-batch dedup must actually have bitten
    val raw = graft.ops.Conversations.chatTurns(docsDf).count()
    assert(landed().size < raw, "admission must drop boilerplate mass")
    val ckpt2 = Files.createTempDirectory("sft-ckpt2").toString
    graft.streaming.StreamState.adoptLineage(spark, state, ckpt2)
    graft.streaming.StreamState.adoptLineage(spark, out, ckpt2)
    run(ckpt2)
    assert(landed() == wantTurns, "replay must be a no-op")
  }

  test("chunk index compaction: card identical, partitions bounded, " +
      "replay of compacted batches is a no-op") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.{CorpusStream, StreamState}
    val dir = "/root/testdata/sf0.001"
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "text", "n_chars")
    val docs = docsDf.as[(Long, String, String, Long)].collect().sortBy(_._1)
    val (a, rest) = docs.splitAt(docs.length / 3)
    val (b, c) = rest.splitAt(rest.length / 2)
    val want = graft.ops.Chunking.chunkDupCard(docsDf).collect().map(_.toSeq).toSet
    val state = Files.createTempDirectory("chunkcmp-state").toString
    def card() = CorpusStream.liveChunkDupCard(spark, state)
      .collect().map(_.toSeq).toSet
    val ckpt = Files.createTempDirectory("chunkcmp-ckpt").toString
    val mem = MemoryStream[(Long, String, String, Long)]
    val q = CorpusStream.chunkIndexStream(
      mem.toDF().toDF("doc_id", "source", "text", "n_chars"), state, ckpt)
    try {
      mem.addData(a.toSeq: _*); q.processAllAvailable() // batch 0
      mem.addData(b.toSeq: _*); q.processAllAvailable() // batch 1
      val mid = card()
      // the checkpoint-derived horizon reads exactly the committed tip
      assert(StreamState.lastCommittedBatch(spark, ckpt) == Some(1L))
      CorpusStream.compactChunkIndex(spark, state, 2)
      assert(card() == mid, "compaction changed the live card")
      assert(StreamState.horizon(spark, state) == 2L)
      def parts() = new java.io.File(state).listFiles()
        .filter(_.isDirectory).map(_.getName).sorted.toSeq
      // grace window (r12): superseded partitions survive one cycle —
      // reads already ignore them; gc() force-collects
      assert(parts() == Seq("base", "batch_id=0", "batch_id=1"),
        s"parts: ${parts().toList}")
      assert(card() == mid, "retained grace partitions leaked into reads")
      StreamState.gc(spark, state)
      assert(parts() == Seq("base"), s"parts: ${parts().toList}")
      assert(card() == mid, "gc changed the live card")
      // r13: re-aggregating state compacts into TIERED runs with the
      // sum merge applied at the fold — the run's ROWS are key-bounded,
      // one per (source, fp) within its batch range
      val baseRows = spark.read.parquet(s"$state/base/run=0-2")
      assert(baseRows.count() ==
        baseRows.select("source", "fp").distinct().count())
      mem.addData(c.toSeq: _*); q.processAllAvailable() // batch 2, live
      assert(card() == want, "post-compaction ingest diverged from batch q276")
      // second maintenance window: the cascade MERGES the adjacent runs
      // (comparable sizes) through the same sum merge — the card is
      // still exactly batch q276's, and the merged run stays key-bounded
      CorpusStream.compactChunkIndex(spark, state, 3)
      assert(card() == want, "cascade merge changed the live card")
      val live = new java.io.File(s"$state/base").listFiles()
        .filter(_.isDirectory).map(_.getName).sorted.toSeq
      assert(live.forall(_.startsWith("run=")), s"base: $live")
      live.foreach { r =>
        val rr = spark.read.parquet(s"$state/base/$r")
        assert(rr.count() == rr.select("source", "fp").distinct().count(),
          s"run $r not key-bounded")
      }
    } finally q.stop()
    // replay from a fresh checkpoint renumbers from 0 — batches 0 and 1
    // are BELOW the horizon (compacted): the write guard skips them, the
    // reader would ignore them regardless; batch 2 overwrites itself
    val ckpt2 = Files.createTempDirectory("chunkcmp-ckpt2").toString
    StreamState.adoptLineage(spark, state, ckpt2)
    val mem2 = MemoryStream[(Long, String, String, Long)]
    val q2 = CorpusStream.chunkIndexStream(
      mem2.toDF().toDF("doc_id", "source", "text", "n_chars"), state, ckpt2)
    try {
      mem2.addData(a.toSeq: _*); q2.processAllAvailable()
      mem2.addData(b.toSeq: _*); q2.processAllAvailable()
      mem2.addData(c.toSeq: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(card() == want, "replay over compacted state must be a no-op")
    assert(new java.io.File(state).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq == Seq("base", "batch_id=2"),
      "compacted batches must not re-materialize partitions")
  }

  test("KMV state compaction: estimate identical, base is one <=k-row sketch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.{CorpusStream, StreamState}
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val (a, b) = docs.splitAt(docs.length / 2)
    val k = 64
    val state = Files.createTempDirectory("kmvcmp-state").toString
    val mem = MemoryStream[(Long, String)]
    val q = CorpusStream.kmvStream(mem.toDF().toDF("doc_id", "text"), state,
      Files.createTempDirectory("kmvcmp-ckpt").toString, k)
    def est() = CorpusStream.kmvLive(spark, state, k).collect()(0).toSeq
    try {
      mem.addData(a.toSeq: _*); q.processAllAvailable()
      val est0 = est()
      CorpusStream.compactKmv(spark, state, 1, k)
      assert(est() == est0, "compaction changed the estimate")
      // r13: sketch state compacts into tiered runs, the KMV union-trim
      // applied at every fold — each run is one <= k-row sketch
      assert(spark.read.parquet(s"$state/base/run=0-1").count() <= k,
        "the KMV merge must trim the run to one sketch")
      mem.addData(b.toSeq: _*); q.processAllAvailable() // live batch 1
      val estAll = est()
      CorpusStream.compactKmv(spark, state, 2, k)
      assert(est() == estAll, "second compaction changed the estimate")
      assert(StreamState.horizon(spark, state) == 2L)
      // every live run the cascade left behind is itself a trimmed sketch
      new java.io.File(s"$state/base").listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("run=")).foreach { r =>
          assert(spark.read.parquet(s"$state/base/$r").count() <= k,
            s"run $r not trimmed")
        }
    } finally q.stop()
  }

  test("SFT state compaction: compacted fingerprints still gate admission; " +
      "re-sent duplicate turns stay dropped") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.{SftStream, StreamState}
    val dir = "/root/testdata/sf0.001"
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "text")
    val docs = docsDf.select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    val (a, b) = docs.splitAt(docs.length / 2)
    val bloom = SftStream.benchBloomBytes(spark)
    val templates = graft.ops.Conversations.turnTemplates(docsDf)
      .select("text").as[String].collect().toSeq
    val wantTurns = SftStream.admitBatch(docsDf, templates, bloom)
      .collect().map(_.toSeq).toSet
    val state = Files.createTempDirectory("sftcmp-state").toString
    val out = Files.createTempDirectory("sftcmp-out").toString
    def landed() = spark.read.parquet(out)
      .select("conv_id", "turn_idx", "role", "text")
      .collect().map(_.toSeq).toSet
    val mem = MemoryStream[(Long, String)]
    val q = SftStream.ingestToShards(
      mem.toDF().toDF("doc_id", "text"), templates, bloom, state, out,
      Files.createTempDirectory("sftcmp-ckpt").toString)
    try {
      mem.addData(a.toSeq: _*); q.processAllAvailable() // batch 0
      mem.addData(b.toSeq: _*); q.processAllAvailable() // batch 1
      assert(landed() == wantTurns)
      SftStream.compactState(spark, state, 2)
      assert(StreamState.horizon(spark, s"$state/turnfps") == 2L)
      StreamState.gc(spark, s"$state/turnfps") // collect the grace copies
      assert(new java.io.File(s"$state/turnfps").listFiles()
        .filter(_.isDirectory).map(_.getName).sorted.toSeq == Seq("base"))
      // batch 2: a batch-0 document re-sent under a fresh doc_id — every
      // turn's (role, fp) already lives in the COMPACTED base, so
      // nothing may re-admit
      mem.addData(a.take(3).map { case (id, t) => (id + 1000000L, t) }.toSeq: _*)
      q.processAllAvailable()
      assert(landed() == wantTurns,
        "compacted fingerprints failed to gate a re-sent duplicate")
    } finally q.stop()
  }

  test("shard-output compaction: live card identical, shard partitions " +
      "bounded, replay of compacted shard batches is a no-op") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.{SftStream, StreamState}
    val dir = "/root/testdata/sf0.001"
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "text")
    val docs = docsDf.select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    val (a, b) = docs.splitAt(docs.length / 2)
    val bloom = SftStream.benchBloomBytes(spark)
    val templates = graft.ops.Conversations.turnTemplates(docsDf)
      .select("text").as[String].collect().toSeq
    val state = Files.createTempDirectory("shardcmp-state").toString
    val out = Files.createTempDirectory("shardcmp-out").toString
    def run(ckpt: String): Unit = {
      val mem = MemoryStream[(Long, String)]
      val q = SftStream.ingestToShards(
        mem.toDF().toDF("doc_id", "text"), templates, bloom, state, out, ckpt)
      try {
        mem.addData(a.toSeq: _*); q.processAllAvailable()
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      } finally q.stop()
    }
    run(Files.createTempDirectory("shardcmp-ckpt").toString)
    def card() = SftStream.liveRoleBalance(spark, out).collect().map(_.toSeq).toSet
    val want = card()
    StreamState.compactShardsTiered(spark, out, 2)
    assert(card() == want, "shard compaction changed the live card")
    StreamState.gc(spark, out) // collect the grace copies
    assert(new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq == Seq("base"))
    // r12: shards compact into TIERED RUNS, not a full-rewrite generation
    assert(new java.io.File(s"$out/base").listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq == Seq("run=0-2"))
    // fresh-checkpoint replay: both batches below the shard horizon —
    // skipped entirely; card and directory layout unchanged
    val ckpt2 = Files.createTempDirectory("shardcmp-ckpt2").toString
    StreamState.adoptLineage(spark, state, ckpt2)
    StreamState.adoptLineage(spark, out, ckpt2)
    run(ckpt2)
    assert(card() == want, "replay over compacted shards must be a no-op")
    assert(new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq == Seq("base"),
      "compacted shard batches must not re-materialize")
  }

  test("IVF append compaction: knn identical, appends collapse to one " +
      "generation, replayed compacted appends are no-ops") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.ops.Similarity
    import graft.streaming.{IndexStream, StreamState}
    val dir = "/root/testdata/sf0.001"
    val q = Similarity.quantized(spark, dir).select("vec_id", "qv", "nrm")
    val odd = q.filter(expr("vec_id % 2 = 1"))
      .as[(Long, Seq[Long], Long)].collect().sortBy(_._1)
    val (oddA, oddB) = odd.splitAt(odd.length / 2)
    def freshDir(p: String) = Files.createTempDirectory(p).toString
    val idx = freshDir("ivfcmp")
    Similarity.saveIvfIndexOn(spark, q.filter(expr("vec_id % 2 = 0")), idx)
    def runStream(ckpt: String): Unit = {
      val mem = MemoryStream[(Long, Seq[Long], Long)]
      val sq = IndexStream.appendStream(
        mem.toDF().toDF("vec_id", "qv", "nrm"), idx, ckpt)
      try {
        mem.addData(oddA.toSeq: _*); sq.processAllAvailable()
        mem.addData(oddB.toSeq: _*); sq.processAllAvailable()
      } finally sq.stop()
    }
    runStream(freshDir("ivfcmp-ckpt"))
    def knnRows() = IndexStream.knn(spark, idx, 3).collect().map(_.toSeq).toSet
    val want = knnRows()
    val nRows = IndexStream.assignments(spark, idx).count()
    IndexStream.compactAppends(spark, idx, 2)
    assert(StreamState.horizon(spark, s"$idx/appends") == 2L)
    StreamState.gc(spark, s"$idx/appends") // collect the grace copies
    assert(new java.io.File(s"$idx/appends").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq == Seq("base"))
    assert(IndexStream.assignments(spark, idx).count() == nRows)
    assert(knnRows() == want, "compaction changed a knn answer")
    // replay after compaction: both batches are below the horizon — the
    // guard skips the writes, the index stays byte-identical
    val ckpt2 = freshDir("ivfcmp-ckpt2")
    StreamState.adoptLineage(spark, s"$idx/appends", ckpt2)
    runStream(ckpt2)
    assert(IndexStream.assignments(spark, idx).count() == nRows,
      "replayed compacted appends must not grow the index")
    assert(knnRows() == want)
    SessionHygiene.clear(spark)
  }

  test("tiered shard compaction: reads identical through runs, a fold " +
      "never rewrites a big old run (O(new data)), cascade merges small " +
      "adjacent runs, grace copies survive one cycle") {
    import spark.implicits._
    import graft.streaming.StreamState
    val out = Files.createTempDirectory("tiered-out").toString
    // batch 0 is corpus-scale; 1..3 are trigger-scale — the shape whose
    // full-rewrite compaction the r11 verdict flagged as a 100 TB
    // non-starter
    def write(b: Long, rows: Seq[Long]): Unit =
      rows.toDF("v").withColumn("b", lit(b))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/batch_id=$b")
    write(0L, (0L until 20000L))
    write(1L, (100000L until 100010L))
    write(2L, (200000L until 200010L))
    write(3L, (300000L until 300010L))
    def rows() = StreamState.read(spark, out).get
      .groupBy("b").count().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = rows()
    def runsOf() = new java.io.File(s"$out/base").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    // window 1: fold batch 0 alone into the big run
    StreamState.compactShardsTiered(spark, out, 1)
    assert(rows() == want); assert(runsOf() == Seq("run=0-1"))
    assert(StreamState.horizon(spark, out) == 1L)
    val bigRunFiles = new java.io.File(s"$out/base/run=0-1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    // window 2: fold batch 1 — the big run holds >4x the new run's
    // bytes, so the cascade must NOT touch it: compaction work is
    // O(new data), the property the full-rewrite shape lacked
    StreamState.compactShardsTiered(spark, out, 2)
    assert(rows() == want)
    assert(runsOf().contains("run=1-2") && runsOf().contains("run=0-1"))
    assert(new java.io.File(s"$out/base/run=0-1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified)).toSet == bigRunFiles,
      "a tiered fold rewrote the corpus-scale run")
    // grace: batch 0 was superseded LAST window — collected now; batch 1
    // (superseded this window) survives one more cycle
    assert(!new java.io.File(s"$out/batch_id=0").exists())
    assert(new java.io.File(s"$out/batch_id=1").exists())
    // windows 3+4: small adjacent runs cascade-merge geometrically
    StreamState.compactShardsTiered(spark, out, 3)
    StreamState.compactShardsTiered(spark, out, 4)
    assert(rows() == want)
    StreamState.gc(spark, out)
    val live = runsOf()
    assert(live.head == "run=0-1" && live.size <= 3,
      s"cascade failed to bound the live run count: $live")
    assert(live.map(_.stripPrefix("run=").split("-").map(_.toLong)).map {
      case Array(lo, hi) => (lo, hi) }
      .sortBy(_._1).sliding(2).forall {
        case Seq((_, h1), (l2, _)) => h1 == l2; case _ => true },
      s"live runs must tile [0, H) without gaps or overlap: $live")
    assert(rows() == want, "gc changed the shard rows")
  }

  test("checkpoint lineage guard: a fresh checkpoint over an existing " +
      "state dir fails loudly; adoptLineage re-binds explicitly") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.{CorpusStream, StreamState}
    val state = Files.createTempDirectory("lineage-state").toString
    val k = 16
    def run(ckpt: String, docs: Seq[(Long, String)]): Unit = {
      val mem = MemoryStream[(Long, String)]
      val q = CorpusStream.kmvStream(mem.toDF().toDF("doc_id", "text"),
        state, ckpt, k)
      try { mem.addData(docs: _*); q.processAllAvailable() } finally q.stop()
    }
    run(Files.createTempDirectory("lineage-ckpt").toString,
      Seq((1L, "alpha beta gamma")))
    // a DIFFERENT checkpoint renumbers batches from 0: new data below
    // the compaction horizon would be silently invisible — fail loudly
    // instead (r11 ADVICE)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(Files.createTempDirectory("lineage-ckpt2").toString,
        Seq((2L, "delta epsilon")))
    }
    def rootCauseChain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(rootCauseChain(ex).exists(c =>
      c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("checkpoint lineage")),
      s"expected the lineage guard, got: $ex")
    // explicit adoption: the operator declares a same-source reprocess
    val ckpt3 = Files.createTempDirectory("lineage-ckpt3").toString
    StreamState.adoptLineage(spark, state, ckpt3)
    run(ckpt3, Seq((1L, "alpha beta gamma")))
    assert(StreamState.read(spark, state).get.count() > 0)
  }

  test("liveBytes caches the recursive size walk per live-piece set " +
      "(r13 ask 7): repeat queries pay a shallow listing only; a new " +
      "batch or a compaction invalidates naturally") {
    import spark.implicits._
    import graft.streaming.StreamState
    val out = Files.createTempDirectory("lb-out").toString
    def write(b: Long): Unit =
      Seq.fill(100)(b).toDF("v").coalesce(1)
        .write.mode("overwrite").parquet(s"$out/batch_id=$b")
    write(0)
    def walks() = StreamState.contentSummaryCalls.get()
    val w0 = walks()
    val b1 = StreamState.liveBytes(spark, out)
    assert(b1.exists(_ > 0) && walks() == w0 + 1)
    // the fleet-QPS shape: the same live-piece set queried repeatedly —
    // ZERO further tree walks (the streamed-index splitFits gate calls
    // this per query)
    (1 to 5).foreach(_ => assert(StreamState.liveBytes(spark, out) == b1))
    assert(walks() == w0 + 1, "repeat liveBytes must not re-walk")
    // a new batch changes the piece set -> exactly one more walk
    write(1)
    val b2 = StreamState.liveBytes(spark, out)
    assert(b2.exists(_ > b1.get) && walks() == w0 + 2)
    // compaction changes the piece set again (runs replace partitions)
    StreamState.compactShardsTiered(spark, out, 2)
    val b3 = StreamState.liveBytes(spark, out)
    assert(b3.nonEmpty && walks() == w0 + 3)
    (1 to 5).foreach(_ => assert(StreamState.liveBytes(spark, out) == b3))
    assert(walks() == w0 + 3)
  }
}
