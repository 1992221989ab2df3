package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Metrics
import graft.sink.{DatapointsClient, SeriesPayload}
import graft.streaming.LiveStream

/** What the counting client received. Static, because the client is
  * serialized into tasks and local-mode tasks share this JVM. */
object Posts {
  val byWindow = new ConcurrentHashMap[Long, Array[Long]]()
  val calls = new AtomicLong()
  val series = new AtomicLong()
  val points = new AtomicLong()

  def get(window: Long): Option[Sums] = Option(byWindow.get(window)).map(a => a.synchronized(Sums(a(0), a(1), a(2))))
}

/** A datapoints endpoint that counts what it is sent, per source-file
  * window (every generated file owns a disjoint time window). */
final class CountingClient(t0S: Long, windowS: Long) extends DatapointsClient {
  def insertMultiple(batch: Seq[SeriesPayload]): Unit = {
    Posts.calls.incrementAndGet()
    Posts.series.addAndGet(batch.size)
    batch.foreach { s =>
      s.datapoints.groupBy(d => Math.floorDiv(Math.floorDiv(d.timestampMs, 1000L) - t0S, windowS)).foreach {
        case (w, dps) =>
          val a = Posts.byWindow.computeIfAbsent(w, _ => new Array[Long](3))
          a.synchronized {
            a(0) += dps.size
            a(1) += dps.map(_.timestampMs).sum
            a(2) += dps.map(d => Math.round(d.value * 1000)).sum
          }
          Posts.points.addAndGet(dps.size)
      }
    }
  }
}

/** `tebis_live`: `LiveStream.start` with the CLI defaults except an
  * immediate trigger. Phase A drops files on an open-loop schedule and
  * times each from its due time to its commit; phase B drops a backlog at
  * once and times its drain. */
final class Live(p: Params, dir: String) extends Workload {
  private val root = s"$dir/live"
  private val in = s"$root/in"
  private val staging = s"$root/staging"
  private val dead = s"$root/dead"
  private val t0S = p.long("tebis_t0")
  private val windowS = p.long("tebis_window_s")
  private val rate = p.double("live_rate")
  private val phaseA = Expected.read(s"$root/a.tsv")
  private val phaseB = Expected.read(s"$root/b.tsv")
  private val sink = new CountingSink
  private val streamProbe = new StreamProbe
  private var query: StreamingQuery = null
  private var watcher: CommitWatcher = null

  private val latencyS = ArrayBuffer[Double]()
  private val latenessS = ArrayBuffer[Double]()
  private val backlogs = ArrayBuffer[Map[String, Any]]()
  private var phaseAStartMs = 0.0
  private var phaseAEndMs = 0.0

  private def drop(from: String, e: Expected): Unit =
    Files.move(Paths.get(from, e.name), Paths.get(in, e.name), StandardCopyOption.ATOMIC_MOVE)

  private def awaitCommits(files: Seq[Expected]): Unit =
    if (!watcher.await(files.map(_.name), 120000))
      sys.error(s"${files.count(f => watcher.committedAt(f.name).isEmpty)} files not committed in 120 s")

  def setup(spark: SparkSession): Unit = {
    Seq(in, staging, dead).foreach(d => Files.createDirectories(Paths.get(d)))
    watcher = new CommitWatcher(in)
    if (Trace.enabled) spark.streams.addListener(streamProbe)
    // Main.run's live configuration: delete-as-commit, dead-letter to a
    // sibling of the input dir, metrics pushed per micro-batch
    query = LiveStream.start(spark,
      LiveStream.Config(inputDir = in, checkpointDir = s"$root/checkpoint", triggerMs = 0L,
        failedDir = Some(dead)),
      new CountingClient(t0S, windowS), Some(Metrics(spark.sparkContext, "csv_live", sink)))
    val warm = Expected.read(s"$root/warm.tsv")
    warm.foreach(drop(s"$root/warm", _))
    awaitCommits(warm)
  }

  override def stop(): Unit = if (query != null) { query.stop(); query = null }

  def timed(spark: SparkSession, seconds: Double, probe: Option[Probe]): Unit = {
    streamProbe.progress.clear()
    Seq(Posts.calls, Posts.series, Posts.points).foreach(_.set(0))
    probe.foreach(_.on = true)
    val periodMs = 1000.0 / rate
    val startMs = Trace.nowMs + 100
    phaseAStartMs = startMs
    val due = phaseA.indices.map(startMs + _ * periodMs)
    Trace.run = "phaseA"
    phaseA.zip(due).foreach { case (e, d) =>
      val waitMs = d - Trace.nowMs
      if (waitMs > 0) Thread.sleep(waitMs.toLong, ((waitMs % 1) * 1e6).toInt)
      // written now, so the file is as young as a freshly exported one
      Files.copy(Paths.get(root, "a", e.name), Paths.get(staging, e.name))
      drop(staging, e)
      latenessS += (Trace.nowMs - d) / 1e3
    }
    awaitCommits(phaseA)
    phaseAEndMs = Trace.nowMs
    phaseA.zip(due).foreach { case (e, d) => latencyS += (watcher.committedAt(e.name).get - d) / 1e3 }
    // the backlog is dropped in parts, one after the other commits; a
    // traced run drains every second part untraced, to measure the overhead
    phaseB.grouped(p.int("live_backlog_files")).zipWithIndex.foreach { case (files, leg) =>
      val traced = probe.isDefined && leg % 2 == 1
      probe.foreach(_.on = traced)
      Trace.run = s"phaseB$leg"
      val t0 = Trace.nowMs
      files.foreach(drop(s"$root/b", _))
      awaitCommits(files)
      val drainS = (files.map(f => watcher.committedAt(f.name).get).max - t0) / 1e3
      backlogs += Map("files" -> files.size, "drain_s" -> drainS, "traced" -> traced)
    }
  }

  def check(spark: SparkSession, checks: Checks): Unit = {
    val deadLettered = Fs.names(dead)
    val left = Fs.names(in)
    (phaseA ++ phaseB).foreach { e =>
      val got = Posts.get(e.window)
      val ok =
        if (e.bad) got.isEmpty && deadLettered(e.name) && !left(e.name)
        else got.contains(Sums(e.points, e.sumTsMs, e.sumV1000)) && !deadLettered(e.name) && !left(e.name)
      checks.check(ok, s"${e.name}: posted=$got expected=${Sums(e.points, e.sumTsMs, e.sumV1000)} " +
        s"left=${left(e.name)} dead=${deadLettered(e.name)}")
    }
  }

  def result: Map[String, Any] = Map(
    "latency_s" -> latencyS,
    "lateness_s" -> latenessS,
    "backlogs" -> backlogs,
    "phase_a_start_ms" -> phaseAStartMs,
    "phase_a_end_ms" -> phaseAEndMs,
    "posts" -> Map("calls" -> Posts.calls.get, "series" -> Posts.series.get, "points" -> Posts.points.get),
    "metric_pushes" -> sink.pushes.get,
    "batches" -> streamProbe.progress.asScala.toSeq)
}
