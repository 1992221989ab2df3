package graft.streaming

import java.nio.charset.Charset

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Metrics
import graft.sink.{BatchedSink, DatapointsClient}
import graft.tebis.{TebisCsv, TebisFile}

/** Live micro-batch mode (reference E2, csv_extractor.py:25-50,265-280),
  * re-expressed as Structured Streaming over the binaryFile source.
  *
  * Reference constants → source/trigger configuration:
  *  - poll every 8 s            → Trigger.ProcessingTime(8 s)
  *  - 20 newest files per poll  → maxFilesPerTrigger=20 + latestFirst=true
  *  - delete-as-commit          → checkpointed source offsets; at-least-once
  *    posts (a crash mid-batch replays the whole batch, like the
  *    reference's delete-after-post), with `ignoreMissingFiles` so a
  *    replayed batch that already deleted its files SKIPS them (they were
  *    fully posted — deletion is the final step of the batch) instead of
  *    wedging the stream on FileNotFoundException.
  *  - 1 s mtime settle window   → closed executor-side (see settledBytes):
  *    content is read at the file's settle deadline, once its mtime is at
  *    least `settleMs` old or has not moved for `settleMs`, so a file
  *    caught mid-write by the directory listing is parsed from its SETTLED
  *    bytes. This is strictly stronger than the reference's
  *    skip-young-files poll (csv_extractor.py:267), which re-offers the
  *    file next poll; the streaming source offers a file exactly once, so
  *    the wait must happen at read time.
  *  - post, then account         → one job per micro-batch: each task posts
  *    its settled files and returns one status row per file; the driver
  *    counts, dead-letters and deletes from those rows once every post
  *    has returned.
  */
object LiveStream {
  /** Error marker for a file that vanished between listing and read — a
    * replayed batch re-reading files its crashed attempt already deleted.
    * Excluded from failure accounting (the posts already happened). */
  val ReplayMissing = "source file missing (replay after delete-as-commit)"

  /** What a micro-batch returns to the driver per file: its path, its
    * parse or read error, and the counts the metrics need. */
  case class FileOutcome(path: String, error: Option[String], datapoints: Long, series: Long)

  object FileOutcome {
    def apply(f: TebisFile): FileOutcome =
      FileOutcome(f.path, f.error, f.datapointCount, f.seriesCount)
  }

  case class Config(
      inputDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 20,
      triggerMs: Long = 8000L,
      latestFirst: Boolean = true,
      /** When true (default), the micro-batch itself applies the
        * reference's commit protocol: SUCCESSFUL files are deleted (or
        * moved to archiveDir), failed files are dead-lettered to
        * failedDir or left in place — never deleted. Spark's cleanSource
        * would delete/archive failed files too (it cannot see parse
        * outcomes), so it stays "off" when this is on. */
      manageLifecycle: Boolean = true,
      cleanSource: String = "off", // off | delete | archive (only when !manageLifecycle)
      archiveDir: Option[String] = None,
      failedDir: Option[String] = None, // dead-letter parse failures (--move-failed)
      /** When set, each micro-batch's datapoints land as day-partitioned
        * parquet under `outputDir/batch_id=N` (overwrite — idempotent on
        * replay, so the lake is exactly-once at rest) instead of client
        * posts: the live twin of the historical `--output` path. */
      outputDir: Option[String] = None,
      batchMax: Int = BatchedSink.BatchMax,
      /** Minimum mtime age before a file's content is trusted (reference's
        * 1 s settle window). 0 disables the wait. */
      settleMs: Long = 1000L)

  /** Read `path`'s bytes at its settle deadline: the earlier of
    *  - mtime + `settleMs` by the local clock (the file is `settleMs` old);
    *  - the local time this mtime was first observed + `settleMs` (no
    *    write for a full window, whatever the storage clock says — a
    *    storage clock AHEAD of the executor would otherwise make settled
    *    files look forever-young). A changed mtime restarts this window.
    * Either rule is confirmed by a fresh stat at the deadline. The wait is
    * bounded: a writer that never settles is read anyway after
    * max(5 settle windows, 5 s) — best-effort, like any mtime heuristic.
    * Runs in the executor task, so the wait costs trigger latency, not
    * correctness: the listing snapshot's content is never used. */
  private[streaming] def settledBytes(
      path: String, settleMs: Long, conf: org.apache.hadoop.conf.Configuration): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (settleMs > 0) {
      val giveUp = System.currentTimeMillis + math.max(settleMs * 5, 5000L)
      var mtime = Long.MinValue
      var seenAt = 0L
      var settled = false
      while (!settled) {
        // the clock is read BEFORE the stat and seenAt AFTER it, so both
        // rules hold for the instant the stat actually observed
        val now = System.currentTimeMillis
        val m = fs.getFileStatus(p).getModificationTime
        if (m != mtime) { mtime = m; seenAt = System.currentTimeMillis }
        val due = math.min(mtime, seenAt) + settleMs
        settled = now >= due || now >= giveUp
        if (!settled) Thread.sleep(math.max(math.min(due, giveUp) - now, 1L))
      }
    }
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** Start the live pipeline: stream files → parse per-file in executors →
    * post ≤1000-series batches via the client. Returns the running query. */
  def start(
      spark: SparkSession,
      cfg: Config,
      client: DatapointsClient,
      metrics: Option[Metrics] = None): StreamingQuery = {
    import spark.implicits._
    // binaryFile's fixed schema, required explicitly for streaming
    val binarySchema = org.apache.spark.sql.types.StructType.fromDDL(
      "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
    val cleanSource = if (cfg.manageLifecycle) "off" else cfg.cleanSource
    val reader = spark.readStream.format("binaryFile")
      .schema(binarySchema)
      .option("pathGlobFilter", "*.csv")
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .option("latestFirst", cfg.latestFirst)
      .option("cleanSource", cleanSource)
      // replay-after-delete: a batch replayed after its (post-completing)
      // deletion step must skip, not crash — see the scaladoc
      .option("ignoreMissingFiles", "true")
    if (!cfg.manageLifecycle) cfg.archiveDir.foreach(reader.option("sourceArchiveDir", _))
    // Hadoop Configuration is not java-serializable; ship its entries and
    // rebuild per task (≤ maxFilesPerTrigger stats per batch — cheap)
    val confEntries = spark.sparkContext.hadoopConfiguration.iterator().asScala
      .map(e => e.getKey -> e.getValue).toArray
    val settleMs = cfg.settleMs
    // select path only: content is read via settledBytes (column pruning
    // keeps the source from reading bytes the task would discard)
    val files = reader.load(cfg.inputDir)
      .select($"path").as[String]
      .map { p =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        try {
          val bytes = settledBytes(p, settleMs, conf)
          TebisCsv.parseContent(p, new String(bytes, Charset.forName(TebisCsv.Encoding)))
        } catch {
          // replay after delete-as-commit: the file was fully posted in the
          // crashed attempt (deletion is the batch's last step) — skip it,
          // do NOT dead-letter (mirrors ignoreMissingFiles for the listing)
          case _: java.io.FileNotFoundException => TebisFile(p, Nil, Some(ReplayMissing))
          case e: java.io.IOException => TebisFile(p, Nil, Some(s"read failed: ${e.getMessage}"))
        }
      }

    files.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.ProcessingTime(cfg.triggerMs))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[TebisFile], batchId: Long) =>
        val outcome = org.apache.spark.sql.Encoders.product[FileOutcome]
        // ≤ maxFilesPerTrigger rows, paths and counts only, never contents
        val rows = cfg.outputDir match {
          case Some(out) =>
            // lakehouse path: distributed parquet write, idempotent per
            // batch; the status collect reads the same persisted parse
            batch.persist()
            try {
              val dps = batch.filter(_.error.isEmpty).flatMap(_.datapoints)(
                org.apache.spark.sql.Encoders.product[graft.tebis.Datapoint])
              BatchedSink.writeParquetBatch(dps, out, batchId)
              batch.map(FileOutcome(_))(outcome).collect()
            } finally { batch.unpersist(); () }
          case None =>
            // one job: each task posts its good files and returns their
            // status; nothing is counted in the task (an accumulator add
            // inside a map is not exact-once under task retry)
            val batchMax = cfg.batchMax
            batch.map { f =>
              if (f.error.isEmpty) BatchedSink.postFile(f, client, batchMax)
              FileOutcome(f)
            }(outcome).collect()
        }
        val ok = rows.filter(_.error.isEmpty)
        // gauges and counters are DRIVER-set from the status rows (a .set
        // inside a task closure would mutate a deserialized copy)
        metrics.foreach { m =>
          ok.foreach { r =>
            m.processedFiles.add(1)
            m.postedDatapoints.add(r.datapoints)
          }
          ok.lastOption.foreach(r => m.postedTimeSeriesCount.set(r.series))
        }
        val lifecycle = new graft.tebis.Discovery.Lifecycle(
          cfg.failedDir, cfg.archiveDir, spark.sparkContext.hadoopConfiguration)
        rows.filter(r => r.error.isDefined && !r.error.contains(ReplayMissing)).foreach { r =>
          metrics.foreach(_.failedFiles.add(1))
          // dead-letter or leave in place; NEVER delete an uningested file
          if (cfg.failedDir.isDefined) lifecycle.onFailure(r.path)
        }
        if (cfg.manageLifecycle) {
          // delete-as-commit (or archive) for successfully posted files —
          // the reference's E2 protocol, applied per micro-batch. Runs
          // LAST, after the job above returned, so a replay implies every
          // post completed; ignoreMissingFiles turns that replay into a skip.
          ok.foreach(r => lifecycle.onSuccess(r.path))
          metrics.foreach(_.successfullyProcessedFiles.set(ok.length.toLong))
        }
        // per-poll folder gauges, after lifecycle moves (reference
        // monitoring.py available_csv_files / unprocessed_files)
        metrics.foreach { m =>
          val in = new org.apache.hadoop.fs.Path(cfg.inputDir)
          val fs = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val remaining =
            if (fs.exists(in))
              fs.listStatus(in).count(s => s.isFile && s.getPath.getName.endsWith(".csv")).toLong
            else 0L
          m.availableCsvFiles.set(remaining)
          m.unprocessedFiles.set(remaining)
        }
        // per-poll push, gauges freshly set (reference csv_extractor.py:41)
        metrics.foreach(_.push())
      }
      .start()
  }
}
