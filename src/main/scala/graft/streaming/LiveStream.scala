package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Metrics
import graft.sink.{BatchedSink, DatapointsClient}
import graft.tebis.{Discovery, TebisCsv, TebisFile}
import graft.util.HadoopConf

/** Live micro-batch mode (reference E2, csv_extractor.py:25-50,265-280),
  * re-expressed as Structured Streaming over the binaryFile source.
  *
  * Reference constants → source/trigger configuration:
  *  - poll every 8 s            → Trigger.ProcessingTime(8 s) (`triggerMs`)
  *  - 20 newest files per poll  → maxFilesPerTrigger=20 + latestFirst=true
  *    (constants, like the reference's)
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
  *    the wait must happen at read time. The settled bytes go through
  *    [[graft.tebis.TebisCsv.decode]], the decode of every mode.
  *  - post, then account         → the commit step historical mode uses
  *    too: [[graft.sink.BatchedSink.sinkFiles]] (one job per micro-batch:
  *    each task posts its settled files and returns one status row per
  *    file), with [[graft.sink.BatchedSink.account]] per row on the
  *    driver — count, dead-letter, delete — as soon as the task that read
  *    the file has returned, not when the batch's last file has settled.
  *    The at-least-once window is one task: a file is deleted only after
  *    every post of its task returned; a crash after some tasks committed
  *    replays the batch, their deleted files are skipped as
  *    [[ReplayMissing]] and the rest are posted again. With `outputDir`
  *    the batch commits as a whole, after its parquet write.
  *  - folder gauges → [[graft.tebis.Discovery.csvFiles]] after each batch.
  */
object LiveStream {
  /** Error marker for a file that vanished between listing and read — a
    * replayed batch re-reading files its crashed attempt already deleted.
    * Excluded from failure accounting (the posts already happened). */
  val ReplayMissing = "source file missing (replay after delete-as-commit)"

  /** Files per micro-batch, newest first (the reference's top-20 poll). */
  val FilesPerTrigger = 20

  case class Config(
      inputDir: String,
      checkpointDir: String,
      triggerMs: Long = 8000L,
      /** Successfully posted files are moved here instead of deleted. */
      archiveDir: Option[String] = None,
      failedDir: Option[String] = None, // dead-letter parse failures (--move-failed)
      /** When set, each micro-batch's datapoints land as day-partitioned
        * parquet under `outputDir/batch_id=N` (overwrite — idempotent on
        * replay, so the lake is exactly-once at rest) instead of client
        * posts: the live twin of the historical `--output` path. */
      outputDir: Option[String] = None,
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
    try in.readAllBytes() finally in.close()
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
    val reader = spark.readStream.format("binaryFile")
      .schema(binarySchema)
      .option("pathGlobFilter", "*.csv")
      .option("maxFilesPerTrigger", FilesPerTrigger)
      .option("latestFirst", true)
      // replay-after-delete: a batch replayed after its (post-completing)
      // deletion step must skip, not crash — see the scaladoc
      .option("ignoreMissingFiles", "true")
    val conf = HadoopConf(spark)
    val settleMs = cfg.settleMs
    // select path only: content is read via settledBytes (column pruning
    // keeps the source from reading bytes the task would discard)
    val files = reader.load(cfg.inputDir)
      .select($"path").as[String]
      .map { p =>
        try TebisCsv.decode(p, settledBytes(p, settleMs, conf.value))
        catch {
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
        // batch-scoped gauge: this poll's successful files
        metrics.foreach(_.successfullyProcessedFiles.set(0))
        // delete-as-commit (or archive) per file, as soon as the task that
        // read it has returned from its posts, so a replay implies every
        // post of a deleted file completed; ignoreMissingFiles turns that
        // replay into a skip, and its vanished files (posted by the
        // crashed attempt) are not accounted again
        val lifecycle = new Discovery.Lifecycle(
          cfg.failedDir, cfg.archiveDir, spark.sparkContext.hadoopConfiguration)
        BatchedSink.sinkFiles(batch, client,
          cfg.outputDir.map(out => BatchedSink.writeParquetBatch(_, out, batchId))) { r =>
          if (!r.error.contains(ReplayMissing)) BatchedSink.account(r, metrics, lifecycle)
        }
        // per-poll folder gauges, after lifecycle moves (reference
        // monitoring.py available_csv_files / unprocessed_files), and the
        // lag: the age of the oldest file still waiting in the folder
        metrics.foreach { m =>
          val pending = Discovery.csvFiles(cfg.inputDir, spark.sparkContext.hadoopConfiguration)
          m.availableCsvFiles.set(pending.length)
          m.unprocessedFiles.set(pending.length)
          m.oldestPendingFileAgeMs.set(
            if (pending.isEmpty) 0L
            else System.currentTimeMillis - pending.map(_.getModificationTime).min)
        }
        // per-poll push, gauges freshly set (reference csv_extractor.py:41)
        metrics.foreach(_.push())
      }
      .start()
  }
}
