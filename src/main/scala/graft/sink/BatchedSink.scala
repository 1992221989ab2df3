package graft.sink

import java.util.concurrent.LinkedBlockingQueue

import scala.annotation.tailrec
import scala.concurrent.ExecutionContext
import scala.util.Try

import org.apache.spark.sql.{Dataset, Encoders, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Metrics
import graft.tebis.{Datapoint, DatapointValue, Discovery, TebisFile}

/** One insert-request payload: all buffered points of one series
  * (reference `{"externalId":…, "datapoints":[(ts,value)…]}`,
  * csv_extractor.py:158). */
case class SeriesPayload(externalId: String, datapoints: Seq[DatapointValue])

/** Pluggable datapoints endpoint (the reference's CogniteClient stand-in).
  * Implementations must be idempotent on (externalId, timestamp) — the
  * pipeline is at-least-once (SURVEY §3 E2). */
trait DatapointsClient extends Serializable {
  def insertMultiple(batch: Seq[SeriesPayload]): Unit
}

/** Clients needing endpoint credentials implement this; the CLI resolves
  * the key (`--api-key` flag, else GRAFT_EXTRACTOR_API_KEY env — the
  * reference's main.py:83-85 pattern) and injects it AFTER construction,
  * so `clientClass` reflection stays no-arg and the key never appears in
  * any Config/log rendering (see [[graft.Main.Secret]]). */
trait ApiKeyAuthed {
  def setApiKey(key: String): Unit
}

/** Dry-run client: logs request shapes to stdout. No-arg constructible,
  * so it also serves as a `clientClass` for the DataSourceV2 sink. */
class StdoutDatapointsClient extends DatapointsClient with ApiKeyAuthed {
  // carried as instance state so a driver-configured client SERIALIZES
  // its credential into executor closures (a global/singleton client
  // re-resolves per executor JVM and would lose driver-side injection)
  @volatile private var apiKey: Option[String] = None
  override def setApiKey(key: String): Unit = {
    apiKey = Some(key)
    println("[sink] api key configured (****)")
  }
  def insertMultiple(batch: Seq[SeriesPayload]): Unit =
    println(s"[sink] insert_multiple${if (apiKey.isDefined) " (authed)" else ""}: ${batch.size} series, ${batch.map(_.datapoints.size).sum} datapoints")
}

/** What committing a parsed file returns to the driver: its path, its
  * parse or read error, and the counts the metrics need — never contents. */
case class FileOutcome(path: String, error: Option[String], datapoints: Long, series: Long)

object FileOutcome {
  def apply(f: TebisFile): FileOutcome =
    FileOutcome(f.path, f.error, f.datapointCount, f.seriesCount)
}

/** Batched parallel sink (S15/S16, csv_extractor.py:22,137-146,162-196).
  *
  * Reference constant: at most `BatchMax` (1000) series per insert
  * request; parallelism comes from Spark tasks (the reference's thread
  * fan-out, but distributed and retried by `spark.task.maxFailures`).
  * Both modes commit parsed files through [[sinkFiles]], which calls back
  * with each file's status on the driver, where [[account]] commits it:
  * on the post path as soon as the task holding the file has returned, on
  * the lake path once the batch's parquet write has.
  */
object BatchedSink {
  val BatchMax = 1000

  /** Post one parsed file's payloads in <=1000-series batches, preserving
    * the reference's flush-at-1000 grouping (grouped == flush-then-rest
    * because the reference flushes exactly at 1000). Only series with >=1
    * surviving datapoint become payloads (csv_extractor.py:157-160). */
  def postFile(file: TebisFile, client: DatapointsClient): Unit = {
    val payloads = file.columns.iterator
      .filter(_.datapoints.nonEmpty)
      .map(c => SeriesPayload(c.externalId, c.datapoints))
    payloads.grouped(BatchMax).foreach(client.insertMultiple(_))
  }

  /** Sink parsed files and hand each file's [[FileOutcome]] to `onOutcome`
    * on the calling thread.
    *
    * Without `lake`, one job: each task posts its good files and returns
    * their status rows (nothing is counted in the task: an accumulator add
    * in a map is not exact-once under task retry). A task's rows are
    * delivered as soon as that task has finished, so a file is committed
    * once every post of the task that read it has returned, not once the
    * whole job has; a job failure is rethrown after the rows of the tasks
    * that finished before it.
    *
    * With `lake`, the caller's parquet write of the good files' datapoints,
    * then one status collect over the same persisted parse (persisted here
    * unless already cached): the batch's files commit together with that
    * write, so their rows are delivered after it. */
  def sinkFiles(files: Dataset[TebisFile], client: DatapointsClient,
      lake: Option[Dataset[Datapoint] => Unit])(onOutcome: FileOutcome => Unit): Unit = {
    val outcome = Encoders.product[FileOutcome]
    lake match {
      case Some(write) =>
        val cached = files.storageLevel != StorageLevel.NONE
        if (!cached) files.persist()
        try {
          write(files.filter(_.error.isEmpty).flatMap(_.datapoints)(Encoders.product[Datapoint]))
          files.map(FileOutcome(_))(outcome).collect().foreach(onOutcome)
        } finally if (!cached) files.unpersist()
      case None =>
        val rows = files.map { f =>
          if (f.error.isEmpty) postFile(f, client)
          FileOutcome(f)
        }(outcome).rdd
        // the result handler runs on the scheduler's event thread: it only
        // enqueues; the job's end is queued after its last task's rows
        val done = new LinkedBlockingQueue[Either[Try[Unit], Array[FileOutcome]]]()
        val job = files.sparkSession.sparkContext.submitJob(rows,
          (it: Iterator[FileOutcome]) => it.toArray, rows.partitions.indices,
          (_: Int, r: Array[FileOutcome]) => done.put(Right(r)), ())
        job.onComplete(end => done.put(Left(end)))(ExecutionContext.parasitic)
        @tailrec def drain(): Try[Unit] = done.take() match {
          case Right(r) => r.foreach(onOutcome); drain()
          case Left(end) => end
        }
        // a throwing callback or an interrupt abandons the rest of the job
        val end = try drain() catch { case e: Throwable => job.cancel(); throw e }
        end.get
    }
  }

  /** The per-file account (S17/S18/S21), on the driver once every post of
    * the file's task has returned: a failed file is counted and dead-lettered,
    * never deleted; a good file is counted, sets the series gauge (the
    * reference's sequential count_of_time_series_gauge) and is deleted or
    * archived. */
  def account(r: FileOutcome, metrics: Option[Metrics], lifecycle: Discovery.Lifecycle): Unit =
    if (r.error.isDefined) {
      metrics.foreach(_.failedFiles.add(1))
      lifecycle.onFailure(r.path)
    } else {
      metrics.foreach { m =>
        m.processedFiles.add(1)
        m.postedDatapoints.add(r.datapoints)
        m.postedTimeSeriesCount.set(r.series)
        m.successfullyProcessedFiles.add(1)
      }
      lifecycle.onSuccess(r.path)
    }

  /** Shared lakehouse layout: one place defines the day partitioning and
    * in-file sort so the historical and streaming paths cannot diverge. */
  private def writeLake(ds: Dataset[Datapoint], path: String, mode: SaveMode): Unit =
    ds.withColumn("day", to_date(timestamp_millis(col("timestampMs"))))
      // repartition by (day, externalId), not day alone: a day's whole
      // volume in one task is the classic few-distinct-keys trap;
      // partitionBy(day) still yields one directory per day
      .repartition(col("day"), col("externalId"))
      .sortWithinPartitions("day", "externalId", "timestampMs")
      .write.partitionBy("day").mode(mode).parquet(path)

  /** Exactly-once-at-rest streaming twin of [[writeParquet]]: each
    * micro-batch lands in its own `batch_id=N` subdirectory with
    * OVERWRITE semantics, so a batch replayed after a crash rewrites the
    * same directory instead of appending duplicates. Readers point at
    * `path` and get `batch_id` via partition discovery (prune it or drop
    * it — the day partition below carries the query-pruning value). */
  def writeParquetBatch(ds: Dataset[Datapoint], path: String, batchId: Long): Unit =
    writeLake(ds, s"$path/batch_id=$batchId", SaveMode.Overwrite)

  /** Parquet datapoint sink for the lakehouse path: partitioned by UTC day
    * so per-series time-range queries prune partitions, sorted within files
    * by (externalId, timestampMs) for row-group skipping at 100 TB. */
  def writeParquet(ds: Dataset[Datapoint], path: String): Unit =
    writeLake(ds, path, SaveMode.Append)

  /** Compact a streaming lake (`path/batch_id=N/day=D/...`, many small
    * per-trigger files) into the historical Append layout at `destPath`:
    * one read, re-bucketed and re-sorted by the shared layout, so
    * downstream scans pay row-group pruning instead of a
    * file-per-micro-batch listing storm.
    *
    * Only COMMITTED batch dirs (those with a `_SUCCESS` marker) are
    * compacted — a batch the streaming query is mid-writing is skipped,
    * never torn. Idempotence is IN-BAND: after the append commits, each
    * compacted dir gets a `_COMPACTED` marker and marked dirs are skipped
    * on every later scan — a re-run without any caller-side cleanup is a
    * no-op, never a row duplication. (Underscore-prefixed files are
    * invisible to Spark's partition discovery, so lake readers are
    * unaffected.) Returns the dirs compacted THIS call; the caller may
    * delete them at leisure to reclaim space — or never. */
  def compactLake(spark: org.apache.spark.sql.SparkSession, path: String, destPath: String): Seq[String] = {
    import spark.implicits._
    require(destPath != path, "compacting a lake onto itself would mix batch_id and day layouts")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val committed = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .filter(s => fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
      .filter(s => !fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_COMPACTED")))
      .map(_.getPath.toString).toSeq.sorted
    if (committed.isEmpty) return Nil
    // basePath keeps partition discovery rooted at the lake when reading
    // an explicit list of batch_id dirs (else Spark flags them as
    // conflicting partition roots)
    val dps = spark.read.option("basePath", path).parquet(committed: _*)
      .select($"externalId", $"timestampMs", $"value").as[Datapoint]
    writeLake(dps, destPath, SaveMode.Append)
    // marker AFTER the append commits: a crash between write and marker
    // re-compacts (at-least-once within this maintenance op) — the same
    // window the caller-delete contract had, but now bounded in-band
    committed.foreach { dir =>
      fs.create(new org.apache.hadoop.fs.Path(dir, "_COMPACTED"), true).close()
    }
    committed
  }
}
