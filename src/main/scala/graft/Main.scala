package graft

import org.apache.spark.sql.SparkSession

import graft.sink.{BatchedSink, DatapointsClient}
import graft.streaming.LiveStream
import graft.tebis._

/** Engine entry point (reference S22 CLI surface, main.py:24-53).
  *
  * Flags mirror the reference: `--input DIR` (required), `--live` or
  * `--historical` (default), `--from-time`/`--until-time` (exclusive
  * filename-epoch bounds, 0 = unset), `--move-failed`, `--keep-finished`,
  * `--log DIR`/`-d DIR` (log directory → the log4j2 `graft.log.dir`
  * property), `--log-level LEVEL`.
  * Engine-specific: `--output DIR` (day-partitioned datapoints parquet —
  * the standalone stand-in for the reference's CDF datapoints API),
  * `--catalog PATH` (time-series catalog parquet, lazily upserted like
  * the reference's CDF catalog; historical mode only — `--live` with
  * `--catalog` is rejected), `--checkpoint DIR` (live mode). */
object Main {
  /** Credential wrapper whose every rendering is scrubbed — logging a
    * Config (reference main.py:85-86 zeroes args.api_key before logging)
    * can never leak the key. */
  final case class Secret(value: String) {
    override def toString: String = "****"
  }

  case class Config(
      input: String = "",
      live: Boolean = false,
      fromTime: Option[Long] = None,
      untilTime: Option[Long] = None,
      moveFailed: Boolean = false,
      keepFinished: Boolean = false,
      output: Option[String] = None,
      catalog: Option[String] = None,
      checkpoint: String = "/tmp/graft-checkpoint",
      apiKey: Option[Secret] = None,
      logDir: Option[String] = None,
      logLevel: String = "WARN",
      project: String = "graft")

  def parseArgs(args: Array[String]): Config = {
    def loop(cfg: Config, rest: List[String]): Config = rest match {
      case Nil => cfg
      case "--input" :: v :: t => loop(cfg.copy(input = v), t)
      case "--live" :: t => loop(cfg.copy(live = true), t)
      case "--historical" :: t => loop(cfg.copy(live = false), t)
      case "--from-time" :: v :: t => loop(cfg.copy(fromTime = Some(v.toLong)), t)
      case "--until-time" :: v :: t => loop(cfg.copy(untilTime = Some(v.toLong)), t)
      case "--move-failed" :: t => loop(cfg.copy(moveFailed = true), t)
      case "--keep-finished" :: t => loop(cfg.copy(keepFinished = true), t)
      case "--output" :: v :: t => loop(cfg.copy(output = Some(v)), t)
      case "--catalog" :: v :: t => loop(cfg.copy(catalog = Some(v)), t)
      case "--checkpoint" :: v :: t => loop(cfg.copy(checkpoint = v), t)
      case "--api-key" :: v :: t => loop(cfg.copy(apiKey = Some(Secret(v))), t)
      // reference main.py:39 `--log/-d DIR` (log directory): maps onto the
      // shipped log4j2 config's `graft.log.dir` property (see
      // graft-log4j2.properties — the rolling appender's basepath)
      case "--log" :: v :: t => loop(cfg.copy(logDir = Some(v)), t)
      case "-d" :: v :: t => loop(cfg.copy(logDir = Some(v)), t)
      case "--log-level" :: v :: t => loop(cfg.copy(logLevel = v), t)
      // project_name label on every metric (reference main.py:106-107
      // reads it off the CDF client; standalone build takes a flag)
      case "--project" :: v :: t => loop(cfg.copy(project = v), t)
      case other :: _ => throw new IllegalArgumentException(s"unknown flag: $other")
    }
    val cfg = loop(Config(), args.toList)
    require(cfg.input.nonEmpty, "--input is required")
    // live mode creates no series: refuse the catalog rather than ignore it
    require(!(cfg.live && cfg.catalog.isDefined), "--catalog is not supported with --live")
    // flag wins; else the env var (reference main.py:83-85)
    if (cfg.apiKey.isDefined) cfg
    else cfg.copy(apiKey = sys.env.get("GRAFT_EXTRACTOR_API_KEY").map(Secret))
  }

  /** Stand-in for the CDF datapoints endpoint when no `--output` is given
    * (dry-run). */
  val LoggingClient: DatapointsClient = new graft.sink.StdoutDatapointsClient

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args)
    // Secret renders as ****: this line is safe with --api-key present
    println(s"[graft] configured with $cfg")
    // --log DIR → the log4j2 property, set BEFORE the session brings the
    // logging system up; an explicit -Dgraft.log.dir still wins (a
    // deployment's java-options override outranks the convenience flag)
    cfg.logDir.foreach { d =>
      if (System.getProperty("graft.log.dir") == null)
        System.setProperty("graft.log.dir", d)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-extractor")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel(cfg.logLevel)
    // missing input folder is fatal (reference main.py:89-91, exit 2)
    val inPath = new org.apache.hadoop.fs.Path(cfg.input)
    if (!inPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(inPath)) {
      System.err.println(s"[graft] input folder does not exist: ${cfg.input}")
      spark.stop()
      sys.exit(2)
    }
    try run(spark, cfg)
    finally spark.stop()
  }

  def run(spark: SparkSession, cfg: Config): Unit = {
    // reference configure_prometheus (monitoring.py:15-31): a real
    // push-gateway sink when the env trio is configured, else the
    // unconfigured-dummy fallback (here: the logging stand-in)
    val metrics = Metrics(spark.sparkContext,
      if (cfg.live) "csv_live" else "csv_hist",
      MetricsSink.Prometheus.fromEnv(cfg.project))
    // configure a LOCAL client instance: the key becomes instance state,
    // so the closure-serialized client carries it to executors (injecting
    // into a global/singleton would only authenticate the driver's copy)
    val client: DatapointsClient = {
      val c = new graft.sink.StdoutDatapointsClient
      cfg.apiKey.foreach(k => c.setApiKey(k.value))
      c
    }
    if (cfg.live) {
      val query = LiveStream.start(spark,
        LiveStream.Config(
          inputDir = cfg.input,
          checkpointDir = cfg.checkpoint,
          // managed lifecycle: delete-as-commit (or archive) for posted
          // files, dead-letter for failures; dirs are SIBLINGS of --input
          // so the streaming source never re-lists them
          archiveDir = if (cfg.keepFinished) Some(s"${cfg.input}_finished") else None,
          failedDir = if (cfg.moveFailed) Some(s"${cfg.input}_failed") else None,
          outputDir = cfg.output),
        client, Some(metrics))
      query.awaitTermination()
    } else {
      val lifecycle = new Discovery.Lifecycle(
        failedDir = if (cfg.moveFailed) Some(s"${cfg.input}/failed") else None,
        finishedDir = if (cfg.keepFinished) Some(s"${cfg.input}/finished") else None,
        conf = spark.sparkContext.hadoopConfiguration)
      runHistorical(spark, cfg, metrics, lifecycle, client)
    }
  }

  /** Historical batch (reference E1): discover -> parse distributed ->
    * catalog upsert -> sink -> per-file lifecycle. */
  def runHistorical(spark: SparkSession, cfg: Config, metrics: Metrics,
      lifecycle: Discovery.Lifecycle, client: DatapointsClient = LoggingClient): Unit = {
    import spark.implicits._
    val paths = Discovery.findHistoricalFiles(
      cfg.input, cfg.fromTime, cfg.untilTime, spark.sparkContext.hadoopConfiguration)
    // batch-scoped gauges reset per run ("in this batch", monitoring.py)
    metrics.availableCsvFiles.set(paths.size)
    metrics.unprocessedFiles.set(paths.size)
    metrics.successfullyProcessedFiles.set(0)
    // post-discovery push (reference csv_extractor.py:41)
    metrics.push()
    if (paths.isEmpty) { println("[graft] no input files"); return }

    val files = TebisCsv.files(spark, paths)
    files.persist()
    try {
      // Catalog upsert (S12/S13): first-wins per externalId, retried load.
      cfg.catalog.foreach { catPath =>
        val existing = Retry.withLinearBackoff() {
          val p = new org.apache.hadoop.fs.Path(catPath)
          if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
            Catalog.load(spark, catPath)
          else spark.emptyDataset[TimeSeriesMeta]
        }
        // first-wins naming follows DISCOVERY order (numeric filename-token
        // rank), matching the reference's sequential processing order
        val ordByPath = paths.zipWithIndex.map { case (p, i) =>
          new org.apache.hadoop.fs.Path(p).toUri.getPath -> i
        }.toMap
        // failed files included: their pre-failure headers created series
        // in the reference too (create_time_series precedes the raise)
        val headers = files
          .flatMap { f =>
            // binaryFile renders paths as URIs; compare scheme-free paths
            val ord = ordByPath.getOrElse(
              new org.apache.hadoop.fs.Path(f.path).toUri.getPath, Int.MaxValue)
            f.columns.map(c => (ord, c.externalId, c.name, c.colIndex))
          }
          .toDF("fileOrd", "externalId", "name", "colIndex")
        // materialize once: count + upsert + save would otherwise each
        // re-run the aggregation/anti-join
        val created = Catalog.missing(headers, existing).localCheckpoint()
        metrics.createdTimeSeries.add(created.count())
        Catalog.save(Catalog.upsert(existing, created), catPath)
      }

      // Sink: parquet lakehouse when --output, else batched client posts;
      // then the shared per-file account (S17/S18/S21) and a per-file
      // push (reference csv_extractor.py:230), each as its file commits
      BatchedSink.sinkFiles(files, client, cfg.output.map(out => BatchedSink.writeParquet(_, out))) { r =>
        BatchedSink.account(r, Some(metrics), lifecycle)
        metrics.unprocessedFiles.add(-1)
        metrics.push()
      }
      println(s"[graft] processed=${metrics.processedFiles.value} failed=${metrics.failedFiles.value} datapoints=${metrics.postedDatapoints.value} created_series=${metrics.createdTimeSeries.value}")
      // final push after the batch completes (reference csv_extractor.py:234)
      metrics.push()
    } finally files.unpersist()
  }
}
