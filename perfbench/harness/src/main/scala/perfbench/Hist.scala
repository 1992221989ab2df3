package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Main, Metrics, MetricsSink}
import graft.sink.BatchedSink
import graft.tebis._

/** Counts the extractor's metric pushes. */
final class CountingSink extends MetricsSink {
  val pushes = new AtomicLong()
  def push(snapshot: Map[String, Long]): Unit = { pushes.incrementAndGet(); () }
}

object Hist {
  final case class Backfill(work: String, wallS: Double, traced: Boolean, commitS: Seq[Double],
      pushes: Long, createdSeries: Long)
}

/** `tebis_hist`: repeated historical backfills (`Main.runHistorical` with a
  * lake, a catalog, keep-finished and move-failed), each from a fresh copy
  * of the seeded corpus and the pre-seeded catalog. */
final class Hist(p: Params, dir: String) extends Workload {
  private val corpus = s"$dir/hist/corpus"
  private val warmCorpus = s"$dir/hist/warm"
  private val expected = Expected.read(s"$dir/hist/manifest.tsv")
  private val expectedCatalog =
    Files.readAllLines(Paths.get(s"$dir/hist/expected_catalog.txt")).asScala.filter(_.nonEmpty).toSet
  private val t0S = p.long("tebis_t0")
  private val windowS = p.long("tebis_window_s")
  private val minBackfills = p.int("min_ops")
  private val sink = new CountingSink

  import Hist.Backfill
  private val backfills = ArrayBuffer[Backfill]()
  private val lakeStats = ArrayBuffer[Map[String, Any]]()
  private var n = 0

  private def backfill(spark: SparkSession, src: String, traced: Boolean): Backfill = {
    n += 1
    val work = s"$dir/work/backfill$n"
    Fs.linkAll(src, s"$work/in")
    Fs.copyDir(s"$dir/hist/catalog", s"$work/catalog")
    val cfg = Main.Config(input = s"$work/in", output = Some(s"$work/lake"),
      catalog = Some(s"$work/catalog"), keepFinished = true, moveFailed = true)
    // as Main.run builds them for these flags
    val metrics = Metrics(spark.sparkContext, "csv_hist", sink)
    val lifecycle = new Discovery.Lifecycle(
      failedDir = Some(s"${cfg.input}/failed"), finishedDir = Some(s"${cfg.input}/finished"),
      conf = spark.sparkContext.hadoopConfiguration)
    val names = Fs.names(cfg.input).toSeq
    val pushes0 = sink.pushes.get
    val watcher = new CommitWatcher(cfg.input)
    try {
      val t0 = Trace.nowMs
      if (traced) Trace.span("hist.backfill")(tracedBackfill(spark, cfg, metrics, lifecycle))
      else Main.runHistorical(spark, cfg, metrics, lifecycle)
      val wall = (Trace.nowMs - t0) / 1e3
      watcher.await(names, 2000)
      Backfill(work, wall, traced, names.flatMap(watcher.committedAt).map(c => (c - t0) / 1e3),
        sink.pushes.get - pushes0, metrics.createdTimeSeries.value)
    } finally watcher.close()
  }

  /** `Main.runHistorical`'s steps, each layer call in its own span, and the
    * parse materialized on its own. Its wall is reported beside the
    * untraced backfills' so drift between the two shows. */
  private def tracedBackfill(spark: SparkSession, cfg: Main.Config, metrics: Metrics,
      lifecycle: Discovery.Lifecycle): Unit = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val paths = Trace.span("discovery")(
      Discovery.findHistoricalFiles(cfg.input, cfg.fromTime, cfg.untilTime, conf))
    metrics.availableCsvFiles.set(paths.size)
    metrics.unprocessedFiles.set(paths.size)
    metrics.successfullyProcessedFiles.set(0)
    Trace.span("metrics.push")(metrics.push())
    val files = TebisCsv.files(spark, paths)
    files.persist()
    try {
      Trace.span("parse")(files.count())
      Trace.span("catalog") {
        cfg.catalog.foreach { catPath =>
          val existing = Retry.withLinearBackoff() {
            val p = new org.apache.hadoop.fs.Path(catPath)
            if (p.getFileSystem(conf).exists(p)) Catalog.load(spark, catPath)
            else spark.emptyDataset[TimeSeriesMeta]
          }
          val ordByPath = paths.zipWithIndex.map { case (p, i) =>
            new org.apache.hadoop.fs.Path(p).toUri.getPath -> i
          }.toMap
          val headers = files
            .flatMap { f =>
              val ord = ordByPath.getOrElse(new org.apache.hadoop.fs.Path(f.path).toUri.getPath, Int.MaxValue)
              f.columns.map(c => (ord, c.externalId, c.name, c.colIndex))
            }
            .toDF("fileOrd", "externalId", "name", "colIndex")
          val created = Catalog.missing(headers, existing).localCheckpoint()
          metrics.createdTimeSeries.add(created.count())
          Catalog.save(Catalog.upsert(existing, created), catPath)
        }
      }
      Trace.span("sink.lake")(
        BatchedSink.writeParquet(files.filter(_.error.isEmpty).flatMap(_.datapoints), cfg.output.get))
      val results = Trace.span("results")(
        files.map(f => (f.path, f.error.isDefined, f.datapointCount, f.seriesCount)).collect())
      Trace.span("lifecycle") {
        results.foreach { case (path, failed, nPoints, nSeries) =>
          if (failed) { metrics.failedFiles.add(1); lifecycle.onFailure(path) }
          else {
            metrics.processedFiles.add(1); metrics.postedDatapoints.add(nPoints)
            metrics.postedTimeSeriesCount.set(nSeries)
            metrics.successfullyProcessedFiles.add(1)
            lifecycle.onSuccess(path)
          }
          metrics.unprocessedFiles.add(-1)
          Trace.span("metrics.push")(metrics.push())
        }
      }
      Trace.span("metrics.push")(metrics.push())
    } finally { files.unpersist(); () }
  }

  def setup(spark: SparkSession): Unit =
    (1 to p.int("warm_ops")).foreach(_ => backfill(spark, warmCorpus, traced = false))

  def timed(spark: SparkSession, seconds: Double, probe: Option[Probe]): Unit = {
    val start = Trace.nowMs
    var i = 0
    // a traced run alternates untraced and traced backfills
    while (i < minBackfills || Trace.nowMs - start < seconds * 1e3) {
      val traced = probe.isDefined && i % 2 == 1
      probe.foreach(_.on = traced)
      Trace.run = s"backfill$i"
      backfills += backfill(spark, corpus, traced)
      i += 1
    }
  }

  def check(spark: SparkSession, checks: Checks): Unit = backfills.foreach { b =>
    val windowOf = (floor(col("timestampMs") / 1000) - t0S) / windowS
    val lakeDir = new File(s"${b.work}/lake")
    val lake: Map[Long, Sums] =
      if (!lakeDir.exists) Map.empty
      else spark.read.parquet(lakeDir.getPath)
        .groupBy(floor(windowOf).as("w"))
        .agg(count(lit(1)), sum(col("timestampMs")), sum(round(col("value") * 1000).cast("long")))
        .collect().map(r => r.getLong(0) -> Sums(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val finished = Fs.names(s"${b.work}/in/finished")
    val deadLettered = Fs.names(s"${b.work}/in/failed")
    val left = Fs.names(s"${b.work}/in").filter(_.endsWith(".csv"))
    val catalog = spark.read.parquet(s"${b.work}/catalog").select("externalId").collect().map(_.getString(0))
    val catalogSet = catalog.toSet
    checks.check(catalog.length == catalogSet.size && catalogSet == expectedCatalog,
      s"${b.work}: catalog has ${catalog.length} rows, ${(catalogSet -- expectedCatalog).size} unexpected " +
        s"and ${(expectedCatalog -- catalogSet).size} missing series")
    expected.foreach { e =>
      val sums = lake.get(e.window)
      val ok =
        if (e.bad) sums.isEmpty && deadLettered(e.name) && !finished(e.name) && !left(e.name)
        else sums.contains(Sums(e.points, e.sumTsMs, e.sumV1000)) && finished(e.name) && !left(e.name) &&
          e.ids.forall(catalogSet)
      checks.check(ok, s"${b.work}: ${e.name} lake=$sums expected=${Sums(e.points, e.sumTsMs, e.sumV1000)} " +
        s"finished=${finished(e.name)} failed=${deadLettered(e.name)}")
    }
    (lake.keySet -- expected.map(_.window)).foreach(w => checks.fail(s"${b.work}: lake rows in unknown window $w"))
    val data = Fs.dataFiles(lakeDir)
    lakeStats += Map("points" -> lake.values.map(_.points).sum, "bytes" -> data.map(_.length).sum,
      "files" -> data.size, "moves" -> finished.size, "dead_letters" -> deadLettered.size)
  }

  def result: Map[String, Any] = Map(
    "backfills" -> backfills.zipWithIndex.map { case (b, i) => Map(
      "wall_s" -> b.wallS, "traced" -> b.traced, "commit_s" -> b.commitS,
      "pushes" -> b.pushes, "created_series" -> b.createdSeries) ++ lakeStats.lift(i).getOrElse(Map.empty) },
    "corpus_points" -> expected.map(_.points).sum,
    "corpus_files" -> expected.size)
}
