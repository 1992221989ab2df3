package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.util.LongAccumulator

/** A settable gauge (reference monitoring.py Gauge usage). DRIVER-set
  * only: unlike the accumulators, a Gauge has no executor->driver merge,
  * and a .set inside a task closure mutates a deserialized throwaway
  * copy (even in local[n] — closures serialize there too). Callers set
  * gauges from driver-side accounting (bounded metadata collects). */
final class Gauge(val name: String) extends Serializable {
  private val v = new AtomicLong()
  def set(x: Long): Unit = v.set(x)
  def add(x: Long): Unit = { v.addAndGet(x); () }
  def get: Long = v.get
}

/** Where metric snapshots go (reference monitoring.py:96-100
  * `push_to_server`). No Prometheus client in a zero-egress build, so the
  * push target is pluggable: a gateway impl would POST the map; the
  * shipped impls log or record. Driver-side only — `Metrics.push()` is
  * called from driver code, never task closures. */
trait MetricsSink extends Serializable {
  def push(snapshot: Map[String, Long]): Unit
}

object MetricsSink {
  /** Discard (the reference's effective behavior when no push-gateway is
    * configured). */
  object Noop extends MetricsSink {
    def push(snapshot: Map[String, Long]): Unit = ()
  }

  /** One sorted `k=v` line per push — the standalone stand-in for the
    * reference's gateway. */
  final class Logging extends MetricsSink {
    def push(snapshot: Map[String, Long]): Unit =
      println(snapshot.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString("[metrics] ", " ", ""))
  }

  /** Retains every pushed snapshot, for tests and embedding callers. */
  final class Recording extends MetricsSink {
    private val buf = scala.collection.mutable.ArrayBuffer[Map[String, Long]]()
    def push(snapshot: Map[String, Long]): Unit = synchronized { buf += snapshot; () }
    def pushes: Seq[Map[String, Long]] = synchronized(buf.toSeq)
    def last: Option[Map[String, Long]] = synchronized(buf.lastOption)
  }

  /** Prometheus push-gateway sink (reference monitoring.py:96-100: the
    * `push_to_server` target; metric registry monitoring.py:50-81).
    * Renders each snapshot in the Prometheus text exposition format
    * (version 0.0.4 — `# HELP` / `# TYPE` comments, one sample line per
    * metric with a `project_name` label, exactly what prometheus_client
    * generates for the reference's registry) and PUTs it to
    * `<gateway>/metrics/job/<job>`, the push-gateway URL contract.
    *
    * The transport is pluggable so specs assert the exact wire body with
    * no network, and the zero-egress build never opens a socket unless a
    * gateway is really configured. Monitoring failures never kill
    * extraction — [[Metrics.push]] already wraps every sink call in the
    * reference's try/except.
    *
    * @param transport `(url, body) => Unit`; [[Prometheus.httpPut]] is
    *   the production impl (HTTP PUT, text/plain 0.0.4, basic auth).
    */
  final class Prometheus(gateway: String, job: String, projectName: String,
      transport: (String, String) => Unit) extends MetricsSink {
    private val url =
      s"${gateway.stripSuffix("/")}/metrics/job/${Prometheus.pathEncode(job)}"
    def push(snapshot: Map[String, Long]): Unit =
      transport(url, Prometheus.exposition(snapshot, projectName))
  }

  object Prometheus {
    /** Accumulator-backed metrics are Prometheus counters; the client
      * library appends `_total` to a counter's name in exposition
      * (reference monitoring.py:50-66 declares these three as Counter;
      * processed_files is this engine's addition, same kind). */
    private val counters = Set(
      "posted_data_points", "created_time_series", "failed_processing_files",
      "processed_files")

    /** HELP text, verbatim from the reference registry
      * (monitoring.py:50-81). */
    private val help = Map(
      "created_time_series" -> "Number of time series created since the extractor started running",
      "posted_data_points" -> "Number of datapoints posted since the extractor started running",
      "posted_time_series_count" -> "Number of timeseries that had valid datapoints in the current file",
      "failed_processing_files" -> "Number of files where processing failed since the extractor started running",
      "available_csv_files" -> "Number of csv files in the folder that could be processed by the extractor",
      "unprocessed_files" -> "Number of csv files that remains to be processed in this batch",
      "successfully_processed_files" -> "Number of csv files that has been successfully processed in this batch",
      "processed_files" -> "Number of csv files processed since the extractor started running",
      "oldest_pending_file_age_ms" -> "Age in milliseconds of the oldest csv file waiting in the folder after the last poll")

    /** Render a snapshot (keys `namespace.metric`) as text exposition
      * 0.0.4. Deterministic: metrics sorted by exposition name. */
    def exposition(snapshot: Map[String, Long], projectName: String): String = {
      val label = s"""project_name="${escapeLabel(projectName)}""""
      val blocks = snapshot.toSeq.map { case (key, value) =>
        val (ns, metric) = key.lastIndexOf('.') match {
          case -1 => ("", key)
          case i  => (key.substring(0, i), key.substring(i + 1))
        }
        val base = sanitize(if (ns.isEmpty) metric else s"${ns}_$metric")
        val kind = if (counters(metric)) "counter" else "gauge"
        val name = if (counters(metric)) s"${base}_total" else base
        val helpLine = help.get(metric)
          .map(h => s"# HELP $name $h\n").getOrElse("")
        (name, s"$helpLine# TYPE $name $kind\n$name{$label} $value\n")
      }
      blocks.sortBy(_._1).map(_._2).mkString
    }

    /** Exposition metric names: `[a-zA-Z_:][a-zA-Z0-9_:]*`. */
    private def sanitize(name: String): String = {
      val s = name.map(c => if (c.isLetterOrDigit || c == '_' || c == ':') c else '_')
      if (s.nonEmpty && s.head.isDigit) "_" + s else s
    }

    /** Label values escape backslash, quote, newline (exposition spec). */
    private def escapeLabel(v: String): String =
      v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

    private[graft] def pathEncode(s: String): String =
      java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")

    /** Production transport: HTTP PUT (push-gateway replace semantics)
      * with the exposition content type; basic auth when credentials are
      * given. Non-2xx is an exception — surfaced (and swallowed) by
      * [[Metrics.push]]'s reference-parity try/except. */
    def httpPut(auth: Option[(String, String)]): (String, String) => Unit =
      (url, body) => {
        val conn = new java.net.URI(url).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        try {
          conn.setRequestMethod("PUT")
          conn.setDoOutput(true)
          conn.setConnectTimeout(10000)
          conn.setReadTimeout(10000)
          conn.setRequestProperty("Content-Type",
            "text/plain; version=0.0.4; charset=utf-8")
          auth.foreach { case (u, p) =>
            val tok = java.util.Base64.getEncoder
              .encodeToString(s"$u:$p".getBytes("UTF-8"))
            conn.setRequestProperty("Authorization", s"Basic $tok")
          }
          val out = conn.getOutputStream
          try out.write(body.getBytes("UTF-8")) finally out.close()
          val code = conn.getResponseCode
          if (code < 200 || code >= 300)
            throw new java.io.IOException(s"push-gateway returned $code")
        } finally conn.disconnect()
      }

    /** Mirror of the reference's `configure_prometheus`
      * (monitoring.py:15-31): a gateway sink when the job/user/password
      * env vars are all present, otherwise the unconfigured-dummy
      * fallback (here: the logging stand-in). Env vars renamed for this
      * engine, same trio. */
    def fromEnv(projectName: String,
        env: Map[String, String] = sys.env): MetricsSink = {
      (env.get("GRAFT_PROMETHEUS_GATEWAY"), env.get("GRAFT_PROMETHEUS_JOBNAME"),
        env.get("GRAFT_PROMETHEUS_USERNAME"), env.get("GRAFT_PROMETHEUS_PASSWORD")) match {
        case (Some(gw), Some(job), Some(u), Some(p)) =>
          new Prometheus(gw, job, projectName, httpPut(Some((u, p))))
        case _ =>
          // The reference's configure_prometheus warns with the missing
          // configuration (monitoring.py:26-28); a silently-dropped typo'd
          // var name would lose metrics with no signal, so name exactly
          // which of the quartet is absent before falling back.
          val names = Seq("GRAFT_PROMETHEUS_GATEWAY", "GRAFT_PROMETHEUS_JOBNAME",
            "GRAFT_PROMETHEUS_USERNAME", "GRAFT_PROMETHEUS_PASSWORD")
          val missing = names.filterNot(env.contains)
          if (missing.size < names.size)
            System.err.println("[graft] Prometheus push disabled — incomplete " +
              s"configuration, missing: ${missing.mkString(", ")}; metrics fall back to logging")
          new Logging
      }
    }
  }
}

/** Pipeline metrics (reference S21, monitoring.py:49-100) as Spark
  * accumulators (counters: cluster-safe, driver-aggregated) plus gauges
  * mirroring the reference's four (monitoring.py:57-79), plus live
  * mode's lag gauge. `snapshot()`
  * feeds the pluggable [[MetricsSink]] via `push()`, mirroring the
  * reference's `monitor.push()` cadence (csv_extractor.py:41,230,234):
  * after discovery, after each file's accounting, after the final flush. */
final class Metrics(sc: SparkContext, namespace: String,
    @transient private val sink: MetricsSink = MetricsSink.Noop) extends Serializable {
  val postedDatapoints: LongAccumulator = sc.longAccumulator(s"$namespace.posted_data_points")
  val createdTimeSeries: LongAccumulator = sc.longAccumulator(s"$namespace.created_time_series")
  val failedFiles: LongAccumulator = sc.longAccumulator(s"$namespace.failed_processing_files")
  val processedFiles: LongAccumulator = sc.longAccumulator(s"$namespace.processed_files")

  /** csv files in the input folder that the extractor could process. */
  val availableCsvFiles = new Gauge(s"$namespace.available_csv_files")
  /** csv files remaining to be processed in this batch. */
  val unprocessedFiles = new Gauge(s"$namespace.unprocessed_files")
  /** csv files successfully processed in this batch. */
  val successfullyProcessedFiles = new Gauge(s"$namespace.successfully_processed_files")
  /** series with valid datapoints in the file currently being posted. */
  val postedTimeSeriesCount = new Gauge(s"$namespace.posted_time_series_count")
  /** live mode: age of the oldest csv file still in the input folder at
    * the end of a micro-batch, 0 when none is left. */
  val oldestPendingFileAgeMs = new Gauge(s"$namespace.oldest_pending_file_age_ms")

  def snapshot(): Map[String, Long] = Map(
    postedDatapoints.name.get -> postedDatapoints.value,
    createdTimeSeries.name.get -> createdTimeSeries.value,
    failedFiles.name.get -> failedFiles.value,
    processedFiles.name.get -> processedFiles.value,
    availableCsvFiles.name -> availableCsvFiles.get,
    unprocessedFiles.name -> unprocessedFiles.get,
    successfullyProcessedFiles.name -> successfullyProcessedFiles.get,
    postedTimeSeriesCount.name -> postedTimeSeriesCount.get,
    oldestPendingFileAgeMs.name -> oldestPendingFileAgeMs.get)

  /** Push a snapshot to the sink. A monitoring outage must never kill
    * extraction: failures are logged and swallowed, exactly the
    * reference's try/except (monitoring.py:96-100). Null-safe because the
    * sink field is transient: a Metrics that round-tripped through
    * closure serialization pushes nowhere rather than NPEs. */
  def push(): Unit = {
    val s = sink
    if (s != null) {
      try s.push(snapshot())
      catch {
        case e: Exception =>
          System.err.println(s"[graft] failed to push metrics: ${e.getMessage}")
      }
    }
  }
}

object Metrics {
  def apply(sc: SparkContext, namespace: String = "csv_hist",
      sink: MetricsSink = MetricsSink.Noop): Metrics =
    new Metrics(sc, namespace, sink)
}
