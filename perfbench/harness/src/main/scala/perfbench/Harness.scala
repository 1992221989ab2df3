package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One benchmark workload inside one JVM. */
trait Workload {
  /** Extra session settings (the suite installs the engine's extensions). */
  def sessionConf: Map[String, String] = Map.empty
  /** Set-up on the fresh session: fixtures and warm-up. */
  def setup(spark: SparkSession): Unit
  /** Stop what `setup` started (idempotent). */
  def stop(): Unit = ()
  /** The measured region: at least `seconds` long. With a probe, some legs
    * pause it to measure the tracing overhead. */
  def timed(spark: SparkSession, seconds: Double, probe: Option[Probe]): Unit
  /** Check every output of the measured region. */
  def check(spark: SparkSession, checks: Checks): Unit
  /** Raw measurements for the runner. */
  def result: Map[String, Any]
}

/** `tebis_hist_live`: the historical backfills, then the live stream, in
  * one session. */
final class Tebis(p: Params, dir: String) extends Workload {
  private val hist = new Hist(p, dir)
  private val live = new Live(p, dir)
  def setup(spark: SparkSession): Unit = { hist.setup(spark); live.setup(spark) }
  override def stop(): Unit = live.stop()
  def timed(spark: SparkSession, seconds: Double, probe: Option[Probe]): Unit = {
    hist.timed(spark, seconds, probe)
    live.timed(spark, seconds, probe)
  }
  def check(spark: SparkSession, checks: Checks): Unit = { hist.check(spark, checks); live.check(spark, checks) }
  def result: Map[String, Any] = Map("hist" -> hist.result, "live" -> live.result)
}

/** Entry point: `Harness RUN_DIR`, where RUN_DIR holds `run.properties` and
  * the generated inputs. Writes RUN_DIR/result.json. */
object Harness {
  def session(p: Params, extra: Map[String, String]): SparkSession = {
    val cpus = p("cpus")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", p("scratch"))
      .config("spark.sql.warehouse.dir", s"${p("scratch")}/warehouse")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val p = new Params(s"$dir/run.properties")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    Trace.enabled = p("trace") == "1"
    val w: Workload = p("workload") match {
      case "tebis_hist_live" => new Tebis(p, dir)
      case "suite_sf0.01" => new Suite(p, dir)
      case other => sys.error(s"unknown workload $other")
    }
    // set-up is timed from JVM start
    Trace.run = "setup"
    val spark = Trace.span("setup.session")(session(p, w.sessionConf))
    Trace.span("setup.warmup")(w.setup(spark))
    val setupS = (Trace.nowMs - jvmStartMs) / 1e3
    val probe = if (Trace.enabled) Some(new Probe) else None
    probe.foreach(Probe.attach(spark, _))
    Trace.run = "timed"
    val compile0 = Probe.codegenCompileS
    w.timed(spark, p.double("seconds"), probe)
    val compileS = Probe.codegenCompileS - compile0
    probe.foreach { pr => pr.on = false; pr.drain() }
    // what the program still holds once its work is done and its stream stopped
    w.stop()
    val heapMb = Heap.retainedMb()
    val checks = new Checks
    try w.check(spark, checks)
    catch { case e: Exception => checks.fail(s"check crashed: $e") }
    spark.stop()
    Json.write(s"$dir/result.json", Map(
      "setup_s" -> setupS,
      "heap_retained_mb" -> heapMb,
      "workload" -> w.result,
      "codegen_compile_s" -> compileS,
      "probe" -> probe.map(_.toJson),
      "spans" -> Trace.toJson,
      "attempted" -> checks.attempted,
      "failed" -> checks.failed,
      "failures" -> checks.failures))
  }
}
