package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters taken through Spark's public listener APIs. Nothing
  * is registered in an untraced run; `on` pauses recording inside a traced
  * run, for its untraced comparison legs. */
final class Probe extends SparkListener with QueryExecutionListener {
  @volatile var on = true

  import Probe._

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  val plans = new ConcurrentLinkedQueue[Plan]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (on) { jobs.put(e.jobId, Job(e.jobId, e.time, e.stageIds)); () }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.put(i.stageId, Stage(i.numTasks, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
    ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (on) {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      var (exchanges, smj, shj) = (0, 0, 0)
      def visit(p: SparkPlan): Unit = {
        p.getClass.getSimpleName match {
          case "ShuffleExchangeExec" => exchanges += 1
          case "SortMergeJoinExec" => smj += 1
          case "ShuffledHashJoinExec" => shj += 1
          case _ =>
        }
        p match {
          case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
          case q: QueryStageExec => visit(q.plan)
          case _ => p.children.foreach(visit)
        }
        p.subqueries.foreach(visit)
      }
      visit(qe.executedPlan)
      plans.add(Plan(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum, exchanges, smj, shj))
    }
    ()
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until every recorded job has ended (listener events are async). */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (jobs.values.asScala.exists(_.endMs < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    Thread.sleep(50)
  }

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages)),
    "stages" -> stages.asScala.toSeq.sortBy(_._1).map { case (id, s) => Map(
      "id" -> id, "tasks" -> s.tasks, "run_s" -> s.runMs / 1e3, "cpu_s" -> s.cpuNs / 1e9,
      "gc_s" -> s.gcMs / 1e3, "shuffle_write_b" -> s.shuffleWriteB, "spill_b" -> s.spillB) },
    "plans" -> plans.asScala.toSeq.map(p => Map(
      "start_ms" -> p.startMs, "plan_s" -> p.planMs / 1e3,
      "exchanges" -> p.exchanges, "smj" -> p.smj, "shj" -> p.shj)))
}

object Probe {
  final case class Job(id: Int, startMs: Long, stages: Seq[Int]) { @volatile var endMs = -1L }
  final case class Stage(tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long, shuffleWriteB: Long, spillB: Long)
  final case class Plan(startMs: Long, planMs: Long, exchanges: Int, smj: Int, shj: Int)

  def attach(spark: SparkSession, probe: Probe): Unit = {
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
  }

  /** Total Janino compile time so far, in seconds. */
  def codegenCompileS: Double = CodeGenerator.compileTime / 1e9
}

/** Micro-batch progress reports of the live stream. */
final class StreamProbe extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }.toMap
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      progress.add(Map("batch" -> p.batchId, "files" -> p.numInputRows,
        "start_ms" -> startMs, "durations_s" -> d))
      Trace.record("live.batch", startMs, startMs + d.getOrElse("triggerExecution", 0.0) * 1e3)
    }
  }
}
