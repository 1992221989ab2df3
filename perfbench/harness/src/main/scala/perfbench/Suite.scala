package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.{SessionHygiene, SparkEntry}
import graft.ops._
import graft.queries.{CoreQueries, QueryDef}

object Suite {
  final case class Run(buildS: Double, execS: Double, traced: Boolean, pinned: Int)
}

/** `suite_sf0.01`: warm noop-sink evaluations of a fixed subset of the query
  * suite, in a seeded order, with `SessionHygiene.clear` between queries
  * outside the timed region. */
final class Suite(p: Params, dir: String) extends Workload {
  private val data = s"$dir/suite/data"
  private val minPasses = p.int("min_ops")

  override def sessionConf: Map[String, String] = Map(
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "16384")

  /** `SparkEntry.modules`, by module. */
  private val modules: Seq[(String, Seq[QueryDef])] = Seq(
    "Core" -> CoreQueries.all, "EventOps" -> EventOps.queries, "TextStats" -> TextStats.queries,
    "Sampling" -> Sampling.queries, "Dedup" -> Dedup.queries, "Similarity" -> Similarity.queries,
    "Multimodal" -> Multimodal.queries, "Corpus" -> Corpus.queries, "Layout" -> Layout.queries,
    "Pipeline" -> Pipeline.queries, "Cleaning" -> Cleaning.queries, "Conversations" -> Conversations.queries,
    "Preferences" -> Preferences.queries, "Chunking" -> Chunking.queries, "Profiling" -> Profiling.queries)
  require(modules.flatMap(_._2).map(_.name) == SparkEntry.modules.map(_.name),
    "the benchmark's module list no longer matches SparkEntry.modules")

  /** The named queries, which must cover every module. */
  private val chosen: Seq[(String, QueryDef)] = {
    val byName = modules.flatMap { case (m, qs) => qs.map(q => q.name -> (m -> q)) }.toMap
    val chosen = p("suite_queries").split(",").toSeq.map(n => byName.getOrElse(n, sys.error(s"no query $n")))
    val missed = modules.map(_._1).filterNot(chosen.map(_._1).toSet)
    require(missed.isEmpty, s"no query of module ${missed.mkString(", ")} is selected")
    chosen
  }
  /** The timed order. */
  private val selected = new scala.util.Random(p.long("seed")).shuffle(chosen)

  import Suite.Run
  private val runs = selected.map(_._2.name -> ArrayBuffer[Run]()).toMap
  private val errors = scala.collection.mutable.Map[String, String]()

  /** Build and run one query into `out` (the noop sink when None), after
    * clearing the previous query's session debris. */
  private def evaluate(spark: SparkSession, q: QueryDef, out: Option[String]): Option[Run] = {
    SessionHygiene.clear(spark)
    try Trace.span(s"query:${q.name}") {
      val t0 = Trace.nowMs
      val df = Trace.span("suite.build")(q.fn(spark, data))
      val t1 = Trace.nowMs
      Trace.span("suite.execute") {
        out match {
          case Some(path) => df.write.mode("overwrite").parquet(path)
          case None => df.write.mode("overwrite").format("noop").save()
        }
      }
      val t2 = Trace.nowMs
      println(f"[perfbench] ${q.name} build ${(t1 - t0) / 1e3}%.3f s, execute ${(t2 - t1) / 1e3}%.3f s")
      Some(Run((t1 - t0) / 1e3, (t2 - t1) / 1e3, Trace.enabled, spark.sparkContext.getPersistentRDDs.size))
    } catch {
      case e: Exception => errors.getOrElseUpdate(q.name, e.toString.take(300)); None
    }
  }

  /** The warm-up passes, in the listed order: every query's first
    * evaluations in the session. */
  def setup(spark: SparkSession): Unit =
    (1 to p.int("warm_ops")).foreach(_ => chosen.foreach { case (_, q) => evaluate(spark, q, None) })

  def timed(spark: SparkSession, seconds: Double, probe: Option[Probe]): Unit = {
    val traceOn = Trace.enabled
    val start = Trace.nowMs
    var pass = 0
    // a traced run alternates untraced and traced passes
    while (pass < minPasses || Trace.nowMs - start < seconds * 1e3) {
      val traced = probe.isDefined && pass % 2 == 1
      probe.foreach(_.on = traced)
      Trace.enabled = traceOn && traced
      Trace.run = s"pass$pass"
      selected.foreach { case (_, q) => evaluate(spark, q, None).foreach(runs(q.name) += _) }
      pass += 1
    }
    Trace.enabled = traceOn
  }

  /** One more evaluation of every query in the warm session, after the
    * timed passes, into parquet: the output the runner compares with the
    * oracle, made from the same session state the timed evaluations saw. */
  def check(spark: SparkSession, checks: Checks): Unit = {
    Trace.run = "check"
    selected.foreach { case (_, q) => evaluate(spark, q, Some(s"$dir/suite/results/${q.name}")) }
    selected.foreach { case (_, q) =>
      checks.check(!errors.contains(q.name), s"${q.name}: ${errors.getOrElse(q.name, "")}")
    }
  }

  def result: Map[String, Any] = {
    Files.createDirectories(Paths.get(s"$dir/suite/oracle"))
    selected.foreach { case (_, q) =>
      q.oracle.foreach(sql => Files.writeString(Paths.get(s"$dir/suite/oracle/${q.name}.sql"), sql))
    }
    Map(
      "queries" -> selected.map { case (m, q) => Map(
        "name" -> q.name, "module" -> m, "has_oracle" -> q.oracle.isDefined,
        "error" -> errors.get(q.name),
        "runs" -> runs(q.name).map(r => Map("build_s" -> r.buildS, "exec_s" -> r.execS,
          "traced" -> r.traced, "pinned_rdds" -> r.pinned))) })
  }
}
