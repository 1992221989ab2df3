package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart}

/** Per-stage profiler for declared queries — the "open the Stages tab"
  * loop from the optimization guide, headless. Runs a named query in the
  * Bench session ([[GraftSession]]) and prints, per stage: task count,
  * total task time, max task time (straggler/serial signal),
  * input/shuffle bytes.
  * A stage whose `tasks=1` but carries most of the task time is a
  * serial head; a stage with max >> avg is skew.
  *
  * Usage: runMain graft.Probe <sfDir> <query> [iters]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val iters = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession()

    case class St(stage: Int, name: String, tasks: Int, taskMs: Long,
        maxMs: Long, inputMB: Double, shReadMB: Double, shWriteMB: Double,
        submitted: Long)
    val stages = mutable.ArrayBuffer[St]()
    val jobs = mutable.ArrayBuffer[(Int, Long)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.synchronized { jobs += ((j.jobId, j.time)) }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val tm = si.taskMetrics
        stages.synchronized {
          stages += St(si.stageId, si.name.takeWhile(_ != '\n').take(90),
            si.numTasks, tm.executorRunTime, 0L,
            tm.inputMetrics.bytesRead / 1e6,
            tm.shuffleReadMetrics.totalBytesRead / 1e6,
            tm.shuffleWriteMetrics.bytesWritten / 1e6,
            si.submissionTime.getOrElse(0L))
        }
      }
    }

    val fn = SparkEntry.queries(name)
    // warm: codegen + fixtures
    try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    catch { case e: Throwable => System.err.println(s"warm failed: $e") }
    SessionHygiene.clear(spark)

    spark.sparkContext.addSparkListener(listener)
    var bestSec = Double.MaxValue
    for (_ <- 1 to iters) {
      stages.synchronized(stages.clear()); jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(600) // let the listener bus drain (no public waitUntilEmpty)
      if (sec < bestSec) bestSec = sec
      println(f"--- $name%s iter: $sec%.3f s, jobs=${jobs.size}%d, stages=${stages.size}%d")
      val tot = stages.map(_.taskMs).sum.max(1L)
      stages.sortBy(-_.taskMs).take(14).foreach { s =>
        println(f"  stage ${s.stage}%4d tasks=${s.tasks}%4d taskTime=${s.taskMs / 1000.0}%7.2fs (${100.0 * s.taskMs / tot}%4.1f%%) in=${s.inputMB}%7.1fMB shR=${s.shReadMB}%6.1fMB shW=${s.shWriteMB}%6.1fMB  ${s.name}%s")
      }
      println(f"  total task time ${tot / 1000.0}%.2f s across ${stages.size}%d stages; wall $sec%.3f s; parallelism=${tot / 1000.0 / sec}%.1f")
      SessionHygiene.clear(spark)
    }
    println(f"== $name%s best wall: $bestSec%.3f s")
    spark.stop()
  }
}
