package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for declared queries — the r13 plan
  * evidence (`plans/r13/<query>_{before,after}.txt`). Session config
  * is Bench's ([[GraftSession]]), so the dumped plan is the one the bench
  * runs.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [query ...]
  *   - suffix: "before" | "after" (file name tag)
  *   - no query names = every declared query.
  * Plans are captured AFTER one execution of the query (noop sink) so
  * AQE's final plan is what lands in the file, not the unresolved
  * isFinalPlan=false shell.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix) = args.take(3)
    val only = args.drop(3).toSet
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        // Drive THIS Dataset's QueryExecution to AQE's final plan (a noop
        // write would plan a new one and leave this dump at
        // isFinalPlan=false) without buffering the result on the driver:
        // toLocalIterator holds at most one partition at a time.
        df.toLocalIterator().forEachRemaining(_ => ())
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
      SessionHygiene.clear(spark)
    }
    spark.stop()
  }
}
