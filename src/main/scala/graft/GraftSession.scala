package graft

import org.apache.spark.sql.SparkSession

/** The session the harness mains (Bench, Verify, PlanDump, Probe,
  * ScaleDrive) run queries in: `local[SPARK_GRAFT_CPUS]` (default 4) with
  * as many shuffle partitions, AQE on, UTC, and the shipped surface — custom functions,
  * TVFs and optimizer rules installed the cluster way through
  * `spark.sql.extensions` (q281 routes through its TVF). */
object GraftSession {
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // The generated-class cache defaults to 100 entries; an 80+-query
      // suite compiles far more codegen stages than that per pass, so
      // every query would LRU-evict and Janino-recompile every iteration
      // (q47's ~8 sequential jobs re-paid ~8s of compile per pass in the
      // round-2 record: 10.5s recorded vs 2.6s isolated). Static conf —
      // must be set before the first session in the JVM.
      // r11: 4096 → 16384 — the 302-query suite compiles >4096 distinct
      // stages per pass, so the LRU cycled completely every pass and the
      // whole suite re-paid Janino each iteration (measured: 153.0 →
      // 145.3 s solo, same tree, only this conf changed).
      .config("spark.sql.codegen.cache.maxEntries", "16384")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
