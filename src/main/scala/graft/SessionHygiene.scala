package graft

import org.apache.spark.sql.SparkSession

/** Session cleanup between independent queries.
  *
  * Several operators pin intermediates via `localCheckpoint()` (see
  * `QueryDef.spread` for why a real materialization barrier is needed):
  * those blocks stay pinned until unpersisted, and a 46-query session
  * would otherwise accumulate them — harmless on a quiet 16g heap, but
  * exactly the debris that amplifies memory pressure under load. The
  * checkpoints are consumed by the CALLER's action (count/write), so the
  * operator itself cannot unpersist; the harness clears them between
  * queries instead.
  *
  * `localCheckpoint` (not reliable checkpoint) is the right primitive for
  * these intermediates: they are cheap to recompute from source on
  * executor loss, are used only within a single query's lifetime, and a
  * reliable checkpoint would pay an HDFS round-trip per query for
  * durability nothing needs.
  */
object SessionHygiene {
  /** Drop cached relations and every pinned RDD block (blocking, so the
    * memory is actually free before the next query starts), and reset
    * every key a query's [[graft.queries.Tuning]] may have set. */
  def clear(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    // released without RDD.unpersist's per-barrier lineage WARN
    org.apache.spark.graft.PinnedBlocks.releaseAll(spark.sparkContext)
    // Undo any query's declared tuning so it cannot leak into the next
    // query's plan (a leaked coalesce floor once disabled AQE partition
    // coalescing for every later query). The keys come from the one
    // inventory queries declare from, so the two cannot drift apart.
    graft.queries.Tuning.keys.foreach(spark.conf.unset)
  }
}
