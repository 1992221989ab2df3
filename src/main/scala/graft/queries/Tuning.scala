package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** A set of session confs a query declares on its [[QueryDef]]:
  * `QueryDef.fn` applies it before building the frame, and
  * `graft.SessionHygiene.clear` unsets every key in [[Tuning.keys]].
  * Operators never set these themselves, so calling one leaves the
  * caller's session as it was. Values are read at apply time because
  * one of them depends on the session's advisory partition size. */
final class Tuning private (private val confs: Seq[(String, SparkSession => String)]) {
  def keys: Seq[String] = confs.map(_._1)

  def applyTo(spark: SparkSession): Unit =
    confs.foreach { case (k, v) => spark.conf.set(k, v(spark)) }
}

object Tuning {
  val none = new Tuning(Nil)

  /** r14 (guide §3.1/§9): let the planner pick shuffled-hash over
    * sort-merge when its size conditions hold. The queries that declare
    * this join candidate/verify streams against aggregate-bounded sides
    * (distinct fps, band keys, reps, cluster rollups) whose
    * per-partition build comfortably fits — SMJ was paying two full
    * sorts per join for nothing. NOT a local-only tuning: the planner's
    * canBuildLocalHashMap gate (build side < threshold × partitions)
    * and AQE's runtime replan (real sizes, not estimates) keep big×big
    * joins on sort-merge at any scale; measured −15% on the 14
    * SMJ-bearing queries at sf0.1 (OPTIMIZATION_r14.md). Separate from
    * [[cpuBound]] because the coalesce floor there HURTS plans with many
    * small exchanges (q104 measured +35% under it). */
  val hashJoins = new Tuning(Seq(
    "spark.sql.join.preferSortMergeJoin" -> fixed("false"),
    // Static planning can only pick SHJ when the build side's ESTIMATED
    // stats pass the size gate — joins against localCheckpointed frames
    // (ExistingRDD, unknown stats) always fall back to SMJ there. This
    // AQE knob converts SMJ → SHJ at RUNTIME from the REAL post-shuffle
    // partition sizes (guide §3.1), which is the safest form of the
    // preference: at any scale the conversion fires only when every
    // observed per-partition build fits the threshold.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> (shjThreshold _)))

  /** Tune the session for CPU-bound stages over byte-small data: AQE
    * coalesces shuffle partitions by SIZE, which serializes stages whose
    * cost is per-row compute (minhash, pairwise cosine) on few megabytes —
    * observed as a 25s single-task broadcast-build stage. Dropping the
    * coalesce floor keeps the requested parallelism; shuffle volume here
    * is bounded so over-partitioning costs nothing. Includes [[hashJoins]]. */
  val cpuBound = new Tuning(Seq(
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> fixed("1b"),
    // ObjectHashAggregateExec (every typed-Aggregator rollup: TopKSim,
    // MisraGries, KmvSketch) falls back to SORT-based aggregation once its
    // per-task hash map passes this ROW-COUNT threshold — and Spark's
    // default is 128, so any top-k over more than 128 queries per task
    // abandoned hashing and sorted its ENTIRE input stream. That sort is
    // what turned the IVF candidate stream into shuffle-scratch spill at
    // 1000x (SCALE.md lesson 4): billions of pairs sorted to update
    // bounded k-entry buffers. 1M keys × a ≤k-entry buffer (~300 B) is
    // ~300 MB per task — comfortably in-heap at the shipped executor
    // sizing, and the sort fallback still guards truly unbounded key
    // spaces above it.
    // BUFFER-SIZE ASSUMPTION (r10 ADVICE): the ~300 B/key sizing is
    // TopKSim's (k≤3 entries). A KmvSketch buffer at k=256 is ~2 KB, so
    // a KMV rollup over a 1M-cardinality key would hold ~2 GB per task
    // before falling back — every SHIPPED KMV rollup groups by
    // column/FD label (cardinality ≤ 10), far under the threshold, but
    // a new high-cardinality sketch rollup must either lower this conf
    // for its session or accept the heap math.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> fixed((1 << 20).toString)) ++
    hashJoins.confs)

  /** Every key any tuning sets: what `SessionHygiene.clear` unsets. */
  val keys: Seq[String] = Seq(hashJoins, cpuBound).flatMap(_.keys).distinct

  private def fixed(value: String): SparkSession => String = _ => value

  private val ShjFloor = 64L << 20

  /** AQE converts SMJ → SHJ only when this threshold is ≥ the advisory
    * partition size (DynamicJoinSelection), so it follows the session's
    * advisory: 64m at Spark's default, the advisory itself if raised. */
  private def shjThreshold(spark: SparkSession): String = {
    val advisory = spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    if (advisory > ShjFloor) s"${advisory}b" else "64m"
  }
}
