package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.LocalRDDCheckpointData

/** Releases the persisted RDD blocks of a context. `RDD.unpersist` logs
  * one "locally checkpointed, its lineage has been truncated" WARN per
  * `localCheckpoint` barrier, although releasing a barrier after its
  * query is the intended use; `SparkContext.unpersistRDD` frees the same
  * blocks without it. Both are `private[spark]`, so this bridge sits in
  * the smallest package that can call them. */
object PinnedBlocks {
  /** Unpersist every persisted RDD, blocking until its blocks are freed. */
  def releaseAll(sc: SparkContext): Unit =
    sc.getPersistentRDDs.values.foreach { rdd =>
      if (rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]]))
        sc.unpersistRDD(rdd.id, blocking = true)
      else rdd.unpersist(blocking = true)
    }
}
