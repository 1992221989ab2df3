package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Similarity

/** Streaming maintenance of a persisted IVF index — the production shape
  * of q170's batch append path: a growing corpus arrives as a stream, and
  * each micro-batch of new vectors is assigned against the FROZEN
  * persisted centroids (no retraining — one n×k broadcast pass per
  * batch) and lands as one batch-id partition of an appends table next
  * to the base index.
  *
  * Replay-idempotent by the [[CorpusStream.dedupeNearToShards]]
  * discipline, simplified by q170's invariant: per-vector assignment
  * reads NO append state (a vector's cell depends only on itself and the
  * frozen centroids), so there is nothing to prune — each batch writes
  * `mode=overwrite` into its own `batch_id=N` partition, and a replayed
  * batch overwrites itself with bit-identical rows. The live index view
  * is base assignments ∪ appends; append-then-query equals
  * assign-union-then-query row for row (spec-locked against batch q170),
  * however the stream was batched.
  *
  * Retrain stays a deliberate operator decision: the cell-occupancy
  * drift audit (q171) reads the SAME live view, so a drifting stream
  * shows up as a climbing max/mean cell ratio.
  */
object IndexStream {

  /** Start the append stream: `vectors` is a STREAMING frame of
    * quantized rows (vec_id, qv, nrm) — the caller quantizes with the
    * shared [[Similarity.quantExpr]] so streamed and batch vectors carry
    * identical integers. */
  def appendStream(vectors: DataFrame, indexDir: String, checkpointDir: String,
      nprobe: Int = Similarity.IvfNprobe,
      trigger: Option[Trigger] = None): StreamingQuery = {
    val writer = vectors.writeStream.option("checkpointLocation", checkpointDir)
    trigger.foreach(writer.trigger)
    writer.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      StreamState.bindLineage(spark, s"$indexDir/appends", checkpointDir)
      if (batchId >= StreamState.horizon(spark, s"$indexDir/appends")) {
        // refuse a torn index (r13 — ADVICE r12): assigning this batch
        // against centroids from a DIFFERENT rebuild than the base
        // assignments would silently mix inconsistent cells
        Similarity.checkBuildConsistency(spark, indexDir)
        val cents = spark.read.parquet(s"$indexDir/centroids")
        Similarity.assignCells(batch.select("vec_id", "qv", "nrm"), cents, nprobe)
          .write.mode("overwrite")
          .parquet(s"$indexDir/appends/batch_id=$batchId")
      }
      ()
    }.start()
  }

  /** Compact the streamed appends up to `upToBatch` — SIZE-TIERED
    * identity merge since r13 ([[StreamState.compactShardsTiered]]):
    * assignment rows are facts, and appends grow with ingest volume
    * between retrains, so a full-rewrite fold would pay
    * O(appends-so-far) per maintenance window while the cascade pays
    * O(new · log). Thousands of per-trigger partitions become O(log)
    * runs, so the live view's listing and scan stop growing with
    * trigger count. Folding appends further into the BUCKETED base
    * assignments table is deliberately a retrain-time operation
    * ([[Similarity.saveIvfIndexOn]] over the union) — an in-place base
    * append could double rows under a crash, while the run cascade is
    * convergent. */
  def compactAppends(spark: SparkSession, indexDir: String,
      upToBatch: Long): Unit =
    StreamState.compactShardsTiered(spark, s"$indexDir/appends", upToBatch)

  /** RETRAIN the streamed index from its own live view (r12 — the
    * operation [[compactAppends]]' scaladoc deferred to "retrain time",
    * now a real call): fresh Lloyd train + assignment over base ∪
    * appends, written THROUGH the r12 tmp+swap path (the build reads
    * the live index while it still exists — no caller-side checkpoint
    * needed), then the folded appends collapse to an EMPTY run
    * `base/run=0-upToBatch` covering every earlier run, so the horizon
    * is `upToBatch` and a replayed pre-retrain batch stays a no-op (its
    * rows now live in the base; re-minting them as appends — assigned
    * against the OLD centroids — would both double the rows and mix
    * stale cells into the new index).
    *
    * Call between batches with `upToBatch` = last committed batch + 1
    * (the [[StreamState.lastCommittedBatch]] contract), and only when
    * no live append partition sits at or above `upToBatch`: an
    * uncommitted batch's rows were assigned against the superseded
    * centroids and CANNOT survive a retrain (enforced — the call
    * refuses rather than corrupt). Post-retrain appends assign against
    * the new centroids as usual. */
  def retrain(spark: SparkSession, indexDir: String, upToBatch: Long): Unit = {
    require(upToBatch > 0, s"upToBatch must be positive, got $upToBatch")
    val appDir = s"$indexDir/appends"
    val appPath = new org.apache.hadoop.fs.Path(appDir)
    val fs = appPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hadAppends = fs.exists(appPath)
    if (hadAppends) {
      val above = fs.listStatus(appPath)
        .filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong).filter(_ >= upToBatch)
      require(above.isEmpty,
        s"live append batches ${above.sorted.mkString(",")} at/above " +
          s"$upToBatch would be lost by a retrain — stop the stream and " +
          "retrain at lastCommittedBatch + 1")
      // Disjointness guard (r13 — VERDICT ask 4): the capped quadrant
      // split's rank algebra assumes a vec_id lives on ONE side only
      // (guaranteed by the streamed contract — appendStream assigns NEW
      // vectors), but nothing enforced it: an operator hand-copying rows
      // into the appends dir would silently perturb cap semantics at
      // exactly-full cells AND double the duplicate's rows in this very
      // retrain (both copies sit at rn = 1 of their own side). The check
      // runs here — where a full pass over both sides is already paid —
      // and fails loudly instead.
      StreamState.read(spark, appDir).foreach { app =>
        val col = org.apache.spark.sql.functions.col _
        val dup = Similarity.assignmentsRead(spark, indexDir)
          .filter(col("rn") === 1).select("vec_id")
          .join(app.filter(col("rn") === 1).select("vec_id").distinct(),
            "vec_id")
          .limit(5).collect().map(_.getLong(0))
        require(dup.isEmpty,
          s"appends at $appDir share vec_ids with the base index " +
            s"(e.g. ${dup.mkString(",")}) — the streamed contract " +
            "requires appends to be NEW vectors only (a polluted appends " +
            "dir perturbs capped-split semantics); rebuild the appends " +
            "table without the duplicates before retraining")
      }
    }
    val live = assignments(spark, indexDir)
      .filter(org.apache.spark.sql.functions.col("rn") === 1)
      .select("vec_id", "qv", "nrm")
    Similarity.saveIvfIndexOn(spark, live, indexDir)
    if (hadAppends) {
      // the folded appends collapse to an EMPTY run covering [0, at
      // least the old horizon): every earlier run lies inside it, so all
      // of them — PRE-RETRAIN rows now in the base — are superseded
      val target = math.max(StreamState.horizon(spark, appDir), upToBatch)
      Similarity.assignmentsRead(spark, indexDir).limit(0).coalesce(1)
        .write.mode("overwrite").parquet(s"$appDir/base/run=0-$target")
      StreamState.gc(spark, appDir) // quiescent by contract: collect now
    }
  }

  /** One maintenance window's outcome (r13): what the cron logged. */
  case class MaintainReport(lastCommitted: Option[Long], nVecs: Long,
      nCells: Long, skew: Double, retrainAdvised: Boolean, retrained: Boolean)

  /** The one-call maintenance op a deployment actually crons (r13 —
    * VERDICT ask 3): fold committed appends ([[compactAppends]] at
    * `lastCommittedBatch + 1` — the [[StreamState.lastCommittedBatch]]
    * contract made mechanical), read the retrain advisor off the LIVE
    * view (base ∪ appends — drift piles appends into few cells, so the
    * base-only rollup would under-read exactly the signal this exists
    * for), and when the verdict says retrain, [[retrain]] at the same
    * horizon. Returns what happened for the cron's log line.
    *
    * Refusal contract surfaced, not swallowed: [[retrain]] throws when a
    * live append batch sits at/above the horizon (an IN-FLIGHT
    * uncommitted batch — its rows were assigned against centroids the
    * retrain supersedes) and when appends share vec_ids with the base
    * (the r13 disjointness guard). Both mean "operator intervention",
    * so maintain propagates them; a no-commit-yet checkpoint is the
    * benign idle case and reports without folding. `retrainWhenAdvised
    * = false` runs the audit-only window (fold + verdict, no retrain) —
    * the shape for deployments that schedule retrains in their own
    * off-peak window. */
  def maintain(spark: SparkSession, indexDir: String, checkpointDir: String,
      retrainWhenAdvised: Boolean = true): MaintainReport = {
    val committed = StreamState.lastCommittedBatch(spark, checkpointDir)
    committed.foreach(n => compactAppends(spark, indexDir, n + 1))
    val verdict = Similarity.retrainAdvisorOn(assignments(spark, indexDir))
      .head()
    val advised = verdict.getAs[Boolean]("retrain")
    val doRetrain = advised && retrainWhenAdvised && committed.nonEmpty
    if (doRetrain) retrain(spark, indexDir, committed.get + 1)
    MaintainReport(committed, verdict.getAs[Long]("n_vecs"),
      verdict.getAs[Long]("n_cells"), verdict.getAs[Double]("skew"),
      advised, doRetrain)
  }

  /** The live assignments view of a streamed index: the base table plus
    * every streamed append (live runs ∪ live partitions). None-
    * append indexes read as plain persisted ones (the appends directory
    * may not exist yet). */
  def assignments(spark: SparkSession, indexDir: String): DataFrame = {
    val base = Similarity.assignmentsRead(spark, indexDir)
    StreamState.read(spark, s"$indexDir/appends") match {
      case Some(app) => base.unionByName(app)
      case None => base
    }
  }

  /** Top-k neighbors off the live view — [[Similarity.knnIvfPersisted]]
    * for a streamed index. `memberCap` (r11): the q296 per-cell bound,
    * available on the STREAMED query surface too — a drifting stream
    * piles vectors into few cells (q171's signal), and the cap is what
    * keeps a hot cell's candidate volume bounded until the operator
    * retrains.
    *
    * Plan (r11, size-gated r12): when the index HAS appends and the
    * appends side is SMALL ENOUGH TO SHIP (at or under the session's
    * autoBroadcastJoinThreshold — the r11 form force-broadcast
    * unconditionally, and appends grow without bound between retrains,
    * so a long-running streamed index would eventually hit the 8 GB
    * broadcast hard limit or OOM the driver), the query runs the
    * QUADRANT decomposition ([[Similarity.ivfScoredPairsSplit]]) —
    * base ⋈ base rides the bucketed co-partitioning and every append
    * quadrant broadcasts the append side, so the base is never
    * shuffled; a pre-join union would discard the bucketing and
    * re-shuffle the whole index per query. Oversized appends (the
    * retrain-overdue regime — q171's drift audit is the signal) fall
    * back to the union form, which works at any size. With a
    * `memberCap`, the capped split ([[Similarity.ivfScoredPairsSplitCapped]])
    * keeps BOTH properties — the base-side window rides the bucket key
    * (no Exchange) and only append-touched cells re-rank — under the
    * same size gate. Answers are row-identical either way (join
    * distributes over union; StreamingSpec locks both). */
  def knn(spark: SparkSession, indexDir: String, k: Int,
      nprobe: Int = Similarity.IvfNprobe,
      memberCap: Int = Int.MaxValue): DataFrame = {
    val base = Similarity.assignmentsRead(spark, indexDir)
    StreamState.read(spark, s"$indexDir/appends") match {
      case Some(app) if splitFits(spark, indexDir) =>
        Similarity.topkPairs(
          if (memberCap == Int.MaxValue)
            Similarity.ivfScoredPairsSplit(spark, base, app, nprobe)
          else
            Similarity.ivfScoredPairsSplitCapped(spark, base, app, nprobe,
              memberCap), k)
      case Some(app) =>
        Similarity.knnIvfOnAssignments(spark, base.unionByName(app), k,
          nprobe, memberCap)
      case None =>
        Similarity.knnIvfOnAssignments(spark, base, k, nprobe, memberCap)
    }
  }

  /** True iff the appends side is small enough for the quadrant split's
    * forced broadcasts: at or under the session's
    * autoBroadcastJoinThreshold (and broadcasts not disabled outright).
    * A listing, never a job — and since r13 the recursive size walk is
    * cached per live-piece set inside [[StreamState.liveBytes]] (VERDICT
    * ask 7), so the per-QUERY cost between state changes is a shallow
    * name listing, never an object-store tree walk. */
  private def splitFits(spark: SparkSession, indexDir: String): Boolean = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    threshold > 0 &&
      StreamState.liveBytes(spark, s"$indexDir/appends").exists(_ <= threshold)
  }
}
