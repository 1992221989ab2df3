package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.FsUtil

/** Size-tiered batch-id-partitioned streaming state and shard output.
  *
  * Every foreachBatch stream family persists its cross-batch state as
  * one parquet partition per micro-batch (`stateDir/batch_id=N`,
  * mode=overwrite — the replay-idempotence discipline). That layout is
  * what makes replays safe, but it grows ONE PARTITION PER BATCH
  * FOREVER: at the reference extractor's 8 s live trigger that is ~10k
  * directories/day, and every state read's `batch_id < N` prune pays a
  * listing linear in batch count — a listing storm within a week.
  *
  * This object collapses history while keeping every replay guarantee:
  *
  *   - State and shard output compact into SIZE-TIERED RUNS
  *     (`dir/base/run=lo-hi`: batches [lo, hi) merged) with a geometric
  *     merge cascade, so amortized compaction work is O(new data · log
  *     corpus), never O(corpus) per call ([[compactShardsTiered]]). The
  *     cascade is MERGE-AWARE: re-aggregating families (chunk-index
  *     partial sums, KMV trims) pass their merge function and it applies
  *     at every run fold — the LSM discipline.
  *   - READERS resolve the horizon H from COMPLETE runs only (Spark's
  *     `_SUCCESS` marker — a crashed compaction write is simply not a
  *     run) and IGNORE partitions below H, so a replayed
  *     already-compacted batch that rewrites `batch_id=N` (N < H) is a
  *     no-op by construction. The stream-side guard ([[horizon]])
  *     additionally skips the wasted write. A run that covers every
  *     other (an empty `run=0-H`, what [[IndexStream.retrain]] writes)
  *     supersedes them all: the table is empty below H.
  *   - COMPACTION is crash-safe by never mutating in place, and deletes
  *     with a ONE-CYCLE GRACE WINDOW: each call first garbage-collects
  *     only artifacts that were already superseded when the call
  *     STARTED, then writes the new run without deleting what it
  *     supersedes. A reader that resolved the pre-call horizon keeps
  *     every file it can see until the NEXT maintenance window — a
  *     live-card query racing a cron'd compaction never loses files
  *     mid-scan unless it spans two full maintenance cycles (the
  *     documented reader contract). Re-running always converges; [[gc]]
  *     forces collection early.
  *
  * The caller contract is unchanged from the per-family scaladocs:
  * compact between batches with `upToBatch` at most the last COMMITTED
  * batch id + 1 (an uncommitted batch must stay above the horizon so
  * its own replay stays above it too).
  */
object StreamState {

  private def complete(fs: FileSystem, p: Path) =
    fs.exists(new Path(p, "_SUCCESS"))

  /** A tiered run `[lo, hi)` and its directory. Bytes are NOT carried
    * here: [[horizon]] and [[read]] resolve runs on every micro-batch
    * write guard and every state read, and an eager `getContentSummary`
    * per run is a full recursive size walk — the listing cost the tiered
    * design exists to remove. Sizes are fetched only where they are
    * consumed (the merge cascade, [[liveBytes]]). */
  private case class Run(lo: Long, hi: Long, path: Path)

  /** Recursive size of one run — paid only by the cascade/liveBytes. */
  private def runBytes(fs: FileSystem, r: Run): Long =
    fs.getContentSummary(r.path).getLength

  /** Complete runs of a table, ascending by lo — a shallow one-level
    * name listing plus one `_SUCCESS` probe per run. */
  private def allRuns(fs: FileSystem, stateDir: String): Seq[Run] = {
    val base = new Path(s"$stateDir/base")
    if (!fs.exists(base)) return Seq.empty
    fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("run="))
      .filter(p => complete(fs, p))
      .map { p =>
        val Array(lo, hi) = p.getName.stripPrefix("run=").split("-")
        Run(lo.toLong, hi.toLong, p)
      }.sortBy(r => (r.lo, r.hi)).toSeq
  }

  /** The LIVE runs: complete runs not contained in another complete run
    * (merges write the exact union of adjacent runs, so a superseded
    * run is strictly contained in its merge product). Invariant: live
    * runs are disjoint adjacent intervals covering [0, H). */
  private def liveRuns(runs: Seq[Run]): Seq[Run] =
    runs.filterNot(r => runs.exists(o =>
      (o.lo, o.hi) != (r.lo, r.hi) && o.lo <= r.lo && r.hi <= o.hi))

  /** The compaction horizon H of a state table: the newest COMPLETE run's
    * upper bound, 0 when never compacted. Batches < H live in the base;
    * partitions < H are superseded. */
  def horizon(spark: SparkSession, stateDir: String): Long = {
    val fs = FsUtil.fsOf(spark, new Path(stateDir))
    liveRuns(allRuns(fs, stateDir)).map(_.hi).maxOption.getOrElse(0L)
  }

  /** All live state rows of a table: live runs ∪ partitions at or above
    * the horizon, optionally pruned to `batch_id < current` (the
    * per-batch readers' own-writes guard; run rows are always < any
    * replayable batch id by the compaction contract). None while the
    * table has no data at all. The returned frame carries only DATA
    * columns — batch_id, a physical detail, is dropped. */
  def read(spark: SparkSession, stateDir: String,
      current: Long = Long.MaxValue): Option[DataFrame] = {
    val pieces = livePieces(spark, stateDir, current)
    if (pieces.isEmpty) None
    else Some(spark.read.parquet(pieces.map(_.toString): _*))
  }

  /** The directories holding exactly one copy of every live row: live
    * batch partitions (≥ horizon, < current) and live runs. */
  private def livePieces(spark: SparkSession, stateDir: String,
      current: Long = Long.MaxValue): Seq[Path] = {
    val root = new Path(stateDir)
    val fs = FsUtil.fsOf(spark, root)
    if (!fs.exists(root)) return Seq.empty
    val runs = liveRuns(allRuns(fs, stateDir))
    val h = runs.map(_.hi).maxOption.getOrElse(0L)
    // prune on the LISTING, not a column: the per-batch partition dirs
    // are read explicitly (never the root — the base/ subdir would trip
    // Spark's partition discovery), so excluded batches cost a name
    // comparison, not a footer read
    val liveDirs = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("batch_id="))
      .filter { p =>
        val id = p.getName.stripPrefix("batch_id=").toLong
        id >= h && id < current
      }
    liveDirs.toSeq ++ runs.map(_.path)
  }

  /** Total bytes behind [[read]]'s live view — a LISTING, never a job:
    * what a caller gates broadcast decisions on (the streamed-index
    * quadrant split must not force-broadcast an appends side that grows
    * without bound between retrains). None when the table has no data. */
  def liveBytes(spark: SparkSession, stateDir: String): Option[Long] = {
    val pieces = livePieces(spark, stateDir)
    if (pieces.isEmpty) None
    else {
      // the recursive size walks are cached per LIVE-PIECE SET — the
      // piece list itself is a shallow listing, and it changes exactly
      // when a batch lands or a compaction runs, so a fleet-QPS query
      // path (the streamed-index splitFits gate calls this per query)
      // pays zero redundant object-store walks between state changes.
      // Pieces are write-once (runs are never rewritten in place; a
      // batch partition is only ever rewritten bit-identically on
      // replay), so a cached sum never goes stale.
      val key = stateDir + "#" + pieces.map(_.toString).sorted.mkString("|")
      if (bytesCache.size > 4096) bytesCache.clear()
      Some(bytesCache.getOrElseUpdate(key, {
        contentSummaryCalls.incrementAndGet()
        val fs = FsUtil.fsOf(spark, new Path(stateDir))
        pieces.map(p => fs.getContentSummary(p).getLength).sum
      }))
    }
  }

  private val bytesCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Test hook: how many times [[liveBytes]] paid the recursive size
    * walk (one increment per cache MISS, however many pieces). */
  private[graft] val contentSummaryCalls =
    new java.util.concurrent.atomic.AtomicLong

  /** The last batch id the streaming CHECKPOINT has committed — read
    * from the checkpoint's `commits/` log (a commit file exists iff the
    * batch completed fully, so a restart resumes AFTER it). This is the
    * safe compaction horizon made mechanical: `compactShardsTiered(...,
    * lastCommittedBatch + 1)` can never fold a batch that might still
    * replay, which the per-family scaladocs otherwise leave to the
    * caller's discipline. None before the first commit. */
  def lastCommittedBatch(spark: SparkSession,
      checkpointDir: String): Option[Long] = {
    val p = new Path(s"$checkpointDir/commits")
    val fs = FsUtil.fsOf(spark, p)
    if (!fs.exists(p)) None
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong).maxOption
  }

  /** Geometric merge factor of the tiered cascade: a newer run merges
    * into its older neighbor while the neighbor holds at most this many
    * times its bytes, so run sizes grow geometrically oldest → newest
    * and the live run count stays O(log_F(corpus / trigger)). Every row
    * is rewritten O(log) times over the table's lifetime — vs once per
    * maintenance window under a full-rewrite shape. */
  val ShardMergeFactor = 4L

  /** Size-tiered compaction of a batch-id-keyed state or shard table:
    *
    *   1. fold the live partitions [H, upToBatch) through `merge` into
    *      ONE new run `base/run=H-upToBatch` — O(new data) always;
    *   2. cascade: while the previous adjacent live run holds ≤
    *      [[ShardMergeFactor]]× the newest run's bytes, `merge` the two
    *      into their union run — the geometric schedule that bounds
    *      live runs at O(log corpus) without ever rewriting the whole
    *      corpus in one window (the LSM discipline: the family's merge
    *      applies when two runs fold, so re-aggregating state — chunk
    *      partial sums, KMV trims — stays key-bounded PER RUN while the
    *      per-window cost stays O(new · log corpus)).
    *
    * `merge` contract (identity for row-per-fact tables): it must be a
    * union-closed re-aggregation — `merge(merge(A) ∪ merge(B)) ==
    * merge(A ∪ B)` as a ROW SET — because the cascade applies it at
    * arbitrary fold boundaries; and readers must apply the SAME
    * re-aggregation over [[read]]'s live view (which spans runs plus
    * fresh batch partitions), exactly as the shipped families already
    * do ([[graft.streaming.CorpusStream.liveChunkDupCard]] re-sums,
    * [[graft.streaming.CorpusStream.kmvLive]] re-trims).
    *
    * Crash-safe and replay-convergent: a run is visible only once
    * `_SUCCESS` exists; merges write the NEW run before the inputs
    * become (containment-)superseded; deletes happen one maintenance
    * cycle later ([[gc]] semantics). Readers see one copy of every row
    * at all times ([[liveRuns]] picks maximal intervals). The folding
    * partitions are read as ONE multi-path scan (a per-partition
    * `reduce(unionByName)` builds an N-deep Union the analyzer walks
    * quadratically). */
  def compactShardsTiered(spark: SparkSession, outDir: String,
      upToBatch: Long, numFiles: Int = 8,
      merge: DataFrame => DataFrame = identity): Unit = {
    require(upToBatch > 0, s"upToBatch must be positive, got $upToBatch")
    val root = new Path(outDir)
    val fs = FsUtil.fsOf(spark, root)
    if (!fs.exists(root)) return
    val h = horizon(spark, outDir)
    gc(spark, outDir) // one-cycle grace: collect pre-call garbage only
    val folding = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("batch_id="))
      .filter { p =>
        val id = p.getName.stripPrefix("batch_id=").toLong
        id >= h && id < upToBatch
      }
    if (folding.nonEmpty) {
      merge(spark.read.parquet(folding.map(_.toString).toSeq: _*))
        .coalesce(numFiles).write.mode("overwrite")
        .parquet(s"$outDir/base/run=$h-$upToBatch")
    }
    // cascade adjacent merges, newest first, geometric admission; run
    // sizes are fetched here — the only consumer — never in the
    // horizon/read listings
    var merged = true
    while (merged) {
      merged = false
      val live = liveRuns(allRuns(fs, outDir))
      if (live.size >= 2) {
        val last = live.last
        val prev = live(live.size - 2)
        val (prevBytes, lastBytes) = (runBytes(fs, prev), runBytes(fs, last))
        if (prev.hi == last.lo && prevBytes <= ShardMergeFactor * lastBytes) {
          val nf = math.max(numFiles.toLong,
            (prevBytes + lastBytes) / (128L << 20) + 1).toInt
          merge(spark.read.parquet(prev.path.toString, last.path.toString))
            .coalesce(nf).write.mode("overwrite")
            .parquet(s"$outDir/base/run=${prev.lo}-${last.hi}")
          merged = true
        }
      }
    }
  }

  /** Garbage-collect artifacts superseded below the CURRENT horizon:
    * runs shadowed by a covering complete one, incomplete crash
    * leftovers, and batch partitions below the horizon. Called
    * automatically at the START of every compaction (so each call
    * collects only what the PREVIOUS call superseded — the one-cycle
    * reader grace window); call directly to collect early when no
    * readers can be racing. */
  def gc(spark: SparkSession, stateDir: String): Unit = {
    val root = new Path(stateDir)
    val fs = FsUtil.fsOf(spark, root)
    if (!fs.exists(root)) return
    val base = new Path(s"$stateDir/base")
    val live = liveRuns(allRuns(fs, stateDir)).map(r => (r.lo, r.hi)).toSet
    val h = live.map(_._2).maxOption.getOrElse(0L)
    if (fs.exists(base)) {
      fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith("run="))
        .filter { p =>
          val Array(lo, hi) = p.getName.stripPrefix("run=").split("-")
          !complete(fs, p) || !live.contains((lo.toLong, hi.toLong))
        }
        .foreach(p => fs.delete(p, true))
    }
    fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("batch_id="))
      .filter(_.getName.stripPrefix("batch_id=").toLong < h)
      .foreach(p => fs.delete(p, true))
  }

  // ---------------------------------------------------------------------
  // Checkpoint lineage (r12 — ADVICE r11): batch ids are numbered PER
  // CHECKPOINT. The horizon write-guards key on batch id alone, so
  // pointing a FRESH checkpoint at an existing compacted state/output
  // dir renumbers batches from 0 — a replay of the SAME source is a
  // safe no-op (the designed recovery path), but genuinely NEW data
  // arriving in low batch ids would be silently invisible below the
  // horizon. Each foreachBatch writer therefore binds its directory to
  // its checkpoint on first write and FAILS LOUDLY when a different
  // checkpoint shows up; an operator reprocessing the same source into
  // the same state explicitly adopts the new lineage first.
  // ---------------------------------------------------------------------

  private val LineageFile = "_graft_lineage"
  private val lineageOk =
    scala.collection.concurrent.TrieMap.empty[(String, String), Unit]

  /** Bind `dir` to `checkpointDir`'s batch numbering: records the
    * checkpoint path on first write; throws on a DIFFERENT checkpoint
    * thereafter (see object note). Cached per JVM — one file read per
    * (dir, checkpoint) pair, not per micro-batch. */
  def bindLineage(spark: SparkSession, dir: String,
      checkpointDir: String): Unit =
    lineageOk.getOrElseUpdate((dir, checkpointDir), {
      val root = new Path(dir)
      val fs = FsUtil.fsOf(spark, root)
      val f = new Path(root, LineageFile)
      FsUtil.readSmallFile(fs, f) match {
        case Some(recorded) =>
          if (recorded != checkpointDir)
          throw new IllegalStateException(
            s"state/output dir $dir is bound to checkpoint lineage " +
              s"'$recorded' but this stream runs from '$checkpointDir'. " +
              "Batch ids are numbered per checkpoint: a fresh checkpoint " +
              "renumbers from 0 and new data below the compaction horizon " +
              "would be silently dropped. If this stream reprocesses the " +
              "SAME source (replay recovery), call StreamState." +
              "adoptLineage(spark, dir, checkpointDir) first; otherwise " +
              "use a fresh state/output dir.")
        case None =>
          fs.mkdirs(root)
          FsUtil.writeSmallFile(fs, f, checkpointDir)
      }
    })

  /** Explicitly re-bind `dir` to a new checkpoint lineage — the
    * operator's declaration that the new stream REPROCESSES THE SAME
    * SOURCE from scratch, so replays of already-compacted batches are
    * the designed no-op rather than lost data. */
  def adoptLineage(spark: SparkSession, dir: String,
      checkpointDir: String): Unit = {
    val root = new Path(dir)
    val fs = FsUtil.fsOf(spark, root)
    fs.mkdirs(root)
    FsUtil.writeSmallFile(fs, new Path(root, LineageFile), checkpointDir)
    lineageOk.clear()
  }
}
