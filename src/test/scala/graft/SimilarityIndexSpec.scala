package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

/** r11 persisted-index locks (VERDICT asks 3 + 4): the bucketed index
  * answers byte-identically to the freshly built one while its cell
  * join plans with ZERO Exchange, and the q296 member cap composes into
  * the persisted path as a pure candidate-subset. */
class SimilarityIndexSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark
  val dir = "/root/testdata/sf0.001"

  private def idx = Similarity.persistedIvfIndexDir(spark, dir)

  /** The POST-EnsureRequirements shuffles of a plan, built with
    * broadcasts forced off (a broadcast join would hide a missing
    * bucket claim) and AQE off (r12: `sparkPlan` is the planner output
    * BEFORE EnsureRequirements inserts exchanges, so the r11 gates that
    * collected on it were vacuously empty — this helper is the real
    * gate). The frame must be BUILT under the flipped confs, hence the
    * by-name parameter. */
  private def realShuffles(build: => org.apache.spark.sql.DataFrame)
      : (Seq[ShuffleExchangeExec], org.apache.spark.sql.execution.SparkPlan) = {
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = build.queryExecution.executedPlan
      (plan.collect { case e: ShuffleExchangeExec => e }, plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("persisted round-trip: knnIvfPersisted == knnIvf row-identical " +
      "(the q129 invariant survives the bucketed rewrite)") {
    val persisted = Similarity.knnIvfPersisted(spark, idx, 3)
      .collect().map(_.toSeq).toSet
    val fresh = Similarity.knnIvf(spark, dir, 3).collect().map(_.toSeq).toSet
    assert(persisted == fresh)
  }

  test("the persisted index is a bucketed table and its cell self-join " +
      "plans with ZERO ShuffleExchange (member side never re-shuffles)") {
    val i = idx // force the build
    val (exchanges, plan) = realShuffles(Similarity.ivfScoredPairs(spark, i))
    assert(exchanges.isEmpty,
      s"bucketed cell join must not exchange, found:\n$plan")
    // and the capped variant's window must ride the same bucketing
    val (cexch, cplan) = realShuffles(Similarity.ivfScoredPairs(spark, i,
      memberCap = Similarity.IvfMemberCap))
    assert(cexch.isEmpty,
      s"the per-cell cap window partitions by the bucket key:\n$cplan")
  }

  test("capped persisted pairs ⊆ uncapped persisted pairs, and the cap " +
      "bites (q303's candidate algebra on the PRODUCTION index path)") {
    val capped = Similarity.ivfScoredPairs(spark, idx,
      memberCap = Similarity.IvfMemberCap).select("id_a", "id_b")
    val uncapped = Similarity.ivfScoredPairs(spark, idx).select("id_a", "id_b")
    assert(capped.except(uncapped).isEmpty, "capped ⊆ uncapped")
    assert(capped.count() < uncapped.count(),
      "the shipped cap must actually bite at sf0.001")
  }

  test("capped persisted == capped from-scratch (q303 == q296 row for " +
      "row: the draw depends only on vec_id and cell, not on the path)") {
    val persisted = Similarity.knnIvfPersisted(spark, idx, 3,
      memberCap = Similarity.IvfMemberCap).collect().map(_.toSeq).toSet
    val fresh = Similarity.knnIvfCapped(spark, dir, 3)
      .collect().map(_.toSeq).toSet
    assert(persisted == fresh)
  }

  test("streamed split view: quadrant decomposition == union form row-" +
      "identical, and the BASE side never shuffles (broadcast appends)") {
    import graft.ops.Similarity
    val q = Similarity.quantized(spark, dir).select("vec_id", "qv", "nrm")
      .localCheckpoint()
    val sidx = java.nio.file.Files.createTempDirectory("split-idx").toString
    Similarity.saveIvfIndexOn(spark, q.filter(expr("vec_id % 2 = 0")), sidx)
    // the streamed layout without a stream: assignment rows of the odd
    // half land as one appends batch partition (what appendStream writes)
    val cents = spark.read.parquet(s"$sidx/centroids")
    Similarity.assignCells(q.filter(expr("vec_id % 2 = 1")), cents,
        Similarity.IvfNprobe)
      .write.parquet(s"$sidx/appends/batch_id=0")
    val viaSplit = graft.streaming.IndexStream.knn(spark, sidx, 3)
      .collect().map(_.toSeq).toSet
    val viaUnion = Similarity.knnIvfOnAssignments(spark,
        graft.streaming.IndexStream.assignments(spark, sidx), 3)
      .collect().map(_.toSeq).toSet
    assert(viaSplit == viaUnion,
      "join must distribute over the base/appends union")
    val (exch, plan) = realShuffles {
      val base = Similarity.assignmentsRead(spark, sidx)
      val app = graft.streaming.StreamState.read(spark, s"$sidx/appends").get
      Similarity.ivfScoredPairsSplit(spark, base, app)
    }
    assert(exch.isEmpty, s"split view must not shuffle the base:\n$plan")
  }

  test("streamed-index query surface honors the member cap (IndexStream" +
      ".knn capped ⊆ uncapped on a base-only index)") {
    val capped = graft.streaming.IndexStream.knn(spark, idx, 3,
      memberCap = 1000000).collect().map(_.toSeq).toSet
    val uncapped = graft.streaming.IndexStream.knn(spark, idx, 3)
      .collect().map(_.toSeq).toSet
    assert(capped == uncapped, "an unreached cap must be a no-op here too")
  }

  /** The split-index fixture: base = even vectors (bucketed persisted
    * index), appends = odd vectors' assignment rows as one streamed
    * batch partition. */
  private def splitFixture(): String = {
    val q = Similarity.quantized(spark, dir).select("vec_id", "qv", "nrm")
      .localCheckpoint()
    val sidx = java.nio.file.Files.createTempDirectory("capsplit-idx").toString
    Similarity.saveIvfIndexOn(spark, q.filter(expr("vec_id % 2 = 0")), sidx)
    val cents = spark.read.parquet(s"$sidx/centroids")
    Similarity.assignCells(q.filter(expr("vec_id % 2 = 1")), cents,
        Similarity.IvfNprobe)
      .write.parquet(s"$sidx/appends/batch_id=0")
    sidx
  }

  test("capped quadrant split == capped union row-identical, cap bites, " +
      "and no exchange ever reads the base (r12 ask 4)") {
    val sidx = splitFixture()
    val base = Similarity.assignmentsRead(spark, sidx)
    val app = graft.streaming.StreamState.read(spark, s"$sidx/appends").get
    val cap = Similarity.IvfMemberCap
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val viaSplit = rows(
      Similarity.ivfScoredPairsSplitCapped(spark, base, app, cap = cap))
    val viaUnion = rows(Similarity.ivfScoredPairsOn(spark,
      base.unionByName(app), memberCap = cap))
    assert(viaSplit == viaUnion,
      "the rank decomposition must keep exactly the union's capped members")
    val uncapped = rows(Similarity.ivfScoredPairsSplit(spark, base, app))
    assert(viaSplit.map(_.take(2)).subsetOf(uncapped.map(_.take(2))))
    assert(viaSplit.size < uncapped.size, "the cap must bite on this corpus")
    // plan gate: the base scan is never the input of a ShuffleExchange —
    // only appends-scale aggregates (gated small by the caller) shuffle
    val (shuffles, plan) = realShuffles(
      Similarity.ivfScoredPairsSplitCapped(spark,
        Similarity.assignmentsRead(spark, sidx), app, cap = cap))
    val baseShuffles = shuffles.filter(_.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths
          .exists(_.toString.endsWith("/assignments")) => s
    }.nonEmpty)
    assert(baseShuffles.isEmpty,
      s"capped split must not shuffle the base:\n$plan")
  }

  test("IndexStream.knn with a cap takes the capped split under the size " +
      "gate and the union fallback above it — row-identical either way") {
    val sidx = splitFixture()
    import graft.streaming.IndexStream
    val cap = Similarity.IvfMemberCap
    val want = Similarity.knnIvfOnAssignments(spark,
        IndexStream.assignments(spark, sidx), 3, memberCap = cap)
      .collect().map(_.toSeq).toSet
    assert(IndexStream.knn(spark, sidx, 3, memberCap = cap)
      .collect().map(_.toSeq).toSet == want, "split path diverged")
    val conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // broadcasts disabled: the r11 ADVICE regime where forcing the
      // split would eventually OOM — the gate must fall back to union
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(IndexStream.knn(spark, sidx, 3, memberCap = cap)
        .collect().map(_.toSeq).toSet == want, "union fallback diverged")
      assert(IndexStream.knn(spark, sidx, 3)
        .collect().map(_.toSeq).toSet ==
        Similarity.knnIvfOnAssignments(spark,
          IndexStream.assignments(spark, sidx), 3)
          .collect().map(_.toSeq).toSet,
        "uncapped union fallback diverged")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", conf)
  }

  test("bucket claim is marker-based (r12): the writer records the spec, " +
      "a marker-less dir reads plain with identical rows") {
    val sidx = splitFixture()
    val marker = new java.io.File(s"$sidx/assignments/_graft_buckets")
    assert(marker.exists, "the bucketed writer must record its spec")
    assert(scala.io.Source.fromFile(marker).mkString == "32:cent_id")
    val want = Similarity.ivfScoredPairs(spark, sidx)
      .collect().map(_.toSeq).toSet
    marker.delete()
    // no marker -> no claim: same rows, but the cell join now has to
    // shuffle (proves the file-name regex no longer drives the claim)
    assert(Similarity.ivfScoredPairs(spark, sidx)
      .collect().map(_.toSeq).toSet == want)
    val (exch, plan) = realShuffles(Similarity.ivfScoredPairs(spark, sidx))
    assert(exch.nonEmpty,
      s"without the marker no bucketing may be claimed:\n$plan")
    // explicit operator migration for pre-marker dirs: stamping restores
    // the claim and the zero-Exchange plan
    Similarity.stampBucketMarker(spark, sidx)
    assert(Similarity.ivfScoredPairs(spark, sidx)
      .collect().map(_.toSeq).toSet == want)
    val (exch2, plan2) = realShuffles(Similarity.ivfScoredPairs(spark, sidx))
    assert(exch2.isEmpty, s"stamped marker must restore the claim:\n$plan2")
  }

  test("capped split is exact under spark.sql.ansi.enabled=false " +
      "(size(null) = -1 regime) with append-UNTOUCHED cells (r12 review)") {
    // sparse appends: most cells have no append member, so the base-side
    // rank correction must take the explicit null branch — a coalesce
    // around size() would absorb legacy size(null) = -1 as a rank credit
    val q = Similarity.quantized(spark, dir).select("vec_id", "qv", "nrm")
      .localCheckpoint()
    val sidx = java.nio.file.Files.createTempDirectory("ansioff-idx").toString
    Similarity.saveIvfIndexOn(spark, q.filter(expr("vec_id % 2 = 0")), sidx)
    val cents = spark.read.parquet(s"$sidx/centroids")
    Similarity.assignCells(q.filter(expr("vec_id % 20 = 1")), cents,
        Similarity.IvfNprobe)
      .write.parquet(s"$sidx/appends/batch_id=0")
    val base = Similarity.assignmentsRead(spark, sidx)
    val app = graft.streaming.StreamState.read(spark, s"$sidx/appends").get
    val cap = Similarity.IvfMemberCap
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val viaSplit = Similarity
        .ivfScoredPairsSplitCapped(spark, base, app, cap = cap)
        .collect().map(_.toSeq).toSet
      val viaUnion = Similarity.ivfScoredPairsOn(spark,
          base.unionByName(app), memberCap = cap)
        .collect().map(_.toSeq).toSet
      assert(viaSplit == viaUnion,
        s"ANSI-off divergence: only-split=${(viaSplit -- viaUnion).size} " +
          s"only-union=${(viaUnion -- viaSplit).size}")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("retrain into the SAME index dir from a frame derived from that " +
      "dir survives (r12 tmp+swap; the r11 delete-before-read lost it)") {
    val sidx = splitFixture()
    // the documented retrain recipe: rebuild from the live view
    val live = graft.streaming.IndexStream.assignments(spark, sidx)
      .filter(col("rn") === 1).select("vec_id", "qv", "nrm")
      .localCheckpoint()
    val fresh = java.nio.file.Files.createTempDirectory("retrain-ref").toString
    Similarity.saveIvfIndexOn(spark, live, fresh)
    // same recipe WITHOUT the caller-side checkpoint: the input is the
    // lazy frame reading the directory being retrained
    val lazyLive = graft.streaming.IndexStream.assignments(spark, sidx)
      .filter(col("rn") === 1).select("vec_id", "qv", "nrm")
    Similarity.saveIvfIndexOn(spark, lazyLive, sidx)
    assert(Similarity.knnIvfPersisted(spark, sidx, 3)
      .collect().map(_.toSeq).toSet ==
      Similarity.knnIvfPersisted(spark, fresh, 3)
        .collect().map(_.toSeq).toSet,
      "retrain-into-self must equal retrain-into-fresh")
    // one-cycle grace copy of the superseded assignments survives
    assert(new java.io.File(s"$sidx/assignments.old").exists)
  }

  test("IndexStream.retrain: base ∪ appends fold into a fresh index " +
      "equal to training on the live view; pre-retrain appends become " +
      "invisible no-ops; an above-horizon live batch refuses (r12)") {
    import graft.streaming.{IndexStream, StreamState}
    val sidx = splitFixture() // base = evens, appends batch 0 = odds
    // a second live batch so the refusal case has something to lose
    val app0 = spark.read.parquet(s"$sidx/appends/batch_id=0").localCheckpoint()
    app0.write.parquet(s"$sidx/appends/batch_id=1")
    // refusal: batch 1 is at/above upToBatch=1 — retraining would lose it
    val ex = intercept[IllegalArgumentException] {
      IndexStream.retrain(spark, sidx, 1)
    }
    assert(ex.getMessage.contains("would be lost"))
    // reference: a fresh index trained on the SAME live rows
    val live = IndexStream.assignments(spark, sidx)
      .filter(col("rn") === 1).select("vec_id", "qv", "nrm").localCheckpoint()
    val ref = java.nio.file.Files.createTempDirectory("retrain-want").toString
    Similarity.saveIvfIndexOn(spark, live, ref)
    IndexStream.retrain(spark, sidx, 2)
    def knnRows(i: String) = graft.streaming.IndexStream.knn(spark, i, 3)
      .collect().map(_.toSeq).toSet
    assert(knnRows(sidx) == knnRows(ref),
      "retrain must equal a fresh train over the live view")
    // the appends view is an empty horizon: a replayed pre-retrain batch
    // that re-mints its partition stays invisible (rows live in the base)
    assert(StreamState.horizon(spark, s"$sidx/appends") == 2L)
    assert(StreamState.read(spark, s"$sidx/appends").forall(_.isEmpty))
    // one state layout: the empty run covering [0, 2) is all the base holds
    assert(new java.io.File(s"$sidx/appends/base").list().toSeq == Seq("run=0-2"))
    val before = knnRows(sidx)
    app0.write.mode("overwrite").parquet(s"$sidx/appends/batch_id=0")
    assert(knnRows(sidx) == before,
      "a replayed pre-retrain append must stay a no-op after retrain")
    // post-retrain appends assign against the NEW centroids and land live
    val cents = spark.read.parquet(s"$sidx/centroids")
    val extra = app0.filter(col("rn") === 1)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("qv"), col("nrm"))
    val nBase = IndexStream.assignments(spark, sidx).count()
    Similarity.assignCells(extra, cents, Similarity.IvfNprobe)
      .write.mode("overwrite").parquet(s"$sidx/appends/batch_id=2")
    assert(IndexStream.assignments(spark, sidx).count() > nBase,
      "post-retrain appends must be live")
  }

  test("torn-index detection (r13 — ADVICE r12): a build-id mismatch " +
      "between assignments and centroids refuses the append paths; " +
      "legacy unstamped indexes pass") {
    import graft.streaming.IndexStream
    val q = Similarity.quantized(spark, dir).select("vec_id", "qv", "nrm")
      .localCheckpoint()
    val tidx = java.nio.file.Files.createTempDirectory("torn-idx").toString
    Similarity.saveIvfIndexOn(spark, q.filter(expr("vec_id % 2 = 0")), tidx)
    // a consistent fresh build passes
    Similarity.checkBuildConsistency(spark, tidx)
    val newQ = q.filter(expr("vec_id % 2 = 1")).localCheckpoint()
    Similarity.appendToIvfIndex(spark, tidx, newQ.limit(1))
    // simulate the crash-between-swaps residue: centroids from an OLDER
    // rebuild (different build id) under new assignments
    val cmark = new java.io.File(s"$tidx/centroids/_graft_build")
    val orig = new String(java.nio.file.Files.readAllBytes(cmark.toPath))
    // tamper through the Hadoop FS (checksummed local FS — a raw write
    // would trip the .crc sidecar instead of the consistency check)
    val hp = new org.apache.hadoop.fs.Path(cmark.getAbsolutePath)
    graft.util.FsUtil.writeSmallFile(
      graft.util.FsUtil.fsOf(spark, hp), hp, "0@stale")
    val ex = intercept[IllegalStateException] {
      Similarity.appendToIvfIndex(spark, tidx, newQ.limit(1))
    }
    assert(ex.getMessage.contains("torn"))
    // the STREAMED append path refuses identically (same check in the
    // foreachBatch body — exercised directly here)
    val ex2 = intercept[IllegalStateException] {
      Similarity.checkBuildConsistency(spark, tidx)
    }
    assert(ex2.getMessage.contains("torn"))
    // assignments stamped + centroids unstamped = the same torn residue
    java.nio.file.Files.delete(cmark.toPath)
    assert(intercept[IllegalStateException] {
      Similarity.checkBuildConsistency(spark, tidx)
    }.getMessage.contains("no build marker"))
    // legacy: NEITHER side stamped (pre-r13 index) — positive-evidence
    // gate passes, appends keep working
    java.nio.file.Files.delete(
      new java.io.File(s"$tidx/assignments/_graft_build").toPath)
    Similarity.checkBuildConsistency(spark, tidx)
    // a retrain repairs: both sides rewritten under one fresh id
    IndexStream.retrain(spark, tidx, 1)
    Similarity.checkBuildConsistency(spark, tidx)
    assert(new java.io.File(s"$tidx/centroids/_graft_build").exists
      && orig.nonEmpty)
  }

  test("capped-split disjointness precondition is ENFORCED at retrain " +
      "(r13 ask 4): appends sharing vec_ids with the base fail loudly") {
    import graft.streaming.IndexStream
    val sidx = splitFixture() // base = evens, appends batch 0 = odds
    // pollute the appends dir the way an operator hand-copy would: base
    // rows re-minted as an appends batch
    val app0 = spark.read.parquet(s"$sidx/appends/batch_id=0")
    Similarity.assignmentsRead(spark, sidx).filter(col("rn") === 1)
      .select(app0.columns.toIndexedSeq.map(col): _*).limit(3)
      .write.parquet(s"$sidx/appends/batch_id=1")
    val ex = intercept[IllegalArgumentException] {
      IndexStream.retrain(spark, sidx, 2)
    }
    assert(ex.getMessage.contains("share vec_ids"))
    // a clean fixture retrains fine (the guard has no false positives)
    val clean = splitFixture()
    IndexStream.retrain(spark, clean, 1)
    assert(Similarity.knnIvfPersisted(spark, clean, 3).count() > 0)
  }

  test("IndexStream.maintain (r13 ask 3): fold + advisor verdict + " +
      "retrain on drift; audit-only mode never retrains; refusal " +
      "propagates") {
    import graft.streaming.{IndexStream, StreamState}
    val q = Similarity.quantized(spark, dir).select("vec_id", "qv", "nrm")
      .localCheckpoint()
    def fixture(drifted: Boolean): (String, String) = {
      val sidx = java.nio.file.Files.createTempDirectory("maint-idx").toString
      Similarity.saveIvfIndexOn(spark, q.filter(expr("vec_id % 2 = 0")), sidx)
      val cents = spark.read.parquet(s"$sidx/centroids")
      val app =
        if (!drifted) q.filter(expr("vec_id % 2 = 1"))
        else {
          // a drifting stream: 400 fresh ids all carrying ONE vector's
          // payload — they pile into a single cell, q171's signal
          val one = q.filter(expr("vec_id % 2 = 1")).limit(1)
            .select("qv", "nrm").localCheckpoint()
          spark.range(400).select((col("id") + 1000000L).as("vec_id"))
            .crossJoin(one)
        }
      Similarity.assignCells(app, cents, Similarity.IvfNprobe)
        .write.parquet(s"$sidx/appends/batch_id=0")
      // the checkpoint's commit log, as a stream would leave it: batch 0
      // committed
      val ckpt = java.nio.file.Files.createTempDirectory("maint-ckpt").toString
      new java.io.File(s"$ckpt/commits").mkdirs()
      java.nio.file.Files.write(
        new java.io.File(s"$ckpt/commits/0").toPath, "{}".getBytes)
      (sidx, ckpt)
    }
    // drifted: the verdict advises and maintain retrains at horizon 1
    val (didx, dckpt) = fixture(drifted = true)
    val rep = IndexStream.maintain(spark, didx, dckpt)
    assert(rep.lastCommitted.contains(0L))
    assert(rep.skew > Similarity.RetrainSkewThreshold,
      s"drift fixture must read as skewed, got ${rep.skew}")
    assert(rep.retrainAdvised && rep.retrained)
    assert(rep.nVecs == 250L + 400L, s"live view size: ${rep.nVecs}")
    // post-retrain: appends collapsed to an empty horizon; the rebuilt
    // index is consistent (both swaps under one build id) and trained
    // at the LIVE corpus size — more cells than the stale base had
    assert(StreamState.read(spark, s"$didx/appends").forall(_.isEmpty))
    Similarity.checkBuildConsistency(spark, didx)
    val after = Similarity.retrainAdvisorOn(
      IndexStream.assignments(spark, didx)).head()
    assert(after.getAs[Long]("n_vecs") == 650L,
      "every live row must survive the retrain fold")
    // audit-only mode: same drift, verdict reported, NOTHING rewritten
    val (aidx, ackpt) = fixture(drifted = true)
    val rep2 = IndexStream.maintain(spark, aidx, ackpt,
      retrainWhenAdvised = false)
    assert(rep2.retrainAdvised && !rep2.retrained)
    assert(!new java.io.File(s"$aidx/assignments.old").exists,
      "audit-only maintain must not rewrite the index")
    // but the fold DID happen — appends are compacted, not touched
    assert(StreamState.horizon(spark, s"$aidx/appends") == 1L)
    // refusal: an in-flight batch above the committed horizon propagates
    // retrain's contract instead of silently losing it
    val (ridx, rckpt) = fixture(drifted = true)
    spark.read.parquet(s"$ridx/appends/batch_id=0")
      .write.parquet(s"$ridx/appends/batch_id=7")
    val ex = intercept[IllegalArgumentException] {
      IndexStream.maintain(spark, ridx, rckpt)
    }
    assert(ex.getMessage.contains("would be lost"))
  }

  test("two sessions, one shared index: the second builder adopts the " +
      "finished build (fingerprint match) instead of rebuilding; a held " +
      "lock makes it wait (r12 ask 3)") {
    val i = idx // ensure built
    assert(new java.io.File(s"$i/_graft_fingerprint").exists,
      "a complete shared build must be fingerprint-stamped")
    def fileStamps() = new java.io.File(s"$i/assignments").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified)).toSet
    val before = fileStamps()
    // "second session": drop the in-JVM memo so the shared-dir protocol
    // runs again from scratch
    Similarity.ivfIndexCache.clear()
    assert(Similarity.persistedIvfIndexDir(spark, dir) == i)
    assert(fileStamps() == before,
      "a matching finished build must be adopted, not rebuilt")
    // a held lock blocks the build path (fingerprint removed so the
    // waiter cannot short-circuit by adoption)
    new java.io.File(s"$i/_graft_fingerprint").delete()
    val lock = new java.io.File(s"$i.lock")
    assert(lock.createNewFile())
    Similarity.ivfIndexCache.clear()
    val t0 = System.nanoTime()
    new Thread(() => { Thread.sleep(1500); lock.delete(); () }).start()
    assert(Similarity.persistedIvfIndexDir(spark, dir) == i)
    val waitedMs = (System.nanoTime() - t0) / 1000000
    assert(waitedMs >= 1400, s"builder must wait for the lock holder ($waitedMs ms)")
    assert(new java.io.File(s"$i/_graft_fingerprint").exists,
      "the winning builder must re-stamp the fingerprint")
    assert(Similarity.knnIvfPersisted(spark, i, 3).count() > 0)
  }
}
