package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming-scale measurement main (SCALE.md campaign tooling, not a
  * query): drives [[graft.streaming.CorpusStream.dedupeNearToShards]]
  * over a real file source at an arbitrary corpus scale and batch count.
  *
  * Usage (sbt): `runMain graft.ScaleDrive <corpusDir> <nBatches>` —
  * splits `<corpusDir>/documents.parquet` into `<nBatches>` parquet
  * files, streams the first half one file per micro-batch, stops,
  * compacts the band/shingle state (the maintenance path the
  * `compactState` scaladoc promises), then restarts the SAME checkpoint
  * over the second half — so the run also proves admission state
  * survives a stop + compaction + restart at scale. Reports per-batch
  * wall times and admission totals.
  */
object ScaleDrive {
  def main(args: Array[String]): Unit = {
    val corpusDir = args(0)
    val nBatches = args(1).toInt
    // half = nBatches/2 must be >= 1: compactState(upTo=0) would throw
    // AFTER the corpus prep and the whole first drive already ran
    require(nBatches >= 2, s"nBatches must be >= 2 (got $nBatches): the drive " +
      "splits into a pre- and post-compaction half")
    val spark = GraftSession()
    // recentProgress retains only the last N updates (default 100) — a
    // half with more micro-batches than that would silently drop the
    // earliest per-batch timings from the report
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", (nBatches + 8).toString)

    val scratch = java.nio.file.Files.createTempDirectory("scale-drive").toString
    val staged = s"$scratch/staged"; val in = s"$scratch/in"; val out = s"$scratch/out"
    val state = s"$scratch/state"; val ckpt = s"$scratch/ckpt"

    // one parquet FILE per intended micro-batch (maxFilesPerTrigger=1).
    // partitionBy("b") guarantees one directory per batch VALUE — a
    // repartition(n, col("b")) would hash the key and could collide two
    // batch values into one file, silently skewing the measured batches
    val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
      .select("doc_id", "source", "text")
    docs.withColumn("b", pmod(col("doc_id"), lit(nBatches.toLong)))
      .repartition(nBatches, col("b"))
      .write.mode("overwrite").partitionBy("b").parquet(staged)
    val total = docs.count()
    val files = new java.io.File(staged).listFiles()
      .filter(_.getName.startsWith("b="))
      .sortBy(d => d.getName.stripPrefix("b=").toLong)
      .map { d =>
        val parts = d.listFiles().filter(_.getName.startsWith("part-"))
        require(parts.length == 1, s"expected 1 file under ${d.getName}, got ${parts.length}")
        (d.getName, parts.head)
      }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    def stage(fs: Array[(String, java.io.File)]): Unit = fs.foreach { case (b, f) =>
      // "=" kept out of the landed file name so the file source never
      // mistakes it for a partition fragment
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(in, s"${b.replace("=", "")}-${f.getName}")); ()
    }
    println(s"[scale-drive] corpus=$corpusDir docs=$total batches=${files.length}")

    def drive(label: String): Seq[Double] = {
      val stream = spark.readStream
        .schema("doc_id LONG, source STRING, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(in)
      val t0 = System.nanoTime()
      val q = graft.streaming.CorpusStream.dedupeNearToShards(
        stream, state, out, ckpt, 0.8,
        trigger = Some(Trigger.ProcessingTime(0)))
      val times = try {
        q.processAllAvailable()
        q.recentProgress.toSeq.filter(_.numInputRows > 0)
          .map(_.durationMs.get("triggerExecution").toDouble / 1e3)
      } finally q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[scale-drive] $label: wall=$wall%.1f s, batch seconds: [" +
        times.map(t => f"$t%.1f").mkString(",") + "]")
      times
    }

    val half = files.length / 2
    stage(files.take(half))
    drive(s"first $half batches")
    val tC = System.nanoTime()
    graft.streaming.CorpusStream.compactState(spark, state, half.toLong)
    println(f"[scale-drive] compactState(upTo=$half) took ${(System.nanoTime() - tC) / 1e9}%.1f s")
    stage(files.drop(half))
    drive(s"last ${files.length - half} batches (post-compaction restart)")

    val admitted = spark.read.parquet(out).count()
    val stateRows = spark.read.parquet(s"$state/bands").count()
    val stateParts = new java.io.File(s"$state/bands").listFiles()
      .count(f => f.getName.startsWith("batch_id="))
    println(s"[scale-drive] admitted=$admitted/$total bandState=$stateRows rows in $stateParts partitions")
    spark.stop()
  }
}
