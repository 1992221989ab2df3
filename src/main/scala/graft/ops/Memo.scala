package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.ParquetTables

/** Content-fingerprint memoization for shared heavy intermediates — the
  * generalization of [[Similarity.persistedIvfIndexDir]]'s pattern (which
  * turned four 53.5 s index builds into one 65.8 s family at 100x).
  *
  * An "artifact" is any derived frame that (a) is expensive to compute,
  * (b) is consumed by several independent queries, and (c) is a pure
  * function of one input table's CONTENT. Such a frame is computed once
  * per corpus version, written to a deterministic scratch path, and
  * loaded by every consumer; the cache key carries a content
  * fingerprint of the input parquet ([[ParquetTables.fingerprint]]:
  * each file's path, length and mtime), so overwriting the corpus —
  * even with an equal row count — invalidates the entry instead of
  * serving stale rows.
  *
  * This mirrors the production deployment shape at 100 TB: a pipeline
  * DAG materializes classifier scores / positional indexes / trained
  * centroids once per ingest version in a shared store, and downstream
  * jobs read the artifact instead of re-folding the corpus. The in-JVM
  * map here stands in for that store's catalog: one build per JVM per
  * corpus version, consumers pay a parquet scan.
  *
  * Correctness contract: the builder and the direct (un-persisted) form
  * share the SAME construction code, so consumer oracles are unchanged —
  * the driver's hash compare is the gate that the persisted path is
  * answer-identical.
  */
object Memo {

  private val cache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** JVM-private scratch root, removed on JVM exit. The pid scope
    * matters: the in-JVM cache means every JVM builds its own artifacts
    * anyway, and a path shared ACROSS JVMs lets two concurrent
    * pipelines over the same corpus overwrite each other's parquet
    * mid-read (observed in the r9 partition-independence run: a
    * parallel session's artifact rewrite made a consumer's read fail
    * transiently). In the production shape the store is a shared
    * catalogued artifact service with one writer per corpus version;
    * this scratch stands in for it within one JVM only. */
  private lazy val scratchBase: String = {
    val d = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-memo-${ProcessHandle.current().pid()}")
    d.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(del)); f.delete(); ()
      }
      del(d)
    }))
    d.getAbsolutePath
  }

  /** The artifact `name` derived from `<dir>/<table>.parquet`: built and
    * written once per (JVM, corpus version), loaded thereafter from the
    * JVM-private scratch. */
  def persistedFrame(spark: SparkSession, dir: String, table: String,
      name: String)(build: => DataFrame): DataFrame = {
    val path = s"$scratchBase/$name-" + dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = ParquetTables.fingerprint(spark, s"$dir/$table.parquet")
    cache.getOrElseUpdate(s"$fp->$name->$path", {
      build.write.mode("overwrite").parquet(path); path
    })
    ParquetTables.read(spark, path)
  }

  /** [[persistedFrame]] on a path shared ACROSS JVMs (r13 — VERDICT
    * ask 2): the artifact is built once per CORPUS VERSION fleet-wide,
    * not once per JVM, under the [[graft.util.SharedArtifact]]
    * fingerprint + lock protocol the IVF index scratch dirs proved out
    * in r12 — a second session ADOPTS a finished matching build (the
    * r9 two-pipelines-overwrite-each-other race that motivated the pid
    * scope is closed by the protocol, not by isolation). Rebuilds for a
    * NEW corpus version go through tmp + swap with a one-cycle `.old`
    * grace copy, so a reader that resolved the previous version keeps
    * its files until the next rebuild — the index artifact's reader
    * contract, applied to every heavy memoized frame that opts in.
    * Opt-in per artifact: callers whose artifact is cheap or
    * session-private keep [[persistedFrame]]. */
  def sharedFrame(spark: SparkSession, dir: String, table: String,
      name: String)(build: => DataFrame): DataFrame = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-memo-shared-" +
      s"$name-" + dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val want = s"${ParquetTables.fingerprint(spark, s"$dir/$table.parquet")}->$name"
    cache.getOrElseUpdate(s"$want->$path(shared)", {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = graft.util.FsUtil.fsOf(spark, p)
      graft.util.SharedArtifact.ensure(spark, path, want)(
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))) {
        val tmp = new org.apache.hadoop.fs.Path(
          s"$path.tmp-${ProcessHandle.current().pid()}")
        val old = new org.apache.hadoop.fs.Path(s"$path.old")
        build.write.mode("overwrite").parquet(tmp.toString)
        if (fs.exists(old)) fs.delete(old, true)
        if (fs.exists(p)) graft.util.FsUtil.renameOrThrow(fs, p, old)
        graft.util.FsUtil.renameOrThrow(fs, tmp, p)
      }
      path
    })
    ParquetTables.read(spark, path)
  }

  /** Test hook: drop all entries (forces rebuilds). */
  private[graft] def clear(): Unit = cache.clear()
}
