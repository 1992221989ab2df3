package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.{FsUtil, ParquetTables, SharedArtifact}

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
  * map caches the store lookup: one fingerprint check per JVM per
  * corpus version, consumers pay a parquet scan.
  *
  * Correctness contract: the builder and the direct (un-persisted) form
  * share the SAME construction code, so consumer oracles are unchanged —
  * the driver's hash compare is the gate that the persisted path is
  * answer-identical.
  */
object Memo {

  private val cache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** The artifact `name` derived from `<dir>/<table>.parquet`, on a path
    * shared ACROSS JVMs: built once per CORPUS VERSION fleet-wide under
    * the [[graft.util.SharedArtifact]] fingerprint + lock protocol — a
    * second session ADOPTS a finished matching build, so two pipelines
    * over the same corpus never overwrite each other's parquet mid-read.
    * Rebuilds for a NEW corpus version go through
    * [[graft.util.FsUtil.replaceDir]], whose one-cycle `.old` copy keeps
    * a reader that resolved the previous version supplied until the
    * next rebuild. */
  def sharedFrame(spark: SparkSession, dir: String, table: String,
      name: String)(build: => DataFrame): DataFrame = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-memo-shared-" +
      s"$name-" + dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val want = s"${ParquetTables.fingerprint(spark, s"$dir/$table.parquet")}->$name"
    cache.getOrElseUpdate(s"$want->$path(shared)", {
      val p = new Path(path)
      val fs = FsUtil.fsOf(spark, p)
      SharedArtifact.ensure(spark, path, want)(fs.exists(new Path(p, "_SUCCESS"))) {
        FsUtil.replaceDir(fs, p)(tmp => build.write.mode("overwrite").parquet(tmp.toString))
      }
      path
    })
    ParquetTables.read(spark, path)
  }

  /** Test hook: drop all entries (forces rebuilds). */
  private[graft] def clear(): Unit = cache.clear()
}
