package graft.util

import scala.collection.concurrent.TrieMap
import scala.util.DynamicVariable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Parquet reads that infer a path's schema once per table version.
  *
  * A schema-less `spark.read.parquet` runs one footer-inference job per
  * call, even when the files have not changed (~190 ms per read on a
  * 4-core box, most of a warm suite query's build time). [[read]] infers
  * once, then reads with `spark.read.schema(cached)`, which runs no job.
  *
  * The entry for a path is valid while its key is unchanged: the path,
  * each file's path, length and mtime ([[fingerprint]]), every set
  * `*parquet*` conf entry and `spark.sql.caseSensitive` (both steer what
  * inference returns: `EventOps.eventsOn` sets
  * `spark.sql.legacy.parquet.nanosAsLong` after its first read). The
  * file list of a hit comes from the file index Spark built for the
  * schema-specified read itself, so a hit lists the path once, as the
  * schema-less read would. A changed key re-infers and replaces the
  * entry: one entry per path, bounded by the number of distinct paths
  * read. A read whose plan has no file index to take the list from is
  * not cached and infers as a plain read does. */
object ParquetTables {

  private final case class Entry(key: String, schema: StructType)

  private val schemas = TrieMap.empty[String, Entry]

  /** Test seam: inside `inferEveryRead`, every read infers (the plain
    * schema-less read) and the cache is left as it was. */
  private val inferring = new DynamicVariable(false)
  private[graft] def inferEveryRead[T](body: => T): T = inferring.withValue(true)(body)

  /** The parquet files at `path`, read with its cached schema when the
    * files and the parquet-reading conf are those it was inferred from. */
  def read(spark: SparkSession, path: String): DataFrame =
    if (inferring.value) spark.read.parquet(path) else cachedRead(spark, path)

  private def cachedRead(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.conf.getAll
      .filter { case (k, _) => k.contains("parquet") || k == "spark.sql.caseSensitive" }
      .toSeq.sorted.mkString(",")
    def keyOf(df: DataFrame): Option[String] =
      listed(df).map(files => s"${fingerprint(path, files)}|$conf")
    schemas.get(path).flatMap { e =>
      val df = spark.read.schema(e.schema).parquet(path)
      keyOf(df).filter(_ == e.key).map(_ => df)
    }.getOrElse {
      val df = spark.read.parquet(path)
      keyOf(df) match {
        case Some(k) => schemas.put(path, Entry(k, df.schema))
        case None => schemas.remove(path)
      }
      df
    }
  }

  /** The files Spark's file index listed for a plain file-source read. */
  private def listed(df: DataFrame): Option[Seq[FileStatus]] =
    df.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _) =>
          Some(index.allFiles())
        case _ => None
      }
      case _ => None
    }

  /** The content fingerprint of the table at `path`: a digest of each
    * file's path, length and mtime. Overwriting the table, even with the
    * same total size, changes it. */
  def fingerprint(path: String, files: Seq[FileStatus]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}").sorted
      .foreach(s => md.update(s"$s\n".getBytes("UTF-8")))
    s"$path@${files.size}:" + md.digest().take(16).map("%02x".format(_)).mkString
  }

  /** [[fingerprint]] from a listing of `path`, for keys taken before any
    * read (the memoized artifacts and trained indexes). Hidden entries
    * (`_`/`.` names: markers, checksums, temporaries) are skipped, as
    * Spark's file index skips them; a missing path is just the path. */
  def fingerprint(spark: SparkSession, path: String): String = {
    val root = new Path(path)
    val fs = FsUtil.fsOf(spark, root)
    def walk(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith("."))
        .flatMap(walk)
    if (!fs.exists(root)) path else fingerprint(path, walk(fs.getFileStatus(root)))
  }

  /** Test hook: drop all entries (the next read of each path infers). */
  private[graft] def clear(): Unit = schemas.clear()
}
