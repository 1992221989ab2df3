package graft.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Shared filesystem helpers for the small control files the engine
  * writes next to its artifacts (bucket markers, corpus fingerprints,
  * checkpoint lineage) and for the swap discipline around them (r12). */
object FsUtil {

  def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def writeSmallFile(fs: FileSystem, p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  def readSmallFile(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }

  /** `FileSystem.rename` signals most failures by RETURNING FALSE, not
    * throwing — and a false-ignored rename of `tmp` onto an existing
    * directory nests tmp INSIDE it, silently corrupting the layout.
    * Every swap in the engine goes through this. */
  def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    require(fs.rename(src, dst),
      s"filesystem refused rename $src -> $dst (concurrent writer? " +
        "stale destination?) — aborting instead of corrupting the layout")
}

/** The session's Hadoop configuration (`spark.hadoop.*` settings and the
  * context's `hadoopConfiguration`: credentials, `fs.<scheme>.impl`) in a
  * form tasks can carry: `Configuration` is not java-serializable, so its
  * entries travel and each task rebuilds the conf once, on first use. */
private[graft] final class HadoopConf(entries: Array[(String, String)]) extends Serializable {
  @transient lazy val value: Configuration = {
    val conf = new Configuration(false)
    entries.foreach { case (k, v) => conf.set(k, v) }
    conf
  }
}

private[graft] object HadoopConf {
  def apply(spark: SparkSession): HadoopConf = new HadoopConf(
    spark.sessionState.newHadoopConf().iterator().asScala.map(e => e.getKey -> e.getValue).toArray)
  def active(): HadoopConf = apply(SparkSession.active)
}
