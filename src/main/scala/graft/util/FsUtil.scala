package graft.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Shared filesystem helpers for the small control files the engine
  * writes next to its artifacts (bucket markers, corpus fingerprints,
  * checkpoint lineage) and the one directory replacement
  * ([[FsUtil.replaceDir]]). */
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
    * directory nests tmp INSIDE it, silently corrupting the layout. */
  private def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    require(fs.rename(src, dst),
      s"filesystem refused rename $src -> $dst (concurrent writer? " +
        "stale destination?) — aborting instead of corrupting the layout")

  /** Replace the directory `live` with what `write` puts into the temp
    * path it is handed, `<live>.tmp-<pid>`. The write runs against the
    * intact live copy (a plan that reads `live` is safe), so a failed
    * write leaves `live` as it was and its temp path removed. Only then
    * is the previous `.old` dropped and the two renames made: live →
    * `<live>.old`, kept one replacement cycle for readers that resolved
    * it, and tmp → live.
    * The renames are the only window in which `live` is absent. Every
    * directory replacement in the engine goes through this. */
  def replaceDir(fs: FileSystem, live: Path)(write: Path => Unit): Unit = {
    val tmp = new Path(s"$live.tmp-${ProcessHandle.current().pid()}")
    val old = new Path(s"$live.old")
    sweepStaleTmp(fs, live)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    try write(tmp) catch { case e: Throwable => fs.delete(tmp, true); throw e }
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(live)) renameOrThrow(fs, live, old)
    renameOrThrow(fs, tmp, live)
  }

  /** Delete `<live>.tmp-<pid>` leftovers older than the build-lock stale
    * window ([[SharedArtifact.StaleMs]]): a crashed writer's orphan is
    * named with ITS pid, so [[replaceDir]]'s same-pid delete only covers
    * a retry in the same process. */
  private def sweepStaleTmp(fs: FileSystem, live: Path): Unit = {
    val parent = live.getParent
    if (parent == null || !fs.exists(parent)) return
    val cutoff = System.currentTimeMillis() - SharedArtifact.StaleMs
    val name = java.util.regex.Pattern.quote(live.getName) + "\\.tmp-\\d+"
    fs.listStatus(parent)
      .filter(st => st.isDirectory && st.getPath.getName.matches(name) &&
        st.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, true))
  }
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
