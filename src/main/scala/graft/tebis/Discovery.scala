package graft.tebis

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Which files are input ([[csvFiles]], the one listing rule of every
  * mode), historical file discovery (reference S1/S20,
  * csv_extractor.py:239-262) and the per-file lifecycle. Driver-side path
  * listing via the Hadoop FileSystem API so the same code targets local
  * disk, HDFS or object stores; the listing is metadata-only (the
  * partition-pruning analog — out-of-range files are never opened). Live
  * discovery (S2/S19) is the streaming source in
  * [[graft.streaming.LiveStream]], whose `*.csv` glob and hidden-file
  * skip pick the same files.
  */
object Discovery {

  /** Files Spark's file index will not read: '.'-prefixed (also skipped
    * by Python's glob) and '_'-prefixed (a Spark data-source convention —
    * documented divergence: the reference WOULD process `_x.csv`, but
    * listing what the engine cannot load would strand the file in the
    * input dir forever). */
  private[graft] def isHidden(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_")

  /** The TEBIS input files directly under `dir`: plain files (not
    * directories) named `*.csv` (case-sensitive, like the reference's
    * glob on Linux) and not [[isHidden]]. Historical discovery, the
    * `format("tebis")` source and live mode's folder gauges all list
    * through this. Sorted by path, the order `globStatus` returned, which
    * first-wins catalog naming keeps for files whose tokens tie. A missing
    * folder, or a path that is a file, holds none (as the glob did). */
  private[graft] def csvFiles(dir: String, conf: Configuration): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val all =
      try if (fs.getFileStatus(p).isDirectory) fs.listStatus(p) else Array.empty[FileStatus]
      catch { case _: FileNotFoundException => Array.empty[FileStatus] }
    all.filter { st =>
      val name = st.getPath.getName
      st.isFile && name.endsWith(".csv") && !isHidden(name)
    }.sortBy(_.getPath).toSeq
  }

  /** stem (filename minus last extension) split on "_", with the Python
    * `int(parts[-1])` token when parsable. */
  private def stemParts(p: Path): Array[String] = {
    val name = p.getName
    val dot = name.lastIndexOf('.')
    val stem = if (dot > 0) name.substring(0, dot) else name
    stem.split("_", -1)
  }

  /** Historical discovery (csv_extractor.py:239-262): [[csvFiles]]; when a
    * bound is set, only files whose stem has MORE THAN 2 `_`-parts are
    * eligible, a non-integer trailing token skips the file with a warning,
    * and both bounds are EXCLUSIVE (`time_from < ts < time_until`). A bound
    * of 0 means "no bound" (Python falsiness parity). Result sorted
    * ascending by trailing token, token defaulting to 0 for stems with <=2
    * parts (stable sort, path order preserved on ties). Parity note: a
    * file with >2 parts and a non-integer token, reached WITHOUT bounds
    * set, throws — the reference's sort does `int(parts[-1])` unguarded
    * (csv_extractor.py:258).
    */
  def findHistoricalFiles(
      dir: String,
      timeFrom: Option[Long] = None,
      timeUntil: Option[Long] = None,
      conf: Configuration = new Configuration()): Seq[String] = {
    val all = csvFiles(dir, conf)
    val from = timeFrom.filter(_ != 0L)
    val until = timeUntil.filter(_ != 0L)
    val relevant: Seq[FileStatus] =
      if (from.isEmpty && until.isEmpty) all
      else all.filter { st =>
        val parts = stemParts(st.getPath)
        parts.length > 2 && (TebisCsv.parsePythonInt(parts.last) match {
          case None => false // warning-skip in the reference
          case Some(ts) => from.forall(_ < ts) && until.forall(ts < _)
        })
      }
    relevant.sortBy { st =>
      val parts = stemParts(st.getPath)
      if (parts.length > 2)
        TebisCsv.parsePythonInt(parts.last).getOrElse(
          throw new NumberFormatException(
            s"invalid literal for int(): '${parts.last}' in ${st.getPath.getName}"))
      else 0L
    }(Ordering.Long).map(_.getPath.toString)
  }

  /** Post-commit file lifecycle (S17/S18, csv_extractor.py:78-89,184-192):
    * on success delete, or move to `finished/` when keepFinished; on
    * failure move to `failed/` unless a file of that name already exists
    * there (parity with _log_error_with_backup_for_datapoints).
    */
  // NOT Serializable on purpose: the captured Hadoop Configuration is
  // Writable, not java.io.Serializable — shipping a Lifecycle into an
  // executor closure would throw at runtime. All callers are driver-side.
  final class Lifecycle(
      failedDir: Option[String],
      finishedDir: Option[String],
      conf: Configuration = new Configuration()) {
    private def fs(p: Path): FileSystem = p.getFileSystem(conf)
    /** Python `Path.replace` parity: overwrite an existing destination,
      * and FAIL loudly when the move doesn't happen (HDFS/object-store
      * rename returns false instead of throwing) — a silently unmoved
      * file would be re-ingested forever. */
    def onSuccess(file: String): Unit = {
      val p = new Path(file)
      val f = fs(p)
      finishedDir match {
        case Some(d) =>
          val dest = new Path(d, p.getName)
          f.mkdirs(new Path(d))
          if (f.exists(dest)) f.delete(dest, false)
          if (!f.rename(p, dest))
            throw new java.io.IOException(s"failed to archive $file -> $dest")
        case None =>
          if (!f.delete(p, false) && f.exists(p))
            throw new java.io.IOException(s"failed to delete $file")
      }
    }
    /** Dead-letter move; skip-if-exists and swallow-on-error parity with
      * the reference's backup path (IOError -> debug log only). */
    def onFailure(file: String): Unit = failedDir.foreach { d =>
      try {
        val p = new Path(file)
        val dest = new Path(d, p.getName)
        val f = fs(p)
        f.mkdirs(new Path(d))
        if (!f.exists(dest)) { f.rename(p, dest); () }
      } catch { case _: java.io.IOException => () }
    }
  }
}
