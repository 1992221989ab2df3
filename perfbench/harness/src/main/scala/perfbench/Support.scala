package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{FileSystems, Files, Path, Paths, StandardWatchEventKinds}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

/** Minimal JSON rendering for the run's raw measurements. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(path: String, v: Any): Unit = Files.writeString(Paths.get(path), render(v))
}

/** `key=value` parameters the runner writes for the JVM. */
final class Params(path: String) {
  private val p = new java.util.Properties()
  locally { val in = Files.newInputStream(Paths.get(path)); try p.load(in) finally in.close() }
  def apply(k: String): String = Option(p.getProperty(k)).getOrElse(sys.error(s"missing parameter $k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def double(k: String): Double = apply(k).toDouble
}

/** One row of a generator manifest (perfbench/gen_tebis.py). */
final case class Expected(name: String, bad: Boolean, points: Long, sumTsMs: Long, sumV1000: Long,
    window: Long, ids: Seq[String])

object Expected {
  def read(path: String): Seq[Expected] = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.toSeq
    val h = lines.head.split("\t").zipWithIndex.toMap
    lines.tail.filter(_.nonEmpty).map { l =>
      val c = l.split("\t", -1)
      Expected(c(h("name")), c(h("bad")) == "1", c(h("points")).toLong, c(h("sum_ts_ms")).toLong,
        c(h("sum_v1000")).toLong, c(h("window")).toLong, c(h("ids")).split(",").toSeq.filter(_.nonEmpty))
    }
  }
}

/** Points a sink committed, per source-file window. */
final case class Sums(points: Long, sumTsMs: Long, sumV1000: Long)

/** Outcome checks of one run: operations attempted and failed. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = scala.collection.mutable.ArrayBuffer[String]()
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }
  def fail(what: String): Unit = { failed += 1; if (failures.size < 20) failures += what }
}

object Fs {
  def names(dir: String): Set[String] =
    Option(new File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  /** Fresh copy of `src`'s files in `dst`, as hard links where possible. */
  def linkAll(src: String, dst: String): Unit = {
    Files.createDirectories(Paths.get(dst))
    new File(src).listFiles().foreach { f =>
      val to = Paths.get(dst, f.getName)
      try Files.createLink(to, f.toPath)
      catch { case _: Exception => Files.copy(f.toPath, to) }
    }
  }

  def copyDir(src: String, dst: String): Unit = {
    Files.createDirectories(Paths.get(dst))
    new File(src).listFiles().foreach(f => Files.copy(f.toPath, Paths.get(dst, f.getName)))
  }

  /** Bytes and count of the data files under `dir`. */
  def dataFiles(dir: File): Seq[File] =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.flatMap(dataFiles)
    else if (dir.getName.endsWith(".parquet")) Seq(dir) else Nil
}

/** Old-generation occupancy after a full collection, in MB. Taken between
  * timed operations, so it measures what the program keeps, not how
  * lazily the collector runs. Later collections run after Spark's cleaner
  * has released what the earlier ones found unreachable. */
object Heap {
  def retainedMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains("Old Gen"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }
}

/** Sees each file leave a directory (deleted, archived or dead-lettered) and
  * records when, on the `Trace.nowMs` clock. One thread. */
final class CommitWatcher(dir: String) extends AutoCloseable {
  private val ws = FileSystems.getDefault.newWatchService()
  Paths.get(dir).register(ws, StandardWatchEventKinds.ENTRY_DELETE)
  private val seen = new ConcurrentHashMap[String, java.lang.Double]()
  private val thread = new Thread(() => {
    try {
      while (true) {
        val key = ws.take()
        val now = Trace.nowMs
        key.pollEvents().asScala.foreach { e =>
          e.context() match {
            case p: Path => seen.putIfAbsent(p.getFileName.toString, now)
            case _ =>
          }
        }
        key.reset()
      }
    } catch { case _: InterruptedException | _: java.nio.file.ClosedWatchServiceException => () }
  }, "perfbench-commit-watcher")
  thread.setDaemon(true)
  thread.start()

  def committedAt(name: String): Option[Double] = Option(seen.get(name)).map(_.doubleValue)

  /** Wait until every name has left the directory, or the timeout passes. */
  def await(names: Seq[String], timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!names.forall(seen.containsKey) && System.currentTimeMillis() < deadline) Thread.sleep(5)
    names.forall(seen.containsKey)
  }

  def close(): Unit = { ws.close(); thread.interrupt(); thread.join(2000) }
}
