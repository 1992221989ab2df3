package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** A span around one call into a layer. Times are epoch milliseconds with
  * sub-millisecond digits, on the same clock as Spark's listener events. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double, run: String)

/** In-memory span recorder. Spans nest per thread; they are written out
  * once, when the run ends. With tracing off `span` only runs its body. */
object Trace {
  @volatile var enabled = false
  @volatile var run = ""
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val epochBaseMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()

  def nowMs: Double = epochBaseMs + (System.nanoTime() - nanoBase) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = nowMs
      try body
      finally {
        stack.set(outer)
        spans.add(Span(id, outer.headOption.getOrElse(0), name, t0, nowMs, run))
      }
    }

  /** A span measured elsewhere, e.g. a micro-batch from its progress report. */
  def record(name: String, startMs: Double, endMs: Double): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), 0, name, startMs, endMs, run))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def toJson: Seq[Map[String, Any]] = all.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs, "run" -> s.run))
}
