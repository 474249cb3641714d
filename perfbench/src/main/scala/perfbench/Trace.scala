package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (0 for a root); times are `System.nanoTime`.
  */
final case class Span(id: Long, parent: Long, name: String, op: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out; nothing is recorded while `on` is false, so untraced
  * passes pay one volatile read per boundary.
  */
object Trace {
  @volatile var on: Boolean = false
  /** The span new child work attaches to: ops run one at a time, so the
    * main thread's current phase is the parent of anything executor
    * threads start (server calls) until the phase ends. */
  @volatile var current: Long = 0L
  @volatile var currentOp: String = ""

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  /** Offset that turns a wall-clock millisecond (Spark's planning
    * tracker) into this recorder's nanoTime axis. */
  val wallToNanoOffset: Long =
    System.nanoTime() - System.currentTimeMillis() * 1000000L

  def newId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (on) spans.add(s)

  /** Run `body` inside a span named `name` under the current span. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val parent = current
      val op = currentOp
      val t0 = System.nanoTime()
      current = id
      try body
      finally {
        current = parent
        spans.add(Span(id, parent, name, op, t0, System.nanoTime()))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def clear(): Unit = spans.clear()

  /** Self time per span name, in ns: each span's duration minus the part
    * of its interval that its children cover (children that overlap one
    * another are counted once).
    */
  def selfTimeNs(ss: Seq[Span]): Map[String, Long] = {
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val ivs = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }
          .sortBy(_._1)
        var covered = 0L
        var (lo, hi) = (Long.MinValue, Long.MinValue)
        ivs.foreach { case (a, b) =>
          if (a > hi) {
            if (hi > lo) covered += hi - lo
            lo = a; hi = b
          } else hi = math.max(hi, b)
        }
        if (hi > lo) covered += hi - lo
        s.durNs - covered
      }.sum
    }
  }

  /** Spans as JSON lines (one object each), for offline inspection. */
  def toJsonLines(ss: Seq[Span]): Iterator[String] = ss.sortBy(_.startNs).iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""op":${Json.str(s.op)},"start_ns":${s.startNs},"dur_ns":${s.durNs}}"""
  }
}
