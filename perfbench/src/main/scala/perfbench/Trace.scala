package perfbench

import scala.collection.mutable.ArrayBuffer

/** A span at a layer boundary: one trace id per catalog key, micro-batch or
  * replayed node; `parent` is 0 for a root span. Times are epoch ms.
  */
final case class Span(trace: String, id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** A counter recorded at the boundary of span `span` (0 when none is open). */
final case class Counter(trace: String, span: Int, name: String, value: Double)

/** In-memory span and counter recorder for traced runs; written out once the
  * run ends. Disabled, it records nothing and only runs the bodies. Spans
  * opened with [[span]] nest on the calling thread; [[record]] adds spans
  * observed after the fact (Spark jobs, micro-batches).
  */
final class Tracer(val enabled: Boolean) {
  private val originMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private val spanBuf = ArrayBuffer.empty[Span]
  private val counterBuf = ArrayBuffer.empty[Counter]
  private var nextId = 1
  private var open: List[Int] = Nil

  def nowMs: Double = originMs + System.nanoTime() / 1e6

  def spans: Seq[Span] = spanBuf.toSeq
  def counters: Seq[Counter] = counterBuf.toSeq

  def span[T](trace: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val start = nowMs
      try body
      finally {
        open = open.tail
        spanBuf += Span(trace, id, parent, name, start, nowMs)
      }
    }

  /** Adds a span observed after the fact and gives its id (0 when disabled). */
  def record(trace: String, name: String, parent: Int, startMs: Double, endMs: Double): Int =
    if (!enabled) 0
    else {
      val id = nextId
      nextId += 1
      spanBuf += Span(trace, id, parent, name, startMs, endMs)
      id
    }

  def count(trace: String, name: String, value: Double, span: Int = -1): Unit =
    if (enabled) counterBuf += Counter(trace, if (span >= 0) span else open.headOption.getOrElse(0), name, value)

  def toJson: Map[String, Any] = Map(
    "spans" -> spanBuf.map(s =>
      Map("trace" -> s.trace, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
    "counters" -> counterBuf.map(c =>
      Map("trace" -> c.trace, "span" -> c.span, "name" -> c.name, "value" -> c.value)))
}
