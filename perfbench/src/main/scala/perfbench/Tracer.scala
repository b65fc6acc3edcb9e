package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval around a call into an engine layer. `parent` is
  * the id of the enclosing span on the same thread (-1 for a root). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest by call structure on the calling
  * thread; all spans of one run share `runId`. When disabled, `span`
  * runs its body with no bookkeeping, so the untraced run measures the
  * same calls without the recorder. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList.sortBy(_.startNs))

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Spans as JSON lines, start/end relative to the first span. */
  def jsonLines: Seq[String] = {
    val s = all
    val base = s.headOption.map(_.startNs).getOrElse(0L)
    s.map { x =>
      Json.obj(
        "run_id" -> runId, "id" -> x.id, "parent" -> x.parent, "name" -> x.name,
        "start_s" -> (x.startNs - base) / 1e9, "end_s" -> (x.endNs - base) / 1e9)
    }
  }
}
