package corpusbench

import scala.collection.mutable

/** In-memory spans around the benchmark's calls into the engine's public
  * functions. Off (one volatile read per call) unless a traced pass turns
  * them on; kept in memory and written out when the run ends. */
object Spans {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long)

  @volatile var enabled = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        nextId += 1
        val sp = Span(nextId, stack.headOption.map(_.id).getOrElse(0), name, System.nanoTime(), 0L)
        stack = sp :: stack
        sp
      }
      try body
      finally synchronized {
        s.endNs = System.nanoTime()
        stack = stack.tail
        done += s
      }
    }

  def all: Seq[Span] = synchronized(done.toSeq.sortBy(_.id))

  /** Duration minus the part of it the span's children cover (children
    * run sequentially on the caller's thread, so they never overlap). */
  def selfNs(s: Span, spans: Seq[Span]): Long =
    (s.endNs - s.startNs) - spans.filter(_.parent == s.id).map(c => c.endNs - c.startNs).sum
}
