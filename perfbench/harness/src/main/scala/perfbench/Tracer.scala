package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans of the traced run: name, trace id, parent, start and
  * end (ns since the tracer was made). Nothing is written until the run
  * ends; self time is derived from the spans afterwards.
  */
final class Tracer {
  case class Span(id: Int, trace: Int, parent: Int, name: String,
      startNs: Long, endNs: Long)

  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer[Span]()
  private var nextId = 1
  private var stack = List.empty[(Int, Int)] // (span id, trace id)

  /** Runs `f` inside a span. A span opened with no span open starts a new
    * trace; nested spans share their root's trace id.
    */
  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val (parent, trace) = stack.headOption.fold((0, id))(p => (p._1, p._2))
    stack = (id, trace) :: stack
    val start = System.nanoTime() - t0
    try f
    finally {
      stack = stack.tail
      spans += Span(id, trace, parent, name, start, System.nanoTime() - t0)
    }
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.sortBy(_.id).map(s =>
    Map("id" -> s.id, "trace" -> s.trace, "parent" -> s.parent,
      "name" -> s.name, "start_s" -> s.startNs / 1e9,
      "end_s" -> s.endNs / 1e9))
}
