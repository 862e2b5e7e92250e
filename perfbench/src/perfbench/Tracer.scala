package perfbench

import scala.collection.mutable

/** In-memory spans around the benchmark's calls into each layer.
  *
  * One span per public call: name, start, end, parent and the op it belongs
  * to. Recording is a pair of `nanoTime` reads and an append; with tracing
  * off, [[span]] only runs its body. Spans are written out once, when the
  * run ends ([[json]]).
  */
final class Tracer {
  import Tracer._

  /** Whether calls are recorded; switched per op by the run loop. */
  var enabled = false

  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = -1

  /** Epoch milliseconds of a `nanoTime` reading, on the listener's clock. */
  def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  def spans: Seq[Span] = recorded.toSeq

  /** Run one op as the root span `name`, with id `opId`. */
  def op[A](opId: Int, name: String)(f: => A): A = {
    op = opId
    try span(name)(f) finally op = -1
  }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = recorded.size
      val s = Span(id, stack.headOption.getOrElse(-1), op, name, System.nanoTime(), -1L)
      recorded += s
      stack = id :: stack
      try f
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }

  def json: String = recorded.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ms" -> (s.startNs - anchorNs) / 1e6, "end_ms" -> (s.endNs - anchorNs) / 1e6)
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        startNs: Long, var endNs: Long)
}
