package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** In-memory spans of a traced run, written once at exit. A span has a name,
  * start and end (ms since the epoch, as Spark's events carry them), the id
  * of the span that caused it, and the pass it belongs to. The benchmark
  * opens spans around its own calls into each layer; the listener's job and
  * SQL-execution records become child spans of the call that ran them.
  * With tracing off nothing is recorded.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil

  def current: Int = stack.headOption.getOrElse(-1)

  def startOf(id: Int): Long = spans(id).start
  def endOf(id: Int): Long = spans(id).end

  /** Run `body` inside a span; returns its result and wall seconds. */
  def span[T](name: String, pass: Int, attrs: Map[String, Any] = Map.empty)(
      body: => T): (T, Double) = {
    if (!enabled) return Util.timed(body)
    val id = spans.length
    spans += Span(id, name, current, pass, System.currentTimeMillis(), -1L,
      attrs)
    stack = id :: stack
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, Util.secondsSince(t0))
    } finally {
      stack = stack.tail
      spans(id) = spans(id).copy(end = System.currentTimeMillis())
    }
  }

  def add(name: String, parent: Int, pass: Int, start: Long, end: Long,
      attrs: Map[String, Any]): Unit =
    if (enabled) spans += Span(spans.length, name, parent, pass, start, end,
      attrs)

  def write(path: Path): Unit = if (enabled) {
    Files.createDirectories(path.getParent)
    Files.writeString(path, spans.map(_.toJson).mkString("", "\n", "\n"))
  }
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int, pass: Int,
      start: Long, end: Long, attrs: Map[String, Any]) {
    def toJson: String = Util.json(Map("id" -> id, "name" -> name,
      "parent" -> parent, "pass" -> pass, "start_ms" -> start,
      "end_ms" -> end) ++ attrs)
  }
}
