package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is 0 for a root;
  * `pass` groups the spans of one pass (or ingest phase). */
final case class Span(id: Long, parent: Long, pass: String, name: String,
                      layer: String, startNs: Long, endNs: Long)

/** In-memory span recorder, written out as JSON lines when the run ends.
  * Disabled, every method is a pass-through, so untraced runs pay nothing
  * but a branch. Parents come from a per-thread stack; spans recorded on
  * another thread (streaming progress, the load generator) name their
  * parent explicitly. */
final class Trace(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def current: Long = stack.get.headOption.getOrElse(0L)
  def newId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (enabled) spans.add(s): Unit

  def span[T](name: String, layer: String, pass: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        record(Span(id, parent, pass, name, layer, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(Json.render(Map(
        "id" -> s.id, "parent" -> s.parent, "pass" -> s.pass,
        "name" -> s.name, "layer" -> s.layer,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

/** Minimal JSON rendering for the result file and span log. */
object Json {
  def render(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
