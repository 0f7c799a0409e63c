package perfbench

import scala.collection.mutable

/** In-memory spans around the benchmark's calls into each layer. A span
  * has a name, a layer, start/end (ns), the span that caused it and the
  * trace (one replay) it belongs to. With `enabled` off a span is just
  * the call, which is how the untraced replay that prices the tracing
  * overhead runs.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var traceId = 0
  private val stack = mutable.Stack.empty[Int]

  def newTrace(): Unit = traceId += 1

  def span[T](layer: String, name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      spans += Span(id, parent, traceId, name, layer, t0, t1)
    }
  }

  /** Total seconds of spans with this name. */
  def seconds(name: String): Double = spans.iterator.filter(_.name == name).map(_.seconds).sum

  /** Self time per layer: each span's duration minus the time its
    * direct children cover (children run sequentially on this thread).
    */
  def selfSecondsByLayer: Map[String, Double] = {
    val childTime = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childTime(s.parent) += s.end - s.start)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.iterator.map(s => (s.end - s.start - childTime(s.id)) / 1e9).sum
    }
  }

  def toJson: String = {
    val t0 = if (spans.isEmpty) 0L else spans.iterator.map(_.start).min
    spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"layer":${Json.str(s.layer)},""" +
        s""""name":${Json.str(s.name)},"start_us":${(s.start - t0) / 1000},"end_us":${(s.end - t0) / 1000}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, trace: Int, name: String,
      layer: String, start: Long, end: Long) {
    def seconds: Double = (end - start) / 1e9
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
