package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans of the traced run: name, start, end, parent and run
  * id. Nothing is written until the run ends. Times are wall-clock
  * milliseconds (so they line up with Spark listener event times) plus
  * a nanosecond duration. */
final class Trace(val runId: String) {
  final case class Span(id: Int, name: String, parent: Int,
                        startMs: Long, var endMs: Long = -1L,
                        startNs: Long, var durNs: Long = -1L)

  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def apply[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, stack.headOption.getOrElse(-1),
      System.currentTimeMillis(), startNs = System.nanoTime())
    spans += s
    stack = s.id :: stack
    try body
    finally {
      s.durNs = System.nanoTime() - s.startNs
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
    }
  }

  def seconds(name: String): Double =
    spans.filter(_.name == name).map(_.durNs).sum / 1e9

  /** A span's duration minus the time its child spans cover. */
  def selfSeconds(s: Span): Double =
    (s.durNs - spans.filter(_.parent == s.id).map(_.durNs).sum) / 1e9

  def toJson: String = spans.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "run" -> runId, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "dur_s" -> s.durNs / 1e9, "self_s" -> selfSeconds(s))
  }.mkString("[", ",", "]")
}

/** Just enough JSON writing for flat result objects. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case Raw(j) => j
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Already-serialized JSON, embedded verbatim. */
  final case class Raw(json: String)
}
