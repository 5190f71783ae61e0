package perfbench

import scala.collection.mutable

/** Spans recorded from the benchmark's own code around each call into a
  * layer. One client thread issues every op, so the open-span stack is a
  * plain list. Spans stay in memory and are written out when the run
  * ends; with tracing off `apply` is a bare call. */
final class Trace(enabled: Boolean) {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                        parent: Int, op: Int)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String, op: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, t0, System.nanoTime(), parent, op)
        open = open.tail
      }
    }

  /** Id of the innermost span that `name` last closed for `op`. */
  def lastId(name: String, op: Int): Int =
    spans.reverseIterator.find(s => s.name == name && s.op == op).map(_.id).getOrElse(-1)

  /** A span whose bounds were observed elsewhere (stream triggers). */
  def record(name: String, startNs: Long, endNs: Long, parent: Int, op: Int): Unit =
    if (enabled) {
      spans += Span(nextId, name, startNs, endNs, parent, op)
      nextId += 1
    }

  /** name -> (count, total ms, self ms); self time is the span's
    * duration minus the part its child spans cover. */
  def summary: Map[String, (Int, Double, Double)] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ((ss.size, ss.map(s => s.endNs - s.startNs).sum / 1e6,
        ss.map(s => math.max(0L, s.endNs - s.startNs - childNs(s.id))).sum / 1e6))
    }
  }

  def json(originNs: Long): Json.Raw = Json.Raw(spans.sortBy(_.startNs).map { s =>
    Json.obj("id" -> s.id, "name" -> s.name,
      "start_ms" -> (s.startNs - originNs) / 1e6, "end_ms" -> (s.endNs - originNs) / 1e6,
      "parent" -> s.parent, "op" -> s.op).json
  }.mkString("[\n", ",\n", "\n]"))
}

/** Minimal JSON rendering for the harness's records. */
object Json {
  /** Already-rendered JSON, embedded verbatim. */
  final case class Raw(json: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def value(v: Any): String = v match {
    case Raw(j) => j
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
}
