package perfbench

import scala.collection.mutable.ArrayBuffer

/** Spans recorded by the benchmark around its calls into each layer.
  *
  * A span has a name, a start and an end, the span open around it when it
  * began, and the run id shared by every span of one run. Spans stay in
  * memory and are written once, when the run ends. The driver thread is the
  * only caller, so spans nest strictly and a span's self time is its
  * duration minus the summed durations of its direct children.
  *
  * With tracing off, `span` runs its body and records nothing.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  final case class Span(id: Int, parent: Int, name: String,
                        startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Per span name: (count, inclusive seconds, self seconds). */
  def summary: Map[String, (Int, Double, Double)] = {
    val childNs = spans.groupBy(_.parent).view
      .mapValues(_.map(_.durNs).sum).toMap
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ((ss.size, ss.map(_.durNs).sum / 1e9,
        ss.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum / 1e9))
    }
  }

  def selfSeconds(name: String): Double =
    summary.get(name).map(_._3).getOrElse(0.0)

  def count(name: String): Int = summary.get(name).map(_._1).getOrElse(0)

  /** One JSON object per line: the run's spans in start order. */
  def write(path: java.nio.file.Path): Unit = {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val lines = spans.sortBy(_.startNs).map { s =>
      Json.obj(Seq("run_id" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_s" -> (s.startNs - t0) / 1e9,
        "end_s" -> (s.endNs - t0) / 1e9))
    }
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Minimal JSON writer for flat records. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).toPlainString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }
      .mkString("{", ",", "}")

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
