package perfbench

import java.nio.file.{Files, Paths}

/** Minimal JSON writer for the result and span files. */
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

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def write(path: String, v: Any): Unit = Files.writeString(Paths.get(path), apply(v))

  /** One span per line, so a large trace streams. */
  def writeSpans(path: String, runId: String, spans: Seq[Span]): Unit = {
    val lines = spans.sortBy(s => (s.startMs, s.id)).map { s =>
      apply(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "kind" -> s.kind, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "counts" -> s.counts))
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
