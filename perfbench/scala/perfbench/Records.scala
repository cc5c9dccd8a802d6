package perfbench

import java.io.{FileOutputStream, OutputStreamWriter, PrintWriter}
import java.nio.charset.StandardCharsets

/** The run's result file: one JSON object per line, flushed as soon as it
  * is written, so a run that is killed leaves every record it finished. */
final class Records(path: String) {
  private val out = new PrintWriter(new OutputStreamWriter(
    new FileOutputStream(path, true), StandardCharsets.UTF_8))

  def emit(kind: String, fields: (String, Any)*): Unit = synchronized {
    out.println(Records.encode(("t" -> kind) +: fields))
    out.flush()
  }

  def close(): Unit = out.close()
}

object Records {
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case fs: Seq[_] if fs.forall(_.isInstanceOf[(_, _)]) && fs.nonEmpty =>
      fs.map { case (k, x) => quote(k.toString) + ":" + encode(x) }
        .mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      if (m.isEmpty) "{}" else encode(m.toSeq)
    case s: Iterable[_] => s.map(encode).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
