package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Run settings, read from a `key=value` properties file written by
  * `run.py`. Lists are comma-separated.
  */
final class Spec(path: String) {
  private val props = new java.util.Properties()
  private val in = Files.newBufferedReader(Paths.get(path), StandardCharsets.UTF_8)
  try props.load(in) finally in.close()

  def apply(key: String): String =
    Option(props.getProperty(key)).getOrElse(sys.error(s"spec has no '$key'"))
  def int(key: String): Int = apply(key).toInt
  def double(key: String): Double = apply(key).toDouble
  def list(key: String): Seq[String] = apply(key).split(",").map(_.trim).filter(_.nonEmpty).toSeq
  def flag(key: String): Boolean = apply(key) == "1"
}

/** Clock shared by every record: epoch milliseconds as a double, with
  * nanosecond-clock resolution. Spark's own event times (job, stage,
  * tracker phase, trigger timestamps) are epoch milliseconds, so the
  * bench's spans and Spark's records sit on one axis.
  */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** In-memory JSON-lines recorder. Listener callbacks arrive on Spark's
  * bus threads, so `rec` is synchronized; nothing touches the disk until
  * `write` at the end of the run.
  */
final class Recorder {
  private val lines = scala.collection.mutable.ArrayBuffer.empty[String]

  def rec(kind: String, fields: (String, Any)*): Unit = {
    val sb = new StringBuilder("{\"kind\":")
    Recorder.value(sb, kind)
    fields.foreach { case (k, v) =>
      sb.append(',')
      Recorder.value(sb, k)
      sb.append(':')
      Recorder.value(sb, v)
    }
    sb.append('}')
    val line = sb.toString
    synchronized { lines += line }
  }

  def write(path: String): Unit = synchronized {
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Recorder {
  private def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  def value(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => value(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case f: Float => value(sb, f.toDouble)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        str(sb, k.toString)
        sb.append(':')
        value(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) sb.append(',')
        first = false
        value(sb, x)
      }
      sb.append(']')
    case other => str(sb, other.toString)
  }
}
