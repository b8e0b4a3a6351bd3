package perfbench

import scala.collection.mutable

/** One run's record: metrics with units, ops attempted/failed and the
  * run context. Rendered as one JSON line. */
final class Record {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val ctx = mutable.LinkedHashMap.empty[String, Any]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def has(name: String): Boolean = metrics.contains(name)
  def context(k: String, v: Any): Unit = ctx(k) = v

  /** Count one operation (micro-batch, pin check or table check). */
  def attempt(ok: Boolean, why: => String = ""): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; failures += why }
  }

  def toJson: String = Json.render(Map(
    "attempted" -> attempted, "failed" -> failed,
    "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "context" -> ctx, "failures" -> failures.toSeq))
}

object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
