package graft.perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** One run's record: metrics with units, operation counts, check outcomes
  * and run context. Everything is serialized with Jackson, so a check or
  * error message may hold any character (newlines, quotes, control
  * characters) and every line stays one valid JSON document.
  *
  * The harness prints the record as one stdout line after `RecordPrefix`.
  */
final class Record {
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val context: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  val checks: mutable.ArrayBuffer[(String, Boolean, String)] = mutable.ArrayBuffer.empty
  var attempted: Long = 0L
  var failed: Long = 0L

  def metric(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is not finite: $value")
    metrics(name) = (value, unit)
  }

  /** A named correctness check; a failing check counts one failed operation. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val d = if (ok) "" else detail
    checks += ((name, ok, d))
    attempted += 1
    if (!ok) failed += 1
  }

  def ops(attempt: Long, fail: Long): Unit = { attempted += attempt; failed += fail }

  def correct: Boolean = checks.forall(_._2) && failed == 0

  def toJson: ObjectNode = {
    val root = Record.mapper.createObjectNode()
    root.put("correct", correct)
    root.put("attempted", attempted)
    root.put("failed", failed)
    root.put("error_rate", if (attempted == 0) 0.0 else failed.toDouble / attempted)
    val m = root.putObject("metrics")
    metrics.foreach { case (n, (v, u)) =>
      val o = m.putObject(n); o.put("value", v); o.put("unit", u)
    }
    val cs = root.putArray("checks")
    checks.foreach { case (n, ok, d) =>
      val o = cs.addObject(); o.put("name", n); o.put("ok", ok)
      if (d.nonEmpty) o.put("detail", d)
    }
    root.set[ObjectNode]("context", Record.anyNode(context.toMap))
    root
  }
}

object Record {
  val RecordPrefix = "PERFBENCH_RECORD "
  val mapper = new ObjectMapper()

  def anyNode(v: Any): com.fasterxml.jackson.databind.JsonNode = v match {
    case null => mapper.nullNode()
    case m: Map[_, _] =>
      val o = mapper.createObjectNode()
      m.foreach { case (k, x) => o.set[ObjectNode](k.toString, anyNode(x)) }
      o
    case s: Iterable[_] =>
      val a = mapper.createArrayNode(); s.foreach(x => a.add(anyNode(x))); a
    case d: Double => mapper.getNodeFactory.numberNode(d)
    case f: Float => mapper.getNodeFactory.numberNode(f.toDouble)
    case l: Long => mapper.getNodeFactory.numberNode(l)
    case i: Int => mapper.getNodeFactory.numberNode(i)
    case b: Boolean => mapper.getNodeFactory.booleanNode(b)
    case x => mapper.getNodeFactory.textNode(x.toString)
  }

  /** Round-trips a record whose check detail holds a newline, a quote and
    * U+0001 through the output path; returns an error message or None. */
  def selfTest(): Option[String] = {
    val nasty = "line one\nsaid \"no\"\u0001 end"
    val r = new Record
    r.metric("x_ms", 1.5, "ms")
    r.check("nasty", ok = false, nasty)
    val line = mapper.writeValueAsString(r.toJson)
    if (line.exists(c => c == '\n' || c == '\r' || c < ' '))
      return Some("record line holds a raw control character")
    val back = mapper.readTree(line)
    val detail = back.get("checks").get(0).get("detail").asText()
    if (detail != nasty) Some(s"detail did not round-trip: $detail")
    else if (back.get("metrics").get("x_ms").get("value").asDouble() != 1.5)
      Some("metric did not round-trip")
    else if (back.get("failed").asLong() != 1L) Some("failed count did not round-trip")
    else None
  }
}
