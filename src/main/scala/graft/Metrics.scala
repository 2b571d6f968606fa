package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Shared measurement plumbing for the bench mains and tools — one
  * implementation of the percentile routine, the progress-collecting
  * listener and the report serializer, so a fix lands in every caller.
  * (The steady-stream, spill and cluster-bench records — `BENCH_steady_*`,
  * `BENCH_spill_r15.json`, `CLUSTER_BENCH.json` — were produced through
  * these same routines by tools that have since been retired.)
  */
object Metrics {

  /** Exact weighted percentile over (value, weight) samples. */
  def wPercentile(samples: Seq[(Long, Long)], p: Double): Long = {
    if (samples.isEmpty) return -1L
    val sorted = samples.sortBy(_._1)
    val total = sorted.map(_._2).sum
    val target = math.max(1L, math.ceil(total * p).toLong)
    var acc = 0L
    sorted.foreach { case (v, w) =>
      acc += w
      if (acc >= target) return v
    }
    sorted.last._1
  }

  /** Registers a listener that accumulates every real (rows > 0) trigger's
    * progress — unbounded by the recentProgress retention cap and immune
    * to idle-trigger eviction. Returns (buffer, listener); the caller
    * removes the listener via `spark.streams.removeListener` when done and
    * MUST call [[drain]] before reading the buffer after a query stops
    * (listener delivery is asynchronous — `processAllAvailable`/`stop` do
    * not wait for it).
    */
  def collectProgress(spark: SparkSession)
      : (scala.collection.mutable.ArrayBuffer[StreamingQueryProgress],
         StreamingQueryListener) = {
    val buf = new scala.collection.mutable.ArrayBuffer[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        buf.synchronized { if (e.progress.numInputRows > 0) buf += e.progress; () }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    (buf, listener)
  }

  /** Minimal JSON serializer for the measurement tools' report maps —
    * one implementation (string escaping included) instead of a
    * hand-rolled copy per tool, where the copies had already diverged on
    * escaping. */
  def toJson(v: Any): String = v match {
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]].toSeq
        .map { case (k, x) => toJson(k) + ":" + toJson(x) }
        .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(toJson).mkString("[", ",", "]")
    // NaN/Infinity (e.g. a flatness ratio over an empty duration list)
    // are not valid JSON tokens — emit null so strict parsers (jq) accept
    // the committed reports
    case d: Double if d.isNaN || d.isInfinite => "null"
    case f: Float if f.isNaN || f.isInfinite => "null"
    case x => String.valueOf(x)
  }

  /** Parses the flat `"queries":{name:seconds,...}` map out of a bench
    * record — the ONE implementation (an ad-hoc scan-to-first-`}` copy
    * silently returns wrong/partial entries if the record format ever
    * nests an object inside `queries`). Fails loudly on nesting instead:
    * a format change must break the caller. */
  def parseQueriesMap(txt: String): Map[String, Double] = {
    val marker = "\"queries\":{"
    val qi = txt.indexOf(marker)
    require(qi >= 0, "bench record has no \"queries\":{ map")
    val start = qi + marker.length
    val end = txt.indexOf('}', start)
    require(end >= 0, "bench record's queries map is unterminated")
    val body = txt.substring(start, end)
    require(!body.contains("{"),
      "queries map is no longer a flat name:seconds object — " +
        "update Metrics.parseQueriesMap before trusting any parse of it")
    "\"([^\"]+)\":(-?[0-9.eE+]+)".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Waits until the buffer's size has been stable for `quietPolls`
    * consecutive 100 ms polls — the listener bus delivers asynchronously,
    * so tail progress events can land AFTER the query stops; reading
    * without draining silently drops the last triggers' records. */
  def drain(buf: scala.collection.mutable.ArrayBuffer[_],
            quietPolls: Int = 3): Unit = {
    var last = -1
    var same = 0
    while (same < quietPolls) {
      val s = buf.synchronized(buf.size)
      if (s == last) same += 1 else { same = 0; last = s }
      Thread.sleep(100)
    }
  }
}
