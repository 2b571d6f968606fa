package graft.serving

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.streaming.SlidingWindows
import graft.streaming.SlidingWindows.{AggSpec, RangeMs, RowsN}

/** What the live request path needs from a buffer — implemented by the
  * driver-memory [[ServingBuffer]] (serving-parity/test path) and the
  * scale path [[ShardedServingBuffer]] (key-routed per-shard row logs).
  */
trait LiveBuffer {
  def specs: Seq[AggSpec]
  def eval(key: String, atTs: Option[Long] = None): Option[(Long, Seq[(String, Any)])]
  def evalBatch(reqs: Seq[(String, Option[Long])])
      : IndexedSeq[Option[(Long, Seq[(String, Any)])]]
}

/** Per-key row buffer for LIVE request-time window evaluation — the
  * reference's WindowRequestOperator answers each request by evaluating
  * every aggregate AT the request's timestamp against the rows buffered in
  * operator state (src/runtime/operators/window/
  * window_request_operator.rs:90-300), not by returning the last emitted
  * feature row. This buffer holds exactly that state on the serving side:
  * per key, the rows inside the widest RANGE horizon plus the `maxRows+1`
  * most recent rows for ROWS frames; [[eval]] folds them through the
  * engine's own accumulators ([[SlidingWindows.evalAtPoint]]).
  *
  * Bounded like the reference's state, with one horizon of slack: appends
  * prune to `max(rows in (maxTs - 2*horizon, maxTs], last 2*(maxRows+1)
  * rows)` per key, so a request at any virtual point within one horizon of
  * the newest buffered event still sees its FULL RANGE frame (requests
  * further back see whatever is retained — the reference likewise answers
  * from current buffered state, window_request_operator.rs:90-300; ROWS
  * frames are exact at the newest point, best-effort earlier). Lives on
  * the driver next to [[FeatureStore]] — the serving-parity path; a
  * production deployment shards this across a serving tier exactly as it
  * would the store.
  */
final class ServingBuffer(val specs: Seq[AggSpec]) extends LiveBuffer {

  private val (horizonMs, keepRows) = ServingBuffer.retention(specs)

  private val m =
    new ConcurrentHashMap[String, Vector[(Long, Array[Double], Array[String])]]()

  // per-key buffer generation, bumped on every append: the memoized eval
  // below is valid exactly while the generation it computed under stands
  private val gen = new ConcurrentHashMap[String, java.lang.Long]()

  /** Append rows for a key, keeping the buffer bounded by the frame spans. */
  def append(key: String, rows: Seq[(Long, Array[Double], Array[String])]): Unit =
    if (rows.nonEmpty) {
      m.compute(key, (_, old) => {
        val all = ((if (old == null) Vector.empty else old) ++ rows).sortBy(_._1)
        val lo = all.last._1 - horizonMs
        val firstInRange = all.indexWhere(_._1 > lo) match {
          case -1 => all.length
          case i  => i
        }
        val start = math.max(0, math.min(firstInRange, all.length - keepRows))
        all.drop(start)
      })
      gen.merge(key, 1L, (a, b) => a + b)
    }

  /** Memo of the last evaluation per key: (generation, requested atTs or
    * MinValue for "newest", result). One entry per key — the reference's
    * request batching amortizes evaluation across requests that hit the
    * same operator state (request_source.rs:38-49 coalesces pending
    * requests into one batch); serving-side, repeated lookups of a key
    * between emissions hit identical buffered state, so ONE evaluation
    * pass per (key, buffer generation) is the same sharing without the
    * queue — concurrent requests for a hot key pay one fold, not N. */
  private val memo =
    new ConcurrentHashMap[String, (Long, Long, (Long, Seq[(String, Any)]))]()

  /** Evaluate every spec for `key` at `atTs` (default: the key's newest
    * buffered ts). None when the key has no buffered rows — callers fall
    * back to the upsert store. */
  def eval(key: String, atTs: Option[Long] = None): Option[(Long, Seq[(String, Any)])] = {
    // read the generation BEFORE the rows: an interleaved append then at
    // worst caches a fresher result under the older generation (one wasted
    // re-eval later), never a stale result under the newer one
    val g = Option(gen.get(key)).map(_.longValue).getOrElse(0L)
    Option(m.get(key)).filter(_.nonEmpty).map { rows =>
      val atKey = atTs.getOrElse(Long.MinValue)
      val hit = memo.get(key)
      if (hit != null && hit._1 == g && hit._2 == atKey) hit._3
      else {
        val at = atTs.getOrElse(rows.last._1)
        val res = at -> specs.map(_.name).zip(
          SlidingWindows.evalAtPoint(rows, specs, at, presorted = true))
        memo.put(key, (g, atKey, res))
        res
      }
    }
  }

  /** Evaluate a whole batch of requests in ONE pass
    * ([[ServingBuffer.fanOut]]); each result goes through the same
    * per-(key, generation) memo as [[eval]]. */
  def evalBatch(reqs: Seq[(String, Option[Long])])
      : IndexedSeq[Option[(Long, Seq[(String, Any)])]] =
    ServingBuffer.fanOut(reqs)(eval)

  def bufferedKeys: Int = m.size
  def rowCount(key: String): Int = Option(m.get(key)).map(_.length).getOrElse(0)
}

object ServingBuffer {

  /** The serving retention derived from `specs`, shared by the in-memory
    * buffer and the sharded row logs' compaction: (horizonMs, keepRows) =
    * twice the widest RANGE span and twice the widest ROWS frame's
    * `n + 1` rows — one horizon of slack, see [[ServingBuffer]]. */
  private[serving] def retention(specs: Seq[AggSpec]): (Long, Int) = (
    2 * specs.map(_.frame).collect { case RangeMs(l) => l }.foldLeft(0L)(math.max),
    2 * specs.map(_.frame).collect { case RowsN(n) => n + 1 }.foldLeft(0)(math.max))

  /** Evaluates a batch of requests with `eval`, results positional — the
    * serving-side analog of the reference coalescing all pending requests
    * into one RecordBatch through the dataflow (request_source.rs:38-49).
    * Distinct keys hold independent buffered state, so the shared work is
    * the dispatch, not the fold: the batch fans out across the common pool
    * (every core folds a different key) instead of serializing behind the
    * HTTP worker count.
    */
  private[serving] def fanOut(reqs: Seq[(String, Option[Long])])
            (eval: (String, Option[Long]) => Option[(Long, Seq[(String, Any)])])
      : IndexedSeq[Option[(Long, Seq[(String, Any)])]] = {
    val in = reqs.toIndexedSeq
    val out = new Array[Option[(Long, Seq[(String, Any)])]](in.length)
    // a batch only forms when the server is saturated and folds are the
    // bottleneck, so fan out from size 2: a deep-frame fold costs
    // milliseconds and serializing even a small burst on the drainer
    // thread throws away the batching win (fork-join submission is ~µs,
    // and cheap repeated folds are absorbed by the per-key memo anyway)
    if (in.length < 2) {
      var i = 0
      while (i < in.length) { out(i) = eval(in(i)._1, in(i)._2); i += 1 }
    } else
      java.util.stream.IntStream.range(0, in.length).parallel().forEach { i =>
        out(i) = eval(in(i)._1, in(i)._2)
      }
    out.toIndexedSeq
  }

  /** `foreachBatch` feeder over the engine's INPUT frame (key, ts, value
    * slots, string slots). O(batch rows) driver transfer — the same
    * serving-parity trade as [[FeatureStore.upsertBatch]], documented
    * there; the reference ships the same rows into its operator state.
    * `FLUSH_TS` sentinels never enter the buffer.
    */
  def feedBatch(buf: ServingBuffer, keyCol: String, tsCol: String,
                valueCols: Seq[String], strCols: Seq[String])
               (batch: DataFrame, batchId: Long): Unit = {
    if (!batch.isEmpty) {
      val nv = valueCols.length; val ns = strCols.length
      val rows = batch.select(
        col(keyCol).cast("string") +: col(tsCol).cast("long") +:
          (valueCols.map(c => col(c).cast("double")) ++
            strCols.map(c => col(c).cast("string"))): _*).collect()
      rows.iterator
        .filter(r => !r.isNullAt(1) && r.getLong(1) != SlidingWindows.FLUSH_TS)
        .map { r =>
          val nums = Array.tabulate(nv)(i =>
            if (r.isNullAt(2 + i)) 0.0 else r.getDouble(2 + i))
          val strs = Array.tabulate(ns)(i => r.getString(2 + nv + i))
          // String.valueOf: a NULL key would NPE ConcurrentHashMap.compute
          // and kill the feeder query — normalize like FeatureStore does
          (String.valueOf(r.getString(0)), (r.getLong(1), nums, strs))
        }.toSeq.groupBy(_._1)
        .foreach { case (k, rs) => buf.append(k, rs.map(_._2)) }
    }
  }
}
