package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.functions.SV

/** Per-row sliding OVER-window engine with streaming emission — the core
  * capability of the reference engine, re-expressed on Structured Streaming.
  *
  * Semantics transcribed from the reference WindowOperator
  * (src/runtime/operators/window/window_operator.rs:292-390):
  *  - rows buffer per key; when the watermark advances, every buffered row
  *    with ts <= watermark is emitted exactly once, in (ts, seq) order,
  *    carrying the input columns plus one aggregate column per window over
  *    its frame (`RANGE x PRECEDING AND CURRENT ROW` / `ROWS n PRECEDING`);
  *  - rows at or before the per-key emitted position are dropped (allowed
  *    lateness = the `withWatermark` delay, so Spark's late-row filter
  *    implements the `wm - lateness` cutoff);
  *  - a terminal flush row (`ts = FLUSH_TS`) plays the reference's
  *    MAX_WATERMARK role for bounded runs (message.rs:191);
  *  - frame evaluation over RANGE windows uses *tiles* — pre-aggregated
  *    time buckets covering the frame interior, raw rows only at the edges
  *    (state/tiles.rs:386-533) — so long windows cost O(buckets + edge)
  *    instead of O(rows); ROWS frames scan the tail of the buffer.
  *
  * Aggregate kinds match the reference's window-aggregate registry
  * (src/runtime/operators/window/aggregates/mod.rs:104-120 — sum, avg,
  * count, min, max, stddev, stddev_pop, stddev_samp, var_pop, var_samp,
  * variance) plus the ML family the reference registers as retractable
  * UDAFs over the same windows (top, topn_frequency, top1_ratio,
  * {sum,avg,count,min,max}_cate — aggregates/mod.rs:184-199): tiles carry
  * bounded top-n / count-map / per-category payloads so ML frames are
  * also O(buckets + edge), the reference's retractable-accumulator answer
  * to per-row frame recomputation (retractable_range.rs:54-140).
  *
  * Like the reference's window expressions, each aggregate evaluates its
  * OWN argument columns: state rows carry a slot array of numeric values
  * and a slot array of strings, and each [[AggSpec]] addresses its slots
  * (`vIdx` into the numeric slots — or the string slots when `vStr`, as
  * the top family accepts any scalar type — and `cIdx` into the string
  * slots for the cate family's category). The single-column signatures
  * remain as wrappers.
  *
  * State lives in the Structured Streaming state store (RocksDB-backed on
  * a real cluster), keyed by the PARTITION BY column — the same hash
  * distribution the reference builds with its KeyBy operator.
  */
object SlidingWindows {

  /** Terminal-watermark sentinel timestamp (2100-01-01 UTC, ms).
    * Note: Spark's watermark starts at 0 and drops rows at event-time <=
    * watermark, so event times must be > 0 (epoch ms of real data always is).
    */
  val FLUSH_TS: Long = 4102444800000L

  sealed trait Frame extends Serializable
  /** RANGE BETWEEN lenMs PRECEDING AND CURRENT ROW over event time ms. */
  final case class RangeMs(lenMs: Long) extends Frame
  /** ROWS BETWEEN n PRECEDING AND CURRENT ROW in (ts, seq) order. */
  final case class RowsN(n: Int) extends Frame

  /** One output aggregate.
    * kinds: sum count avg min max | stddev stddev_pop stddev_samp var_pop
    * var_samp variance | top topn_frequency top1_ratio |
    * {sum,avg,count,min,max}_where | {sum,avg,count,min,max}_cate[_where] |
    * top_n_{key,value}_{sum,avg,count,min,max}_cate_where |
    * top_n_{key,value}_ratio_cate — the reference's full retractable
    * window-UDAF registry (aggregates/mod.rs:184-199).
    * `n` is the top-N parameter where the kind takes one. `vIdx` picks the
    * value slot (numeric slots, or string slots when `vStr`); `cIdx` picks
    * the cate family's category slot; `wIdx` picks the numeric slot holding
    * the `_where` condition as 0/1 (the caller projects the boolean
    * condition expression into a numeric slot; 0 or null-coalesced-to-0 =
    * false, anything else = true).
    */
  final case class AggSpec(name: String, kind: String, frame: Frame, n: Int = 0,
                           vIdx: Int = 0, cIdx: Int = 0, vStr: Boolean = false,
                           wIdx: Int = -1)

  /** The count-map family: the kinds that need every value's whole count
    * — `topn_frequency`, `top1_ratio`, `distinct_count` (distinct values
    * in the frame — the canonical "distinct users in the last hour"
    * feature) and `median` (exact frame median, the robust-statistic
    * feature; numeric only). All ride one per-value count-map tile
    * payload, so tiles merge them for free. `top` needs only the n
    * largest values and rides the bounded [[TopNum]]/[[TopStr]] payload. */
  val cmKinds: Set[String] = Set("topn_frequency", "top1_ratio",
    "distinct_count", "median")
  /** Condition-masked base aggregates (no category). */
  val whereBaseKinds: Set[String] =
    Set("sum_where", "avg_where", "count_where", "min_where", "max_where")
  /** Per-category condition ratio (top/accumulators/ratio.rs). */
  def isRatioKind(kind: String): Boolean =
    kind == "top_n_key_ratio_cate" || kind == "top_n_value_ratio_cate"
  /** Kinds that aggregate per category (need the per-cate payload):
    * `*_cate`, `*_cate_where`, and `top_n_{key,value}_*_cate_where`. */
  def isCate(kind: String): Boolean =
    !isRatioKind(kind) && (kind.endsWith("_cate") || kind.endsWith("_cate_where"))
  /** Base kind (sum/avg/count/min/max) of any cate-family kind. */
  def cateBaseKind(kind: String): String =
    kind.stripPrefix("top_n_key_").stripPrefix("top_n_value_")
      .stripSuffix("_cate_where").stripSuffix("_cate")
  private def isString(kind: String): Boolean =
    kind == "top" || kind == "topn_frequency" || isCate(kind) || isRatioKind(kind)

  /** Which payloads tiles must carry for a spec set. */
  private[streaming] final case class Needs(
      nNum: Int, nStr: Int,
      cmNum: Array[Boolean], cmStr: Array[Boolean],
      /** per slot: the largest `n` of the RANGE `top` specs on it; 0 = none. */
      topNum: Array[Int], topStr: Array[Int],
      /** (vIdx, cIdx, wIdx): per-category [count,sum,min,max]; wIdx = -1 unmasked. */
      catePairs: Array[(Int, Int, Int)],
      /** (vIdx, wIdx): masked base stats [count,sum,sum2,min,max]. */
      maskedPairs: Array[(Int, Int)],
      /** (cIdx, wIdx): per-category [total, matched] for ratio kinds. */
      ratioPairs: Array[(Int, Int)]) extends Serializable

  private[streaming] def needsOf(specs: Seq[AggSpec], nNum: Int, nStr: Int): Needs = {
    val cmNum = new Array[Boolean](nNum); val cmStr = new Array[Boolean](nStr)
    val topNum = new Array[Int](nNum); val topStr = new Array[Int](nStr)
    val pairs = mutable.LinkedHashSet.empty[(Int, Int, Int)]
    val masked = mutable.LinkedHashSet.empty[(Int, Int)]
    val ratios = mutable.LinkedHashSet.empty[(Int, Int)]
    specs.foreach { s =>
      require(!(whereBaseKinds(s.kind) || s.kind.endsWith("_cate_where") ||
        isRatioKind(s.kind)) || s.wIdx >= 0,
        s"${s.name}: kind ${s.kind} needs a condition slot (wIdx)")
      // validated here — the single choke point every engine path (both
      // streaming engines, batch sweep, request evaluation) passes through
      // — so a direct AggSpec caller cannot silently get all-null medians
      require(!(s.kind == "median" && s.vStr),
        s"${s.name}: median needs a numeric value slot")
      val tiled = s.frame.isInstanceOf[RangeMs]
      if (cmKinds.contains(s.kind) && tiled) {
        if (s.vStr) cmStr(s.vIdx) = true else cmNum(s.vIdx) = true
      }
      if (s.kind == "top" && tiled) {
        if (s.vStr) topStr(s.vIdx) = math.max(topStr(s.vIdx), s.n)
        else topNum(s.vIdx) = math.max(topNum(s.vIdx), s.n)
      }
      if (tiled) {
        if (isCate(s.kind)) pairs += ((s.vIdx, s.cIdx, s.wIdx))
        else if (isRatioKind(s.kind)) ratios += ((s.cIdx, s.wIdx))
        else if (whereBaseKinds(s.kind)) masked += ((s.vIdx, s.wIdx))
      }
    }
    Needs(nNum, nStr, cmNum, cmStr, topNum, topStr, pairs.toArray, masked.toArray,
      ratios.toArray)
  }

  def outputSchema(specs: Seq[AggSpec], valueCols: Seq[String],
                   strCols: Seq[String]): StructType =
    StructType(
      Seq(StructField("ts_ms", LongType), StructField("key", StringType)) ++
        valueCols.map(StructField(_, DoubleType)) ++
        strCols.map(StructField(_, StringType)) ++
        specs.map(s => StructField(s.name,
          if (isString(s.kind)) StringType else DoubleType)))

  // ------------------------------------------------------------------
  // Batch mode: plain Catalyst OVER windows (exact same semantics).
  // ------------------------------------------------------------------

  def batchSql(table: String, keyCol: String, tsCol: String, valueCol: String,
               specs: Seq[AggSpec]): String = {
    val cols = specs.map { s =>
      val fn = s.kind match {
        case "count" => s"count($valueCol)"
        case k       => s"$k($valueCol)"
      }
      val frame = s.frame match {
        case RangeMs(len) =>
          s"(PARTITION BY $keyCol ORDER BY $tsCol RANGE BETWEEN $len PRECEDING AND CURRENT ROW)"
        case RowsN(n) =>
          s"(PARTITION BY $keyCol ORDER BY $tsCol, __seq ROWS BETWEEN $n PRECEDING AND CURRENT ROW)"
      }
      s"$fn OVER $frame AS ${s.name}"
    }
    s"SELECT $tsCol, $keyCol, $valueCol, ${cols.mkString(", ")} FROM $table"
  }

  // ------------------------------------------------------------------
  // Tiles and per-key state
  // ------------------------------------------------------------------

  /** The `cap` largest values folded in, best first, duplicates kept — the
    * bounded `top(v, n)` payload of tiles and frame accumulators (the
    * reference evaluates `top` with a bounded heap, top/heap.rs:158), so a
    * frame's `top` costs O(n) per tile instead of a merge of every
    * distinct value. Equal values keep arrival order and the latest is
    * evicted first, so a run of equal values renders as its first arrival:
    * 0.0 and -0.0 compare equal and render with the sign of the first zero
    * folded, as the per-value count map `top` used to ride kept its first
    * key. NaN ranks below every number.
    */
  private[streaming] final class TopNum(val cap: Int) extends Serializable {
    private val vals = new Array[Double](cap)
    private var len = 0

    /** `a` ranks strictly ahead of `b` (NaN last). */
    @inline private def ahead(a: Double, b: Double): Boolean =
      a > b || (b != b && a == a)

    /** Fold one value; false when it ranks outside the kept n. */
    def add(v: Double): Boolean = {
      if (len == cap && (cap == 0 || !ahead(v, vals(cap - 1)))) return false
      var i = if (len == cap) cap - 1 else { len += 1; len - 1 }
      while (i > 0 && ahead(v, vals(i - 1))) { vals(i) = vals(i - 1); i -= 1 }
      vals(i) = v
      true
    }

    /** Fold another list; stops at its first value that ranks outside. */
    def addAll(o: TopNum): Unit = if (o != null) {
      var i = 0
      while (i < o.len && add(o.vals(i))) i += 1
    }

    /** Comma-joined, best first; a run of equal values renders as its first. */
    def render: String = {
      val sb = new java.lang.StringBuilder
      var s: String = null
      var i = 0
      while (i < len) {
        if (i > 0) sb.append(',')
        if (i == 0 || vals(i) != vals(i - 1)) s = SV.formatFloat(vals(i))
        sb.append(s)
        i += 1
      }
      sb.toString
    }
  }

  /** [[TopNum]] over string values (descending `compareTo`). */
  private[streaming] final class TopStr(val cap: Int) extends Serializable {
    private val vals = new Array[String](cap)
    private var len = 0

    def add(v: String): Boolean = {
      if (len == cap && (cap == 0 || v.compareTo(vals(cap - 1)) <= 0)) return false
      var i = if (len == cap) cap - 1 else { len += 1; len - 1 }
      while (i > 0 && v.compareTo(vals(i - 1)) > 0) { vals(i) = vals(i - 1); i -= 1 }
      vals(i) = v
      true
    }

    def addAll(o: TopStr): Unit = if (o != null) {
      var i = 0
      while (i < o.len && add(o.vals(i))) i += 1
    }

    def render: String = {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < len) { if (i > 0) sb.append(','); sb.append(vals(i)); i += 1 }
      sb.toString
    }
  }

  /** Tile: mergeable pre-aggregate of one time bucket, one stat set per
    * numeric slot. Bounded `top`, count-map (`topn_frequency`,
    * `top1_ratio`, `distinct_count`, `median`) and per-category (`*_cate`)
    * payloads only for the slots some spec needs (reference: tiles carry
    * accumulator state per agg — state/tiles.rs:62-70). Values are assumed
    * non-null (the reference's window args are).
    */
  final class Tile(needs: Needs) extends Serializable {
    var count: Long = 0L
    val sum = new Array[Double](needs.nNum)
    val sum2 = new Array[Double](needs.nNum)
    val min = Array.fill(needs.nNum)(Double.NaN)
    val max = Array.fill(needs.nNum)(Double.NaN)
    val cmNum: Array[mutable.HashMap[Double, Long]] =
      needs.cmNum.map(b => if (b) mutable.HashMap.empty[Double, Long] else null)
    val cmStr: Array[mutable.HashMap[String, Long]] =
      needs.cmStr.map(b => if (b) mutable.HashMap.empty[String, Long] else null)
    val topNum: Array[TopNum] = needs.topNum.map(n => if (n > 0) new TopNum(n) else null)
    val topStr: Array[TopStr] = needs.topStr.map(n => if (n > 0) new TopStr(n) else null)
    /** aligned with needs.catePairs: cate -> [count, sum, min, max]. */
    val cate: Array[mutable.HashMap[String, Array[Double]]] =
      Array.fill(needs.catePairs.length)(mutable.HashMap.empty)
    /** aligned with needs.maskedPairs: [count, sum, sum2, min, max]. */
    val masked: Array[Array[Double]] =
      Array.fill(needs.maskedPairs.length)(Array(0.0, 0.0, 0.0, Double.NaN, Double.NaN))
    /** aligned with needs.ratioPairs: cate -> [total, matched]. */
    val ratio: Array[mutable.HashMap[String, Array[Long]]] =
      Array.fill(needs.ratioPairs.length)(mutable.HashMap.empty)

    def add(nums: Array[Double], strs: Array[String]): Unit = {
      val first = count == 0
      count += 1
      var i = 0
      while (i < nums.length) {
        val v = nums(i)
        sum(i) += v; sum2(i) += v * v
        if (first || v < min(i)) min(i) = v
        if (first || v > max(i)) max(i) = v
        if (cmNum(i) != null) cmNum(i).update(v, cmNum(i).getOrElse(v, 0L) + 1L)
        if (topNum(i) != null) topNum(i).add(v)
        i += 1
      }
      i = 0
      while (i < strs.length) {
        val s = strs(i)
        if (s != null) {
          if (cmStr(i) != null) cmStr(i).update(s, cmStr(i).getOrElse(s, 0L) + 1L)
          if (topStr(i) != null) topStr(i).add(s)
        }
        i += 1
      }
      i = 0
      while (i < needs.catePairs.length) {
        val (vi, ci, wi) = needs.catePairs(i)
        val c = strs(ci)
        if (c != null && (wi < 0 || nums(wi) != 0.0)) {
          // vi = -1: count-only cate over a non-numeric value (count_cate
          // of a string column) — no value stats to track
          val v = if (vi >= 0) nums(vi) else 0.0
          val a = cate(i).getOrElseUpdate(c, Array(0.0, 0.0, Double.NaN, Double.NaN))
          a(0) += 1; a(1) += v
          if (a(0) == 1 || v < a(2)) a(2) = v
          if (a(0) == 1 || v > a(3)) a(3) = v
        }
        i += 1
      }
      i = 0
      while (i < needs.maskedPairs.length) {
        val (vi, wi) = needs.maskedPairs(i)
        if (nums(wi) != 0.0) {
          val a = masked(i)
          a(0) += 1
          if (vi >= 0) { // vi = -1: count_where over a non-numeric value
            val v = nums(vi)
            a(1) += v; a(2) += v * v
            if (a(0) == 1 || v < a(3)) a(3) = v
            if (a(0) == 1 || v > a(4)) a(4) = v
          }
        }
        i += 1
      }
      i = 0
      while (i < needs.ratioPairs.length) {
        val (ci, wi) = needs.ratioPairs(i)
        val c = strs(ci)
        if (c != null) {
          val a = ratio(i).getOrElseUpdate(c, Array(0L, 0L))
          a(0) += 1; if (nums(wi) != 0.0) a(1) += 1
        }
        i += 1
      }
    }
  }

  /** Per-key state: event buffer (sorted by ts,seq), tile index, positions. */
  final class KeyState extends Serializable {
    /** (ts, seq, numeric slots, string slots), ascending (ts, seq). */
    val buffer: mutable.ArrayBuffer[(Long, Long, Array[Double], Array[String])] =
      mutable.ArrayBuffer.empty
    /** granularity -> (bucketStart -> tile). Multi-granularity tiling per
      * the reference (state/tiles.rs:104-112 — default 1m/5m/1h/1d): long
      * frame interiors are covered greedily by the coarsest aligned tiles,
      * so a 30-day window costs tens of tile folds, not tens of
      * thousands. */
    val tiles: mutable.HashMap[Long, mutable.HashMap[Long, Tile]] = mutable.HashMap.empty
    var nextSeq: Long = 0L
    /** Highest (ts, seq) already emitted. */
    var emittedTs: Long = Long.MinValue
    var emittedSeq: Long = Long.MinValue
    /** Diagnostic: tile folds performed by frame evaluation (tests assert
      * the coarse hierarchy cuts this; never read on the hot path). */
    var tileFolds: Long = 0L
  }

  private[streaming] def insertSorted(st: KeyState, ts: Long, nums: Array[Double],
                                      strs: Array[String], grans: Seq[Long],
                                      needs: Needs): Unit =
    ingestChunk(st, Iterator((ts, nums, strs)), grans, needs)

  /** Ingest a chunk of rows: seqs follow arrival order (so ts ties keep
    * arrival order), tiles fold per row, and the buffer stays (ts, seq)-
    * sorted by sorting the chunk once and MERGING it with the existing
    * buffer — O(k log k + n + m). Per-row sorted insertion is quadratic on
    * dense keys (each out-of-order row memmoves O(buffer)), which is the
    * difference between a batch sweep over a 10M-row key finishing and
    * not. In-order arrivals keep the append fast path.
    */
  private[streaming] def ingestChunk(st: KeyState,
                                     rows: Iterator[(Long, Array[Double], Array[String])],
                                     grans: Seq[Long], needs: Needs): Unit = {
    val nw = mutable.ArrayBuffer.empty[(Long, Long, Array[Double], Array[String])]
    rows.foreach { r =>
      val seq = st.nextSeq; st.nextSeq += 1
      nw += ((r._1, seq, r._2, r._3))
      grans.foreach { g =>
        st.tiles.getOrElseUpdate(g, mutable.HashMap.empty)
          .getOrElseUpdate(Math.floorDiv(r._1, g) * g, new Tile(needs))
          .add(r._2, r._3)
      }
    }
    if (nw.isEmpty) return
    // in-order arrival (the overwhelmingly common case: sources feed
    // event-time-ordered chunks) skips the sort after one linear scan;
    // when a sort IS needed, the comparator compares fields directly —
    // `Ordering.by` on a tuple allocated a (Long, Long) PER COMPARISON
    // on this hot path
    var preSorted = true
    var si = 1
    while (preSorted && si < nw.length) {
      if (!ordLeq(nw(si - 1)._1, nw(si - 1)._2, nw(si)._1, nw(si)._2)) preSorted = false
      si += 1
    }
    if (!preSorted)
      nw.sortInPlace()(new Ordering[(Long, Long, Array[Double], Array[String])] {
        override def compare(a: (Long, Long, Array[Double], Array[String]),
                             b: (Long, Long, Array[Double], Array[String])): Int = {
          val c = java.lang.Long.compare(a._1, b._1)
          if (c != 0) c else java.lang.Long.compare(a._2, b._2)
        }
      })
    val buf = st.buffer
    if (buf.isEmpty || ordLeq(buf.last._1, buf.last._2, nw.head._1, nw.head._2)) buf ++= nw
    else {
      val merged = new mutable.ArrayBuffer[(Long, Long, Array[Double], Array[String])](
        buf.length + nw.length)
      var i = 0; var j = 0
      while (i < buf.length && j < nw.length) {
        if (ordLeq(buf(i)._1, buf(i)._2, nw(j)._1, nw(j)._2)) { merged += buf(i); i += 1 }
        else { merged += nw(j); j += 1 }
      }
      while (i < buf.length) { merged += buf(i); i += 1 }
      while (j < nw.length) { merged += nw(j); j += 1 }
      buf.clear(); buf ++= merged
    }
  }

  @inline private[streaming] def ordLeq(ts1: Long, seq1: Long, ts2: Long, seq2: Long): Boolean =
    ts1 < ts2 || (ts1 == ts2 && seq1 <= seq2)

  // ------------------------------------------------------------------
  // Frame accumulator + finishers
  // ------------------------------------------------------------------

  /** Mergeable frame accumulator for ONE spec: folds raw rows and whole
    * tiles, reading only the spec's slots. For `*_where` kinds the base
    * stats (count/sum/min/max) cover only the rows whose condition slot is
    * non-zero (raw rows check the slot; tiles fold the masked payload). */
  private final class Acc(spec: AggSpec, cateIdx: Int, maskedIdx: Int, ratioIdx: Int) {
    var sum = 0.0; var sum2 = 0.0; var count = 0L
    var min = Double.NaN; var max = Double.NaN
    /** count(*) / count_where / vIdx = -1 (count-only cate over a
      * non-numeric value) read no value slot — a query may have none. */
    private val numStats =
      !spec.vStr && spec.vIdx >= 0 &&
        spec.kind != "count" && spec.kind != "count_where"
    /** mask for the base stats ( `*_where` kinds only). */
    private val baseMask = if (whereBaseKinds(spec.kind)) spec.wIdx else -1
    val cmN: mutable.HashMap[Double, Long] =
      if (cmKinds.contains(spec.kind) && !spec.vStr) mutable.HashMap.empty else null
    val cmS: mutable.HashMap[String, Long] =
      if (cmKinds.contains(spec.kind) && spec.vStr) mutable.HashMap.empty else null
    val topN: TopNum =
      if (spec.kind == "top" && !spec.vStr) new TopNum(math.max(spec.n, 0)) else null
    val topS: TopStr =
      if (spec.kind == "top" && spec.vStr) new TopStr(math.max(spec.n, 0)) else null
    val cate: mutable.HashMap[String, Array[Double]] =
      if (isCate(spec.kind)) mutable.HashMap.empty else null
    val ratio: mutable.HashMap[String, Array[Long]] =
      if (isRatioKind(spec.kind)) mutable.HashMap.empty else null

    def addRow(nums: Array[Double], strs: Array[String]): Unit = {
      if (baseMask < 0 || nums(baseMask) != 0.0) {
        count += 1
        if (numStats) {
          val v = nums(spec.vIdx)
          sum += v; sum2 += v * v
          if (count == 1 || v < min) min = v
          if (count == 1 || v > max) max = v
          if (cmN != null) cmN.update(v, cmN.getOrElse(v, 0L) + 1L)
          if (topN != null) topN.add(v)
        } else if (cmS != null || topS != null) {
          val s = strs(spec.vIdx)
          if (s != null) {
            if (cmS != null) cmS.update(s, cmS.getOrElse(s, 0L) + 1L)
            if (topS != null) topS.add(s)
          }
        }
      }
      if (cate != null) {
        val c = strs(spec.cIdx)
        if (c != null && (spec.wIdx < 0 || nums(spec.wIdx) != 0.0)) {
          val v = if (spec.vIdx >= 0) nums(spec.vIdx) else 0.0
          val a = cate.getOrElseUpdate(c, Array(0.0, 0.0, Double.NaN, Double.NaN))
          a(0) += 1; a(1) += v
          if (a(0) == 1 || v < a(2)) a(2) = v
          if (a(0) == 1 || v > a(3)) a(3) = v
        }
      }
      if (ratio != null) {
        val c = strs(spec.cIdx)
        if (c != null) {
          val a = ratio.getOrElseUpdate(c, Array(0L, 0L))
          a(0) += 1; if (nums(spec.wIdx) != 0.0) a(1) += 1
        }
      }
    }

    def addTile(t: Tile): Unit = {
      if (t.count > 0) {
        if (maskedIdx >= 0) {
          val m = t.masked(maskedIdx)
          val n = m(0).toLong
          if (n > 0) {
            if (numStats) {
              sum += m(1); sum2 += m(2)
              if (count == 0 || m(3) < min) min = m(3)
              if (count == 0 || m(4) > max) max = m(4)
            }
            count += n
          }
        } else {
          if (numStats) {
            val i = spec.vIdx
            sum += t.sum(i); sum2 += t.sum2(i)
            if (count == 0 || t.min(i) < min) min = t.min(i)
            if (count == 0 || t.max(i) > max) max = t.max(i)
            if (cmN != null) t.cmNum(i).foreach { case (v, n) =>
              cmN.update(v, cmN.getOrElse(v, 0L) + n)
            }
            if (topN != null) topN.addAll(t.topNum(i))
          } else if (cmS != null || topS != null) {
            if (cmS != null) t.cmStr(spec.vIdx).foreach { case (s, n) =>
              cmS.update(s, cmS.getOrElse(s, 0L) + n)
            }
            if (topS != null) topS.addAll(t.topStr(spec.vIdx))
          }
          count += t.count
        }
        if (cate != null) t.cate(cateIdx).foreach { case (k, o) =>
          val a = cate.getOrElseUpdate(k, Array(0.0, 0.0, Double.NaN, Double.NaN))
          val was = a(0)
          a(0) += o(0); a(1) += o(1)
          if (was == 0 || o(2) < a(2)) a(2) = o(2)
          if (was == 0 || o(3) > a(3)) a(3) = o(3)
        }
        if (ratio != null) t.ratio(ratioIdx).foreach { case (k, o) =>
          val a = ratio.getOrElseUpdate(k, Array(0L, 0L))
          a(0) += o(0); a(1) += o(1)
        }
      }
    }
  }

  /** Output formatting matches the batch ML aggregates exactly
    * (graft.functions.MlAggregates; reference format contract:
    * top/README.md "Common Output Format").
    */
  private def finish(spec: AggSpec, a: Acc): Any = spec.kind match {
    case "sum"   => a.sum
    case "count" => a.count.toDouble
    case "avg"   => if (a.count > 0) a.sum / a.count else Double.NaN
    case "min"   => a.min
    case "max"   => a.max
    case "var_pop" =>
      if (a.count > 0) math.max(0.0, (a.count * a.sum2 - a.sum * a.sum)) / (a.count.toDouble * a.count) else null
    case "var_samp" | "variance" =>
      if (a.count > 1) math.max(0.0, (a.count * a.sum2 - a.sum * a.sum)) / (a.count.toDouble * (a.count - 1)) else null
    case "stddev_pop" =>
      if (a.count > 0) math.sqrt(math.max(0.0, (a.count * a.sum2 - a.sum * a.sum)) / (a.count.toDouble * a.count)) else null
    case "stddev" | "stddev_samp" =>
      if (a.count > 1) math.sqrt(math.max(0.0, (a.count * a.sum2 - a.sum * a.sum)) / (a.count.toDouble * (a.count - 1))) else null
    case "top" => if (spec.vStr) a.topS.render else a.topN.render
    case "topn_frequency" =>
      if (spec.vStr)
        a.cmS.toSeq.sortWith { case ((v1, c1), (v2, c2)) =>
          if (c1 != c2) c1 > c2 else v1 > v2
        }.take(spec.n).map(_._1).mkString(",")
      else
        a.cmN.toSeq.sortWith { case ((v1, c1), (v2, c2)) =>
          if (c1 != c2) c1 > c2 else v1 > v2
        }.take(spec.n).map(e => SV.formatFloat(e._1)).mkString(",")
    case "top1_ratio" =>
      val m: Iterable[Long] = if (spec.vStr) a.cmS.values else a.cmN.values
      if (m.isEmpty) null else m.max.toDouble / m.sum.toDouble
    case "distinct_count" =>
      (if (spec.vStr) a.cmS.size else a.cmN.size).toDouble
    case "median" =>
      // exact median from the (value -> count) map — the walk is shared
      // with the batch MedianValue UDAF so the two paths cannot diverge
      if (a.cmN == null) null else graft.functions.MedianMath.exact(a.cmN)
    case k if whereBaseKinds(k) => k match {
      // null when no row passes the condition — matches the batch rewrite
      // to built-ins over IF(cond, v, NULL) (GraftFunctions.whereAgg)
      case "count_where" => a.count.toDouble
      case "sum_where"   => if (a.count > 0) a.sum else null
      case "avg_where"   => if (a.count > 0) a.sum / a.count else null
      case "min_where"   => if (a.count > 0) a.min else null
      case "max_where"   => if (a.count > 0) a.max else null
    }
    case k if isRatioKind(k) =>
      // per category: matched/total; top n by key desc or ratio desc then
      // key desc (reference: top/accumulators/ratio.rs; batch: RatioCate)
      val entries = a.ratio.toSeq.collect { case (c, t) if t(0) > 0 =>
        (c, t(1).toDouble / t(0).toDouble)
      }
      val picked =
        if (k == "top_n_value_ratio_cate")
          entries.sortWith { case ((c1, r1), (c2, r2)) =>
            if (r1 != r2) r1 > r2 else c1 > c2
          }.take(spec.n)
        else entries.sortBy(_._1)(Ordering[String].reverse).take(spec.n)
      picked.map { case (c, r) => s"$c:${SV.formatFloat(r)}" }.mkString(",")
    case k if isCate(k) =>
      val base = cateBaseKind(k)
      val entries = a.cate.toSeq.collect { case (c, arr) if arr(0) > 0 =>
        val metric = base match {
          case "sum"   => arr(1)
          case "avg"   => arr(1) / arr(0)
          case "count" => arr(0)
          case "min"   => arr(2)
          case "max"   => arr(3)
        }
        val fmt = if (base == "count") arr(0).toLong.toString else SV.formatFloat(metric)
        (c, metric, fmt)
      }
      val parts =
        if (k.startsWith("top_n_key_"))
          entries.sortBy(_._1)(Ordering[String].reverse).take(spec.n)
            .map(e => s"${e._1}:${e._3}")
        else if (k.startsWith("top_n_value_"))
          entries.sortWith { case ((c1, m1, _), (c2, m2, _)) =>
            if (m1 != m2) m1 > m2 else c1 > c2
          }.take(spec.n).map(e => s"${e._1}:${e._3}")
        else entries.map(e => s"${e._1}:${e._3}").sorted
      parts.mkString(",")
  }

  /** RANGE frame: tiles over fully-covered interior buckets, raw rows at
    * the two edges. Frame = all buffered rows with ts in [lo, ts(upIdx)] —
    * including same-ts peers after upIdx (SQL RANGE semantics; all peers
    * <= watermark are buffered before emission). */
  private def rangeAcc(st: KeyState, lo: Long, upIdx: Int, grans: Seq[Long], a: Acc): Unit = {
    val gran = grans.head // finest: defines edge resolution
    val buf = st.buffer
    val hiTs = buf(upIdx)._1
    // include peers: last index with ts == hiTs
    var endIdx = upIdx
    while (endIdx + 1 < buf.length && buf(endIdx + 1)._1 == hiTs) endIdx += 1
    // first index with ts >= lo
    var s = 0; var e = endIdx
    while (s < e) {
      val mid = (s + e) >>> 1
      if (buf(mid)._1 < lo) s = mid + 1 else e = mid
    }
    val startIdx = s
    // interior tile span: buckets fully inside [lo, current bucket)
    val firstFull = Math.floorDiv(lo + gran - 1, gran) * gran // first bucket start >= lo
    val lastFullEnd = Math.floorDiv(hiTs, gran) * gran        // current row's bucket start
    if (lastFullEnd - firstFull >= gran) {
      // raw edge before the first full bucket
      var i = startIdx
      while (i <= endIdx && buf(i)._1 < firstFull) { a.addRow(buf(i)._3, buf(i)._4); i += 1 }
      // tiles over [firstFull, lastFullEnd): greedy coarsest-aligned walk
      // (a missing tile means no rows in that span — still advance).
      // Runs once PER EMITTED ROW: no Option/closure/reverse allocation,
      // and the gran -> tile-map resolution is cached across buckets
      // (consecutive buckets overwhelmingly share a step)
      val nG = grans.length
      var lastStep = -1L
      var lastMap: mutable.HashMap[Long, Tile] = null
      var b = firstFull
      while (b < lastFullEnd) {
        var step = gran
        var gi = nG - 1
        var found = false
        while (!found && gi >= 0) {
          val g = grans(gi) // ascending order — walk from the coarsest
          if (b % g == 0 && b + g <= lastFullEnd) { step = g; found = true }
          gi -= 1
        }
        if (step != lastStep) {
          lastStep = step
          lastMap = st.tiles.getOrElse(step, null)
        }
        if (lastMap != null) {
          val t = lastMap.getOrElse(b, null)
          if (t != null) a.addTile(t)
        }
        st.tileFolds += 1
        b += step
      }
      // raw edge: current bucket rows up to the peer end
      var k2 = endIdx
      while (k2 >= startIdx && buf(k2)._1 >= lastFullEnd) k2 -= 1
      var k3 = k2 + 1
      while (k3 <= endIdx) { a.addRow(buf(k3)._3, buf(k3)._4); k3 += 1 }
    } else {
      var i = startIdx
      while (i <= endIdx) { a.addRow(buf(i)._3, buf(i)._4); i += 1 }
    }
  }

  /** The (cateIdx, maskedIdx, ratioIdx) triple a spec's accumulator reads
    * its shared-payload slots through — a pure function of (spec, needs),
    * so emit loops hoist it out of the per-row path via [[specIdxOf]] +
    * [[evalSpecIdx]] instead of re-deriving it for every emitted row. */
  private[streaming] def specIdxOf(spec: AggSpec, needs: Needs): (Int, Int, Int) = {
    val cateIdx =
      if (isCate(spec.kind))
        needs.catePairs.indexWhere(p =>
          p._1 == spec.vIdx && p._2 == spec.cIdx && p._3 == spec.wIdx)
      else -1
    val maskedIdx =
      if (whereBaseKinds(spec.kind))
        needs.maskedPairs.indexWhere(p => p._1 == spec.vIdx && p._2 == spec.wIdx)
      else -1
    val ratioIdx =
      if (isRatioKind(spec.kind))
        needs.ratioPairs.indexWhere(p => p._1 == spec.cIdx && p._2 == spec.wIdx)
      else -1
    (cateIdx, maskedIdx, ratioIdx)
  }

  private[streaming] def evalSpecIdx(st: KeyState, spec: AggSpec, upIdx: Int,
                                     grans: Seq[Long], needs: Needs,
                                     idx: (Int, Int, Int)): Any = {
    val a = new Acc(spec, idx._1, idx._2, idx._3)
    spec.frame match {
      case RangeMs(len) => rangeAcc(st, st.buffer(upIdx)._1 - len, upIdx, grans, a)
      case RowsN(n) =>
        val buf = st.buffer
        var i = math.max(0, upIdx - n)
        while (i <= upIdx) { a.addRow(buf(i)._3, buf(i)._4); i += 1 }
    }
    finish(spec, a)
  }

  private[streaming] def evalSpec(st: KeyState, spec: AggSpec, upIdx: Int,
                                  grans: Seq[Long], needs: Needs): Any =
    evalSpecIdx(st, spec, upIdx, grans, needs, specIdxOf(spec, needs))

  /** Output row for buffer row `i`: (ts, key, numeric slots, string slots,
    * one value per spec) as ONE flat values array — the shared emit step
    * of the streaming engine and the batch sweep. `specIdx` is
    * [[specIdxOf]] per spec, hoisted out of the per-row loop. */
  private[streaming] def emitRow(st: KeyState, i: Int, key: String, specs: Array[AggSpec],
                                 specIdx: Array[(Int, Int, Int)], grans: Seq[Long],
                                 needs: Needs): Row = {
    val (ts, _, nums, strs) = st.buffer(i)
    val vals = new Array[Any](2 + nums.length + strs.length + specs.length)
    vals(0) = ts; vals(1) = key
    var c = 2
    var k = 0
    while (k < nums.length) { vals(c) = nums(k); c += 1; k += 1 }
    k = 0
    while (k < strs.length) { vals(c) = strs(k); c += 1; k += 1 }
    k = 0
    while (k < specs.length) {
      vals(c) = evalSpecIdx(st, specs(k), i, grans, needs, specIdx(k))
      c += 1; k += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericRow(vals)
  }

  /** Evaluate `specs` at a virtual point `atTs` over ONE key's rows — the
    * reference's point-request evaluation (aggregates/plain_points.rs,
    * retractable_points.rs: the request ts is a virtual current row; a
    * RANGE frame covers [atTs-len, atTs] — lower bound INCLUSIVE, the
    * same frame the engine's rangeAcc emits and the reference plans
    * (plain_points.rs:107 `start_ts = ts - len` then `seek_ts_ge`) —
    * a ROWS n frame the n+1 most
    * recent rows). Reuses the same accumulator/finisher as the engines,
    * so every aggregate kind evaluates at the point. Rows are
    * (ts, numSlots, strSlots) in any order; ts ties keep input order. */
  private[graft] def evalAtPoint(rows: Seq[(Long, Array[Double], Array[String])],
                                 specs: Seq[AggSpec], atTs: Long,
                                 presorted: Boolean = false): Seq[Any] = {
    // presorted: serving buffers keep rows ts-ascending — skip the per-call
    // sort (it dominates lookup latency on deep ROWS frames)
    val sorted =
      if (presorted) {
        val cut = rows.indexWhere(_._1 > atTs) match {
          case -1 => rows.length
          case i  => i
        }
        rows.take(cut).toIndexedSeq
      } else rows.filter(_._1 <= atTs).sortBy(_._1).toIndexedSeq
    specs.map { spec =>
      val a = new Acc(spec, -1, -1, -1)
      spec.frame match {
        case RangeMs(len) =>
          val lo = atTs - len
          var i = sorted.length
          while (i > 0 && sorted(i - 1)._1 >= lo) i -= 1
          while (i < sorted.length) { val r = sorted(i); a.addRow(r._2, r._3); i += 1 }
        case RowsN(n) =>
          var i = math.max(0, sorted.length - (n + 1))
          while (i < sorted.length) { val r = sorted(i); a.addRow(r._2, r._3); i += 1 }
      }
      finish(spec, a)
    }
  }

  /** Output schema of a point-in-time evaluation: string key + one column
    * per spec (string kinds as their CSV formats, numeric kinds DOUBLE). */
  def pointOutputSchema(specs: Seq[AggSpec]): StructType =
    StructType(StructField("key", StringType) +:
      specs.map(s => StructField(s.name,
        if (isString(s.kind)) StringType else DoubleType)))

  // ------------------------------------------------------------------
  // Streaming mode
  // ------------------------------------------------------------------

  /** The column of an upstream event-time watermark node, when one
    * exists — e.g. per-source `withWatermark` assigned by the pipeline
    * loader, or per-branch watermarks ahead of a union. Spark disallows
    * redefining a watermark downstream, and the stateful operators work
    * off whichever nodes exist (combined per
    * `spark.sql.streaming.multipleWatermarkPolicy`), so the engine
    * carries that column through instead of adding its own. Upstream
    * watermarks must track the same event time the ts column carries. */
  private def upstreamWatermarkCol(df: DataFrame): Option[String] =
    df.queryExecution.analyzed.collectFirst {
      case e: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark =>
        e.eventTime.name
    }

  private[graft] def prepareMulti(df: DataFrame, keyCol: String, tsMsCol: String,
                                      valueCols: Seq[String], strCols: Seq[String],
                                      latenessMs: Long, watermark: Boolean): DataFrame = {
    val numArr =
      if (valueCols.isEmpty) array().cast("array<double>")
      else array(valueCols.map(c => col(c).cast("double")): _*)
    val strArr =
      if (strCols.isEmpty) array().cast("array<string>")
      else array(strCols.map(c => col(c).cast("string")): _*)
    val core = Seq(
      col(tsMsCol).cast("long").as("__ts"),
      col(keyCol).cast("string").as("__key"),
      numArr.as("__nums"), strArr.as("__strs"))
    if (!watermark) return df.select(core: _*)
    upstreamWatermarkCol(df) match {
      case Some(c) =>
        require(df.columns.contains(c),
          s"upstream watermark column '$c' must stay in the frame handed to the engine")
        // carried untouched: a cast or alias would strip the watermark
        // metadata the stateful operator checks for (decode is positional)
        df.select(core :+ col(c): _*)
      case None =>
        df.select(core: _*)
          .withColumn("__et", timestamp_millis(col("__ts")))
          .withWatermark("__et", s"$latenessMs milliseconds")
    }
  }

  /** Streaming per-row sliding windows with per-spec value/category slots.
    *
    * @param df streaming frame; `valueCols` are the numeric slots (cast
    *           double), `strCols` the string slots (top-family values and
    *           categories). Values are assumed non-null.
    * @return streaming frame (ts_ms, key, <valueCols>, <strCols>,
    *         one column per spec)
    */
  def streamingMulti(df: DataFrame, keyCol: String, tsMsCol: String,
                     valueCols: Seq[String], strCols: Seq[String],
                     specs: Seq[AggSpec], latenessMs: Long = 0,
                     tileGranularityMs: Long = 60000L,
                     coarseTilesMs: Seq[Long] = Nil): DataFrame = {
    val grans = tileGrans(tileGranularityMs, coarseTilesMs)
    val outEnc = Encoders.row(outputSchema(specs, valueCols, strCols))
    // per-key state stores as StateCodec bytes (scalars + buffer rows,
    // tiles rebuilt on decode) — the whole blob rewrites every trigger,
    // so the flat codec is the write-amplification floor here
    val stateEnc = Encoders.BINARY
    val maxRangeMs = specs.map(_.frame).collect { case RangeMs(l) => l }.foldLeft(0L)(math.max)
    val maxRows = specs.map(_.frame).collect { case RowsN(n) => n }.foldLeft(0)(math.max)
    val needs = needsOf(specs, valueCols.length, strCols.length)

    val prepared = prepareMulti(df, keyCol, tsMsCol, valueCols, strCols,
      latenessMs, watermark = true)
    // per-spec payload-slot indices: pure (spec, needs) metadata, hoisted
    // out of the per-emitted-row loop (specs.map(evalSpec) re-derived
    // them 20k times per trigger on the bench workload)
    val specArr = specs.toArray
    val specIdx = specArr.map(specIdxOf(_, needs))

    import prepared.sparkSession.implicits._
    val grouped = prepared
      .as[(Long, String, Seq[Double], Seq[String], java.sql.Timestamp)]
      .groupByKey(_._2)

    val fn = (key: String, rows: Iterator[(Long, String, Seq[Double], Seq[String], java.sql.Timestamp)],
              state: GroupState[Array[Byte]]) => {
      val t0 = System.nanoTime()
      val st = state.getOption.map(StateCodec.decodeKeyState(_, grans, needs))
        .getOrElse(new KeyState)
      val t1 = System.nanoTime()
      val wm = state.getCurrentWatermarkMs()
      // ingest (drop terminal-flush sentinels and already-emitted positions)
      ingestChunk(st, rows.collect {
        case r if r._1 != FLUSH_TS && r._1 > st.emittedTs =>
          (r._1, r._3.toArray, r._4.toArray)
      }, grans, needs)
      val t2 = System.nanoTime()
      // advance: emit every buffered row with ts <= wm not yet emitted
      val out = mutable.ArrayBuffer.empty[Row]
      val buf = st.buffer
      var i = 0
      // skip already-emitted prefix
      while (i < buf.length && ordLeq(buf(i)._1, buf(i)._2, st.emittedTs, st.emittedSeq)) i += 1
      while (i < buf.length && buf(i)._1 <= wm) {
        out += emitRow(st, i, key, specArr, specIdx, grans, needs)
        st.emittedTs = buf(i)._1; st.emittedSeq = buf(i)._2
        i += 1
      }
      val t3 = System.nanoTime()
      // prune: drop the emitted prefix no future frame can reference —
      // a row is droppable only if it fails BOTH the RANGE horizon
      // (ts < emittedTs - maxRange) and the ROWS lookback (more than
      // maxRows before the first unemitted row).
      locally {
        val tsHorizon = st.emittedTs - maxRangeMs
        var tsOk = 0
        while (tsOk < buf.length && buf(tsOk)._1 < tsHorizon) tsOk += 1
        val dropTo = math.min(tsOk, math.max(0, i - maxRows))
        if (dropTo > 0) {
          buf.remove(0, dropTo)
          st.tiles.foreach { case (g, m) =>
            m.filterInPlace { case (b, _) => b + g > tsHorizon }
          }
        }
      }
      state.update(StateCodec.encodeKeyState(st))
      EngineProfile.add(t1 - t0, t2 - t1, t3 - t2,
        System.nanoTime() - t3, out.length)
      // wake up when the watermark reaches the earliest unemitted row
      var j = 0
      while (j < buf.length && ordLeq(buf(j)._1, buf(j)._2, st.emittedTs, st.emittedSeq)) j += 1
      if (j < buf.length) state.setTimeoutTimestamp(math.max(buf(j)._1, wm + 1))
      out.iterator
    }

    grouped.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)(stateEnc, outEnc)
  }

  /** Single-value compatibility wrapper: output (ts_ms, key, value[, cate],
    * specs...) as before. */
  def streaming(df: DataFrame, keyCol: String, tsMsCol: String, valueCol: String,
                specs: Seq[AggSpec], latenessMs: Long = 0,
                tileGranularityMs: Long = 60000L,
                cateCol: String = null,
                coarseTilesMs: Seq[Long] = Nil): DataFrame = {
    val hasCate = cateCol != null
    val src = df.select(Seq(col(tsMsCol), col(keyCol),
      col(valueCol).cast("double").as("value")) ++
      (if (hasCate) Seq(col(cateCol).cast("string").as("cate")) else Nil): _*)
    streamingMulti(src, keyCol, tsMsCol, Seq("value"),
      if (hasCate) Seq("cate") else Nil, specs, latenessMs,
      tileGranularityMs, coarseTilesMs)
  }

  // ------------------------------------------------------------------
  // Batch mode through the same engine
  // ------------------------------------------------------------------

  /** Batch evaluation through the SAME per-key engine (one sorted sweep
    * per key; RANGE frames covered by tiles). This is the scale path for
    * ML aggregates over long windows: Catalyst's WindowExec rebuilds a
    * TypedImperativeAggregate buffer per output row — O(n × frame) per
    * partition — while this sweep is O(n log n + n × (buckets + edge)),
    * the reference's retractable/tiled evaluation shape
    * (retractable_range.rs:54-140, tiles.rs:386-533).
    */
  def batchComputeMulti(df: DataFrame, keyCol: String, tsMsCol: String,
                        valueCols: Seq[String], strCols: Seq[String],
                        specs: Seq[AggSpec],
                        tileGranularityMs: Long = 60000L,
                        coarseTilesMs: Seq[Long] = Nil): DataFrame = {
    val grans = tileGrans(tileGranularityMs, coarseTilesMs)
    val outEnc = Encoders.row(outputSchema(specs, valueCols, strCols))
    val needs = needsOf(specs, valueCols.length, strCols.length)

    val prepared = prepareMulti(df, keyCol, tsMsCol, valueCols, strCols,
      latenessMs = 0, watermark = false)
    val specArr = specs.toArray
    val specIdx = specArr.map(specIdxOf(_, needs))

    import prepared.sparkSession.implicits._
    prepared.as[(Long, String, Seq[Double], Seq[String])]
      .groupByKey(_._2)
      .flatMapGroups { (key: String, rows: Iterator[(Long, String, Seq[Double], Seq[String])]) =>
        val st = new KeyState
        ingestChunk(st, rows.map(r => (r._1, r._3.toArray, r._4.toArray)), grans, needs)
        Iterator.range(0, st.buffer.length)
          .map(emitRow(st, _, key, specArr, specIdx, grans, needs))
      }(outEnc)
  }

  /** Single-value compatibility wrapper. */
  def batchCompute(df: DataFrame, keyCol: String, tsMsCol: String,
                   valueCol: String, specs: Seq[AggSpec],
                   tileGranularityMs: Long = 60000L,
                   cateCol: String = null,
                   coarseTilesMs: Seq[Long] = Nil): DataFrame = {
    val hasCate = cateCol != null
    val src = df.select(Seq(col(tsMsCol), col(keyCol),
      col(valueCol).cast("double").as("value")) ++
      (if (hasCate) Seq(col(cateCol).cast("string").as("cate")) else Nil): _*)
    batchComputeMulti(src, keyCol, tsMsCol, Seq("value"),
      if (hasCate) Seq("cate") else Nil, specs, tileGranularityMs, coarseTilesMs)
  }

  /** The reference's default tile hierarchy: 1m / 5m / 1h / 1d
    * (state/tiles.rs:104-112). Pass the tail as `coarseTilesMs` with a
    * 1-minute finest granularity. */
  val DefaultCoarseTilesMs: Seq[Long] = Seq(300000L, 3600000L, 86400000L)

  private[streaming] def tileGrans(finest: Long, coarse: Seq[Long]): Seq[Long] = {
    val grans = (finest +: coarse).distinct.sorted
    grans.foreach(g => require(g % grans.head == 0,
      s"tile granularity $g must be a multiple of the finest ${grans.head}"))
    grans
  }

  /** One terminal-flush row per key (the reference's MAX_WATERMARK) for
    * bounded inputs: push the watermark past every real event. */
  def flushRows(df: DataFrame, keyCol: String, tsMsCol: String, valueCol: String): DataFrame =
    df.select(col(keyCol).cast("string").as(keyCol)).distinct()
      .select(lit(FLUSH_TS).as(tsMsCol), col(keyCol), lit(0.0).as(valueCol))

  /** Multi-slot variant of [[flushRows]]. */
  def flushRowsMulti(df: DataFrame, keyCol: String, tsMsCol: String,
                     valueCols: Seq[String], strCols: Seq[String]): DataFrame =
    df.select(col(keyCol).cast("string").as(keyCol)).distinct()
      .select(Seq(lit(FLUSH_TS).as(tsMsCol), col(keyCol)) ++
        valueCols.map(c => lit(0.0).as(c)) ++
        strCols.map(c => lit(null).cast("string").as(c)): _*)
}

/** Per-trigger-call cost attribution for the FMGWS engine — where does a
  * state-function invocation spend its time: state decode, chunk ingest
  * (sort + merge + tile update), the per-emitted-row accumulator fold, or
  * prune + state encode. Static counters: in local mode (the bench) every
  * task shares the JVM, so [[snapshot]] after a run is the whole query's
  * split; on a cluster the counters are per-executor dev instrumentation.
  * Overhead is four `System.nanoTime` calls per (key, trigger) — noise
  * against ms-scale work.
  */
object EngineProfile {
  import java.util.concurrent.atomic.AtomicLong
  private val decodeNs = new AtomicLong
  private val ingestNs = new AtomicLong
  private val foldNs = new AtomicLong
  private val encodeNs = new AtomicLong
  private val calls = new AtomicLong
  private val emitted = new AtomicLong

  private[streaming] def add(decode: Long, ingest: Long, fold: Long,
                             encode: Long, rows: Int): Unit = {
    decodeNs.addAndGet(decode); ingestNs.addAndGet(ingest)
    foldNs.addAndGet(fold); encodeNs.addAndGet(encode)
    calls.incrementAndGet(); emitted.addAndGet(rows.toLong)
    ()
  }

  def reset(): Unit = {
    Seq(decodeNs, ingestNs, foldNs, encodeNs, calls, emitted).foreach(_.set(0))
  }

  /** One attribution line: ms per stage + call/row counts. */
  def snapshot: String = {
    def ms(n: AtomicLong): String = f"${n.get / 1e6}%.1f"
    s"decodeMs=${ms(decodeNs)} ingestMs=${ms(ingestNs)} " +
      s"foldMs=${ms(foldNs)} encodeMs=${ms(encodeNs)} " +
      s"stateCalls=${calls.get} rowsEmitted=${emitted.get}"
  }
}
