package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

import graft.streaming.SlidingWindows._

/** The sliding-window engine on `transformWithState` (Spark 4) with
  * GRANULAR state: per-key state is a MapState of time buckets instead of
  * one Kryo blob, so a trigger writes only the buckets it touched.
  *
  * Why this exists alongside [[SlidingWindows.streaming]]
  * (flatMapGroupsWithState): FMGWS rewrites the WHOLE KeyState — event
  * buffer plus every tile — to the state store on every trigger for every
  * touched key. For high-churn keys with long windows that write
  * amplification is the bottleneck (the reference instead appends to
  * per-bucket segments and dumps hot buckets incrementally —
  * src/storage/index/bucket_index.rs, window_operator_state.rs:178-330).
  * Here a bucket = one tile granularity of rows + its tile pre-aggregate;
  * ingest updates O(batch buckets) entries, pruning deletes whole expired
  * buckets, and the emitted position lives in a tiny ValueState.
  *
  * Emission semantics, aggregate kinds, and output schema are identical
  * to [[SlidingWindows.streaming]] — both are reference-model-tested
  * against batch OVER output.
  */
object SlidingWindowsTws {

  /** One time bucket of state: sorted rows + their tile pre-aggregate. */
  final class Bucket extends Serializable {
    val rows: mutable.ArrayBuffer[(Long, Long, Array[Double], Array[String])] =
      mutable.ArrayBuffer.empty
    var tile: Tile = _
  }

  /** Tiny per-key scalar state (positions + the registered timer). */
  final case class Meta(nextSeq: Long, emittedTs: Long, emittedSeq: Long, timerTs: Long)

  /** @param grans ascending tile-granularity hierarchy; the FINEST (head)
    *              defines the state buckets, coarser tiles are derived at
    *              emission by merging the loaded fine tiles (the emission
    *              path loads every bucket anyway, so the hierarchy costs
    *              O(fine tiles) merges per batch and NO extra state writes,
    *              while a long-frame interior folds the coarsest aligned
    *              tiles — tens instead of tens of thousands for a 30-day
    *              frame on 1-minute buckets). */
  final class Processor(specs: Seq[AggSpec], grans: Seq[Long],
                        needs: Needs, maxRangeMs: Long, maxRows: Int)
    extends StatefulProcessor[String, (Long, String, Seq[Double], Seq[String], java.sql.Timestamp), Row] {

    private val gran = grans.head
    // per-spec payload-slot indices hoisted out of the per-emitted-row
    // loop (same hoist as the FMGWS engine's emit path)
    private val specArr = specs.toArray
    private val specIdx = specArr.map(SlidingWindows.specIdxOf(_, needs))

    /** Buckets store as StateCodec bytes (rows only, tile rebuilt on
      * decode) — the flat codec beats Kryo's class-graph walk on the
      * per-touched-bucket write path. */
    @transient private var buckets: MapState[Long, Array[Byte]] = _
    @transient private var meta: ValueState[Meta] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buckets = getHandle.getMapState[Long, Array[Byte]]("buckets",
        Encoders.scalaLong, Encoders.BINARY, TTLConfig.NONE)
      meta = getHandle.getValueState[Meta]("meta", Encoders.kryo[Meta], TTLConfig.NONE)
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[(Long, String, Seq[Double], Seq[String], java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[Row] =
      process(key, rows, timerValues, firedTs = 0L)

    /** Spark deletes the fired timer itself once this returns
      * (`TransformWithStateExec.handleTimerRows`), so `process` must not. */
    override def handleExpiredTimer(key: String, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[Row] =
      process(key, Iterator.empty, timerValues, expiredTimerInfo.getExpiryTimeInMs())

    /** Insert one row into a bucket, keeping (ts, seq) order. */
    private def insertRow(bk: Bucket, row: (Long, Long, Array[Double], Array[String])): Unit = {
      val rb = bk.rows
      if (rb.isEmpty || ordLeq(rb.last._1, rb.last._2, row._1, row._2)) rb += row
      else {
        var lo = 0; var hi = rb.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ordLeq(rb(mid)._1, rb(mid)._2, row._1, row._2)) lo = mid + 1 else hi = mid
        }
        rb.insert(lo, row)
      }
      bk.tile.add(row._3, row._4)
    }

    /** @param firedTs the timer Spark is firing for this call (0 = none):
      *                it is gone once the call returns, so never deleted here. */
    private def process(
        key: String,
        rows: Iterator[(Long, String, Seq[Double], Seq[String], java.sql.Timestamp)],
        timerValues: TimerValues, firedTs: Long): Iterator[Row] = {
      val m0 = Option(meta.get()).getOrElse(Meta(0L, Long.MinValue, Long.MinValue, 0L))
      var nextSeq = m0.nextSeq
      var emTs = m0.emittedTs; var emSeq = m0.emittedSeq
      val wm = timerValues.getCurrentWatermarkInMs()
      def dropTimer(ts: Long): Unit = if (ts > 0 && ts != firedTs) getHandle.deleteTimer(ts)

      // materialize fresh rows (drop flush sentinels and pre-emitted)
      val fresh = mutable.ArrayBuffer.empty[(Long, Long, Array[Double], Array[String])]
      var minNew = Long.MaxValue
      rows.foreach { r =>
        val ts = r._1
        if (ts != FLUSH_TS && ts > emTs) {
          val seq = nextSeq; nextSeq += 1
          fresh += ((ts, seq, r._3.toArray, r._4.toArray))
          if (ts < minNew) minNew = ts
        }
      }

      // Emission is due only when the watermark reached the registered
      // timer (earliest unemitted row) or a fresh row is already at/below
      // the watermark. Otherwise the batch touches ONLY the buckets the
      // fresh rows land in — no per-key full state load. This is the read
      // half of the granular-state design (the write half is the
      // touched-buckets-only write-back below); a watermark-advance-only
      // batch (e.g. the terminal-flush batch of a bounded run, whose
      // sentinel rows are all dropped) costs zero state I/O per key.
      val emissionDue = (m0.timerTs > 0 && wm >= m0.timerTs) || minNew <= wm
      if (!emissionDue) {
        if (fresh.nonEmpty) {
          fresh.groupBy(r => Math.floorDiv(r._1, gran) * gran).foreach { case (bStart, rs) =>
            val bk = Option(buckets.getValue(bStart))
              .map(StateCodec.decodeBucket(_, needs)).getOrElse {
                val b = new Bucket; b.tile = new Tile(needs); b
              }
            rs.foreach(insertRow(bk, _))
            buckets.updateValue(bStart, StateCodec.encodeBucket(bk))
          }
          // single live timer at the earliest unemitted row
          val earliest = math.min(minNew, if (m0.timerTs > 0) m0.timerTs else Long.MaxValue)
          val want = math.max(earliest, wm + 1)
          var timerTs = m0.timerTs
          if (want != timerTs) {
            dropTimer(timerTs)
            getHandle.registerTimer(want)
            timerTs = want
          }
          meta.update(Meta(nextSeq, emTs, emSeq, timerTs))
        }
        return Iterator.empty
      }

      // emission path: load retained buckets (TreeMap: ascending order)
      val local = mutable.TreeMap.empty[Long, Bucket]
      buckets.iterator().foreach { case (b, bytes) =>
        local(b) = StateCodec.decodeBucket(bytes, needs)
      }
      val touched = mutable.HashSet.empty[Long]
      fresh.foreach { row =>
        val bStart = Math.floorDiv(row._1, gran) * gran
        val bk = local.getOrElseUpdate(bStart, {
          val b = new Bucket; b.tile = new Tile(needs); b
        })
        insertRow(bk, row)
        touched += bStart
      }

      // materialize the evaluation view (same-ts rows share a bucket, so
      // bucket concatenation preserves global (ts, seq) order)
      val st = new KeyState
      val tileMap = st.tiles.getOrElseUpdate(gran, mutable.HashMap.empty)
      local.foreach { case (b, bk) => st.buffer ++= bk.rows; tileMap(b) = bk.tile }
      // coarse hierarchy: exact merges of the (already loaded) fine tiles
      grans.tail.foreach { g =>
        val cm = st.tiles.getOrElseUpdate(g, mutable.HashMap.empty)
        local.foreach { case (b, bk) =>
          cm.getOrElseUpdate(Math.floorDiv(b, g) * g, new Tile(needs)).merge(bk.tile)
        }
      }
      st.nextSeq = nextSeq; st.emittedTs = emTs; st.emittedSeq = emSeq

      // advance: emit every buffered row with ts <= wm not yet emitted
      val out = mutable.ArrayBuffer.empty[Row]
      val buf = st.buffer
      var i = 0
      while (i < buf.length && ordLeq(buf(i)._1, buf(i)._2, emTs, emSeq)) i += 1
      while (i < buf.length && buf(i)._1 <= wm) {
        out += SlidingWindows.emitRow(st, i, key, specArr, specIdx, grans, needs)
        emTs = buf(i)._1; emSeq = buf(i)._2
        i += 1
      }

      // prune: delete whole buckets no future frame can reference
      {
        val tsHorizon = emTs - maxRangeMs
        var tsOk = 0
        while (tsOk < buf.length && buf(tsOk)._1 < tsHorizon) tsOk += 1
        val dropTo = math.min(tsOk, math.max(0, i - maxRows))
        var consumed = 0
        val removable = mutable.ArrayBuffer.empty[Long]
        val it = local.iterator
        var scanning = true
        while (scanning && it.hasNext) {
          val (b, bk) = it.next()
          if (consumed + bk.rows.length <= dropTo) {
            removable += b; consumed += bk.rows.length
          } else scanning = false
        }
        removable.foreach { b =>
          local.remove(b); touched.remove(b); buckets.removeKey(b)
        }
      }

      // write back ONLY the touched buckets — the structural win over
      // rewriting the whole per-key state blob
      touched.foreach(b => local.get(b).foreach(bk =>
        buckets.updateValue(b, StateCodec.encodeBucket(bk))))

      // single live timer at the earliest unemitted row; none left -> no
      // timer, so later watermark-only batches skip this key entirely
      var timerTs = m0.timerTs
      if (i < buf.length) {
        val want = math.max(buf(i)._1, wm + 1)
        if (want != timerTs) {
          dropTimer(timerTs)
          getHandle.registerTimer(want)
          timerTs = want
        }
      } else if (timerTs > 0) {
        dropTimer(timerTs)
        timerTs = 0L
      }
      meta.update(Meta(nextSeq, emTs, emSeq, timerTs))
      out.iterator
    }
  }

  /** Same contract as [[SlidingWindows.streamingMulti]].
    *
    * Note: transformWithState needs a state store with column families, so
    * this sets the session's provider to RocksDB (the production-grade
    * store; the HDFS-backed default supports only one family). The setting
    * is per-session and also fine for the FMGWS engine.
    */
  def streamingMulti(df: DataFrame, keyCol: String, tsMsCol: String,
                     valueCols: Seq[String], strCols: Seq[String],
                     specs: Seq[AggSpec], latenessMs: Long = 0,
                     tileGranularityMs: Long = 60000L,
                     coarseTilesMs: Seq[Long] = Nil): DataFrame = {
    val grans = tileGrans(tileGranularityMs, coarseTilesMs)
    // Session-level side effect, needed at query start (see
    // [[StateStoreConf]]): bounded callers wrap build+run in
    // StateStoreConf.withSaved so later queries see the session default.
    StateStoreConf.setRocksDb(df.sparkSession)
    val outEnc = Encoders.row(outputSchema(specs, valueCols, strCols))
    val maxRangeMs = specs.map(_.frame).collect { case RangeMs(l) => l }.foldLeft(0L)(math.max)
    val maxRows = specs.map(_.frame).collect { case RowsN(n) => n }.foldLeft(0)(math.max)
    val needs = needsOf(specs, valueCols.length, strCols.length)

    val prepared = prepareMulti(df, keyCol, tsMsCol, valueCols, strCols,
      latenessMs, watermark = true)

    import prepared.sparkSession.implicits._
    prepared.as[(Long, String, Seq[Double], Seq[String], java.sql.Timestamp)]
      .groupByKey(_._2)
      .transformWithState(
        new Processor(specs, grans, needs, maxRangeMs, maxRows),
        TimeMode.EventTime(), OutputMode.Append())(outEnc)
  }

  /** Single-value compatibility wrapper (same contract as
    * [[SlidingWindows.streaming]]). */
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
      if (hasCate) Seq("cate") else Nil, specs, latenessMs, tileGranularityMs,
      coarseTilesMs)
  }
}
