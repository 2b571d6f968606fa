package graft.serving

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.SlidingWindows
import graft.streaming.SlidingWindows.{AggSpec, RangeMs, RowsN}

/** Point-in-time window evaluation at a virtual timestamp — the batch
  * rendition of the reference's WindowRequestOperator, which evaluates
  * each window aggregate for a key *at request time* against buffered
  * state (src/runtime/operators/window/window_request_operator.rs:90-300;
  * points aggregations in aggregates/plain_points.rs and
  * retractable_points.rs: the request ts is a virtual point, the frame is
  * the window ending at that point).
  *
  * The plan is the 1000-executor shape: one filtered scan, at most one
  * hash shuffle on the key. RANGE frames become conditional aggregates
  * over `ts in [at - len, at]` (inclusive lower bound, matching both the
  * engine emission frame and the reference's point plan —
  * plain_points.rs:107 `start_ts = ts - len` then `seek_ts_ge`); ROWS
  * frames rank each key's rows by
  * recency first (`row_number` over the same hash partitioning the final
  * aggregate reuses) and aggregate the top n+1. Keys with no row in any
  * frame produce no output row, matching the reference's empty-batch
  * response for unknown keys (window_request_operator.rs:158-161).
  */
object RequestServing {

  /** Bounded as-of scan: exactly the rows needed to evaluate `specs` at
    * `atTs`. RANGE frames bound the scan to `[atTs - maxRange, atTs]`
    * directly. ROWS frames need each key's `maxRows+1` most recent rows —
    * naively that re-reads each key's entire history; instead a cheap
    * counting pass over coarse time buckets (key/ts columns only — the
    * wide row columns are pruned from that scan) finds, per key, the
    * newest bucket horizon holding at least `maxRows+1` rows, and the
    * main scan keeps only rows at/after `min(that horizon, the RANGE
    * bound)`. At 100 TB the wide-row scan is bounded to roughly one
    * bucket beyond the frame instead of the key's full history (the
    * reference bounds the same evaluation with its state-store row
    * buffer — window_request_operator.rs:90-300). Keys with fewer than
    * `maxRows+1` rows keep their full (≤ atTs) history, matching the
    * unbounded semantics. */
  def boundedAsOf(df: DataFrame, keyCol: String, tsMsCol: String,
                  specs: Seq[AggSpec], atTs: Long,
                  bucketMs: Long = 86400000L): DataFrame = {
    val ts = col(tsMsCol)
    val hasRows = specs.exists(_.frame.isInstanceOf[RowsN])
    val hasRange = specs.exists(_.frame.isInstanceOf[RangeMs])
    val maxRange = specs.map(_.frame).collect { case RangeMs(l) => l }
      .foldLeft(0L)(math.max)
    val maxRows = specs.map(_.frame).collect { case RowsN(n) => n }
      .foldLeft(0)(math.max)
    val upTo = df.where(ts <= atTs)
    if (!hasRows) return upTo.where(ts >= atTs - maxRange)
    val rangeFloor = if (hasRange) atTs - maxRange else Long.MaxValue
    val counts = upTo.groupBy(col(keyCol),
        expr(s"($tsMsCol DIV $bucketMs) * $bucketMs").as("__bucket"))
      .agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__bucket").desc)
    val floors = counts
      .withColumn("__cum", sum(col("__n")).over(w))
      .where(col("__cum") >= maxRows + 1)
      .groupBy(col(keyCol)).agg(max(col("__bucket")).as("__rows_floor"))
    upTo.join(floors, Seq(keyCol), "left")
      .where(col("__rows_floor").isNull ||
        ts >= least(col("__rows_floor"), lit(rangeFloor)))
      .drop("__rows_floor")
  }

  /** @param atTs the virtual point (event-time ms): features as of `atTs`.
    * @return one row per key: keyCol + one column per spec.
    *         Every numeric kind evaluates to DOUBLE (the aggregate is
    *         cast and coalesced with the engine's empty-frame value — the
    *         pointInTimeMulti convention, so the two public point-in-time
    *         paths agree on the same lookup); count stays LONG.
    */
  def pointInTime(df: DataFrame, keyCol: String, tsMsCol: String,
                  valueCol: String, specs: Seq[AggSpec], atTs: Long): DataFrame = {
    val ts = col(tsMsCol)
    val v = col(valueCol)
    val hasRows = specs.exists(_.frame.isInstanceOf[RowsN])

    val base = boundedAsOf(df, keyCol, tsMsCol, specs, atTs)
    // Recency rank per key, only when some ROWS frame needs it.
    val ranked =
      if (hasRows)
        base.withColumn("__rn",
          row_number().over(Window.partitionBy(col(keyCol)).orderBy(ts.desc)))
      else base

    def frameCond(frame: graft.streaming.SlidingWindows.Frame): Column = frame match {
      case RangeMs(len) => ts >= atTs - len // upper bound already applied
      case RowsN(n)     => col("__rn") <= n + 1
    }

    // Empty-frame convention matches the ENGINE (SlidingWindows.finish
    // over a fresh Acc: sum 0.0, count 0, avg/min/max NaN) — SQL
    // aggregates would return NULL instead, and the two public
    // point-in-time paths (this plan and the live ServingBuffer /
    // pointInTimeMulti evalAtPoint path) must not disagree on the same
    // lookup. Caught by property family H: a key whose last event is
    // older than a RANGE frame's span has rows at/below the point but an
    // empty frame. Numeric kinds therefore evaluate to DOUBLE, like
    // pointInTimeMulti.
    val aggs = specs.map { s =>
      val masked = when(frameCond(s.frame), v)
      (s.kind match {
        case "sum"   => coalesce(sum(masked).cast("double"), lit(0.0))
        case "count" => count(masked)
        case "avg"   => coalesce(sum(masked).cast("double") / count(masked),
          lit(Double.NaN))
        case "min"   => coalesce(min(masked).cast("double"), lit(Double.NaN))
        case "max"   => coalesce(max(masked).cast("double"), lit(Double.NaN))
        case other   => throw new IllegalArgumentException(
          s"pointInTime supports sum/count/avg/min/max, got $other")
      }).as(s.name)
    }
    ranked.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Point-in-time evaluation for the FULL aggregate family — every kind
    * the engine knows (base, stddev/variance, top family, `*_where`,
    * `*_cate[_where]`, top-n cate, ratio) evaluated at the virtual point
    * by reusing the engine's accumulator/finisher
    * ([[SlidingWindows.evalAtPoint]]), the reference's
    * plain_points/retractable_points shape, instead of growing
    * conditional-aggregation SQL per kind.
    *
    * Plan: one bounded scan ([[boundedAsOf]]), one hash shuffle on the
    * key, per-key fold. Numeric kinds evaluate to DOUBLE, string kinds to
    * their reference CSV formats; the key comes back as STRING (cast back
    * as needed). Keys with no row in the bounded scan produce no output
    * row (the reference's empty-batch response for unknown keys).
    */
  def pointInTimeMulti(df: DataFrame, keyCol: String, tsMsCol: String,
                       valueCols: Seq[String], strCols: Seq[String],
                       specs: Seq[AggSpec], atTs: Long,
                       bucketMs: Long = 86400000L): DataFrame = {
    val bounded = boundedAsOf(df, keyCol, tsMsCol, specs, atTs, bucketMs)
    val prepared = SlidingWindows.prepareMulti(bounded, keyCol, tsMsCol,
      valueCols, strCols, latenessMs = 0, watermark = false)
    val outEnc = Encoders.row(SlidingWindows.pointOutputSchema(specs))
    import prepared.sparkSession.implicits._
    prepared.as[(Long, String, Seq[Double], Seq[String])]
      .groupByKey(_._2)
      .mapGroups { (key: String, it: Iterator[(Long, String, Seq[Double], Seq[String])]) =>
        val rows = it.map(r => (r._1, r._3.toArray, r._4.toArray)).toSeq
        Row.fromSeq(key +: SlidingWindows.evalAtPoint(rows, specs, atTs))
      }(outEnc)
  }
}
