package graft.tools

import java.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Registry-driven fuzz of the STREAMING surface (VERDICT r15 #4) — the
  * companion to [[SqlFuzz]]'s batch sweep: seeded random watermarked
  * tumbling / sliding / session-window aggregations, stream-stream
  * interval joins, and allowed-lateness DROP shapes (two-phase arrival;
  * the oracle replays the strict window_end > watermark absorption rule
  * q_late_drop pins), each executed as a REAL Structured Streaming query
  * (file source, per-trigger arrival, append mode, flush sentinels) and
  * value-compared against a batch SQL oracle replayed by DuckDB over the
  * same events parquet. Reference semantics under test:
  * `/root/reference/src/runtime/watermark/manager.rs:96-160` (watermark
  * propagation closing windows) re-expressed through Spark's
  * `withWatermark` + `window`/`session_window` + stream-stream joins.
  *
  * Determinism rules (each dodges a known trap, not an engine bug):
  *   - Input files are written in EVENT-TIME ORDER (contiguous ts
  *     slices), so no row is ever late and the batch oracle needs no
  *     watermark-drop model — late-drop semantics are pinned separately
  *     by `q_late_drop`'s deterministic two-phase arrival.
  *   - Aggregates are over exact integers (`value_c` cents, `ts_ms`)
  *     only: engines aggregate in different orders and float sums
  *     diverge at the ulp.
  *   - Session/tumbling/sliding windows need a terminal flush: append
  *     mode only emits a window once the watermark passes it, and a
  *     drained file source never advances the watermark again. Each
  *     shape appends two far-future sentinel rows (the catalog's
  *     bounded two-round FLUSH_TS protocol from `q_sessionize_streaming`)
  *     and filters everything at/after `flushCut` out of the result.
  *   - The output is re-sorted by every column on both sides (the sink
  *     parquet lands in trigger order, which is not a semantic order).
  *
  * Emits exactly [[SqlFuzz]]'s artifact contract — `outDir/<name>/`
  * parquet + `outDir/fuzz_sql.json` — so `scripts/sql_fuzz.py` replays
  * and compares unchanged.
  *
  * Usage: runMain graft.tools.StreamFuzz <sfDir> <outDir> [n] [seedBase] [family]
  * where family = mixed (default) | ooo (out-of-order arrival family).
  */
object StreamFuzz {

  private[tools] val flushTs = 4102444800000L // 2100-01-01, past any event
  private[tools] val flushCut = flushTs - 86400000L

  /** DuckDB-side normalized events (same snippet as the catalog's
    * oracles): ts_ms epoch millis, value_c exact integer cents. */
  private[tools] val evDuck =
    "(SELECT *, epoch_ms(ts) AS ts_ms, CAST(round(value * 100) AS BIGINT) AS value_c FROM events)"
  /** Spark-side equivalent over the prepared views (ts = BIGINT nanos). */
  private[tools] val evSpark =
    "SELECT event_id, user_id, event_type, ts DIV 1000000 AS ts_ms, " +
      "CAST(round(value * 100) AS BIGINT) AS value_c FROM events"

  private[tools] def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.length))

  /** The aggregate menu: (alias, spark column, oracle SQL fragment).
    * Integer-exact only — see the determinism rules above. */
  private[tools] def aggMenu: Seq[(String, Column, String)] = Seq(
    ("n", count(lit(1)).as("n"), "count(*) AS n"),
    ("s", sum(col("value_c")).as("s"), "sum(value_c) AS s"),
    ("mn", min(col("value_c")).as("mn"), "min(value_c) AS mn"),
    ("mx", max(col("value_c")).as("mx"), "max(value_c) AS mx"),
    ("tmn", min(col("ts_ms")).as("tmn"), "min(ts_ms) AS tmn"),
    ("tmx", max(col("ts_ms")).as("tmx"), "max(ts_ms) AS tmx"))

  private[tools] def pickAggs(r: Random): Seq[(String, Column, String)] = {
    val menu = aggMenu
    val k = 1 + r.nextInt(3)
    r.ints(0, menu.length).distinct().limit(k).toArray.toSeq.sorted.map(menu)
  }

  /** One shape's full execution recipe. */
  private final case class Shape(
      name: String,
      oracle: String,
      run: SparkSession => DataFrame)

  /** Writes each slice into `dir` as one appended parquet file, then
    * pins every new file's modification time to a strictly increasing
    * (past) stamp, 2 s apart per slice. The file source replays files in
    * mtime order; without the stamps, two slices landing inside the same
    * filesystem timestamp granularity could be consumed out of order,
    * and with a `0 seconds` watermark delay that drops rows the batch
    * oracle keeps — a flaky false-failure mode (ADVICE r16). Sentinel
    * files appended later keep their natural (newer) mtimes. */
  private[tools] def writeOrderedSlices(slices: Seq[DataFrame], dir: String): Unit = {
    val seen = scala.collection.mutable.Set.empty[String]
    val base = System.currentTimeMillis() - (slices.length + 2) * 2000L
    slices.zipWithIndex.foreach { case (df, j) =>
      df.coalesce(1).write.mode("append").parquet(dir)
      val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      files.filter(f => f.isFile && !seen(f.getName)).foreach { f =>
        require(f.setLastModified(base + j * 2000L),
          s"could not pin mtime of ${f.getName} — slice arrival order would be FS-granularity luck")
        seen += f.getName
      }
    }
  }

  /** Writes `df` into `dir` as `k` contiguous event-time slices (one
    * parquet file each, oldest slice stamped oldest so the file source's
    * modification-time order replays arrival in event-time order). */
  private def writeStaged(df: DataFrame, dir: String, k: Int): Unit = {
    if (k <= 1) { df.orderBy("ts_ms", "event_id").coalesce(1).write.parquet(dir); return }
    val n = df.count()
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts_ms", "event_id")
    val rn = df.withColumn("rn", row_number().over(w))
    writeOrderedSlices((0 until k).map { j =>
      val lo = j * n / k; val hi = (j + 1) * n / k
      rn.where(col("rn") > lo && col("rn") <= hi).drop("rn")
    }, dir)
  }

  /** A sentinel row matching `dir`'s schema with the given event time —
    * event_id/user_id -1, event_type 'zz', so every consumer filters it
    * by construction (window filter, key domain, event_id >= 0). */
  private[tools] def writeFlush(spark: SparkSession, dir: String, tsMs: Long): Unit = {
    val schema = spark.read.parquet(dir).schema
    val exprs = schema.fields.map { f =>
      (f.name match {
        case "ts_ms" => lit(tsMs)
        case "event_type" => lit("zz")
        case _ => lit(-1L)
      }).cast(f.dataType).as(f.name)
    }
    spark.range(1).select(exprs.toSeq: _*)
      .coalesce(1).write.mode("append").parquet(dir)
  }

  private[tools] def streamFrom(spark: SparkSession, dir: String, delay: String,
                         maxFiles: Option[Int]): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    val rd = spark.readStream.schema(schema)
    maxFiles.fold(rd)(m => rd.option("maxFilesPerTrigger", m)).parquet(dir)
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", delay)
  }

  /** Runs a streaming frame to completion over `inDirs`, with
    * `flushRounds` sentinel appends into each input dir (the bounded
    * two-round FLUSH protocol), and returns the landed result. The
    * read-back pins the sink's schema explicitly: a legitimately empty
    * result (a restrictive random predicate) has no part files to infer
    * from and must read as zero rows, not fail. */
  private[tools] def runStreaming(spark: SparkSession, out: DataFrame,
                           root: String, inDirs: Seq[String],
                           flushRounds: Int): DataFrame = {
    val q = out.writeStream.outputMode("append").format("parquet")
      .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      for (round <- 0 until flushRounds) {
        inDirs.foreach(d => writeFlush(spark, d, flushTs + round * 1000L))
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.read.schema(out.schema).parquet(s"$root/out")
  }

  /** Predicate-generator pools over the normalized events columns:
    * integer ranges + the event_type value list, sampled from the data.
    * Shared with [[SessionFuzz]]. */
  private[tools] def eventPools(spark: SparkSession)
      : (SqlFuzz.Pools, SqlFuzz.Table, Seq[String]) = {
    import SqlFuzz.{Col, I, S, Table, Pools}
    val ev = spark.sql(evSpark)
    val row = ev.agg(
      min("user_id").cast("double"), max("user_id").cast("double"),
      min("ts_ms").cast("double"), max("ts_ms").cast("double"),
      min("value_c").cast("double"), max("value_c").cast("double"),
      min("event_id").cast("double"), max("event_id").cast("double")).head()
    val types = ev.select("event_type").where(col("event_type").isNotNull)
      .distinct().orderBy("event_type")
      .collect().map(_.getString(0)).toSeq.filterNot(_.contains("\\"))
    val evT = Table("ev", Seq(Col("event_id", I), Col("user_id", I),
      Col("ts_ms", I), Col("value_c", I), Col("event_type", S)), Seq("event_id"))
    val pools = Pools(
      numRange = Map(
        ("ev", "user_id") -> (row.getDouble(0), row.getDouble(1)),
        ("ev", "ts_ms") -> (row.getDouble(2), row.getDouble(3)),
        ("ev", "value_c") -> (row.getDouble(4), row.getDouble(5)),
        ("ev", "event_id") -> (row.getDouble(6), row.getDouble(7))),
      tsRange = Map.empty,
      strVals = Map(("ev", "event_type") -> types),
      uniqueOk = Set("ev"))
    (pools, evT, types)
  }

  private[tools] def orderedOut(df: DataFrame): DataFrame =
    df.orderBy(df.columns.map(c => col(c).asc_nulls_first).toSeq: _*)

  private def orderBySql(cols: Seq[String]): String =
    "ORDER BY " + cols.map(_ + " NULLS FIRST").mkString(", ")

  // ---------------------------------------------------------------- shapes

  /** Random predicate over the normalized events columns, portable to
    * both engines (reuses [[SqlFuzz]]'s generator with a hand-built
    * pool: integer ranges from the data, the event_type value list).
    *
    * Stream-side application appends `OR ts_ms >= flushCut`: Catalyst
    * pushes deterministic predicates BELOW the EventTimeWatermark node
    * (PushPredicateThroughNonJoin), so a bare predicate would filter the
    * flush sentinel before watermark-stats collection and the tail
    * windows would never close — measured exactly so on the first smoke
    * (the last two windows of a tumbling shape silently missing). The
    * sentinel escape keeps the filter inside the streaming plan while
    * guaranteeing the watermark still sees the flush row; sentinel
    * GROUPS are dropped by the window_start/session_start < flushCut
    * output filter as usual. */
  private[tools] def predOf(r: Random, pools: SqlFuzz.Pools,
                     evT: SqlFuzz.Table): Option[String] =
    if (r.nextBoolean()) Some(SqlFuzz.predicate(r, evT, "", pools)) else None

  private def genShape(i: Int, seedBase: Long, pools: SqlFuzz.Pools,
                       evT: SqlFuzz.Table, types: Seq[String]): Shape = {
    val r = new Random(seedBase + i)
    val name = f"fzs_$i%04d"
    val delay = pick(r, Seq("0 seconds", "1 second", "10 minutes"))
    val staged = r.nextBoolean() // 4-file event-time-ordered arrival vs one batch
    val k = if (staged) 4 else 1
    val maxFiles = if (staged) Some(1) else None
    val pred = predOf(r, pools, evT)
    val whereSql = pred.map(p => s"WHERE $p ").getOrElse("")

    def keyedAggShape(windowed: (DataFrame, Seq[Column]) => DataFrame,
                      winStartSpark: String, // struct path to window start
                      oracleWinExpr: String, // oracle SQL for window_start
                      oracleFrom: String,
                      keys: Seq[String]): Shape = {
      val aggs = pickAggs(r)
      val outCols = Seq("window_start") ++ keys ++ aggs.map(_._1)
      val oracle =
        s"SELECT $oracleWinExpr AS window_start" +
          keys.map(k => s", $k").mkString +
          aggs.map(a => s", ${a._3}").mkString + " " +
          s"FROM $oracleFrom $whereSql" +
          s"GROUP BY window_start${keys.map(k => s", $k").mkString} " +
          orderBySql(outCols)
      Shape(name, oracle, spark => {
        val root = GraftSession.tempDir(s"graft_sfz_${i}_")
        writeStaged(spark.sql(evSpark), s"$root/in", k)
        val st0 = streamFrom(spark, s"$root/in", delay, maxFiles)
        val st = pred.fold(st0)(p => st0.where(s"($p) OR ts_ms >= $flushCut"))
        val grouped = windowed(st, aggs.map(_._2))
        val out = grouped
          .withColumn("window_start", unix_millis(col(winStartSpark)))
          .select(outCols.map(col).toSeq: _*)
          .where(col("window_start") < flushCut)
        orderedOut(runStreaming(spark, out, root, Seq(s"$root/in"), 2))
      })
    }

    r.nextInt(14) match {
      case f if f >= 12 => // allowed-lateness drops (two-phase arrival)
        // q_late_drop's deterministic pattern, randomized: the majority
        // phase lands first and pushes the watermark to max(phase-1 ts)
        // − delay; the straggler phase then arrives, and the engine
        // absorbs exactly the stragglers whose window END is strictly
        // past that watermark (closed windows were already evicted).
        // Deterministic because phase 2 is written only after phase 1
        // fully processes, and each phase is ONE file (no intra-phase
        // watermark movement).
        val wMs = pick(r, Seq(900000L, 3600000L, 14400000L))
        val dMs = pick(r, Seq(0L, 3600000L, 86400000L, 604800000L))
        val m = 2 + r.nextInt(3)
        val r0 = r.nextInt(m)
        val keys = pick(r, Seq(Seq(), Seq("user_id"), Seq("event_type")))
        val outCols = Seq("window_start") ++ keys ++ Seq("n", "s")
        val oracle =
          s"""WITH ev AS (SELECT * FROM $evDuck),
              wm AS (SELECT max(ts_ms) - $dMs AS w FROM ev WHERE event_id % $m <> $r0),
              kept AS (
                SELECT * FROM ev WHERE event_id % $m <> $r0
                UNION ALL
                SELECT e.* FROM ev e, wm WHERE e.event_id % $m = $r0
                  AND (e.ts_ms - e.ts_ms % $wMs) + $wMs > wm.w)
              SELECT (ts_ms - ts_ms % $wMs) AS window_start${keys.map(k => s", $k").mkString},
                     count(*) AS n, sum(value_c) AS s
              FROM kept GROUP BY window_start${keys.map(k => s", $k").mkString} ${orderBySql(outCols)}"""
        Shape(name, oracle, spark => {
          val root = GraftSession.tempDir(s"graft_sfz_${i}_")
          val in = spark.sql(evSpark)
          in.where(s"event_id % $m <> $r0").coalesce(1).write.parquet(s"$root/in")
          val st = streamFrom(spark, s"$root/in", s"$dMs milliseconds", None)
          val grouped = st.groupBy(
            (window(col("ts"), s"${wMs / 1000} seconds") +: keys.map(col)).toSeq: _*)
            .agg(count(lit(1)).as("n"), sum(col("value_c")).as("s"))
          val out = grouped
            .withColumn("window_start", unix_millis(col("window.start")))
            .select(outCols.map(col).toSeq: _*)
            .where(col("window_start") < flushCut)
          val q = out.writeStream.outputMode("append").format("parquet")
            .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
          try {
            q.processAllAvailable() // phase 1: wm -> max(phase-1 ts) − delay
            in.where(s"event_id % $m = $r0").coalesce(1)
              .write.mode("append").parquet(s"$root/in")
            q.processAllAvailable() // stragglers: closed windows drop them
            for (round <- 0 until 2) {
              writeFlush(spark, s"$root/in", flushTs + round * 1000L)
              q.processAllAvailable()
            }
          } finally q.stop()
          orderedOut(spark.read.schema(out.schema).parquet(s"$root/out"))
        })
      case f if f <= 3 => // tumbling window aggregate
        val wMs = pick(r, Seq(60000L, 300000L, 900000L, 3600000L, 14400000L))
        val keys = pick(r, Seq(Seq(), Seq("user_id"), Seq("event_type"),
          Seq("user_id", "event_type")))
        keyedAggShape(
          (st, aggCols) => st.groupBy(
            (window(col("ts"), s"${wMs / 1000} seconds") +: keys.map(col)).toSeq: _*)
            .agg(aggCols.head, aggCols.tail: _*),
          "window.start",
          s"(ts_ms - ts_ms % $wMs)", s"$evDuck", keys)
      case f if f <= 5 => // sliding window aggregate (slide divides width)
        val wMs = pick(r, Seq(240000L, 1200000L, 3600000L))
        val sMs = wMs / pick(r, Seq(2L, 4L))
        val keys = pick(r, Seq(Seq(), Seq("user_id"), Seq("event_type")))
        // every row falls in exactly w/s windows with starts
        // hi-(w-s), hi-(w-2s), ..., hi where hi = ts - ts % s
        val oracleFrom =
          s"(SELECT *, unnest(generate_series((ts_ms - ts_ms % $sMs) - ${wMs - sMs}, " +
            s"ts_ms - ts_ms % $sMs, $sMs)) AS ws FROM $evDuck e)"
        val aggs = pickAggs(r)
        val outCols = Seq("window_start") ++ keys ++ aggs.map(_._1)
        val oracle =
          s"SELECT ws AS window_start" + keys.map(k => s", $k").mkString +
            aggs.map(a => s", ${a._3}").mkString + " " +
            s"FROM $oracleFrom $whereSql" +
            s"GROUP BY window_start${keys.map(k => s", $k").mkString} " +
            orderBySql(outCols)
        Shape(name, oracle, spark => {
          val root = GraftSession.tempDir(s"graft_sfz_${i}_")
          writeStaged(spark.sql(evSpark), s"$root/in", k)
          val st0 = streamFrom(spark, s"$root/in", delay, maxFiles)
          val st = pred.fold(st0)(p => st0.where(s"($p) OR ts_ms >= $flushCut"))
          val grouped = st.groupBy(
            (window(col("ts"), s"${wMs / 1000} seconds", s"${sMs / 1000} seconds") +:
              keys.map(col)).toSeq: _*)
            .agg(aggs.map(_._2).head, aggs.map(_._2).tail: _*)
          val out = grouped
            .withColumn("window_start", unix_millis(col("window.start")))
            .select(outCols.map(col).toSeq: _*)
            .where(col("window_start") < flushCut)
          orderedOut(runStreaming(spark, out, root, Seq(s"$root/in"), 2))
        })
      case f if f <= 8 => // session window aggregate
        val gapMs = pick(r, Seq(600000L, 1800000L, 3600000L, 14400000L))
        val key = pick(r, Seq("user_id", "event_type"))
        val aggs = pickAggs(r)
        val outCols = Seq(key, "session_start") ++ aggs.map(_._1)
        // batch sessionization: sessions merge on TOUCH (an event at
        // exactly last-ts + gap JOINS the session — the diff == gap edge
        // family E pins), so a NEW session starts strictly past the gap
        val oracle =
          s"""SELECT $key, min(ts_ms) AS session_start${aggs.map(a => s", ${a._3}").mkString}
              FROM (
                SELECT *, sum(new_sess) OVER (PARTITION BY $key ORDER BY ts_ms, event_id
                  ROWS UNBOUNDED PRECEDING) AS session_id
                FROM (
                  SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
                       OR ts_ms - lag(ts_ms) OVER w > $gapMs THEN 1 ELSE 0 END AS new_sess
                  FROM (SELECT * FROM $evDuck $whereSql) ev
                  WINDOW w AS (PARTITION BY $key ORDER BY ts_ms, event_id)))
              GROUP BY $key, session_id ${orderBySql(outCols)}"""
        Shape(name, oracle, spark => {
          val root = GraftSession.tempDir(s"graft_sfz_${i}_")
          writeStaged(spark.sql(evSpark), s"$root/in", k)
          val st0 = streamFrom(spark, s"$root/in", delay, maxFiles)
          val st = pred.fold(st0)(p => st0.where(s"($p) OR ts_ms >= $flushCut"))
          val aggCols = min(col("ts_ms")).as("session_start") +: aggs.map(_._2)
          val grouped = st
            .groupBy(col(key), session_window(col("ts"), s"${gapMs / 1000} seconds"))
            .agg(aggCols.head, aggCols.tail: _*)
          val out = grouped
            .select((Seq(col(key), col("session_start")) ++ aggs.map(a => col(a._1))): _*)
            .where(col("session_start") < flushCut)
          orderedOut(runStreaming(spark, out, root, Seq(s"$root/in"), 2))
        })
      case f => // stream-stream interval join on user_id (inner / left)
        val isLeft = f == 11
        val lType = pick(r, types)
        val rType = pick(r, types.filterNot(_ == lType))
        val aMs = pick(r, Seq(3600000L, 21600000L, 86400000L))
        val bMs = pick(r, Seq(0L, 3600000L))
        val kind = if (isLeft) "LEFT JOIN" else "JOIN"
        val outCols = Seq("l_event_id", "l_ts_ms", "r_event_id", "r_value_c")
        val oracle =
          s"""SELECT l.event_id AS l_event_id, l.ts_ms AS l_ts_ms,
                     r.event_id AS r_event_id, r.value_c AS r_value_c
              FROM (SELECT * FROM $evDuck WHERE event_type = '$lType'
                    ${pred.map(p => s"AND ($p)").getOrElse("")}) l
              $kind (SELECT * FROM $evDuck WHERE event_type = '$rType') r
                ON l.user_id = r.user_id
               AND r.ts_ms BETWEEN l.ts_ms - $aMs AND l.ts_ms + $bMs
              ${orderBySql(outCols)}"""
        Shape(name, oracle, spark => {
          val root = GraftSession.tempDir(s"graft_sfz_${i}_")
          val in = spark.sql(evSpark)
          val lIn = in.where(s"event_type = '$lType'")
          writeStaged(pred.fold(lIn)(p => lIn.where(p)), s"$root/l", k)
          writeStaged(in.where(s"event_type = '$rType'"), s"$root/r", k)
          val l = streamFrom(spark, s"$root/l", delay, maxFiles).as("l")
          val rr = streamFrom(spark, s"$root/r", delay, maxFiles).as("r")
          val cond = expr(s"l.user_id = r.user_id AND " +
            s"r.ts >= l.ts - INTERVAL ${aMs / 1000} SECONDS AND " +
            s"r.ts <= l.ts + INTERVAL ${bMs / 1000} SECONDS")
          val joined = l.join(rr, cond, if (isLeft) "left_outer" else "inner")
            .select(col("l.event_id").as("l_event_id"), col("l.ts_ms").as("l_ts_ms"),
              col("r.event_id").as("r_event_id"), col("r.value_c").as("r_value_c"))
          // outer joins need the terminal flush (null rows emit only once
          // the watermark clears l.ts + b + delay); inner joins emit
          // eagerly and the sentinel rounds are harmless.
          // The sentinel filter runs on the BATCH read-back, never inside
          // the streaming plan: `l_event_id >= 0` is a left-side
          // deterministic predicate, so Catalyst would push it through
          // the left-outer join BELOW the left EventTimeWatermark and
          // filter the flush sentinel before watermark stats — the
          // left watermark would pin at max real ts and the newest left
          // row's null emission would silently never happen (measured
          // exactly so on the first smoke; checkpoint offsets proved the
          // sentinel files were consumed while batchWatermarkMs never
          // left max-real-ts − delay).
          orderedOut(runStreaming(spark, joined, root,
            Seq(s"$root/l", s"$root/r"), if (isLeft) 2 else 0)
            .where(col("l_event_id") >= 0))
        })
    }
  }

  /** Out-of-order arrival family (VERDICT r16 #4): the mixed corpus
    * writes event-time-ordered slices, so no row is ever late by
    * construction and lateness was covered only by the deterministic
    * two-phase drop family. Here rows are dealt into k (3..5) slices by
    * `(event_id + off) % k` — modulo classes interleave arbitrarily with
    * event time, so every slice after the first carries genuinely late
    * rows — and the watermark-drop oracle is derived from the ACTUAL
    * delivery schedule (the technique PropertyParitySpec family A uses):
    * each slice is one file, `maxFilesPerTrigger=1` makes each file its
    * own micro-batch, and the watermark that filters LATE EVENTS in
    * batch j is the max event time of batches 0..j-2 minus the delay
    * (monotone, floored at the initial 0) — one batch BEHIND the
    * eviction watermark. That lag is Spark's two-watermark split
    * (late-record filtering uses the previous batch's published
    * watermark), measured directly by WatermarkLagProbe: a row whose
    * window end was far below the just-advanced watermark still lands
    * if it arrives in the very next batch. A row survives iff its
    * window END is strictly past that late-filter watermark — the
    * absorption rule `q_late_drop` pins; reference semantics
    * `window_operator.rs:310-336`. (No double-emission is possible
    * under the lag: re-opening an already-emitted window at batch j
    * needs we > lateWM_j >= evictionWM_m >= we for the emitting batch
    * m < j — a contradiction — so grouping kept rows by window is the
    * complete output model.) The schedule's per-slice max-ts is
    * computed at generation time and baked into the oracle as a CASE
    * over the slice expression, so DuckDB replays the exact drop set
    * without a streaming model. */
  private def oooShape(spark: SparkSession, i: Int, seedBase: Long,
                       pools: SqlFuzz.Pools, evT: SqlFuzz.Table): Shape = {
    val r = new Random(seedBase + i)
    val name = f"fzo_$i%04d"
    val k = 3 + r.nextInt(3)
    val off = r.nextInt(k)
    val wMs = pick(r, Seq(300000L, 900000L, 3600000L, 14400000L))
    // sliding windows in a third of the shapes: the late filter applies
    // PER WINDOW INSTANCE (the explode happens before the stateful agg),
    // so one late row can be absorbed by its newest windows and dropped
    // from its oldest in the same batch — the oracle unnests the starts
    // and applies the same end-vs-watermark rule per (row, window) pair
    val sMs = if (r.nextInt(3) == 0) wMs / pick(r, Seq(2L, 4L)) else wMs
    val dMs = pick(r, Seq(0L, 60000L, 3600000L, 86400000L))
    val keys = pick(r, Seq(Seq.empty[String], Seq("user_id"), Seq("event_type")))
    val aggs = pickAggs(r)
    // the optional predicate applies BATCH-SIDE, before slicing: both
    // engines then see the same row set, and the watermark schedule is
    // computed from exactly the rows that will arrive (a stream-side
    // filter would need the sentinel escape AND would change which rows
    // advance the watermark)
    val pred = predOf(r, pools, evT)
    val whereSql = pred.map(p => s"WHERE $p ").getOrElse("")
    val sliceExpr = s"(event_id + $off) % $k"
    val in0 = spark.sql(evSpark)
    val in = pred.fold(in0)(p => in0.where(p))
    val slices = (0 until k).map(j => in.where(s"$sliceExpr = $j"))
    // scan(j) = watermark from slices 0..j-1; the LATE filter for slice j
    // lags one more batch: lateWms(j) = scan(j-1) (0 for slices 0 and 1)
    val scan: Seq[Long] = slices.map { df =>
      Option(df.agg(max("ts_ms")).head().get(0)).map(_.asInstanceOf[Long])
    }.scanLeft(0L)((wm, mt) => mt.map(t => math.max(wm, t - dMs)).getOrElse(wm))
    val lateWms: Seq[Long] = (0L +: scan).take(k)
    val wmCase = (0 until k).map(j => s"WHEN $j THEN ${lateWms(j)}").mkString(" ")
    val outCols = Seq("window_start") ++ keys ++ aggs.map(_._1)
    // tumbling: window_start = aligned floor; sliding: every start in
    // [floor_s(ts) - (w - s), floor_s(ts)] step s (same unnest as the
    // in-order sliding family), each instance gated independently
    val oracleFrom =
      if (sMs == wMs) s"(SELECT *, (ts_ms - ts_ms % $wMs) AS ws FROM $evDuck e0)"
      else
        s"(SELECT *, unnest(generate_series((ts_ms - ts_ms % $sMs) - ${wMs - sMs}, " +
          s"ts_ms - ts_ms % $sMs, $sMs)) AS ws FROM $evDuck e0)"
    val oracle =
      s"SELECT ws AS window_start" +
        keys.map(kc => s", $kc").mkString +
        aggs.map(a => s", ${a._3}").mkString + " " +
        s"FROM (SELECT * FROM $oracleFrom $whereSql) e " +
        s"WHERE ws + $wMs > (CASE $sliceExpr $wmCase END) " +
        s"GROUP BY window_start${keys.map(kc => s", $kc").mkString} " +
        orderBySql(outCols)
    Shape(name, oracle, sp => {
      val root = GraftSession.tempDir(s"graft_sfo_${i}_")
      writeOrderedSlices(slices, s"$root/in")
      val st = streamFrom(sp, s"$root/in", s"$dMs milliseconds", Some(1))
      val win =
        if (sMs == wMs) window(col("ts"), s"${wMs / 1000} seconds")
        else window(col("ts"), s"${wMs / 1000} seconds", s"${sMs / 1000} seconds")
      val grouped = st.groupBy((win +: keys.map(col)).toSeq: _*)
        .agg(aggs.map(_._2).head, aggs.map(_._2).tail: _*)
      val out = grouped
        .withColumn("window_start", unix_millis(col("window.start")))
        .select(outCols.map(col).toSeq: _*)
        .where(col("window_start") < flushCut)
      orderedOut(runStreaming(sp, out, root, Seq(s"$root/in"), 2))
    })
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val n = if (args.length > 2) args(2).toInt else 300
    val seedBase = if (args.length > 3) args(3).toLong else 52000L
    // family selector: "mixed" (default) replays the r15/r16 corpus
    // shapes; "ooo" generates ONLY the out-of-order arrival family
    val family = if (args.length > 4) args(4) else "mixed"
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.prepare(spark, sfDir)
    // 4 state partitions: every stateful operator pays a fixed per-store
    // per-trigger commit cost (measured r6: 256 store-commits of ~65 ms
    // dominated a 32-partition stream-stream join) — the fuzz runs
    // hundreds of tiny streams, not one big one
    spark.conf.set("spark.sql.shuffle.partitions", "4")

    // pools for the predicate generator: integer ranges + event_type
    // values sampled from the normalized stream columns
    val (pools, evT, types) = eventPools(spark)

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val manifest = mapper.createObjectNode()
    var failed = 0
    for (i <- 0 until n) {
      val shape =
        if (family == "ooo") oooShape(spark, i, seedBase, pools, evT)
        else genShape(i, seedBase, pools, evT, types)
      try {
        shape.run(spark).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${shape.name}")
        manifest.put(shape.name, shape.oracle)
        if (i % 10 == 0) println(s"[streamfuzz] ${shape.name} ok  seed=${seedBase + i}")
      } catch {
        case e: Exception =>
          failed += 1
          println(s"[streamfuzz] SPARK-SIDE FAIL ${shape.name} seed=${seedBase + i}: " +
            s"${Option(e.getMessage).getOrElse(e.getClass.getName).take(400)}")
      }
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/fuzz_sql.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(manifest))
    println(s"[streamfuzz] wrote ${n - failed}/$n queries to $outDir (seedBase=$seedBase)")
    spark.stop()
    if (failed > 0) sys.exit(2)
  }
}
