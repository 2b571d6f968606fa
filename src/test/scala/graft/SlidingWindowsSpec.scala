package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.SlidingWindows
import graft.streaming.SlidingWindows.{AggSpec, RangeMs, RowsN}

object R { // tile-based sums reorder float additions vs batch's scan order
  def r6(d: Double): Double = math.round(d * 1e6) / 1e6
}

/** Reference-model test (mirrors window_operator_tests.rs:621 comparison
  * style): the streaming per-row sliding-window engine must produce
  * exactly the batch OVER-window result on the same input, under
  * out-of-order micro-batched arrival.
  */
class SlidingWindowsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val specs = Seq(
    AggSpec("sum_10s", "sum", RangeMs(10000)),
    AggSpec("cnt_10s", "count", RangeMs(10000)),
    AggSpec("min_10s", "min", RangeMs(10000)),
    AggSpec("max_10s", "max", RangeMs(10000)),
    AggSpec("avg_5r", "avg", RowsN(5)))

  /** Deterministic synthetic events: 3 keys, unique ts per key. */
  private def events: Seq[(Long, String, Double)] = {
    val rnd = new scala.util.Random(1234)
    (0 until 600).map { i =>
      val key = s"k${i % 3}"
      // epoch-2024 base: Spark's initial watermark is 0 and rows at
      // event-time <= watermark are dropped, so ts must be > 0
      val ts = 1704067200000L + 1000L * i + (i % 3)
      (ts, key, math.round(rnd.nextDouble() * 1000) / 10.0)
    }
  }

  private def batchReference(rows: Seq[(Long, String, Double)]): Set[(Long, String, Double, Double, Double, Double, Double, Double)] = {
    import spark.implicits._
    rows.toDF("ts_ms", "key", "value").createOrReplaceTempView("evt")
    spark.sql("""
      SELECT ts_ms, key, value,
             sum(value)   OVER w AS sum_10s,
             count(value) OVER w AS cnt_10s,
             min(value)   OVER w AS min_10s,
             max(value)   OVER w AS max_10s,
             avg(value)   OVER (PARTITION BY key ORDER BY ts_ms
               ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS avg_5r
      FROM evt
      WINDOW w AS (PARTITION BY key ORDER BY ts_ms
                   RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
    """).collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
      R.r6(r.getDouble(3)), r.getLong(4).toDouble, r.getDouble(5), r.getDouble(6),
      R.r6(r.getDouble(7)))).toSet
  }

  private def runStreaming(batches: Seq[Seq[(Long, String, Double)]],
                           lateness: Long, tileGran: Long): Set[(Long, String, Double, Double, Double, Double, Double, Double)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val df = mem.toDF().toDF("ts_ms", "key", "value")
    val out = SlidingWindows.streamingMulti(df, "key", "ts_ms", Seq("value"), Nil, specs,
      latenessMs = lateness, tileGranularityMs = tileGran)
    val qname = s"slwin_out_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(qname).trigger(Trigger.ProcessingTime(0)).start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      // terminal watermark: flush sentinels per key
      val keys = batches.flatten.map(_._2).distinct
      mem.addData(keys.map(k => (SlidingWindows.FLUSH_TS, k, 0.0)): _*)
      q.processAllAvailable()
      // one more empty-ish batch so event-time timeouts fire after the jump
      mem.addData((SlidingWindows.FLUSH_TS, keys.head, 0.0))
      q.processAllAvailable()
      spark.table(qname).collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        R.r6(r.getDouble(3)), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        R.r6(r.getDouble(7)))).toSet
    } finally q.stop()
  }

  test("streaming engine == batch OVER windows, in-order single batch") {
    val evs = events
    val got = runStreaming(Seq(evs), lateness = 0, tileGran = 2000)
    assert(got == batchReference(evs))
  }

  private def outOfOrderParity(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val shuffled = rnd.shuffle(events)
    // 12 batches of 50, each locally shuffled: within-lateness disorder
    val batches = shuffled.sortBy(_._1).grouped(60).toSeq.map(b => rnd.shuffle(b))
    val got = runStreaming(batches, lateness = 120000, tileGran = 3000)
    assert(got == batchReference(events), s"delivery seed $seed")
  }

  test("streaming engine == batch OVER windows, out-of-order micro-batches with lateness") {
    outOfOrderParity(77)
  }

  test("streaming engine == batch OVER windows, out-of-order, delivery seed 99") {
    outOfOrderParity(99)
  }

  test("q_window_streaming catalog entry == batch OVER windows on sf0.001 events") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q_window_streaming")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toSeq.sorted
    val want = spark.sql("""
      SELECT ts_ms, CAST(user_id AS STRING) AS key,
             CAST(value_c AS DOUBLE) / 100 AS value,
             CAST(sum(value_c) OVER w AS DOUBLE) / 100 AS sum_1h,
             count(*) OVER w AS cnt_1h
      FROM (SELECT ts DIV 1000000 AS ts_ms, user_id,
                   CAST(round(value * 100) AS BIGINT) AS value_c FROM events)
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
                   RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
    """).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toSeq.sorted
    assert(got.size == want.size)
    assert(got == want)
  }

  /** Soak for the streaming engine at a production state shape:
    * thousands of distinct keys (per-key state rows and event-time
    * timeouts) plus one hot key holding ~20% of all rows (skewed state
    * partition). Integer values keep sums exact under any accumulation
    * order.
    */
  test("streaming engine soak: 3k keys + hot key (20% of rows) == batch OVER, exactly-once") {
    val n = 30000
    val soak: Seq[(Long, String, Double)] = (0 until n).map { i =>
      val key = if (i % 5 == 0) "hot" else s"k${i % 3001}"
      (1704067200000L + 40L * i + (i % 7), key, (i % 97).toDouble)
    }
    val rnd = new scala.util.Random(7)
    val batches = soak.grouped(10000).toSeq.map(b => rnd.shuffle(b))
    val got = runStreaming(batches, lateness = 600000, tileGran = 60000)
    assert(got.size == n, s"exactly-once violated: ${got.size} of $n rows")
    assert(got == batchReference(soak))
  }

  // ------------------------------------------------------------------
  // Aggregate parity: stddev/variance family + ML aggregates, matching
  // the reference's 11 window agg kinds + retractable UDAFs
  // (aggregates/mod.rs:104-120,184-199).
  // ------------------------------------------------------------------

  /** Events with a category column; dyadic values (quarters) so float sums
    * are exact in any accumulation order (tiles reorder additions). */
  private def cateEvents: Seq[(Long, String, Double, String)] = {
    val cats = Seq("alpha", "beta", "gamma", null)
    (0 until 400).map { i =>
      (1704067200000L + 997L * i, s"k${i % 3}", (i * 7 % 40) / 4.0, cats(i % 7 % 4))
    }
  }

  private val mlSql = """
      SELECT ts_ms, key, value, cate,
             stddev_samp(value) OVER w AS sd,
             var_pop(value)     OVER w AS vp,
             top(value, 3)      OVER w AS top3,
             topn_frequency(value, 2) OVER w AS tf2,
             top1_ratio(value)  OVER w AS t1r,
             sum_cate(value, cate)   OVER w AS sc,
             count_cate(value, cate) OVER w AS cc,
             avg(value) OVER (PARTITION BY key ORDER BY ts_ms
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS avg_8r
      FROM evt_ml WINDOW w AS (PARTITION BY key ORDER BY ts_ms
                   RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)"""

  private val mlSpecs = Seq(
    AggSpec("sd", "stddev_samp", RangeMs(10000)),
    AggSpec("vp", "var_pop", RangeMs(10000)),
    AggSpec("top3", "top", RangeMs(10000), 3),
    AggSpec("tf2", "topn_frequency", RangeMs(10000), 2),
    AggSpec("t1r", "top1_ratio", RangeMs(10000)),
    AggSpec("sc", "sum_cate", RangeMs(10000)),
    AggSpec("cc", "count_cate", RangeMs(10000)),
    AggSpec("avg_8r", "avg", RowsN(7)))

  private type MlRow = (Long, String, Double, String, Option[Double], Option[Double],
    String, String, Option[Double], String, String, Double)

  private def mlRow(r: org.apache.spark.sql.Row): MlRow =
    (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3),
      Option(r.get(4)).map(d => R.r6(d.asInstanceOf[Double])),
      Option(r.get(5)).map(d => R.r6(d.asInstanceOf[Double])),
      r.getString(6), r.getString(7),
      Option(r.get(8)).map(d => R.r6(d.asInstanceOf[Double])),
      r.getString(9), r.getString(10), R.r6(r.getDouble(11)))

  private def mlReference(): Set[MlRow] = {
    import spark.implicits._
    GraftSession.prepare(spark, null) // registers top/cate into SQL
    cateEvents.toDF("ts_ms", "key", "value", "cate").createOrReplaceTempView("evt_ml")
    spark.sql(mlSql).collect().map(mlRow).toSet
  }

  test("batchCompute (tiled sweep) == batch OVER for stddev/var + ML aggregates") {
    import spark.implicits._
    val got = SlidingWindows.batchComputeMulti(
        cateEvents.toDF("ts_ms", "key", "value", "cate"),
        "key", "ts_ms", Seq("value"), Seq("cate"), mlSpecs, tileGranularityMs = 3000)
      .collect().map(mlRow).toSet
    assert(got == mlReference())
  }

  test("streaming engine == batch OVER for stddev/var + ML aggregates, out-of-order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(5)
    val batches = cateEvents.sortBy(_._1).grouped(80).toSeq.map(b => rnd.shuffle(b))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Double, String)]
    val df = mem.toDF().toDF("ts_ms", "key", "value", "cate")
    val out = SlidingWindows.streamingMulti(df, "key", "ts_ms", Seq("value"), Seq("cate"),
      mlSpecs, latenessMs = 60000, tileGranularityMs = 3000)
    val qname = s"slwin_ml_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(qname).trigger(Trigger.ProcessingTime(0)).start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val keys = cateEvents.map(_._2).distinct
      mem.addData(keys.map(k => (SlidingWindows.FLUSH_TS, k, 0.0, null: String)): _*)
      q.processAllAvailable()
      mem.addData((SlidingWindows.FLUSH_TS, keys.head, 0.0, null: String))
      q.processAllAvailable()
      val got = spark.table(qname).collect().map(mlRow).toSet
      assert(got == mlReference())
    } finally q.stop()
  }

  // 5-min RANGE frames over ~10 min of events force interiors to be
  // covered by 60 s tiles (greedy walk), with 10 s / 2 s tiles at edges
  private val longSpecs = Seq(
    AggSpec("sum_5m", "sum", RangeMs(300000)),
    AggSpec("cnt_5m", "count", RangeMs(300000)),
    AggSpec("min_5m", "min", RangeMs(300000)),
    AggSpec("top_5m", "top", RangeMs(300000), 3))

  private def longFrameReference(evs: Seq[(Long, String, Double)])
      : Set[(Long, String, Double, Double, Double, Double, String)] = {
    import spark.implicits._
    GraftSession.prepare(spark, null)
    evs.toDF("ts_ms", "key", "value").createOrReplaceTempView("tile_evt")
    spark.sql("""
      SELECT ts_ms, key, value,
             sum(value) OVER w AS sum_5m, count(value) OVER w AS cnt_5m,
             min(value) OVER w AS min_5m, top(value, 3) OVER w AS top_5m
      FROM tile_evt WINDOW w AS (PARTITION BY key ORDER BY ts_ms
        RANGE BETWEEN 300000 PRECEDING AND CURRENT ROW)
    """).collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
      R.r6(r.getDouble(3)), r.getLong(4).toDouble, r.getDouble(5), r.getString(6))).toSet
  }

  /** Streaming engine with the 2s/10s/60s hierarchy, out-of-order arrival
    * in the delivery order drawn from `seed`. */
  private def longFrameStreamingParity(seed: Int): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = events
    val want = longFrameReference(evs)
    val rnd = new scala.util.Random(seed)
    val batches = rnd.shuffle(evs).sortBy(_._1).grouped(100).toSeq.map(b => rnd.shuffle(b))
    val mem = MemoryStream[(Long, String, Double)]
    val out = SlidingWindows.streamingMulti(mem.toDF().toDF("ts_ms", "key", "value"),
      "key", "ts_ms", Seq("value"), Nil, longSpecs, latenessMs = 60000,
      tileGranularityMs = 2000, coarseTilesMs = Seq(10000, 60000))
    val qname = s"slwin_tile_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(qname).trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val keys = evs.map(_._2).distinct
      mem.addData(keys.map(k => (SlidingWindows.FLUSH_TS, k, 0.0)): _*)
      q.processAllAvailable()
      mem.addData((SlidingWindows.FLUSH_TS, keys.head, 0.0))
      q.processAllAvailable()
      val got = spark.table(qname).collect().map(r => (r.getLong(0), r.getString(1),
        r.getDouble(2), R.r6(r.getDouble(3)), r.getDouble(4), r.getDouble(5), r.getString(6))).toSet
      assert(got == want, s"delivery seed $seed")
    } finally q.stop()
  }

  test("multi-granularity tiles: long-frame parity with coarse coverage (2s/10s/60s hierarchy)") {
    import spark.implicits._
    val evs = events
    val want = longFrameReference(evs)
    // batch sweep with hierarchy
    val gotBatch = SlidingWindows.batchComputeMulti(evs.toDF("ts_ms", "key", "value"),
        "key", "ts_ms", Seq("value"), Nil, longSpecs, tileGranularityMs = 2000,
        coarseTilesMs = Seq(10000, 60000))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        R.r6(r.getDouble(3)), r.getDouble(4), r.getDouble(5), r.getString(6))).toSet
    assert(gotBatch == want)
    longFrameStreamingParity(31)
  }

  test("multi-granularity tiles: streaming long-frame parity, delivery seed 47") {
    longFrameStreamingParity(47)
  }

  test("streaming engine multi-column: heterogeneous agg args == batch OVER") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    GraftSession.prepare(spark, null)
    // value (numeric), cate (string category AND string top-family value)
    val specs = Seq(
      AggSpec("s10", "sum", RangeMs(10000)),
      AggSpec("tfc", "topn_frequency", RangeMs(10000), 2, vIdx = 0, vStr = true),
      AggSpec("sc", "sum_cate", RangeMs(10000), 0, vIdx = 0, cIdx = 0))
    cateEvents.toDF("ts_ms", "key", "value", "cate").createOrReplaceTempView("mc_ml_evt")
    val want = spark.sql("""
      SELECT ts_ms, key, value, cate,
             sum(value) OVER w AS s10,
             topn_frequency(cate, 2) OVER w AS tfc,
             sum_cate(value, cate) OVER w AS sc
      FROM mc_ml_evt WINDOW w AS (PARTITION BY key ORDER BY ts_ms
        RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
    """).collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
      r.getString(3), R.r6(r.getDouble(4)), r.getString(5), r.getString(6))).toSet

    val mem = MemoryStream[(Long, String, Double, String)]
    val out = SlidingWindows.streamingMulti(
      mem.toDF().toDF("ts_ms", "key", "value", "cate"),
      "key", "ts_ms", Seq("value"), Seq("cate"), specs, latenessMs = 0,
      tileGranularityMs = 3000)
    val qname = s"mc_ml_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(qname).trigger(Trigger.ProcessingTime(0)).start()
    try {
      cateEvents.grouped(150).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val keys = cateEvents.map(_._2).distinct
      mem.addData(keys.map(k => (SlidingWindows.FLUSH_TS, k, 0.0, null: String)): _*)
      q.processAllAvailable()
      mem.addData((SlidingWindows.FLUSH_TS, keys.head, 0.0, null: String))
      q.processAllAvailable()
      val got = spark.table(qname).collect().map(r => (r.getLong(0), r.getString(1),
        r.getDouble(2), r.getString(3), R.r6(r.getDouble(4)), r.getString(5),
        r.getString(6))).toSet
      assert(got == want)
    } finally q.stop()
  }

  // ------------------------------------------------------------------
  // Full ML-family parity: *_where / *_cate_where / top_n_*_cate_where /
  // top_n_*_ratio_cate as engine kinds (reference registry
  // aggregates/mod.rs:184-199) vs the batch OVER path through the
  // driver-oracle-validated CateAgg/RatioCate UDAFs.
  // ------------------------------------------------------------------

  /** cateEvents plus a 0/1 condition slot (value >= 5). */
  private def whereEvents: Seq[(Long, String, Double, Double, String)] =
    cateEvents.map { case (ts, k, v, c) => (ts, k, v, if (v >= 5.0) 1.0 else 0.0, c) }

  private val whereSql = """
      SELECT ts_ms, key, value, big, cate,
             sum_where(value, big = 1.0)   OVER w AS sw,
             avg_where(value, big = 1.0)   OVER w AS aw,
             count_where(value, big = 1.0) OVER w AS cw,
             min_where(value, big = 1.0)   OVER w AS mw,
             max_where(value, big = 1.0)   OVER w AS xw,
             sum_cate_where(value, big = 1.0, cate)   OVER w AS scw,
             avg_cate_where(value, big = 1.0, cate)   OVER w AS acw,
             count_cate_where(value, big = 1.0, cate) OVER w AS ccw,
             top_n_key_sum_cate_where(value, big = 1.0, cate, 2)     OVER w AS tnk,
             top_n_value_count_cate_where(value, big = 1.0, cate, 2) OVER w AS tnv,
             top_n_value_min_cate_where(value, big = 1.0, cate, 2)   OVER w AS tnv2,
             top_n_key_ratio_cate(value, big = 1.0, cate, 2)   OVER w AS rk,
             top_n_value_ratio_cate(value, big = 1.0, cate, 2) OVER w AS rv,
             distinct_count(value) OVER w AS dcw,
             distinct_count(cate)  OVER w AS dcs,
             graft_median(value) OVER w AS mdw,
             sum_where(value, big = 1.0) OVER wr AS swr,
             sum_cate_where(value, big = 1.0, cate) OVER wr AS scwr,
             top_n_value_ratio_cate(value, big = 1.0, cate, 2) OVER wr AS rvr,
             distinct_count(value) OVER wr AS dcr,
             graft_median(value) OVER wr AS mdr
      FROM evt_mlw
      WINDOW w AS (PARTITION BY key ORDER BY ts_ms
                   RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW),
             wr AS (PARTITION BY key ORDER BY ts_ms
                   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)"""

  private val whereSpecs = Seq(
    AggSpec("sw", "sum_where", RangeMs(10000), wIdx = 1),
    AggSpec("aw", "avg_where", RangeMs(10000), wIdx = 1),
    AggSpec("cw", "count_where", RangeMs(10000), wIdx = 1),
    AggSpec("mw", "min_where", RangeMs(10000), wIdx = 1),
    AggSpec("xw", "max_where", RangeMs(10000), wIdx = 1),
    AggSpec("scw", "sum_cate_where", RangeMs(10000), wIdx = 1),
    AggSpec("acw", "avg_cate_where", RangeMs(10000), wIdx = 1),
    AggSpec("ccw", "count_cate_where", RangeMs(10000), wIdx = 1),
    AggSpec("tnk", "top_n_key_sum_cate_where", RangeMs(10000), 2, wIdx = 1),
    AggSpec("tnv", "top_n_value_count_cate_where", RangeMs(10000), 2, wIdx = 1),
    AggSpec("tnv2", "top_n_value_min_cate_where", RangeMs(10000), 2, wIdx = 1),
    AggSpec("rk", "top_n_key_ratio_cate", RangeMs(10000), 2, wIdx = 1),
    AggSpec("rv", "top_n_value_ratio_cate", RangeMs(10000), 2, wIdx = 1),
    AggSpec("dcw", "distinct_count", RangeMs(10000)),
    AggSpec("dcs", "distinct_count", RangeMs(10000), vIdx = 0, vStr = true),
    AggSpec("mdw", "median", RangeMs(10000)),
    AggSpec("swr", "sum_where", RowsN(7), wIdx = 1),
    AggSpec("scwr", "sum_cate_where", RowsN(7), wIdx = 1),
    AggSpec("rvr", "top_n_value_ratio_cate", RowsN(7), 2, wIdx = 1),
    AggSpec("dcr", "distinct_count", RowsN(7)),
    AggSpec("mdr", "median", RowsN(7)))

  /** Type-insensitive row view (batch counts are LONG, engine doubles). */
  private def normRow(r: org.apache.spark.sql.Row): Seq[Any] =
    (0 until r.length).map { i =>
      r.get(i) match {
        case null                 => null
        case d: java.lang.Double  => R.r6(d)
        case l: java.lang.Long    => R.r6(l.toDouble)
        case n: java.lang.Integer => R.r6(n.toDouble)
        case other                => other
      }
    }

  private def whereReference(): Set[Seq[Any]] = {
    import spark.implicits._
    GraftSession.prepare(spark, null)
    whereEvents.toDF("ts_ms", "key", "value", "big", "cate")
      .createOrReplaceTempView("evt_mlw")
    spark.sql(whereSql).collect().map(normRow).toSet
  }

  test("batchCompute == batch OVER for *_where / *_cate_where / top_n_* / ratio kinds") {
    import spark.implicits._
    val got = SlidingWindows.batchComputeMulti(
        whereEvents.toDF("ts_ms", "key", "value", "big", "cate"),
        "key", "ts_ms", Seq("value", "big"), Seq("cate"), whereSpecs,
        tileGranularityMs = 3000)
      .collect().map(normRow).toSet
    assert(got == whereReference())
  }

  private def runWhereStreaming(): Set[Seq[Any]] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(13)
    val batches = whereEvents.sortBy(_._1).grouped(80).toSeq.map(b => rnd.shuffle(b))
    val mem = MemoryStream[(Long, String, Double, Double, String)]
    val df = mem.toDF().toDF("ts_ms", "key", "value", "big", "cate")
    val out = SlidingWindows.streamingMulti(df, "key", "ts_ms",
      Seq("value", "big"), Seq("cate"), whereSpecs, latenessMs = 60000,
      tileGranularityMs = 3000)
    val qname = s"slwin_where_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(qname).trigger(Trigger.ProcessingTime(0)).start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val keys = whereEvents.map(_._2).distinct
      mem.addData(keys.map(k => (SlidingWindows.FLUSH_TS, k, 0.0, 0.0, null: String)): _*)
      q.processAllAvailable()
      mem.addData((SlidingWindows.FLUSH_TS, keys.head, 0.0, 0.0, null: String))
      q.processAllAvailable()
      spark.table(qname).collect().map(normRow).toSet
    } finally q.stop()
  }

  test("streaming engine == batch OVER for the full ML family, out-of-order") {
    assert(runWhereStreaming() == whereReference())
  }

  test("idle-source watermark: min-policy stalls on an idle source, max policy unblocks") {
    // The reference excludes idle upstreams from the watermark min-merge
    // after a timeout (watermark/manager.rs:29-75). Spark's global
    // watermark takes the MIN across watermark nodes by default, so a
    // union with one quiet source holds emission at that source's
    // watermark; the supported mitigation is
    // spark.sql.streaming.multipleWatermarkPolicy=max (documented
    // deviation — README scale notes).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = (0 until 100).map(i => (1704067200000L + 1000L * i, "k", i.toDouble))

    def run(policy: String): Long = {
      val prev = spark.conf.getOption("spark.sql.streaming.multipleWatermarkPolicy")
      spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", policy)
      try {
        import org.apache.spark.sql.functions.{col => fcol, timestamp_millis}
        val active = MemoryStream[(Long, String, Double)]
        val idle = MemoryStream[(Long, String, Double)]
        def branch(m: MemoryStream[(Long, String, Double)]) =
          m.toDF().toDF("ts_ms", "key", "value")
            .withColumn("__wm", timestamp_millis(fcol("ts_ms")))
            .withWatermark("__wm", "0 milliseconds")
        val src = branch(active).union(branch(idle))
        val out = SlidingWindows.streamingMulti(src, "key", "ts_ms",
          Seq("value"), Nil, Seq(AggSpec("s10", "sum", RangeMs(10000))),
          latenessMs = 0, tileGranularityMs = 5000)
        val qname = s"idle_wm_${System.nanoTime()}"
        val q = out.writeStream.outputMode("append").format("memory")
          .queryName(qname).trigger(Trigger.ProcessingTime(0)).start()
        try {
          // only the active source ever produces data
          active.addData(evs: _*); q.processAllAvailable()
          active.addData((SlidingWindows.FLUSH_TS, "k", 0.0)); q.processAllAvailable()
          active.addData((SlidingWindows.FLUSH_TS, "k", 0.0)); q.processAllAvailable()
          spark.table(qname).count()
        } finally q.stop()
      } finally {
        prev match {
          case Some(p) => spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", p)
          case None => spark.conf.unset("spark.sql.streaming.multipleWatermarkPolicy")
        }
      }
    }

    assert(run("min") == 0L, "idle source holds the min watermark at 0 — nothing emits")
    assert(run("max") == evs.length, "max policy lets the active source drive emission")
  }

  test("late rows beyond watermark are dropped, not wrong") {
    // batch 1 advances the watermark far; batch 2's old row must be dropped
    val b1 = (0 until 100).map(i => (1704067200000L + 1000L * i, "k", i.toDouble))
    val late = Seq((1704067201000L, "k", 999.0)) // far behind watermark (lateness 0)
    val got = runStreaming(Seq(b1, late), lateness = 0, tileGran = 5000)
    val ref = batchReference(b1.map(e => (e._1, e._2, e._3)))
    assert(got == ref) // late row contributed nothing
  }
}
