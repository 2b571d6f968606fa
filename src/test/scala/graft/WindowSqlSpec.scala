package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Pipeline, WindowSql}
import graft.streaming.SlidingWindows
import graft.streaming.SlidingWindows.{RangeMs, RowsN}

/** The reference's production path: SQL OVER windows compiled into the
  * streaming window engine — the SAME SQL must produce identical results
  * run as batch Catalyst SQL and as a streaming pipeline.
  */
class WindowSqlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val sql = """
    SELECT ts_ms, key, value, cate,
           sum(value) OVER w AS s10,
           count(*) OVER w AS c10,
           stddev_samp(value) OVER w AS sd10,
           sum_cate(value, cate) OVER w AS sc10,
           avg(value) OVER (PARTITION BY key ORDER BY ts_ms
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS a5r,
           distinct_count(cate) OVER w AS dc10
    FROM win_evt
    WINDOW w AS (PARTITION BY key ORDER BY ts_ms
                 RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)"""

  private def events: Seq[(Long, String, Double, String)] =
    (0 until 300).map { i =>
      (1704067200000L + 700L * i, s"k${i % 3}", (i * 3 % 21) / 4.0,
        Seq("x", "y", "z")(i % 5 % 3))
    }

  test("compile extracts key/ts and per-agg argument columns") {
    val c = WindowSql.compile(spark, sql).fold(e => fail(e), identity)
    assert(c.table == "win_evt" && c.keyCol == "key" && c.tsCol == "ts_ms")
    assert(c.aggs.map(a => (a.name, a.kind, a.frame, a.valueArg, a.cateArg)) == Seq(
      ("s10", "sum", RangeMs(10000), Some("value"), None),
      ("c10", "count", RangeMs(10000), None, None),
      ("sd10", "stddev_samp", RangeMs(10000), Some("value"), None),
      ("sc10", "sum_cate", RangeMs(10000), Some("value"), Some("cate")),
      ("a5r", "avg", RowsN(4), Some("value"), None),
      ("dc10", "distinct_count", RangeMs(10000), Some("cate"), None)))
    assert(c.outCols == Seq("ts_ms", "key", "value", "cate", "s10", "c10", "sd10", "sc10", "a5r", "dc10"))
  }

  test("unsupported shapes are rejected with reasons") {
    assert(WindowSql.compile(spark,
      "SELECT rank() OVER (PARTITION BY k ORDER BY t RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS r FROM t").isLeft)
    assert(WindowSql.compile(spark,
      """SELECT sum(a) OVER (PARTITION BY k1 ORDER BY t RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS x,
                sum(a) OVER (PARTITION BY k2 ORDER BY t RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS y
         FROM t""").isLeft) // two partition keys
    assert(WindowSql.compile(spark, "SELECT a, b FROM t").isLeft)
    // arity mismatches return Left, not exceptions (compile-or-explain)
    assert(WindowSql.compile(spark,
      "SELECT sum_cate(v) OVER (PARTITION BY k ORDER BY t RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS x FROM t").isLeft)
    assert(WindowSql.compile(spark,
      "SELECT top(v) OVER (PARTITION BY k ORDER BY t RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS x FROM t").isLeft)
    assert(WindowSql.compile(spark,
      "SELECT top_n_key_sum_cate_where(v, c, g) OVER (PARTITION BY k ORDER BY t RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS x FROM t").isLeft)
    assert(WindowSql.compile(spark,
      "SELECT top(v, n) OVER (PARTITION BY k ORDER BY t RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS x FROM t")
      .isLeft, "non-literal n")
  }

  test("same SQL: streaming pipeline == batch Catalyst, via the spec loader") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    GraftSession.prepare(spark, null)

    // batch reference: plain spark.sql over the same rows
    events.toDF("ts_ms", "key", "value", "cate").createOrReplaceTempView("win_evt")
    val want = spark.sql(sql).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3),
        R.r6(r.getDouble(4)), r.getLong(5).toDouble,
        Option(r.get(6)).map(d => R.r6(d.asInstanceOf[Double])),
        r.getString(7), R.r6(r.getDouble(8)), r.getDouble(9))).toSet

    val mem = MemoryStream[(Long, String, Double, String)]
    val spec = s"""{
      "execution_mode": "Streaming",
      "sources": [ { "table_name": "win_evt", "source": { "Memory": {} } } ],
      "sql": ${jstr(sql)},
      "window": { "tile_granularity_ms": 2000 },
      "sink": { "Memory": {"table_name": "win_sql_out"} }
    }"""
    val handle = Pipeline.runJson(spark, spec,
      tables = Map("win_evt" -> mem.toDF().toDF("ts_ms", "key", "value", "cate")))
    try {
      events.grouped(100).foreach { b => mem.addData(b: _*); handle.query.get.processAllAvailable() }
      val keys = events.map(_._2).distinct
      mem.addData(keys.map(k => (SlidingWindows.FLUSH_TS, k, 0.0, null: String)): _*)
      handle.query.get.processAllAvailable()
      mem.addData((SlidingWindows.FLUSH_TS, keys.head, 0.0, null: String))
      handle.query.get.processAllAvailable()
      val got = spark.table("win_sql_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3),
          R.r6(r.getDouble(4)), r.getDouble(5),
          Option(r.get(6)).map(d => R.r6(d.asInstanceOf[Double])),
          r.getString(7), R.r6(r.getDouble(8)), r.getDouble(9))).toSet
      assert(got == want)
    } finally handle.stop()
  }

  test("flagship-shaped multi-column SQL: heterogeneous agg args, streaming == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    GraftSession.prepare(spark, null)
    // README flagship shape on one table: two numeric columns (amount,
    // qty), a string-valued top family (product_id), and a category
    // column (product_type) — every aggregate reads its OWN argument.
    val flagSql = """
      SELECT ts_ms, user, amount, product_id, product_type,
             sum(amount) OVER w AS spent_10s,
             count(*) OVER w AS purchases_10s,
             stddev_samp(qty) OVER w AS sd_qty_10s,
             top(amount, 3) OVER w AS top_amounts,
             topn_frequency(product_id, 2) OVER w AS top_products,
             top1_ratio(product_id) OVER (PARTITION BY user ORDER BY ts_ms
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS dominance_10r,
             sum_cate(amount, product_type) OVER w AS spent_per_type
      FROM orders_ml
      WINDOW w AS (PARTITION BY user ORDER BY ts_ms
                   RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)"""
    val orders = (0 until 400).map { i =>
      (1704067200000L + 600L * i, s"u${i % 3}", (i * 7 % 29) / 4.0,
        (i % 11).toDouble, s"p${i % 7}", Seq("GADGET", "BOOK", "ON_SALE")(i % 5 % 3))
    }
    orders.toDF("ts_ms", "user", "amount", "qty", "product_id", "product_type")
      .createOrReplaceTempView("orders_ml")

    type R10 = (Long, String, Double, String, String, Double, Double, Option[Double],
      String, String, Option[Double], String)
    def shape(r: org.apache.spark.sql.Row, cntLong: Boolean): R10 =
      (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3), r.getString(4),
        R.r6(r.getDouble(5)),
        if (cntLong) r.getLong(6).toDouble else r.getDouble(6),
        Option(r.get(7)).map(d => R.r6(d.asInstanceOf[Double])),
        r.getString(8), r.getString(9),
        Option(r.get(10)).map(d => R.r6(d.asInstanceOf[Double])),
        r.getString(11))
    val want = spark.sql(flagSql).collect().map(shape(_, cntLong = true)).toSet

    // batch sweep through the engine
    val c = WindowSql.compile(spark, flagSql).fold(e => fail(e), identity)
    val gotBatch = c.runWith(Map(c.table -> spark.table("orders_ml")), tileGranularityMs = 2000,
        useBatchSweep = true)
      .collect().map(shape(_, cntLong = false)).toSet
    assert(gotBatch == want, "batch engine sweep")

    // streaming through the spec loader
    val mem = MemoryStream[(Long, String, Double, Double, String, String)]
    val spec = s"""{
      "execution_mode": "Streaming",
      "sources": [ { "table_name": "orders_ml", "source": { "Memory": {} } } ],
      "sql": ${jstr(flagSql)},
      "window": { "tile_granularity_ms": 2000 },
      "sink": { "Memory": {"table_name": "flag_ml_out"} }
    }"""
    val handle = Pipeline.runJson(spark, spec,
      tables = Map("orders_ml" -> mem.toDF()
        .toDF("ts_ms", "user", "amount", "qty", "product_id", "product_type")))
    try {
      orders.grouped(150).foreach { b => mem.addData(b: _*); handle.query.get.processAllAvailable() }
      val keys = orders.map(_._2).distinct
      mem.addData(keys.map(k => (SlidingWindows.FLUSH_TS, k, 0.0, 0.0, null: String, null: String)): _*)
      handle.query.get.processAllAvailable()
      mem.addData((SlidingWindows.FLUSH_TS, keys.head, 0.0, 0.0, null: String, null: String))
      handle.query.get.processAllAvailable()
      val got = spark.table("flag_ml_out").collect().map(shape(_, cntLong = false)).toSet
      assert(got == want, "streaming engine via spec loader")
    } finally handle.stop()
  }

  test("multi-column PARTITION BY: composite key, streaming == batch, key types restored") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    GraftSession.prepare(spark, null)
    // feature-engineering shape: windows keyed on (user, event type); uid is
    // a LONG so the output column must be cast back from its string slot
    val mSql = """
      SELECT ts_ms, uid, etype, value,
             sum(value) OVER w AS s10,
             count(*) OVER w AS c10,
             sum_cate(value, cate) OVER w AS sc10
      FROM mk_evt
      WINDOW w AS (PARTITION BY uid, etype ORDER BY ts_ms
                   RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)"""
    val rows = (0 until 300).map { i =>
      (1704067200000L + 700L * i, (i % 3).toLong, Seq("A", "B")(i % 2),
        (i * 3 % 21) / 4.0, Seq("x", "y", "z")(i % 5 % 3))
    }
    rows.toDF("ts_ms", "uid", "etype", "value", "cate").createOrReplaceTempView("mk_evt")
    val c = WindowSql.compile(spark, mSql).fold(e => fail(e), identity)
    assert(c.keyCols == Seq("uid", "etype"))
    def shape(r: org.apache.spark.sql.Row, cntLong: Boolean) =
      (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        R.r6(r.getDouble(4)), if (cntLong) r.getLong(5).toDouble else r.getDouble(5),
        r.getString(6))
    val want = spark.sql(mSql).collect().map(shape(_, cntLong = true)).toSet
    val gotBatch = c.runWith(Map(c.table -> spark.table("mk_evt")), tileGranularityMs = 2000,
        useBatchSweep = true)
      .collect().map(shape(_, cntLong = false)).toSet
    assert(gotBatch == want, "batch engine sweep (composite key)")

    val mem = MemoryStream[(Long, Long, String, Double, String)]
    val out = c.runWith(
      Map("mk_evt" -> mem.toDF().toDF("ts_ms", "uid", "etype", "value", "cate")),
      tileGranularityMs = 2000)
    val qname = s"mk_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory").queryName(qname)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      rows.grouped(100).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val keys = rows.map(r => (r._2, r._3)).distinct
      mem.addData(keys.map { case (u, e) =>
        (SlidingWindows.FLUSH_TS, u, e, 0.0, null: String) }: _*)
      q.processAllAvailable()
      mem.addData((SlidingWindows.FLUSH_TS, keys.head._1, keys.head._2, 0.0, null: String))
      q.processAllAvailable()
      val got = spark.table(qname).collect().map(shape(_, cntLong = false)).toSet
      assert(got == want, "streaming == batch with composite key")
    } finally q.stop()
  }

  test("PARTITION BY expressions derive hidden key columns, streaming == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    GraftSession.prepare(spark, null)
    // the reference keys windows on the plan's full partition EXPRESSION
    // list (planner.rs:409-415); non-attribute elements auto-derive hidden
    // columns ahead of the engine — the same SQL runs through Catalyst
    // (native expression partitioning) and the engine with equal results
    val eSql = """
      SELECT ts_ms, uid, etype, value,
             sum(value) OVER w AS s10,
             count(*) OVER w AS c10
      FROM px_evt
      WINDOW w AS (PARTITION BY uid % 10, etype ORDER BY ts_ms
                   RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)"""
    val rows = (0 until 300).map { i =>
      (1704067200000L + 700L * i, (i % 30).toLong, Seq("A", "B")(i % 2),
        (i * 3 % 21) / 4.0)
    }
    rows.toDF("ts_ms", "uid", "etype", "value").createOrReplaceTempView("px_evt")
    val c = WindowSql.compile(spark, eSql).fold(e => fail(e), identity)
    assert(c.keyCols.length == 2 && c.keyCols(1) == "etype" &&
      c.keyCols(0).startsWith("__p"), s"derived key list: ${c.keyCols}")
    assert(c.derived.exists(_._1 == c.keyCols(0)))
    def shape(r: org.apache.spark.sql.Row, cntLong: Boolean) =
      (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        R.r6(r.getDouble(4)), if (cntLong) r.getLong(5).toDouble else r.getDouble(5))
    val want = spark.sql(eSql).collect().map(shape(_, cntLong = true)).toSet
    val gotBatch = c.runWith(Map(c.table -> spark.table("px_evt")), tileGranularityMs = 2000,
        useBatchSweep = true)
      .collect().map(shape(_, cntLong = false)).toSet
    assert(gotBatch == want, "batch engine sweep (expression key)")

    val mem = MemoryStream[(Long, Long, String, Double)]
    val out = c.runWith(
      Map("px_evt" -> mem.toDF().toDF("ts_ms", "uid", "etype", "value")),
      tileGranularityMs = 2000)
    val qname = s"px_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory").queryName(qname)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      rows.grouped(100).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      // flush every (uid % 10, etype) composite: one far-future row per
      // DISTINCT uid covers its bucket, etype pairs covered per uid
      val keys = rows.map(r => (r._2, r._3)).distinct
      mem.addData(keys.map { case (u, e) => (SlidingWindows.FLUSH_TS, u, e, 0.0) }: _*)
      q.processAllAvailable()
      mem.addData((SlidingWindows.FLUSH_TS, keys.head._1, keys.head._2, 0.0))
      q.processAllAvailable()
      val got = spark.table(qname).collect().map(shape(_, cntLong = false)).toSet
      assert(got == want, "streaming == batch with expression key")
    } finally q.stop()
  }

  test("partition column doubling as an aggregate argument restores its source type") {
    import spark.implicits._
    GraftSession.prepare(spark, null)
    // uid is BOTH a partition key and the cate argument: it rides the cate
    // string slot (keyPass skips it to avoid a duplicate slot), and the
    // output must still come back as LONG, matching plain Catalyst
    val aSql = """
      SELECT ts_ms, uid, etype,
             sum_cate(value, uid) OVER w AS su
      FROM arg_evt
      WINDOW w AS (PARTITION BY uid, etype ORDER BY ts_ms
                   RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)"""
    val rows = (0 until 120).map { i =>
      (1704067200000L + 700L * i, (i % 3).toLong, Seq("A", "B")(i % 2), (i % 7) / 2.0)
    }
    rows.toDF("ts_ms", "uid", "etype", "value").createOrReplaceTempView("arg_evt")
    val c = WindowSql.compile(spark, aSql).fold(e => fail(e), identity)
    val got = c.runWith(Map(c.table -> spark.table("arg_evt")), tileGranularityMs = 2000,
      useBatchSweep = true)
    assert(got.schema("uid").dataType == org.apache.spark.sql.types.LongType,
      s"uid must restore to LONG, got ${got.schema("uid").dataType}")
    def shape(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))
    assert(got.collect().map(shape).toSet == spark.sql(aSql).collect().map(shape).toSet)
  }

  test("literal README flagship: join ahead of the window, interval frames, streaming == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    GraftSession.prepare(spark, null)
    // production sessions disable static auto-broadcast (GraftSession);
    // the stream-static join must still broadcast via WindowSql's
    // explicit hint — run the whole flagship under that config
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // The reference README's flagship pipeline (README.md:105-146), same
    // text modulo (a) standard clause order — Spark's parser wants FROM
    // before WINDOW — and (b) the code-confirmed (value, cond, cate)
    // argument order for count_cate_where (cate/udf.rs:80-120; the
    // README example itself transposes cate and cond).
    val flagship = """
      SELECT
        u.user_id,
        count(*) OVER w_short AS purchases_1h,
        sum(o.amount) OVER w_long AS spent_30d,
        top(o.product_id, 3) OVER w_long AS top_products_30d,
        topn_frequency(o.product_id, 3) OVER w_long AS top_product_freq_30d,
        top1_ratio(o.product_id) OVER w_rows AS top_product_dominance_last_100,
        sum_cate(o.amount, o.product_type) OVER w_long AS spent_per_category,
        count_cate_where(o.product_id, o.product_type = 'ON_SALE', o.product_type) OVER w_short AS on_sale_count_1h
      FROM users u
      JOIN orders o
        ON u.user_id = o.buyer_id
      WINDOW
        w_short AS (
          PARTITION BY u.user_id
          ORDER BY o.event_time
          RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW
        ),
        w_long AS (
          PARTITION BY u.user_id
          ORDER BY o.event_time
          RANGE BETWEEN INTERVAL '30 day' PRECEDING AND CURRENT ROW
        ),
        w_rows AS (
          PARTITION BY u.user_id
          ORDER BY o.event_time
          ROWS BETWEEN 100 PRECEDING AND CURRENT ROW
        )"""

    val users = Seq(("u0", "ann"), ("u1", "bo"), ("u2", "cy"), ("u3", "dee"))
      .toDF("user_id", "name")
    // event_time in ms over ~40 h so the 1 h window actually slides
    val orders = (0 until 300).map { i =>
      (1704067200000L + 480000L * i, s"u${i % 3}", (i * 7 % 29) / 4.0,
        s"p${i % 7}", Seq("GADGET", "BOOK", "ON_SALE")(i % 5 % 3))
    }
    users.createOrReplaceTempView("users")
    orders.toDF("event_time", "buyer_id", "amount", "product_id", "product_type")
      .createOrReplaceTempView("orders")

    val c = WindowSql.compile(spark, flagship).fold(e => fail(e), identity)
    assert(c.relations.map(_.table) == Seq("users", "orders"))
    assert(c.table == "orders", "the ts qualifier names the streaming side")
    assert(c.aggs.map(_.frame) == Seq(RangeMs(3600000), RangeMs(2592000000L),
      RangeMs(2592000000L), RangeMs(2592000000L), RowsN(100),
      RangeMs(2592000000L), RangeMs(3600000)))

    // batch reference: Catalyst can't RANGE an interval over a LONG ts, so
    // the reference query uses the equivalent ms literals
    val batchSql = flagship
      .replace("INTERVAL '1 hour'", "3600000")
      .replace("INTERVAL '30 day'", "2592000000")
    def shape(r: org.apache.spark.sql.Row, cntLong: Boolean): (String, Double, Double,
        String, String, Option[Double], String, String) =
      (r.getString(0),
        if (cntLong) r.getLong(1).toDouble else r.getDouble(1),
        R.r6(r.getDouble(2)), r.getString(3), r.getString(4),
        Option(r.get(5)).map(d => R.r6(d.asInstanceOf[Double])),
        r.getString(6), r.getString(7))
    val want = spark.sql(batchSql).collect().map(shape(_, cntLong = true))
      .toSeq.sorted
    assert(want.nonEmpty)

    // streaming: orders is the stream, users the static join side
    val mem = MemoryStream[(Long, String, Double, String, String)]
    val srcs = Map(
      "orders" -> mem.toDF().toDF("event_time", "buyer_id", "amount", "product_id", "product_type"),
      "users" -> users)
    val out = c.runWith(srcs, latenessMs = 0, tileGranularityMs = 600000)
    val qname = s"flagship_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(qname).trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      orders.grouped(100).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val buyers = orders.map(_._2).distinct
      mem.addData(buyers.map(b => (SlidingWindows.FLUSH_TS, b, 0.0, null: String, null: String)): _*)
      q.processAllAvailable()
      mem.addData((SlidingWindows.FLUSH_TS, buyers.head, 0.0, null: String, null: String))
      q.processAllAvailable()
      val got = spark.table(qname).collect().map(shape(_, cntLong = false)).toSeq.sorted
      assert(got == want, "README flagship: streaming == batch")
      // the static users side carries the broadcast hint (no AQE in
      // streaming; without it this join is a per-micro-batch SMJ)
      val hinted = out.queryExecution.analyzed.collectFirst {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
          if h.hints.strategy.contains(
            org.apache.spark.sql.catalyst.plans.logical.BROADCAST) => h
      }
      assert(hinted.nonEmpty, "stream-static join lost its broadcast hint")
    } finally {
      q.stop()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("batch router: frame length picks WindowExec vs the tiled sweep") {
    import spark.implicits._
    GraftSession.prepare(spark, null)
    events.map(e => (e._1, e._2, e._3)).toDF("ts_ms", "key", "value")
      .createOrReplaceTempView("rt_evt")
    def q(frameMs: Long) =
      s"""SELECT ts_ms, key, value,
                 top(value, 3) OVER (PARTITION BY key ORDER BY ts_ms
                   RANGE BETWEEN $frameMs PRECEDING AND CURRENT ROW) AS t
          FROM rt_evt ORDER BY ts_ms, key"""
    val short = WindowSql.runBatchAuto(spark, q(5000), tileGranularityMs = 2000)
    val long = WindowSql.runBatchAuto(spark, q(3600000), tileGranularityMs = 60000)
    val shortPlan = short.queryExecution.executedPlan.toString
    val longPlan = long.queryExecution.executedPlan.toString
    assert(shortPlan.contains("Window ["), "short ML frame stays on WindowExec")
    assert(!longPlan.contains("Window [") && longPlan.contains("MapGroups"),
      "long ML frame routes through the tiled sweep")
    // both paths agree with plain Catalyst SQL
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3))).toSeq
    assert(rows(long) == rows(spark.sql(q(3600000))))
    assert(rows(short) == rows(spark.sql(q(5000))))
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
