package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.serving.{FeatureStore, RequestServer, RequestServing, ShardedFeatureStore}
import graft.streaming.SlidingWindows
import graft.streaming.SlidingWindows.{AggSpec, RangeMs, RowsN}

/** Request-mode end-to-end (mirrors the reference's
  * request_source_e2e_test.rs shape): a streaming window query keeps
  * upserting per-key features into the keyed store, and the HTTP endpoint
  * answers keyed lookups with the latest feature row.
  */
class RequestServingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def events: Seq[(Long, String, Double)] =
    (0 until 300).map { i =>
      (1704067200000L + 500L * i, s"u${i % 4}", (i % 17) / 4.0)
    }

  test("streaming upsert store + HTTP endpoint serve the latest window features per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val specs = Seq(AggSpec("sum_10s", "sum", RangeMs(10000)),
                    AggSpec("cnt_10s", "count", RangeMs(10000)))
    val store = new FeatureStore

    val mem = MemoryStream[(Long, String, Double)]
    val out = SlidingWindows.streamingMulti(mem.toDF().toDF("ts_ms", "key", "value"),
      "key", "ts_ms", Seq("value"), Nil, specs, latenessMs = 0, tileGranularityMs = 2000)
    val q = out.writeStream.outputMode("append")
      .foreachBatch(FeatureStore.upsertBatch(store, "key", "ts_ms") _)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      events.grouped(100).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val keys = events.map(_._2).distinct
      mem.addData(keys.map(k => (SlidingWindows.FLUSH_TS, k, 0.0)): _*)
      q.processAllAvailable()
      mem.addData((SlidingWindows.FLUSH_TS, keys.head, 0.0))
      q.processAllAvailable()
    } finally q.stop()

    // reference values: the LAST emitted row per key of the batch OVER query
    events.toDF("ts_ms", "key", "value").createOrReplaceTempView("req_evt")
    val want = spark.sql("""
      SELECT key, ts_ms, sum_10s, cnt_10s FROM (
        SELECT key, ts_ms,
               sum(value) OVER w AS sum_10s, count(value) OVER w AS cnt_10s,
               row_number() OVER (PARTITION BY key ORDER BY ts_ms DESC) AS rn
        FROM req_evt
        WINDOW w AS (PARTITION BY key ORDER BY ts_ms
                     RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
      ) WHERE rn = 1
    """).collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getDouble(2), r.getLong(3).toDouble)).toMap

    assert(store.size == want.size)
    want.foreach { case (k, (ts, s10, c10)) =>
      val e = store.get(k).get
      assert(e.tsMs == ts, s"key $k ts")
      assert(e.values("sum_10s") == s10, s"key $k sum")
      assert(e.values("cnt_10s") == c10, s"key $k cnt")
    }

    // HTTP round-trip
    val server = new RequestServer(store)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      def post(body: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port/request"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())

      val ok = post("""{"key": "u1"}""")
      assert(ok.statusCode() == 200)
      val (ts1, s1, _) = want("u1")
      assert(ok.body().contains(s""""ts_ms":$ts1"""))
      assert(ok.body().contains(s""""sum_10s":$s1"""))
      assert(post("""{"key": "nope"}""").statusCode() == 404)
      assert(post("""not json""").statusCode() == 400)
    } finally server.stop()
  }

  test("live request evaluation: lookup between emissions returns the at-request-time value") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.api.Pipeline
    val mem = MemoryStream[(Long, String, Double)]
    val root = GraftSession.tempDir("graft_live_req_")
    val spec = s"""{
      "execution_mode": "Request",
      "sources": [ { "table_name": "ev_live", "source": { "Memory": {} } } ],
      "window": { "key_column": "key", "ts_column": "ts_ms", "value_column": "value",
                  "tile_granularity_ms": 2000,
                  "aggs": [ {"name": "sum_10s", "kind": "sum", "range_ms": 10000} ] },
      "request_source_sink": { "bind_address": "127.0.0.1:0", "sharded": {"root": "$root"} }
    }"""
    val handle = Pipeline.runJson(spark, spec,
      tables = Map("ev_live" -> mem.toDF().toDF("ts_ms", "key", "value")))
    try {
      val t0 = 1704067200000L
      val phase1 = (0 until 40).map(i => (t0 + 500L * i, "u1", 2.0))
      mem.addData(phase1: _*); handle.query.get.processAllAvailable()
      handle.feeder.get.processAllAvailable()
      // flush: every phase-1 row emits, the store now holds the last emission
      mem.addData((SlidingWindows.FLUSH_TS, "u1", 0.0)); handle.query.get.processAllAvailable()
      mem.addData((SlidingWindows.FLUSH_TS, "u1", 0.0)); handle.query.get.processAllAvailable()
      handle.feeder.get.processAllAvailable()
      val storeTs = handle.store.get.get("u1").get.tsMs
      assert(storeTs == phase1.last._1)

      // phase 2: newer rows arrive but have NOT emitted (no flush) — the
      // upsert store is now stale relative to buffered state
      val t2 = phase1.last._1 + 4000
      val phase2 = Seq((t2 - 1000, "u1", 5.0), (t2, "u1", 7.0))
      mem.addData(phase2: _*); handle.query.get.processAllAvailable()
      handle.feeder.get.processAllAvailable()
      assert(handle.store.get.get("u1").get.tsMs == storeTs, "no new emission yet")

      val client = HttpClient.newHttpClient()
      def post(body: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(
            URI.create(s"http://localhost:${handle.port.get}/request"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())

      // default lookup evaluates at the newest BUFFERED event (t2), not the
      // stale upsert: sum over [t2-10000, t2] of phase1 tail + phase2
      val all = phase1 ++ phase2
      def sumAt(at: Long): Double =
        all.filter(r => r._1 >= at - 10000 && r._1 <= at).map(_._3).sum
      val live = post("""{"key": "u1"}""")
      assert(live.statusCode() == 200)
      assert(live.body().contains(s""""ts_ms":$t2"""), live.body())
      assert(live.body().contains(s""""sum_10s":${sumAt(t2)}"""), live.body())
      assert(live.body().contains(""""live":true"""))
      // the stale store value is different — the live path really changed it
      val staleSum = handle.store.get.get("u1").get.values("sum_10s")
      assert(staleSum != sumAt(t2), "test setup: stale and live must differ")

      // explicit request timestamp: evaluate AT that virtual point
      val atMid = phase1.last._1
      val pit = post(s"""{"key": "u1", "ts_ms": $atMid}""")
      assert(pit.body().contains(s""""sum_10s":${sumAt(atMid)}"""), pit.body())

      // keys with no buffered rows fall back to the upsert store row
      ShardedFeatureStore.upsertBatch(s"$root/store", 8, "key", "ts_ms")(
        Seq(("manual", 42L, 9.5)).toDF("key", "ts_ms", "sum_10s"), 0L)
      val fb = post("""{"key": "manual"}""")
      assert(fb.statusCode() == 200 && fb.body().contains(""""sum_10s":9.5"""), fb.body())
      assert(!fb.body().contains(""""live":true"""))
      assert(post("""{"key": "nope"}""").statusCode() == 404)
    } finally handle.stop()
  }

  test("boundedAsOf counting pass prunes its scan to key/ts columns") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val dir = java.nio.file.Files.createTempDirectory("graft_pit_prune_").toString + "/data"
    (0 until 5000).map(i =>
        (1704067200000L + 100L * i, s"u${i % 4}", i.toDouble, s"wide_payload_$i"))
      .toDF("ts_ms", "key", "value", "payload").write.parquet(dir)
    val df = spark.read.parquet(dir)
    val specs = Seq(AggSpec("min_1k", "min", RowsN(1000)))
    val atTs = 1704067200000L + 100L * 4500
    val out = RequestServing.pointInTime(df, "key", "ts_ms", "value", specs, atTs)
    assert(out.count() == 4)
    val fin = out.queryExecution.executedPlan
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[Set[String]] =
      p.collect {
        case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
        case s: FileSourceScanExec => Seq(s.schema.fieldNames.toSet)
      }.flatten
    val scans = scansOf(fin)
    assert(scans.nonEmpty, s"no file scans found:\n${fin.toString.take(2000)}")
    // the counting pass must NOT drag the wide row columns through its
    // shuffle — its scan reads exactly (key, ts)
    assert(scans.exists(_ == Set("key", "ts_ms")),
      s"counting-pass scan not pruned to key/ts: $scans")
    assert(scans.exists(_.contains("value")), s"main scan missing: $scans")
  }

  test("pointInTimeMulti evaluates every aggregate kind at the virtual point") {
    import spark.implicits._
    GraftSession.prepare(spark, null)
    val cats = Seq("alpha", "beta", "gamma")
    val evs = (0 until 300).map { i =>
      (1704067200000L + 500L * i, s"u${i % 4}", (i % 17) / 4.0,
        if (i % 3 == 0) 1.0 else 0.0, cats(i % 5 % 3))
    }
    val atTs = 1704067200000L + 500L * 260 + 250
    evs.toDF("ts_ms", "key", "value", "big", "cate").createOrReplaceTempView("pit_evt")
    val got = RequestServing.pointInTimeMulti(
        evs.toDF("ts_ms", "key", "value", "big", "cate"),
        "key", "ts_ms", Seq("value", "big"), Seq("cate"),
        Seq(AggSpec("s10", "sum", RangeMs(10000)),
            AggSpec("sw10", "sum_where", RangeMs(10000), wIdx = 1),
            AggSpec("sd10", "stddev", RangeMs(10000)),
            AggSpec("top3", "top", RangeMs(10000), 3),
            AggSpec("sc", "sum_cate", RangeMs(10000)),
            AggSpec("tnv", "top_n_value_sum_cate_where", RangeMs(10000), 2, wIdx = 1),
            AggSpec("rv", "top_n_value_ratio_cate", RangeMs(10000), 2, wIdx = 1),
            AggSpec("a5r", "avg", RowsN(4))), atTs)
      .collect().map(r => r.getString(0) -> (0 until r.length).drop(1).map(r.get).toSeq).toMap

    // the same evaluation expressed with the batch UDAFs over the
    // explicitly-filtered frame rows (RANGE = inclusive [atTs-10s, atTs],
    // ROWS 4 = the 5 most recent rows at/before atTs)
    val want = spark.sql(s"""
      WITH win AS (SELECT * FROM pit_evt
                   WHERE ts_ms <= $atTs AND ts_ms >= $atTs - 10000),
      last5 AS (SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY key ORDER BY ts_ms DESC) AS rn
          FROM pit_evt WHERE ts_ms <= $atTs) WHERE rn <= 5),
      a AS (SELECT key, sum(value) AS s10,
                   sum_where(value, big = 1.0) AS sw10,
                   stddev_samp(value) AS sd10,
                   top(value, 3) AS top3,
                   sum_cate(value, cate) AS sc,
                   top_n_value_sum_cate_where(value, big = 1.0, cate, 2) AS tnv,
                   top_n_value_ratio_cate(value, big = 1.0, cate, 2) AS rv
            FROM win GROUP BY key),
      b AS (SELECT key, avg(value) AS a5r FROM last5 GROUP BY key)
      SELECT a.*, b.a5r FROM a JOIN b USING (key)
    """).collect().map(r => r.getString(0) -> (0 until r.length).drop(1).map(r.get).toSeq).toMap

    assert(got.keySet == want.keySet)
    for (k <- want.keySet) {
      val (g, w) = (got(k), want(k))
      assert(g.length == w.length)
      g.zip(w).zipWithIndex.foreach {
        case ((null, wv), i) => assert(wv == null, s"$k[$i]: got null, want $wv")
        case ((gv: java.lang.Double, wv), i) =>
          val wd = wv.asInstanceOf[Number].doubleValue()
          assert(math.abs(gv - wd) < 1e-9, s"$k[$i]: $gv vs $wd")
        case ((gv, wv), i) => assert(gv == wv, s"$k[$i]: $gv vs $wv")
      }
    }
  }

  test("ROWS-frame point-in-time scan is bounded to the per-key horizon, results unchanged") {
    import spark.implicits._
    // one hot key with 20k rows spread over 200 buckets, one sparse key
    val base = 1704067200000L
    val hot = (0 until 20000).map(i => (base + i * 10L, "hot", (i % 23).toDouble))
    val sparse = (0 until 5).map(i => (base + 141000L + i * 2000L, "sparse", i.toDouble))
    val df = (hot ++ sparse).toDF("ts_ms", "key", "value")
    val atTs = base + 150000L
    val specs = Seq(AggSpec("mn", "min", RowsN(10)),
                    AggSpec("s2", "sum", RangeMs(2000)))

    // the bounded scan keeps ~one 1s bucket beyond the 11-row lookback for
    // the hot key (not its full 20k-row history) and everything for the
    // sparse key (< 11 rows total)
    val bounded = RequestServing.boundedAsOf(df, "key", "ts_ms", specs, atTs,
      bucketMs = 1000L)
    val hotKept = bounded.where($"key" === "hot").count()
    assert(hotKept <= 2 * 100 + 11, s"hot key kept $hotKept rows — scan not bounded")
    assert(bounded.where($"key" === "sparse").count() == 5)

    // results match a direct evaluation of the frames
    val got = RequestServing.pointInTime(df, "key", "ts_ms", "value", specs, atTs)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val hotUpTo = hot.filter(_._1 <= atTs)
    val expMin = hotUpTo.sortBy(_._1).takeRight(11).map(_._3).min
    val expSum = hotUpTo.filter(_._1 >= atTs - 2000).map(_._3).sum
    assert(got("hot") == ((expMin, expSum)))
    val sparseUpTo = sparse.filter(_._1 <= atTs)
    assert(got("sparse") ==
      ((sparseUpTo.map(_._3).min, sparseUpTo.filter(_._1 >= atTs - 2000).map(_._3).sum)))
  }

  test("pointInTime == batch OVER frames evaluated at the virtual point") {
    import spark.implicits._
    val df = events.toDF("ts_ms", "key", "value")
    val atTs = 1704067200000L + 500L * 200 + 250 // between events
    val got = RequestServing.pointInTime(df, "key", "ts_ms", "value",
        Seq(AggSpec("s10", "sum", RangeMs(10000)),
            AggSpec("c10", "count", RangeMs(10000)),
            AggSpec("a5r", "avg", RowsN(4))), atTs)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(2), r.getDouble(3))).toMap

    val perKey = events.filter(_._1 <= atTs).groupBy(_._2)
    val want = perKey.map { case (k, rows) =>
      val inRange = rows.filter(_._1 >= atTs - 10000).map(_._3)
      val last5 = rows.sortBy(_._1).takeRight(5).map(_._3)
      k -> (inRange.sum, inRange.size.toLong, last5.sum / last5.size)
    }
    assert(got.keySet == want.keySet)
    want.foreach { case (k, (s, c, a)) =>
      assert(math.abs(got(k)._1 - s) < 1e-9); assert(got(k)._2 == c)
      assert(math.abs(got(k)._3 - a) < 1e-9)
    }
  }

  test("RANGE boundary row (ts == atTs - len) is included by every evaluation path") {
    import spark.implicits._
    // a row EXACTLY at atTs - len: the engine emission frame, the live
    // point eval, the conditional-aggregate path, and SQL's RANGE
    // BETWEEN len PRECEDING AND CURRENT ROW must all include it
    val atTs = 1704067200000L + 20000L
    val rows = Seq((atTs - 20000, "k", 100.0), // outside every 10s frame
                   (atTs - 10000, "k", 1.0),   // ON the boundary
                   (atTs - 500, "k", 2.0), (atTs, "k", 4.0))
    val spec = Seq(AggSpec("s10", "sum", RangeMs(10000)))

    // SQL reference frame at the atTs row
    val sqlSum = {
      rows.toDF("ts_ms", "key", "value").createOrReplaceTempView("bnd_evt")
      spark.sql("""SELECT sum(value) OVER (PARTITION BY key ORDER BY ts_ms
                     RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS s
                   FROM bnd_evt ORDER BY ts_ms""")
        .collect().last.getDouble(0)
    }
    assert(sqlSum == 7.0) // boundary row IS in SQL's frame

    // live point eval (the POST /request path)
    val live = SlidingWindows.evalAtPoint(
      rows.map(r => (r._1, Array(r._3), Array.empty[String])), spec, atTs)
    assert(live == Seq(7.0))

    // conditional-aggregate batch path
    val cond = RequestServing.pointInTime(rows.toDF("ts_ms", "key", "value"),
        "key", "ts_ms", "value", spec, atTs).collect()(0).getDouble(1)
    assert(cond == 7.0)

    // engine path (mapGroupsWithState emission at the atTs row)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val out = SlidingWindows.streamingMulti(mem.toDF().toDF("ts_ms", "key", "value"),
      "key", "ts_ms", Seq("value"), Nil, spec, latenessMs = 0, tileGranularityMs = 2000)
    val sink = new scala.collection.mutable.ArrayBuffer[(Long, Double)]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sink ++= b.collect().map(r =>
          (r.getLong(r.fieldIndex("ts_ms")), r.getDouble(r.fieldIndex("s10"))))
        ()
      }.trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData(rows: _*); q.processAllAvailable()
      mem.addData((SlidingWindows.FLUSH_TS, "k", 0.0)); q.processAllAvailable()
      mem.addData((SlidingWindows.FLUSH_TS, "k", 0.0)); q.processAllAvailable()
    } finally q.stop()
    assert(sink.toMap.apply(atTs) == 7.0)
  }
}
