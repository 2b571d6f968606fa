package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Pipeline
import graft.sources.Kafka
import graft.streaming.SlidingWindows

/** Pipeline-spec front-end tests: the README flagship pipeline
  * (reference README.md:105-146 — join + RANGE/ROWS OVER windows +
  * top/cate aggregates) runs end-to-end from a JSON spec file, plus
  * streaming dispatch, Kafka option mapping/decode, and request mode.
  */
class PipelineApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val flagshipSql = """
    SELECT u.user_id,
           count(*) OVER w_short AS purchases_1h,
           sum(o.amount) OVER w_long AS spent_30d,
           top(o.amount, 3) OVER w_long AS top_amounts_30d,
           topn_frequency(o.product_type, 2) OVER w_long AS top_product_freq_30d,
           top1_ratio(o.product_type) OVER w_rows AS top_product_dominance,
           sum_cate(o.amount, o.product_type) OVER w_long AS spent_per_category,
           count_cate_where(o.product_id, o.product_type = 'ON_SALE', o.product_type)
             OVER w_short AS on_sale_count_1h
    FROM users u JOIN orders o ON u.user_id = o.buyer_id
    WINDOW
      w_short AS (PARTITION BY u.user_id ORDER BY o.event_time
                  RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW),
      w_long AS (PARTITION BY u.user_id ORDER BY o.event_time
                 RANGE BETWEEN 2592000000 PRECEDING AND CURRENT ROW),
      w_rows AS (PARTITION BY u.user_id ORDER BY o.event_time
                 ROWS BETWEEN 100 PRECEDING AND CURRENT ROW)"""

  test("README flagship pipeline runs end-to-end from a JSON spec file (Batch)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_pipe_").toString
    (1 to 8).map(i => (i.toLong, s"user_$i"))
      .toDF("user_id", "name").write.parquet(s"$dir/users")
    (0 until 500).map { i =>
      (i.toLong, (i % 8 + 1).toLong, 1704067200000L + 977000L * i,
        (i * 3 % 50) / 4.0, s"p${i % 23}", Seq("GADGET", "BOOK", "ON_SALE")(i % 3))
    }.toDF("order_id", "buyer_id", "event_time", "amount", "product_id", "product_type")
      .write.parquet(s"$dir/orders")

    val spec = s"""{
      "execution_mode": "Batch",
      "parallelism": 4,
      "sources": [
        { "table_name": "users",
          "schema_json": {"fields": [
            {"name": "user_id", "nullable": false, "type": {"name": "int", "bitWidth": 64}},
            {"name": "name", "nullable": true, "type": {"name": "utf8"}}]},
          "source": { "Parquet": {"path": "$dir/users"} } },
        { "table_name": "orders",
          "source": { "Parquet": {"path": "$dir/orders"} } }
      ],
      "sql": ${jstr(flagshipSql)},
      "sink": { "Memory": {"table_name": "flagship_out"} }
    }"""
    val specPath = s"$dir/pipeline_spec.json"
    Files.writeString(java.nio.file.Paths.get(specPath), spec)

    val handle = Pipeline.runFile(spark, specPath)
    val got = spark.table("flagship_out").collect().map(_.toSeq).toSet
    assert(got.size == 500)
    // loader output == the same SQL run directly on the registered views
    val want = spark.sql(flagshipSql).collect().map(_.toSeq).toSet
    assert(got == want)
    handle.stop()
  }

  test("Streaming pipeline: memory source -> sql -> memory sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val spec = """{
      "execution_mode": "Streaming",
      "sources": [ { "table_name": "ev_stream", "source": { "Memory": {} } } ],
      "sql": "SELECT ts_ms, key, value * 2 AS v2 FROM ev_stream WHERE value > 1.0",
      "sink": { "Memory": {"table_name": "stream_out"} }
    }"""
    val handle = Pipeline.runJson(spark, spec,
      tables = Map("ev_stream" -> mem.toDF().toDF("ts_ms", "key", "value")))
    try {
      mem.addData((1L, "a", 0.5), (2L, "b", 2.0), (3L, "c", 3.0))
      handle.query.get.processAllAvailable()
      val got = spark.table("stream_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(got == Set((2L, "b", 4.0), (3L, "c", 6.0)))
    } finally handle.stop()
  }

  test("trigger_ms sets the trigger interval; absent means ProcessingTime(0)") {
    import com.fasterxml.jackson.databind.ObjectMapper
    import org.apache.spark.sql.streaming.Trigger
    val mapper = new ObjectMapper()
    def trig(json: String) = Pipeline.specTrigger(mapper.readTree(json))
    assert(trig("""{"trigger_ms": 1500}""") == Trigger.ProcessingTime(1500))
    assert(trig("""{}""") == Trigger.ProcessingTime(0))
    // and the interval reaches a REAL streaming query
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val spec = """{
      "execution_mode": "Streaming",
      "trigger_ms": 3000,
      "sources": [ { "table_name": "ev_fr", "source": { "Memory": {} } } ],
      "sql": "SELECT ts_ms, key, value FROM ev_fr",
      "sink": { "Memory": {"table_name": "fresh_out"} }
    }"""
    val handle = Pipeline.runJson(spark, spec,
      tables = Map("ev_fr" -> mem.toDF().toDF("ts_ms", "key", "value")))
    try {
      mem.addData((1L, "a", 1.0))
      handle.query.get.processAllAvailable()
      assert(spark.table("fresh_out").count() == 1)
    } finally handle.stop()
  }

  test("per-operator overrides: parallelism + Window tuning applied, Spark-owned knobs warn-ignored") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    GraftSession.prepare(spark, null)
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val mem = MemoryStream[(Long, String, Double)]
    // reference-shaped override block (pipeline.rs:33-55, overrides.rs):
    // parallelism -> shuffle/state partitions; Window.lateness + tiling
    // granularities -> engine knobs; transport/dump knobs ignored by name
    val spec = s"""{
      "execution_mode": "Streaming",
      "parallelism": 3,
      "operator_overrides": {
        "per_operator": { "window": {
          "transport": { "queue_records": 512 },
          "tuning": { "Window": {
            "lateness": 60000,
            "compaction_interval_ms": 1000,
            "tiling": { "granularities_ms": [2000, 10000] } } } } } },
      "sources": [ { "table_name": "ovr_evt", "source": { "Memory": {} } } ],
      "sql": "SELECT ts_ms, key, sum(value) OVER (PARTITION BY key ORDER BY ts_ms RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS s10 FROM ovr_evt",
      "sink": { "Memory": {"table_name": "ovr_out"} }
    }"""
    val evs = (0 until 120).map(i => (1704067200000L + 997L * i, s"k${i % 2}", (i % 9) / 4.0))
    val handle = Pipeline.runJson(spark, spec,
      tables = Map("ovr_evt" -> mem.toDF().toDF("ts_ms", "key", "value")))
    try {
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
      // out-of-order arrival within the override's 60 s lateness
      val rnd = new scala.util.Random(7)
      evs.grouped(60).foreach { b => mem.addData(rnd.shuffle(b): _*); handle.query.get.processAllAvailable() }
      mem.addData(evs.map(_._2).distinct.map(k => (SlidingWindows.FLUSH_TS, k, 0.0)): _*)
      handle.query.get.processAllAvailable()
      mem.addData((SlidingWindows.FLUSH_TS, evs.head._2, 0.0))
      handle.query.get.processAllAvailable()
      evs.toDF("ts_ms", "key", "value").createOrReplaceTempView("ovr_batch")
      val want = spark.sql(
        """SELECT ts_ms, key, sum(value) OVER (PARTITION BY key ORDER BY ts_ms
             RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS s10 FROM ovr_batch""")
        .collect().map(r => (r.getLong(0), r.getString(1), R.r6(r.getDouble(2)))).toSet
      val got = spark.table("ovr_out").collect()
        .map(r => (r.getLong(0), r.getString(1), R.r6(r.getDouble(2)))).toSet
      assert(got == want)
    } finally {
      handle.stop()
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
    // the FULL granularity list reaches the engine (not just the head): a
    // non-multiple coarse tail must fail tileGrans validation instead of
    // being silently dropped
    val badSpec = spec.replace("[2000, 10000]", "[2000, 5000]")
    val mem2 = MemoryStream[(Long, String, Double)]
    val err = intercept[IllegalArgumentException] {
      val h = Pipeline.runJson(spark, badSpec,
        tables = Map("ovr_evt" -> mem2.toDF().toDF("ts_ms", "key", "value")))
      h.stop()
    }
    assert(err.getMessage.contains("multiple"), err.getMessage)
    spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }

  test("spec-level knob: state_store_provider sets the session conf") {
    import spark.implicits._
    GraftSession.prepare(spark, null)
    import graft.streaming.StateStoreConf
    val saved = StateStoreConf.snapshot(spark)
    try {
      val dir = GraftSession.tempDir("graft_pipe_knobs_")
      Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/in")
      val spec = s"""{
        "execution_mode": "Batch",
        "state_store_provider": "rocksdb",
        "sources": [ { "table_name": "knob_src",
                       "source": { "Parquet": {"path": "$dir/in"} } } ],
        "sql": "SELECT count(*) AS n FROM knob_src",
        "sink": { "Memory": {"table_name": "knob_out"} }
      }"""
      Pipeline.runJson(spark, spec).stop()
      assert(spark.conf.get(StateStoreConf.ProviderKey) ==
        StateStoreConf.RocksDbProvider)
    } finally StateStoreConf.restore(spark, saved)
  }

  /** Runs a windowed Streaming spec (`fields` spliced in) on a fresh
    * session through two micro-batches into a Parquet sink; returns the
    * names of the state-store files under its checkpoint. */
  private def windowStateFiles(fields: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val session = spark.newSession()
    implicit val sqlCtx = session.sqlContext
    import session.implicits._
    val root = Files.createTempDirectory("pipe_provider_")
    val ckpt = root.resolve("ckpt")
    val mem = MemoryStream[(Long, String, Double)]
    val spec = s"""{
      "execution_mode": "Streaming", $fields
      "sources": [ { "table_name": "prov_ev", "source": { "Memory": {} } } ],
      "sql": "SELECT ts_ms, key, sum(value) OVER (PARTITION BY key ORDER BY ts_ms RANGE BETWEEN 60000 PRECEDING AND CURRENT ROW) AS s60 FROM prov_ev",
      "sink": { "Parquet": {"path": "${root.resolve("out")}", "checkpoint": "$ckpt"} }
    }"""
    val handle = Pipeline.runJson(session, spec,
      tables = Map("prov_ev" -> mem.toDF().toDF("ts_ms", "key", "value")))
    try (0 until 2).foreach { t =>
      mem.addData((0 until 12).map(i =>
        (1704067200000L + 1000L * (12 * t + i), s"k${i % 3}", i.toDouble)): _*)
      handle.query.get.processAllAvailable()
    } finally handle.stop()
    Files.walk(ckpt.resolve("state")).iterator().asScala
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSeq
  }

  test("state_store_provider is obeyed by window pipelines; none means RocksDB") {
    val hdfs = windowStateFiles(""""state_store_provider": "hdfs",""")
    assert(hdfs.exists(_.endsWith(".delta")) && !hdfs.exists(_.endsWith(".changelog")),
      s"hdfs spec did not run on the HDFS-backed store: ${hdfs.take(8)}")
    val default = windowStateFiles("")
    assert(default.exists(_.endsWith(".changelog")) && !default.exists(_.endsWith(".delta")),
      s"window pipeline without a provider did not run on RocksDB: ${default.take(8)}")
    // request mode: the session's provider when its queries started
    import graft.streaming.StateStoreConf
    Seq(""""state_store_provider": "hdfs",""" -> StateStoreConf.HdfsProvider,
        "" -> StateStoreConf.RocksDbProvider).foreach { case (fields, want) =>
      val session = spark.newSession()
      implicit val sqlCtx = session.sqlContext
      import session.implicits._
      val mem = MemoryStream[(Long, String, Double)]
      val handle = Pipeline.runJson(session, s"""{
        "execution_mode": "Request", $fields
        "sources": [ { "table_name": "prov_req", "source": { "Memory": {} } } ],
        "window": { "aggs": [ {"name": "s10", "kind": "sum", "range_ms": 10000} ] }
      }""", tables = Map("prov_req" -> mem.toDF().toDF("ts_ms", "key", "value")))
      try assert(session.conf.get(StateStoreConf.ProviderKey) == want, fields)
      finally handle.stop()
    }
  }

  test("every removed spec field is rejected at parse time, before a query starts") {
    def spec(mode: String, fields: String) = s"""{
      "execution_mode": "$mode", $fields
      "sources": [ { "table_name": "gone_ev", "source": { "Memory": {} } } ],
      "sql": "SELECT ts_ms, key, sum(value) OVER (PARTITION BY key ORDER BY ts_ms RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS s FROM gone_ev",
      "sink": { "Memory": {"table_name": "gone_out"} }
    }"""
    Seq(
      "engine" -> spec("Streaming", """"engine": "fmgws","""),
      "freshness_target_ms" -> spec("Streaming", """"freshness_target_ms": 6000,"""),
      "trigger_floor_ms" -> spec("Streaming", """"trigger_floor_ms": 100,"""),
      "tuning.Fuzzy.block_width" -> spec("Streaming", """"operator_overrides":
        {"per_operator": {"fz": {"tuning": {"Fuzzy": {"block_width": 2}}}}},"""),
      "request_source_sink.coalesce" -> spec("Request",
        """"request_source_sink": {"coalesce": false},""")
    ).foreach { case (name, json) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, String, Double)]
      val before = spark.streams.active.length
      val err = intercept[RuntimeException](Pipeline.runJson(spark, json,
        tables = Map("gone_ev" -> mem.toDF().toDF("ts_ms", "key", "value"))))
      assert(err.getMessage.contains(s"\"$name\" field is gone"), err.getMessage)
      assert(spark.streams.active.length == before, s"$name: a query started anyway")
    }
  }

  test("Datagen source: field generators produce the declared columns deterministically") {
    val spec = """{
      "execution_mode": "Batch",
      "sources": [
        { "table_name": "gen",
          "source": { "Datagen": { "limit": 10, "fields": {
            "ts": {"IncrementalTimestamp": {"start_ms": 1000, "step_ms": 5}},
            "k": {"Key": {"num_unique": 3}},
            "i": {"Increment": {}},
            "v": {"Values": {"values": ["a", "b"]}},
            "s": {"String": {"prefix": "doc_"}},
            "u": {"Uniform": {"min": 1.0, "max": 2.0}} } } } }
      ],
      "sql": "SELECT ts, k, i, v, s, u FROM gen",
      "sink": { "Memory": {"table_name": "gen_out"} }
    }"""
    val handle = Pipeline.runJson(spark, spec)
    val rows = spark.table("gen_out").orderBy("i").collect()
    assert(rows.length == 10)
    assert(rows.map(_.getLong(0)).toSeq == (0 until 10).map(i => 1000L + 5L * i))
    assert(rows.map(_.getString(1)).toSeq == (0 until 10).map(i => s"key_${i % 3}"))
    assert(rows.map(_.getString(3)).toSeq == (0 until 10).map(i => Seq("a", "b")(i % 2)))
    assert(rows.map(_.getString(4)).toSeq == (0 until 10).map(i => s"doc_$i"))
    assert(rows.forall(r => r.getDouble(5) >= 1.0 && r.getDouble(5) < 2.0))
    handle.stop()
  }

  test("Kafka spec maps 1:1 to Spark kafka options; decode parses JSON values") {
    val spec = Kafka.Spec("broker1:9092,broker2:9092", "events", offset = "Group",
      groupId = Some("graft-g1"), clientConfigs = Map("security.protocol" -> "SSL"),
      maxBatchRecords = Some(5000L))
    val opts = Kafka.options(spec)
    assert(opts("kafka.bootstrap.servers") == "broker1:9092,broker2:9092")
    assert(opts("subscribe") == "events")
    assert(opts("startingOffsets") == "earliest") // Group -> checkpointed resume
    assert(opts("kafka.group.id") == "graft-g1")
    assert(opts("kafka.security.protocol") == "SSL")
    assert(opts("maxOffsetsPerTrigger") == "5000")
    assert(Kafka.options(spec.copy(offset = "Latest"))("startingOffsets") == "latest")

    // decode path (the same transform a real kafka frame goes through)
    import spark.implicits._
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val raw = Seq("""{"user_id": 7, "event_type": "click", "value": 1.5}""",
                  """{"user_id": 8, "event_type": "view", "value": 2.5}""")
      .toDF("value")
    val got = Kafka.decode(raw, schema).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((7L, "click", 1.5), (8L, "view", 2.5)))
  }

  test("Kafka decode end-to-end: STREAMING binary-value frame through the exact schema") {
    // broker-free pin of the decode contract (the reference's integration
    // tests need testcontainers — kafka/integration_tests.rs): a streaming
    // frame with kafka's raw wire shape (binary value + metadata columns)
    // runs through Kafka.decode inside a real streaming query; schema and
    // values must round-trip. Config drift in the option map is pinned by
    // the sibling test above; this pins the streaming decode path.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val mem = MemoryStream[(String, String)]
    // kafka raw shape: key/value BINARY + topic/partition/offset metadata
    val raw = mem.toDF().toDF("k", "v")
      .selectExpr("CAST(k AS BINARY) AS key", "CAST(v AS BINARY) AS value",
        "'events' AS topic", "0 AS partition", "CAST(0 AS BIGINT) AS offset")
    val decoded = Kafka.decode(raw, schema)
    assert(decoded.isStreaming, "decode must stay a streaming frame")
    assert(decoded.schema == schema, s"decoded schema ${decoded.schema}")
    val qname = s"kafka_${System.nanoTime()}"
    val q = decoded.writeStream.outputMode("append").format("memory")
      .queryName(qname).start()
    try {
      mem.addData(
        ("u7", """{"user_id": 7, "event_type": "click", "value": 1.5}"""),
        ("u8", """{"user_id": 8, "event_type": "view", "value": 2.5}"""),
        ("u9", """not json at all"""))
      q.processAllAvailable()
      val got = spark.table(qname).collect()
      // malformed records decode to an all-null row (PERMISSIVE mode), not
      // a query failure — a poison message must not kill the pipeline
      assert(got.length == 3)
      val good = got.filter(!_.isNullAt(0))
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(good == Set((7L, "click", 1.5), (8L, "view", 2.5)))
      assert(got.count(r => r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2)) == 1)
    } finally q.stop()
  }

  test("Request-mode pipeline: window block -> upsert store -> HTTP lookups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val spec = """{
      "execution_mode": "Request",
      "sources": [ { "table_name": "ev_req", "source": { "Memory": {} } } ],
      "window": { "key_column": "key", "ts_column": "ts_ms", "value_column": "value",
                  "tile_granularity_ms": 2000,
                  "aggs": [ {"name": "sum_10s", "kind": "sum", "range_ms": 10000},
                             {"name": "cnt_10s", "kind": "count", "range_ms": 10000} ] },
      "request_source_sink": { "bind_address": "127.0.0.1:0", "coalesce": true }
    }"""
    val handle = Pipeline.runJson(spark, spec,
      tables = Map("ev_req" -> mem.toDF().toDF("ts_ms", "key", "value")))
    try {
      // no `sharded` block: the serving tail is sharded anyway
      import graft.serving.{ShardedFeatureStore, ShardedServingBuffer}
      assert(handle.store.exists(_.isInstanceOf[ShardedFeatureStore]), handle.store)
      assert(handle.buffer.exists(_.isInstanceOf[ShardedServingBuffer]), handle.buffer)
      val events = (0 until 200).map(i => (1704067200000L + 500L * i, s"u${i % 3}", (i % 9) / 4.0))
      events.grouped(80).foreach { b => mem.addData(b: _*); handle.query.get.processAllAvailable() }
      val keys = events.map(_._2).distinct
      mem.addData(keys.map(k => (SlidingWindows.FLUSH_TS, k, 0.0)): _*)
      handle.query.get.processAllAvailable()
      mem.addData((SlidingWindows.FLUSH_TS, keys.head, 0.0))
      handle.query.get.processAllAvailable()

      // expected: last row per key of the batch OVER reference
      events.toDF("ts_ms", "key", "value").createOrReplaceTempView("req_pipe_evt")
      val want = spark.sql("""
        SELECT key, sum_10s FROM (
          SELECT key, sum(value) OVER (PARTITION BY key ORDER BY ts_ms
                   RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS sum_10s,
                 row_number() OVER (PARTITION BY key ORDER BY ts_ms DESC) AS rn
          FROM req_pipe_evt) WHERE rn = 1
      """).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

      val client = HttpClient.newHttpClient()
      keys.foreach { k =>
        val resp = client.send(
          HttpRequest.newBuilder(URI.create(s"http://localhost:${handle.port.get}/request"))
            .POST(HttpRequest.BodyPublishers.ofString(s"""{"key": "$k"}""")).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() == 200, s"key $k")
        assert(resp.body().contains(s""""sum_10s":${want(k)}"""), s"key $k: ${resp.body()}")
      }
      // every live lookup above rode the server's coalescer
      val co = handle.server.get.coalescer
      assert(co.isDefined && co.get.requests == keys.length.toLong)
    } finally handle.stop()
  }

  test("Request-mode pipeline declared by SQL (README user_features shape)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    GraftSession.prepare(spark, null)
    val reqSql = """
      SELECT ts_ms, key,
             sum(value) OVER w AS spent_10s,
             count(*) OVER w AS purchases_10s
      FROM req_sql_evt
      WINDOW w AS (PARTITION BY key ORDER BY ts_ms
                   RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)"""
    val mem = MemoryStream[(Long, String, Double)]
    val spec = s"""{
      "execution_mode": "Request",
      "sources": [ { "table_name": "req_sql_evt", "source": { "Memory": {} } } ],
      "sql": ${jstr(reqSql)},
      "window": { "tile_granularity_ms": 2000 },
      "request_source_sink": { "bind_address": "127.0.0.1:0" }
    }"""
    val events = (0 until 200).map(i => (1704067200000L + 400L * i, s"u${i % 3}", (i % 13) / 4.0))
    val handle = Pipeline.runJson(spark, spec,
      tables = Map("req_sql_evt" -> mem.toDF().toDF("ts_ms", "key", "value")))
    try {
      events.grouped(80).foreach { b => mem.addData(b: _*); handle.query.get.processAllAvailable() }
      val keys = events.map(_._2).distinct
      mem.addData(keys.map(k => (SlidingWindows.FLUSH_TS, k, 0.0)): _*)
      handle.query.get.processAllAvailable()
      mem.addData((SlidingWindows.FLUSH_TS, keys.head, 0.0))
      handle.query.get.processAllAvailable()

      events.toDF("ts_ms", "key", "value").createOrReplaceTempView("req_sql_ref")
      val want = spark.sql("""
        SELECT key, spent_10s FROM (
          SELECT key, sum(value) OVER (PARTITION BY key ORDER BY ts_ms
                   RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS spent_10s,
                 row_number() OVER (PARTITION BY key ORDER BY ts_ms DESC) AS rn
          FROM req_sql_ref) WHERE rn = 1
      """).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

      val client = HttpClient.newHttpClient()
      keys.foreach { k =>
        val resp = client.send(
          HttpRequest.newBuilder(URI.create(s"http://localhost:${handle.port.get}/request"))
            .POST(HttpRequest.BodyPublishers.ofString(s"""{"key": "$k"}""")).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() == 200, s"key $k")
        assert(resp.body().contains(s""""spent_10s":${want(k)}"""), s"key $k: ${resp.body()}")
      }
    } finally handle.stop()
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
