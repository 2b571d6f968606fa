package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.serving.{FeatureStore, RequestServer, ShardedFeatureStore}
import graft.streaming.SlidingWindows
import graft.streaming.SlidingWindows.{AggSpec, RangeMs}

/** The scale path for serving state: executor-written per-shard logs,
  * key-routed lookups, an offset-only index on the serving side. Pinned
  * against the driver-map [[FeatureStore]] fed from the SAME streaming
  * batches — the two must agree entry-for-entry.
  */
class ShardedFeatureStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("Spark-side shard expression equals the lookup-side route for every key") {
    // single-writer-per-shard depends on both sides hashing identically:
    // the repartition expression and shardOf must agree on EVERY key shape
    import spark.implicits._
    val keys = (0 until 500).map(i => s"u$i") ++
      Seq("", "0", "-1", "key with spaces", "ünïcødé", "9999999999")
    val n = 8
    val sparkSide = keys.toDF("k")
      .withColumn("s", expr(
        s"CAST(conv(substring(md5(CAST(k AS STRING)), 1, 8), 16, 10) AS BIGINT) % $n"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    keys.foreach { k =>
      assert(sparkSide(k) == ShardedFeatureStore.shardOf(k, n), s"key '$k'")
    }
  }

  test("streaming upsert into shards == driver-map store, served over HTTP") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val specs = Seq(AggSpec("sum_10s", "sum", RangeMs(10000)),
                    AggSpec("cnt_10s", "count", RangeMs(10000)))
    val driverStore = new FeatureStore
    val root = GraftSession.tempDir("graft_shard_")
    val sharded = new ShardedFeatureStore(root, numShards = 8)

    val events = (0 until 300).map { i =>
      (1704067200000L + 500L * i, s"u${i % 16}", (i % 17) / 4.0)
    }
    val mem = MemoryStream[(Long, String, Double)]
    val out = SlidingWindows.streamingMulti(mem.toDF().toDF("ts_ms", "key", "value"),
      "key", "ts_ms", Seq("value"), Nil, specs, latenessMs = 0, tileGranularityMs = 2000)
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
        b.persist()
        try {
          FeatureStore.upsertBatch(driverStore, "key", "ts_ms")(b, bid)
          ShardedFeatureStore.upsertBatch(root, 8, "key", "ts_ms")(b, bid)
        } finally { b.unpersist(); () }
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      events.grouped(100).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val keys = events.map(_._2).distinct
      mem.addData(keys.map(k => (SlidingWindows.FLUSH_TS, k, 0.0)): _*)
      q.processAllAvailable()
      mem.addData((SlidingWindows.FLUSH_TS, keys.head, 0.0))
      q.processAllAvailable()
    } finally q.stop()

    // entry-for-entry parity with the driver map fed the same batches
    assert(sharded.size == driverStore.size)
    assert(sharded.keys.toSet == driverStore.keys.toSet)
    driverStore.keys.foreach { k =>
      val (d, s) = (driverStore.get(k).get, sharded.get(k).get)
      assert(s.tsMs == d.tsMs, s"key $k ts")
      assert(s.values == d.values, s"key $k values: ${s.values} vs ${d.values}")
    }

    // the HTTP layer serves straight from the sharded store
    val server = new RequestServer(sharded)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      def post(body: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port/request"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      val e = driverStore.get("u1").get
      val ok = post("""{"key": "u1"}""")
      assert(ok.statusCode() == 200)
      assert(ok.body().contains(s""""ts_ms":${e.tsMs}"""))
      assert(ok.body().contains(s""""sum_10s":${e.values("sum_10s")}"""))
      assert(post("""{"key": "nope"}""").statusCode() == 404)
    } finally server.stop()
  }

  test("last-write-wins across batches by event time, and readers tail new appends") {
    import spark.implicits._
    val root = GraftSession.tempDir("graft_shard_lww_")
    val store = new ShardedFeatureStore(root, numShards = 4)
    def batch(rows: Seq[(String, Long, Double)]): org.apache.spark.sql.DataFrame =
      rows.toDF("key", "ts_ms", "f")

    ShardedFeatureStore.upsertBatch(root, 4, "key", "ts_ms")(
      batch(Seq(("a", 100L, 1.0), ("b", 100L, 2.0))), 0L)
    // a reader that has already tailed must see subsequent appends
    assert(store.get("a").get.values("f") == 1.0)
    ShardedFeatureStore.upsertBatch(root, 4, "key", "ts_ms")(
      batch(Seq(("a", 200L, 5.0))), 1L)
    assert(store.get("a").get.tsMs == 200L)
    assert(store.get("a").get.values("f") == 5.0)
    // an OLDER event time arriving later must not clobber the newer row
    ShardedFeatureStore.upsertBatch(root, 4, "key", "ts_ms")(
      batch(Seq(("a", 150L, 9.0))), 2L)
    assert(store.get("a").get.tsMs == 200L)
    assert(store.get("a").get.values("f") == 5.0)
    assert(store.get("b").get.values("f") == 2.0)
    assert(store.size == 2)
    // a FRESH reader over the same logs reconstructs the same state
    val reopened = new ShardedFeatureStore(root, numShards = 4)
    assert(reopened.get("a").get.tsMs == 200L)
    assert(reopened.size == 2)
  }

  test("a dead writer's torn tail is truncated by the retried append; " +
       "readers neither wedge nor serve garbage") {
    // The SIGKILL failure mode chaos phase 3 exercises, pinned
    // deterministically: a writer killed mid-channel-write leaves a
    // PARTIAL frame at the tail that no one will ever complete. Without
    // the committed-length stamp (r13) the next append landed AFTER the
    // torn bytes and every reader either wedged at the torn frame
    // forever (serving the stale pre-kill value) or parsed the torn
    // length prefix across the retry's bytes and delivered garbage.
    import java.nio.file.{Files, StandardOpenOption}
    import graft.serving.ShardLog
    val root = GraftSession.tempDir("graft_shard_torn_")
    val store = new ShardedFeatureStore(root, numShards = 1)
    val exhaustedBefore = ShardedFeatureStore.exhaustedReads.sum()
    import spark.implicits._
    def batch(rows: Seq[(String, Long, Double)]): org.apache.spark.sql.DataFrame =
      rows.toDF("key", "ts_ms", "f")

    ShardedFeatureStore.upsertBatch(root, 1, "key", "ts_ms")(
      batch(Seq(("a", 100L, 1.0), ("b", 100L, 2.0))), 0L)
    assert(store.get("a").get.values("f") == 1.0) // reader has tailed

    // simulate the corpse: a frame whose length prefix claims 4000 bytes
    // but whose body was cut off mid-write — unstamped, because the
    // writer died before completing the append
    val log = ShardLog.shardDir(root, 0).resolve("data.log")
    val lenBefore = Files.size(log)
    val torn = java.nio.ByteBuffer.allocate(4 + 40)
      .putInt(4000).put(Array.fill[Byte](40)(0x7f)).array()
    Files.write(log, torn, StandardOpenOption.APPEND)
    assert(ShardLog.committedLen(root, 0, "data.log") == lenBefore)

    // the RETRIED task appends — must truncate the torn bytes first
    ShardedFeatureStore.upsertBatch(root, 1, "key", "ts_ms")(
      batch(Seq(("a", 200L, 5.0), ("b", 200L, 6.0))), 1L)

    // both the tailed reader and a fresh one see the retry's rows —
    // and the torn 0x7f bytes are nowhere in the log
    assert(store.get("a").get.tsMs == 200L)
    assert(store.get("a").get.values("f") == 5.0)
    assert(store.get("b").get.values("f") == 6.0)
    val fresh = new ShardedFeatureStore(root, numShards = 1)
    assert(fresh.get("a").get.values("f") == 5.0)
    assert(fresh.size == 2)
    val bytes = Files.readAllBytes(log)
    assert(!bytes.containsSlice(Array.fill[Byte](8)(0x7f)),
      "torn bytes survived in the log")
    assert(ShardLog.committedLen(root, 0, "data.log") == bytes.length)
    assert(ShardedFeatureStore.exhaustedReads.sum() == exhaustedBefore)

    // the FIRST-append crash (r13 review finding): a brand-new log whose
    // very first writer died mid-write has a torn frame and NO stamp —
    // committedLen is -1 and a naive guard would skip truncation
    // forever. The repair must fall back to scanning the last valid
    // frame boundary (here: 0) before the retried append lands.
    val root2 = GraftSession.tempDir("graft_shard_torn0_")
    val dir2 = ShardLog.shardDir(root2, 0)
    Files.createDirectories(dir2)
    Files.write(dir2.resolve("data.log"), torn)
    assert(ShardLog.committedLen(root2, 0, "data.log") == -1L)
    ShardedFeatureStore.upsertBatch(root2, 1, "key", "ts_ms")(
      batch(Seq(("a", 300L, 7.0))), 0L)
    val store2 = new ShardedFeatureStore(root2, numShards = 1)
    assert(store2.get("a").get.values("f") == 7.0)
    assert(store2.size == 1)
    assert(!Files.readAllBytes(dir2.resolve("data.log"))
      .containsSlice(Array.fill[Byte](8)(0x7f)), "first-append torn bytes survived")
  }

  test("replaying a batch is idempotent: at-least-once foreachBatch restarts are safe") {
    import spark.implicits._
    val root = GraftSession.tempDir("graft_shard_replay_")
    val store = new ShardedFeatureStore(root, numShards = 2)
    val batch = Seq(("a", 100L, 1.0), ("b", 200L, 2.0)).toDF("key", "ts_ms", "f")
    ShardedFeatureStore.upsertBatch(root, 2, "key", "ts_ms")(batch, 0L)
    val snap = store.keys.sorted.map(k => k -> store.get(k).get)
    // a restart between the sink write and the checkpoint commit replays
    // the SAME batch — last-write-wins by (ts, later log position) must
    // absorb the duplicate records without changing any entry
    ShardedFeatureStore.upsertBatch(root, 2, "key", "ts_ms")(batch, 0L)
    assert(store.size == 2)
    snap.foreach { case (k, e) =>
      val e2 = store.get(k).get
      assert(e2.tsMs == e.tsMs && e2.values == e.values, s"key $k changed on replay")
    }
  }

  test("log compaction keeps only the newest record per key and live readers survive it") {
    import spark.implicits._
    val root = GraftSession.tempDir("graft_shard_cmp_")
    val reader = new ShardedFeatureStore(root, numShards = 1)
    def upsert(rows: Seq[(String, Long, Double)], compactAt: Long = Long.MaxValue): Unit =
      ShardedFeatureStore.upsertBatch(root, 1, "key", "ts_ms", compactAt)(
        rows.toDF("key", "ts_ms", "f"), 0L)

    // grow the log with updates to the same 4 keys — size scales with
    // UPDATE volume until compaction folds it back to key count
    (1 to 20).foreach { g =>
      upsert((0 until 4).map(k => (s"k$k", g.toLong, g * 10.0 + k)))
      // a live reader tails between every batch (holds pre-compaction offsets)
      assert(reader.get("k0").get.values("f") == g * 10.0)
    }
    val log = java.nio.file.Paths.get(root, "shard-00000", "data.log")
    val before = java.nio.file.Files.size(log)
    // next upsert trips the threshold and the owning task compacts
    upsert((0 until 4).map(k => (s"k$k", 21L, 210.0 + k)), compactAt = 1L)
    val after = java.nio.file.Files.size(log)
    assert(after < before, s"log did not shrink: $before -> $after")
    assert(ShardedFeatureStore.genOf(root, 0) == 1L)
    // the live reader detects the rewrite (gen bump / shrink) and re-parses
    (0 until 4).foreach { k =>
      assert(reader.get(s"k$k").get.values("f") == 210.0 + k)
      assert(reader.get(s"k$k").get.tsMs == 21L)
    }
    assert(reader.size == 4)
    // a fresh reader over the compacted log agrees
    val fresh = new ShardedFeatureStore(root, numShards = 1)
    assert(fresh.size == 4)
    assert(fresh.get("k3").get.values("f") == 213.0)
    // appends after compaction keep working for both readers
    upsert(Seq(("k0", 22L, 999.0)))
    assert(reader.get("k0").get.values("f") == 999.0)
    assert(fresh.get("k0").get.values("f") == 999.0)
  }

  test("a NULL key routes to the same shard the writer appends to") {
    import spark.implicits._
    val root = GraftSession.tempDir("graft_shard_null_")
    val store = new ShardedFeatureStore(root, numShards = 8)
    // null key must not null the Spark-side shard expression (which
    // would route it away from the task appending it to shardOf("null"))
    val batch = Seq((Option.empty[String], 100L, 1.0), (Some("a"), 200L, 2.0))
      .toDF("key", "ts_ms", "f")
    ShardedFeatureStore.upsertBatch(root, 8, "key", "ts_ms")(batch, 0L)
    assert(store.size == 2)
    assert(store.get("null").get.values("f") == 1.0)
    assert(store.get("a").get.values("f") == 2.0)
  }

  test("a torn tail record is not served and does not break complete records") {
    import spark.implicits._
    val root = GraftSession.tempDir("graft_shard_torn_")
    ShardedFeatureStore.upsertBatch(root, 1, "key", "ts_ms")(
      Seq(("a", 100L, 1.0)).toDF("key", "ts_ms", "f"), 0L)
    // simulate a write in flight: a length prefix promising more bytes than exist
    val log = java.nio.file.Paths.get(root, "shard-00000", "data.log")
    val ch = java.nio.channels.FileChannel.open(log,
      java.nio.file.StandardOpenOption.WRITE, java.nio.file.StandardOpenOption.APPEND)
    try ch.write(java.nio.ByteBuffer.allocate(4).putInt(0, 9999)) finally ch.close()
    val store = new ShardedFeatureStore(root, numShards = 1)
    assert(store.get("a").get.values("f") == 1.0) // complete record still served
    assert(store.size == 1)
  }
}
