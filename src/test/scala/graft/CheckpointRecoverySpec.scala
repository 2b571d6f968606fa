package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.SlidingWindows
import graft.streaming.SlidingWindows.{AggSpec, RangeMs, RowsN}

/** Kill/recovery semantics (mirrors the reference's checkpoint tests —
  * src/runtime/tests/checkpoint_tests/kill_recovery.rs): a streaming
  * window query with a DURABLE checkpoint is stopped mid-stream and
  * restarted; the restarted query must restore per-key window state from
  * the state store and the combined output must be exactly-once equal to
  * the batch reference — no lost rows, no duplicates, no frames computed
  * from truncated state.
  */
class CheckpointRecoverySpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("stop + restart from a durable checkpoint is exactly-once and state-correct") {
    runKillRecovery(rocksDb = false)
  }

  // the state store window pipelines default to (api.Pipeline)
  test("RocksDB state store: stop + restart from a durable checkpoint is exactly-once") {
    runKillRecovery(rocksDb = true)
  }

  private def runKillRecovery(rocksDb: Boolean): Unit =
    graft.streaming.StateStoreConf.withSaved(spark) {
    if (rocksDb) graft.streaming.StateStoreConf.setRocksDb(spark)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val events = (0 until 600).map { i =>
      (1704067200000L + 700L * i, s"k${i % 3}", (i * 5 % 23) / 4.0)
    }
    val specs = Seq(AggSpec("sum_10s", "sum", RangeMs(10000)),
                    AggSpec("avg_5r", "avg", RowsN(4)))

    val root = Files.createTempDirectory("graft_ckpt_").toString
    val outDir = s"$root/out"; val ckpt = s"$root/ckpt"

    val mem = MemoryStream[(Long, String, Double)]
    val src = mem.toDF().toDF("ts_ms", "key", "value")
    val out = SlidingWindows.streaming(src,
      "key", "ts_ms", "value", specs, latenessMs = 0, tileGranularityMs = 2000)

    def start() = out.writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0)).start()

    // phase 1: first half, committed, then "kill"
    val q1 = start()
    val (h1, h2) = events.splitAt(300)
    h1.grouped(120).foreach { b => mem.addData(b: _*); q1.processAllAvailable() }
    q1.stop()

    // phase 2: restart from the checkpoint, stream the rest, flush
    val q2 = start()
    h2.grouped(120).foreach { b => mem.addData(b: _*); q2.processAllAvailable() }
    val keys = events.map(_._2).distinct
    mem.addData(keys.map(k => (SlidingWindows.FLUSH_TS, k, 0.0)): _*)
    q2.processAllAvailable()
    mem.addData((SlidingWindows.FLUSH_TS, keys.head, 0.0))
    q2.processAllAvailable()
    q2.stop()

    // exactly-once: parquet sink output == batch OVER reference, as a
    // multiset (duplicated emission would fail the size check)
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        R.r6(r.getDouble(3)), R.r6(r.getDouble(4)))).toSeq.sorted
    events.toDF("ts_ms", "key", "value").createOrReplaceTempView("ckpt_evt")
    val want = spark.sql("""
      SELECT ts_ms, key, value,
             sum(value) OVER (PARTITION BY key ORDER BY ts_ms
               RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS sum_10s,
             avg(value) OVER (PARTITION BY key ORDER BY ts_ms
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS avg_5r
      FROM ckpt_evt
    """).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        R.r6(r.getDouble(3)), R.r6(r.getDouble(4)))).toSeq.sorted
    assert(got.size == want.size, "row count (exactly-once)")
    assert(got == want)

    // frames spanning the kill boundary came from RESTORED state: rows
    // emitted after restart reference pre-kill rows in their 10s frames
    // (700ms spacing x 3 keys means every frame spans ~4-5 prior rows).
    val boundaryTs = events(300)._1
    assert(want.exists { case (ts, _, _, s, _) => ts >= boundaryTs && s > 0 })
    }

  test("stream-stream LEFT OUTER interval join survives kill/restart exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, timestamp_millis}
    implicit val sqlCtx = spark.sqlContext

    // left rows every 700 ms across 4 keys; right rows every 1100 ms on
    // a key subset — some left rows match several rights, some none
    val base = 1704067200000L
    val lefts = (0 until 200).map(i => (100L + i, (i % 4).toLong, base + 700L * i))
    val rights = (0 until 120).map(i => (900L + i, (i % 3).toLong, base + 1100L * i, 10L + i))
    val sentinelTs = base + 700L * 200 + 3600000L

    val root = Files.createTempDirectory("graft_ckpt_ssj_").toString
    val outDir = s"$root/out"; val ckpt = s"$root/ckpt"

    val lMem = MemoryStream[(Long, Long, Long)]
    val rMem = MemoryStream[(Long, Long, Long, Long)]
    val l = lMem.toDF().toDF("l_event_id", "user_id", "l_ts_ms")
      .withColumn("l_ts", timestamp_millis(col("l_ts_ms"))).withWatermark("l_ts", "1 second")
    val r = rMem.toDF().toDF("r_event_id", "r_user_id", "r_ts_ms", "r_value")
      .withColumn("r_ts", timestamp_millis(col("r_ts_ms"))).withWatermark("r_ts", "1 second")
    val joined = l.join(r,
      expr("""user_id = r_user_id
              AND r_ts >= l_ts - INTERVAL 5 SECONDS AND r_ts <= l_ts"""),
      "leftOuter")
      .select("l_event_id", "user_id", "l_ts_ms", "r_event_id", "r_value")

    def start() = joined.writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0)).start()

    // phase 1: first halves of BOTH sides (join state holds unmatched +
    // in-window rows of each), committed, then "kill"
    val q1 = start()
    lMem.addData(lefts.take(100): _*); rMem.addData(rights.take(60): _*)
    q1.processAllAvailable()
    q1.stop()

    // phase 2: restart — matches across the kill boundary must come
    // from RESTORED join state; then the two-sided sentinel tail push
    val q2 = start()
    lMem.addData(lefts.drop(100): _*); rMem.addData(rights.drop(60): _*)
    q2.processAllAvailable()
    lMem.addData((-1L, -1L, sentinelTs)); rMem.addData((-1L, -1L, sentinelTs, 0L))
    q2.processAllAvailable()
    lMem.addData((-2L, -1L, sentinelTs + 1)); rMem.addData((-2L, -1L, sentinelTs + 1, 0L))
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(outDir).collect()
      .filter(r0 => r0.getLong(0) > 0)
      .map(r0 => (r0.getLong(0), r0.getLong(1), r0.getLong(2),
        if (r0.isNullAt(3)) -1L else r0.getLong(3),
        if (r0.isNullAt(4)) -1L else r0.getLong(4))).toSeq.sorted

    // plain-Scala batch reference
    val want = lefts.flatMap { case (lid, u, lts) =>
      val ms = rights.filter { case (_, ru, rts, _) =>
        ru == u && rts >= lts - 5000 && rts <= lts }
      if (ms.isEmpty) Seq((lid, u, lts, -1L, -1L))
      else ms.map { case (rid, _, _, v) => (lid, u, lts, rid, v) }
    }.sorted
    assert(got.size == want.size,
      s"exactly-once across restart: got ${got.size}, want ${want.size}")
    assert(got == want)
    // the boundary really was spanned: some post-restart left rows match
    // pre-restart right rows (and vice versa)
    val boundaryPairs = want.count { case (lid, _, _, rid, _) =>
      rid >= 0 && ((lid >= 200 && rid < 960) || (lid < 200 && rid >= 960)) }
    assert(boundaryPairs > 0, "no cross-boundary matches — test lost its point")
  }
}
