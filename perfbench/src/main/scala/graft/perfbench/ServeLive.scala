package graft.perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.api.{Pipeline, WindowSql}
import graft.serving.{RequestServing, ShardedFeatureStore}

/** `serve_live`: a `Pipeline.runJson` Request spec with the sharded
  * serving tail and request coalescing. A writer keeps appending event
  * files on its own schedule while an open-loop HTTP client (at most
  * nproc threads, one connection each) sends `POST /request` traffic:
  * Zipf hot keys plus a uniform cold tail, a share carrying a historical
  * `ts_ms` (point-in-time). Latency is timed from when each request was
  * due. Every measured window must see at least one writer commit (a
  * feeder micro-batch); it extends up to a deadline, and a window that
  * reaches it counts all its requests as failed.
  *
  * Metrics: p50, tail and goodput (requests answered per second) at a
  * fixed offered rate; goodput falls below the offered rate only when the
  * server falls behind or fails requests. The completion rate of a closed
  * loop (nproc clients, each sending its next request when the last one
  * returns) is printed as `serve.capacity_qps` but is not an end-to-end
  * metric: at saturation it tracks how much CPU the machine's neighbours
  * leave, and a ten-seed pass spread it by half its median, more than any
  * bound allows. It is the median of the rates of the closed windows'
  * `binMs` bins, so a compaction or collection stall moves few bins. The
  * serving path keeps getting faster for several seconds of saturating
  * load (its compiled code is still improving), so an untimed closed loop
  * of `warmMs` under writes runs first.
  */
object ServeLive extends Workload {
  val name = "serve_live"

  val hotKeys = 300
  val coldKeys = 900
  val requestColdShare = 0.2
  val pitShare = 0.1
  val historyEvents = 4800
  val histSpanMs: Long = 2L * 3600000L
  val writerTickMs = 250
  val writerPerFile = 200
  val speed = 60L
  val fixedQps = 300.0
  val setupReps = 3
  val Rounds = 4
  val numShards = 8
  val windowDeadlineMs = 5000L
  val binMs = 250L
  val warmMs = 6000L

  val dataShape: EventShape = EventShape(keys = hotKeys, zipfS = 1.0, oooShare = 0.0, oooMaxMs = 1,
    coldShare = 0.3, coldKeys = coldKeys)

  val frame = "PARTITION BY key ORDER BY ts_ms RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW"
  val sql: String =
    s"""SELECT key, ts_ms,
       |  sum(v) OVER ($frame) AS sum_1h,
       |  avg(v) OVER ($frame) AS avg_1h,
       |  count(v) OVER ($frame) AS cnt_1h,
       |  top(v, 3) OVER ($frame) AS top3_1h
       |FROM events""".stripMargin

  /** The feeder's state stage runs on half the cores, as a process that
    * also serves reads would be sized. On all of them the feeder's tasks
    * kept every core busy, and the read tail measured the wait for a core:
    * a ten-seed pass spread it by a third. */
  def feederParallelism(ctx: Ctx): Int = math.max(1, ctx.nproc / 2)

  def histEnd: Long = Gen.EpochMs + histSpanMs
  /** Historical request timestamps: inside the history, so later writes
    * cannot change the answer. */
  def pitTimes(seed: Long): IndexedSeq[Long] = {
    val r = new SplittableRandom(seed + 77)
    (0 until 4).map(_ => histEnd - 60000L - r.nextLong(30L * 60000L))
  }

  def spec(inDir: String, shardRoot: String, parallelism: Int): String = {
    val m = Record.mapper
    val o = m.createObjectNode()
    o.put("execution_mode", "Request")
    o.put("parallelism", parallelism)
    val src = o.putArray("sources").addObject()
    src.put("table_name", "events")
    src.set("schema_json", m.readTree(Gen.eventSchemaJson))
    src.putObject("source").putObject("Parquet").put("path", inDir)
    o.put("sql", sql)
    o.putObject("window").put("tile_granularity_ms", 60000L)
    val rss = o.putObject("request_source_sink")
    rss.put("bind_address", "127.0.0.1:0")
    rss.put("coalesce", true)
    rss.putObject("sharded").put("num_shards", numShards).put("root", shardRoot)
    m.writeValueAsString(o)
  }

  final case class Req(key: String, ts: Option[Long])

  /** The request mix, seeded: Zipf hot keys, uniform cold tail, PIT share. */
  final class Mix(seed: Long, stream: Int) {
    private val r = new SplittableRandom(seed * 131L + stream)
    private val zipf = new Zipf(hotKeys, 1.0)
    private val pits = pitTimes(seed)
    def next(): Req = {
      val k = if (r.nextDouble() < requestColdShare) hotKeys + r.nextInt(coldKeys) else zipf.sample(r)
      Req(Gen.keyName(k), if (r.nextDouble() < pitShare) Some(pits(r.nextInt(pits.size))) else None)
    }
  }

  final class Running(val root: java.nio.file.Path, val handle: Pipeline.Handle) {
    val inDir: String = root.resolve("in").toString
    def port: Int = handle.port.get
    def feederBatches: Long = Option(handle.feeder.get.lastProgress).map(_.batchId).getOrElse(-1L)
    def stop(): Unit = handle.stop()
  }

  /** Appends one event file per tick on its own schedule. */
  final class Writer(ctx: Ctx, run: Running) extends Thread("perfbench-writer") {
    setDaemon(true)
    val halt = new AtomicBoolean(false)
    val files = new AtomicLong(0)
    override def run(): Unit = {
      val t0 = System.currentTimeMillis()
      var i = 0
      while (!halt.get()) {
        val due = t0 + i.toLong * writerTickMs
        val w = due - System.currentTimeMillis()
        if (w > 0) Thread.sleep(w)
        if (!halt.get()) {
          val evs = Gen.events(ctx.seed, dataShape, (1000L + i) * 1000000L, writerPerFile,
            histEnd + i.toLong * writerTickMs * speed, writerTickMs * speed, System.currentTimeMillis())
          Gen.writeEvents(run.inDir, s"w$i.parquet", evs)
          files.incrementAndGet()
          i += 1
        }
      }
    }
  }

  /** `binRates`: completions/s in each whole `binMs` bin of the window. */
  final case class Window(lat: Seq[Double], sendLate: Seq[Double], httpUs: Seq[Double],
                          failed: Long, sent: Long, writerCommits: Long, hitDeadline: Boolean,
                          pit: Seq[(Req, String)], seconds: Double, binRates: Seq[Double])

  /** One open-loop window at `qps` for `ms` (closed loop when `qps` is
    * infinite), extended until a writer commit lands in it (up to the
    * deadline). */
  def window(ctx: Ctx, run: Running, clients: Seq[Conn], qps: Double, ms: Long,
             stream: Int, keepPit: Boolean, anchored: Boolean = true): Window = {
    val threads = clients.size
    val closed = qps.isInfinite
    val periodNs = if (closed) 0L else (threads * 1e9 / qps).toLong
    val t0 = System.nanoTime() + 5000000L
    val commits0 = run.feederBatches
    val stop = new AtomicBoolean(false)
    val deadline = t0 + (ms + windowDeadlineMs) * 1000000L
    val lat = new ConcurrentLinkedQueue[Double](); val late = new ConcurrentLinkedQueue[Double]()
    val http = new ConcurrentLinkedQueue[Double](); val pit = new ConcurrentLinkedQueue[(Req, String)]()
    val doneAt = new ConcurrentLinkedQueue[Long]()
    val failed = new AtomicLong(0); val sent = new AtomicLong(0)
    val port = run.port
    val workers = clients.zipWithIndex.map { case (client, t) =>
      val th = new Thread(() => {
        val mix = new Mix(ctx.seed, stream * 16 + t)
        var k = 0L
        var due = t0 + t * periodNs / threads
        while (!stop.get()) {
          val w = due - System.nanoTime()
          if (w > 0) Thread.sleep(w / 1000000L, (w % 1000000L).toInt)
          if (closed) due = System.nanoTime()
          if (!stop.get()) {
            val req = mix.next()
            val body = req.ts match {
              case Some(ts) => s"""{"key": "${req.key}", "ts_ms": $ts}"""
              case None => s"""{"key": "${req.key}"}"""
            }
            val s0 = System.nanoTime()
            late.add((s0 - due) / 1e6)
            sent.incrementAndGet()
            try {
              val (status, resp) = ctx.trace.span("serve.request")(client.post(port, "request", body))
              val end = System.nanoTime()
              if (status != 200) failed.incrementAndGet()
              else {
                lat.add((end - due) / 1e6); http.add((end - s0) / 1e3); doneAt.add(end)
                if (keepPit && req.ts.isDefined) pit.add((req, resp))
              }
            } catch { case _: Exception => failed.incrementAndGet() }
          }
          k += 1
          due = if (closed) System.nanoTime() else t0 + t * periodNs / threads + k * periodNs
        }
      }, s"perfbench-client-$t")
      th.setDaemon(true); th.start(); th
    }
    // anchor on writer progress: extend until a commit lands or the deadline
    Thread.sleep(math.max(0L, (t0 + ms * 1000000L - System.nanoTime()) / 1000000L))
    while (anchored && run.feederBatches <= commits0 && System.nanoTime() < deadline) Thread.sleep(10)
    val hit = anchored && run.feederBatches <= commits0
    stop.set(true)
    val t1 = System.nanoTime()
    workers.foreach(_.join(10000))
    val binNs = binMs * 1000000L
    val perBin = doneAt.asScala.filter(t => t >= t0 && t < t1).groupBy(t => (t - t0) / binNs)
    val binRates = (0L until (t1 - t0) / binNs).map(b => perBin.get(b).map(_.size).getOrElse(0) * 1000.0 / binMs)
    Window(lat.asScala.toSeq, late.asScala.toSeq, http.asScala.toSeq,
      if (hit) sent.get else failed.get, sent.get, run.feederBatches - commits0, hit,
      pit.asScala.toSeq, (t1 - t0) / 1e9, binRates)
  }

  def start(ctx: Ctx, tag: String): Running = {
    val spark = ctx.spark
    val root = ctx.work.resolve(s"serve-$tag")
    val inDir = root.resolve("in").toString
    // one event per key first, so every requested key has live rows
    val all = (0 until hotKeys + coldKeys).map(k => Ev(k.toLong, Gen.keyName(k),
      Gen.EpochMs + k, 0L, (k % 100).toDouble, "c0", true))
    val hist = Gen.events(ctx.seed, dataShape, 100000L, historyEvents, Gen.EpochMs + 60000L,
      histSpanMs - 60000L, 0L)
    Gen.writeEvents(inDir, "h0.parquet", all ++ hist)
    ctx.trace.span("api.compile")(WindowSql.compile(spark, sql))
    val handle = ctx.trace.span("api.pipeline_start")(
      Pipeline.runJson(spark, spec(inDir, root.resolve("shards").toString, feederParallelism(ctx))))
    handle.query.get.processAllAvailable()
    handle.feeder.get.processAllAvailable()
    new Running(root, handle)
  }

  def run(ctx: Ctx, rec: Record): EndToEnd = {
    val spark = ctx.spark
    val exhausted0 = ShardedFeatureStore.exhaustedReads.sum()
    val clients = (0 until ctx.nproc).map(_ => new Conn(2000))
    var run: Running = null
    val setupS = ctx.timedSetups(setupReps) { i =>
      if (run != null) run.stop()
      run = start(ctx, s"s$i")
    }
    val writer = new Writer(ctx, run)
    writer.start()
    window(ctx, run, clients, Double.PositiveInfinity, warmMs, 98, keepPit = false, anchored = false)
    ctx.mark("warmup")
    ctx.heap.start()
    val windows = mutable.ArrayBuffer.empty[Window]
    def record(w: Window): Window = {
      windows += w
      rec.ops(w.sent, w.failed)
      w
    }
    try {
      // rounds of (fixed offered rate, closed loop): p50 pools the rounds,
      // capacity is the median bin rate of the closed windows; the tail is
      // the median of the rounds' tails, so one stalled second cannot move it
      val fixedMs = math.max(1200L, ctx.seconds * 250L)
      val capMs = math.max(500L, ctx.seconds * 80L)
      val rounds = (0 until Rounds).map { r =>
        (record(window(ctx, run, clients, fixedQps, fixedMs, 2 * r + 1, keepPit = true)),
          record(window(ctx, run, clients, Double.PositiveInfinity,
            capMs, 2 * r + 2, keepPit = false)))
      }
      // traced runs: one untraced fixed-rate window, also under writes,
      // against which the traced ones give the tracing overhead
      val untraced = if (!ctx.traced) None else {
        ctx.tracing(false)
        try Some(record(window(ctx, run, clients, fixedQps, fixedMs, 500, keepPit = false)))
        finally ctx.tracing(true)
      }
      ctx.mark("measure")
      writer.halt.set(true); writer.join(5000)
      run.handle.feeder.get.processAllAvailable()
      run.handle.query.get.processAllAvailable()
      val heapMb = ctx.stopPhase(rec)

      val fixed = rounds.map(_._1)
      val capacity = Stats.median(rounds.flatMap(_._2.binRates))
      val goodput = fixed.map(_.lat.size).sum / fixed.map(_.seconds).sum
      val p50 = Stats.median(fixed.flatMap(_.lat))
      val tails = fixed.map(w => if (w.lat.nonEmpty) Stats.tail(w.lat) else ("none", 0.0))
      val tail = Stats.median(tails.map(_._2))
      val tailLabel = tails.head._1
      rec.check("every measured window saw a writer commit", windows.forall(!_.hitDeadline),
        s"${windows.count(_.hitDeadline)} windows got no feeder batch within ${windowDeadlineMs} ms past their end")

      untraced.foreach(u => servingLayer(ctx, rec, run, fixed, u, exhausted0))
      checkPit(ctx, rec, spark, run, fixed.flatMap(_.pit))
      ctx.mark("check")
      val exhausted = ShardedFeatureStore.exhaustedReads.sum() - exhausted0
      val alarmed = run.handle.store.get.asInstanceOf[ShardedFeatureStore].alarmedShards
      rec.check("no exhausted reads", exhausted == 0, s"$exhausted exhausted reads")
      rec.check("no alarmed shards", alarmed.isEmpty, s"alarmed: $alarmed")

      rec.context("offered_qps") = fixedQps
      rec.context("rounds") = rounds.map { case (f, c) => Map("fixed_requests" -> f.lat.size,
        "fixed_p50_ms" -> (if (f.lat.nonEmpty) Stats.median(f.lat) else -1.0),
        "fixed_tail_ms" -> (if (f.lat.nonEmpty) Stats.tail(f.lat)._2 else -1.0),
        "capacity_qps" -> c.lat.size / c.seconds, "capacity_bins_qps" -> c.binRates) }
      rec.context("writer_files") = writer.files.get
      rec.context("gen_late_ms_p99") = Stats.quantile(fixed.flatMap(_.sendLate), 0.99)
      EndToEnd(setupS, p50, tail, tailLabel, fixed.map(_.lat.size).sum, goodput, heapMb,
        Map("serve.p50_ms" -> (p50, "ms"), "serve.tail_ms" -> (tail, "ms"),
          "serve.goodput_qps" -> (goodput, "1/s"), "serve.capacity_qps" -> (capacity, "1/s")))
    } finally {
      writer.halt.set(true)
      run.stop()
      clients.foreach(_.close())
    }
  }

  /** Each point-in-time response must equal `RequestServing.pointInTimeMulti`
    * computed in batch for that key and ts_ms after the run. */
  private def checkPit(ctx: Ctx, rec: Record, spark: SparkSession, run: Running,
                       got: Seq[(Req, String)]): Unit = {
    val input = spark.read.schema(Pipeline.parseArrowSchema(Record.mapper.readTree(Gen.eventSchemaJson)))
      .parquet(run.inDir)
    val c = WindowSql.compile(spark, sql).fold(e => sys.error(e), identity)
    val plan = c.enginePlan(Map("events" -> input))
    val byTs = got.groupBy(_._1.ts.get)
    var bad = 0L
    var example = ""
    byTs.foreach { case (ts, reqs) =>
      val keys = reqs.map(_._1.key).distinct
      val want = RequestServing.pointInTimeMulti(plan.keyed, plan.engineKey, "ts_ms", plan.numCols,
        plan.strCols, plan.specs, ts).where(org.apache.spark.sql.functions.col("key").isin(keys: _*))
        .collect().map(r => r.getString(0) -> r).toMap
      reqs.foreach { case (req, body) =>
        val feats: JsonNode = Record.mapper.readTree(body).get("features")
        // no batch row = no event of the key in the frame: the live path
        // answers that with an empty frame (count 0)
        val ok = want.get(req.key) match {
          case None => Option(feats.get("cnt_1h")).exists(_.asDouble() == 0.0)
          case Some(row) =>
            plan.specs.zipWithIndex.forall { case (s, i) =>
              val f = feats.get(s.name)
              val w = row.get(i + 1)
              f != null && (w match {
                case d: java.lang.Double => f.isNumber && Rows.value(d, f.asDouble())
                case null => f.isNull
                case x => f.asText() == x.toString
              })
            }
        }
        if (!ok) { bad += 1; if (example.isEmpty) example = s"${req.key}@$ts got $body want ${want.get(req.key)}" }
      }
    }
    rec.ops(got.size, bad)
    rec.check(s"point-in-time responses equal RequestServing.pointInTimeMulti (${got.size})",
      bad == 0 && got.nonEmpty, s"$bad differ, e.g. $example")
  }

  /** Serving-layer metrics (traced run). */
  private def servingLayer(ctx: Ctx, rec: Record, run: Running, fixed: Seq[Window],
                           untraced: Window, exhausted0: Long): Unit = {
    val buf = run.handle.buffer.get
    val mix = new Mix(ctx.seed, 999)
    val reqs = (0 until 2000).map(_ => mix.next())
    val direct = reqs.map { r =>
      val t0 = System.nanoTime(); buf.eval(r.key, r.ts); (System.nanoTime() - t0) / 1e3
    }
    val batches = reqs.grouped(64).toSeq
    val tb = System.nanoTime()
    batches.foreach(b => buf.evalBatch(b.map(r => (r.key, r.ts))))
    val perKey = (System.nanoTime() - tb) / 1e3 / reqs.size
    rec.metric("serving.http_p50_us", Stats.median(fixed.flatMap(_.httpUs)), "us")
    rec.metric("serving.eval_direct_p50_us", Stats.median(direct), "us")
    rec.metric("serving.evalbatch_us_per_key", perKey, "us")
    val co = run.handle.server.get.coalescer
    rec.metric("serving.coalesce_mean_batch", co.map(_.meanBatch).getOrElse(0.0), "requests")
    rec.metric("serving.coalesce_batches", co.map(_.batches.toDouble).getOrElse(0.0), "count")
    val feeds = ctx.progress.get.of(run.handle.feeder.get.id)
      .map(p => Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
    rec.metric("serving.feed_ms_p50", Stats.p50(feeds), "ms")
    rec.metric("serving.writer_batches_during_read", Stats.median(fixed.map(_.writerCommits.toDouble)), "count")
    rec.metric("serving.exhausted_reads", (ShardedFeatureStore.exhaustedReads.sum() - exhausted0).toDouble, "count")
    rec.metric("serving.alarmed_shards",
      run.handle.store.get.asInstanceOf[ShardedFeatureStore].alarmedShards.size.toDouble, "count")
    rec.metric("serve.gen_late_ms_p99", Stats.quantile(fixed.flatMap(_.sendLate), 0.99), "ms")
    if (untraced.lat.nonEmpty)
      rec.metric("trace.overhead_pct",
        100.0 * (Stats.median(fixed.flatMap(_.lat)) / Stats.median(untraced.lat) - 1), "%")
  }
}
