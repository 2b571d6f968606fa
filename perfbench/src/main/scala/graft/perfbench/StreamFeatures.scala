package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.sources.MemorySink
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.{Pipeline, WindowSql}
import graft.streaming.SlidingWindows

/** `stream_features`: a `Pipeline.runJson` Streaming spec whose window SQL
  * (1 h RANGE frames; sum/avg/count plus top/sum_cate_where; 1-min tiles)
  * runs through the default engine over event files a generator appends
  * to a directory, into a counting memory sink.
  *
  * After set-up (history of one event-hour, processed), [[Rounds]] rounds
  * of:
  *  1. freshness: the generator writes one file per tick at a fixed rate on
  *     its own schedule; freshness = sink-visible wall time minus the
  *     event's creation stamp, for events created in the measured window;
  *  2. catch-up: a fixed backlog lands at once; records/s until all of it
  *     is visible in the sink.
  * Then a flush event ends the stream; every record must be visible
  * exactly once with the values `SlidingWindows.batchComputeMulti`
  * (`WindowSql.runBatchAuto`'s sweep) gives over the same input.
  */
object StreamFeatures extends Workload {
  val name = "stream_features"
  /** Half the cores: on a 4-vCPU shared host, local[4] (beside the
    * generator, the sink watcher, JIT and GC threads) gave slower and less
    * steady freshness and catch-up than local[2]; five-seed spreads of
    * freshness p50 fell from 0.14 to 0.04. */
  override def sparkCores(nproc: Int): Int = math.max(1, nproc / 2)

  val shape: EventShape = EventShape(keys = 1000, zipfS = 1.0, oooShare = 0.05, oooMaxMs = 20000)
  val latenessMs = 30000L
  /** Event-time ms per wall ms while the generator runs. */
  val speed = 120L
  val historyEvents = 5000
  val hourMs = 3600000L
  /** Offered load of the freshness phase. At 600 events/s the files
    * queued behind the triggers, and freshness and its tail grew with the
    * length of the measured window and with every slowdown of the machine. */
  val ratePerS = 300
  val tickMs = 250
  val perFile: Int = ratePerS * tickMs / 1000
  val backlogEvents = 4000
  /** The measured phase is `Rounds` rounds of (freshness window, settle,
    * catch-ups), so a slow spell of the shared host lands on a part of each
    * metric's samples rather than on all samples of one metric. */
  val Rounds = 3
  val CatchUpsPerRound = 2
  /** Untraced catch-ups a traced run compares its measured ones with. */
  val OverheadCatchUps = 4
  /** Catch-ups of the single-thread leg (each takes several seconds). */
  val OneThreadCatchUps = 3
  val setupReps = 3
  /** Untimed lead-in of each round at the offered rate, while the queue of
    * files behind the triggers settles; longer in the first round, while the
    * trigger loop's own code is still being compiled. */
  val firstLeadMs = 1500L
  val leadMs = 750L
  /** Ticks after the measured window, whose events move the watermark past
    * the measured ones (2 ticks = 60 s of event time > lateness + 20 s). */
  val drainMs = 500L
  /** Event ids are fileIndex * IdStride + row; file indices below. */
  val IdStride = 1000000L
  val LiveFile0 = 1000
  val BacklogFile0 = 100000
  val SettleFile0 = 800000
  val PushFile = 900000
  val FlushFile = 900001

  val frame = s"PARTITION BY key ORDER BY ts_ms RANGE BETWEEN $hourMs PRECEDING AND CURRENT ROW"
  val sql: String =
    s"""SELECT id, key, ts_ms, created_ms,
       |  sum(v) OVER ($frame) AS sum_1h,
       |  avg(v) OVER ($frame) AS avg_1h,
       |  count(v) OVER ($frame) AS cnt_1h,
       |  top(v, 3) OVER ($frame) AS top3_1h,
       |  sum_cate_where(v, cond, cate) OVER ($frame) AS scw_1h
       |FROM events""".stripMargin

  def spec(inDir: String, sinkName: String, parallelism: Int): String = {
    val m = Record.mapper
    val o = m.createObjectNode()
    o.put("execution_mode", "Streaming")
    o.put("parallelism", parallelism)
    val src = o.putArray("sources").addObject()
    src.put("table_name", "events")
    src.set("schema_json", m.readTree(Gen.eventSchemaJson))
    src.putObject("source").putObject("Parquet").put("path", inDir)
    o.put("sql", sql)
    o.putObject("event_time").putObject("window").put("allowed_lateness_ms", latenessMs)
    o.putObject("window").put("tile_granularity_ms", 60000L)
    o.putObject("sink").putObject("Memory").put("table_name", sinkName)
    m.writeValueAsString(o)
  }

  /** Polls the memory sink for new batches and stamps when each becomes
    * visible; counts emitted rows per input file. */
  final class SinkWatch(sink: MemorySink) extends Thread("perfbench-sink-watch") {
    setDaemon(true)
    @volatile var running = true
    private var last = -1L
    val perFile = new ConcurrentHashMap[Int, AtomicInteger]()
    val emitted = new AtomicLong(0)
    /** (id, created_ms, visible_ms) per emitted row. */
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()

    def poll(): Unit = {
      val latest = sink.latestBatchId.map(_.asInstanceOf[Long]).getOrElse(-1L)
      if (latest > last) {
        val rows = sink.dataSinceBatch(last)
        val now = System.currentTimeMillis()
        last = latest
        rows.foreach { r =>
          val id = r.getLong(0)
          seen.add((id, r.getLong(3), now))
          perFile.computeIfAbsent((id / IdStride).toInt, _ => new AtomicInteger()).incrementAndGet()
        }
        emitted.addAndGet(rows.size)
      }
    }
    override def run(): Unit = while (running) { poll(); Thread.sleep(2) }
    def count(files: Range): Long = files.map(f => Option(perFile.get(f)).map(_.get.toLong).getOrElse(0L)).sum
    def halt(): Unit = { running = false; join(5000); poll() }
  }

  final class Running(val root: java.nio.file.Path, val handle: Pipeline.Handle, val watch: SinkWatch) {
    val inDir: String = root.resolve("in").toString
    def query: StreamingQuery = handle.query.get
    def stop(): Unit = { watch.halt(); handle.stop() }
  }

  def evt0: Long = Gen.EpochMs + hourMs

  /** Fresh input dir with the history written, pipeline started, history
    * processed. */
  def start(ctx: Ctx, tag: String): Running = {
    val spark = ctx.spark
    val root = ctx.work.resolve(s"stream-$tag")
    val inDir = root.resolve("in").toString
    Gen.writeEvents(inDir, "f0.parquet",
      Gen.events(ctx.seed, shape, 0L, historyEvents, Gen.EpochMs, hourMs, 0L))
    ctx.trace.span("api.compile")(WindowSql.compile(spark, sql))
    val sinkName = s"stream_out_$tag"
    val handle = ctx.trace.span("api.pipeline_start")(
      Pipeline.runJson(spark, spec(inDir, sinkName, ctx.cores)))
    val sink = handle.query.get.asInstanceOf[StreamingQueryWrapper].streamingQuery.sink
      .asInstanceOf[MemorySink]
    val watch = new SinkWatch(sink)
    watch.start()
    handle.query.get.processAllAvailable()
    new Running(root, handle, watch)
  }

  /** Live file `file`, the `j`th of a round whose event time starts at `ev0`. */
  def liveFile(ctx: Ctx, file: Int, j: Int, createdMs: Long, ev0: Long): Seq[Ev] =
    Gen.events(ctx.seed, shape, file * IdStride, perFile,
      ev0 + j.toLong * tickMs * speed, tickMs * speed, createdMs)

  /** Event-time span of one backlog. */
  val backlogSpanMs: Long = 30L * 60000L

  /** Lands one backlog file at once: `backlogEvents` records plus one event
    * that moves the watermark past them. Returns seconds until every backlog
    * record is visible. */
  def catchUp(ctx: Ctx, run: Running, file: Int, evStart: Long, rec: Record): Double = {
    val evs = Gen.events(ctx.seed, shape, file * IdStride, backlogEvents, evStart, backlogSpanMs,
      System.currentTimeMillis())
    val push = Ev((PushFile + file) * IdStride, Gen.keyName(0),
      evStart + backlogSpanMs + latenessMs + 1, System.currentTimeMillis(), 0.0, "c0", false)
    val stage = run.root.resolve("backlog").toString
    Gen.writeEvents(stage, s"b$file.parquet", evs :+ push)
    val t0 = System.nanoTime()
    java.nio.file.Files.move(java.nio.file.Paths.get(stage).resolve(s"b$file.parquet"),
      java.nio.file.Paths.get(run.inDir).resolve(s"b$file.parquet"))
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (run.watch.count(file to file) < backlogEvents &&
      System.nanoTime() < deadline && run.query.isActive) Thread.sleep(1)
    val sec = (System.nanoTime() - t0) / 1e9
    val got = run.watch.count(file to file)
    rec.check(s"catch-up backlog $file fully emitted", got == backlogEvents, s"$got of $backlogEvents records")
    sec
  }

  /** `n` catch-ups one after another from event time `evStart`; returns
    * their seconds and the event time after the last. */
  def catchUps(ctx: Ctx, run: Running, file0: Int, n: Int, evStart: Long, rec: Record): (Seq[Double], Long) = {
    var ev = evStart
    val secs = (0 until n).map { i =>
      val s = catchUp(ctx, run, file0 + i, ev, rec)
      ev += backlogSpanMs + 2 * latenessMs
      s
    }
    (secs, ev)
  }

  /** One round's measurements. */
  final case class Round(fresh: Seq[Double], freshBySecond: Seq[Double], catchSecs: Seq[Double],
                         genLate: Seq[Long], backlogMax: Long, evNext: Long, nextFile: Int)

  /** One round from event time `ev0`, live files numbered from `file0`:
    *  - freshness: the generator writes one file per tick on its own
    *    schedule for `leadMs` (untimed) + `freshMs` (measured) + `drainMs`;
    *    freshness = sink-visible time minus creation stamp for the events
    *    of the measured ticks;
    *  - a settle event moves the watermark past every live event, and the
    *    round waits until all of them are visible (without it the first
    *    catch-up also emitted the live phase's last rows, and ran a quarter
    *    to a third slower than the rest);
    *  - `CatchUpsPerRound` catch-ups. */
  def round(ctx: Ctx, run: Running, r: Int, ev0: Long, file0: Int, leadMs: Long, freshMs: Long,
            rec: Record): Round = {
    val nTicks = ((leadMs + freshMs + drainMs) / tickMs).toInt
    val genLate = mutable.ArrayBuffer.empty[Long]
    var backlogMax = 0L
    def visible(f: Int) = run.watch.count(f to f) >= perFile
    val tStart = System.currentTimeMillis() + 50
    (0 until nTicks).foreach { j =>
      val due = tStart + j.toLong * tickMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val now = System.currentTimeMillis()
      genLate += now - due
      Gen.writeEvents(run.inDir, s"l${file0 + j}.parquet", liveFile(ctx, file0 + j, j, now, ev0))
      backlogMax = math.max(backlogMax, j + 1 - (0 until j).count(k => visible(file0 + k)))
    }
    val measured = (0 until nTicks).filter { j =>
      val at = j.toLong * tickMs
      at >= leadMs && at < leadMs + freshMs
    }.map(file0 + _)
    // the drain ticks move the watermark past the measured events; wait
    // for them to be visible (bounded)
    val dl = System.nanoTime() + 60L * 1000000000L
    def waitFor(files: Seq[Int]): Unit =
      while (!files.forall(visible) && System.nanoTime() < dl && run.query.isActive) Thread.sleep(2)
    waitFor(measured)
    val measuredSet = measured.toSet
    val byFile = run.watch.seen.asScala.toSeq.collect {
      case (id, created, vis) if measuredSet((id / IdStride).toInt) =>
        (id / IdStride).toInt -> (vis - created).toDouble
    }
    val fresh = byFile.map(_._2)
    val bySecond = byFile.groupBy { case (f, _) => (f - file0) * tickMs / 1000 }.toSeq.sortBy(_._1)
      .map { case (_, xs) => Stats.median(xs.map(_._2)) }
    rec.ops(measured.size.toLong * perFile, measured.size.toLong * perFile - fresh.size)

    val evLive = ev0 + nTicks.toLong * tickMs * speed
    val settle = Ev((SettleFile0 + r) * IdStride, Gen.keyName(0), evLive + 2 * latenessMs + 1,
      System.currentTimeMillis(), 0.0, "c0", false)
    Gen.writeEvents(run.inDir, s"settle$r.parquet", Seq(settle))
    waitFor(file0 until file0 + nTicks)
    rec.check(s"round $r: every live record emitted",
      (file0 until file0 + nTicks).forall(visible), "live records missing after the settle event")

    val (catchSecs, evNext) = catchUps(ctx, run, BacklogFile0 + r * CatchUpsPerRound, CatchUpsPerRound,
      settle.ts_ms + latenessMs, rec)
    Round(fresh, bySecond, catchSecs, genLate.toSeq, backlogMax, evNext, file0 + nTicks)
  }

  def run(ctx: Ctx, rec: Record): EndToEnd = {
    val spark = ctx.spark
    var run: Running = null
    val setupS = ctx.timedSetups(setupReps) { i =>
      if (run != null) run.stop()
      run = start(ctx, s"s$i")
    }
    val q = run.query

    // --- rounds of freshness at a fixed offered rate and catch-ups -----------
    ctx.heap.start()
    val freshMs = ctx.seconds * 1000L / Rounds
    val rounds = mutable.ArrayBuffer.empty[Round]
    var ev = evt0
    var file = LiveFile0
    (0 until Rounds).foreach { r =>
      val rd = round(ctx, run, r, ev, file, if (r == 0) firstLeadMs else leadMs, freshMs, rec)
      rounds += rd
      ev = rd.evNext; file = rd.nextFile
      ctx.mark(s"round$r")
    }
    ctx.mark("rounds")
    val fresh = rounds.flatMap(_.fresh).toSeq
    val catchSecs = rounds.flatMap(_.catchSecs).toSeq
    val genLate = rounds.flatMap(_.genLate)
    val backlogMax = rounds.map(_.backlogMax).max
    // the fastest catch-up: the one the shared host disturbed least (a
    // ten-seed pass spread the median's rate 0.22 and the fastest's 0.14)
    val catchRps = backlogEvents / catchSecs.min
    val heapMb = ctx.stopPhase(rec)

    if (ctx.traced) {
      streamingLayer(ctx, rec, q.id, run)
      ctx.tracing(false)
      val (untraced, _) = catchUps(ctx, run, BacklogFile0 + 100, OverheadCatchUps, ev, rec)
      ctx.tracing(true)
      rec.metric("trace.overhead_pct", 100.0 * (Stats.median(catchSecs) / Stats.median(untraced) - 1), "%")
    }

    // --- end of stream and correctness ---------------------------------------
    Gen.writeEvents(run.inDir, "flush.parquet", Seq(Ev(FlushFile * IdStride, Gen.keyName(0),
      SlidingWindows.FLUSH_TS, 0L, 0.0, "c0", false)))
    q.processAllAvailable()
    Thread.sleep(50)
    run.watch.halt()
    ctx.mark("flush")
    checkAll(ctx, rec, spark, run)
    ctx.mark("check")
    run.handle.stop()

    if (ctx.traced) {
      rec.metric("stream.gen_late_ms_max", genLate.max.toDouble, "ms")
      rec.metric("stream.backlog_files_max", backlogMax.toDouble, "files")
      singleThreadLeg(ctx, rec)
    }

    // the tail of each round is set by its slowest few triggers; the median
    // of the rounds' tails keeps one slow spell from setting the run's
    val roundTails = rounds.map(r => Stats.tail(r.fresh))
    val tail = Stats.median(roundTails.map(_._2).toSeq)
    val tailLabel = s"median of $Rounds rounds' ${roundTails.map(_._1).distinct.mkString("/")}"
    rec.context("offered_events_per_s") = ratePerS
    rec.context("freshness_window_ms") = freshMs * Rounds
    rec.context("freshness_p50_ms_by_s") = rounds.map(_.freshBySecond)
    rec.context("catchup_backlog_records") = backlogEvents
    rec.context("catchup_s") = rounds.map(_.catchSecs)
    rec.context("gen_late_ms_max") = genLate.max
    rec.context("backlog_files_max") = backlogMax
    EndToEnd(setupS, Stats.median(fresh), tail, tailLabel, fresh.size, catchRps, heapMb,
      Map("stream.freshness_p50_ms" -> (Stats.median(fresh), "ms"),
        "stream.freshness_tail_ms" -> (tail, "ms"),
        "stream.catchup_records_per_s" -> (catchRps, "1/s")))
  }

  /** Every input record visible exactly once, with the batch sweep's values. */
  private def checkAll(ctx: Ctx, rec: Record, spark: SparkSession, run: Running): Unit = {
    import org.apache.spark.sql.functions.col
    val input = spark.read.schema(Pipeline.parseArrowSchema(Record.mapper.readTree(Gen.eventSchemaJson)))
      .parquet(run.inDir)
    input.where(col("ts_ms") =!= SlidingWindows.FLUSH_TS).createOrReplaceTempView("events")
    val wantDf = WindowSql.runBatchAuto(spark, sql)
    rec.check("reference routed to SlidingWindows.batchComputeMulti",
      wantDf.queryExecution.analyzed.toString.contains("MapGroups"))
    val names = wantDf.schema.fieldNames.toSeq
    val want = wantDf.collect().map(Rows.keyedBy(names)).toMap
    val sink = run.handle.query.get.asInstanceOf[StreamingQueryWrapper].streamingQuery.sink
      .asInstanceOf[MemorySink]
    val gotRows = sink.allData.map(Rows.keyedBy(names))
    val got = gotRows.toMap
    val dupes = gotRows.size - got.size
    val missing = want.keySet -- got.keySet
    val wrong = want.keySet.intersect(got.keySet).toSeq.filterNot(id => Rows.same(want(id), got(id)))
    rec.ops(want.size, missing.size + wrong.size + dupes)
    rec.check(s"every input record emitted exactly once (${want.size} records)",
      missing.isEmpty && dupes == 0 && got.size == want.size,
      s"${missing.size} never emitted, $dupes duplicates, ${got.size} distinct emitted")
    rec.check("window values equal the batch sweep", wrong.isEmpty,
      s"${wrong.size} differ, e.g. ${wrong.take(2).map(id => s"$id want=${want(id)} got=${got(id)}").mkString("; ")}")
  }

  /** Streaming-layer metrics from StreamingQueryProgress (traced run). */
  private def streamingLayer(ctx: Ctx, rec: Record, id: java.util.UUID, run: Running): Unit = {
    Thread.sleep(200)
    val ps = ctx.progress.get.of(id)
    def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum.toDouble
    val states = ps.flatMap(_.stateOperators.headOption)
    rec.metric("streaming.triggers", ps.size.toDouble, "count")
    rec.metric("streaming.trigger_ms_p50",
      Stats.p50(ps.map(p => Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))), "ms")
    rec.metric("streaming.addbatch_ms_sum", d("addBatch"), "ms")
    rec.metric("streaming.latest_offset_ms_sum", d("latestOffset"), "ms")
    rec.metric("streaming.get_batch_ms_sum", d("getBatch"), "ms")
    rec.metric("streaming.planning_ms_sum", d("queryPlanning"), "ms")
    rec.metric("streaming.wal_commit_ms_sum", d("walCommit"), "ms")
    rec.metric("streaming.commit_offsets_ms_sum", d("commitOffsets"), "ms")
    rec.metric("streaming.state_rows_total", states.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "rows")
    rec.metric("streaming.state_bytes", states.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes")
    rec.metric("streaming.state_rows_updated", states.map(_.numRowsUpdated).sum.toDouble, "rows")
    rec.metric("streaming.state_commit_ms_sum", states.map(_.commitTimeMs).sum.toDouble, "ms")
    rec.metric("streaming.rows_dropped_late", states.map(_.numRowsDroppedByWatermark).sum.toDouble, "rows")
    val in = ps.map(_.numInputRows).sum
    rec.metric("streaming.rows_out_per_in", if (in == 0) 0.0 else run.watch.emitted.get.toDouble / in, "ratio")
  }

  /** The catch-up phase again on Spark local[1]: the single-thread baseline. */
  private def singleThreadLeg(ctx: Ctx, rec: Record): Unit = {
    ctx.stopSpark()
    ctx.startSpark("local[1]")
    ctx.tracing(false)
    val run1 = start(ctx, "one")
    try {
      val (secs, _) = catchUps(ctx, run1, BacklogFile0, OneThreadCatchUps, evt0 + latenessMs, rec)
      rec.metric("stream.catchup_records_per_s_1t", backlogEvents / Stats.median(secs), "1/s")
    } finally run1.stop()
  }
}
