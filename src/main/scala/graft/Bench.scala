package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{NullNode, ObjectNode}

/** Benchmark main: times every catalog query on SPARK_GRAFT_SF_DIR, then
  * the reference's three workload shapes (window streaming, word count,
  * request mode) and a concurrent-catalog phase. Stdout carries one JSON
  * line per query as it completes, the full record, and a compact
  * headline as the last line.
  * A failing query contributes an `errors` entry and a -1 time — failures
  * are never silently folded into the total.
  */
object Bench {

  /** Every JSON line Bench writes except the headline goes through this
    * mapper: its escaper and its locale-independent number rendering. */
  private val mapper = new ObjectMapper()
  private def obj(): ObjectNode = mapper.createObjectNode()

  /** `v` rounded half-up to `places` decimals (NaN and infinities pass
    * through; Jackson writes them as strings). */
  private def rnd(v: Double, places: Int): Double =
    if (v.isNaN || v.isInfinite) v
    else BigDecimal(v).setScale(places, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** One per-query stdout line, `{"q":name,"s":sec}`, plus both draws when
    * the entry tripped the outlier retry. Pure — pinned by
    * SectionStampSpec under a comma-decimal default locale. */
  def queryLine(name: String, sec: Double,
                outlier: Option[(Double, Double)] = None): String = {
    val o = obj().put("q", name).put("s", rnd(sec, 3))
    outlier.foreach { case (f, rt) =>
      o.put("outlier_first", rnd(f, 3)).put("outlier_retry", rnd(rt, 3))
    }
    mapper.writeValueAsString(o)
  }

  /** Engine-bound variant of the streaming workload: the SAME 20k-record
    * input consumed without the one-file-per-trigger cadence (a single
    * AvailableNow run over all files). The cadence-bound number reflects
    * the reference's batch-arrival shape; this one isolates the engine's
    * throughput from the micro-batch floor (~1 s/trigger x 21 files).
    * Returns (records, elapsedSec, per-trigger duration line).
    */
  private def streamingEngineBound(spark: org.apache.spark.sql.SparkSession)
      : (Long, Double, String) = {
    import graft.sources.Datagen
    import graft.streaming.SlidingWindows
    import graft.streaming.SlidingWindows.{AggSpec, RangeMs}
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.col

    val records = 20000L
    val startMs = 1704067200000L; val stepMs = 25L
    // tmpfs when available: this variant exists to isolate ENGINE
    // throughput, and the reference's comparison point keeps operator
    // state in process memory with no durability at all — so the
    // engine-bound run's checkpoint/input live on /dev/shm, while the
    // cadence-bound workload above keeps the durable on-disk checkpoint
    // (its number includes the real state-store fsync cost)
    // deleted in the finally below — /dev/shm is RAM-capped, and a
    // leaked per-run input+checkpoint would accumulate until the tmpfs
    // fills (GraftSession.tempDir's shutdown hook only covers /tmp)
    val root =
      if (new java.io.File("/dev/shm").canWrite)
        java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get("/dev/shm"), "graft_bench_eb_").toString
      else GraftSession.tempDir("graft_bench_stream_eb_")
    val inDir = s"$root/in"; val ckpt = s"$root/ckpt"
    val input = Datagen.batch(spark, records, Map(
        "ts_ms" -> Datagen.IncrementalTimestamp(startMs, stepMs),
        "key" -> Datagen.Key(4),
        "value" -> Datagen.Uniform(0.0, 100.0)))
      .select(col("ts_ms").cast("long"), col("key"), col("value"))
    input.coalesce(1).write.parquet(inDir)
    SlidingWindows.flushRows(input, "key", "ts_ms", "value")
      .write.mode("append").parquet(inDir)
    // schema inference is input setup, not engine work — outside the clock
    val inSchema = spark.read.parquet(inDir).schema

    val t0 = System.nanoTime()
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    // 4 state partitions for 4 keys (measured r10: halving to 2 halves
    // the per-(partition x trigger) commit overhead but serializes the
    // fold and nets out slower — 18.7k vs 20.1k rec/s)
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val streamIn = spark.readStream.schema(inSchema)
      .parquet(inDir) // no maxFilesPerTrigger: all files in one batch
    val out = SlidingWindows.streaming(streamIn, "key", "ts_ms", "value",
      Seq(AggSpec("sum_1s", "sum", RangeMs(1000))), latenessMs = 0,
      tileGranularityMs = 250)
    val emitted = new java.util.concurrent.atomic.AtomicLong(0)
    val q = out.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        { emitted.addAndGet(b.count()); () })
      .trigger(Trigger.ProcessingTime(0)).start()
    val triggers = try {
      q.processAllAvailable()
      var rounds = 0
      while (emitted.get() < records && rounds < 5) {
        SlidingWindows.flushRows(input, "key", "ts_ms", "value")
          .write.mode("append").parquet(inDir)
        q.processAllAvailable()
        rounds += 1
      }
      require(emitted.get() == records,
        s"engine-bound streaming bench emitted ${emitted.get()} of $records")
      // trigger-level attribution: where the wall time OUTSIDE the state
      // function goes (the engine_profile counters cover the inside) —
      // addBatch = run the batch plan, stateCommit = state-store commit,
      // the remainder is planning/offset bookkeeping per trigger
      import scala.jdk.CollectionConverters._
      val progs = q.recentProgress.toSeq
      val trig = progs.map(_.durationMs.asScala.toMap).foldLeft(
        Map.empty[String, Long]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0L) + v.longValue()) }
      }
      val commitMs = progs.flatMap(_.stateOperators.toSeq)
        .map(_.commitTimeMs).sum
      s"triggers=${progs.length} " +
        trig.toSeq.sortBy(_._1).map { case (k, v) => s"${k}Ms=$v" }.mkString(" ") +
        s" stateCommitMs=$commitMs"
    } finally {
      q.stop()
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      deleteRecursively(new java.io.File(root))
    }
    (records, (System.nanoTime() - t0) / 1e9, triggers)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Per-section contamination stamps (VERDICT r15 #3): the global
    * contaminated flag can pass a run whose contention was concentrated
    * in one phase (the r15 driver record's 1.63 I/O spike inflated only
    * the trigger-cadence-bound streaming entries). Each section is
    * bounded by two calibration checkpoints; its stamp compares the
    * WORSE of its two boundary scores against the run-start score with
    * the same gates the global flag uses, so a contended record
    * self-identifies which numbers to distrust. Returns
    * (section, cpuRatioWorst, ioRatioWorst, contaminated); sections
    * whose boundary checkpoints were not sampled (workload-filtered
    * runs) are omitted rather than guessed. Pure — pinned by
    * SectionStampSpec on synthetic checkpoint maps replaying the r15
    * contended record. */
  def sectionStamps(calib: Map[String, Double], calibIo: Map[String, Double],
                    bounds: Seq[(String, String, String)])
      : Seq[(String, Double, Double, Boolean)] =
    bounds.flatMap { case (name, a, b) =>
      for {
        s0 <- calib.get("start"); ca <- calib.get(a); cb <- calib.get(b)
        i0 <- calibIo.get("start"); ia <- calibIo.get(a); ib <- calibIo.get(b)
      } yield {
        val cpuWorst = math.max(ca, cb)
        val ioWorst = math.max(ia, ib)
        val bad = MachineHealth.degraded(s0, cpuWorst) ||
          MachineHealth.ioDegraded(i0, ioWorst)
        (name, cpuWorst / s0, ioWorst / i0, bad)
      }
    }

  /** Catalog entries that ran well above the committed clean reference
    * but UNDER the 3x outlier-retry gate — the r15 failure band (1.8-2.8x
    * clean passed every gate). These are distrust labels, not retries:
    * the ratio lands in the record so a contended run's per-entry
    * inflation is attributable without re-deriving it from the series.
    * Pure — pinned by SectionStampSpec. */
  def suspectEntries(times: Seq[(String, Double)], ref: Map[String, Double],
                     ratio: Double = 1.8, minOverSec: Double = 1.0)
      : Seq[(String, Double)] =
    times.flatMap { case (n, s) =>
      ref.get(n)
        .filter(r => r > 0 && s > 0 && s > ratio * r && s - r > minOverSec)
        .map(r => n -> s / r)
    }

  /** A 1.8-3x suspect entry with BOTH its draws (VERDICT r17 #2): after
    * the catalog pass the bench re-runs each suspect once, so a
    * driver-run record self-attributes — retry ≈ first is a real
    * regression, retry ≈ clean is contention — without a separate
    * attribution round. `retry < 0` means the re-measure itself failed
    * (or was skipped under the REPEAT dev knob) and is emitted as null. */
  final case class Suspect(name: String, first: Double, retry: Double,
                           ref: Double) {
    def ratio: Double = first / ref
    def retryRatio: Double = if (retry > 0) retry / ref else -1.0
  }

  /** Median steady-probe drift for the official box gate (VERDICT r17
    * #5). Each probe is (name, measuredSec, baselineSec); failed probes
    * (sec <= 0) and missing baselines are ignored; -1 means nothing
    * comparable (the gate passes — it can't refuse without evidence).
    * Pure — the refuse path is pinned by SectionStampSpec. */
  def gateMedianDrift(probes: Seq[(String, Double, Double)]): Double = {
    val ratios = probes.collect { case (_, s, b) if s > 0 && b > 0 => s / b }
    if (ratios.isEmpty) -1.0 else ratios.sorted.apply(ratios.size / 2)
  }

  /** Locale-independent numeric formatting for the headline, which is
    * built by hand to fit its byte budget (ADVICE r17): under a
    * comma-decimal default locale an f"%.2f" interpolator emits `0,71` —
    * invalid JSON. */
  private def num(pat: String, v: Double): String =
    String.format(java.util.Locale.ROOT, pat, Double.box(v))

  /** Compact single-line headline emitted as the bench's FINAL stdout
    * line (VERDICT r16 #1): the driver's per-round artifact keeps only a
    * 2000-char stdout tail, so the full summary line (a 156-entry queries
    * map, several thousand chars) has recorded `parsed:null` since r14.
    * This line carries the totals, the per-section contamination stamps,
    * the suspect labels, and as many of the heaviest per-entry seconds as
    * fit under `cap` — 1800 by default, leaving ~200 chars of margin for
    * the tooling's own `[info] ` prefix and the trailing sbt success line
    * inside the 2000-char tail (the full-catalog line measures 1891 at
    * cap 1900; the margin is what keeps the line complete, and a clipped
    * line is exactly the parsed:null failure this exists to end). The
    * complete record's path rides along in `record`.
    * Pure — pinned by SectionStampSpec (valid JSON, cap honored at full
    * catalog size, heaviest entries kept first). */
  def headline(total: Double, sfDir: String, nEntries: Int, nFailed: Int,
               contaminated: Boolean,
               sections: Seq[(String, Double, Double, Boolean)],
               suspects: Seq[Suspect],
               queries: Seq[(String, Double)],
               record: String,
               boxDriftStart: Double = -1.0, boxDriftEnd: Double = -1.0,
               cap: Int = 1800,
               errors: Seq[(String, String)] = Nil): String = {
    // Jackson's escaper: newlines and control characters in an error
    // message must not break the line as JSON
    def js(s: String): String =
      "\"" + new String(com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance.quoteAsString(s)) + "\""
    // numeric fields via the Locale.ROOT `num` helper, never
    // f-interpolators (ADVICE r17): under a comma-decimal default locale
    // an f"" would emit "value":133,2 — invalid JSON, recreating the
    // parsed:null failure this line ends
    val secJson = sections.map { case (n, c, i, bad) =>
      js(n) + s""":{"cpu_ratio":${num("%.2f", c)},"io_ratio":${num("%.2f", i)},"contaminated":$bad}"""
    }.mkString("{", ",", "}")
    val susJson = suspects.sortBy(-_.ratio).take(10)
      .map { s =>
        val rr = if (s.retry > 0)
          s""","retry":${num("%.3f", s.retry)},"retry_ratio":${num("%.2f", s.retryRatio)}"""
        else ""","retry":null,"retry_ratio":null"""
        js(s.name) + s""":{"ratio":${num("%.2f", s.ratio)},"first":${num("%.3f", s.first)}$rr}"""
      }.mkString("{", ",", "}")
    // box drift on EVERY run, official or not (VERDICT r18 #2): the
    // driver's contended r18 record carried 12 suspects yet stamped
    // contaminated:false — one field here makes such a record
    // self-classifying instead of requiring suspect forensics
    def drift(v: Double): String = if (v < 0) "null" else num("%.2f", v)
    def baseWith(errJson: String): String =
      s"""{"metric":"total","value":${num("%.1f", total)},"unit":"sec","sf":${js(sfDir)},"n_entries":$nEntries,"n_failed":$nFailed,"errors":$errJson,"contaminated":$contaminated,"box_drift_start":${drift(boxDriftStart)},"box_drift_end":${drift(boxDriftEnd)},"sections":$secJson,"suspects_total":${suspects.size},"suspects":$susJson,"record":${js(record)},"queries_top":"""
    // named failures ride IN the headline (VERDICT r19 #2): the r19 32-core
    // sweep stamped n_failed:1 but the /tmp record carrying the errors map
    // was overwritten by the next sweep — a run record must be able to name
    // its own failure after the fact. Byte-budgeted (60-char messages, and
    // the map as a whole takes only what the cap leaves over after the
    // fixed fields — a failure's NAME outranks the tail of queries_top,
    // which trims itself against whatever remains) so a mass failure
    // can't blow the tail window; n_failed keeps the true count either way.
    // -3: the "{}" of queries_top and the final "}" come after the base
    val errBudget = math.min(600, cap - baseWith("{}").length - 3)
    val errEntries = Seq.newBuilder[String]
    var errUsed = 0
    for ((n, m) <- errors) {
      val e = js(n) + ":" + js(m.take(60))
      if (errUsed + e.length + 1 <= errBudget) { errEntries += e; errUsed += e.length + 1 }
    }
    val base = baseWith(errEntries.result().mkString("{", ",", "}"))
    val entries = queries.filter(_._2 > 0).sortBy(-_._2)
      .map { case (n, s) => js(n) + ":" + num("%.3f", s) }
    // +3: the "{}" of queries_top and the final "}"
    val budget = cap - base.length - 3
    val kept = Seq.newBuilder[String]
    var used = 0
    for (e <- entries if used + e.length + 1 <= budget) {
      kept += e; used += e.length + 1
    }
    base + kept.result().mkString("{", ",", "}") + "}"
  }

  /** Latency summary over weighted (latencyMs, events) samples. */
  private def latencyNode(samples: Seq[(Long, Long)]): ObjectNode = {
    val n = samples.map(_._2).sum
    val mean = if (n == 0) -1.0
      else samples.map(t => t._1.toDouble * t._2).sum / n
    obj().put("events", n)
      .put("p50", Metrics.wPercentile(samples, 0.5))
      .put("p95", Metrics.wPercentile(samples, 0.95))
      .put("p99", Metrics.wPercentile(samples, 0.99))
      .put("max", if (samples.isEmpty) -1L else samples.map(_._1).max)
      .put("mean", rnd(mean, 1))
  }

  /** The reference's window streaming benchmark workload
    * (src/runtime/tests/window_operator_benchmark.rs:74-93 defaults:
    * 4 keys, 20k records, batch size 1000, one retractable SUM over
    * RANGE 1000ms), fed by the Datagen source and run through the
    * sliding-window engine as a real streaming query (file source in
    * ~1000-record batches). Returns (records, elapsedSec, latency).
    */
  private def streamingWorkload(spark: org.apache.spark.sql.SparkSession)
      : (Long, Double, ObjectNode) = {
    import graft.sources.Datagen
    import graft.streaming.SlidingWindows
    import graft.streaming.SlidingWindows.{AggSpec, RangeMs}
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.col

    val records = 20000L
    val batchRecords = 1000L
    val startMs = 1704067200000L; val stepMs = 25L
    val root = GraftSession.tempDir("graft_bench_stream_")
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    val input = Datagen.batch(spark, records, Map(
        "ts_ms" -> Datagen.IncrementalTimestamp(startMs, stepMs),
        "key" -> Datagen.Key(4),
        "value" -> Datagen.Uniform(0.0, 100.0)))
      .select(col("ts_ms").cast("long"), col("key"), col("value"))
    // one time-ordered file per 1000-record batch (the source feeds the
    // operator in event-time order, like the reference's datagen); written
    // sequentially so the file source replays them in order
    val chunkSpan = batchRecords * stepMs
    (0L until records / batchRecords).foreach { i =>
      input.where(col("ts_ms") >= startMs + i * chunkSpan &&
                  col("ts_ms") < startMs + (i + 1) * chunkSpan)
        .coalesce(1).write.mode("append").parquet(inDir)
    }
    SlidingWindows.flushRows(input, "key", "ts_ms", "value")
      .write.mode("append").parquet(inDir)

    val t0 = System.nanoTime()
    // state-store partitions sized to the 4-key workload, not the batch
    // shuffle setting (pinned at query start)
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val streamIn = spark.readStream.schema(spark.read.parquet(inDir).schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    // lateness = one batch span, absorbing file mod-time ties
    val out = SlidingWindows.streaming(streamIn, "key", "ts_ms", "value",
      Seq(AggSpec("sum_1s", "sum", RangeMs(1000))), latenessMs = chunkSpan,
      tileGranularityMs = 250)
    // counting sink — the reference measures records/s through the
    // operator into its in-memory sink, not a durable file sink.
    // Per-event latency (reference parity: word_count_benchmark.rs
    // reports latency_ms beside records/s): an emitted row's arrival is
    // the trigger-start wall of the file that carried it (file index =
    // (ts_ms - start) / chunkSpan — files are exact event-time slices);
    // its emit is the sink-visible wall of the emitting batch.
    val emitted = new java.util.concurrent.atomic.AtomicLong(0)
    val emits = new scala.collection.mutable.ArrayBuffer[(Long, Array[(Long, Long)])]()
    // latency attribution is FUSED into the one counting job the sink has
    // always run (pre-r14 ran `b.count()`; this runs a single
    // groupBy(file).count() over the same scan — total = sum of the
    // per-file counts). One job, no persist, no cache pressure, no
    // subtraction: `elapsed_sec` is the raw wall and stays
    // series-comparable because the in-loop work is the same single
    // aggregate job shape as the committed pre-r14 series (r14 ADVICE —
    // the old persist+2-job path perturbed triggers beyond its measured
    // collect wall, biasing the subtracted number in an unmeasured
    // direction).
    import org.apache.spark.sql.functions.floor
    val (progBuf, listener) = Metrics.collectProgress(spark)
    val q = out.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        val cnts = b
          .groupBy(floor((col("ts_ms") - startMs) / chunkSpan).as("__f")).count()
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        emitted.addAndGet(cnts.map(_._2).sum)
        val wall = System.currentTimeMillis()
        emits.synchronized { emits += ((wall, cnts)); () }
        ()
      })
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      var rounds = 0
      while (emitted.get() < records && rounds < 5) {
        SlidingWindows.flushRows(input, "key", "ts_ms", "value")
          .write.mode("append").parquet(inDir)
        q.processAllAvailable()
        rounds += 1
      }
      require(emitted.get() == records, s"streaming bench emitted ${emitted.get()} of $records")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    // file k is consumed by the k-th real trigger (1000-row time-sliced
    // files, sequential mtimes, maxFilesPerTrigger=1; the final flush
    // file only adds a trailing trigger beyond the data-file indices).
    // Listener delivery is async — drain before reading.
    Metrics.drain(progBuf)
    val arrival = progBuf.synchronized(progBuf.toSeq).sortBy(_.batchId)
      .map(p => java.time.Instant.parse(p.timestamp).toEpochMilli)
    val samples = emits.synchronized(emits.toSeq).flatMap { case (wall, cnts) =>
      cnts.toSeq.collect { case (f, n) if f >= 0 && f < arrival.length =>
        (math.max(0L, wall - arrival(f.toInt)), n)
      }
    }
    (records, sec, latencyNode(samples).put("attribution", "fused-single-job"))
  }

  /** The reference's word-count benchmark workload
    * (src/runtime/tests/word_count_benchmark.rs:355-400: synthetic word
    * source -> keyby word -> reduce count -> sink, records/s): a
    * Datagen word stream through a streaming groupBy-count in complete
    * mode. Returns (records, elapsedSec, latency).
    *
    * Per-event latency (the reference prints latency_ms per fed batch):
    * complete mode re-emits the whole counts table at the END of the
    * trigger that ingested a record, so a record's event->visible latency
    * IS its trigger's execution time — sampled per trigger from
    * StreamingQueryProgress, weighted by the trigger's input rows.
    */
  private def wordCountWorkload(spark: org.apache.spark.sql.SparkSession)
      : (Long, Double, ObjectNode) = {
    import graft.sources.Datagen
    import org.apache.spark.sql.functions.{col, sum => fsum}
    import org.apache.spark.sql.streaming.Trigger

    val records = 100000L; val dictSize = 1000
    val root = GraftSession.tempDir("graft_bench_wc_")
    val inDir = s"$root/in"
    Datagen.batch(spark, records, Map("word" -> Datagen.Key(dictSize)))
      .repartition(10).write.parquet(inDir)

    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val (progBuf, listener) = Metrics.collectProgress(spark)
    val t0 = System.nanoTime()
    val counts = spark.readStream.schema(spark.read.parquet(inDir).schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .groupBy(col("word")).count()
    val qname = s"wc_bench_${System.nanoTime()}"
    val q = counts.writeStream.outputMode("complete").format("memory")
      .queryName(qname).trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      val total = spark.table(qname).agg(fsum("count")).head().getLong(0)
      require(total == records, s"word count saw $total of $records records")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
    // listener delivery is async — drain before reading; triggers missing
    // a triggerExecution duration are SKIPPED (a -1 sentinel would sort
    // first and corrupt the percentiles)
    Metrics.drain(progBuf)
    val samples = progBuf.synchronized(progBuf.toSeq).flatMap { p =>
      Option(p.durationMs.get("triggerExecution"))
        .map(d => (d.longValue(), p.numInputRows))
    }
    (records, (System.nanoTime() - t0) / 1e9, latencyNode(samples))
  }

  /** The reference's request-mode benchmark workload
    * (window_operator_benchmark.rs:590-625: 200k records, 40 keys,
    * ROWS 10000 PRECEDING, plain MIN/MAX aggs) evaluated at a virtual
    * point through RequestServing, plus HTTP lookup QPS
    * (window_request_operator_benchmark.rs shape) against the upserted
    * feature store and against at-request-time evaluation from a
    * [[graft.serving.ServingBuffer]]. Returns the record's `request` object.
    */
  private def requestWorkload(spark: org.apache.spark.sql.SparkSession): ObjectNode = {
    import graft.serving.{FeatureStore, RequestServer, RequestServing, ServingBuffer}
    import graft.sources.Datagen
    import graft.streaming.SlidingWindows.{AggSpec, RowsN}
    import org.apache.spark.sql.functions.{col, lit}

    val records = 200000L; val keys = 40
    val startMs = 1704067200000L; val stepMs = 5L
    val specs = Seq(AggSpec("min_10k", "min", RowsN(10000)),
        AggSpec("max_10k", "max", RowsN(10000)))
    val input = Datagen.batch(spark, records, Map(
        "ts_ms" -> Datagen.IncrementalTimestamp(startMs, stepMs),
        "key" -> Datagen.Key(keys),
        "value" -> Datagen.Uniform(0.0, 100.0)))
      .select(col("ts_ms").cast("long"), col("key"), col("value"))
    val atTs = startMs + records * stepMs
    val t0 = System.nanoTime()
    val pit = RequestServing.pointInTime(input, "key", "ts_ms", "value",
      specs, atTs)
    val store = new FeatureStore
    FeatureStore.upsertBatch(store, "key", "ts_ms")(
      pit.withColumn("ts_ms", lit(atTs)), 0L)
    require(store.size == keys, s"request bench produced ${store.size} of $keys keys")
    val evalSec = (System.nanoTime() - t0) / 1e9
    val rec = obj().put("records", records).put("keys", keys)
      .put("rows_frame", 10000).put("eval_sec", rnd(evalSec, 3))
      .put("records_per_sec", rnd(records / evalSec, 1))

    // per-lookup latency percentiles recorded beside every qps number
    // (reference parity: latency_ms is printed next to throughput in
    // every reference benchmark)
    def measureQps(server: RequestServer, label: String): Unit = {
      val port = server.start()
      try {
        val client = java.net.http.HttpClient.newHttpClient()
        val n = 2000
        val lats = new Array[Long](n)
        val t1 = System.nanoTime()
        var i = 0
        while (i < n) {
          val r0 = System.nanoTime()
          val resp = client.send(
            java.net.http.HttpRequest.newBuilder(
                java.net.URI.create(s"http://localhost:$port/request"))
              .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
                s"""{"key": "key_${i % keys}"}""")).build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          require(resp.statusCode() == 200)
          lats(i) = System.nanoTime() - r0
          i += 1
        }
        val sec = (System.nanoTime() - t1) / 1e9
        java.util.Arrays.sort(lats)
        rec.put(s"${label}_qps", rnd(n / sec, 1))
          .put(s"${label}_p50_ms", rnd(lats(n / 2) / 1e6, 2))
          .put(s"${label}_p99_ms", rnd(lats(n * 99 / 100) / 1e6, 2))
        ()
      } finally server.stop()
    }

    // HTTP lookup QPS against the upsert store (sequential client, like
    // the reference's harness)
    measureQps(new RequestServer(store), "lookup")

    // live QPS: every lookup re-evaluates min/max at the newest buffered
    // event over the 10k-row ROWS frame (reference request semantics)
    val buffer = new ServingBuffer(specs)
    ServingBuffer.feedBatch(buffer, "key", "ts_ms", Seq("value"), Nil)(input, 0L)
    measureQps(new RequestServer(store, 0, Some(buffer)), "live_lookup")
    rec
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // FAIR within-app scheduling: sequential queries are unaffected
      // (one job at a time), but the concurrency phase's simultaneous
      // heavies share cores instead of convoying FIFO behind the first
      // wide stage
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // contention canary: the 1-minute system load at start/end self-labels
    // a perturbed run (the official r7 record was box-contaminated —
    // per-query swings up to 8.8x with no code change between runs)
    def sysLoad: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    // ...and a GATE, not just a label: the official r7 AND r8 records
    // were both captured on a loaded box (r8's even reversed the
    // coalescer verdict). If the box is already busy at start, wait once
    // for it to settle; if it still is, proceed but stamp the record as
    // contaminated so no round comparison trusts it silently.
    var loadStart = sysLoad
    if (loadStart > 2.0) {
      System.err.println(f"[bench] start load $loadStart%.2f > 2.0 — " +
        "waiting 90s for the box to settle before timing anything")
      Thread.sleep(90000)
      loadStart = sysLoad
      if (loadStart > 2.0)
        System.err.println(f"[bench] load still $loadStart%.2f after the " +
          "wait — proceeding, record will carry contaminated:true")
    }
    val contaminatedStart = loadStart > 2.0

    // Official-series box gate, part 1 of 2 (VERDICT r17 #5): two r17
    // bench attempts ran uniformly ~1.1-1.5x slow with CLEAN calibration
    // stamps — box-state drift (page cache, cgroup residue, scheduler
    // state) the in-process stamps cannot see. An OFFICIAL run must start
    // from a genuinely settled box: all three loadavg numbers < 1.5,
    // waiting up to SPARK_GRAFT_GATE_WAIT_SEC (default 300) for the
    // 15-minute number to decay. Part 2 (the median-drift cross-check
    // against the committed record) runs after warm-up, where the
    // reference times are loaded. A failed gate NEVER aborts the run —
    // it refuses the official stamp (record lands in /tmp) and says why.
    val officialIntent = sys.env.get("SPARK_GRAFT_BENCH_OFFICIAL").contains("1")
    def loadAvg3: Seq[Double] = try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split("\\s+").take(3).toSeq.map(_.toDouble)
    } catch { case _: Exception => Seq(sysLoad, -1.0, -1.0) }
    var gateLoad: Seq[Double] = loadAvg3
    var gateWaited = 0
    var gateLoadOk = true
    if (officialIntent) {
      val budget = sys.env.getOrElse("SPARK_GRAFT_GATE_WAIT_SEC", "300").toInt
      while (gateLoad.exists(_ >= 1.5) && gateWaited < budget) {
        System.err.println(s"[bench] official gate: loadavg " +
          gateLoad.mkString("/") + s" not all < 1.5 — waiting (${gateWaited}s)")
        Thread.sleep(15000); gateWaited += 15; gateLoad = loadAvg3
      }
      gateLoadOk = gateLoad.forall(_ < 1.5)
      if (!gateLoadOk)
        System.err.println(s"[bench] official gate REFUSED on loadavg " +
          gateLoad.mkString("/") + " — record will not stamp official")
    }

    // Machine-health stamps (VERDICT r11 #1): the start-only load gate
    // passed two driver records that degraded MID-run. Sample a pure-JVM
    // calibration score at start, between phases, and at end; any
    // checkpoint beyond MachineHealth.ratioGate x the start score — or
    // an end load past the gate below — stamps the record contaminated.
    val calib = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // I/O probe alongside the CPU score (VERDICT r12 #1: the +30 s clean
    // drift hit I/O-heavy entries uniformly while the CPU ratio read
    // 1.01 — disk contention is a separate contamination dimension)
    val calibIo = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def checkpoint(name: String): Unit = {
      calib(name) = MachineHealth.score()
      calibIo(name) = MachineHealth.ioScore()
    }
    checkpoint("start")

    // warm the session before timing: first-query costs (codegen compiler
    // init, parquet listing, function registration) otherwise bill to
    // whichever catalog query happens to run first
    GraftSession.prepare(spark, sfDir)
    spark.sql("SELECT count(*) FROM events WHERE value > 0").collect()
    spark.sql("SELECT count(*) FROM documents WHERE length(text) > 0").collect()
    // warm the dedup family's shared shapes (shingle explosion + the wide
    // 128-column min() signature aggregate + band explode) on a tiny slice:
    // their first-run JIT + codegen otherwise bills to whichever dedup
    // entry sorts first (q_dedup_cluster swung 6.8 <-> 10.8 s in r5 for
    // exactly this; q_dedup_simhash did the same in r4)
    graft.operators.Dedup.minhashAccepted(
      spark.sql("SELECT doc_id, text FROM documents LIMIT 64"),
      "doc_id", "text").count()
    // ...and the family's OTHER first-run shapes (r7 repeat-run
    // measurement: each entry still paid a 1.5-3 s surcharge over its
    // steady state even after minhashAccepted warmed — the 3-stage ngram
    // screen and the iterative label-propagation loop compile distinct
    // operator/codegen shapes)
    graft.operators.Dedup.ngramJaccardDedup(
      spark.sql("SELECT doc_id, text FROM documents LIMIT 64"),
      "doc_id", "text", 5, 0.8).count()
    locally {
      import org.apache.spark.sql.functions.{col, lit}
      val edges = spark.range(64).select(
        col("id").as("src"), ((col("id") + 1) % lit(64)).as("dst"))
      graft.operators.Dedup.connectedComponents(edges, "src", "dst").count()
    }
    // ...ANN / set-similarity / semantic-dedup first-run shapes (r8
    // REPEAT measurement: q_ann_ivf alone carried ~1.7 s of first-run
    // JIT over its 2.0 s steady state): the kmeans train collect, the
    // ADC expression chain, the prefix-filter join and the cluster-prune
    // window each compile distinct codegen shapes
    locally {
      val emb = spark.sql("SELECT vec_id, embedding FROM embeddings LIMIT 64")
      graft.operators.Similarity.ivfTopK(emb, emb.limit(2), "vec_id",
        "embedding", k = 2, nlist = 4, nprobe = 2).count()
      graft.operators.Similarity.pqTopK(emb, emb.limit(2), "vec_id",
        "embedding", k = 2, m = 4, codesPerSub = 4, shortlist = 2).count()
      graft.operators.SemDedup.semanticDedup(emb, "vec_id", "embedding",
        numSeeds = 4, threshold = 0.35).count()
      val names = spark.sql("SELECT c_custkey, c_name FROM customer LIMIT 64")
      graft.operators.FuzzyJoin.jaccardJoin(
        names, "c_custkey", "c_name",
        spark.sql("SELECT s_suppkey, s_name FROM supplier LIMIT 64"),
        "s_suppkey", "s_name").count()
    }

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def errText(e: Throwable): String =
      Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
    // counters Bench reads from the engines it runs: the streaming-dedup
    // profile of one catalog entry and the engine-bound run's timers.
    // Both profiles are JVM-global statics mutated from task threads, so
    // a snapshot means something only because its run is the one running
    // (the catalog sweep is sequential, local mode)
    val counters = scala.collection.mutable.TreeMap.empty[String, String]
    // deterministic (sorted) execution order: Map iteration order shifts
    // whenever an entry is added, silently re-attributing first-run JIT +
    // codegen warm-up of shared operator shapes to whichever query now runs
    // them first (q_dedup_simhash swung 3.9 s <-> 8.3 s between rounds for
    // exactly this reason). Sorted order keeps round-over-round per-query
    // numbers comparable.
    // dev knobs for swing attribution: SPARK_GRAFT_BENCH_ONLY=a,b runs a
    // subset (workloads skipped), SPARK_GRAFT_BENCH_REPEAT=n times each
    // query n times back-to-back (first run carries JIT/codegen warm-up of
    // any shape the warm-up block above doesn't cover; later runs are the
    // steady-state floor). The recorded per-query number stays the FIRST
    // run — same accounting as a full sorted suite.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // dev knob: SPARK_GRAFT_BENCH_WORKLOADS=request,streaming,... runs
    // ONLY the named workload phases (no catalog queries) — for iterating
    // on a serving/streaming phase without the full sweep
    val wl = sys.env.get("SPARK_GRAFT_BENCH_WORKLOADS").map(_.split(",").toSet)
    def runWorkload(name: String): Boolean =
      wl.map(_.contains(name)).getOrElse(only.isEmpty)
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "1").toInt
    // Outlier self-defense (r11): the r10 official record passed the
    // start-load gate (box idle) yet still ran 1.9x the committed clean
    // run — one-off harness stalls inside single entries (31 s for a
    // 3 s streaming entry) contaminating the permanent ledger with no
    // way to tell stall from regression. Reference = the committed
    // clean record's per-entry seconds (BENCH_local.json in the repo —
    // experiments redirect via SPARK_GRAFT_BENCH_OUT, so the tracked
    // file IS the clean run by convention). Any first run >3x its
    // reference (and >1 s over it) re-runs once; the record keeps BOTH
    // numbers in `outliers` and the queries map takes the retry (the
    // reproduced measurement; min would bias optimistic, ADVICE r11) — a real
    // regression reproduces on the retry, a stall doesn't.
    val refTimes: Map[String, Double] = try {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "/root/repo/BENCH_local.json"))
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        // the reference only means anything at the SAME scale factor —
        // a 10x scale run would trip every heavy entry otherwise
        if (!txt.contains("\"sf\":" + "\"" + sfDir + "\"")) Map.empty
        else Metrics.parseQueriesMap(txt)
      }
    } catch { case _: Exception => Map.empty }
    val outliers = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    // one timed run of one catalog entry — shared by the sweep, the >3x
    // outlier retry, the gate probes, and the post-catalog suspect
    // re-measure pass. probe=true: a failure never disturbs the sweep's
    // error ledger (ADVICE r18 — the old hadErr dance only skipped the
    // REMOVE, so a failed probe on an entry that legitimately failed
    // during the timed sweep silently replaced the sweep's recorded
    // error message with the transient probe error); the prior entry —
    // present or absent — is restored verbatim
    def runEntryOnce(name: String,
                     fn: (org.apache.spark.sql.SparkSession, String) =>
                         org.apache.spark.sql.DataFrame,
                     probe: Boolean = false): Double = {
      val priorErr = if (probe) Some(errors.get(name)) else None
      // counters reflect ONE run even under _REPEAT (cardinalities are
      // deterministic, so last run == first run for the counts)
      // the streaming minhash entry mutates a JVM-global profile — reset
      // before and snapshot right AFTER it, so the post-catalog snapshot
      // holds that one entry's counters
      val profiled = name == "q_dedup_minhash_streaming"
      if (profiled) graft.streaming.StreamingDedup.Profile.reset()
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          errors(name) = errText(e)
          false
        }
      if (ok && profiled)
        counters("smh") = graft.streaming.StreamingDedup.Profile.snapshot
      if (!ok) priorErr.foreach {
        case Some(m) => errors(name) = m
        case None    => errors.remove(name); ()
      }
      if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
    }
    // Official-series box gate, part 2 (VERDICT r17 #5): one throwaway
    // warm entry, then 10 probe entries timed against the committed
    // record — a median drift > 1.25x means the box is in a state the
    // calibration stamps can't see (the r17 failure shape: every entry
    // uniformly ~1.1-1.5x with clean stamps) and the run must not stamp
    // official. Probe picks: cheap entries (0.15-1.2 s committed) at a
    // deterministic stride, q1_agg reserved as the throwaway. The probes
    // warm their entries, so those 10 sweep numbers step down ONCE (r18)
    // vs the pre-gate series and are comparable thereafter — the price of
    // a gate that measures the box with the workload itself.
    var gateDrift = -1.0
    var gateBaseline = "none"
    var gateProbes = Seq.empty[(String, Double, Double)] // (name, sec, baseline)
    // part 3 state (end-side re-check): the r18 attempt-3 failure shape —
    // the box is clean at gate time (start drift 0.68), contamination
    // arrives MID-RUN (stream-stream join suspects reproducing on retry,
    // addBatch 2.7x), and a degraded record stamps official anyway. The
    // same probes re-run after the last workload phase close that hole;
    // the check is symmetric in time and blind to the result, so it can't
    // cherry-pick fast records — it only certifies "the box at the end
    // still reproduces the committed numbers".
    var gateEndDrift = -1.0
    var gateEndProbes = Seq.empty[(String, Double, Double)]
    var gateEndOk = true
    var gateThreshold = -1.0
    var gatePickRefs = Seq.empty[(String, Double)] // (name, baseline) for the end pass
    def gateProbePass(pairs: Seq[(String, Double)]): Seq[(String, Double, Double)] =
      pairs.flatMap { case (n, b) =>
        SparkEntry.queries.get(n).map { fn =>
          // min-of-2 per probe; probe=true keeps the sweep's error ledger
          // untouched whatever the probe runs do
          val s1 = runEntryOnce(n, fn, probe = true)
          val s2 = runEntryOnce(n, fn, probe = true)
          val s = if (s1 < 0) s2 else if (s2 < 0) s1 else math.min(s1, s2)
          (n, s, b)
        }
      }
    // The probe pass now runs on EVERY full-catalog run, official or not
    // (VERDICT r18 #2): the driver's contended r18 record carried 12
    // suspects (retries still 5-8x) yet stamped contaminated:false
    // because section CPU/IO ratios stayed clean — host-side interference
    // the in-process stamps can't see. The same cheap probes the official
    // gate uses (~10 sub-second entries x 2, start and end) give every
    // record a box_drift_start/box_drift_end stamp, so a driver-run
    // record self-classifies in one field instead of via suspect
    // forensics. Only an OFFICIAL run turns the drift into a refusal.
    // Dev-knob runs (_ONLY/_WORKLOADS subsets) skip the pass — no
    // committed record comes from them.
    if (refTimes.nonEmpty && only.isEmpty && wl.isEmpty) {
      // steady-probe baselines from the PREVIOUS official record's own
      // gate fields when it has them (apples-to-apples, threshold
      // 1.25); first-gated-round fallback compares steady probes
      // against the committed SWEEP times, where a clean box measures
      // ~0.73 (min-of-2 strips the in-sweep first-run JIT) — threshold
      // 1.0 ≈ clean x 1.37, low enough that the r17 failure shape
      // (uniformly 1.1-1.5x slow, clean stamps) still refuses
      val prevGate: Map[String, Double] = try {
        val p = java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "/root/repo/BENCH_local.json"))
        if (!java.nio.file.Files.exists(p)) Map.empty
        else {
          val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          val at = txt.indexOf("\"official_gate\":")
          if (at < 0) Map.empty
          else {
            // start probes only: the end-side pass (part 3) re-probes in
            // a fully-warm JVM and reads lower — end_probes as baselines
            // would make every future start gate spuriously strict
            val cut = txt.indexOf("\"end_median_drift\"", at) match {
              case -1 => txt.length; case e => e }
            val parsed =
              """"([A-Za-z0-9_]+)":\{"sec":([0-9.]+),"ref":""".r
                .findAllMatchIn(txt.substring(at, cut))
                .map(m => m.group(1) -> m.group(2).toDouble).toMap
            // a present gate block that parses to ZERO probes means the
            // record's numbers didn't match the regex (e.g. a
            // locale-damaged record) — say so instead of silently
            // downgrading every future gate to the sweep baseline
            // (ADVICE r18)
            if (parsed.isEmpty)
              System.err.println("[bench] WARNING: reference record has an " +
                "official_gate block but zero parseable probes — gate " +
                "falls back to the committed_sweep baseline")
            parsed
          }
        }
      } catch { case _: Exception => Map.empty }
      val eligible = refTimes.toSeq
        .filter { case (n, r) => r >= 0.15 && r <= 1.2 && n != "q1_agg" &&
          SparkEntry.queries.contains(n) }
        .sortBy(_._1)
      val picks =
        if (eligible.size <= 10) eligible
        else (0 until 10).map(i => eligible(i * eligible.size / 10))
      val fns = SparkEntry.queries
      // min-of-2 per probe (inside gateProbePass): the first run pays
      // first-run JIT/codegen the committed sweep amortized over 156
      // sorted entries (measured: an IDLE box probes at median 1.44x on
      // first runs) — the steady (min) run is the real "can this box
      // reproduce the committed numbers" measurement
      fns.get("q1_agg").foreach(fn => { // throwaway: absorbs residual first-entry cost
        runEntryOnce("q1_agg", fn, probe = true); ()
      })
      val usePrevGate = picks.count(p => prevGate.contains(p._1)) >= 5
      val (baselineOf, threshold) =
        if (usePrevGate) { gateBaseline = "prev_gate_probes"
          ((n: String, _: Double) => prevGate.get(n), 1.25) }
        else { gateBaseline = "committed_sweep"
          ((_: String, r: Double) => Some(r), 1.0) }
      gateThreshold = threshold
      gatePickRefs = picks.flatMap { case (n, r) => baselineOf(n, r).map(n -> _) }
      gateProbes = gateProbePass(gatePickRefs)
      gateDrift = gateMedianDrift(gateProbes)
    }
    val gateDriftOk =
      if (!officialIntent || gatePickRefs.isEmpty) true
      else {
        val ok = gateDrift < 0 || gateDrift <= gateThreshold
        if (!ok)
          System.err.println(f"[bench] official gate REFUSED on median " +
            f"drift $gateDrift%.2f > $gateThreshold%.2f vs $gateBaseline — " +
            "record will not stamp official")
        ok
      }
    var gateRefused = officialIntent && !(gateLoadOk && gateDriftOk)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(e => only.forall(_.contains(e._1)) && wl.isEmpty)
      .map { case (name, fn) =>
      def timedRun(): Double = runEntryOnce(name, fn)
      val secs = (1 to repeat).map(_ => timedRun())
      val first = secs.head
      val sec =
        // r > 0: a failed entry in the reference record (-1.0) must not
        // become a permanent always-retry once the entry recovers
        if (repeat == 1 && first > 0 &&
            refTimes.get(name).exists(r => r > 0 && first > 3 * r && first - r > 1.0)) {
          // probe=true: the TIMED run succeeded; a transiently-failed
          // retry must not stamp the record as a failed entry
          // (n_failed/errors describe the sweep, and the sweep's run was
          // fine)
          val retry = runEntryOnce(name, fn, probe = true)
          outliers(name) = (first, retry)
          // the ledger records the RETRY — the reproduced measurement.
          // Retries only fire when the first run is SLOW, so taking the
          // min would bias the committed record optimistic by
          // construction (ADVICE r11); both raw numbers survive in
          // `outliers` for whoever wants the min.
          if (retry > 0) retry else first
        } else first
      // one line per query AS IT COMPLETES: the driver's tail capture
      // truncated the single-line summary JSON mid-`queries` in r5, losing
      // 21 per-query numbers from the permanent record — these short lines
      // survive any tail window, and the summary stays for whole-file reads
      if (repeat == 1) println(queryLine(name, sec, outliers.get(name)))
      else {
        val o = obj().put("q", name)
        val arr = o.putArray("s")
        secs.foreach(v => arr.add(rnd(v, 3)))
        println(mapper.writeValueAsString(o))
      }
      name -> sec
    }
    // Suspect re-measure pass (VERDICT r17 #2): the >3x outliers already
    // retried inline, but the 1.8-3x suspect band (12 labels at r16, one
    // at r17) was labeled and left — attribution needed a separate round.
    // Re-run each suspect once AT CATALOG END (still inside the catalog
    // calibration bracket) and record both draws: retry ≈ first means the
    // regression reproduces; retry ≈ clean means the first draw was
    // contention. The ledger keeps the FIRST draw (same accounting as
    // every committed record — replacing it would bias the series
    // optimistic, exactly the ADVICE-r11 argument for outlier retries in
    // reverse); both numbers survive in `suspects`.
    val suspects: Seq[Suspect] = {
      val fns = SparkEntry.queries
      suspectEntries(results, refTimes).map { case (n, _) =>
        outliers.get(n) match {
          // already re-measured by the 3x retry: the ledger value IS the
          // reproduced retry, and both draws are on record — reuse them
          case Some((f, rt)) => Suspect(n, f, rt, refTimes(n))
          case None =>
            val first = results.find(_._1 == n).map(_._2).getOrElse(-1.0)
            val retry =
              if (repeat != 1) -1.0 // dev knob: secs already repeated
              else fns.get(n).map { fn =>
                // probe=true: the TIMED sweep run succeeded; a
                // transiently-failed re-measure must not stamp the record
                // as a failed entry (and must not disturb any sweep error)
                runEntryOnce(n, fn, probe = true)
              }.getOrElse(-1.0)
            if (retry > 0)
              println(mapper.writeValueAsString(obj().put("suspect", n)
                .put("first", rnd(first, 3)).put("retry", rnd(retry, 3))))
            Suspect(n, first, retry, refTimes(n))
        }
      }
    }
    if (results.nonEmpty) checkpoint("after_catalog")

    // one workload phase: its record object, or null when the phase is
    // filtered out or fails (the failure lands in `errors`)
    def phase(name: String)(body: => JsonNode): JsonNode =
      if (!runWorkload(name)) NullNode.instance
      else try body catch { case e: Throwable =>
        errors(s"${name}_workload") = errText(e)
        NullNode.instance
      }

    // streaming window workload (reference window_operator_benchmark.rs):
    // cadence-bound (one file per trigger, the reference's batch-arrival
    // shape) + engine-bound (all files in one batch) variants
    val streaming = phase("streaming") {
      val (recs, sec, lat) = streamingWorkload(spark)
      // per-stage trigger attribution for the ENGINE-BOUND run only
      // (the cadence-bound run's split is dominated by trigger cadence)
      graft.streaming.EngineProfile.reset()
      val (recsEb, secEb, triggers) = streamingEngineBound(spark)
      counters("engine_profile") = graft.streaming.EngineProfile.snapshot
      counters("engine_triggers") = triggers
      obj().put("records", recs).put("elapsed_sec", rnd(sec, 3))
        .put("records_per_sec", rnd(recs / sec, 1)).put("keys", 4)
        .put("range_ms", 1000).put("batch_records", 1000)
        .set[ObjectNode]("latency_ms", lat)
        .put("engine_bound_elapsed_sec", rnd(secEb, 3))
        .put("engine_bound_records_per_sec", rnd(recsEb / secEb, 1))
    }
    // checkpoint only when the phase actually ran (ADVICE r16): a
    // workload-filtered run must OMIT the section from the stamps map —
    // "never guessed" — not stamp an empty phase
    if (runWorkload("streaming")) checkpoint("after_streaming")

    // word-count workload (reference word_count_benchmark.rs:355-400)
    val wordcount = phase("wordcount") {
      val (recs, sec, lat) = wordCountWorkload(spark)
      obj().put("records", recs).put("dict", 1000)
        .put("elapsed_sec", rnd(sec, 3))
        .put("records_per_sec", rnd(recs / sec, 1))
        .set[ObjectNode]("latency_ms", lat)
    }
    if (runWorkload("wordcount")) checkpoint("after_wordcount")

    // request-mode workload (reference window_operator_benchmark.rs:590-625)
    // bracketed by calibration checkpoints: the serving qps numbers are
    // the ones most sensitive to machine luck, so this phase gets its own
    // before/after stamps
    if (runWorkload("request")) checkpoint("before_request")
    val request = phase("request")(requestWorkload(spark))
    if (runWorkload("request")) checkpoint("after_request")

    // concurrent-catalog phase: a 100 TB cluster runs many queries
    // against ONE session at once; the driver and the catalog sweep above
    // run them sequentially. Four representative heavies (streaming,
    // dedup, TPC-H, ANN) run simultaneously, each in its own FAIR pool,
    // and the record compares wall time against their solo times (taken
    // from the sweep when it ran, else measured here). speedup_vs_serial
    // near the heavies' parallelizable fraction = healthy sharing;
    // inflation_vs_slowest well above 1.5 = contention to attribute.
    val concurrency = phase("concurrency") {
      val names = Seq("q_window_streaming", "q_dedup_minhash",
        "q_tpch_q18", "q_ann_ivf")
      // each query runs in its OWN child session (spark.newSession():
      // shared SparkContext, isolated SessionState) — the streaming
      // entry mutates spark.sql.shuffle.partitions around its query,
      // and on a shared session that mutation leaks into whichever
      // batch heavy happens to plan at the same moment
      def runIn(n: String): Double = {
        val s = spark.newSession()
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(s, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      // warm solo baselines measured HERE, sequentially: the sweep's
      // per-entry numbers are first runs carrying JIT/codegen warm-up,
      // and comparing a warm concurrent wall against cold solos would
      // overstate the sharing win
      val solo = names.map(n => n -> runIn(n))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(names.size)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val t0 = System.nanoTime()
      val futures = names.map { n =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            // one FAIR pool per query (local properties are
            // thread-local on the shared SparkContext): FAIR mode
            // schedules between pools — four jobs in one pool would
            // still convoy FIFO
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", n)
            try { runIn(n); () }
            catch { case e: Throwable =>
              failures.add(s"$n: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}")
            }
            finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
          }
        })
      }
      futures.foreach(_.get())
      pool.shutdown()
      val wall = (System.nanoTime() - t0) / 1e9
      require(failures.isEmpty, s"concurrent entries failed: ${failures}")
      val sumSolo = solo.map(_._2).sum
      val maxSolo = solo.map(_._2).max
      val rec = obj()
      val entries = rec.putArray("entries")
      names.foreach(n => entries.add(n))
      val soloNode = rec.putObject("solo_sec")
      solo.foreach { case (k, v) => soloNode.put(k, rnd(v, 3)) }
      rec.put("wall_sec", rnd(wall, 3)).put("sum_solo_sec", rnd(sumSolo, 3))
        .put("speedup_vs_serial", rnd(sumSolo / wall, 2))
        .put("inflation_vs_slowest", rnd(wall / maxSolo, 2))
    }

    val total = results.map(_._2).filter(_ >= 0).sum
    // Box-drift part 3: re-run the SAME probe set after the last workload
    // phase — on EVERY probed run (VERDICT r18 #2), so even a driver-run
    // record carries box_drift_end. A start-clean box that degraded
    // mid-run (the r18 attempt-3 shape: start drift 0.68, then host-IO
    // interference landed during the sweep — stream-stream suspects
    // reproducing on retry, total 188 s vs the 134.8 committed series)
    // must not stamp a degraded record official. Probe time lands inside
    // the tail section, whose cpu/io stamps cover it. A gate-REFUSED
    // official run skips the pass — it is already /tmp-bound.
    if (!gateRefused && gatePickRefs.nonEmpty) {
      gateEndProbes = gateProbePass(gatePickRefs)
      gateEndDrift = gateMedianDrift(gateEndProbes)
      gateEndOk = gateEndDrift < 0 || gateEndDrift <= gateThreshold
      if (!gateEndOk && officialIntent) {
        gateRefused = true
        System.err.println(f"[bench] official gate REFUSED on END-side " +
          f"median drift $gateEndDrift%.2f > $gateThreshold%.2f vs " +
          f"$gateBaseline — the box degraded mid-run; record will not " +
          "stamp official")
      }
    }
    checkpoint("end")
    val loadEnd = sysLoad
    val cores = Runtime.getRuntime.availableProcessors()
    // end-load gate: the bench's own final phases (serving workloads) are
    // thread-heavy but not core-saturating — an end load past 3/8 of the
    // cores means someone ELSE was running during the tail. The r11
    // contended record ended at 13.91 on 32 cores; clean runs end well
    // below this.
    val loadEndGate = cores * 0.375
    val calibRatioWorst =
      if (calib.size < 2) 1.0
      else calib.toSeq.drop(1).map(_._2).max / calib("start")
    val contaminatedCalib =
      calib.toSeq.drop(1).exists(c => MachineHealth.degraded(calib("start"), c._2))
    val calibIoRatioWorst =
      if (calibIo.size < 2) 1.0
      else calibIo.toSeq.drop(1).map(_._2).max / calibIo("start")
    val contaminatedIo =
      calibIo.toSeq.drop(1).exists(c => MachineHealth.ioDegraded(calibIo("start"), c._2))
    val contaminated =
      contaminatedStart || contaminatedCalib || contaminatedIo ||
        loadEnd > loadEndGate
    if (contaminatedCalib)
      System.err.println(f"[bench] calibration degraded mid-run " +
        f"(worst ratio $calibRatioWorst%.2f > ${MachineHealth.ratioGate}) — " +
        "record stamped contaminated")
    if (contaminatedIo)
      System.err.println(f"[bench] I/O calibration degraded mid-run " +
        f"(worst ratio $calibIoRatioWorst%.2f > ${MachineHealth.ioRatioGate}) — " +
        "record stamped contaminated")
    // one JSON tree for the whole record: Jackson escapes every name and
    // message and renders every number the same way under any locale
    val rec = obj().put("metric", "total").put("value", total).put("unit", "sec")
    val queriesNode = rec.putObject("queries")
    results.foreach { case (k, v) => queriesNode.put(k, v) }
    rec.set[ObjectNode]("streaming", streaming)
      .set[ObjectNode]("wordcount", wordcount)
      .set[ObjectNode]("request", request)
      .set[ObjectNode]("concurrency", concurrency)
    val errorsNode = rec.putObject("errors")
    errors.foreach { case (k, v) => errorsNode.put(k, v) }
    rec.put("n_failed", errors.size)
    // entries that tripped the 3x-vs-committed-reference retry: both
    // numbers survive so a stall is distinguishable from a regression
    val outliersNode = rec.putObject("outliers")
    outliers.foreach { case (k, (f, r)) =>
      outliersNode.putObject(k).put("first", rnd(f, 3)).put("retry", rnd(r, 3))
    }
    rec.putObject("load").put("start", rnd(loadStart, 2))
      .put("end", rnd(loadEnd, 2)).put("cores", cores)
    def calibNode(scores: Iterable[(String, Double)], worst: Double): ObjectNode = {
      val o = obj()
      scores.foreach { case (k, v) => o.put(k, rnd(v, 1)) }
      o.put("ratio_worst", rnd(worst, 2))
    }
    rec.set[ObjectNode]("calibration", calibNode(calib, calibRatioWorst))
      .set[ObjectNode]("calibration_io", calibNode(calibIo, calibIoRatioWorst))
      .put("contaminated", contaminated)
    // per-section contamination stamps (VERDICT r15 #3): section = the
    // phase between two calibration checkpoints; a section missing a
    // checkpoint (workload-filtered run) is omitted, never guessed
    // lower bounds fall back to the last checkpoint actually taken
    // (ADVICE r17): a workload-filtered run that skips streaming used to
    // lose wordcount's stamp too, because wordcount's lower bound named
    // the never-taken after_streaming checkpoint — a section that DID run
    // kept no stamp. A section whose own (upper) checkpoint is missing is
    // still omitted, never guessed.
    def takenBound(pref: String*): String =
      pref.find(calib.contains).getOrElse("start")
    val sectionBounds = Seq(
      ("catalog", "start", "after_catalog"),
      ("streaming", takenBound("after_catalog"), "after_streaming"),
      ("wordcount", takenBound("after_streaming", "after_catalog"),
        "after_wordcount"),
      ("request", "before_request", "after_request"),
      ("tail", takenBound("after_request", "after_wordcount",
        "after_streaming", "after_catalog"), "end"))
    val sections = sectionStamps(calib.toMap, calibIo.toMap, sectionBounds)
    for ((n, _, _, bad) <- sections if bad)
      System.err.println(s"[bench] section '$n' ran against a degraded " +
        "calibration boundary — its numbers carry contaminated:true")
    // box drift on every probed run (VERDICT r18 #2): top-level fields so
    // a driver-run record self-classifies box interference in one place;
    // the per-probe detail for a NON-official run rides in box_probes
    // (an official run already carries it inside official_gate)
    def drift(o: ObjectNode, field: String, v: Double): ObjectNode =
      if (v < 0) o.putNull(field) else o.put(field, rnd(v, 2))
    def probesNode(ps: Seq[(String, Double, Double)]): ObjectNode = {
      val o = obj()
      ps.foreach { case (n, s, r) =>
        o.putObject(n).put("sec", rnd(s, 3)).put("ref", rnd(r, 3))
      }
      o
    }
    drift(rec, "box_drift_start", gateDrift)
    drift(rec, "box_drift_end", gateEndDrift)
    rec.put("box_drift_baseline", gateBaseline)
    if (!officialIntent && gateProbes.nonEmpty)
      rec.set[ObjectNode]("box_probes", probesNode(gateProbes))
        .set[ObjectNode]("box_end_probes", probesNode(gateEndProbes))
    // official-gate fields (VERDICT r17 #5): the record says whether the
    // gate ran, what it saw, and whether it refused the official stamp.
    // The next official run parses its start probes back as baselines.
    if (!officialIntent) rec.putNull("official_gate")
    else {
      val g = rec.putObject("official_gate")
      val load = g.putArray("loadavg")
      gateLoad.foreach(v => load.add(rnd(v, 2)))
      g.put("waited_sec", gateWaited).put("load_ok", gateLoadOk)
      drift(g, "median_drift", gateDrift)
      g.put("drift_baseline", gateBaseline).put("drift_ok", gateDriftOk)
        .set[ObjectNode]("probes", probesNode(gateProbes))
      drift(g, "end_median_drift", gateEndDrift)
      g.put("end_drift_ok", gateEndOk)
        .set[ObjectNode]("end_probes", probesNode(gateEndProbes))
        .put("refused", gateRefused)
    }
    val sectionsNode = rec.putObject("sections")
    sections.foreach { case (n, c, i, bad) =>
      sectionsNode.putObject(n).put("cpu_ratio", rnd(c, 2))
        .put("io_ratio", rnd(i, 2)).put("contaminated", bad)
    }
    if (suspects.nonEmpty) {
      val sus = sectionsNode.putObject("catalog_suspects")
      suspects.foreach { s =>
        val o = sus.putObject(s.name).put("ratio", rnd(s.ratio, 2))
          .put("first", rnd(s.first, 3))
        if (s.retry > 0)
          o.put("retry", rnd(s.retry, 3)).put("retry_ratio", rnd(s.retryRatio, 2))
        else o.putNull("retry").putNull("retry_ratio")
      }
    }
    val countersNode = rec.putObject("counters")
    counters.foreach { case (k, v) => countersNode.put(k, v) }
    rec.put("sf", sfDir)
    val summary = mapper.writeValueAsString(rec)
    println(summary)
    // belt-and-braces: the whole summary also lands in a file that a
    // truncated stdout capture can't damage — in-repo, so the round
    // tooling (which reliably grabs whole files but tails stdout) keeps
    // the per-query record even when the tail window clips the line above
    // the OFFICIAL sf0.1 series record is opt-in (VERDICT r15 #2): the
    // default used to be the tracked BENCH_local.json, so any contract
    // check at sf0.001 — or the driver's own contended run — silently
    // overwrote the committed clean series point. Now only
    // SPARK_GRAFT_BENCH_OFFICIAL=1 (or an explicit _OUT path) can touch
    // it; everything else lands in /tmp.
    val outFile = sys.env.get("SPARK_GRAFT_BENCH_OUT").getOrElse {
      if (officialIntent && !gateRefused)
        "/root/repo/BENCH_local.json"
      else if (gateRefused) {
        System.err.println("[bench] official stamp REFUSED by the box " +
          "gate: record written to /tmp/BENCH_local.json — settle the box " +
          "and re-run")
        "/tmp/BENCH_local.json"
      } else {
        System.err.println("[bench] non-official run: record written to " +
          "/tmp/BENCH_local.json (set SPARK_GRAFT_BENCH_OFFICIAL=1 for the " +
          "tracked series file)")
        "/tmp/BENCH_local.json"
      }
    }
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), summary + "\n")
    catch { case _: Throwable => () }
    // ...and to a per-run unique path (VERDICT r19 #2): the r19 driver ran
    // two sweeps back-to-back and the second's /tmp/BENCH_local.json
    // overwrote the first's errors ledger, leaving an n_failed:1 record
    // that could not name its failure. The PID-suffixed copy survives any
    // number of sweeps in one driver invocation (each runs in its own
    // forked JVM). Only the clobberable default path gets the twin — an
    // explicit _OUT path is the caller's own uniqueness problem.
    if (!sys.env.contains("SPARK_GRAFT_BENCH_OUT")) {
      val uniq = outFile.stripSuffix(".json") +
        s".pid${ProcessHandle.current().pid()}.json"
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(uniq), summary + "\n")
      catch { case _: Throwable => () }
    }
    // the LAST stdout line is the compact headline (VERDICT r16 #1): the
    // driver's round artifact tails 2000 chars of stdout, which clips the
    // full summary line above — this one is sized to survive the window
    val headlineLine = headline(total, sfDir, results.size, errors.size,
      contaminated, sections, suspects, results, outFile,
      boxDriftStart = gateDrift, boxDriftEnd = gateEndDrift,
      errors = errors.toSeq)
    // sidecar (VERDICT r18 #6 / r19 #1, the end of the parsed:null era):
    // the exact headline line also lands in a FILE at a stable tracked
    // path, immune to any stdout-tail surgery — sbt's [info] prefix
    // defeated the driver's parser for seven rounds running. Written
    // UNCONDITIONALLY (official and non-official alike): the r18 fix
    // gated it on the official stamp, but official runs refuse on a
    // drifting box by design, so the driver's own sweeps never produced
    // the sidecar where the driver looks. Clobbering is safe here — the
    // headline self-classifies (record path, box_drift, contaminated,
    // errors), and the clean-series discipline lives in BENCH_local.json,
    // not in this pointer-to-latest.
    val headlineFile = "/root/repo/BENCH_headline.json"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(headlineFile), headlineLine + "\n")
    catch { case _: Throwable => () }
    println(headlineLine)
    spark.stop()
  }
}
