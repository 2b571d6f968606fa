package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. */
final class Ctx(val seed: Long, val seconds: Int, val traced: Boolean, val work: Path,
                val out: Path, val nproc: Int, val cores: Int) {
  val trace = new Trace(traced)
  val stats: Option[SparkStats] = if (traced) Some(new SparkStats) else None
  val progress: Option[ProgressLog] = if (traced) Some(new ProgressLog) else None
  val heap = new HeapPeak
  @volatile var spark: SparkSession = _
  private val born = System.nanoTime()
  /** Seconds since start at the end of each named phase (run context). */
  val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** JIT compilation seconds so far at the end of each named phase. */
  val jitSeconds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def mark(phase: String): Unit = {
    phases(phase) = (System.nanoTime() - born) / 1e9
    jitSeconds(phase) = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  }

  /** Starts (or restarts, after `stopSpark`) the run's Spark session. */
  def startSpark(master: String): SparkSession = {
    val s = graft.GraftSession.builder(master)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // GraftSession's 32 partitions are sized for local[32]
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    stats.foreach(s.sparkContext.addSparkListener)
    progress.foreach(s.streams.addListener)
    spark = s
    s
  }

  /** Turns spans and the Spark listeners on or off (traced runs only). */
  def tracing(on: Boolean): Unit = if (traced && trace.enabled != on) {
    trace.enabled = on
    if (on) {
      stats.foreach(spark.sparkContext.addSparkListener)
      progress.foreach(spark.streams.addListener)
    } else {
      stats.foreach(spark.sparkContext.removeSparkListener)
      progress.foreach(spark.streams.removeListener)
    }
  }

  def stopSpark(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Ends the heap measurement of the timed phase; returns retained MiB. */
  def stopPhase(rec: Record): Double = {
    val (peakMb, retainedMb) = heap.stop()
    rec.context("heap_peak_after_gc_mb") = peakMb
    retainedMb
  }

  /** Runs `body` with Spark's job group set, so listener stats split by it. */
  def group[T](name: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(name, name)
    try trace.span(name)(body)
    finally spark.sparkContext.clearJobGroup()
  }

  /** Repeats a set-up `reps` times and returns the median seconds; `body`
    * gets the repetition index. */
  def timedSetups(reps: Int)(body: Int => Unit): Double = {
    val m = Stats.median((0 until reps).map { i =>
      val t0 = System.nanoTime(); body(i); (System.nanoTime() - t0) / 1e9
    })
    mark("setup")
    m
  }
}

/** End-to-end metrics every workload reports (names in BENCHMARK.json);
  * `named` are the workload-specific names of the same numbers. */
final case class EndToEnd(setupS: Double, p50Ms: Double, tailMs: Double, tailLabel: String,
                          samples: Long, throughput: Double, heapMb: Double,
                          named: Map[String, (Double, String)])

trait Workload {
  def name: String
  /** Spark's task slots (`local[n]`) for this workload on `nproc` cores. */
  def sparkCores(nproc: Int): Int = nproc
  def run(ctx: Ctx, rec: Record): EndToEnd
}

/** Entry point: `Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out DIR`.
  * Prints the whole record as one line (see [[Record]]). */
object Main {
  val workloads: Seq[Workload] = Seq(StreamFeatures, ServeLive, BackfillTraining)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = a.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val wl = workloads.find(_.name == need("workload")).getOrElse {
      System.err.println(s"unknown workload ${a("workload")}; have ${workloads.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    Record.selfTest().foreach { e => System.err.println(s"record self-test failed: $e"); sys.exit(3) }
    val nproc = Runtime.getRuntime.availableProcessors()
    val cores = wl.sparkCores(nproc)
    val ctx = new Ctx(need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("out")), nproc, cores)
    Files.createDirectories(ctx.work); Files.createDirectories(ctx.out)

    val rec = new Record
    val load0 = loadAvg()
    rec.context ++= Seq("workload" -> wl.name, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "traced" -> ctx.traced, "nproc" -> nproc, "master" -> s"local[$cores]",
      "git_commit" -> a.getOrElse("commit", "unknown"), "loadavg_start" -> load0,
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)

    val t0 = System.nanoTime()
    val result =
      try {
        ctx.startSpark(s"local[$cores]")
        rec.context("session_start_s") = (System.nanoTime() - t0) / 1e9
        ctx.mark("session")
        Some(wl.run(ctx, rec))
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          rec.check("workload completed", ok = false, stackOf(e))
          None
      } finally {
        try ctx.stopSpark() catch { case _: Throwable => () }
        ctx.heap.close()
      }
    rec.context("phases_s") = ctx.phases.toMap
    rec.context("jit_s_at_phase_end") = ctx.jitSeconds.toMap
    rec.context("loadavg_end") = loadAvg()
    rec.context("wall_s") = (System.nanoTime() - t0) / 1e9

    result.foreach { r =>
      rec.context("tail_percentile") = r.tailLabel
      rec.context("latency_samples") = r.samples
      if (!ctx.traced) {
        rec.metric("setup_s", r.setupS, "s")
        rec.metric("latency_p50_ms", r.p50Ms, "ms")
        rec.metric("latency_tail_ms", r.tailMs, "ms")
        rec.metric("throughput_per_s", r.throughput, "1/s")
        rec.metric("retained_heap_mb", r.heapMb, "MB")
      }
      rec.context("named_metrics") = r.named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    }
    if (ctx.traced) {
      val self = ctx.trace.selfTimes
      Seq("api.compile", "api.pipeline_start").foreach { n =>
        self.get(n).foreach { case (c, tot, _) => rec.metric(s"${n}_ms", tot / c, "ms") }
      }
      val all = ctx.stats.get.total
      rec.metric("spark.jobs", SparkStats.sum(all)(_.jobs).toDouble, "count")
      rec.metric("spark.tasks", SparkStats.sum(all)(_.tasks).toDouble, "count")
      rec.metric("spark.shuffle_bytes", SparkStats.sum(all)(_.shuffleWrite).toDouble, "bytes")
      rec.metric("spark.spill_bytes", SparkStats.sum(all)(_.spill).toDouble, "bytes")
      rec.metric("spark.gc_ms", SparkStats.sum(all)(_.gcMs).toDouble, "ms")
      rec.context("span_coverage") = ctx.trace.coverage(t0, System.nanoTime())
      ctx.trace.writeTo(ctx.out.resolve(s"trace-${wl.name}-${ctx.seed}.json"), t0)
    }
    rec.context("error_rate") = if (rec.attempted == 0) 0.0 else rec.failed.toDouble / rec.attempted
    println(Record.RecordPrefix + Record.mapper.writeValueAsString(rec.toJson))
    System.out.flush()
    sys.exit(if (result.isDefined) 0 else 1)
  }

  def loadAvg(): Seq[Double] =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")
      .take(3).map(_.toDouble).toSeq
    catch { case _: Exception => Seq(java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage) }

  def stackOf(e: Throwable): String = {
    val sw = new java.io.StringWriter
    e.printStackTrace(new java.io.PrintWriter(sw))
    sw.toString.take(4000)
  }
}
