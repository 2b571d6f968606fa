package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.api.WindowSql

/** `backfill_training`: training-data backfill over seeded history through
  * `WindowSql.runBatchAuto`. One query holds ML-family aggregates over
  * long frames (routed to the tiled sweep), the other plain short-frame
  * aggregates (routed to Catalyst); both results are written to parquet.
  * One backfill = both queries, repeated for the run's seconds. The traced
  * run adds the curation leg ([[Curation]]) that measures `operators`.
  */
object BackfillTraining extends Workload {
  val name = "backfill_training"

  val events = 150000
  val shape: EventShape = EventShape(keys = 10000, zipfS = 0.9, oooShare = 0.0, oooMaxMs = 1)
  val spanMs: Long = 7L * 86400000L
  val setupReps = 3
  /** Timed backfills at least, however short `--seconds` is: the latency
    * metrics are their median and maximum. */
  val minBackfills = 4
  val warmBackfills = 2
  val sampleKeys = 12

  def frame(ms: Long) = s"PARTITION BY key ORDER BY ts_ms RANGE BETWEEN $ms PRECEDING AND CURRENT ROW"

  def sweepSql(t: String): String =
    s"""SELECT id, key, ts_ms,
       |  top(v, 3) OVER (${frame(3600000)}) AS top3_1h,
       |  sum_cate_where(v, cond, cate) OVER (${frame(3600000)}) AS scw_1h,
       |  avg(v) OVER (${frame(3600000)}) AS avg_1h,
       |  count(v) OVER (${frame(3600000)}) AS cnt_1h
       |FROM $t""".stripMargin

  def catalystSql(t: String): String =
    s"""SELECT id, key, ts_ms,
       |  sum(v) OVER (${frame(300000)}) AS sum_5m,
       |  max(v) OVER (PARTITION BY key ORDER BY ts_ms ROWS BETWEEN 20 PRECEDING AND CURRENT ROW) AS max_20
       |FROM $t""".stripMargin

  /** Writes `n` seeded events as parquet, generated in parallel slices. */
  def writeHistory(spark: SparkSession, seed: Long, n: Int, dir: String): Unit = {
    import spark.implicits._
    val slices = 8
    val per = n / slices
    val sh = shape; val span = spanMs
    spark.range(0, slices, 1, slices).as[Long].flatMap { p =>
      Gen.events(seed, sh, p * per, per, Gen.EpochMs + span * p / slices, span / slices, 0L)
    }.write.mode("overwrite").parquet(dir)
  }

  def run(ctx: Ctx, rec: Record): EndToEnd = {
    val spark = ctx.spark
    val n = events / 8 * 8
    var inDir = ""
    // set-up: generate the history, register it, and let graft compile,
    // route and plan both queries
    val setupS = ctx.timedSetups(setupReps) { i =>
      inDir = ctx.work.resolve(s"history-$i").toString
      writeHistory(spark, ctx.seed, n, inDir)
      spark.read.parquet(inDir).createOrReplaceTempView("events")
      Seq(sweepSql("events"), catalystSql("events"))
        .foreach(sql => WindowSql.runBatchAuto(spark, sql).queryExecution.executedPlan)
    }

    val sweepOut = ctx.work.resolve("out-sweep").toString
    val catOut = ctx.work.resolve("out-catalyst").toString
    var planMs = Seq.empty[Double]; var execMs = Seq.empty[Double]
    var routedSweep = true; var routedCatalyst = true
    def backfill(): Double = {
      val t0 = System.nanoTime()
      Seq((sweepSql("events"), sweepOut, "backfill.sweep"),
          (catalystSql("events"), catOut, "backfill.catalyst")).foreach { case (sql, out, grp) =>
        val p0 = System.nanoTime()
        val df = ctx.group(s"$grp.plan") {
          val d = WindowSql.runBatchAuto(spark, sql)
          d.queryExecution.executedPlan
          d
        }
        val p1 = System.nanoTime()
        ctx.group(grp)(df.write.mode("overwrite").parquet(out))
        planMs :+= (p1 - p0) / 1e6; execMs :+= (System.nanoTime() - p1) / 1e6
        val sweepPlan = df.queryExecution.analyzed.toString.contains("MapGroups")
        if (grp == "backfill.sweep") routedSweep &&= sweepPlan else routedCatalyst &&= !sweepPlan
      }
      (System.nanoTime() - t0) / 1e6
    }

    WindowSql.compile(spark, sweepSql("events")).left.foreach(e => rec.context("sweep_compile_error") = e)
    // two full, untimed backfills: the first pass over the full history runs
    // about twice as long as later ones while the sweep's code compiles, and
    // after one warm-up the next pass was still the slowest in every run
    val w0 = System.nanoTime()
    (1 to warmBackfills).foreach(_ => backfill())
    rec.context("warmup_s") = (System.nanoTime() - w0) / 1e9
    planMs = Nil; execMs = Nil
    ctx.mark("warmup")
    ctx.heap.start()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val t0 = System.nanoTime()
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (times.size < minBackfills || System.nanoTime() < deadline) times += backfill()
    val totalS = (System.nanoTime() - t0) / 1e9
    val heapMb = ctx.stopPhase(rec)
    ctx.mark("measure")
    rec.ops(times.size, 0)

    // traced run: one untraced backfill against one traced one
    if (ctx.traced) {
      ctx.tracing(false)
      val untraced = backfill()
      ctx.tracing(true)
      rec.metric("trace.overhead_pct", 100.0 * (Stats.median(times.toSeq) / untraced - 1), "%")
    }

    rec.check("sweep query routed to the tiled sweep", routedSweep)
    rec.check("short-frame query routed to Catalyst", routedCatalyst)
    check(ctx, rec, spark, sweepOut, catOut, n)
    ctx.mark("check")

    if (ctx.traced) {
      val st = ctx.stats.get
      val gs = st.snapshot("backfill.")
      rec.metric("backfill.plan_ms", Stats.median(planMs), "ms")
      rec.metric("backfill.exec_s", execMs.grouped(2).map(_.sum).toSeq.sorted.apply(execMs.size / 4) / 1e3, "s")
      rec.metric("backfill.stage_cpu_s", SparkStats.sum(gs)(_.cpuNs) / 1e9 / times.size, "s")
      rec.metric("backfill.shuffle_write_bytes", SparkStats.sum(gs)(_.shuffleWrite).toDouble / times.size, "bytes")
      rec.metric("backfill.spill_bytes", SparkStats.sum(gs)(_.spill).toDouble / times.size, "bytes")
      rec.metric("backfill.gc_ms", SparkStats.sum(gs)(_.gcMs).toDouble / times.size, "ms")
      rec.metric("backfill.task_skew", st.taskSkew("backfill.sweep", ctx.cores), "ratio")
      rec.metric("backfill.sweep_rows", spark.read.parquet(sweepOut).count().toDouble, "rows")
      rec.metric("backfill.catalyst_rows", spark.read.parquet(catOut).count().toDouble, "rows")
    }

    val curate = if (ctx.traced) Map("curate.docs_per_s" -> (Curation.leg(ctx, rec), "1/s")) else Map.empty

    val (tailLabel, tail) = Stats.tail(times.toSeq)
    val rps = n.toDouble * times.size / totalS
    rec.context("input_records") = n
    rec.context("iterations") = times.size
    rec.context("plan_ms") = planMs; rec.context("exec_ms") = execMs
    EndToEnd(setupS, Stats.median(times.toSeq), tail, tailLabel, times.size, rps, heapMb,
      Map("backfill.records_per_s" -> (rps, "1/s")) ++ curate)
  }

  /** A seeded sample of keys: the written results must equal plain Catalyst
    * `spark.sql` over the same SQL restricted to those keys. */
  private def check(ctx: Ctx, rec: Record, spark: SparkSession, sweepOut: String,
                    catOut: String, n: Int): Unit = {
    val r = new java.util.SplittableRandom(ctx.seed ^ 0x5eedL)
    val keys = Seq.fill(sampleKeys)(Gen.keyName(r.nextInt(shape.keys))).distinct
    spark.table("events").where(col("key").isin(keys: _*)).createOrReplaceTempView("events_sample")
    Seq((sweepSql("events_sample"), sweepOut, "sweep"),
        (catalystSql("events_sample"), catOut, "catalyst")).foreach { case (sql, out, what) =>
      val want = spark.sql(sql).collect().map(Rows.keyed).toMap
      val got = spark.read.parquet(out).where(col("key").isin(keys: _*)).collect().map(Rows.keyed).toMap
      val bad = want.keySet.union(got.keySet).toSeq.filterNot(id =>
        want.get(id).zip(got.get(id)).exists { case (a, b) => Rows.same(a, b) })
      rec.ops(want.size, bad.size)
      rec.check(s"$what results equal Catalyst on ${keys.size} sampled keys (${want.size} rows)",
        bad.isEmpty && want.nonEmpty,
        s"${bad.size} mismatching ids, e.g. ${bad.take(3).map(id => s"$id want=${want.get(id)} got=${got.get(id)}").mkString("; ")}")
    }
    rec.check("every input row has one result row",
      spark.read.parquet(sweepOut).count() == n && spark.read.parquet(catOut).count() == n)
  }
}

/** Row comparison shared by the correctness checks. */
object Rows {
  /** id -> the row's values by column name. */
  def keyed(r: Row): (Long, Map[String, Any]) = keyedBy(r.schema.fieldNames.toSeq)(r)

  /** For rows without a schema: `names` in column order, `id` among them. */
  def keyedBy(names: Seq[String])(r: Row): (Long, Map[String, Any]) = {
    val m = names.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap
    m("id").asInstanceOf[Number].longValue -> m
  }

  def same(a: Map[String, Any], b: Map[String, Any]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, x) => value(x, b(k)) }

  def value(x: Any, y: Any): Boolean = (x, y) match {
    case (a: Number, b: Number) =>
      val (p, q) = (a.doubleValue(), b.doubleValue())
      p == q || math.abs(p - q) <= 1e-9 * math.max(1.0, math.max(math.abs(p), math.abs(q)))
    case (a: scala.collection.Seq[_], b: scala.collection.Seq[_]) =>
      a.size == b.size && a.zip(b).forall { case (p, q) => value(p, q) }
    case _ => x == y
  }
}
