package graft.tools

import java.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.GraftSession
import graft.api.Pipeline
import graft.streaming.SlidingWindows

/** Randomized fuzz of the pipeline-spec JSON front-end (VERDICT r16 #7):
  * `api.Pipeline` is the one user-facing surface with no randomized
  * layer — its unit tests pin a handful of hand-written specs. This tool
  * generates seeded random spec DOCUMENTS (source kinds × execution
  * modes × SQL shapes × window/agg blocks × sink kinds × knobs), runs
  * each through `Pipeline.runJson` as a REAL query, and value-compares
  * the result against the same SQL evaluated by Catalyst on the same
  * rows in plain batch mode — batch-vs-streaming answer parity on a
  * generated query, the same oracle discipline as the spec's own tests
  * (reference front-end: `src/api/spec/pipeline.rs:33-55`,
  * `src/api/compiler.rs:79-130`).
  *
  * Shapes: stateless projection+filter (append mode), grouped aggregate
  * (complete mode, memory sink), and per-row OVER windows (RANGE/ROWS
  * frames) compiled into the sliding-window engine, fed
  * out of order within a covering allowed-lateness and closed with the
  * two-round FLUSH_TS protocol. Sources alternate MemoryStream and a
  * streaming parquet directory; sinks alternate memory and parquet.
  *
  * Determinism: each document derives from `new Random(seedBase + i)`
  * alone; a failure replays from its printed (seedBase, i). Values are
  * quarter-integers so sums are exact; cells compare with a 1e-6
  * relative tolerance (engine fold order vs Catalyst frame order differ
  * at the ulp).
  *
  * Usage: runMain graft.tools.PipelineFuzz <outJson> [n] [seedBase]
  *   [mixed|request]. `PipelineFuzzSpec` runs a seeded few documents of
  *   each family through [[run]] on every test run.
  */
object PipelineFuzz {

  private def tol(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b ||
      math.abs(a - b) <= 1e-6 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  private def cellsEqual(a: Seq[Any], b: Seq[Any]): Boolean =
    a.length == b.length && a.zip(b).forall {
      case (x: Double, y: Double) => tol(x, y)
      case (x, y) => x == y
    }

  private def rowsEqual(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] = {
    if (got.length != want.length)
      return Some(s"rows ${got.length} vs ${want.length}")
    def key(r: Seq[Any]): String = r.map {
      case d: Double =>
        String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
      case x => String.valueOf(x)
    }.mkString("|")
    // fast path: positional zip after a sort. When it mismatches, fall
    // back to tolerance-aware multiset matching (ADVICE r17): rows whose
    // keys tie at 4 decimals but differ within tolerance can sort into
    // different orders on the two sides, mispairing rows — a spurious
    // failure, not a real one. Fuzz result sets are small, so the O(n^2)
    // fallback only ever runs on (rare) positional mismatches.
    val g = got.sortBy(key)
    val w = want.sortBy(key)
    if (g.zip(w).forall { case (a, b) => cellsEqual(a, b) }) return None
    val remaining = scala.collection.mutable.ArrayBuffer(w: _*)
    g.foreach { a =>
      val i = remaining.indexWhere(b => cellsEqual(a, b))
      if (i < 0) return Some(s"unmatched row: ${key(a)}")
      remaining.remove(i)
    }
    None
  }

  private def collect(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** One generated document + its oracle + how to drive it. */
  private final case class Doc(
      spec: String,
      sql: String,
      shape: String,
      feed: (Pipeline.Handle, SparkSession) => Unit, // arrival + flush protocol
      read: SparkSession => DataFrame)

  /** Brute-force as-of oracle over the generated rows — family H's
    * semantics (PropertyParitySpec.bruteAsOf): frame rows are the key's
    * events at or before `at`; RANGE keeps [at - len, at], ROWS n keeps
    * the last n+1 (n PRECEDING + CURRENT ROW, WindowSql's RowsN(n)
    * mapping). Values are quarter-integers, so sums are exact in binary
    * and the compare is Double.compare-strict. */
  private def bruteAsOf(rows: Seq[(Long, String, Double)], key: String,
                        at: Long,
                        aggs: Seq[(String, String, Either[Long, Int])])
      : Seq[(String, Double)] = {
    val evs = rows.filter(e => e._2 == key && e._1 <= at).sortBy(_._1)
    aggs.map { case (name, kind, frame) =>
      val fr = frame match {
        case Left(len) => evs.dropWhile(_._1 < at - len) // RANGE len ms
        case Right(k) => evs.takeRight(k + 1) // ROWS k PRECEDING
      }
      val vs = fr.map(_._3)
      val v = kind match {
        case "sum" => vs.foldLeft(0.0)(_ + _)
        case "count" => vs.length.toDouble
        case "avg" => if (vs.isEmpty) Double.NaN else vs.foldLeft(0.0)(_ + _) / vs.length
        case "min" => if (vs.isEmpty) Double.NaN else vs.min
        case "max" => if (vs.isEmpty) Double.NaN else vs.max
      }
      name -> v
    }
  }

  /** One REQUEST-mode document (VERDICT r17 #6): a random OVER-window
    * query compiled through the spec loader into the request-serving
    * tail (engine -> upsert store + live buffer -> HTTP server), with
    * a random shard count, then random point-in-time lookups
    * against the live endpoint compared to [[bruteAsOf]]. Draw points sit
    * ON one of the key's own events, so every frame provably holds at
    * least one row (an empty frame's NaN doesn't round-trip JSON —
    * family H's restriction). Returns None on match. */
  private def runRequestDoc(spark: SparkSession, i: Int, r: Random,
                            view: String): Option[String] = {
    import spark.implicits._
    val nRows = 80 + r.nextInt(160)
    val nKeys = 1 + r.nextInt(4)
    val base = 1704067200000L
    var ts = base
    val rows = (0 until nRows).map { _ =>
      ts += 1 + r.nextInt(5000)
      (ts, s"k${r.nextInt(nKeys)}", r.nextInt(1000) / 4.0)
    }
    val spanMs = rows.last._1 - base
    val numShards = 2 + r.nextInt(4)
    val gran = Seq(1000L, 5000L, 60000L)(r.nextInt(3))
    val kinds = Seq("sum", "avg", "min", "max", "count")
    // anchor spec: a RANGE wider than the corpus span, so the serving
    // buffer's horizon trim (2x max range from the newest row) can never
    // drop a row any draw's frame needs — family H's rule; without it,
    // draws near the corpus start evaluate a truncated buffer and answer
    // NaN (measured on the first smoke: 2/8 shapes, both early draws)
    val anchor = ("w_anchor", kinds(r.nextInt(kinds.length)),
      Left(spanMs + 60000L): Either[Long, Int])
    val aggs = anchor +: (0 until 1 + r.nextInt(3)).map { a =>
      val kind = kinds(r.nextInt(kinds.length))
      val frame: Either[Long, Int] =
        if (r.nextBoolean()) Left((1 + r.nextInt(120)) * 60000L)
        else Right(1 + r.nextInt(60))
      (s"w_$a", kind, frame)
    }
    val aggSql = aggs.map { case (name, kind, frame) =>
      val fr = frame match {
        case Left(len) => s"RANGE BETWEEN $len PRECEDING AND CURRENT ROW"
        case Right(k) => s"ROWS BETWEEN $k PRECEDING AND CURRENT ROW"
      }
      s"$kind(value) OVER (PARTITION BY key ORDER BY ts_ms $fr) AS $name"
    }.mkString(", ")
    val sql = s"SELECT ts_ms, key, $aggSql FROM $view"
    val root = GraftSession.tempDir(s"graft_pfr_${i}_")
    rows.toDF("ts_ms", "key", "value").coalesce(1).write.parquet(s"$root/in")
    val spec = s"""{
      "execution_mode": "Request",
      "event_time": { "window": {"allowed_lateness_ms": ${spanMs + 3600000L}} },
      "window": { "tile_granularity_ms": $gran },
      "sources": [ { "table_name": "$view", "source": { "Parquet": {"path": "$root/in"} } } ],
      "sql": ${graft.Metrics.toJson(sql)},
      "request_source_sink": { "bind_address": "127.0.0.1:0",
                               "sharded": {"num_shards": $numShards} }
    }"""
    val handle = Pipeline.runJson(spark, spec)
    try {
      handle.query.foreach(_.processAllAvailable())
      handle.feeder.foreach(_.processAllAvailable())
      val port = handle.port.getOrElse(return Some("no port on request handle"))
      val client = java.net.http.HttpClient.newHttpClient()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val keys = rows.map(_._2).distinct
      val draws = (0 until 8).map { _ =>
        val key = keys(r.nextInt(keys.length))
        val keyEvs = rows.filter(_._2 == key)
        (key, keyEvs(r.nextInt(keyEvs.length))._1)
      }.distinct
      for ((key, at) <- draws) {
        val resp = client.send(
          java.net.http.HttpRequest
            .newBuilder(java.net.URI.create(s"http://localhost:$port/request"))
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
              s"""{"key": "$key", "ts_ms": $at}"""))
            .build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        if (resp.statusCode() != 200)
          return Some(s"$key@$at -> HTTP ${resp.statusCode()} (${resp.body().take(120)})")
        val fo = mapper.readTree(resp.body()).get("features")
        for ((name, want) <- bruteAsOf(rows, key, at, aggs)) {
          val got = fo.get(name).asDouble()
          if (java.lang.Double.compare(got, want) != 0)
            return Some(s"$key@$at $name: http=$got brute=$want " +
              s"(num_shards=$numShards)")
        }
      }
      None
    } finally handle.stop()
  }

  /** One MIXED-family document: a random Streaming spec run as a real
    * query, fed out of order, flushed, and value-compared against the same
    * SQL on Catalyst batch. Returns (shape, source kind, failure). */
  private def runMixedDoc(spark: SparkSession, i: Int, r: Random)
      : (String, String, Option[String]) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val view = s"pf_in_$i"
    val outName = s"pf_out_$i"

    // ---- deterministic rows: ts strictly increasing, quarter values --
    val nRows = 80 + r.nextInt(160)
    val nKeys = 1 + r.nextInt(4)
    val base = 1704067200000L
    var ts = base
    val rows = (0 until nRows).map { _ =>
      ts += 1 + r.nextInt(5000)
      (ts, s"k${r.nextInt(nKeys)}", r.nextInt(1000) / 4.0)
    }
    val spanMs = rows.last._1 - base

    // ---- knobs -------------------------------------------------------
    val srcKind = if (r.nextBoolean()) "Memory" else "Parquet"
    val sinkMem = r.nextBoolean()
    val lateness = spanMs + 3600000L
    val gran = Seq(1000L, 5000L, 60000L, 600000L)(r.nextInt(4))
    val withCoarse = r.nextInt(3) == 0
    val parallelism = 1 + r.nextInt(4)
    val provider = r.nextInt(3) match {
      case 0 => """"state_store_provider": "rocksdb","""
      case 1 => """"state_store_provider": "hdfs","""
      case _ => ""
    }

    val root = GraftSession.tempDir(s"graft_pfz_${i}_")
    val keys = rows.map(_._2).distinct

    // ---- SQL shape -----------------------------------------------------
    val shapeKind = r.nextInt(6)
    val (sql, shapeName, needsFlush, outputMode) = shapeKind match {
      case 0 | 1 => // stateless projection + filter
        val cut = r.nextInt(1000) / 4.0
        val op = if (r.nextBoolean()) ">" else "<="
        (s"SELECT ts_ms, key, value * 2 AS v2 FROM $view WHERE value $op $cut",
          "stateless", false, "append")
      case 2 => // grouped aggregate, complete mode
        val aggs = Seq("count(*) AS n", "sum(value) AS s", "min(value) AS mn",
          "max(value) AS mx", "avg(value) AS av")
        val k = 1 + r.nextInt(3)
        val chosen = r.ints(0, aggs.length).distinct().limit(k)
          .toArray.toSeq.sorted.map(aggs)
        (s"SELECT key, ${chosen.mkString(", ")} FROM $view GROUP BY key",
          "grouped", false, "complete")
      case _ => // OVER windows through the sliding-window engine
        val kinds = Seq("sum", "avg", "min", "max", "count", "stddev_samp")
        val nAgg = 1 + r.nextInt(2)
        val aggs = (0 until nAgg).map { a =>
          val kind = kinds(r.nextInt(kinds.length))
          val frame =
            if (r.nextBoolean())
              s"RANGE BETWEEN ${(1 + r.nextInt(120)) * 60000L} PRECEDING AND CURRENT ROW"
            else s"ROWS BETWEEN ${1 + r.nextInt(80)} PRECEDING AND CURRENT ROW"
          s"$kind(value) OVER (PARTITION BY key ORDER BY ts_ms $frame) AS w_$a"
        }
        (s"SELECT ts_ms, key, ${aggs.mkString(", ")} FROM $view",
          "over", true, "append")
    }

    // ---- source + sink blocks ----------------------------------------
    val mem =
      if (srcKind == "Memory") Some(MemoryStream[(Long, String, Double)])
      else None
    if (srcKind == "Parquet") {
      // data first; flush files appended AFTER the query starts
      rows.toDF("ts_ms", "key", "value").coalesce(1).write.parquet(s"$root/in")
    }
    val srcJson =
      if (srcKind == "Memory") s"""{ "table_name": "$view", "source": { "Memory": {} } }"""
      else s"""{ "table_name": "$view", "source": { "Parquet": {"path": "$root/in"} } }"""
    val sinkJson =
      if (sinkMem) s"""{ "Memory": {"table_name": "$outName", "output_mode": "$outputMode"} }"""
      else s"""{ "Parquet": {"path": "$root/out"} }"""
    // complete mode needs the memory sink; parquet sinks are append-only
    val sink = if (outputMode == "complete")
      s"""{ "Memory": {"table_name": "$outName", "output_mode": "complete"} }"""
    else sinkJson
    val coarseJson =
      if (withCoarse && needsFlush)
        s""""operator_overrides": { "defaults": { "tuning": { "Window": {
            "tiling": { "granularities_ms": [$gran, ${gran * 4}] } } } } },"""
      else ""
    val spec = s"""{
      "execution_mode": "Streaming",
      "parallelism": $parallelism,
      $provider
      $coarseJson
      "event_time": { "window": {"allowed_lateness_ms": $lateness} },
      "window": { "tile_granularity_ms": $gran },
      "sources": [ $srcJson ],
      "sql": ${graft.Metrics.toJson(sql)},
      "sink": $sink
    }"""

    // ---- run streaming, feed out of order, flush, read back ----------
    val outcome = guarded(spark) {
      val tables = mem.map(m => Map(view -> m.toDF().toDF("ts_ms", "key", "value")))
        .getOrElse(Map.empty[String, DataFrame])
      val handle = Pipeline.runJson(spark, spec, tables)
      try {
        val q = handle.query.get
        mem match {
          case Some(m) =>
            val shuffled = {
              val a = scala.collection.mutable.ArrayBuffer(rows: _*)
              // Fisher-Yates off the shape's own Random
              for (j <- a.indices.reverse.dropRight(1)) {
                val k = r.nextInt(j + 1); val t = a(j); a(j) = a(k); a(k) = t
              }
              a.toSeq
            }
            shuffled.grouped(50).foreach { b => m.addData(b: _*); q.processAllAvailable() }
            if (needsFlush) {
              m.addData(keys.map(k => (SlidingWindows.FLUSH_TS, k, 0.0)): _*)
              q.processAllAvailable()
              m.addData((SlidingWindows.FLUSH_TS, keys.head, 0.0))
              q.processAllAvailable()
            }
          case None =>
            q.processAllAvailable()
            if (needsFlush) {
              keys.map(k => (SlidingWindows.FLUSH_TS, k, 0.0))
                .toDF("ts_ms", "key", "value")
                .coalesce(1).write.mode("append").parquet(s"$root/in")
              q.processAllAvailable()
              Seq((SlidingWindows.FLUSH_TS, keys.head, 0.0))
                .toDF("ts_ms", "key", "value")
                .coalesce(1).write.mode("append").parquet(s"$root/in")
              q.processAllAvailable()
            }
        }
        val got = collect(
          if (sink.contains("Memory")) spark.table(outName)
          else spark.read.parquet(s"$root/out"))
        // oracle: the same SQL on the same rows, plain Catalyst batch
        rows.toDF("ts_ms", "key", "value").createOrReplaceTempView(view)
        val want = collect(spark.sql(sql))
        rowsEqual(got, want)
      } finally handle.stop()
    }
    (shapeName, srcKind, outcome)
  }

  /** Runs `doc` with the session's shuffle and state-store settings
    * restored afterwards (a spec's knobs are session-level); an exception
    * is a failure, not an abort. */
  private def guarded(spark: SparkSession)(doc: => Option[String]): Option[String] = {
    val savedShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val savedState = graft.streaming.StateStoreConf.snapshot(spark)
    try doc
    catch {
      case e: Exception =>
        Some(s"exception: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(300)}")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", savedShuffle)
      graft.streaming.StateStoreConf.restore(spark, savedState)
    }
  }

  /** Shape counts and failure lines of one fuzz run. */
  final case class Report(shapes: Map[String, Int], failures: Seq[String])

  /** Runs `n` documents of `family` — "mixed" (the batch-parity corpus)
    * or "request" (request-mode documents vs the as-of oracle) — document
    * `i` drawn from `new Random(seedBase + i)` alone. */
  def run(spark: SparkSession, n: Int, seedBase: Long,
          family: String = "mixed"): Report = {
    val shapes = scala.collection.mutable.Map.empty[String, Int]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for (i <- 0 until n) {
      val r = new Random(seedBase + i)
      val (name, shape, src, outcome) =
        if (family == "request")
          (s"pfr_$i", "request", "-", guarded(spark)(runRequestDoc(spark, i, r, s"pfr_in_$i")))
        else {
          val (shape, src, outcome) = runMixedDoc(spark, i, r)
          (s"pf_$i", shape, src, outcome)
        }
      shapes(shape) = shapes.getOrElse(shape, 0) + 1
      outcome match {
        case Some(err) =>
          failures += s"$name (seed=${seedBase + i}, $shape, src=$src): $err"
          println(s"[pfz] FAIL $name seed=${seedBase + i} $shape src=$src: $err")
        case None =>
          if (i % 10 == 0) println(s"[pfz] $name ok  $shape src=$src")
      }
    }
    Report(shapes.toMap, failures.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("PIPELINE_FUZZ_r17.json")
    val n = args.lift(1).map(_.toInt).getOrElse(120)
    val seedBase = args.lift(2).map(_.toLong).getOrElse(73000L)
    val family = args.lift(3).getOrElse("mixed")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val report = run(spark, n, seedBase, family)
    writeReport(outJson, family, n, seedBase, report.shapes, report.failures)
    spark.stop()
    if (report.failures.nonEmpty) sys.exit(2)
  }

  private def writeReport(outJson: String, family: String, n: Int,
                          seedBase: Long,
                          shapes: scala.collection.Map[String, Int],
                          failures: Seq[String]): Unit = {
    val what =
      if (family == "request")
        "random REQUEST-mode pipeline-spec documents through api.Pipeline.runJson " +
          "(OVER-window SQL x shard counts), live " +
          "HTTP point-in-time lookups compared exactly against the brute-force " +
          "as-of oracle (family H's compare, driven from the spec loader)"
      else
        "random pipeline-spec JSON documents through api.Pipeline.runJson " +
          "(source kinds x SQL shapes x window/agg blocks x sink kinds x knobs), " +
          "streaming result value-compared against the same SQL on Catalyst batch"
    val report = graft.Metrics.toJson(Map(
      "tool" -> "graft.tools.PipelineFuzz",
      "what" -> what,
      "family" -> family,
      "n" -> n,
      "seed_base" -> seedBase,
      "shapes" -> shapes.toMap.map { case (k, v) => k -> (v: Any) },
      "n_failed" -> failures.length,
      "failures" -> failures))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), report + "\n")
    println(s"[pfz] ${n - failures.length}/$n green -> $outJson")
  }
}
