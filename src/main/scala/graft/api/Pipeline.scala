package graft.api

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions
import graft.serving.{FeatureLookup, FeatureStore, LiveBuffer, RequestServer, ServingBuffer, ShardedFeatureStore, ShardedServingBuffer}
import graft.sources.{Datagen, Kafka}
import graft.streaming.{LocalCheckpointFileManager, SlidingWindows, StateStoreConf}
import graft.streaming.SlidingWindows.{AggSpec, RangeMs, RowsN}

/** Pipeline-spec JSON front-end — the production entry point of the
  * reference engine (src/api/spec/pipeline.rs:33-55, compiled at
  * src/api/compiler.rs:79-130): a JSON document declares execution mode,
  * sources (with Arrow JSON schemas), the SQL, event-time defaults, and
  * the sink; the loader registers sources, dispatches batch vs streaming
  * vs request serving, and wires the sink.
  *
  * Field names mirror the reference spec (snake_case, externally-tagged
  * source/sink kinds) so a reference spec file ports by renaming the
  * connector payloads only.
  *
  * ```json
  * { "execution_mode": "Batch" | "Streaming" | "Request",
  *   "state_store_provider": "rocksdb" | "hdfs",  // optional (r14): the
  *                                                // measured policy knob;
  *                                                // window pipelines default
  *                                                // to rocksdb
  *   "trigger_ms": 1000,              // optional: explicit trigger cadence
  *   "freshness_target_ms": 2400,     // optional (r15): target p50
  *                                    // event→emit freshness; derives the
  *                                    // trigger interval (target/2, floored
  *                                    // at the measured knee — see
  *                                    // [[Pipeline.specTrigger]])
  *   "trigger_floor_ms": 600,         // optional: a deployment's own
  *                                    // measured per-trigger fixed floor
  *   "sources": [ { "table_name": "events",
  *                  "schema_json": {"fields":[{"name":"v","type":{"name":"utf8"}}]},
  *                  "event_time_column": "ts",       // optional, streaming
  *                  "keepalive_ms": 1000,            // optional: idle-source
  *                                                   // watermark heartbeat
  *                                                   // (streaming/Keepalive)
  *                  "source": { "Parquet": {"path": "..."} }
  *                           | { "Kafka": {"bootstrap_servers": "...", "topic": "...",
  *                                          "offset": "Earliest"} }
  *                           | { "Datagen": {"limit": 1000, "rate": 100.0,
  *                                            "fields": {"k": {"Key": {"num_unique": 4}}}} }
  *                           | { "Memory": {} } } ],   // supplied via `tables`
  *   "sql": "SELECT ...",
  *   "event_time": { "watermark": {"out_of_orderness_ms": 0},
  *                    "window": {"allowed_lateness_ms": 0} },
  *   "window": { "key_column": "k", "ts_column": "ts_ms", "value_column": "v",
  *               "tile_granularity_ms": 60000,
  *               "aggs": [ {"name": "sum_1h", "kind": "sum", "range_ms": 3600000},
  *                          {"name": "avg_100", "kind": "avg", "rows": 100} ] },
  *   "request_source_sink": { "bind_address": "127.0.0.1:0" },
  *   "sink": { "Parquet": {"path": "..."} }
  *         | { "Memory": {"table_name": "out"} }
  *         | { "Upsert": {"key_column": "key", "ts_column": "ts_ms"} } }
  * ```
  *
  * Modes:
  *  - Batch: sources read eagerly, `sql` runs on Catalyst, sink written.
  *  - Streaming: sources as readStream (+ per-source watermark), `sql`
  *    runs as a streaming query into the sink.
  *  - Request: the declared `window` block runs through the sliding-window
  *    engine into an Upsert [[FeatureStore]], and an HTTP [[RequestServer]]
  *    serves keyed lookups — the reference's request-mode graph rewrite
  *    (src/api/logical_graph.rs:362-494: window branch cloned into
  *    request_source -> window_request -> request_sink).
  */
object Pipeline {

  /** A running (or completed) pipeline. */
  /** Raw-row stream + slot layout feeding live request evaluation. */
  private final case class LiveFeed(raw: DataFrame, rawKeyCol: String,
                                    rawTsCol: String, valueCols: Seq[String],
                                    strCols: Seq[String], specs: Seq[AggSpec])

  final case class Handle(
      mode: String,
      result: Option[DataFrame],
      query: Option[StreamingQuery],
      store: Option[FeatureLookup],
      server: Option[RequestServer],
      port: Option[Int],
      /** Raw-row feeder behind live request evaluation (request mode). */
      feeder: Option[StreamingQuery] = None,
      buffer: Option[LiveBuffer] = None) {
    def stop(): Unit = {
      query.foreach(_.stop())
      feeder.foreach(_.stop())
      server.foreach(_.stop())
    }
  }

  private val mapper = new ObjectMapper()

  def runFile(spark: SparkSession, path: String,
              tables: Map[String, DataFrame] = Map.empty): Handle =
    runJson(spark, new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"), tables)

  def runJson(spark: SparkSession, json: String,
              tables: Map[String, DataFrame] = Map.empty): Handle = {
    val spec = mapper.readTree(json)
    if (spec.has("engine"))
      sys.error("the \"engine\" field is gone: windows have one engine now " +
        "(flatMapGroupsWithState); drop the field, and pick the state store " +
        "with \"state_store_provider\"")
    val mode = text(spec, "execution_mode", "Batch")
    GraftFunctions.register(spark)

    val streamingMode = mode != "Batch"
    // fork-free checkpoint I/O on file: paths, also on sessions graft did
    // not build; a session-level effect (see LocalCheckpointFileManager.install)
    if (streamingMode) LocalCheckpointFileManager.install(spark)

    // ---- per-operator overrides (pipeline.rs:33-55, overrides.rs) -------
    // Spark mapping: `parallelism` -> the shuffle/state partition count;
    // Window tuning `lateness` -> engine allowed-lateness; Window `tiling`
    // granularities -> tile hierarchy. Transport queue sizes, compaction /
    // dump cadence and dump parallelism govern the reference's hand-built
    // exchange and storage compactor — Spark's exchange, AQE and the state
    // store own those decisions, so they are warn-ignored BY NAME rather
    // than silently dropped.
    opt(spec, "parallelism").map(_.asInt()).foreach { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
    }
    // state-store provider knob (r14: the measured policy is a spec field,
    // not just an env var — HDFS-backed wins at small state, RocksDB wins
    // once the store outgrows cheap in-heap maps; BENCH_steady_r13.json).
    // A spec value is obeyed as given; like the checkpoint manager above it
    // is a session-level effect (see StateStoreConf).
    val providerGiven = opt(spec, "state_store_provider").map(_.asText().toLowerCase).map {
      case "rocksdb" => StateStoreConf.setRocksDb(spark)
      case "hdfs" => spark.conf.set(StateStoreConf.ProviderKey, StateStoreConf.HdfsProvider)
      case other => sys.error(s"state_store_provider must be rocksdb|hdfs, got $other")
    }.nonEmpty
    /** Window pipelines with no provider in the spec run on RocksDB: on
      * the HDFS-backed store the request-serving tail under concurrent
      * writes measured about a fifth higher (perfbench `serve_live`). */
    def windowStateStore(): Unit = if (!providerGiven) StateStoreConf.setRocksDb(spark)
    val overrideNodes: Seq[JsonNode] = opt(spec, "operator_overrides").toSeq.flatMap { oo =>
      opt(oo, "defaults").toSeq ++
        opt(oo, "per_operator").toSeq.flatMap(_.properties().asScala.map(_.getValue))
    }
    overrideNodes.foreach { o =>
      opt(o, "transport").foreach(t => System.err.println(
        s"[pipeline] ignoring transport override $t (Spark exchange owns buffering)"))
      opt(o, "tuning").flatMap(t => opt(t, "Window")).foreach { w =>
        Seq("compaction_interval_ms", "dump_interval_ms", "dump_hot_bucket_count",
          "in_mem_dump_parallelism", "parallelize").foreach(k =>
          opt(w, k).foreach(v => System.err.println(
            s"[pipeline] ignoring window tuning $k=$v (state store owns dump/compaction)")))
      }
    }
    // fuzzy-join blocking width (r14 product knob): forces the ladder
    // rung for auto-mode jaccardJoin calls in this SESSION, skipping the
    // gram-stats pass (FuzzyJoin.WidthConfKey; 0/absent = measured
    // auto-selection). Session-scoped, so conflicting per-operator widths
    // cannot be honored — fail loudly instead of silently last-one-wins.
    val fuzzyWidths = overrideNodes
      .flatMap(o => opt(o, "tuning").flatMap(t => opt(t, "Fuzzy")))
      .flatMap(f => opt(f, "block_width")).map(_.asInt()).distinct
    if (fuzzyWidths.length > 1)
      sys.error(s"conflicting Fuzzy.block_width overrides $fuzzyWidths: " +
        "the width knob is session-scoped — give all fuzzy operators the " +
        "same width, or pass blockWidth per jaccardJoin call")
    fuzzyWidths.headOption.foreach(bw =>
      spark.conf.set(graft.operators.FuzzyJoin.WidthConfKey, bw.toString))
    val windowTuning: Option[JsonNode] =
      overrideNodes.flatMap(o => opt(o, "tuning").flatMap(t => opt(t, "Window"))).headOption
    val tilingGrans: Seq[Long] = windowTuning.flatMap(w => opt(w, "tiling"))
      .flatMap(t => opt(t, "granularities_ms")).toSeq
      .flatMap(_.elements().asScala).map(_.asLong()).sorted

    val latenessMs = windowTuning.flatMap(w => opt(w, "lateness")).map(_.asLong())
      .orElse(opt(spec, "event_time")
        .flatMap(et => opt(et, "window"))
        .flatMap(w => opt(w, "allowed_lateness_ms")).map(_.asLong(0L)))
      .getOrElse(0L)
    val oooMs = opt(spec, "event_time")
      .flatMap(et => opt(et, "watermark"))
      .flatMap(w => opt(w, "out_of_orderness_ms")).map(_.asLong(0L)).getOrElse(0L)

    // ---- sources --------------------------------------------------------
    val sourceNodes: Map[String, JsonNode] =
      opt(spec, "sources").toSeq.flatMap(_.elements().asScala).map { s =>
        text(s, "table_name", sys.error("source needs table_name")) -> s
      }.toMap
    val sourceFrames: Map[String, DataFrame] =
      sourceNodes.map { case (name, s) =>
        val schema = opt(s, "schema_json").map(parseArrowSchema).orNull
        val df0 = loadSource(spark, s, schema, streamingMode, tables)
        // per-source watermark for streaming SQL (the reference places
        // watermark assigners at sources — logical_graph.rs:184-247);
        // optional "keepalive_ms" ports its idle-upstream exclusion
        // (watermark/manager.rs:29-75): heartbeat union BEFORE the
        // watermark, marker drop after it (streaming/Keepalive), so the
        // declared schema downstream is unchanged
        val etCol = opt(s, "event_time_column").map(_.asText())
        val df = etCol match {
          case Some(c) if streamingMode && mode == "Streaming" =>
            opt(s, "keepalive_ms").map(_.asLong()) match {
              case Some(iv) =>
                import graft.streaming.Keepalive
                Keepalive.dropHeartbeats(
                  Keepalive.withHeartbeat(df0, c, iv)
                    .withWatermark(c, s"$oooMs milliseconds"), c)
                  .drop(Keepalive.HB)
              case None => df0.withWatermark(c, s"$oooMs milliseconds")
            }
          case _ => df0
        }
        df.createOrReplaceTempView(name)
        name -> df
      }
    /** Non-primary window-SQL relations load as STATIC frames (the
      * stream-static join side). */
    def staticFrame(name: String): DataFrame = sourceNodes.get(name)
      .map(s => loadSource(spark, s,
        opt(s, "schema_json").map(parseArrowSchema).orNull, streaming = false, tables))
      .getOrElse(sys.error(s"window SQL references undeclared source '$name'"))
    def windowSrcs(c: WindowSql.Compiled): Map[String, DataFrame] =
      c.relations.map { r =>
        if (r.table == c.table) r.table -> sourceFrames(c.table)
        else r.table -> staticFrame(r.table)
      }.toMap

    // ---- dispatch -------------------------------------------------------
    mode match {
      case "Batch" =>
        val df = opt(spec, "sql").map(q => spark.sql(q.asText()))
          .getOrElse(sys.error("Batch pipeline needs sql"))
        runBatchSink(spark, spec, df)
      case "Streaming" =>
        val sqlText = opt(spec, "sql").map(_.asText())
          .getOrElse(sys.error("Streaming pipeline needs sql"))
        // per-row OVER windows can't run on Spark's streaming runner;
        // compile them into the sliding-window engine (the reference's
        // SQL -> WindowOperator path). Anything else runs as streaming SQL.
        val df = WindowSql.compile(spark, sqlText) match {
          case Right(c) if sourceFrames.contains(c.table) =>
            val gran = tilingGrans.headOption.orElse(opt(spec, "window")
              .flatMap(w => opt(w, "tile_granularity_ms")).map(_.asLong()))
              .getOrElse(60000L)
            windowStateStore()
            // the FULL hierarchy reaches the engine: finest granularity
            // sizes the finest tiles, the coarse tail covers long-frame
            // interiors (the reference's tiles.rs:104-112 default ladder)
            c.runWith(windowSrcs(c), latenessMs, gran,
              coarseTilesMs = tilingGrans.drop(1))
          case _ => spark.sql(sqlText)
        }
        runStreamSink(spec, df, latenessMs)
      case "Request" =>
        windowStateStore()
        // windows come either from SQL (compiled — the reference README's
        // request-mode pipelines declare a `query`) or an explicit block
        opt(spec, "sql").map(_.asText()) match {
          case Some(sqlText) =>
            val c = WindowSql.compile(spark, sqlText)
              .fold(e => sys.error(s"Request pipeline sql: $e"), identity)
            require(c.outCols.contains(c.keyCol) && c.outCols.contains(c.tsCol),
              s"Request pipeline sql must SELECT its key (${c.keyCol}) and " +
                s"order (${c.tsCol}) columns — the upsert store keys on them")
            require(sourceFrames.contains(c.table),
              s"Request pipeline source '${c.table}' not declared")
            val gran = tilingGrans.headOption.orElse(opt(spec, "window")
              .flatMap(w => opt(w, "tile_granularity_ms")).map(_.asLong()))
              .getOrElse(60000L)
            // live request evaluation reads the SAME engine slot layout
            // from the raw (joined + derived) rows the window query sees
            val plan = c.enginePlan(windowSrcs(c))
            startRequestServing(spec,
              c.runWith(windowSrcs(c), latenessMs, gran,
                coarseTilesMs = tilingGrans.drop(1), prebuiltPlan = Some(plan)),
              c.keyCol, c.tsCol,
              liveFeed = Some(LiveFeed(plan.keyed, plan.engineKey, c.tsCol,
                plan.numCols, plan.strCols, plan.specs)))
          case None =>
            val win = opt(spec, "window")
              .getOrElse(sys.error("Request pipeline needs sql or a window block"))
            val src = sourceFrames.values.headOption
              .getOrElse(sys.error("Request pipeline needs a source"))
            runRequestMode(spec, win, src, latenessMs, tilingGrans)
        }
      case other => sys.error(s"unknown execution_mode $other")
    }
  }

  // -- source kinds -------------------------------------------------------

  private def loadSource(spark: SparkSession, s: JsonNode, schema: StructType,
                         streaming: Boolean,
                         tables: Map[String, DataFrame]): DataFrame = {
    val src = opt(s, "source").getOrElse(sys.error("source needs a source kind"))
    val (kind, cfg) = src.properties().asScala.headOption
      .map(e => e.getKey -> e.getValue)
      .getOrElse(sys.error("empty source kind"))
    kind match {
      case "Parquet" =>
        val path = text(cfg, "path", sys.error("Parquet source needs path"))
        if (streaming) {
          val sch = if (schema != null) schema else spark.read.parquet(path).schema
          spark.readStream.schema(sch).parquet(path)
        } else spark.read.parquet(path)
      case "Kafka" =>
        val spec = Kafka.Spec(
          bootstrapServers = text(cfg, "bootstrap_servers", sys.error("Kafka needs bootstrap_servers")),
          topic = text(cfg, "topic", sys.error("Kafka needs topic")),
          offset = text(cfg, "offset", "Earliest"),
          groupId = opt(cfg, "group_id").map(_.asText()),
          clientConfigs = opt(cfg, "client_configs").map(_.properties().asScala
            .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty),
          maxBatchRecords = opt(cfg, "max_batch_records").map(_.asLong()))
        require(schema != null, "Kafka source needs schema_json")
        Kafka.stream(spark, spec, schema)
      case "Datagen" =>
        val fields = opt(cfg, "fields").map(parseDatagenFields)
          .getOrElse(sys.error("Datagen needs fields"))
        if (streaming)
          Datagen.stream(spark, opt(cfg, "rate").map(_.asLong()).getOrElse(1000L), fields)
        else
          Datagen.batch(spark, opt(cfg, "limit").map(_.asLong()).getOrElse(1000L), fields)
      case "Memory" =>
        val name = text(s, "table_name", "")
        tables.getOrElse(name, sys.error(s"Memory source '$name' not supplied via tables"))
      case other => sys.error(s"unknown source kind $other")
    }
  }

  /** Reference datagen field generators (datagen_source.rs:71-92). */
  private def parseDatagenFields(n: JsonNode): Map[String, Datagen.Field] =
    n.properties().asScala.map { e =>
      val (kind, cfg) = e.getValue.properties().asScala.headOption
        .map(x => x.getKey -> x.getValue)
        .getOrElse(e.getValue.asText() -> null) // bare string variants
      val f: Datagen.Field = kind match {
        case "IncrementalTimestamp" =>
          Datagen.IncrementalTimestamp(
            opt(cfg, "start_ms").map(_.asLong()).getOrElse(0L),
            opt(cfg, "step_ms").map(_.asLong()).getOrElse(1L))
        case "ProcessingTimestamp" => Datagen.ProcessingTimestamp
        case "Key" => Datagen.Key(opt(cfg, "num_unique").map(_.asInt()).getOrElse(1))
        case "Increment" => Datagen.Increment
        case "Uniform" =>
          Datagen.Uniform(opt(cfg, "min").map(_.asDouble()).getOrElse(0.0),
            opt(cfg, "max").map(_.asDouble()).getOrElse(1.0))
        case "Values" =>
          Datagen.Values(opt(cfg, "values").toSeq
            .flatMap(_.elements().asScala).map(_.asText()))
        case "String" => Datagen.Str(opt(cfg, "prefix").map(_.asText()).getOrElse("s"))
        case other => sys.error(s"unknown datagen field kind $other")
      }
      e.getKey -> f
    }.toMap

  // -- sinks --------------------------------------------------------------

  /** Trigger cadence from the spec (r15 product knob): explicit
    * `trigger_ms`, or DERIVED from `freshness_target_ms` via the measured
    * policy in README "Scale notes" — p50 event→emit freshness ≈ 2
    * trigger periods, so `trigger = target / 2`, floored at the knee
    * interval 2 × the per-trigger fixed floor (measured ~0.55-0.6 s on
    * this harness; a deployment that measured its own floor overrides it
    * with `trigger_floor_ms`). Below the knee an interval buys ~5%
    * freshness for ~4× throughput (`BENCH_steady_r14_sweep*.json`), so an
    * unachievable target warns and runs at the knee instead of silently
    * thrashing. Neither field: ProcessingTime(0), the as-fast-as-possible
    * harness default.
    */
  private[graft] def specTrigger(spec: JsonNode): Trigger = {
    val explicit = opt(spec, "trigger_ms").map(_.asLong())
    val target = opt(spec, "freshness_target_ms").map(_.asLong())
    if (explicit.nonEmpty && target.nonEmpty)
      sys.error("give either trigger_ms or freshness_target_ms, not both " +
        "(freshness_target_ms derives the trigger interval)")
    val floorMs = opt(spec, "trigger_floor_ms").map(_.asLong()).getOrElse(600L)
    val ms = explicit.orElse(target.map { f =>
      require(f > 0, s"freshness_target_ms must be > 0, got $f")
      val knee = 2L * floorMs
      val derived = f / 2
      if (derived < knee) {
        System.err.println(s"[pipeline] freshness_target_ms=$f is below the " +
          s"efficient envelope (~${4 * floorMs} ms p50 at trigger_floor_ms=" +
          s"$floorMs): running at the knee interval $knee ms — re-measure " +
          "the floor or relax the target")
        knee
      } else derived
    }).getOrElse(0L)
    Trigger.ProcessingTime(ms)
  }

  private def runBatchSink(spark: SparkSession, spec: JsonNode, df: DataFrame): Handle = {
    sinkKind(spec) match {
      case Some(("Parquet", cfg)) =>
        df.write.mode("overwrite").parquet(text(cfg, "path", sys.error("Parquet sink needs path")))
      case Some(("Memory", cfg)) =>
        df.createOrReplaceTempView(text(cfg, "table_name", "pipeline_out"))
      case Some(("Upsert", cfg)) => // batch upsert: load the store once
        val store = new FeatureStore
        FeatureStore.upsertBatch(store,
          text(cfg, "key_column", "key"), text(cfg, "ts_column", "ts_ms"))(df, 0L)
        return Handle("Batch", Some(df), None, Some(store), None, None)
      case _ => // no sink: hand the frame back
    }
    Handle("Batch", Some(df), None, None, None, None)
  }

  private def runStreamSink(spec: JsonNode, df: DataFrame, latenessMs: Long): Handle = {
    val writer = df.writeStream.trigger(specTrigger(spec))
    sinkKind(spec) match {
      case Some(("Parquet", cfg)) =>
        val path = text(cfg, "path", sys.error("Parquet sink needs path"))
        val q = writer.format("parquet").option("path", path)
          .option("checkpointLocation", text(cfg, "checkpoint", s"$path/_ckpt"))
          .outputMode("append").start()
        Handle("Streaming", None, Some(q), None, None, None)
      case Some(("Memory", cfg)) =>
        val name = text(cfg, "table_name", "pipeline_out")
        val q = writer.format("memory").queryName(name)
          .outputMode(text(cfg, "output_mode", "append")).start()
        Handle("Streaming", None, Some(q), None, None, None)
      case Some(("Upsert", cfg)) =>
        val store = new FeatureStore
        val q = writer.outputMode("append")
          .foreachBatch(FeatureStore.upsertBatch(store,
            text(cfg, "key_column", "key"), text(cfg, "ts_column", "ts_ms")) _)
          .start()
        Handle("Streaming", None, Some(q), Some(store), None, None)
      case other => sys.error(s"Streaming pipeline needs a sink, got $other")
    }
  }

  /** Request mode: window engine -> upsert store -> HTTP server. The
    * explicit window block carries one value column and optionally one
    * `cate_column` (for the cate family); kinds needing slots the block
    * cannot express (`*_where`, `*_cate_where`, top-n/ratio — a condition
    * expression has no spec field) are rejected at parse time with a
    * pointer to SQL mode, instead of failing deep in the engine. */
  private def runRequestMode(spec: JsonNode, win: JsonNode, src: DataFrame,
                             latenessMs: Long,
                             tilingGrans: Seq[Long] = Nil): Handle = {
    val keyCol = text(win, "key_column", "key")
    val tsCol = text(win, "ts_column", "ts_ms")
    val valueCol = text(win, "value_column", "value")
    val cateCol = opt(win, "cate_column").map(_.asText()).orNull
    val gran = tilingGrans.headOption
      .orElse(opt(win, "tile_granularity_ms").map(_.asLong())).getOrElse(60000L)
    val coarse = tilingGrans.drop(1)
    val specs = opt(win, "aggs").toSeq.flatMap(_.elements().asScala).map { a =>
      val name = text(a, "name", sys.error("agg needs name"))
      val kind = text(a, "kind", sys.error("agg needs kind"))
      if (SlidingWindows.whereBaseKinds(kind) || kind.endsWith("_cate_where") ||
        SlidingWindows.isRatioKind(kind))
        sys.error(s"agg $name: kind $kind needs a condition expression — " +
          "declare the pipeline with `sql` instead of a window block")
      if (SlidingWindows.isCate(kind) && cateCol == null)
        sys.error(s"agg $name: kind $kind needs window.cate_column")
      val frame = opt(a, "range_ms").map(r => RangeMs(r.asLong()): SlidingWindows.Frame)
        .orElse(opt(a, "rows").map(r => RowsN(r.asInt()): SlidingWindows.Frame))
        .getOrElse(sys.error(s"agg $name needs range_ms or rows"))
      AggSpec(name, kind, frame, opt(a, "n").map(_.asInt()).getOrElse(0),
        cIdx = 0)
    }
    val out = SlidingWindows.streaming(src, keyCol, tsCol, valueCol, specs,
      latenessMs, gran, cateCol = cateCol, coarseTilesMs = coarse)
    // live request evaluation reads raw rows keyed/slotted exactly as the
    // engine wrapper slots them (value -> slot 0, cate -> string slot 0)
    val raw = src.select(Seq(col(tsCol).cast("long").as("ts_ms"),
      col(keyCol).cast("string").as("key"),
      col(valueCol).cast("double").as("value")) ++
      (if (cateCol != null) Seq(col(cateCol).cast("string").as("cate")) else Nil): _*)
    startRequestServing(spec, out, "key", "ts_ms",
      liveFeed = Some(LiveFeed(raw, "key", "ts_ms", Seq("value"),
        if (cateCol != null) Seq("cate") else Nil, specs)))
  }

  /** Serving tail shared by both request-mode variants: upsert store fed
    * by the streaming window output + the HTTP endpoint. */
  /** Serving tail shared by both request-mode variants. `liveFeed` wires
    * the reference's request-path semantics: the RAW input rows (frame,
    * value-slot columns, string-slot columns, specs) stream into a
    * [[ServingBuffer]] through a second query, and each `POST /request`
    * re-evaluates the aggregates at the request's timestamp instead of
    * serving the last upserted row (window_request_operator.rs:90-300).
    * The upsert store stays as the fallback for keys with no buffer. */
  private def startRequestServing(spec: JsonNode, out: DataFrame,
                                  keyCol: String, tsCol: String,
                                  liveFeed: Option[LiveFeed] = None): Handle = {
    // `request_source_sink.sharded: {"num_shards": N[, "root": dir]}`
    // switches the serving tail to the SCALE path: executor-written
    // per-shard logs for both the upsert store and the live row buffer
    // (the reference's RequestRoute-sharded serving state), instead of
    // the driver-memory maps.
    val shardedCfg = opt(spec, "request_source_sink").flatMap(r => opt(r, "sharded"))
    val shardRoot = shardedCfg.map(cfg =>
      text(cfg, "root", graft.GraftSession.tempDir("graft_pipeline_shard_")))
    val numShards = shardedCfg.flatMap(cfg => opt(cfg, "num_shards"))
      .map(_.asInt()).getOrElse(8)

    val (store: FeatureLookup,
         upsertFn: ((DataFrame, Long) => Unit)) = shardRoot match {
      case Some(root) =>
        (new ShardedFeatureStore(s"$root/store", numShards),
          ShardedFeatureStore.upsertBatch(s"$root/store", numShards, keyCol, tsCol) _)
      case None =>
        val s = new FeatureStore
        (s, FeatureStore.upsertBatch(s, keyCol, tsCol) _)
    }
    val q = out.writeStream.outputMode("append")
      .trigger(specTrigger(spec))
      .foreachBatch(upsertFn)
      .start()
    val (buffer, feeder) = liveFeed match {
      case Some(lf) =>
        val (buf: LiveBuffer, feedFn: ((DataFrame, Long) => Unit)) = shardRoot match {
          case Some(root) =>
            (new ShardedServingBuffer(s"$root/live", numShards, lf.specs),
              ShardedServingBuffer.feedBatch(s"$root/live", numShards,
                lf.rawKeyCol, lf.rawTsCol, lf.valueCols, lf.strCols, lf.specs) _)
          case None =>
            val b = new ServingBuffer(lf.specs)
            (b, ServingBuffer.feedBatch(b, lf.rawKeyCol, lf.rawTsCol,
              lf.valueCols, lf.strCols) _)
        }
        val fq = lf.raw.writeStream.outputMode("append")
          .trigger(specTrigger(spec))
          .foreachBatch(feedFn)
          .start()
        (Some(buf), Some(fq))
      case None => (None, None)
    }
    val bind = opt(spec, "request_source_sink")
      .map(r => text(r, "bind_address", "127.0.0.1:0")).getOrElse("127.0.0.1:0")
    val port0 = bind.split(':').last.toInt
    // `request_source_sink.coalesce: true` turns on cold-key micro-burst
    // coalescing (the reference drains all pending requests into one
    // RecordBatch, request_source.rs:38-49); hot-key lookups are already
    // amortized by the ServingBuffer memo either way
    val coalesce = opt(spec, "request_source_sink")
      .flatMap(r => opt(r, "coalesce")).exists(_.asBoolean(false))
    val server = new RequestServer(store, port0, buffer, coalesce = coalesce)
    val port = server.start()
    Handle("Request", None, Some(q), Some(store), Some(server), Some(port),
      feeder, buffer)
  }

  // -- helpers ------------------------------------------------------------

  private def sinkKind(spec: JsonNode): Option[(String, JsonNode)] =
    opt(spec, "sink").flatMap(s => s.properties().asScala.headOption
      .map(e => e.getKey -> e.getValue))

  private def opt(n: JsonNode, field: String): Option[JsonNode] =
    Option(n.get(field)).filterNot(_.isNull)

  private def text(n: JsonNode, field: String, default: => String): String =
    opt(n, field).map(_.asText()).getOrElse(default)

  /** Arrow JSON schema (the reference's `schema_json`, parsed by
    * arrow_integration_test::schema_from_json — compiler.rs:17-20) ->
    * Spark StructType. Covers the types the reference exercises: int,
    * floatingpoint, utf8, bool, timestamp (SURVEY §1.2).
    */
  def parseArrowSchema(schema: JsonNode): StructType = {
    val fields = opt(schema, "fields").toSeq.flatMap(_.elements().asScala).map { f =>
      val name = text(f, "name", sys.error("schema field needs name"))
      val nullable = opt(f, "nullable").forall(_.asBoolean(true))
      val t = opt(f, "type").getOrElse(sys.error(s"field $name needs type"))
      val dt: DataType = text(t, "name", "utf8") match {
        case "utf8" | "largeutf8" => StringType
        case "bool" => BooleanType
        case "int" =>
          val bits = opt(t, "bitWidth").map(_.asInt()).getOrElse(64)
          bits match {
            case 8 => ByteType; case 16 => ShortType
            case 32 => IntegerType; case _ => LongType
          }
        case "floatingpoint" =>
          if (text(t, "precision", "DOUBLE") == "SINGLE") FloatType else DoubleType
        case "timestamp" => TimestampType
        case "date" => DateType
        case "binary" | "largebinary" => BinaryType
        case other => sys.error(s"unsupported arrow type $other")
      }
      StructField(name, dt, nullable)
    }
    StructType(fields)
  }
}
