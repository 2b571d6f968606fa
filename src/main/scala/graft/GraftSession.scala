package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.functions.GraftFunctions
import graft.streaming.LocalCheckpointFileManager

/** Session bootstrap: scale-oriented defaults + the graft function family +
  * the driver testdata tables registered as temp views.
  *
  * The defaults are what we would ship for a real cluster: AQE on (runtime
  * re-planning, skew-join splitting, partition coalescing), shuffle
  * partitions sized for the local harness (on a 1000-executor cluster this
  * is set to ~2-3x total cores or left to AQE's coalescing).
  */
object GraftSession {

  val tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  /** Temp workspace (streaming-entry corpus copies, sinks, checkpoints)
    * that is actually reclaimed: every dir created here is deleted
    * recursively when the JVM exits, so repeated Verify/Bench runs do not
    * accumulate per-query corpus copies in /tmp. One shutdown hook for
    * all of them (registered lazily on first use).
    */
  private val tempRoots = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val tempHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempRoots.forEach { root =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .sortBy(-_.getNameCount).foreach(p =>
              try java.nio.file.Files.deleteIfExists(p) catch { case _: Exception => () })
        } catch { case _: Exception => () }
      }))
  }
  def tempDir(prefix: String): String = {
    tempHook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempRoots.add(p)
    p.toString
  }

  /** Runs `body` with `spark.sql.shuffle.partitions` set to `parts`,
    * restoring the entry value on EVERY exit path (ADVICE/VERDICT r19:
    * the catalog entries used to set the conf before their `try` and
    * restore it after `q.stop()` inside the `finally` — a throw during
    * stream construction/`start()`, or from `stop()` itself, leaked the
    * stream-sized partition count into every subsequent entry of the
    * same session, silently changing their plans). Streaming queries
    * started inside `body` plan against a session clone taken at
    * `start()`, so the restore here cannot disturb a query `body` is
    * still draining — but `body` must still stop its queries so the
    * NEXT entry's conf mutation cannot race a straggler trigger. */
  def withShuffleParts[T](spark: SparkSession, parts: String)(body: => T): T = {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  def builder(master: String = "local[32]"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // wide signature aggregates (MinHash's 128 min() columns, SimHash's
      // 60 vote columns) must stay inside whole-stage codegen; the default
      // cutoff (100 fields) silently drops them to interpreted evaluation
      .config("spark.sql.codegen.maxFields", "256")
      // broadcast from MEASURED shuffle sizes (AQE), never from Catalyst's
      // static size guesses: post-aggregate estimates are wildly off, which
      // both mis-broadcasts big intermediates (a driver-side OOM source at
      // scale) and plans BroadcastExchange over whole pipelines, re-running
      // them per join branch instead of reusing one materialized shuffle.
      // Streaming plans (no AQE) broadcast via explicit hints instead.
      // 8 MB: dimension tables and candidate-pair frames qualify; row-heavy
      // intermediates (e.g. a corpus's exploded shingle rows) never do —
      // their single-threaded hash-relation build costs more than the
      // shuffle they replace
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "8388608")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // fork-free checkpoint I/O on file: paths (streaming/LocalCheckpointFileManager)
      .config(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)

  def create(master: String = "local[32]"): SparkSession = {
    val spark = builder(master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    prepare(spark, null)
    spark
  }

  /** Session -> last-prepared data dir ("" = functions only). Keyed by the
    * session object itself, so alternating dirs re-register the views and a
    * reused identity hash can never skip setup; registration still runs
    * once per (session, dir), so repeated catalog-query invocations don't
    * re-register 30 functions and re-read 10 parquet footers per call.
    */
  private val prepared =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** Idempotent per-(session, dir) setup: register functions and, when a
    * data dir is given, each parquet table as a temp view.
    */
  def prepare(spark: SparkSession, dir: String): SparkSession = {
    val last = prepared.get(spark)
    if (last == null) {
      // When events.ts is TIMESTAMP(NANOS) parquet (no native Spark type)
      // this flag loads it as BIGINT nanos directly; MICROS/MILLIS parquet
      // ignores the flag and loads a timestamp type, which normalizeTs
      // converts to the same BIGINT-nanos contract below.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      GraftFunctions.register(spark)
    }
    // A shared session can have a testdata view overwritten between
    // prepare calls (the reference-README test fixtures register their
    // own `orders`/`users` views): before trusting the per-(session, dir)
    // memo, spot-check a canary column on EVERY registered view — a
    // fixture can replace `events` or `documents` without touching
    // `orders`. The check reads the session's temp-view map directly
    // (already-analyzed plans, one hash lookup per table), so the hot
    // memoized path pays ~10 map probes, not 10 catalog analyses.
    val canaryCol = Map(
      "region" -> "r_regionkey", "nation" -> "n_nationkey",
      "customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "orders" -> "o_orderkey",
      "lineitem" -> "l_orderkey", "events" -> "ts",
      "documents" -> "doc_id", "embeddings" -> "vec_id")
    def viewsIntact: Boolean =
      try tables.forall { t =>
        spark.sessionState.catalog.getTempView(t)
          .exists(_.output.exists(_.name == canaryCol(t)))
      } catch { case _: Exception => false }
    if (dir != null && (dir != last || !viewsIntact)) {
      tables.foreach { t =>
        val df = spark.read.parquet(s"$dir/$t.parquet")
        val view = if (t == "events") normalizeTs(df, s"$dir/$t.parquet") else df
        view.createOrReplaceTempView(t)
      }
      prepared.put(spark, dir)
    } else if (last == null) prepared.put(spark, "")
    spark
  }

  /** The events-view contract: `ts` is BIGINT epoch NANOS regardless of the
    * parquet physical type. Every downstream query derives `ts_ms` via
    * `ts DIV 1000000` against this contract. TIMESTAMP(NANOS) parquet loads
    * as LongType already (nanosAsLong flag); MICROS/MILLIS parquet loads as
    * a timestamp type and is converted value-for-value (session TZ is UTC,
    * so the NTZ->TIMESTAMP cast is instant-preserving). Anything else fails
    * loudly, naming the file and the offending type, instead of surfacing
    * as N confusing analysis errors downstream.
    */
  def normalizeTs(df: DataFrame, source: String): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", expr("unix_micros(CAST(ts AS TIMESTAMP)) * 1000"))
      case other =>
        throw new IllegalStateException(
          s"$source: events.ts loaded as $other; the graft load contract " +
          "needs BIGINT nanos (TIMESTAMP(NANOS) parquet + nanosAsLong) or " +
          "a TIMESTAMP/TIMESTAMP_NTZ column (MICROS/MILLIS parquet). " +
          "Teach GraftSession.normalizeTs the new physical type.")
    }

  /** A bound on the RAW (pre-normalization) ts column equivalent to the
    * nanos-contract predicate `ts >= loMs*1e6 AND ts < hiMsExcl*1e6`,
    * expressed in the column's native type. The literals constant-fold, so
    * the bound reaches the parquet scan as a PushedFilter (row-group
    * pruning) — a filter on the DERIVED BIGINT `ts` of the normalized view
    * would not push once the underlying column is a timestamp.
    */
  def tsRangeMs(raw: DataFrame, loMs: Long, hiMsExcl: Long): Column =
    raw.schema("ts").dataType match {
      case LongType =>
        col("ts") >= lit(loMs * 1000000L) && col("ts") < lit(hiMsExcl * 1000000L)
      case t @ (TimestampType | TimestampNTZType) =>
        val lo = timestamp_micros(lit(loMs * 1000L)).cast(t)
        val hi = timestamp_micros(lit(hiMsExcl * 1000L)).cast(t)
        col("ts") >= lo && col("ts") < hi
      case other =>
        throw new IllegalStateException(
          s"tsRangeMs: unsupported raw ts type $other")
    }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}
