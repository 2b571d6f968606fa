package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.SlidingWindows.AggSpec

/** Runs the per-row sliding-window engine over a bounded input as a real
  * Structured Streaming query — file source in, file sink out, durable
  * checkpoint — and returns the result read back from the sink directory.
  *
  * This is the scale-correct shape (no driver-side collect anywhere): the
  * input parquet streams through `readStream`, state lives in the state
  * store, and emissions append to a parquet sink. Bounded-run termination
  * mirrors the reference's terminal MAX_WATERMARK
  * (src/common/message.rs:191): a flush file with `FLUSH_TS` sentinel rows
  * per key pushes the watermark past every real event, and nudge batches
  * let the event-time timeouts fire the final emissions.
  */
object StreamVerify {

  /** Bounded run of a compiled SQL window query ([[graft.api.WindowSql]])
    * through the streaming engine — the path that exercises multi-column
    * PARTITION BY (composite engine key). Stages `input` as the compiled
    * query's streaming table, appends flush sentinels per distinct key
    * TUPLE, and reads the parquet sink back.
    */
  def runBoundedSql(spark: SparkSession, compiled: graft.api.WindowSql.Compiled,
                    input: DataFrame,
                    latenessMs: Long = 0, tileGranularityMs: Long = 60000L,
                    statePartitions: Int = 8): DataFrame = {
    val root = graft.GraftSession.tempDir("graft_stream_sql_")
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    input.write.parquet(inDir)
    val expected = spark.read.parquet(inDir).count()
    val keys = input.select(compiled.keyCols.map(col): _*).distinct()
    val flushCols = input.schema.fields.map { f =>
      if (f.name == compiled.tsCol) lit(SlidingWindows.FLUSH_TS).cast(f.dataType).as(f.name)
      else if (compiled.keyCols.contains(f.name)) col(f.name)
      // numeric slots are non-nullable through the engine's encoders; the
      // sentinel rows never ingest, so zero is as good as absent
      else if (f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
        lit(0).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    val flush = keys.select(flushCols.toIndexedSeq: _*)
    flush.write.mode("append").parquet(inDir)

    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    try {
      val streamIn = spark.readStream.schema(input.schema).parquet(inDir)
      val out = compiled.runWith(Map(compiled.table -> streamIn),
        latenessMs, tileGranularityMs)
      val q = out.writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0)).start()
      def landed: Long =
        try spark.read.parquet(outDir).count() catch { case _: Exception => -1L }
      try {
        q.processAllAvailable()
        var i = 0
        while (i < 4 && landed < expected) {
          flush.write.mode("append").parquet(inDir); q.processAllAvailable(); i += 1
        }
      } finally q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    spark.read.parquet(outDir)
  }

  /** @param input bounded frame with (tsMsCol LONG, keyCol STRING-castable)
    *              columns; `valueCols` are numeric slots (cast double),
    *              `strCols` string slots.
    * @return the engine output (ts_ms, key, valueCols..., strCols..., one
    *         column per spec), read back from the parquet sink.
    */
  def runBoundedMulti(spark: SparkSession, input: DataFrame, keyCol: String,
                      tsMsCol: String, valueCols: Seq[String], strCols: Seq[String],
                      specs: Seq[AggSpec],
                      latenessMs: Long = 0, tileGranularityMs: Long = 60000L,
                      checkpointDir: String = null,
                      statePartitions: Int = 8): DataFrame = {
    val root = graft.GraftSession.tempDir("graft_stream_")
    val inDir = s"$root/in"; val outDir = s"$root/out"
    val ckpt = if (checkpointDir == null) s"$root/ckpt" else checkpointDir

    val staged = input.select(
      Seq(col(tsMsCol).cast("long").as("ts_ms"),
        col(keyCol).cast("string").as("key")) ++
        valueCols.map(c => col(c).cast("double").as(c)) ++
        strCols.map(c => col(c).cast("string").as(c)): _*)
    staged.write.parquet(inDir)
    val expected = spark.read.parquet(inDir).count()
    val flush = SlidingWindows.flushRowsMulti(staged, "key", "ts_ms", valueCols, strCols)
    flush.write.mode("append").parquet(inDir)

    // state-store partition count is pinned at first query start; size it
    // to the workload instead of inheriting the batch shuffle setting
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    try {
      val streamIn = spark.readStream.schema(staged.schema).parquet(inDir)
      val out = SlidingWindows.streamingMulti(streamIn, "key", "ts_ms",
        valueCols, strCols, specs, latenessMs, tileGranularityMs)
      val q = out.writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0)).start()
      def landed: Long =
        try spark.read.parquet(outDir).count() catch { case _: Exception => -1L }
      try {
        q.processAllAvailable()
        // nudge batches: after the flush batch the watermark covers every
        // real event, but emission happens on the NEXT invocation of the
        // state function — append no-op flush files until all rows landed.
        var i = 0
        while (i < 4 && landed < expected) {
          flush.write.mode("append").parquet(inDir); q.processAllAvailable(); i += 1
        }
      } finally q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    spark.read.parquet(outDir)
  }
}
