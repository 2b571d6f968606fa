package graft.serving

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.streaming.SlidingWindows
import graft.streaming.SlidingWindows.AggSpec

/** The live request-evaluation buffer SHARDED off the driver — the scale
  * path for [[ServingBuffer]], completing what [[ShardedFeatureStore]]
  * did for the upsert store: the reference serves request-mode features
  * from per-task window state sharded by key hash across workers
  * (window_request_operator.rs:90-300 over the RequestRoute partition,
  * src/runtime/partition.rs:131-152), so no single process holds every
  * key's row buffer.
  *
  * Write path ([[ShardedServingBuffer.feedBatch]]): executors append the
  * batch's raw engine-input rows (key, ts, value slots, string slots) to
  * per-shard row logs — hash-partitioned so one task owns each shard's
  * writes, zero rows collected to the driver. When a shard log outgrows
  * its threshold the owning task compacts it down to the serving
  * retention (rows within the frame horizon of the shard's newest ts,
  * plus each key's ROWS-frame tail), so log size tracks live state, not
  * total event history.
  *
  * Read path: a serving node instantiates this class over the shards it
  * owns; each lookup routes to the key's shard, TAILS that shard's log
  * into an in-memory [[ServingBuffer]] (the same horizon-bounded per-key
  * buffers, the same accumulator folds, the same per-(key, generation)
  * memo), and evaluates. Memory per node = the frame-bounded buffers of
  * its own shards' keys only; on a cluster, different nodes mount
  * different shard subsets and a router (or the reference's RequestRoute
  * partitioner) sends each key to its owner.
  *
  * Framing, torn-tail stop, gen fence and compaction ordering all live
  * in [[ShardLog]]/[[ShardLogReader]] — the ONE protocol implementation
  * shared with [[ShardedFeatureStore]]; this class supplies only its row
  * codec and retention policy.
  */
final class ShardedServingBuffer(val root: String, val numShards: Int,
                                 val specs: Seq[AggSpec]) extends LiveBuffer {

  import ShardedServingBuffer._

  private val inner: Array[ServingBuffer] =
    Array.fill(numShards)(new ServingBuffer(specs))
  private val reader = new ShardLogReader(root, numShards, "rows.log")

  /** Tail new rows from the shard's log into its in-memory buffer. A
    * compaction (gen bump / shrink under the parsed position) resets the
    * shard: a FRESH ServingBuffer re-ingests the compacted log, which by
    * construction still holds every row the frames can reference. A
    * rewrite racing the parse fails row decode, and the reader's
    * reset-and-retry-once fence re-parses the rewritten log from zero —
    * rows reach the buffer only after a clean parse of the delta.
    */
  private def refresh(shard: Int): Unit =
    reader.refresh(shard)(() => inner(shard) = new ServingBuffer(specs)) { recs =>
      val byKey = scala.collection.mutable.LinkedHashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[(Long, Array[Double], Array[String])]]
      recs.foreach { case (_, rec) =>
        val (key, row) = decodeRow(rec)
        byKey.getOrElseUpdate(key,
          scala.collection.mutable.ArrayBuffer.empty) += row
      }
      byKey.foreach { case (k, rows) => inner(shard).append(k, rows.toSeq) }
    }

  override def eval(key: String, atTs: Option[Long] = None)
      : Option[(Long, Seq[(String, Any)])] = {
    val shard = ShardedFeatureStore.shardOf(key, numShards)
    refresh(shard)
    inner(shard).eval(key, atTs)
  }

  override def evalBatch(reqs: Seq[(String, Option[Long])])
      : IndexedSeq[Option[(Long, Seq[(String, Any)])]] = {
    // tail each touched shard once up front, then fan the folds out the
    // same way the driver-memory buffer does
    reqs.map(r => ShardedFeatureStore.shardOf(r._1, numShards))
      .distinct.foreach(refresh)
    ServingBuffer.fanOut(reqs)(eval)
  }

  def bufferedKeys: Int = {
    (0 until numShards).foreach(refresh)
    inner.map(_.bufferedKeys).sum
  }
}

object ShardedServingBuffer {

  /** `foreachBatch` feeder, executor-side: append the batch's raw rows to
    * per-shard logs (hash-partitioned — one task per shard). `FLUSH_TS`
    * sentinels never land. `compactBytes` bounds each shard log: past it,
    * the owning task rewrites the log keeping the serving retention
    * derived from `specs` (RANGE horizon + ROWS tails), mirroring the
    * reference's state-store pruning.
    */
  def feedBatch(root: String, numShards: Int, keyCol: String, tsCol: String,
                valueCols: Seq[String], strCols: Seq[String],
                specs: Seq[AggSpec], compactBytes: Long = 64L << 20)
               (batch: DataFrame, batchId: Long): Unit = {
    if (!batch.isEmpty) {
      val nv = valueCols.length; val ns = strCols.length
      val (horizonMs, keepRows) = ServingBuffer.retention(specs)
      val rootPath = root; val nShards = numShards
      // NULL keys coalesce to "null" BEFORE the md5 — a null __k would
      // null the shard expression and route the row away from the task
      // that appends it to shardOf("null")'s log (two writers, one log)
      batch.select(
          org.apache.spark.sql.functions.coalesce(
            col(keyCol).cast("string"),
            org.apache.spark.sql.functions.lit("null")).as("__k") +:
            col(tsCol).cast("long").as("__ts") +:
            (valueCols.map(c => col(c).cast("double")) ++
              strCols.map(c => col(c).cast("string"))): _*)
        .where(col("__ts") =!= SlidingWindows.FLUSH_TS && col("__ts").isNotNull)
        .withColumn("__shard", org.apache.spark.sql.functions.expr(
          s"CAST(conv(substring(md5(__k), 1, 8), 16, 10) AS BIGINT) % $numShards"))
        .repartition(numShards, col("__shard"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          writePartition(rows, rootPath, nShards, nv, ns, horizonMs, keepRows,
            compactBytes)
        }
    }
  }

  private def writePartition(rows: Iterator[org.apache.spark.sql.Row],
                             root: String, numShards: Int, nv: Int, ns: Int,
                             horizonMs: Long, keepRows: Int,
                             compactBytes: Long): Unit = {
    val byShard = scala.collection.mutable.Map[Int, java.io.ByteArrayOutputStream]()
    rows.foreach { r =>
      val key = String.valueOf(r.getString(0))
      val ts = r.getLong(1)
      val nums = Array.tabulate(nv)(i =>
        if (r.isNullAt(2 + i)) 0.0 else r.getDouble(2 + i))
      val strs = Array.tabulate(ns)(i => r.getString(2 + nv + i))
      val rec = encodeRow(key, (ts, nums, strs))
      byShard.getOrElseUpdate(ShardedFeatureStore.shardOf(key, numShards),
        new java.io.ByteArrayOutputStream()).write(rec)
    }
    byShard.foreach { case (shard, bytes) =>
      val size = ShardLog.append(root, shard, "rows.log", bytes.toByteArray)
      if (size > compactBytes)
        compactShard(root, shard, horizonMs, keepRows)
    }
  }

  /** Rewrite one shard's row log down to the serving retention: rows
    * within `horizonMs` of each key's newest ts, plus each key's last
    * `keepRows` rows (the ROWS-frame tail). Move/gen-bump ordering and
    * reader fencing live in [[ShardLog.compact]]; single-writer-per-shard
    * makes it safe to run from the owning upsert task.
    */
  private[serving] def compactShard(root: String, shard: Int,
                                    horizonMs: Long, keepRows: Int): Unit =
    ShardLog.compact(root, shard, "rows.log") { bytes =>
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[(String, (Long, Array[Double], Array[String]), Array[Byte])]
      ShardLog.eachRecord(bytes) { (_, rec) =>
        val (key, row) = decodeRow(rec)
        rows += ((key, row, rec))
      }
      if (rows.isEmpty) null // nothing to drop; skip the rewrite
      else {
        // retention is PER KEY, mirroring ServingBuffer.append's pruning:
        // each key keeps rows within the horizon of ITS OWN newest ts plus
        // its ROWS-frame tail. A shard-wide floor would discard a cold
        // key's whole frame history the moment a hot key advances the
        // shard's max ts — evals for the cold key would silently diverge
        // from the driver-memory buffer.
        val keep = new Array[Boolean](rows.length)
        rows.zipWithIndex.groupBy(_._1._1).foreach { case (_, ks) =>
          val keyMax = ks.iterator.map(_._1._2._1).max
          val floor = keyMax - horizonMs
          ks.foreach { case ((_, row, _), i) => if (row._1 > floor) keep(i) = true }
          ks.sortBy(_._1._2._1).takeRight(math.max(keepRows, 1))
            .foreach { case (_, i) => keep(i) = true }
        }
        val out = new java.io.ByteArrayOutputStream()
        rows.zipWithIndex.foreach { case ((_, _, rec), i) =>
          if (keep(i)) out.write(ShardLog.frame(rec))
        }
        out.toByteArray
      }
    }

  /** Row record payload (framing is [[ShardLog]]'s): [int keyLen][key]
    * [long ts][int nv][nums][int ns][(int len, bytes | -1 for null) per
    * str]. Returns the FRAMED record ready to append. */
  def encodeRow(key: String,
                row: (Long, Array[Double], Array[String])): Array[Byte] = {
    val (ts, nums, strs) = row
    val keyB = key.getBytes(StandardCharsets.UTF_8)
    val strBs = strs.map(s => if (s == null) null else s.getBytes(StandardCharsets.UTF_8))
    val recLen = 4 + keyB.length + 8 + 4 + 8 * nums.length + 4 +
      strBs.map(b => 4 + (if (b == null) 0 else b.length)).sum
    val buf = ByteBuffer.allocate(4 + recLen)
    buf.putInt(recLen).putInt(keyB.length).put(keyB).putLong(ts)
    buf.putInt(nums.length); nums.foreach(buf.putDouble)
    buf.putInt(strBs.length)
    strBs.foreach { b =>
      if (b == null) buf.putInt(-1) else { buf.putInt(b.length); buf.put(b) }
    }
    buf.array()
  }

  /** Decode one row record. Every length field is bounds-checked against
    * the remaining bytes BEFORE its allocation (a mid-record parse in a
    * compaction race can yield garbage lengths, and an unchecked
    * `new Array(1<<30)` is an OutOfMemoryError that escapes the reader's
    * Exception-only reset-and-retry fence), and the record must consume
    * EXACTLY its framed length — a misaligned parse that happens to
    * decode cleanly but leaves bytes over is a detected race, not a row.
    */
  def decodeRow(rec: Array[Byte])
      : (String, (Long, Array[Double], Array[String])) = {
    val buf = ByteBuffer.wrap(rec)
    def bounded(n: Int, unit: Int): Int = {
      if (n < 0 || n.toLong * unit > buf.remaining())
        throw new java.io.IOException(s"bad row framing: $n x $unit of ${buf.remaining()}")
      n
    }
    val keyLen = bounded(buf.getInt, 1)
    val keyB = new Array[Byte](keyLen); buf.get(keyB)
    val ts = buf.getLong
    val nums = Array.fill(bounded(buf.getInt, 8))(buf.getDouble)
    val strs = Array.fill(bounded(buf.getInt, 4)) {
      val l = buf.getInt
      if (l < 0) null
      else { val b = new Array[Byte](bounded(l, 1)); buf.get(b); new String(b, StandardCharsets.UTF_8) }
    }
    if (buf.remaining() != 0)
      throw new java.io.IOException(s"row framing left ${buf.remaining()} bytes over")
    (new String(keyB, StandardCharsets.UTF_8), (ts, nums, strs))
  }
}
