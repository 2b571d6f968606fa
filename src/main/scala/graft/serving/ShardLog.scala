package graft.serving

import java.io.{File, RandomAccessFile}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicLong

/** THE shard-log protocol — the single implementation of the
  * length-prefixed append-only log that both serving classes
  * ([[ShardedFeatureStore]], [[ShardedServingBuffer]]) read and write.
  * Round 8 kept two deliberately-mirrored copies while the protocol was
  * moving and paid for it: the NULL-key-routing, compaction-race and
  * overflow-marker fixes each had to land twice. The protocol has
  * stabilized; this is the extraction.
  *
  * Shapes the reference's per-worker state files take on its serving
  * path (hash(key) % num_workers routing, src/runtime/partition.rs:131-152;
  * per-task window state, window_request_operator.rs:90-300), re-expressed
  * as shared-storage logs so Spark executors write and serving JVMs read
  * with NO channel between them but the filesystem.
  *
  * On-disk layout per shard: `root/shard-NNNNN/<logName>` holding
  * `[int recLen][recLen bytes]` records (payload codec is the caller's),
  * plus a `gen` sidecar counting compactions.
  *
  * Protocol invariants every side relies on:
  *  - SINGLE WRITER per shard log: the Spark write path hash-partitions
  *    batches so exactly one task owns a shard's appends in a batch, and
  *    compaction runs only from that owning task between its appends.
  *  - TORN TAIL: a reader stops at a record whose length prefix or body
  *    extends past the current file length — bytes still in flight are
  *    simply not advanced past until complete.
  *  - COMPACTION FENCE: a compaction writes the replacement to a tmp
  *    file, ATOMIC_MOVEs it over the log, then bumps `gen` — in that
  *    order, so any refresh that observes the new gen is guaranteed to
  *    be reading the replaced file (bumping first would let a refresh
  *    consume the gen change while still parsing the old bytes, after
  *    which a length-equal rewrite became permanently invisible). A
  *    reader detects the rewrite by the gen change or by the log
  *    shrinking under its parsed position, drops everything it holds for
  *    the shard, and re-parses from zero.
  *  - RESET-AND-RETRY-ONCE: a rewrite can still land between the gen
  *    probe and the parse loop, and a length-equal rewrite can land in
  *    the move→gen-bump window (different JVMs share nothing but the
  *    file). Any decode failure inside the parse resets the shard and
  *    re-parses once; records are delivered to the consumer only after a
  *    clean parse of the delta; payload reads against held offsets keep
  *    their own caller-side [[ShardLogReader.reset]] retry fence.
  */
object ShardLog {

  def shardDir(root: String, shard: Int): Path =
    Paths.get(root, f"shard-$shard%05d")

  /** Compaction generation of a shard (0 when never compacted). */
  def genOf(root: String, shard: Int): Long = {
    val f = shardDir(root, shard).resolve("gen").toFile
    if (!f.exists()) 0L
    else
      try new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).trim.toLong
      catch { case _: Exception => 0L }
  }

  /** Committed length of a shard log — the size stamped by the last
    * append/compaction that COMPLETED; -1 when no stamp exists (a log
    * whose FIRST append never completed, or one that predates the
    * stamp). Bytes past this offset were written by an appender that
    * died mid-write. */
  def committedLen(root: String, shard: Int, logName: String): Long = {
    val f = shardDir(root, shard).resolve(logName + ".len").toFile
    if (!f.exists()) -1L
    else
      try new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).trim.toLong
      catch { case _: Exception => -1L }
  }

  /** Last valid frame boundary of an existing log — the repair bound
    * when no stamp exists (the log's first-ever append died mid-write,
    * so there IS no stamp; or the stamp itself was lost to a kill
    * between append and stamp). One full scan, paid only on the first
    * append after such a crash — every completed append re-stamps. */
  private def scannedValidLen(log: Path): Long = {
    if (!Files.exists(log)) 0L
    else {
      val bytes = Files.readAllBytes(log)
      var valid = 0L
      eachRecord(bytes) { (pos, rec) => valid = pos + 4 + rec.length }
      valid
    }
  }

  /** Stamp with the same tmp + ATOMIC_MOVE discipline as compaction: a
    * kill between a bare truncate-and-write's two syscalls would leave
    * an EMPTY stamp, silently degrading the next repair to the scan
    * path (correct but slow) — or worse on filesystems where the
    * partial write parses as a number. */
  private def stampLen(dir: Path, logName: String, len: Long): Unit = {
    val tmp = dir.resolve(logName + ".len.tmp")
    Files.write(tmp, String.valueOf(len).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(logName + ".len"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Append pre-framed record bytes to a shard log in one channel write;
    * returns the log size after the append (the compaction trigger
    * input). Caller holds the single-writer invariant.
    *
    * TORN-TAIL REPAIR (r13, chaos phase 3): a writer SIGKILLed between
    * the kernel writes of one large append leaves a PARTIAL frame at the
    * tail — and unlike an in-flight write, a dead writer never completes
    * it. If the retried task then appended after those bytes, every
    * reader would wedge at the torn frame forever (or worse, parse the
    * torn frame's length prefix across the retry's bytes and deliver
    * garbage). So each completed append stamps the resulting size into a
    * `<log>.len` sidecar, and the NEXT append truncates anything past
    * the last stamp before writing — the single-writer invariant makes
    * the truncation safe (only the dead writer's unstamped bytes go),
    * and a reader that raced past them resets via the existing
    * shrink/decode fences. A SIGKILL between append and stamp truncates
    * COMPLETE frames — but only frames of the very task that failed,
    * which Spark re-runs: the retry re-appends the same reduced batch.
    */
  def append(root: String, shard: Int, logName: String,
             framedRecords: Array[Byte]): Long = {
    val dir = shardDir(root, shard)
    Files.createDirectories(dir)
    val ch = FileChannel.open(dir.resolve(logName),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    val size = try {
      // no stamp + a non-empty log = the log's FIRST append died before
      // stamping (or the stamp was lost between append and stamp):
      // repair by scanning to the last valid frame boundary — without
      // this the first-ever append's torn tail would never truncate,
      // the exact wedge the stamp exists to close
      val committed = committedLen(root, shard, logName) match {
        case -1L => scannedValidLen(dir.resolve(logName))
        case c => c
      }
      if (ch.size() > committed) ch.truncate(committed)
      ch.position(ch.size())
      ch.write(ByteBuffer.wrap(framedRecords))
      ch.size()
    } finally ch.close()
    stampLen(dir, logName, size)
    // Forensic sidecar: which JVM last appended to this shard. The design
    // claim is that writers are Spark TASKS (executor JVMs), never the
    // driver — on a real cluster a driver-side write would mean the data
    // took a collect() detour. Best-effort (a failed stamp must not fail
    // the append); LocalClusterSpec asserts the recorded pids are real
    // executor JVMs distinct from the driver.
    try Files.write(dir.resolve("writer.pid"),
      ProcessHandle.current().pid().toString.getBytes(StandardCharsets.UTF_8))
    catch { case _: Exception => () }
    size
  }

  /** Frame one record: [int recLen][payload]. */
  def frame(payload: Array[Byte]): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + payload.length)
    buf.putInt(payload.length).put(payload)
    buf.array()
  }

  /** Iterate the complete records in an in-memory log image, stopping at
    * a torn tail. `f(recordStartPos, payloadBytes)` — recordStartPos is
    * the offset of the length prefix within `bytes`. */
  def eachRecord(bytes: Array[Byte])(f: (Long, Array[Byte]) => Unit): Unit = {
    var pos = 0
    while (pos + 4 <= bytes.length) {
      val recLen = ByteBuffer.wrap(bytes, pos, 4).getInt
      // long arithmetic: a corrupt recLen near Int.MaxValue must read as
      // a torn/corrupt tail, not overflow past the bounds check
      if (recLen <= 0 || pos + 4L + recLen > bytes.length) pos = bytes.length
      else {
        f(pos.toLong, java.util.Arrays.copyOfRange(bytes, pos + 4, pos + 4 + recLen))
        pos += 4 + recLen
      }
    }
  }

  /** The compaction protocol: read the whole log, let `rewrite` produce
    * the replacement bytes (already framed), write them to a tmp file,
    * ATOMIC_MOVE the tmp over the log, THEN bump the gen sidecar — the
    * bump must follow the move so a refresh observing the new gen always
    * observes the replaced file (see the fence note in the header; the
    * shrink check plus the caller-side retry fence cover the pre-bump
    * window). Must only run while no writer can append (the owning task,
    * between appends). `rewrite` returning null skips the rewrite
    * (nothing to drop). */
  def compact(root: String, shard: Int, logName: String)
             (rewrite: Array[Byte] => Array[Byte]): Unit = {
    val dir = shardDir(root, shard)
    val log = dir.resolve(logName)
    val in = Files.readAllBytes(log)
    val out = rewrite(in)
    if (out != null) {
      val tmp = dir.resolve(logName + ".tmp")
      Files.write(tmp, out)
      Files.move(tmp, log, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // re-stamp the committed length BEFORE the gen bump: same fencing
      // argument as the move — anyone trusting the new gen must also see
      // the new stamp (the stamp only gates the single WRITER, but keep
      // the orderings aligned)
      stampLen(dir, logName, out.length.toLong)
      Files.write(dir.resolve("gen"),
        String.valueOf(genOf(root, shard) + 1).getBytes(StandardCharsets.UTF_8))
    }
  }
}

/** The reader half of the protocol: per-shard tail position + gen fence +
  * torn-tail delta parse + reset-and-retry-once. One instance per serving
  * class; consumers pass their state-reset and record-apply callbacks per
  * call so the delivery happens under the shard's parse lock and only
  * after a clean parse.
  */
final class ShardLogReader(val root: String, val numShards: Int,
                           val logName: String) {

  private val tailPos: Array[AtomicLong] = Array.fill(numShards)(new AtomicLong(0L))
  private val lastGen: Array[AtomicLong] = Array.fill(numShards)(new AtomicLong(0L))
  // stat-level stamp of the gen sidecar (mtime ^ shifted length): the
  // fast path must not open+read+parse the gen file per lookup at
  // serving qps — a stamp change sends us to the locked slow path, which
  // reads the real gen. A same-millisecond same-length gen rewrite can
  // slip the stamp; the shrink check and the caller-side reset() retry
  // fence cover that rare window (ADVICE r9).
  private val lastGenStamp: Array[AtomicLong] = Array.fill(numShards)(new AtomicLong(0L))

  def logFile(shard: Int): File =
    ShardLog.shardDir(root, shard).resolve(logName).toFile

  private def genFile(shard: Int): File =
    ShardLog.shardDir(root, shard).resolve("gen").toFile

  private def genStamp(shard: Int): Long = {
    val f = genFile(shard)
    // nanosecond-resolution mtime (ADVICE r10): File.lastModified() is
    // only guaranteed millisecond (some filesystems: second) granularity,
    // and the gen sidecar's LENGTH is constant for gens 1-9, so two
    // compactions inside one coarse mtime granule could slip the stamp.
    // FileTime carries the filesystem's full timestamp resolution.
    val mtimeNanos =
      try Files.readAttributes(f.toPath,
            classOf[java.nio.file.attribute.BasicFileAttributes])
            .lastModifiedTime().to(java.util.concurrent.TimeUnit.NANOSECONDS)
      catch { case _: Exception => 0L } // absent gen file ⇒ gen 0
    mtimeNanos ^ (f.length() << 52)
  }

  /** Parse any records appended since the last refresh and hand them to
    * `onRecords` as (recordStartPos, payloadBytes) pairs. Cheap when
    * nothing changed (one file-length probe + one gen stat); serialized
    * per shard so concurrent lookups do not double-parse a delta.
    *
    * `onReset` must drop ALL consumer state for the shard — it runs when
    * a compaction is detected (gen bump, shrink under the parsed
    * position) and before the one retry after a mid-parse race. A decode
    * failure thrown from `onRecords` counts as a parse failure and takes
    * the same reset-and-retry path, so consumers may decode eagerly.
    */
  def refresh(shard: Int)(onReset: () => Unit)
             (onRecords: IndexedSeq[(Long, Array[Byte])] => Unit): Unit = {
    val f = logFile(shard)
    val len = f.length() // 0 when absent
    // gen is probed on the fast path too — but at stat level only (two
    // File stats, no read): a rewrite to a length exactly equal to the
    // parsed position would otherwise be invisible until a payload read
    // failed framing (ADVICE r8); reading the gen file per lookup was
    // the r9 finding this stamp replaces
    if (len != tailPos(shard).get() ||
        genStamp(shard) != lastGenStamp(shard).get())
      tailPos(shard).synchronized {
        lastGenStamp(shard).set(genStamp(shard))
        if (ShardLog.genOf(root, shard) != lastGen(shard).get() ||
            f.length() < tailPos(shard).get())
          resetLocked(shard, onReset)
        def parseOnce(): Unit = {
          val start = tailPos(shard).get()
          val curLen = f.length()
          if (curLen > start) {
            val raf = new RandomAccessFile(f, "r")
            try {
              raf.seek(start)
              var pos = start
              val recs = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Byte])]
              var done = false
              while (!done && pos + 4 <= curLen) {
                val recLen = raf.readInt()
                if (recLen <= 0 || pos + 4 + recLen > curLen) done = true // torn tail
                else {
                  val rec = new Array[Byte](recLen)
                  raf.readFully(rec)
                  recs += ((pos, rec))
                  pos += 4 + recLen
                }
              }
              onRecords(recs.toIndexedSeq) // deliver only after a clean parse
              tailPos(shard).set(pos)
            } finally raf.close()
          }
        }
        try parseOnce()
        catch {
          case _: Exception =>
            resetLocked(shard, onReset)
            parseOnce()
        }
      }
  }

  /** Drop everything the reader holds for a shard and re-read the gen —
    * the recovery step when a post-refresh read (e.g. a payload read
    * against a held offset) detects a compaction race. */
  def reset(shard: Int)(onReset: () => Unit): Unit =
    tailPos(shard).synchronized { resetLocked(shard, onReset) }

  private def resetLocked(shard: Int, onReset: () => Unit): Unit = {
    onReset()
    tailPos(shard).set(0L)
    lastGen(shard).set(ShardLog.genOf(root, shard))
    lastGenStamp(shard).set(genStamp(shard))
  }
}
