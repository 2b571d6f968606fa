package graft.serving

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** A serving-node stand-in that runs in its OWN JVM — the process-level
  * evidence for the shard-log design claim that writer (Spark tasks) and
  * reader (serving node) share nothing but the log files (the reference
  * runs serving state in separate worker processes queried over gRPC,
  * src/bin/volga-worker.rs, proto/in_memory_storage_service.proto:6-29;
  * here the channel is shared storage instead of a socket).
  *
  * Forked by CrossJvmServingSpec via `java -cp` while the parent JVM's
  * Spark job concurrently upserts and compacts the same shard root.
  *
  * Args: `check <root> <numShards> <nKeys>`: loop lookups over keys
  * `k0..k{nKeys-1}` until `<root>/stop` exists, verifying the LWW
  * contract the writer encodes: feature `f == ts*10 + keyIndex`, and
  * a key's observed ts never goes backwards (upserts only advance
  * event time). Emits one JSON line on stdout:
  * `{"lookups":N,"hits":N,"violations":N,"value_violations":N,
  *   "gen":G,"final_ts":{"k0":T,...}}` — the parent asserts zero
  * violations, ≥1 observed compaction gen, and final ts == the last
  * batch it wrote.
  */
object ReaderProbe {

  def main(args: Array[String]): Unit = args(0) match {
    case "check" => check(args(1), args(2).toInt, args(3).toInt)
    case other => sys.error(s"unknown mode $other")
  }

  private def check(root: String, numShards: Int, nKeys: Int): Unit = {
    val store = new ShardedFeatureStore(root, numShards)
    val keys = (0 until nKeys).map(i => s"k$i")
    val lastTs = scala.collection.mutable.Map.empty[String, Long]
    var lookups = 0L; var hits = 0L
    var violations = 0L; var valueViolations = 0L
    val stop = Paths.get(root, "stop")
    var stopped = false
    while (!stopped) {
      // one extra full pass AFTER observing the stop marker, so the
      // final pass is guaranteed to run against the finished log
      stopped = Files.exists(stop)
      keys.zipWithIndex.foreach { case (k, i) =>
        lookups += 1
        store.get(k).foreach { e =>
          hits += 1
          if (e.tsMs < lastTs.getOrElse(k, Long.MinValue)) violations += 1
          lastTs(k) = e.tsMs
          val f = e.values.get("f")
          if (!f.contains(e.tsMs * 10.0 + i)) valueViolations += 1
        }
      }
    }
    val gens = (0 until numShards).map(s => ShardLog.genOf(root, s))
    val finalTs = keys.map(k => s""""$k":${lastTs.getOrElse(k, -1L)}""").mkString(",")
    println(s"""{"lookups":$lookups,"hits":$hits,"violations":$violations,""" +
      s""""value_violations":$valueViolations,"gen":${gens.max},""" +
      s""""final_ts":{$finalTs}}""")
  }

  /** Write the stop marker `check` mode polls for. */
  def requestStop(root: String): Unit =
    Files.write(Paths.get(root, "stop"), "stop".getBytes(StandardCharsets.UTF_8))
}
