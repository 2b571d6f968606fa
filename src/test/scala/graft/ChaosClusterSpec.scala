package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ChaosProbe

/** Runs [[graft.tools.ChaosProbe]] — multi-stage catalog entries on
  * `local-cluster[2,2,1024]` with one executor JVM SIGKILLed mid-query —
  * in its own forked JVM, and asserts:
  *
  *  1. the victim really died and the standalone Worker relaunched a
  *     replacement executor (a new pid in the post-kill census);
  *  2. every probed query completed despite the lost tasks and lost
  *     shuffle files (FetchFailed -> stage resubmission);
  *  3. answers are identical to an undisturbed single-JVM run — the
  *     determinism-under-retry claim, tested instead of asserted.
  *
  * Forked for the same reason as LocalClusterSpec: a local-cluster
  * SparkContext cannot share a JVM with the suite's local[*] context.
  */
class ChaosClusterSpec extends AnyFunSuite {

  test("queries survive an executor SIGKILL with identical answers " +
       "(local-cluster[2,2,1024])") {
    ChaosProbe.entryNames.foreach(n =>
      assert(SparkEntry.queries.contains(n), s"probe entry $n not in catalog"))

    val root = GraftSession.tempDir("graft_chaos_spec_")
    val outJson = Paths.get(root, "chaos.json")
    val errFile = Paths.get(root, "chaos_err.txt").toFile
    val outFile = Paths.get(root, "chaos_out.txt").toFile
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).map(p => s"--add-opens=$p=ALL-UNNAMED")
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx4g", "-Duser.timezone=UTC",
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.ChaosProbe",
      "/root/testdata/sf0.001", outJson.toString))
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_HOME", "/opt/spark")
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.environment().put("SPARK_WORKER_DIR", Paths.get(root, "work").toString)
    pb.environment().put("SPARK_LOG_DIR", Paths.get(root, "logs").toString)
    pb.environment().put("SPARK_LOCAL_IP", "127.0.0.1")
    pb.redirectOutput(outFile)
    pb.redirectError(errFile)
    val proc = pb.start()
    val finished = proc.waitFor(15, TimeUnit.MINUTES)
    if (!finished) proc.destroyForcibly()
    def tail(f: java.io.File): String = {
      val s = try new String(Files.readAllBytes(f.toPath)) catch { case _: Exception => "" }
      s.takeRight(4000)
    }
    assert(finished, s"chaos probe did not finish; stderr tail:\n${tail(errFile)}")
    assert(proc.exitValue() == 0,
      s"chaos probe exited ${proc.exitValue()}; stderr tail:\n${tail(errFile)}")
    assert(Files.exists(outJson), s"no chaos report; stderr tail:\n${tail(errFile)}")

    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(outJson))
    val report = node.toPrettyString

    assert(node.get("failures").size() == 0, s"chaos failures: $report")
    assert(node.get("victim_killed").asBoolean(), s"victim not killed: $report")
    assert(!node.get("victim_alive_after").asBoolean(),
      s"victim survived the SIGKILL: $report")
    assert(node.get("replacement_spawned").asBoolean(),
      s"no replacement executor relaunched: $report")
    ChaosProbe.entryNames.foreach { name =>
      val e = node.get("entries").get(name)
      assert(e != null, s"entry $name missing from report: $report")
      assert(e.get("cluster_rows").asInt() > 0,
        s"$name returned no rows on the wounded cluster: $report")
      assert(e.get("equal").asBoolean(),
        s"$name differs after executor loss: $report")
    }

    // streaming phases: one executor SIGKILLed while the window entry's
    // micro-batches were in flight on the HDFS-backed store, another
    // during its run on RocksDB (changelog state) — both backends must
    // reload state from the checkpoint on a survivor, output unchanged
    Seq("stream", "stream_rocksdb").foreach { tag =>
      assert(node.get(s"${tag}_victim_killed").asBoolean(),
        s"$tag-phase victim not killed: $report")
      assert(!node.get(s"${tag}_victim_alive_after").asBoolean(),
        s"$tag-phase victim survived: $report")
      val stream = node.get(tag)
      assert(stream.get("cluster_rows").asInt() > 0,
        s"$tag entry returned no rows on the wounded cluster: $report")
      assert(stream.get("equal").asBoolean(),
        s"$tag entry (${stream.get("entry")}) differs after executor loss: $report")
    }

    // phase 3: a THIRD executor SIGKILLed while it was a shard-log
    // WRITER inside a foreachBatch upsert — the retried tasks repair any
    // torn tail (committed-length stamp) and re-append; the store must
    // converge to the exact batch-replay LWW rows with zero exhausted
    // reads and zero alarmed shards, written by executor JVMs only
    val store = node.get("store")
    assert(store != null, s"no store phase in report: $report")
    assert(store.get("victim_killed").asBoolean(),
      s"store-phase victim not killed: $report")
    assert(!store.get("victim_alive_after").asBoolean(),
      s"store-phase victim survived: $report")
    assert(store.get("keys_checked").asInt() > 0,
      s"store phase checked no keys: $report")
    assert(store.get("converged").asBoolean(),
      s"store did not converge after writer SIGKILL: $report")
    assert(store.get("writers_all_executors").asBoolean(),
      s"a shard log was written by a non-executor JVM: $report")
    // non-vacuous: the SIGKILL must have landed while upsert batches were
    // still pending (store-stream stages ran AFTER the kill) — otherwise
    // the torn-tail-repair claim was never exercised this run
    assert(node.get("store_kill_mid_stream").asBoolean(),
      s"store-phase kill landed after the stream drained (vacuous run): $report")

    // phase 4 (r18): an OUT-OF-ORDER session-window stream under executor
    // SIGKILL must recover byte-identical to the SessionFuzz model — the
    // lagged late-filter watermark (prevOffsetSeqMetadata) and the open
    // session state both reload from the checkpoint on a survivor
    val ooo = node.get("ooo")
    assert(ooo != null, s"no ooo phase in report: $report")
    assert(ooo.get("victim_killed").asBoolean(),
      s"ooo-phase victim not killed: $report")
    assert(!ooo.get("victim_alive_after").asBoolean(),
      s"ooo-phase victim survived: $report")
    assert(ooo.get("cluster_rows").asInt() > 0,
      s"ooo shape returned no rows on the wounded cluster: $report")
    assert(ooo.get("model_late_dropped").asInt() > 0,
      s"ooo shape dropped no late rows — not actually out of order: $report")
    assert(ooo.get("equal").asBoolean(),
      s"ooo session output differs from the model after executor loss: $report")
  }
}
