package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkEnv
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}
import graft.streaming.StateStoreConf

/** Executor-loss resilience proof: run multi-stage catalog entries on
  * `local-cluster[2,2,1024]` (two real forked executor JVMs), SIGKILL
  * one executor JVM while its stages are in flight, and assert that
  *
  *  1. the standalone Worker relaunched a replacement executor (a NEW
  *     pid appears in the post-kill census),
  *  2. every query completed despite the lost tasks and lost shuffle
  *     files (FetchFailed -> stage resubmission is the recovery path
  *     a 1000-executor cluster exercises daily), and
  *  3. the answers are IDENTICAL to an undisturbed single-JVM run —
  *     the determinism-under-retry claim (e.g. the salted join's
  *     row-content salt, every hash-based sample/split) tested for
  *     real instead of asserted.
  *
  * Forked by ChaosClusterSpec for the same reason as ClusterProbe: a
  * local-cluster SparkContext cannot share a JVM with the suite's
  * local[*] context. Reference parity: volga's cluster harness kills
  * workers mid-run (src/runtime/tests/cluster_harness/) — this is the
  * Spark-standalone rendition.
  */
object ChaosProbe {

  /** Multi-stage, multi-shuffle entries — enough in-flight stages that
    * a mid-run kill reliably lands on active work. (Not q_fuzzy_join:
    * sf0.001's name universe has no J >= 1/3 matches, so its rows>0
    * assertion can't hold there.) */
  val entryNames: Seq[String] = Seq(
    "q_dedup_minhash", "q_dedup_ngram", "q_dedup_cluster")

  /** The streaming victim query for phase 2: the sliding-window engine,
    * run once on the HDFS-backed state store and once on RocksDB
    * (changelog checkpointing) — the kill lands while each run's
    * micro-batches are in flight, so BOTH state backends prove the
    * reload-from-checkpoint-on-a-survivor path with byte-identical
    * output. */
  val streamEntry = "q_window_streaming"

  private val addOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).map(p => s"--add-opens=$p=ALL-UNNAMED")

  private def execPids(spark: SparkSession): Set[Long] =
    spark.sparkContext.parallelize(1 to 64, 16)
      .mapPartitions(_ => Iterator(ProcessHandle.current().pid()))
      .collect().toSet

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outJson = args(1)
    val driverPid = ProcessHandle.current().pid()
    val mapper = new ObjectMapper()
    val report = mapper.createObjectNode()
    report.put("driver_pid", driverPid)
    val failures = report.putArray("failures")

    val cp = System.getProperty("java.class.path")
    val cluster = GraftSession.builder("local-cluster[2,2,1024]")
      .config("spark.executor.extraClassPath", cp)
      .config("spark.executor.extraJavaOptions",
        (addOpens :+ "-Duser.timezone=UTC").mkString(" "))
      .config("spark.executor.memory", "1024m")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    cluster.sparkContext.setLogLevel("WARN")

    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (cluster.sparkContext.statusTracker.getExecutorInfos.length < 3 &&
           System.nanoTime() < deadline) Thread.sleep(200)
    require(cluster.sparkContext.statusTracker.getExecutorInfos.length >= 3,
      "executors did not register within 120s")

    val beforePids = execPids(cluster) - driverPid
    report.put("executors_before", beforePids.toSeq.sorted.mkString(","))

    // arm the assassin: once >= 2 stages of the victim query have been
    // submitted, SIGKILL one executor JVM (losing its running tasks AND
    // its shuffle files — the FetchFailed recovery path)
    val stagesSeen = new AtomicInteger(0)
    cluster.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        stagesSeen.incrementAndGet(); ()
      }
    })
    val victim = beforePids.min
    @volatile var killedAt = -1L
    val assassin = new Thread(() => {
      while (stagesSeen.get() < 2) Thread.sleep(20)
      Thread.sleep(150) // let tasks of those stages actually start
      new ProcessBuilder("kill", "-9", victim.toString).start().waitFor()
      killedAt = System.nanoTime()
    }, "executor-assassin")
    assassin.setDaemon(true)
    assassin.start()

    val clusterRows = entryNames.flatMap { name =>
      try {
        val rows = SparkEntry.queries(name)(cluster, sfDir)
          .collect().toSeq.map(_.toSeq)
        Some(name -> rows.sortBy(_.mkString("|")))
      } catch {
        case e: Throwable =>
          failures.add(s"cluster/$name: ${e.getClass.getName}: ${e.getMessage}")
          None
      }
    }.toMap
    assassin.join(2000)

    report.put("victim_pid", victim)
    report.put("victim_killed", killedAt > 0)
    val victimHandle = ProcessHandle.of(victim)
    report.put("victim_alive_after",
      victimHandle.isPresent && victimHandle.get().isAlive)
    val afterPids = execPids(cluster) - driverPid
    report.put("executors_after", afterPids.toSeq.sorted.mkString(","))
    report.put("replacement_spawned", (afterPids -- beforePids).nonEmpty)

    // ---- streaming phase: SIGKILL an executor while a STREAMING query
    // (sliding-window state engine, checkpointed) is running, once per
    // state backend. The dying executor takes its in-memory state-store
    // maps (or its RocksDB instance) with it; task retry must reload the
    // last committed state version from the checkpoint on a
    // surviving/replacement executor — the streaming recovery path a real
    // cluster exercises on every executor loss.
    val streamVictims = Seq("stream" -> false, "stream_rocksdb" -> true)
    val streamRows = streamVictims.map { case (tag, rocksDb) =>
      val midPids = execPids(cluster) - driverPid
      val victim2 = midPids.max
      val stagesSeen2 = new AtomicInteger(0)
      cluster.sparkContext.addSparkListener(new SparkListener {
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
          stagesSeen2.incrementAndGet(); ()
        }
      })
      @volatile var killed2At = -1L
      @volatile var stagesAtKill2 = -1
      val assassin2 = new Thread(() => {
        while (stagesSeen2.get() < 3) Thread.sleep(20)
        Thread.sleep(100)
        stagesAtKill2 = stagesSeen2.get()
        new ProcessBuilder("kill", "-9", victim2.toString).start().waitFor()
        killed2At = System.nanoTime()
      }, s"executor-assassin-$tag")
      assassin2.setDaemon(true)
      assassin2.start()
      val rows =
        try StateStoreConf.withSaved(cluster) {
          if (rocksDb) StateStoreConf.setRocksDb(cluster)
          Some(SparkEntry.queries(streamEntry)(cluster, sfDir)
            .collect().toSeq.map(_.toSeq).sortBy(_.mkString("|")))
        } catch { case e: Throwable =>
          failures.add(s"cluster/$tag: ${e.getClass.getName}: ${e.getMessage}")
          None
        }
      assassin2.join(2000)
      report.put(s"${tag}_victim_pid", victim2)
      report.put(s"${tag}_victim_killed", killed2At > 0)
      val v2Handle = ProcessHandle.of(victim2)
      report.put(s"${tag}_victim_alive_after",
        v2Handle.isPresent && v2Handle.get().isAlive)
      report.put(s"${tag}_stages_at_kill", stagesAtKill2)
      report.put(s"${tag}_stages_total", stagesSeen2.get())
      (tag, streamEntry, rows)
    }

    // ---- phase 3 (r13): serving WRITE path chaos. The shard-log
    // protocol's crash claims (gen fence, torn-tail stop, key+ts payload
    // verify) had only cooperative-reader tests — here a shard-writer
    // executor is SIGKILLed mid-`foreachBatch` upsert on the cluster, so
    // its in-flight appends die with it (possibly mid-channel-write).
    // Spark retries the lost tasks on a survivor; the retried append's
    // committed-length stamp truncates any torn tail the corpse left
    // (ShardLog.append r13). The assertion: after the stream drains, a
    // fresh reader serves EVERY key the exact LWW row a batch replay
    // computes — no torn record, no stale value, no wedged shard — with
    // zero exhausted reads and zero alarmed shards.
    val storeRoot = GraftSession.tempDir("graft_chaos_store_")
    val numShards = 8
    val stagesSeen3 = new AtomicInteger(0)
    @volatile var killed3At = -1L
    @volatile var victim3 = -1L
    @volatile var stagesAtKill3 = -1
    @volatile var stagesAfterKill3 = -1
    val assassin3 = new Thread(() => {
      while (stagesSeen3.get() < 4) Thread.sleep(20)
      Thread.sleep(100) // land inside a later batch's write tasks
      // r13 ADVICE: stamp the stage count AT the kill so a vacuous run
      // (assassin fired after the stream drained) is distinguishable —
      // the claim needs batches still pending when the writer died.
      // Stamp BEFORE issuing the signal: stages finishing between
      // delivery and a post-waitFor stamp would be miscounted as
      // pre-kill and could spuriously flag a genuine mid-stream kill as
      // vacuous; the post-kill stamp is recorded too, bounding the window
      stagesAtKill3 = stagesSeen3.get()
      new ProcessBuilder("kill", "-9", victim3.toString).start().waitFor()
      stagesAfterKill3 = stagesSeen3.get()
      killed3At = System.nanoTime()
    }, "executor-assassin-3")
    assassin3.setDaemon(true)
    val storeOk =
      try {
        GraftSession.prepare(cluster, sfDir)
        // unique ts per key-update (event_id) makes the LWW expectation
        // order-independent: max-ts row per key, no tie-break ambiguity
        val ev = cluster.sql(
          """SELECT CAST(user_id AS STRING) AS key, event_id AS ts_ms, value
             FROM events""")
        val inDir = GraftSession.tempDir("graft_chaos_sin_")
        (0 until 6).foreach(i =>
          ev.where(s"ts_ms % 6 = $i").coalesce(1)
            .write.mode("append").parquet(s"$inDir/in"))
        // arm the assassin only now: the input-prep writes above submit
        // >= 6 stages of their own, and a listener registered before
        // them would satisfy the trigger during PREP — the kill must
        // land while the STORE stream's upsert tasks run (r13 review:
        // the original ordering made the phase-3 claim vacuous)
        victim3 = (execPids(cluster) - driverPid).min
        cluster.sparkContext.addSparkListener(new SparkListener {
          override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
            stagesSeen3.incrementAndGet(); ()
          }
        })
        assassin3.start()
        val stream = cluster.readStream
          .schema(cluster.read.parquet(s"$inDir/in").schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$inDir/in")
        val q = stream.writeStream
          .foreachBatch(graft.serving.ShardedFeatureStore
            .upsertBatch(storeRoot, numShards, "key", "ts_ms") _)
          .option("checkpointLocation", s"$inDir/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
          .start()
        try q.processAllAvailable() finally q.stop()
        true
      } catch {
        case e: Throwable =>
          failures.add(s"store/upsert: ${e.getClass.getName}: ${e.getMessage}")
          false
      }
    assassin3.join(2000)
    report.put("store_stages_total", stagesSeen3.get())
    report.put("store_stages_at_kill", stagesAtKill3)
    report.put("store_stages_after_kill", stagesAfterKill3)
    // true iff the SIGKILL landed while upsert batches were still being
    // scheduled (more store-stream stages ran after the kill was issued)
    // — the torn-tail-repair claim is only exercised on such runs
    report.put("store_kill_mid_stream",
      stagesAtKill3 >= 0 && stagesAtKill3 < stagesSeen3.get())

    val storeNode = report.putObject("store")
    storeNode.put("victim_pid", victim3)
    storeNode.put("victim_killed", killed3At > 0)
    val v3Handle =
      if (victim3 > 0) ProcessHandle.of(victim3)
      else java.util.Optional.empty[ProcessHandle]()
    storeNode.put("victim_alive_after",
      v3Handle.isPresent && v3Handle.get().isAlive)
    if (storeOk) {
      // expected rows from a plain batch replay on the same session
      val expected = cluster.sql(
        """SELECT key, ts_ms, value FROM (
             SELECT CAST(user_id AS STRING) AS key, event_id AS ts_ms, value,
                    row_number() OVER (PARTITION BY user_id
                                       ORDER BY event_id DESC) AS rn
             FROM events) WHERE rn = 1""")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val store = new graft.serving.ShardedFeatureStore(storeRoot, numShards)
      val exhaustedBefore = graft.serving.ShardedFeatureStore.exhaustedReads.sum()
      var mismatches = 0
      expected.foreach { case (key, (ts, value)) =>
        val got = store.get(key)
        val ok = got.exists(e => e.tsMs == ts &&
          (e.values.get("value") match {
            case Some(d: Double) => math.abs(d - value) < 1e-12
            case Some(n: Number) => math.abs(n.doubleValue() - value) < 1e-12
            case _ => false
          }))
        if (!ok) {
          mismatches += 1
          if (mismatches <= 3)
            failures.add(s"store/$key: expected ($ts, $value), got " +
              got.map(e => s"(${e.tsMs}, ${e.values.get("value")})").getOrElse("miss"))
        }
      }
      storeNode.put("keys_checked", expected.size)
      storeNode.put("mismatches", mismatches)
      storeNode.put("exhausted_reads",
        graft.serving.ShardedFeatureStore.exhaustedReads.sum() - exhaustedBefore)
      storeNode.put("alarmed_shards", store.alarmedShards.mkString(","))
      storeNode.put("converged", mismatches == 0 &&
        graft.serving.ShardedFeatureStore.exhaustedReads.sum() == exhaustedBefore &&
        store.alarmedShards.isEmpty)
      // the design claim: shard logs are written by executor JVMs only
      val writerPids = (0 until numShards).flatMap { s =>
        val f = graft.serving.ShardLog.shardDir(storeRoot, s)
          .resolve("writer.pid").toFile
        if (f.exists())
          Some(new String(Files.readAllBytes(f.toPath)).trim.toLong)
        else None
      }.toSet
      storeNode.put("writer_pids", writerPids.toSeq.sorted.mkString(","))
      storeNode.put("writers_all_executors",
        writerPids.nonEmpty && !writerPids.contains(driverPid))
    }

    // ---- phase 4 (r18, VERDICT r17 #8): OUT-OF-ORDER session windows
    // under executor loss. The late-event filter's one-batch lag is
    // CHECKPOINT state too (prevOffsetSeqMetadata carries the previous
    // batch's watermark) — a SIGKILL mid-stream must recover the session
    // state AND the lagged watermark pair on a survivor, or late rows get
    // filtered differently after the restart. One deterministic OOO shape
    // (4 modulo slices, genuinely late rows in every later slice, gap
    // 30 min, delay 1 min) runs on the wounded cluster and must match the
    // SessionFuzz model oracle exactly.
    locally {
      import org.apache.spark.sql.functions.{col, count => cnt, lit, min => fmin,
        session_window, sum => fsum, timestamp_millis, unix_millis}
      val oooNode = report.putObject("ooo")
      try {
        GraftSession.prepare(cluster, sfDir)
        val gapMs = 1800000L; val dMs = 60000L; val k = 4
        val in = cluster.sql(StreamFuzz.evSpark)
          .withColumn("kk", col("user_id").cast("string"))
        val slices = (0 until k).map(j => in.where(s"(event_id + 1) % $k = $j"))
        // model side first — its collects must not trip the assassin
        val modelSlices = slices.map(df =>
          df.select("kk", "ts_ms", "value_c").collect().toSeq
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2))))
        val (emitted, stats) = SessionFuzz.SessionModel.run(modelSlices, gapMs, dMs)
        val want = emitted.map { case (kv, s) =>
          Seq[Any](kv, s.start, s.end, s.rows.length.toLong, s.rows.map(_._2).sum)
        }.sortBy(_.mkString("|"))
        oooNode.put("model_rows", want.length)
        oooNode.put("model_late_dropped", stats.lateDropped)
        oooNode.put("model_mid_emissions", stats.emittedMid)
        val root = GraftSession.tempDir("graft_chaos_ooo_")
        StreamFuzz.writeOrderedSlices(slices.map(_.drop("kk")), s"$root/in")
        // arm the assassin only now: prep + model collects + slice writes
        // all submit their own stages
        val midPids4 = execPids(cluster) - driverPid
        val victim4 = midPids4.max
        val stagesSeen4 = new AtomicInteger(0)
        cluster.sparkContext.addSparkListener(new SparkListener {
          override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
            stagesSeen4.incrementAndGet(); ()
          }
        })
        @volatile var killed4At = -1L
        @volatile var stagesAtKill4 = -1
        val assassin4 = new Thread(() => {
          // >= 4 stages in: several micro-batches of the 6-batch replay
          // (4 slices + 2 flush rounds) are behind us, several ahead
          while (stagesSeen4.get() < 4) Thread.sleep(20)
          Thread.sleep(100)
          stagesAtKill4 = stagesSeen4.get()
          new ProcessBuilder("kill", "-9", victim4.toString).start().waitFor()
          killed4At = System.nanoTime()
        }, "executor-assassin-ooo")
        assassin4.setDaemon(true)
        assassin4.start()
        val schema = cluster.read.parquet(s"$root/in").schema
        val st = cluster.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
          .withColumn("ts", timestamp_millis(col("ts_ms")))
          .withWatermark("ts", s"$dMs milliseconds")
        val out = st
          .groupBy(col("user_id").cast("string").as("kk"),
            session_window(col("ts"), s"${gapMs / 1000} seconds"))
          .agg(cnt(lit(1)).as("n"), fsum(col("value_c")).as("s"),
            fmin(col("ts_ms")).as("tmn"))
          .withColumn("session_start", unix_millis(col("session_window.start")))
          .withColumn("session_end", unix_millis(col("session_window.end")))
          .select(col("kk"), col("session_start"), col("session_end"),
            col("n"), col("s"))
          .where(col("session_start") < StreamFuzz.flushCut)
        val landed = StreamFuzz
          .runStreaming(cluster, out, root, Seq(s"$root/in"), 2)
          .collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
        assassin4.join(2000)
        oooNode.put("cluster_rows", landed.length)
        oooNode.put("stages_at_kill", stagesAtKill4)
        oooNode.put("stages_total", stagesSeen4.get())
        oooNode.put("victim_killed", killed4At > 0)
        val v4Handle = ProcessHandle.of(victim4)
        oooNode.put("victim_alive_after",
          v4Handle.isPresent && v4Handle.get().isAlive)
        oooNode.put("equal", landed == want)
        if (landed != want)
          failures.add(s"ooo: cluster=${landed.length} rows, model=${want.length}; " +
            s"firstDiff=${landed.diff(want).headOption.orElse(want.diff(landed).headOption)}")
      } catch {
        case e: Throwable =>
          failures.add(s"ooo: ${e.getClass.getName}: ${e.getMessage}")
          oooNode.put("equal", false)
      }
    }

    cluster.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()

    // undisturbed single-JVM oracle
    val local = GraftSession.builder("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    local.sparkContext.setLogLevel("WARN")
    val localRows = (entryNames :+ streamEntry).flatMap { name =>
      try {
        val rows = SparkEntry.queries(name)(local, sfDir)
          .collect().toSeq.map(_.toSeq)
        Some(name -> rows.sortBy(_.mkString("|")))
      } catch {
        case e: Throwable =>
          failures.add(s"local/$name: ${e.getClass.getName}: ${e.getMessage}")
          None
      }
    }.toMap
    local.stop()

    streamRows.foreach { case (tag, entry, clusterRowsOpt) =>
      val streamNode = report.putObject(tag)
      streamNode.put("entry", entry)
      streamNode.put("cluster_rows", clusterRowsOpt.map(_.length).getOrElse(-1))
      streamNode.put("local_rows", localRows.get(entry).map(_.length).getOrElse(-1))
      streamNode.put("equal", clusterRowsOpt.isDefined &&
        localRows.contains(entry) &&
        clusterRowsOpt.get == localRows(entry))
    }

    val entriesNode = report.putObject("entries")
    entryNames.foreach { name =>
      val n = entriesNode.putObject(name)
      n.put("cluster_rows", clusterRows.get(name).map(_.length).getOrElse(-1))
      n.put("local_rows", localRows.get(name).map(_.length).getOrElse(-1))
      n.put("equal", clusterRows.contains(name) && localRows.contains(name) &&
        clusterRows(name) == localRows(name))
    }

    Files.write(Paths.get(outJson),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(report))
    System.exit(0)
  }
}
