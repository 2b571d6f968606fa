package graft.streaming

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Pipeline

/** The java.nio checkpoint manager for `file:` paths: the atomic-write
  * contract Spark's logs and state stores rely on, coexistence with files
  * the stock manager wrote, and that a `Pipeline` query really runs on it
  * without starting a process per checkpoint file. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private def fresh(): (JPath, LocalCheckpointFileManager) = {
    val dir = Files.createTempDirectory("lcfm_")
    dir -> new LocalCheckpointFileManager(new Path(dir.toUri), conf)
  }
  private def write(fm: CheckpointFileManager, p: Path, bytes: Array[Byte],
                    overwrite: Boolean = true): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(bytes)
    out.close()
  }
  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("a reader never sees a partial target; the first write appears only on close") {
    val (dir, fm) = fresh()
    val target = new Path(dir.resolve("f").toUri)
    val n = 1 << 18
    val out = fm.createAtomic(target, overwriteIfPossible = true)
    out.write(Array.fill(n)('a'.toByte))
    assert(!fm.exists(target) && !Files.exists(dir.resolve("f")))
    out.close()
    val bad = new AtomicReference[String]("")
    val reads = new java.util.concurrent.atomic.AtomicInteger
    @volatile var done = false
    val reader = new Thread(() => while (!done) {
      val b = Files.readAllBytes(dir.resolve("f"))
      reads.incrementAndGet()
      if (b.length != n || b.exists(_ != b(0))) bad.compareAndSet("", s"read ${b.length} bytes of mixed content")
    })
    reader.start()
    ('b' to 'z').foreach(c => write(fm, target, Array.fill(n)(c.toByte)))
    done = true
    reader.join()
    assert(bad.get.isEmpty, bad.get)
    assert(reads.get > 0)
    assert(new String(Files.readAllBytes(dir.resolve("f"))).forall(_ == 'z'))
  }

  test("overwrite=false refuses an existing file and leaves no temp file; overwrite=true replaces it") {
    val (dir, fm) = fresh()
    val target = new Path(dir.resolve("0").toUri)
    write(fm, target, "one".getBytes, overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, target, "two".getBytes, overwrite = false))
    assert(new String(Files.readAllBytes(dir.resolve("0"))) == "one")
    assert(names(dir) == Set("0"))
    write(fm, target, "three".getBytes, overwrite = true)
    assert(new String(Files.readAllBytes(dir.resolve("0"))) == "three")
    assert(names(dir) == Set("0"))
    val in = fm.open(target)
    try assert(new String(in.readAllBytes()) == "three") finally in.close()
  }

  test("cancel() leaves no file behind") {
    val (dir, fm) = fresh()
    val out = fm.createAtomic(new Path(dir.resolve("1").toUri), overwriteIfPossible = false)
    out.write("partial".getBytes)
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("createAtomic writes into an existing directory and, like the stock manager, refuses a missing one") {
    val (dir, fm) = fresh()
    val stock = new FileContextBasedCheckpointFileManager(new Path(dir.toUri), conf)
    // parent present: the target appears, nothing else
    write(fm, new Path(dir.resolve("0").toUri), "here".getBytes)
    assert(names(dir) == Set("0"))
    // parent missing: both managers fail at create and make no directory
    intercept[java.io.IOException](fm.createAtomic(new Path(dir.resolve("a/b/1").toUri), true))
    intercept[java.io.IOException](stock.createAtomic(new Path(dir.resolve("c/d/1").toUri), true))
    assert(names(dir) == Set("0"))
  }

  test("list never returns in-flight temp files or .crc sidecars") {
    val (dir, fm) = fresh()
    val root = new Path(dir.toUri)
    write(fm, new Path(root, "1"), "x".getBytes)
    Files.write(dir.resolve(".1.crc"), Array[Byte](1, 2))
    Files.write(dir.resolve(".2.3f2a.tmp"), Array[Byte](1))
    fm.mkdirs(new Path(root, "sub"))
    val inFlight = fm.createAtomic(new Path(root, "2"), overwriteIfPossible = true)
    inFlight.write("y".getBytes)
    try {
      assert(names(dir).size == 5) // 1, .1.crc, .2.3f2a.tmp, sub, 2's temp
      val listed = fm.list(root)
      assert(listed.map(_.getPath.getName).toSet == Set("1", "sub"))
      assert(listed.find(_.getPath.getName == "sub").exists(_.isDirectory))
      assert(fm.list(root, (p: Path) => p.getName != "sub").map(_.getPath.getName).toSeq == Seq("1"))
    } finally inFlight.cancel()
    fm.delete(new Path(root, "1"))
    assert(names(dir) == Set(".2.3f2a.tmp", "sub"), "delete takes the file's sidecar with it")
  }

  test("a non-file: path reaches the stock manager") {
    val (_, local) = fresh()
    assert(local.stock.isEmpty && local.isLocal)
    val hdfs = new LocalCheckpointFileManager(new Path("hdfs://localhost:1/ckpt"), conf)
    assert(hdfs.stock.map(_.getClass) == Some(classOf[FileContextBasedCheckpointFileManager]))
  }

  test("stale sidecar: a stock-written file overwritten here reads back through LocalFileSystem") {
    val (dir, fm) = fresh()
    val target = new Path(dir.resolve("5.delta").toUri)
    write(new FileContextBasedCheckpointFileManager(new Path(dir.toUri), conf), target,
      "stock bytes".getBytes)
    assert(Files.exists(dir.resolve(".5.delta.crc")), "the stock manager writes a sidecar")
    write(fm, target, "new bytes, longer than the old".getBytes)
    val in = FileSystem.get(conf).open(target)
    try assert(new String(in.readAllBytes()) == "new bytes, longer than the old")
    finally in.close()
  }

  // ---- a Pipeline query on a session graft did not build ----------------

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs a windowed Streaming spec on a fresh session with no
    * checkpoint-manager setting through `triggers` micro-batches into a
    * Parquet sink; returns the checkpoint directory and the session.
    * `fields` are spliced into the spec (empty: window pipelines' default
    * RocksDB state). */
  private def runPipeline(triggers: Int, fields: String = ""): (JPath, SparkSession) = {
    val session = spark.newSession()
    session.conf.unset(LocalCheckpointFileManager.ConfKey)
    val root = Files.createTempDirectory("lcfm_pipeline_")
    val ckpt = root.resolve("ckpt")
    implicit val sqlCtx = session.sqlContext
    import session.implicits._
    val mem = MemoryStream[(Long, String, Double)]
    val spec = s"""{
      "execution_mode": "Streaming", $fields
      "sources": [ { "table_name": "lcfm_ev", "source": { "Memory": {} } } ],
      "sql": "SELECT ts_ms, key, sum(value) OVER (PARTITION BY key ORDER BY ts_ms RANGE BETWEEN 60000 PRECEDING AND CURRENT ROW) AS s60 FROM lcfm_ev",
      "sink": { "Parquet": {"path": "${root.resolve("out")}", "checkpoint": "$ckpt"} }
    }"""
    val handle = Pipeline.runJson(session, spec,
      tables = Map("lcfm_ev" -> mem.toDF().toDF("ts_ms", "key", "value")))
    try (0 until triggers).foreach { t =>
      mem.addData((0 until 20).map(i => (1704067200000L + 1000L * (20 * t + i), s"k${i % 3}", i.toDouble)): _*)
      handle.query.get.processAllAvailable()
    } finally handle.stop()
    (ckpt, session)
  }

  test("a Pipeline on a foreign session checkpoints its offsets and state through this manager") {
    val (ckpt, session) = runPipeline(3)
    val files = Files.walk(ckpt).iterator().asScala.toSeq
    def under(d: String) = files.filter(p => ckpt.relativize(p).toString.startsWith(d) && Files.isRegularFile(p))
    assert(under("offsets").size >= 3 && under("commits").size >= 3)
    assert(under("state").exists(_.getFileName.toString.contains(".changelog")),
      s"no state-store changelog under $ckpt")
    // the stock manager leaves a Hadoop `.<name>.crc` sidecar beside every
    // file it writes. RocksDB uploads its snapshot SST files through
    // Hadoop's FileSystem API instead of the checkpoint manager, so those
    // keep theirs.
    val sidecars = files.filterNot(p => ckpt.relativize(p).toString.contains("/SSTs/"))
      .map(_.getFileName.toString).filter(n => n.startsWith(".") && n.endsWith(".crc"))
    assert(sidecars.isEmpty, s"stock-manager sidecars in the checkpoint: ${sidecars.take(5)}")
    assert(session.conf.getOption(LocalCheckpointFileManager.ConfKey) ==
      Some(classOf[LocalCheckpointFileManager].getName))
  }

  test("no process is started for checkpoint I/O across several triggers") {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    // on the HDFS-backed state store every checkpoint file, snapshots
    // included, goes through the checkpoint manager
    val (ckpt, _) = try runPipeline(4, """"state_store_provider": "hdfs",""")
    finally rec.stop()
    val dump = Files.createTempFile("lcfm_forks_", ".jfr")
    rec.dump(dump)
    rec.close()
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
      .map(_.getString("command")).toSeq
    Files.delete(dump)
    val onCheckpoint = commands.filter(_.contains(ckpt.toString))
    assert(onCheckpoint.isEmpty,
      s"${onCheckpoint.size} processes started on checkpoint files, e.g. ${onCheckpoint.take(3)}")
  }
}
