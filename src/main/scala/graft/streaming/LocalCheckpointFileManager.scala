package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption, Path => JPath}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint I/O for `file:` paths through java.nio: the offset WAL, the
  * commit log, source logs and state-store files of every streaming query.
  *
  * Hadoop's local filesystem forks `readlink` twice on every rename and,
  * without native libhadoop, `chmod` on every create — several processes
  * per checkpoint file, about half of a micro-batch's wall time on a small
  * trigger. Here a write goes to a hidden temp file beside the target and
  * is moved onto it atomically on close, with the semantics of Spark's
  * rename-based stream; without overwrite it is hard-linked instead, which
  * refuses an existing target atomically. No process is started. No `.crc`
  * sidecars are written, and a stale one left by the stock manager is
  * removed whenever its file is overwritten or deleted. Spark's checksum
  * wrapper still wraps this manager, and durability is the stock one's:
  * neither fsyncs.
  *
  * `createAtomic` does not create a missing parent directory; it fails
  * with `NoSuchFileException`. That is what the stock manager for `file:`
  * paths does (the FileContext-based one creates without `createParent`;
  * only the FileSystem-based fallback for other schemes makes parents), so
  * Spark's callers make their directories first. It also keeps a late
  * write from re-creating a checkpoint that was deleted under it, as a
  * RocksDB maintenance upload does after a temporary checkpoint is removed
  * on stop: that upload fails and is logged instead.
  *
  * Every other scheme (HDFS, S3, ...) goes to the stock manager unchanged.
  */
class LocalCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[streaming] val stock: Option[CheckpointFileManager] =
    if (Option(path.toUri.getScheme)
        .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file") None
    else {
      val c = new Configuration(conf)
      c.unset(ConfKey)
      Some(CheckpointFileManager.create(path, c))
    }
  private lazy val raw = {
    val fs = new RawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  private def nio(p: Path): JPath = Paths.get(p.toUri.getPath).toAbsolutePath
  private def sidecar(p: JPath): JPath = p.resolveSibling(s".${p.getFileName}.crc")

  /** Writes to `.<name>.<uuid>.tmp` beside `dst`; `close()` publishes it,
    * `cancel()` drops it, and either way no temp file outlives the stream. */
  private final class AtomicStream(dst: JPath, tmp: JPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(
        new java.io.BufferedOutputStream(Files.newOutputStream(tmp), 1 << 16)) {
    private var done = false
    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try { underlyingStream.close(); publish() } finally Files.deleteIfExists(tmp)
      }
    }
    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try underlyingStream.close() finally Files.deleteIfExists(tmp)
      }
    }
    private def publish(): Unit =
      if (overwrite) {
        Files.deleteIfExists(sidecar(dst))
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
      } else try Files.createLink(dst, tmp) // fails on an existing target; a move would replace it
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"$dst exists")
      }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    stock.fold[CancellableFSDataOutputStream] {
      val dst = nio(p)
      val tmp = dst.resolveSibling(s".${dst.getFileName}.${java.util.UUID.randomUUID}.tmp")
      new AtomicStream(dst, tmp, overwriteIfPossible)
    }(_.createAtomic(p, overwriteIfPossible))

  override def open(p: Path): FSDataInputStream = stock.fold(raw.open(p))(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = stock.fold {
    val dir = nio(p)
    if (!Files.isDirectory(dir)) throw new java.io.FileNotFoundException(s"$p is not a directory")
    val stream = Files.newDirectoryStream(dir)
    try stream.asScala.filterNot(c => hidden(c.getFileName.toString)).map { c =>
      val a = Files.readAttributes(c, classOf[BasicFileAttributes])
      new FileStatus(a.size, a.isDirectory, 1, 0L, a.lastModifiedTime.toMillis,
        new Path("file", null, c.toString))
    }.filter(s => filter.accept(s.getPath)).toArray
    finally stream.close()
  }(_.list(p, filter))

  override def mkdirs(p: Path): Unit = stock.fold[Unit](Files.createDirectories(nio(p)))(_.mkdirs(p))

  override def exists(p: Path): Boolean = stock.fold(Files.exists(nio(p)))(_.exists(p))

  override def delete(p: Path): Unit = stock.fold {
    val f = nio(p)
    if (Files.isDirectory(f)) {
      val walk = Files.walk(f)
      try walk.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally walk.close()
    } else {
      Files.deleteIfExists(sidecar(f))
      Files.deleteIfExists(f)
    }
  }(_.delete(p))

  override def isLocal: Boolean = stock.fold(true)(_.isLocal)

  override def createCheckpointDirectory(): Path = stock.fold {
    Files.createDirectories(nio(path)); path
  }(_.createCheckpointDirectory())

  override def close(): Unit = stock.foreach(_.close())
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** In-flight temp files (`.<name>.<uuid>.tmp`, here and in Spark's
    * rename-based stream) and Hadoop checksum sidecars (`.<name>.crc`). */
  private def hidden(name: String): Boolean =
    name.startsWith(".") && (name.endsWith(".tmp") || name.endsWith(".crc"))

  /** Installs this manager for the streaming queries `spark` starts next,
    * unless the session already names a manager of its own. Like
    * [[StateStoreConf.setRocksDb]], this is a session-level effect that is
    * not restored: Spark reads the key when a query starts, and the queries
    * a pipeline launches outlive the call that started them. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)
}
