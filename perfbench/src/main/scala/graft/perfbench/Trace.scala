package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spans recorded by the benchmark around its calls into graft's public
  * functions. Recording is off in untraced runs (a span then costs one
  * branch); spans stay in memory and are written out when the run ends.
  */
final class Trace(@volatile var enabled: Boolean) {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime()))
        stack.set(stack.get().tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per span name: (count, total ms, self ms). Self time is a span's
    * duration minus the part of it its child spans cover. */
  def selfTimes: Map[String, (Long, Double, Double)] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val total = group.map(s => s.endNs - s.startNs).sum
      val self = group.map { s =>
        val covered = Trace.unionNs(children.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs) - covered
      }.sum
      name -> ((group.size.toLong, total / 1e6, self / 1e6))
    }
  }

  /** Share of [t0, t1] covered by top-level spans. */
  def coverage(t0: Long, t1: Long): Double =
    if (t1 <= t0) 0.0
    else Trace.unionNs(all.filter(_.parent == 0L).map(s =>
      (math.max(s.startNs, t0), math.min(s.endNs, t1)))).toDouble / (t1 - t0)

  def writeTo(path: java.nio.file.Path, t0: Long): Unit = {
    val root = Record.mapper.createObjectNode()
    val arr = root.putArray("spans")
    all.sortBy(_.startNs).foreach { s =>
      val o = arr.addObject()
      o.put("id", s.id); o.put("parent", s.parent); o.put("name", s.name)
      o.put("start_ms", (s.startNs - t0) / 1e6); o.put("end_ms", (s.endNs - t0) / 1e6)
    }
    val st = root.putObject("self_ms")
    selfTimes.toSeq.sortBy(_._1).foreach { case (n, (c, tot, self)) =>
      val o = st.putObject(n); o.put("count", c); o.put("total_ms", tot); o.put("self_ms", self)
    }
    java.nio.file.Files.write(path, Record.mapper.writeValueAsBytes(root))
  }
}

object Trace {
  /** Length of the union of [start, end) intervals (empty ones ignored). */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Stage and task metrics from Spark's own listener bus, keyed by the job
  * group the benchmark sets around each public call. */
final class SparkStats extends SparkListener {
  final class Group {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L
    val taskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty
  }
  private val groups = mutable.Map.empty[String, Group]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def g(name: String): Group = groups.getOrElseUpdate(name, new Group)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val name = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    g(name).jobs += 1
    e.stageIds.foreach(stageGroup(_) = name)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val gr = g(stageGroup.getOrElse(e.stageId, "-"))
      gr.tasks += 1
      gr.cpuNs += m.executorCpuTime
      gr.gcMs += m.jvmGCTime
      gr.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      gr.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      gr.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  def snapshot(prefix: String): Seq[Group] = synchronized {
    groups.collect { case (n, gr) if n.startsWith(prefix) => gr }.toSeq
  }

  def total: Seq[Group] = synchronized(groups.values.toSeq)

  /** max/median task time over the stages of the matching groups with at
    * least `nproc` tasks (the widest skew of any such stage). */
  def taskSkew(prefix: String, minTasks: Int): Double = synchronized {
    val ratios = groups.collect { case (n, gr) if n.startsWith(prefix) =>
      gr.taskMs.values.filter(_.size >= minTasks).map { ts =>
        val s = ts.sorted
        val med = math.max(1L, s(s.size / 2))
        s.last.toDouble / med
      }
    }.flatten
    if (ratios.isEmpty) 0.0 else ratios.max
  }
}

object SparkStats {
  def sum(gs: Seq[SparkStats#Group])(f: SparkStats#Group => Long): Long = gs.map(f).sum
}

/** Every trigger's progress of every streaming query, from Spark's
  * StreamingQueryListener. */
final class ProgressLog extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(queryId: java.util.UUID): Seq[StreamingQueryProgress] =
    progress.asScala.filter(_.id == queryId).toSeq.sortBy(_.batchId)
}

/** Heap in use over a timed phase, from GC notifications: the peak right
  * after any collection (live set plus what the collector had not yet
  * reclaimed), and what a full collection at the end of the phase retains.
  * The retained figure is the end-to-end metric: it does not depend on
  * when the collector happened to run. */
final class HeapPeak {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData

  @volatile private var peak = 0L
  @volatile private var active = false
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        synchronized { if (used > peak) peak = used }
      }
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def start(): Unit = { peak = 0L; active = true }

  /** Ends the phase; returns (peak after any collection, retained after a
    * full collection), in MiB. */
  def stop(): (Double, Double) = {
    // the least of a few full collections: a micro-batch in flight during
    // one of them does not count as retained
    val retained = (0 until 3).map { _ =>
      System.gc(); Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min
    active = false
    (math.max(peak, retained) / 1048576.0, retained / 1048576.0)
  }

  def close(): Unit = emitters.foreach(e =>
    try e.removeNotificationListener(listener) catch { case _: Exception => () })
}

object Stats {
  /** The middle value; for an even count, the mean of the two middle ones. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  /** The highest of p99.9/p99/p95/p90/p50 with at least ten samples beyond
    * it; with fewer than twenty samples, the maximum. Returns (label, value). */
  def tail(xs: Seq[Double]): (String, Double) = {
    val n = xs.size
    Seq(0.999 -> "p99.9", 0.99 -> "p99", 0.95 -> "p95", 0.9 -> "p90", 0.5 -> "p50")
      .find { case (p, _) => n * (1 - p) >= 10 - 1e-9 }
      .map { case (p, l) => l -> quantile(xs, p) }
      .getOrElse("max" -> xs.max)
  }

  def p50(xs: Seq[Long]): Double = if (xs.isEmpty) 0.0 else median(xs.map(_.toDouble))
}
