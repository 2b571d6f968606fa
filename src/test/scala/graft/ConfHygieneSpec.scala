package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Session-conf hygiene for the conf-mutating streaming catalog entries
  * (r13 VERDICT #7 / ADVICE): every entry that sets the state-store
  * provider, the RocksDB auxiliary knobs, or shuffle partitions must
  * leave the session conf EXACTLY as it found it — set stays set, unset
  * stays unset — so a later entry (or user query) in the same session
  * never silently runs on a different provider than it documents.
  */
class ConfHygieneSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private def haveData = new java.io.File(dir).isDirectory

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.maxFields", "256")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The conf-mutating streaming entries: the dedup entry (partitions +
    * env provider knob), the stream-stream join (sets the provider
    * explicitly either way), and the bounded window run (StreamVerify
    * sizes the state partitions). */
  private val entries = Seq(
    "q_dedup_minhash_streaming",
    "q_window_streaming",
    "q_join_stream_stream")

  test("streaming catalog entries leave the session conf untouched") {
    assume(haveData)
    val qs = SparkEntry.queries
    // warm-up: GraftSession.prepare sets one-time session confs
    // (parquet nanosAsLong) and Spark materializes the DEFAULT provider
    // conf into the session at first streaming-query start — both are
    // first-use effects, not entry leaks; snapshot after they settle
    qs(entries.head)(spark, dir).collect()
    entries.foreach { name =>
      val before = spark.conf.getAll
      qs(name)(spark, dir).collect()
      val after = spark.conf.getAll
      val added = after.keySet -- before.keySet
      val removed = before.keySet -- after.keySet
      val changed = (before.keySet & after.keySet)
        .filter(k => before(k) != after(k))
      assert(added.isEmpty && removed.isEmpty && changed.isEmpty,
        s"$name leaked session conf: added=${added.map(k => s"$k=${after(k)}")} " +
          s"removed=$removed " +
          s"changed=${changed.map(k => s"$k: ${before(k)} -> ${after(k)}")}")
    }
  }
}
