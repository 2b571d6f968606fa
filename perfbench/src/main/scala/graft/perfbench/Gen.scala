package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.SplittableRandom

/** Zipf(s) over ranks 0 until n by inverse-CDF lookup. */
final class Zipf(n: Int, s: Double) extends Serializable {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / tot }
  }
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** One generated event. `created_ms` is the generator's wall-clock stamp
  * when it made the event; `ts_ms` is event time. */
final case class Ev(id: Long, key: String, ts_ms: Long, created_ms: Long,
                    v: Double, cate: String, cond: Boolean)

/** Input shape knobs the workloads set (all draws come from the seed). */
final case class EventShape(keys: Int, zipfS: Double, oooShare: Double, oooMaxMs: Long,
                            coldShare: Double = 0.0, coldKeys: Int = 0)

/** Seeded input generation. graft sees only what these functions write:
  * parquet files and HTTP requests. */
object Gen {
  val EpochMs: Long = 1704067200000L // 2024-01-01T00:00:00Z

  def keyName(i: Int): String = f"k$i%05d"

  /** `n` events with ids from `firstId`, event times spread evenly over
    * [t0, t0 + spanMs), keys Zipf-skewed (plus a uniform cold tail), and
    * an `oooShare` of events pulled back by up to `oooMaxMs`. */
  def events(seed: Long, shape: EventShape, firstId: Long, n: Int, t0: Long, spanMs: Long,
             createdMs: Long): IndexedSeq[Ev] = {
    val r = new SplittableRandom(seed * 1000003L + firstId)
    val zipf = new Zipf(shape.keys, shape.zipfS)
    (0 until n).map { i =>
      val k =
        if (shape.coldKeys > 0 && r.nextDouble() < shape.coldShare)
          shape.keys + r.nextInt(shape.coldKeys)
        else zipf.sample(r)
      val base = t0 + spanMs * i / math.max(1, n)
      val ts = if (r.nextDouble() < shape.oooShare) base - 1 - r.nextLong(shape.oooMaxMs) else base
      Ev(firstId + i, keyName(k), ts, createdMs,
        r.nextInt(10000) / 100.0, s"c${r.nextInt(6)}", r.nextInt(4) != 0)
    }
  }

  private val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message ev {
      |  required int64 id; required binary key (UTF8); required int64 ts_ms;
      |  required int64 created_ms; required double v; required binary cate (UTF8);
      |  required boolean cond;
      |}""".stripMargin)

  /** Arrow JSON schema of the event files, for pipeline specs. */
  val eventSchemaJson: String =
    """{"fields": [
      |  {"name": "id", "type": {"name": "int", "bitWidth": 64}},
      |  {"name": "key", "type": {"name": "utf8"}},
      |  {"name": "ts_ms", "type": {"name": "int", "bitWidth": 64}},
      |  {"name": "created_ms", "type": {"name": "int", "bitWidth": 64}},
      |  {"name": "v", "type": {"name": "floatingpoint", "precision": "DOUBLE"}},
      |  {"name": "cate", "type": {"name": "utf8"}},
      |  {"name": "cond", "type": {"name": "bool"}}]}""".stripMargin

  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** Writes `evs` as one parquet file in a staging directory next to `dir`,
    * then moves it into `dir` atomically, so a file-source listing never
    * sees a partial file. */
  def writeEvents(dir: String, name: String, evs: Seq[Ev]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val stage = Paths.get(dir + "_staging")
    Files.createDirectories(stage)
    Files.createDirectories(Paths.get(dir))
    val tmp = stage.resolve(name)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(tmp.toUri))
      .withType(schema).withConf(hadoopConf).build()
    try {
      val f = new SimpleGroupFactory(schema)
      evs.foreach { e =>
        w.write(f.newGroup().append("id", e.id).append("key", e.key).append("ts_ms", e.ts_ms)
          .append("created_ms", e.created_ms).append("v", e.v).append("cate", e.cate)
          .append("cond", e.cond))
      }
    } finally w.close()
    Files.move(tmp, Paths.get(dir).resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** A document corpus with a known near-duplicate share: each near-dup
    * copies an earlier original and replaces `edits` of its words. */
  def documents(seed: Long, n: Int, words: Int, dupShare: Double, edits: Int)
      : IndexedSeq[(Long, String)] = {
    val r = new SplittableRandom(seed * 7919L + 11)
    val vocab = new Zipf(5000, 1.0)
    def word() = s"w${vocab.sample(r)}"
    val docs = new scala.collection.mutable.ArrayBuffer[(Long, Array[String])]()
    (0 until n).foreach { i =>
      val ws =
        if (docs.nonEmpty && r.nextDouble() < dupShare) {
          val src = docs(r.nextInt(docs.size))._2.clone()
          (0 until edits).foreach(_ => src(r.nextInt(src.length)) = word())
          src
        } else Array.fill(words)(word())
      docs += ((i.toLong + 1, ws))
    }
    docs.map { case (id, ws) => (id, ws.mkString(" ")) }.toIndexedSeq
  }

  /** Two name tables for the fuzzy join: `right` holds a `matchShare` of
    * one-character edits of `left` names, the rest fresh names. */
  def names(seed: Long, nLeft: Int, nRight: Int, matchShare: Double)
      : (IndexedSeq[(Long, String)], IndexedSeq[(Long, String)]) = {
    val r = new SplittableRandom(seed * 31L + 5)
    val syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "de", "an", "or", "el",
      "us", "ha", "be", "qi", "zo", "fe", "ju", "ya")
    def part(k: Int) = (0 until k).map(_ => syl(r.nextInt(syl.length))).mkString.capitalize
    def fresh() = s"${part(2 + r.nextInt(2))} ${part(3 + r.nextInt(2))}"
    val left = (0 until nLeft).map(i => (i.toLong + 1, fresh()))
    val right = (0 until nRight).map { i =>
      val name =
        if (r.nextDouble() < matchShare) {
          val s = left(r.nextInt(nLeft))._2.toCharArray
          s(r.nextInt(s.length)) = ('a' + r.nextInt(26)).toChar
          new String(s)
        } else fresh()
      (i.toLong + 1, name)
    }
    (left, right)
  }
}
