package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{SlidingWindows, StreamingDedup}
import graft.streaming.SlidingWindows.{AggSpec, Frame, RangeMs, RowsN}
import graft.operators.{Dedup, FuzzyJoin}

/** Seed-pinned randomized differential testing of the custom engines
  * (r13 VERDICT "next round" #1): after six fully-green rounds on fixed
  * fixtures, the residual correctness risk lives in the parameter space
  * the fixed specs never visit. Each family draws N random configurations
  * from a pinned base seed and asserts engine == independent oracle:
  *
  *  A. SlidingWindows (the streaming engine) vs batch SQL OVER —
  *     random agg sets over the full registry × random RANGE/ROWS frames
  *     × random tile granularities/hierarchies × random out-of-order
  *     delivery (lateness derived from the actual delivery schedule so
  *     no row is legitimately droppable; parity must then be EXACT).
  *  B. FuzzyJoin at every blocking width (1, 2, 3, auto) vs a plain-Scala
  *     brute-force Jaccard oracle — random corpora and thresholds.
  *  C. StreamingDedup vs the batch MinHash pipeline — random (k,
  *     numHashes, bands, threshold) and random arrival order; the stream
  *     must match batch as undirected pair sets when no bucket
  *     overflowed, and under a tiny cap it may only DROP pairs.
  *  D. TemporalJoins (r14 VERDICT #2): asofJoin over every
  *     direction × tolerance × exact-match draw vs a per-row brute-force
  *     scan (ts ties + null keys included); rangeJoin over random
  *     ranges/buckets vs a cross-join filter.
  *  E. Streaming sessionization (native session_window) under random
  *     gaps and delivery orders vs the batch gap definition — including
  *     the diff == gap edge (sessions merge on TOUCH: an event at
  *     exactly last-ts + gap joins the session).
  *  F. Sketches: kmv_distinct (random k, random cardinality, random
  *     partitioning) and the CMS SQL shape (random depth × width) vs
  *     independent plain-Scala md5 replays; CMS never undercounts.
  *  G. Sampling: stratifiedSample invariant under random repartitioning
  *     and equal to an independent hash31 replay; weights match rates.
  *
  * Every failure message leads with the config's seed: re-run with
  * SPARK_GRAFT_PROP_SEED=<seed> SPARK_GRAFT_PROP_ITERS=1 to replay it.
  * The reference ships the same idea as a fixed matrix smoke
  * (volga src/runtime/operators/window/window_operator_tests.rs:1006);
  * randomization covers the cells the matrix doesn't enumerate.
  */
class PropertyParitySpec extends AnyFunSuite {

  private val baseSeed: Long =
    sys.env.get("SPARK_GRAFT_PROP_SEED").map(_.toLong).getOrElse(941L)
  private val iters: Int =
    sys.env.get("SPARK_GRAFT_PROP_ITERS").map(_.toInt).getOrElse(3)

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.maxFields", "256")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.prepare(s, null) // registers the window UDAFs into SQL
    s
  }


  // =====================================================================
  // Family A: sliding-window engines vs batch OVER
  // =====================================================================

  /** One registry kind: how to build its AggSpec and its batch SQL. Slot
    * layout is fixed — numeric slots (value, big), string slot (cate),
    * big is the 0/1 `_where` condition in numeric slot 1. */
  private case class K(kind: String, needsN: Boolean = false,
                       vStr: Boolean = false, where: Boolean = false,
                       cate: Boolean = false) {
    def spec(name: String, frame: Frame, n: Int): AggSpec =
      AggSpec(name, kind, frame, if (needsN) n else 0,
        vIdx = 0, cIdx = 0, vStr = vStr, wIdx = if (where) 1 else -1)
    def sql(name: String, w: String, n: Int): String = {
      val fn = if (kind == "median") "graft_median" else kind
      val args =
        if (kind == "top" || kind == "topn_frequency")
          (if (vStr) "cate" else "value") + s", $n"
        else if (kind == "distinct_count") if (vStr) "cate" else "value"
        else if (SlidingWindows.isRatioKind(kind) ||
                 (kind.startsWith("top_n_") && kind.endsWith("_cate_where")))
          s"value, big = 1.0, cate, $n"
        else if (kind.endsWith("_cate_where")) "value, big = 1.0, cate"
        else if (kind.endsWith("_cate")) "value, cate"
        else if (kind.endsWith("_where")) "value, big = 1.0"
        else "value"
      s"$fn($args) OVER $w AS $name"
    }
  }

  private val kindPool: Seq[K] = Seq(
    K("sum"), K("count"), K("avg"), K("min"), K("max"),
    K("stddev_samp"), K("stddev_pop"), K("var_pop"), K("var_samp"),
    K("variance"),
    K("top", needsN = true), K("topn_frequency", needsN = true),
    K("topn_frequency", needsN = true, vStr = true),
    K("top1_ratio"),
    K("distinct_count"), K("distinct_count", vStr = true), K("median"),
    K("sum_where", where = true), K("avg_where", where = true),
    K("count_where", where = true), K("min_where", where = true),
    K("max_where", where = true),
    K("sum_cate", cate = true), K("count_cate", cate = true),
    K("avg_cate", cate = true), K("min_cate", cate = true),
    K("max_cate", cate = true),
    K("sum_cate_where", where = true, cate = true),
    K("avg_cate_where", where = true, cate = true),
    K("count_cate_where", where = true, cate = true),
    K("min_cate_where", where = true, cate = true),
    K("max_cate_where", where = true, cate = true),
    K("top_n_key_sum_cate_where", needsN = true, where = true, cate = true),
    K("top_n_key_count_cate_where", needsN = true, where = true, cate = true),
    K("top_n_value_count_cate_where", needsN = true, where = true, cate = true),
    K("top_n_value_min_cate_where", needsN = true, where = true, cate = true),
    K("top_n_value_max_cate_where", needsN = true, where = true, cate = true),
    K("top_n_value_avg_cate_where", needsN = true, where = true, cate = true),
    K("top_n_key_ratio_cate", needsN = true, where = true, cate = true),
    K("top_n_value_ratio_cate", needsN = true, where = true, cate = true))

  private def normRow(r: Row): Seq[Any] =
    (0 until r.length).map { i =>
      r.get(i) match {
        case null                 => null
        case d: java.lang.Double  => d.doubleValue()
        case l: java.lang.Long    => l.toDouble
        case n: java.lang.Integer => n.toDouble
        case other                => other
      }
    }

  /** Tolerance-aware row comparison: fixed 1e-6 rounding flakes when a
    * variance-family float lands on the rounding boundary (batch OVER
    * and the tiled engine associate additions differently — an ulp-level
    * difference rounds to ADJACENT millionths; found by this harness at
    * seed 555123). Rows are keyed (ts, key) — unique by construction. */
  private def assertRowsEqual(cfg: String, engine: String,
                              got: Set[Seq[Any]], want: Set[Seq[Any]]): Unit = {
    def approx(a: Any, b: Any): Boolean = (a, b) match {
      case (null, null) => true
      case (x: Double, y: Double) =>
        (x.isNaN && y.isNaN) ||
          math.abs(x - y) <= 1e-6 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
      case (x, y) => x == y
    }
    assert(got.size == want.size,
      s"[$cfg] $engine row count ${got.size} != batch ${want.size}")
    def keyed(s: Set[Seq[Any]]) = s.map(r => (r(0), r(1)) -> r).toMap
    val gm = keyed(got); val wm = keyed(want)
    assert(gm.keySet == wm.keySet,
      s"[$cfg] $engine keys diverged: missing=${(wm.keySet -- gm.keySet).take(3)} " +
        s"extra=${(gm.keySet -- wm.keySet).take(3)}")
    wm.foreach { case (k, w) =>
      val g = gm(k)
      val bad = w.indices.filterNot(i => approx(g(i), w(i)))
      assert(bad.isEmpty,
        s"[$cfg] $engine diverged at $k cols=$bad: got=${bad.map(g)} want=${bad.map(w)}")
    }
  }

  /** Random events: globally unique, strictly increasing ts (ROWS frames
    * are order-ambiguous under ts ties — a deliberate exclusion), random
    * key/value/cate, random independent 0/1 `big` condition. */
  private def genEvents(rnd: scala.util.Random)
      : Seq[(Long, String, Double, Double, String)] = {
    val n = 240 + rnd.nextInt(180)
    val numKeys = 2 + rnd.nextInt(3)
    val cates = Seq("A", "B", "C", "D").take(2 + rnd.nextInt(3))
    var ts = 1704067200000L
    (0 until n).map { _ =>
      ts += 100 + rnd.nextInt(1400)
      (ts, s"k${rnd.nextInt(numKeys)}", rnd.nextInt(40) / 4.0,
        if (rnd.nextBoolean()) 1.0 else 0.0,
        cates(rnd.nextInt(cates.length)))
    }
  }

  /** Split into random-size micro-batches, shuffled either locally
    * (bounded disorder) or globally (worst case), and compute the minimal
    * lateness that guarantees the engine may not drop ANY row: for a row
    * in batch i the watermark is max-ts(batches < i) − lateness, so
    * lateness must exceed every row's regression below that running max. */
  private def planDelivery(rnd: scala.util.Random,
                           evs: Seq[(Long, String, Double, Double, String)])
      : (Seq[Seq[(Long, String, Double, Double, String)]], Long) = {
    val size = 60 + rnd.nextInt(100)
    val batches =
      if (rnd.nextBoolean())
        evs.sortBy(_._1).grouped(size).toSeq.map(b => rnd.shuffle(b))
      else rnd.shuffle(evs).grouped(size).toSeq
    var maxPrev = Long.MinValue
    var lateness = 0L
    batches.foreach { b =>
      if (maxPrev != Long.MinValue)
        b.foreach(r => lateness = math.max(lateness, maxPrev - r._1 + 1))
      maxPrev = math.max(maxPrev, b.map(_._1).max)
    }
    (batches, lateness)
  }

  private def runWindowEngine(batches: Seq[Seq[(Long, String, Double, Double, String)]],
                              specs: Seq[AggSpec], lateness: Long,
                              gran: Long, coarse: Seq[Long]): Set[Seq[Any]] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, Double, String)]
    val df = mem.toDF().toDF("ts_ms", "key", "value", "big", "cate")
    val out = SlidingWindows.streamingMulti(df, "key", "ts_ms",
      Seq("value", "big"), Seq("cate"), specs, lateness, gran, coarse)
    val qname = s"prop_win_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(qname).trigger(Trigger.ProcessingTime(0)).start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val keys = batches.flatten.map(_._2).distinct
      mem.addData(keys.map(k =>
        (SlidingWindows.FLUSH_TS, k, 0.0, 0.0, null: String)): _*)
      q.processAllAvailable()
      mem.addData((SlidingWindows.FLUSH_TS, keys.head, 0.0, 0.0, null: String))
      q.processAllAvailable()
      spark.table(qname).collect().map(normRow).toSet
    } finally q.stop()
  }

  test("A: random window configs — streaming engine == batch OVER") {
    import spark.implicits._
    (0 until iters).foreach { i =>
      val seed = baseSeed + i
      val rnd = new scala.util.Random(seed)
      val evs = genEvents(rnd)
      val (batches, lateness) = planDelivery(rnd, evs)

      val nSpecs = 4 + rnd.nextInt(3)
      val picks = rnd.shuffle(kindPool).take(nSpecs)
      val specs = picks.zipWithIndex.map { case (k, j) =>
        val frame: Frame =
          if (rnd.nextBoolean()) RangeMs(3000L + rnd.nextInt(27) * 1000L)
          else RowsN(2 + rnd.nextInt(7))
        k.spec(s"a$j", frame, 2 + rnd.nextInt(2))
      }
      val kSpecs = picks.zip(specs)
      val gran = Seq(1000L, 2000L, 5000L, 10000L)(rnd.nextInt(4))
      val coarse = if (rnd.nextBoolean()) Seq(gran * 5, gran * 30) else Nil
      val cfg = s"seed=$seed specs=${specs.map(s => s"${s.kind}/${s.frame}").mkString(",")} " +
        s"lateness=$lateness gran=$gran coarse=$coarse batches=${batches.size}"
      info(s"[prop-A] $cfg")

      // batch OVER reference (one WINDOW clause per distinct frame)
      evs.toDF("ts_ms", "key", "value", "big", "cate")
        .createOrReplaceTempView("prop_evt")
      def wName(f: Frame): String = f match {
        case RangeMs(l) => s"wr$l"
        case RowsN(n)   => s"wn$n"
      }
      val windows = specs.map(_.frame).distinct.map {
        case f @ RangeMs(l) => s"${wName(f)} AS (PARTITION BY key ORDER BY ts_ms " +
          s"RANGE BETWEEN $l PRECEDING AND CURRENT ROW)"
        case f @ RowsN(n) => s"${wName(f)} AS (PARTITION BY key ORDER BY ts_ms " +
          s"ROWS BETWEEN $n PRECEDING AND CURRENT ROW)"
      }
      val exprs = kSpecs.map { case (k, s) =>
        k.sql(s.name, wName(s.frame), if (k.needsN) s.n else 0)
      }
      val sql = s"SELECT ts_ms, key, value, big, cate, ${exprs.mkString(", ")} " +
        s"FROM prop_evt WINDOW ${windows.mkString(", ")}"
      val want = spark.sql(sql).collect().map(normRow).toSet

      val got = runWindowEngine(batches, specs, lateness, gran, coarse)
      assertRowsEqual(cfg, "stream", got, want)
    }
  }

  // =====================================================================
  // Family B: FuzzyJoin all widths vs brute force
  // =====================================================================

  /** Independent brute-force oracle (same construction as FuzzyJoinSpec:
    * String.sliding(3) + explicit packing — shares no code with
    * FuzzyJoin.grams3). */
  private def bruteJaccard(ls: Seq[(Long, String)], rs: Seq[(Long, String)],
                           num: Int, den: Int): Set[(Long, Long)] = {
    def grams(s: String): Set[Long] =
      if (s.length < 3) Set.empty
      else s.sliding(3).map { g =>
        (g.charAt(0).toLong << 42) | (g.charAt(1).toLong << 21) | g.charAt(2).toLong
      }.toSet
    val lg = ls.map { case (i, s) => (i, grams(s)) }
    val rg = rs.map { case (i, s) => (i, grams(s)) }
    (for {
      (li, a) <- lg; (ri, b) <- rg
      if a.nonEmpty && b.nonEmpty
      inter = (a & b).size.toLong
      uni = a.size + b.size - inter
      if inter * den >= uni * num
    } yield (li, ri)).toSet
  }

  /** Random corpus with deliberate near-dup structure: token sequences
    * from a small vocabulary, plus mutated copies (char edit / token
    * drop / exact dup) so every threshold has true matches. */
  private def genCorpus(rnd: scala.util.Random, n: Int, idBase: Long)
      : Seq[(Long, String)] = {
    val vocab = Seq("alpha", "bravo", "carbon", "delta", "epsilon", "fox",
      "gamma", "hotel", "indigo", "jungle", "kilo", "lima")
    val bases = (0 until n).map { i =>
      (0 until 2 + rnd.nextInt(4))
        .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    bases.zipWithIndex.map { case (s, i) =>
      val mutated = rnd.nextInt(4) match {
        case 0 => s // verbatim
        case 1 => if (s.length > 4) s.updated(rnd.nextInt(s.length), 'q') else s
        case 2 => s.split(" ").drop(1).mkString(" ") // token drop
        case 3 => s + " " + vocab(rnd.nextInt(vocab.length))
      }
      (idBase + i, if (rnd.nextBoolean()) s else mutated)
    }
  }

  test("B: random fuzzy-join configs — every width and auto == brute force") {
    import spark.implicits._
    val thresholds = Seq((1, 3), (1, 2), (7, 25), (2, 3), (4, 5))
    (0 until iters).foreach { i =>
      val seed = baseSeed + 100 + i
      val rnd = new scala.util.Random(seed)
      val ls = genCorpus(rnd, 40 + rnd.nextInt(60), 1000L)
      val rs = genCorpus(rnd, 40 + rnd.nextInt(60), 5000L)
      val (num, den) = thresholds(rnd.nextInt(thresholds.length))
      val cfg = s"seed=$seed nl=${ls.size} nr=${rs.size} threshold=$num/$den"
      info(s"[prop-B] $cfg")
      val expect = bruteJaccard(ls, rs, num, den)
      val l = ls.toDF("lid", "lname")
      val r = rs.toDF("rid", "rname")
      Seq(0, 1, 2, 3).foreach { w =>
        val got = FuzzyJoin.jaccardJoin(l, "lid", "lname", r, "rid", "rname",
            num = num, den = den, blockWidth = w)
          .select("lid", "rid").collect()
          .map(x => (x.getLong(0), x.getLong(1))).toSet
        assert(got == expect,
          s"[$cfg] width=$w diverged: missing=${(expect -- got).take(3)} " +
            s"extra=${(got -- expect).take(3)}")
      }
    }
  }

  // =====================================================================
  // Family C: StreamingDedup vs batch MinHash
  // =====================================================================

  private def runDedupEngine(batches: Seq[Seq[(Long, String)]],
                             k: Int, numHashes: Int, bands: Int,
                             threshold: Double, maxBucket: Int)
      : Set[(Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val out = StreamingDedup.minhashStreamingPairs(df, "doc_id", "text",
      k, numHashes, bands, threshold, maxBucket)
    val qname = s"prop_dedup_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(qname).trigger(Trigger.ProcessingTime(0)).start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      spark.table(qname).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    } finally q.stop()
  }

  /** Docs with shared shingle structure: near-dups are copies of a base
    * doc with 0-2 word substitutions. */
  private def genDocs(rnd: scala.util.Random): Seq[(Long, String)] = {
    val vocab = (0 until 40).map(i => s"w$i")
    val nBase = 30 + rnd.nextInt(30)
    val bases = (0 until nBase).map { _ =>
      (0 until 10 + rnd.nextInt(10)).map(_ => vocab(rnd.nextInt(vocab.length)))
    }
    val docs = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    bases.foreach { b =>
      docs += b
      // 0-2 near-dup copies with small perturbations
      (0 until rnd.nextInt(3)).foreach { _ =>
        val c = b.toArray
        (0 until rnd.nextInt(2)).foreach { _ =>
          c(rnd.nextInt(c.length)) = vocab(rnd.nextInt(vocab.length))
        }
        docs += c.toSeq
      }
    }
    rnd.shuffle(docs.toSeq).zipWithIndex.map { case (words, i) =>
      ((i + 1).toLong, words.mkString(" "))
    }
  }

  test("C: random dedup configs — stream == batch (undirected)") {
    import spark.implicits._
    val combos = Seq((16, 4), (32, 8), (32, 4), (64, 8), (64, 16))
    (0 until iters).foreach { i =>
      val seed = baseSeed + 200 + i
      val rnd = new scala.util.Random(seed)
      val docs = genDocs(rnd)
      val (numHashes, bands) = combos(rnd.nextInt(combos.length))
      val k = 3 + rnd.nextInt(3)
      val threshold = Seq(0.6, 0.7, 0.8, 0.9)(rnd.nextInt(4))
      // cap never engages on parity runs (cap semantics get their own
      // stress below)
      val maxBucket = docs.size + 10
      val batches = rnd.shuffle(docs).grouped(20 + rnd.nextInt(40)).toSeq
      val cfg = s"seed=$seed docs=${docs.size} k=$k hashes=$numHashes " +
        s"bands=$bands t=$threshold batches=${batches.size}"
      info(s"[prop-C] $cfg")

      val fm = runDedupEngine(batches, k, numHashes, bands, threshold, maxBucket)
      assert(!fm.exists(_._1 == StreamingDedup.OverflowMarker),
        s"[$cfg] unexpected overflow at cap=$maxBucket")
      val batch = Dedup.minhashAccepted(docs.toDF("doc_id", "text"),
          "doc_id", "text", k, numHashes, bands, threshold, maxBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def undirected(s: Set[(Long, Long)]): Set[(Long, Long)] =
        s.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      assert(undirected(fm) == undirected(batch),
        s"[$cfg] stream != batch: streamOnly=${(undirected(fm) -- undirected(batch)).take(3)} " +
          s"batchOnly=${(undirected(batch) -- undirected(fm)).take(3)}")
    }
  }

  // =====================================================================
  // Family D: TemporalJoins vs brute-force per-row oracles
  // =====================================================================

  /** Random keyed event table: small key domain (collisions guaranteed),
    * deliberate ts TIES inside a key (the as-of tie-break edge), ~10%
    * null keys (asofJoin documents null-matches-null window semantics),
    * unique integer payloads so the documented largest-payload tie-break
    * is a total order the oracle can replicate. */
  private def genKeyed(rnd: scala.util.Random, n: Int, payloadBase: Int)
      : Seq[(String, Long, Long)] = {
    val keys = (0 until 2 + rnd.nextInt(3)).map(i => s"k$i")
    (0 until n).map { i =>
      val key = if (rnd.nextInt(10) == 0) null
                else keys(rnd.nextInt(keys.length))
      // coarse grid => ts collisions within and across sides
      (key, 1000L + rnd.nextInt(40) * 100L, (payloadBase + i).toLong)
    }
  }

  test("D: random as-of joins — backward/forward × tolerance × exact-match vs brute force") {
    import spark.implicits._
    (0 until iters).foreach { i =>
      val seed = baseSeed + 400 + i
      val rnd = new scala.util.Random(seed)
      val ls = genKeyed(rnd, 60 + rnd.nextInt(80), 0)
        .zipWithIndex.map { case ((k, ts, _), id) => (id.toLong, k, ts) }
      val rs = genKeyed(rnd, 40 + rnd.nextInt(80), 10000)
      val fwd = rnd.nextBoolean()
      val exact = rnd.nextBoolean()
      val tol = if (rnd.nextBoolean()) Some(200L + rnd.nextInt(12) * 100L) else None
      val cfg = s"seed=$seed nl=${ls.size} nr=${rs.size} " +
        s"dir=${if (fwd) "forward" else "backward"} exact=$exact tol=$tol"
      info(s"[prop-D] $cfg")

      val got = graft.operators.TemporalJoins.asofJoin(
          ls.toDF("lid", "key", "lts"), rs.toDF("key", "rts", "rv"),
          Seq("key"), "lts", "rts", Seq("rv"),
          toleranceMs = tol, allowExactMatch = exact,
          direction = if (fwd) "forward" else "backward")
        .select("lid", "r_rts", "r_rv").collect()
        .map(r => (r.getLong(0),
          (if (r.isNullAt(1)) null else r.getLong(1)): Any,
          (if (r.isNullAt(2)) null else r.getLong(2)): Any)).toSet

      // brute force: per left row, scan every right row (null keys match
      // null keys — the documented window-partitioning semantics)
      val want: Set[(Long, Any, Any)] = ls.map { case (lid, k, lts) =>
        val cands = rs.filter { case (rk, rts, _) =>
          rk == k && (
            if (fwd) { if (exact) rts >= lts else rts > lts }
            else     { if (exact) rts <= lts else rts < lts })
        }
        if (cands.isEmpty) (lid, null: Any, null: Any)
        else {
          val bestTs = if (fwd) cands.map(_._2).min else cands.map(_._2).max
          // documented tie-break: largest payload tuple at the match ts
          val rv = cands.filter(_._2 == bestTs).map(_._3).max
          if (tol.exists(t => math.abs(lts - bestTs) > t)) (lid, null: Any, null: Any)
          else (lid, bestTs: Any, rv: Any)
        }
      }.toSet
      assert(got == want,
        s"[$cfg] asofJoin diverged: missing=${(want -- got).take(3)} " +
          s"extra=${(got -- want).take(3)}")
    }
  }

  test("D2: random interval joins — bucketized rangeJoin == cross-join filter") {
    import spark.implicits._
    (0 until iters).foreach { i =>
      val seed = baseSeed + 500 + i
      val rnd = new scala.util.Random(seed)
      // null keys never match in rangeJoin (SQL equi-join semantics)
      val ls = genKeyed(rnd, 50 + rnd.nextInt(60), 0)
        .zipWithIndex.map { case ((k, ts, _), id) => (id.toLong, k, ts) }
      val rs = genKeyed(rnd, 50 + rnd.nextInt(60), 20000)
      val lower = -2000L + rnd.nextInt(30) * 100L
      val upper = lower + rnd.nextInt(25) * 100L // >= lower, possibly empty-ish
      val bucket = Seq(0L, 100L, 300L, 700L, 1500L)(rnd.nextInt(5))
      val cfg = s"seed=$seed nl=${ls.size} nr=${rs.size} range=[$lower,$upper] bucket=$bucket"
      info(s"[prop-D2] $cfg")

      val got = graft.operators.TemporalJoins.rangeJoin(
          ls.toDF("lid", "key", "lts"), rs.toDF("key", "rts", "rv"),
          Seq("key"), "lts", "rts", lower, upper, Seq("rv"), bucketMs = bucket)
        .select("lid", "r_rts", "r_rv").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

      val want = (for {
        (lid, lk, lts) <- ls
        (rk, rts, rv) <- rs
        if lk != null && rk == lk
        if rts >= lts + lower && rts <= lts + upper
      } yield (lid, rts, rv)).sorted
      assert(got == want,
        s"[$cfg] rangeJoin diverged: got=${got.size} want=${want.size} " +
          s"missing=${(want.toSet -- got.toSet).take(3)} extra=${(got.toSet -- want.toSet).take(3)}")
    }
  }

  // =====================================================================
  // Family E: streaming sessionization vs the batch definition
  // =====================================================================

  test("E: random session gaps and delivery orders — session_window == batch sessionization") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, count, lit, max => fmax, min => fmin, session_window, timestamp_millis}
    (0 until iters).foreach { i =>
      val seed = baseSeed + 600 + i
      val rnd = new scala.util.Random(seed)
      val nUsers = 2 + rnd.nextInt(4)
      val gapMs = 300L + rnd.nextInt(20) * 100L
      // coarse ts grid INCLUDING exact-gap spacings, so the diff == gap
      // merge-on-touch edge is exercised every draw
      val evs = (0 until 150 + rnd.nextInt(150)).map { j =>
        (s"u${rnd.nextInt(nUsers)}", j.toLong,
          10000L + rnd.nextInt(60) * (gapMs / 2))
      }
      val (batches, lateness) = {
        val size = 40 + rnd.nextInt(60)
        val bs =
          if (rnd.nextBoolean())
            evs.sortBy(_._3).grouped(size).toSeq.map(b => rnd.shuffle(b))
          else rnd.shuffle(evs).grouped(size).toSeq
        var maxPrev = Long.MinValue
        var lat = 1L
        bs.foreach { b =>
          if (maxPrev != Long.MinValue)
            b.foreach(r => lat = math.max(lat, maxPrev - r._3 + 1))
          maxPrev = math.max(maxPrev, b.map(_._3).max)
        }
        (bs, lat)
      }
      val cfg = s"seed=$seed users=$nUsers gap=$gapMs lateness=$lateness " +
        s"events=${evs.size} batches=${batches.size}"
      info(s"[prop-E] $cfg")

      val flushTs = 4102444800000L
      val got = {
        val mem = MemoryStream[(String, Long, Long)]
        val stream = mem.toDF().toDF("user_id", "event_id", "ts_ms")
          .withColumn("ts", timestamp_millis(col("ts_ms")))
          .withWatermark("ts", s"$lateness milliseconds")
        val agg = stream
          .groupBy(col("user_id"), session_window(col("ts"), s"$gapMs milliseconds"))
          .agg(count(lit(1)).as("n"),
            fmin(col("ts_ms")).as("s"), fmax(col("ts_ms")).as("e"))
          .where(col("s") < flushTs)
          .drop("session_window")
        val qname = s"prop_sess_${System.nanoTime()}"
        val q = agg.writeStream.outputMode("append").format("memory")
          .queryName(qname).trigger(Trigger.ProcessingTime(0)).start()
        try {
          batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
          val users = evs.map(_._1).distinct
          // two flush rounds: advance the watermark past every event,
          // then give the engine a batch under that watermark to emit
          (0 until 2).foreach { _ =>
            mem.addData(users.map(u => (u, -1L, flushTs)): _*)
            q.processAllAvailable()
          }
          spark.table(qname).collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
            .toSeq.sorted
        } finally q.stop()
      }

      // batch definition, session_window semantics: sessions merge on
      // TOUCH — an event at exactly (last ts + gap) still merges (session
      // end is inclusive; pinned empirically by seed 1541, where treating
      // windows as half-open split every exact-gap chain)
      val want = evs.groupBy(_._1).toSeq.flatMap { case (u, us) =>
        val ts = us.map(_._3).sorted
        val sessions = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
        var cur = scala.collection.mutable.ArrayBuffer(ts.head)
        ts.tail.foreach { t =>
          if (t - cur.last <= gapMs) cur += t
          else { sessions += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer(t) }
        }
        sessions += cur.toSeq
        sessions.map(s => (u, s.size.toLong, s.head, s.last))
      }.sorted
      assert(got == want,
        s"[$cfg] sessionization diverged: got=${got.size} want=${want.size} " +
          s"missing=${(want.toSet -- got.toSet).take(3)} extra=${(got.toSet -- want.toSet).take(3)}")
    }
  }

  // =====================================================================
  // Family F: sketches vs exact / independent replay
  // =====================================================================

  /** Plain-Scala replay of Dedup.hash60 (first 15 md5 hex chars) — shares
    * no code with the Catalyst expressions it checks. */
  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("F: random KMV configs — kmv_distinct == independent k-smallest replay across partitionings") {
    import spark.implicits._
    (0 until iters).foreach { i =>
      val seed = baseSeed + 700 + i
      val rnd = new scala.util.Random(seed)
      val k = 2 + rnd.nextInt(40)
      val nDistinct = 1 + rnd.nextInt(120)
      val vals = (0 until 200 + rnd.nextInt(300)).map(_ => s"v${rnd.nextInt(nDistinct)}")
      val parts = 1 + rnd.nextInt(7)
      val cfg = s"seed=$seed k=$k distinct<=$nDistinct rows=${vals.size} parts=$parts"
      info(s"[prop-F] $cfg")

      val got = vals.toDF("v").repartition(parts)
        .selectExpr(
          s"kmv_distinct(CAST(conv(substring(md5(v), 1, 15), 16, 10) AS BIGINT), $k) AS est")
        .collect().head.getDouble(0)

      val hashes = vals.map(v => java.lang.Long.parseLong(md5Hex(v).take(15), 16))
        .distinct.sorted
      val want =
        if (hashes.size < k) hashes.size.toDouble
        else (k - 1).toDouble * graft.functions.Sketches.HashSpan / hashes(k - 1).toDouble
      assert(math.abs(got - want) <= 1e-9 * math.max(1.0, math.abs(want)),
        s"[$cfg] kmv_distinct=$got != replay=$want")
    }
  }

  test("F2: random CMS dims — SQL sketch == independent replay; never undercounts") {
    import spark.implicits._
    (0 until iters).foreach { i =>
      val seed = baseSeed + 800 + i
      val rnd = new scala.util.Random(seed)
      val depth = 2 + rnd.nextInt(5)
      val width = Seq(8, 16, 32, 64)(rnd.nextInt(4))
      val nTok = 5 + rnd.nextInt(60)
      val toks = (0 until 300 + rnd.nextInt(500)).map(_ => s"t${rnd.nextInt(nTok)}")
      val cfg = s"seed=$seed depth=$depth width=$width tokens=${toks.size} vocab<=$nTok"
      info(s"[prop-F2] $cfg")

      toks.toDF("token").createOrReplaceTempView("prop_cms_tok")
      val got = spark.sql(s"""
        WITH tok AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
                     FROM prop_cms_tok GROUP BY token),
        rows_h AS (
          SELECT token, cnt, i,
                 CAST(conv(substring(md5(concat(CAST(i AS STRING), ':', token)), 1, 15), 16, 10) AS BIGINT) % $width AS bucket
          FROM tok CROSS JOIN (SELECT explode(sequence(0, ${depth - 1})) AS i)),
        cms AS (SELECT i, bucket, CAST(sum(cnt) AS BIGINT) AS cell
                FROM rows_h GROUP BY i, bucket),
        est AS (SELECT r.token, min(c.cell) AS est_cnt
                FROM rows_h r JOIN cms c ON r.i = c.i AND r.bucket = c.bucket
                GROUP BY r.token)
        SELECT t.token, t.cnt, e.est_cnt FROM tok t JOIN est e ON t.token = e.token""")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted

      // independent replay: same md5 grid, plain Scala
      val trueCnt = toks.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      def bucket(i: Int, t: String): Long = {
        val h = java.lang.Long.parseLong(md5Hex(s"$i:$t").take(15), 16)
        h % width
      }
      val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
      trueCnt.foreach { case (t, c) =>
        (0 until depth).foreach { i =>
          val key = (i, bucket(i, t)); cells(key) = cells.getOrElse(key, 0L) + c
        }
      }
      val want = trueCnt.toSeq.map { case (t, c) =>
        (t, c, (0 until depth).map(i => cells((i, bucket(i, t)))).min)
      }.sorted
      assert(got == want,
        s"[$cfg] CMS diverged: ${got.zip(want).filter(p => p._1 != p._2).take(3)}")
      got.foreach { case (t, c, e) =>
        assert(e >= c, s"[$cfg] CMS undercounted $t: est=$e < true=$c")
      }
    }
  }

  // =====================================================================
  // Family G: sampling determinism under random repartitioning
  // =====================================================================

  test("G: random strata/rates — stratifiedSample is partitioning-invariant and replayable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    (0 until iters).foreach { i =>
      val seed = baseSeed + 900 + i
      val rnd = new scala.util.Random(seed)
      val strata = Seq("view", "click", "purchase", "other").take(2 + rnd.nextInt(3))
      val pcts = strata.take(1 + rnd.nextInt(strata.size))
        .map(s => s -> rnd.nextInt(101)).toMap
      val defaultPct = rnd.nextInt(101)
      val rows = (0 until 400 + rnd.nextInt(400)).map { j =>
        (s"id_${rnd.nextInt(100000)}_$j", strata(rnd.nextInt(strata.size)))
      }
      val cfg = s"seed=$seed rows=${rows.size} pcts=$pcts default=$defaultPct"
      info(s"[prop-G] $cfg")

      val df = rows.toDF("id", "stratum")
      def ids(d: org.apache.spark.sql.DataFrame): Set[String] =
        graft.operators.Sampling.stratifiedSample(d, "id", "stratum", pcts, defaultPct)
          .select("id").collect().map(_.getString(0)).toSet
      val base = ids(df)
      // identical under ANY physical layout — the 100 TB retry/shuffle story
      assert(ids(df.repartition(1 + rnd.nextInt(8))) == base,
        s"[$cfg] sample changed under repartition")
      assert(ids(df.repartition(3, col("stratum"))) == base,
        s"[$cfg] sample changed under keyed repartition")
      assert(ids(df.coalesce(1)) == base, s"[$cfg] sample changed under coalesce")

      // independent replay of hash31(id) % 100 < pct
      val P31 = 2147483647L
      val want = rows.filter { case (id, st) =>
        val h = java.lang.Long.parseLong(md5Hex(id).take(8), 16) % P31
        (h % 100) < pcts.getOrElse(st, defaultPct)
      }.map(_._1).toSet
      assert(base == want,
        s"[$cfg] sample != md5 replay: missing=${(want -- base).take(3)} " +
          s"extra=${(base -- want).take(3)}")

      // inverse-probability weights agree with the drawn rates
      val w = graft.operators.Sampling
        .stratifiedSampleWeighted(df, "id", "stratum", pcts, defaultPct)
        .select("stratum", "weight").distinct().collect()
        .map(r => (r.getString(0), r.getDouble(1))).toMap
      w.foreach { case (st, weight) =>
        val pct = pcts.getOrElse(st, defaultPct)
        assert(math.abs(weight - 100.0 / pct) < 1e-12,
          s"[$cfg] weight for $st = $weight != ${100.0 / pct}")
      }
    }
  }

  test("C2: cap stress — overflow markers fire; capped pairs are a subset of uncapped") {
    import spark.implicits._
    (0 until iters).foreach { i =>
      val seed = baseSeed + 300 + i
      val rnd = new scala.util.Random(seed)
      // many exact copies of few bases => buckets overflow a tiny cap
      val base = (0 until 12).map(_ => s"t${rnd.nextInt(8)}").mkString(" ")
      val docs = rnd.shuffle((1 to 30).map(id =>
        (id.toLong, if (rnd.nextBoolean()) base else base + s" x${rnd.nextInt(3)}")))
      val maxBucket = 2 + rnd.nextInt(3)
      val batches = docs.grouped(5 + rnd.nextInt(10)).toSeq
      val cfg = s"seed=$seed cap=$maxBucket batches=${batches.size}"
      info(s"[prop-C2] $cfg")
      val capped = runDedupEngine(batches, 3, 16, 4, 0.8, maxBucket)
      val uncapped = runDedupEngine(batches, 3, 16, 4, 0.8, docs.size + 10)
      assert(capped.exists(_._1 == StreamingDedup.OverflowMarker),
        s"[$cfg] cap stress never overflowed — raise duplication")
      // the cap only turns arrivals away: it never invents a comparison,
      // and every pair it keeps is one the uncapped index also emits
      val real = capped.filterNot(_._1 == StreamingDedup.OverflowMarker)
      assert(real.subsetOf(uncapped),
        s"[$cfg] capped run emitted pairs the uncapped run did not: ${(real -- uncapped).take(3)}")
    }
  }

  // =====================================================================
  // Family H: request-path point-in-time lookups vs batch as-of oracle
  // =====================================================================

  /** Exact plain-Scala as-of oracle for one (key, atTs) draw: same frame
    * semantics as the engine (RANGE inclusive [at-len, at]; ROWS = last
    * n+1 rows at/below at) and the SAME left-to-right ts-ordered
    * accumulation order, so doubles compare EXACTLY — no tolerance hides
    * a frame-boundary bug. Empty frames (a key whose last event predates
    * a RANGE span — the soak found them on 2 of 6 seed bases) follow the
    * ENGINE convention: sum 0.0, count 0, avg/min/max NaN. */
  private def bruteAsOf(evs: Seq[(Long, String, Double, Double, String)],
                        key: String, atTs: Long,
                        specs: Seq[AggSpec]): Seq[(String, Double)] = {
    val rows = evs.filter(e => e._2 == key && e._1 <= atTs).sortBy(_._1)
    specs.map { s =>
      val frame = s.frame match {
        case RangeMs(len) => rows.dropWhile(_._1 < atTs - len)
        case RowsN(n)     => rows.takeRight(n + 1)
      }
      val vs = frame.map(_._3)
      val v = s.kind match {
        case "sum"   => vs.foldLeft(0.0)(_ + _)
        case "count" => vs.length.toDouble
        case "avg"   => if (vs.isEmpty) Double.NaN else vs.foldLeft(0.0)(_ + _) / vs.length
        case "min"   => if (vs.isEmpty) Double.NaN else vs.min
        case "max"   => if (vs.isEmpty) Double.NaN else vs.max
      }
      s.name -> v
    }
  }

  /** True when every spec's frame holds at least one row for (key, at) —
    * the HTTP leg only compares such draws: a NaN feature does not
    * round-trip the JSON endpoint losslessly (Jackson quotes
    * non-numeric numbers), while the batch-plan leg compares ALL draws
    * including empty frames. */
  private def allFramesNonEmpty(evs: Seq[(Long, String, Double, Double, String)],
                                key: String, atTs: Long,
                                specs: Seq[AggSpec]): Boolean = {
    val rows = evs.filter(e => e._2 == key && e._1 <= atTs).sortBy(_._1)
    specs.forall { s =>
      s.frame match {
        case RangeMs(len) => rows.exists(_._1 >= atTs - len)
        case RowsN(_)     => rows.nonEmpty
      }
    }
  }

  test("H: random point-in-time HTTP lookups == batch as-of oracle across random key/ts draws") {
    // the reference's request-path semantics (window_request_operator.rs:
    // every window aggregate re-evaluated AT the request's virtual point
    // against buffered rows, never stale by an emission interval): the
    // live HTTP endpoint, the batch pointInTime plan and an independent
    // brute-force oracle must agree on random key/ts draws
    import spark.implicits._
    val client = java.net.http.HttpClient.newHttpClient()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    (0 until iters).foreach { i =>
      val seed = baseSeed + 8101 + i
      val rnd = new scala.util.Random(seed)
      val evs = genEvents(rnd)
      val kinds = Seq("sum", "count", "avg", "min", "max")
      // anchor spec: a RANGE wider than the corpus span so the serving
      // buffer's horizon trim (2x max range from the newest row) can
      // never drop a row any draw's frame needs — past-point lookups
      // stay exact instead of silently evaluating a truncated buffer
      val specs = AggSpec("f_anchor", kinds(rnd.nextInt(kinds.length)),
        RangeMs(1500L * 450)) +:
        (0 until 1 + rnd.nextInt(3)).map { j =>
          AggSpec(s"f$j", kinds(rnd.nextInt(kinds.length)),
            if (rnd.nextBoolean()) RangeMs(2000L + rnd.nextInt(60000))
            else RowsN(1 + rnd.nextInt(40)))
        }
      val cfg = s"seed=$seed specs=${specs.map(s => s.kind + ":" + s.frame).mkString(",")}"
      info(s"[prop-H] $cfg")

      val buf = new graft.serving.ServingBuffer(specs)
      evs.groupBy(_._2).foreach { case (k, rows) =>
        buf.append(k, rows.sortBy(_._1).map(r => (r._1, Array(r._3, r._4), Array(r._5))))
      }
      val server = new graft.serving.RequestServer(
        new graft.serving.FeatureStore, live = Some(buf))
      val port = server.start()
      try {
        def lookup(key: String, atTs: Long): (Int, Map[String, Double], Long) = {
          val resp = client.send(
            java.net.http.HttpRequest
              .newBuilder(java.net.URI.create(s"http://localhost:$port/request"))
              .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
                s"""{"key": "$key", "ts_ms": $atTs}"""))
              .build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          if (resp.statusCode() != 200) (resp.statusCode(), Map.empty, -1L)
          else {
            val root = mapper.readTree(resp.body())
            val fo = root.get("features")
            val feats = specs.map(s => s.name -> fo.get(s.name).asDouble()).toMap
            (200, feats, root.get("ts_ms").asLong())
          }
        }
        // random draws: per atTs candidate, a handful of keys; atTs sits
        // exactly on one of the key's events or jittered < the smallest
        // RANGE so every spec's frame is provably non-empty
        val keys = evs.map(_._2).distinct
        val draws = (0 until 4).flatMap { _ =>
          val key = keys(rnd.nextInt(keys.length))
          val keyEvs = evs.filter(_._2 == key)
          val e = keyEvs(rnd.nextInt(keyEvs.length))
          val at = e._1 + (if (rnd.nextBoolean()) 0L else rnd.nextInt(500).toLong)
          (0 until 2).map { _ =>
            val k2 = keys(rnd.nextInt(keys.length))
            val ke2 = evs.filter(e2 => e2._2 == k2 && e2._1 <= at)
            (k2, at, ke2.nonEmpty)
          } :+ ((key, at, true))
        }.distinct
        for ((key, at, hasRows) <- draws
             if hasRows && allFramesNonEmpty(evs, key, at, specs)) {
          val (code, got, gotAt) = lookup(key, at)
          assert(code == 200, s"[$cfg] $key@$at -> HTTP $code")
          assert(gotAt == at, s"[$cfg] $key@$at answered at $gotAt")
          val want = bruteAsOf(evs, key, at, specs)
          for ((n, w) <- want) {
            assert(java.lang.Double.compare(got(n), w) == 0,
              s"[$cfg] $key@$at $n: http=${got(n)} brute=$w")
          }
        }
        // the batch as-of plan agrees at each drawn point (per-atTs jobs;
        // Spark's aggregation order differs, so floats get 1e-9 relative)
        val df = evs.toDF("ts_ms", "key", "value", "big", "cate")
        for ((at, group) <- draws.groupBy(_._2)) {
          val keysAt = group.filter(_._3).map(_._1).distinct
          if (keysAt.nonEmpty) {
            val res = graft.serving.RequestServing
              .pointInTime(df, "key", "ts_ms", "value", specs, at)
              .collect().map(r => r.getString(0) ->
                // count comes back LONG, the rest DOUBLE — normalize
                specs.indices.map(j => r.get(1 + j) match {
                  case n: Number => n.doubleValue()
                  case other => fail(s"non-numeric pointInTime cell: $other")
                })).toMap
            for (key <- keysAt; ((n, w), j) <- bruteAsOf(evs, key, at, specs).zipWithIndex) {
              val got = res(key)(j)
              assert(java.lang.Double.compare(got, w) == 0 ||
                  math.abs(got - w) <= 1e-9 * math.max(1.0, math.abs(w)),
                s"[$cfg] batch pointInTime $key@$at $n: spark=$got brute=$w")
            }
          }
        }
        // unknown key: the reference's empty-batch response -> 404
        val (code404, _, _) = lookup("no_such_key", evs.head._1)
        assert(code404 == 404, s"[$cfg] unknown key -> HTTP $code404")
      } finally server.stop()
    }
  }
}
