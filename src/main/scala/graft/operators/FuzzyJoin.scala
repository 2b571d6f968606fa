package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fuzzy join / record linkage: match rows of two tables whose character
  * n-gram sets have Jaccard similarity >= a rational threshold num/den.
  *
  * The scale path is EXTENDED prefix filtering (the PPJoin family's
  * lossless candidate pruning, widened to AdaptJoin's variable-length
  * prefix — SIGMOD'12 "Can we beat the prefix filtering?"), as a LADDER
  * over the blocking-key width w (= AdaptJoin's Delta + 1):
  *
  *  - w = 1: the classic prefix filter. Under a global rarest-first
  *    total order on grams, two sets with overlap >= k must share a
  *    gram within each other's rarest (n - k + 1) prefix; candidates
  *    come from an equi-join on single grams. Cheapest plan while the
  *    gram vocabulary is UNSATURATED (every join key is rare).
  *  - w = 2: two-gram keys from the (n - k + 2) prefix. Single-gram
  *    fan-out is sum_g cntL(g)*cntR(g) — quadratic in rows once the
  *    vocabulary saturates (measured at 100x: ~2.4k live digit-heavy
  *    trigrams over 1.6M names; 958 s -> 191 s after the r12 pair
  *    rebuild). Squaring the key space keeps coincidental collisions
  *    rare for another data decade.
  *  - w = 3: three-gram keys from the (n - k + 3) prefix, for the
  *    decade AFTER that — the r12 sf10 decade profile (2.9x then 12.9x
  *    per decade) shows the PAIR key space saturating next; cubing it
  *    resets the collision rate again at the price of a C(p, 3)
  *    per-record key expansion (prefix capped accordingly).
  *
  * The width AUTO-SELECTS per dataset from a gram-frequency statistics
  * pass (see [[chooseWidth]]): the single-gram join fan-out F1 =
  * sum_g dfL*dfR over the prefix-eligible (rarest-mass) grams is exact
  * from the df table, and the pair fan-out estimate derives from it
  * under a prefix-independence model as F2 ~ (F1^2 - sum (dfL*dfR)^2) /
  * (2*NL*NR). The ladder picks the narrowest width whose estimated
  * fan-out stays within a constant factor of the input size — so small
  * corpora keep the w=1 plan's low constant, saturated corpora escape
  * the quadratic, and the choice is measured, not guessed
  * (VERDICT r12 next-round #4 and #6).
  *
  * Lossless at every width, for every mixed class: a true match with
  * overlap o >= k >= w shares its w globally-smallest common grams
  * inside BOTH extended prefixes (if one of them ranked past a side's
  * n - k + w rarest, the >= k - w + 1 shared grams at-or-after it would
  * need the side's k - w post-prefix positions — contradiction), so the
  * w-gram equi-join finds it; records whose minimum overlap k is < w
  * (too few grams) or whose prefix exceeds the width's expansion cap
  * ride the all-grams fallback join against statically length-pruned
  * partners. Stop-grams shared by every record sort to the END of every
  * record's gram list and never enter a prefix. The final exact verify
  * returns EXACTLY the brute-force result (FuzzyJoinSpec pins all three
  * widths and auto mode against an independent brute-force oracle), so
  * the driver oracle stays a plain cross-join replay.
  *
  * Grams ride as packed longs (21 bits per code point — injective for
  * all of Unicode), not 3-char strings: the verify stage's per-pair
  * intersection is the hot loop and integer equality beats string
  * compare ~10x.
  *
  * Shuffle budget: one gram-df aggregate, one window rank + exchange-
  * reusing prefix-array aggregate per side, one equi-join on w-gram keys
  * (+ one on single grams for the fallback classes), one distinct on
  * candidate pairs, two id joins to re-attach gram arrays for the
  * verify; auto mode adds one vocabulary-sized statistics aggregate and
  * one record-count job up front. Nothing is ever all-pairs.
  */
object FuzzyJoin {

  /** Recent stages() calls' persisted gram aggregates, oldest first.
    * Bounded FIFO of size [[OccCacheSlots]]: a composition that builds
    * several fuzzy joins before executing the first (two operators in one
    * pipeline spec, two sessions in one JVM) keeps every in-flight plan's
    * cache alive; only the oldest beyond the cap is released (r14 ADVICE —
    * a single slot silently evicted the previous call's cache at plan-build
    * time, re-exploding both tables when the plans ran later). */
  private val OccCacheSlots = 4
  private val occCache = new java.util.ArrayDeque[DataFrame](OccCacheSlots)

  /** Session conf that forces the blocking-key width for auto-mode calls
    * (0/absent = measured auto-selection; 1..3 = forced). The pipeline
    * spec's `tuning.Fuzzy.block_width` override sets this. */
  val WidthConfKey = "graft.fuzzy.blockWidth"

  /** Distinct packed-long trigrams of a string column: each char's code
    * point (< 2^21 for any Unicode scalar) packed into 21 bits of a
    * BIGINT — injective for ALL code points, never overflows. Strings
    * shorter than 3 chars yield an EMPTY array (a bare
    * `sequence(1, len-2)` would DESCEND for len < 3 and fabricate
    * phantom grams from out-of-range substrings).
    */
  def grams3(c: Column): Column = {
    val grams = transform(sequence(lit(1), length(c) - 2),
      i => ascii(substring(c, i, lit(1))).cast("long") * lit(4398046511104L) +
           ascii(substring(c, i + lit(1), lit(1))).cast("long") * lit(2097152L) +
           ascii(substring(c, i + lit(2), lit(1))).cast("long"))
    when(length(c) >= 3, array_distinct(grams))
      .otherwise(array().cast("array<bigint>"))
  }

  /** The pipeline's intermediate frames, exposed so the bench's `[fuzzy]`
    * attribution phase can count each stage's cardinality without
    * duplicating (and silently diverging from) the operator. `pairL`/
    * `pairR` hold the blocking-KEY rows of whatever width ran. */
  private[graft] final case class Stages(
      l: DataFrame, r: DataFrame, dfs: DataFrame,
      pairL: DataFrame, pairR: DataFrame,
      candsRaw: DataFrame, cands: DataFrame, verified: DataFrame,
      width: Int)

  /** Outcome of the width-selection statistics pass. `f1` is the exact
    * single-gram join fan-out over prefix-eligible grams; `f2` the
    * pair-key fan-out estimate under prefix independence. */
  private[graft] final case class WidthStats(
      width: Int, vocab: Long, f1: Double, f2: Double, nl: Long, nr: Long)

  /** Estimated blocking fan-out per input record beyond which the
    * ladder widens the key — one bound per rung, calibrated against six
    * MEASURED corpora (the customer x supplier join on sf0.1 / ScaleUp
    * 10x / 100x, and a digit-dense synthetic at 30k / 300k; the records
    * are FUZZY_DECADE_r13.json and FUZZY_DECADE_r14.json):
    *
    *   corpus            f1/rec   f2/rec   fastest width (measured)
    *   sf0.1               119       6.3    w1  (2.4 s vs 4.3 s w2)
    *   10x                 520      13.6    w2  (decade slope 2.9x)
    *   100x               1298       8.9    w2  (191 s vs 958 s w1)
    *   dense 30k          2114     149      w2  (31 s vs 48 s w3)
    *   dense 300k        21331    1515      w3  (333 s vs 2203 s w2)
    *
    * SingleGramBound splits sf0.1 (119) from 10x (520); PairBound
    * splits dense-30k (149) from dense-300k (1515). Each bound sits
    * near the geometric middle of its measured gap, so a ~2x estimator
    * error cannot flip a known-good choice. */
  private[graft] val SingleGramBound = 256.0
  private[graft] val PairBound = 512.0

  /** Pick the blocking width from the gram-frequency distribution:
    * two small jobs (one vocabulary-sized aggregate + one record
    * count), nothing per-pair.
    *
    * F1 = sum_g dfL(g) * dfR(g) restricted to the PREFIX-ELIGIBLE
    * grams — the rarest grams covering ~(1 - t) of total occurrence
    * mass, because a record's prefix keeps its rarest (n - k + w) ~
    * (1 - t) * n grams and stop-grams never block. That is the exact
    * fan-out of a single-gram all-grams join on those grams and a
    * tight proxy for the prefix join's. The pair fan-out estimate
    * assumes prefix memberships independent within a side:
    * cX(g1, g2) ~ cX(g1) * cX(g2) / NX, so
    * F2 ~ (F1^2 - sum_g (dfL dfR)^2) / (2 NL NR).
    *
    * The single-partition cumulative window runs over the VOCABULARY
    * (bounded by the distinct-trigram universe, thousands to tens of
    * thousands), never over records.
    */
  /** Per-gram per-side document frequencies — the ONE aggregate both the
    * width statistics and the main plan's rarity order (`dfs`) derive
    * from. PERSISTED by the caller: it is vocabulary-sized (bounded by
    * the distinct-trigram universe), the stats action materializes it
    * once, and every later plan reference (the rank joins reference the
    * rarity order once per side) then reads the cache instead of
    * re-exploding both tables. */
  private[graft] def gramDfs(l: DataFrame, r: DataFrame): DataFrame =
    l.select(explode(col("__lg")).as("__g"),
        lit(1L).as("__cl"), lit(0L).as("__cr"))
      .unionAll(r.select(explode(col("__rg")).as("__g"),
        lit(0L).as("__cl"), lit(1L).as("__cr")))
      .groupBy("__g").agg(sum("__cl").as("__dfl"), sum("__cr").as("__dfr"))
      .withColumn("__tot", col("__dfl") + col("__dfr"))

  private[graft] def chooseWidth(l: DataFrame, r: DataFrame,
                                 num: Int, den: Int,
                                 occPre: DataFrame = null,
                                 countsPre: Option[(Long, Long)] = None): WidthStats = {
    val occ = Option(occPre).getOrElse(gramDfs(l, r))
    val prefixMass = math.max(0.05, 1.0 - num.toDouble / den)
    val ordered = Window.orderBy(col("__tot"), col("__g"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.orderBy(col("__tot"), col("__g"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val row = occ
      .withColumn("__cum", sum(col("__tot")).over(ordered))
      .withColumn("__all", sum(col("__tot")).over(whole))
      .where(col("__cum") <= col("__all") * prefixMass)
      .agg(count(lit(1)).as("v"),
        coalesce(sum(col("__dfl") * col("__dfr")), lit(0L)).as("f1"),
        coalesce(sum(pow(col("__dfl") * col("__dfr"), 2.0)), lit(0.0)).as("s2"))
      .head()
    // record counts only feed the estimator's denominators — callers
    // with a cheaper count (the raw tables, pre-gram) pass it in rather
    // than paying a second gram computation for an exact one
    val (nl, nr) = countsPre.getOrElse {
      val counts = l.select(lit(0).as("__s")).unionAll(r.select(lit(1).as("__s")))
        .groupBy("__s").agg(count(lit(1)).as("n"))
        .collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
      (counts.getOrElse(0, 0L), counts.getOrElse(1, 0L))
    }
    val vocab = row.getLong(0)
    val f1 = row.getAs[Number](1).doubleValue()
    val s2 = row.getDouble(2)
    val f2 =
      if (nl == 0 || nr == 0) 0.0
      else math.max(0.0, f1 * f1 - s2) / (2.0 * nl * nr)
    val perRecord = math.max(1L, nl + nr).toDouble
    val width =
      if (f1 / perRecord <= SingleGramBound) 1
      else if (f2 / perRecord <= PairBound) 2
      else 3
    WidthStats(width, vocab, f1, f2, nl, nr)
  }

  private[graft] def stages(left: DataFrame, lidCol: String, lnameCol: String,
                            right: DataFrame, ridCol: String, rnameCol: String,
                            num: Int, den: Int, blockWidth: Int = 0): Stages = {
    require(num > 0 && den > 0 && num <= den, "threshold must be in (0, 1]")
    require(blockWidth >= 0 && blockWidth <= 3, "blockWidth must be 0 (auto) or 1..3")
    val l = left.select(col(lidCol).as("__lid"), grams3(col(lnameCol)).as("__lg"))
      .where(size(col("__lg")) > 0)
    val r = right.select(col(ridCol).as("__rid"), grams3(col(rnameCol)).as("__rg"))
      .where(size(col("__rg")) > 0)

    // ONE per-side gram-frequency aggregate serves both the width
    // statistics and the main plan's global rarity order. Persisted:
    // vocabulary-sized (bounded by the distinct-trigram universe), and
    // the rank join references it once per side — without the cache each
    // reference re-explodes both tables (HOF lambdas defeat exchange
    // reuse, the measured r12 finding). Unpersisting before the returned
    // lazy frames execute would defeat the point, so the last
    // OccCacheSlots calls' caches stay alive per JVM; only older entries
    // are released. Unpersist mid-use is safe: a still-running earlier
    // join recomputes. Entries whose SparkContext has stopped are dropped
    // without unpersist (tools run several contexts per JVM — unpersist
    // against a dead context NPEs in the block manager).
    val occ = gramDfs(l, r).persist()
    occCache.synchronized {
      occCache.removeIf { df =>
        try df.sparkSession.sparkContext.isStopped
        catch { case _: Exception => true }
      }
      occCache.addLast(occ)
      while (occCache.size > OccCacheSlots) {
        val oldest = occCache.removeFirst()
        try {
          if (!oldest.sparkSession.sparkContext.isStopped)
            oldest.unpersist(blocking = false)
        } catch { case _: Exception => () }
      }
    }
    // width precedence: explicit call arg > session conf (the product
    // knob the pipeline spec's `tuning.Fuzzy.block_width` override sets —
    // skips the stats pass entirely) > measured auto-selection
    val confWidth = left.sparkSession.conf
      .getOption(WidthConfKey).map(_.toInt).getOrElse(0)
    require(confWidth >= 0 && confWidth <= 3,
      s"$WidthConfKey must be 0 (auto) or 1..3, got $confWidth")
    val width =
      if (blockWidth > 0) blockWidth
      else if (confWidth > 0) confWidth
      else chooseWidth(l, r, num, den, occ,
        Some((left.count(), right.count()))).width

    // global gram rarity over BOTH tables: the one total order every
    // prefix derives from (read from the cached aggregate)
    val dfs = occ.select(col("__g"), col("__tot").as("__df"))

    // Per-record prefix ARRAY (rarest-first, the width's n - k + w
    // rarest grams): the df join + rank window already shuffle by
    // record id; the groupBy reuses that partitioning (grouping on the
    // id plus its functional dependents), so the array costs no extra
    // exchange. Lossless witness containment: overlap o >= k >= w puts
    // the w globally-smallest shared grams inside this prefix on both
    // sides (see the header proof).
    def rankedPrefix(side: DataFrame, idc: String, gc: String): DataFrame =
      side.select(col(idc), explode(col(gc)).as("__g"), size(col(gc)).as("__n"))
        .join(dfs, "__g")
        .withColumn("__rank", row_number().over(
          Window.partitionBy(col(idc)).orderBy(col("__df"), col("__g"))))
        .withColumn("__k", ((col("__n") * num + lit(den - 1)) / den).cast("int"))
        .where(col("__rank") <= col("__n") - col("__k") + width)
    // w = 1 needs no per-record ARRAY (its "combinations" are the prefix
    // rows themselves) — skipping the collect_list + re-explode round
    // trip saves an aggregate per side on the rung whose whole point is
    // the low constant
    def prefixArr(side: DataFrame, idc: String, gc: String): DataFrame =
      rankedPrefix(side, idc, gc)
        .groupBy(col(idc), col("__n"), col("__k"))
        .agg(array_sort(collect_list(struct(col("__rank"), col("__g")))).as("__pref"))
    lazy val paL = prefixArr(l, "__lid", "__lg")
    lazy val paR = prefixArr(r, "__rid", "__rg")

    // A record rides the keyed path only when its minimum overlap k
    // admits a w-gram witness (k >= w) AND its extended prefix is short
    // enough that the C(p, w) key expansion stays cheap. The caps keep
    // the per-record expansion at ~2k rows worst case per width:
    // C(64, 2) ~ 2k, C(24, 3) ~ 2k; w = 1 is linear and needs none.
    // Both class predicates are pure functions of the record's gram
    // count n, so the FALLBACK class is selectable straight off l/r
    // WITHOUT the df-ranked lineage: since exact Jaccard needs the
    // candidate superset only, fallback records join on ALL their grams
    // (a lossless superset of the classic prefix) against the other
    // side's ALL grams — Spark does not reuse the ranked subtree across
    // plan references (the HOF lambdas defeat exchange canonicalization;
    // measured: 3 references = 3 full recomputes, 29 exchanges), so the
    // expensive dfs-join + rank-window + array aggregate must be
    // referenced EXACTLY once per side. The cost of skipping the rank
    // discipline on the fallback is bounded by the class itself: k < w
    // records have < w * den / num grams and the length filter caps
    // their partners at w * (den/num)^2 grams; oversized-prefix records
    // are long texts, the wrong tool's domain (use the minhash family)
    // — documented, not optimized.
    val maxKeyPrefix = width match {
      case 1 => Int.MaxValue
      case 2 => 64
      case _ => 24
    }
    def kOf(n: Column): Column = ((n * num + lit(den - 1)) / den).cast("int")
    def fallbackClass(n: Column): Column =
      if (width == 1) lit(false) // k >= 1 always; no expansion to cap
      else kOf(n) < width || (n - kOf(n) + width) > maxKeyPrefix

    // key rows: every w-combination inside the extended prefix, rkw =
    // the LAST combination member's rarest-first rank (feeds the
    // width-level positional filter). Expression-level expansion — no
    // extra shuffle.
    val keyCols = (1 to width).map(i => s"__g$i")
    def keyRows(pa: => DataFrame, ranked: => DataFrame, idc: String,
                nOut: String, rkOut: String): DataFrame = {
      lazy val base = pa.where(!fallbackClass(col("__n")))
      val expanded = width match {
        case 1 =>
          ranked.select(col(idc), col("__g").as("__g1"),
            col("__n").as(nOut), col("__rank").as(rkOut))
        case 2 =>
          base.select(col(idc), col("__n").as(nOut), explode(expr(
            """flatten(transform(__pref, (a, i) ->
                 transform(slice(__pref, i + 2, size(__pref) - i - 1),
                   b -> named_struct('g1', a.__g, 'g2', b.__g,
                                     'rk', b.__rank))))"""))
            .as("__p"))
            .select(col(idc), col("__p.g1").as("__g1"), col("__p.g2").as("__g2"),
              col(nOut), col("__p.rk").as(rkOut))
        case _ =>
          base.select(col(idc), col("__n").as(nOut), explode(expr(
            """flatten(transform(__pref, (a, i) ->
                 flatten(transform(slice(__pref, i + 2, size(__pref) - i - 1), (b, j) ->
                   transform(slice(__pref, i + j + 3, size(__pref) - i - j - 2),
                     c -> named_struct('g1', a.__g, 'g2', b.__g, 'g3', c.__g,
                                       'rk', c.__rank))))))"""))
            .as("__p"))
            .select(col(idc), col("__p.g1").as("__g1"), col("__p.g2").as("__g2"),
              col("__p.g3").as("__g3"), col(nOut), col("__p.rk").as(rkOut))
      }
      expanded
    }
    val pairL = keyRows(paL, rankedPrefix(l, "__lid", "__lg"), "__lid", "__ln", "__lrk")
    val pairR = keyRows(paR, rankedPrefix(r, "__rid", "__rg"), "__rid", "__rn", "__rrk")

    // all-grams rows straight off l/r (cheap lineage — scan + grams3
    // only) for the fallback joins
    def allGrams(side: DataFrame, idc: String, gc: String, nOut: String,
                 klass: Column => Column): DataFrame =
      side.select(col(idc), col(gc), size(col(gc)).as(nOut))
        .where(klass(col(nOut)))
        .select(col(idc), explode(col(gc)).as("__g"), col(nOut))

    // The fallback join's PARTNER side must not explode the whole
    // table when the fallback class is empty (at a 100x scale-up the
    // un-pruned partner explode+sort alone cost ~minutes at local[4]):
    // the length filter bounds a fallback record's partners from the
    // threshold ALONE, so the partner side prunes statically —
    //  - k < w records have n <= (w-1) * den/num grams, their partners
    //    n <= (w-1) * (den/num)^2;
    //  - oversized-prefix records have n >= minOversizedN, their
    //    partners n >= minOversizedN * num / den.
    // A partner passing the disjunction for the WRONG class dies at
    // the per-pair length filter, so the union stays lossless.
    // At t = 1 (num == den) the extended prefix is always exactly w
    // grams, so NO record is ever oversized — the search predicate
    // n - n + w > cap is constantly false and Iterator.find would spin
    // forever (through Int wraparound); same at width 1, whose cap is
    // infinite. Degrade both bounds to "never".
    val minOversizedN: Long =
      if (num == den || width == 1) Long.MaxValue
      else Iterator.from(1)
        .find(n => n - ((n * num + den - 1) / den) + width > maxKeyPrefix).get.toLong
    val sPartnerMaxN = (width - 1).toLong * den * den / (num.toLong * num)
    val oPartnerMinN =
      if (num == den || width == 1) Long.MaxValue
      else (minOversizedN * num + den - 1) / den
    def partnerClass(n: Column): Column =
      n <= sPartnerMaxN || n >= oPartnerMinN

    // Lossless cuts AT the candidate joins, from the PPJoin family (the
    // spec pins the output against brute force):
    //  - length bound: J >= t forces min(|x|,|y|) >= t * max(|x|,|y|);
    //  - positional filter (keyed path): grams shared from the ranks of
    //    the w witnesses onward can witness an overlap of at most
    //    min(|x|-rx, |y|-ry) + w (the w witness grams plus the shorter
    //    remaining suffix — every other shared gram sorts after the
    //    witness set in BOTH records, the global order being one),
    //    which must reach the minimum overlap
    //    ceil(t/(1+t) * (|x|+|y|)). A true match's smallest witness
    //    set always passes.
    def lengthOk = greatest(col("__ln"), col("__rn")) * num <=
      least(col("__ln"), col("__rn")) * den
    val candsPair = pairL.join(pairR, keyCols)
      .where(lengthOk)
      .where((least(col("__ln") - col("__lrk"), col("__rn") - col("__rrk")) + width) *
        (num + den) >= (col("__ln") + col("__rn")) * num)
      .select(col("__lid"), col("__rid"))
    val candsSmall = allGrams(l, "__lid", "__lg", "__ln", fallbackClass)
      .join(allGrams(r, "__rid", "__rg", "__rn", partnerClass), "__g")
      .unionAll(
        allGrams(l, "__lid", "__lg", "__ln", partnerClass)
          .join(allGrams(r, "__rid", "__rg", "__rn", fallbackClass), "__g"))
      .where(lengthOk)
      .select(col("__lid"), col("__rid"))
    val candsRaw = candsPair.unionAll(candsSmall)
    val cands = candsRaw.distinct()

    // exact verify: re-attach gram arrays, one intersection per
    // candidate. Plain equi-joins on the ids: AQE broadcasts a side from
    // its MEASURED size (GraftSession's 8 MB adaptive threshold) — a
    // hardcoded broadcast() would OOM the two-large-tables case this
    // operator exists for.
    val verified = cands.join(l, "__lid").join(r, "__rid")
      .withColumn("__inter", size(array_intersect(col("__lg"), col("__rg"))).cast("long"))
      .withColumn("__uni",
        (size(col("__lg")) + size(col("__rg"))).cast("long") - col("__inter"))
      .where(col("__inter") * den >= col("__uni") * num)
    Stages(l, r, dfs, pairL, pairR, candsRaw, cands, verified, width)
  }

  /** `(lid, rid, inter, uni)` for every cross-table pair with
    * J >= num/den (exact rational compare). Rows whose names yield
    * fewer than one gram are dropped. `blockWidth` 0 auto-selects the
    * blocking-key width from the gram-frequency statistics (the ladder);
    * 1..3 forces a width (the spec uses this to pin each rung).
    */
  def jaccardJoin(left: DataFrame, lidCol: String, lnameCol: String,
                  right: DataFrame, ridCol: String, rnameCol: String,
                  num: Int = 1, den: Int = 3, blockWidth: Int = 0): DataFrame = {
    val st = stages(left, lidCol, lnameCol, right, ridCol, rnameCol, num, den,
      blockWidth)
    st.verified.select(col("__lid").as(lidCol), col("__rid").as(ridCol),
      col("__inter").as("inter"), col("__uni").as("uni"))
  }
}
