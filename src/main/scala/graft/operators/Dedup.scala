package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.concurrent.Await
import scala.concurrent.duration.{DurationInt, FiniteDuration}

/** Document deduplication operators for large-scale training-data pipelines.
  *
  * All variants are pure DataFrame compositions (codegen'd built-ins, no
  * driver-side loops) built around one shuffle pattern: candidate
  * generation by bucket key, bucket-local pair join, then an anti-join to
  * drop losers. At 100 TB the bucket join is the scaling knob — AQE
  * skew-join handles hot buckets, and every hash is computed from fixed
  * seeds so results are reproducible across runs/clusters.
  *
  * Signature computation is the linear-cost hot path, so it runs in
  * generated code: a MinHash signature is one generated shingles-x-hashes
  * loop per row ([[graft.functions.ArrayMath.minhashSig]]), and SimHash
  * tokens are exploded ONCE and folded as N independent codegen'd
  * aggregate columns in a single hash-aggregate pass — not as per-row
  * interpreted higher-order array expressions.
  *
  * Hashes are engine-portable (md5-prefix arithmetic) so the full LSH
  * pipelines are replayable bit-for-bit in DuckDB — see
  * [[graft.operators.DedupOracles]] for the generated oracle SQL.
  *
  * Dedup policy everywhere: a document is dropped iff some *smaller id*
  * document is near-identical to it ("keep first", deterministic).
  */
object Dedup {

  val P31 = 2147483647L // 2^31 - 1, Mersenne prime

  /** Engine-portable 31-bit string hash: first 8 hex chars of md5 parsed
    * as an integer, mod 2^31-1. DuckDB computes the identical value as
    * `('0x'||substr(md5(s),1,8))::BIGINT % 2147483647`.
    */
  def hash31(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long") % P31

  /** Engine-portable 60-bit string hash (first 15 hex chars of md5). */
  def hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Fixed linear-congruential MinHash coefficients (a_i, b_i), seed 42 —
    * shared with the DuckDB oracle generator so both engines compute
    * identical signatures: h_i(x) = (a_i*x + b_i) mod (2^31-1).
    */
  def minhashCoeffs(n: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(n)((rnd.nextInt(Int.MaxValue - 1).toLong + 1,
                 rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Fixed random hyperplanes with integer-quantized weights
    * (round(u*10000), u uniform in [-1,1)) so sign decisions are exact
    * integer arithmetic — identical in every engine.
    */
  def planeCoeffs(planes: Int, dim: Int, seed: Long): Seq[Seq[Long]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(planes)(Seq.fill(dim)(math.round((rnd.nextDouble() * 2 - 1) * 10000)))
  }

  /** Exact dedup on arbitrary key columns: keeps the min-id row per key.
    * Single hash-shuffle on the key; map-side combine via min().
    */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val keep = df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Paragraph/block-level exact dedup (the Dolma/RefinedWeb paragraph
    * pass): corpora repeat BLOCKS (boilerplate headers, license
    * paragraphs, navigation chrome) across otherwise-distinct documents,
    * so dedup below document granularity removes what doc-level exact /
    * near-dup passes cannot see. Text splits into fixed `blockWords`-word
    * blocks (this corpus has no paragraph breaks; with them, split on the
    * break instead), each block hashes once, and the corpus-wide first
    * occurrence (lowest (id, position)) wins. Returns one row per doc —
    * NULL text normalizes to the empty string (one empty block), so no
    * doc silently vanishes from the report: `n_blocks`, `n_kept`
    * (blocks this doc contributed first).
    *
    * Plan: one explode at scan parallelism, ONE hash shuffle on the block
    * hash (tiny groups — the duplicate count per block), one partial-agg
    * roll-up back to the doc. No joins, no doc x doc comparisons; at
    * 100 TB the cost is the explode width times the scan, the same shape
    * as the shingle passes above.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     blockWords: Int = 16): DataFrame = {
    val blk = df
      .select(col(idCol),
        split(coalesce(col(textCol), lit("")), " ").as("__w"))
      .select(col(idCol), col("__w"),
        expr(s"explode(sequence(0, CAST(ceil(size(__w) / $blockWords.0) AS INT) - 1))")
          .as("__pos"))
      .select(col(idCol), col("__pos"),
        expr(s"md5(concat_ws(' ', slice(__w, __pos * $blockWords + 1, $blockWords)))")
          .as("__h"))
    val ranked = blk.withColumn("__rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("__h")).orderBy(col(idCol), col("__pos"))))
    ranked.groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_blocks"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).cast("long").as("n_kept"))
  }

  /** Streaming exact dedup for ingest pipelines: keeps the FIRST arrival
    * per key, with state bounded by the watermark horizon (duplicates
    * separated by more than the watermark delay pass through — the
    * documented streaming-dedup contract). The batch [[exact]] keeps the
    * min id instead; for (ts, seq)-ordered streams the two agree.
    * `df` must carry `withWatermark` on its event-time column.
    */
  def exactStreaming(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** The signature passes below do heavy per-row work (shingle explode +
    * one hash per shingle + a wide aggregate) and inherit the scan's split
    * count. At 100 TB a table arrives in thousands of splits and this is a
    * no-op; locally a single small parquet file would otherwise pin the
    * whole linear pass to one core.
    */
  private[graft] def spread(df: DataFrame, workFactor: Int = 1): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val plan = df.queryExecution.optimizedPlan
    // Decide from plan METADATA only: the previous df.rdd.getNumPartitions
    // probe forced physical planning (and, under AQE, eager materialization
    // of any upstream shuffle stages — double execution on non-scan inputs).
    // A plan with a shuffle-introducing operator is already split by
    // spark.sql.shuffle.partitions; only a narrow chain over under-split
    // file scans needs the rebalance.
    import org.apache.spark.sql.catalyst.plans.{logical => lp}
    val hasShuffleUpstream = plan.exists {
      case _: lp.Aggregate | _: lp.Join | _: lp.Window | _: lp.Sort | _: lp.Distinct |
           _: lp.RepartitionOperation | _: lp.GlobalLimit => true
      case _ => false
    }
    if (hasShuffleUpstream) df
    else {
      val bytesPerSplit = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
      // (bytes, estimated splits) per file scan; non-file relations count as
      // already-split (LocalRelation / memory inputs parallelize on their own)
      val scans = plan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              val bytes = fs.location.sizeInBytes
              // parquet is splittable: splits ~ ceil(bytes / maxPartitionBytes)
              (bytes, math.max(1L, (bytes + bytesPerSplit - 1) / bytesPerSplit))
            case _ => (0L, target.toLong)
          }
      }
      // Rebalance only a known under-split file scan that is big enough for
      // the single-core linear pass to dominate — below the floor the
      // repartition's shuffle + AQE round cost more than they recover
      // (measured ~0.5 s per query on sub-MB inputs).
      // the floor scales down by the caller's per-byte work multiplier: a
      // shingle-exploding pass does ~workFactor x the per-byte work of a
      // plain token pass, so much smaller scans still win from the spread
      // (measured: 594 KB sf0.1 documents — minhash single-core 8-10 s vs
      // ~4.9 s spread, while simhash's lighter pass LOSES ~0.5 s to it)
      if (scans.nonEmpty && scans.map(_._1).sum >= SpreadMinBytes / math.max(1, workFactor) &&
          scans.map(_._2).sum < target) df.repartition(target)
      else df
    }
  }

  /** One row per (doc, k-char shingle position), hashed to 31 bits — the
    * single linear pass every text-dedup variant builds on. Shingles are
    * NOT deduplicated here: per-row `array_distinct` over a ~|text|-sized
    * string array is quadratic in the text length, while every consumer is
    * already duplicate-insensitive (MinHash `min()` folds duplicates;
    * Jaccard runs a distributed `.distinct()` over the hashed rows).
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    spread(df.select(col(idCol).as("__id"), col(textCol).as("__t")), workFactor = 8)
      .select(col("__id"),
        explode(transform(
          sequence(lit(1), greatest(length(col("__t")) - (k - 1), lit(1))),
          i => col("__t").substr(i, lit(k)))).as("__s"))
      .select(col("__id"), hash31(col("__s")).as("__x"))

  /** The whole MinHash signature of one row's text as ONE codegen'd
    * column (array of `numHashes` longs): same shingle positions
    * (`sequence(1, greatest(len-k+1, 1))` — short texts hash their whole
    * tail), same md5-prefix shingle hash (incl. the mod-P fold), same LCG
    * mins as the oracle's explode+aggregate SQL ([[DedupOracles]]) —
    * [[graft.streaming.StreamingDedup]]'s spec pins the bit-equality. The mins come from one generated
    * shingles-x-hashes loop ([[graft.functions.ArrayMath.minhashSig]]).
    */
  def signatureCol(textCol: String, k: Int, numHashes: Int): Column = {
    val sh = expr(s"transform(sequence(1, greatest(length($textCol) - ${k - 1}, 1)), " +
      s"i -> CAST(conv(substring(md5(substring($textCol, i, $k)), 1, 8), 16, 10) AS BIGINT) % $P31)")
    val coeffs = minhashCoeffs(numHashes)
    graft.functions.ArrayMath.minhashSig(sh, coeffs.map(_._1), coeffs.map(_._2), P31)
  }

  /** `(__id, __sig)` signatures via the per-row kernel, shuffled once on
    * the id so every downstream branch (band keys, both re-attach joins)
    * reuses ONE materialized exchange instead of recomputing the narrow
    * kernel per branch. Shuffle payload: one 1 KB signature per doc,
    * versus one row PER SHINGLE for an explode+aggregate pass (~10-20x
    * more bytes for typical documents) — the signature itself computes in
    * the generated loop at scan parallelism, zero pre-shuffle.
    */
  private def minhashSigs(df: DataFrame, idCol: String, textCol: String,
                          k: Int, numHashes: Int): DataFrame =
    spread(df.select(col(idCol).as("__id"), col(textCol).as("__t")), workFactor = 8)
      .where(col("__t").isNotNull)
      .select(col("__id"), signatureCol("__t", k, numHashes).as("__sig"))
      .repartition(col("__id"))

  /** (id, band, bandKey) rows: the signature array sliced into `bands`
    * keys, each the comma-join of its rowsPerBand values (engine-portable
    * join key).
    */
  private def bandRows(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rpb = numHashes / bands
    sig.select(col("__id"), explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          concat_ws(",", (0 until rpb).map(r =>
            element_at(col("__sig"), b * rpb + r + 1).cast("string")): _*).as("bk"))
      }: _*)).as("__e"))
      .select(col("__id"), col("__e.band").as("__band"), col("__e.bk").as("__bk"))
  }

  /** Default hot-bucket membership cap for all LSH variants. */
  val DefaultMaxBucket = 10000

  /** Scans below this size skip [[spread]]'s rebalance: the per-row linear
    * pass over so little data finishes faster single-core than the
    * repartition's extra shuffle + AQE round. Callers with a heavier
    * per-byte pass lower the effective floor via spread's `workFactor`
    * (shingle explosion emits ~one row per character, ~8x a token pass).
    */
  val SpreadMinBytes: Long = 4L << 20

  /** Hot-bucket guard: the bucket-local pair join is O(c²) in a bucket's
    * membership c, and web-scale corpora have boilerplate-driven buckets
    * with c in the millions — AQE skew-join splits the shuffle but not the
    * pair count. Rows in buckets with more than `cap` members are excluded
    * from candidate generation (production dedup semantics: a bucket that
    * hot is boilerplate, not near-duplication signal). The drop count is
    * recorded as an `observe` metric (`rows_dropped`, `max_bucket`) so runs
    * can alert on it without a second pass over the data.
    *
    * The membership count reuses the hash shuffle the pair join needs
    * anyway (window count over the bucket key), so the guard adds no extra
    * shuffle of the big side.
    */
  def capBuckets(rows: DataFrame, keys: Seq[String], cap: Int,
                 label: String): DataFrame = {
    if (cap <= 0) rows
    else {
      val w = Window.partitionBy(keys.map(col): _*)
      rows.withColumn("__bc", count(lit(1)).over(w))
        .observe(s"hot_buckets_$label",
          sum(when(col("__bc") > cap, 1L).otherwise(0L)).as("rows_dropped"),
          max(col("__bc")).as("max_bucket"))
        .where(col("__bc") <= cap).drop("__bc")
    }
  }

  /** Raw (pre-distinct) candidate pairs (lid < rid) sharing at least one
    * band key — exposed separately so the bench's stage attribution can
    * count the bucket join's fan-out before the distinct collapses it.
    * Only ids travel through the join — signatures re-attach afterwards.
    */
  private[graft] def candidatePairsRaw(banded: DataFrame, maxBucket: Int,
                                       label: String): DataFrame = {
    val capped = capBuckets(banded, Seq("__band", "__bk"), maxBucket, label)
    val l = capped.select(col("__band"), col("__bk"), col("__id").as("__lid"))
    val r = capped.select(col("__band"), col("__bk"), col("__id").as("__rid"))
    l.join(r, Seq("__band", "__bk")).where(col("__lid") < col("__rid"))
      .select("__lid", "__rid")
  }

  /** Distinct candidate pairs (lid < rid) sharing at least one band key. */
  private def candidatePairs(banded: DataFrame, maxBucket: Int,
                             label: String): DataFrame = {
    candidatePairsRaw(banded, maxBucket, label).distinct()
  }

  /** MinHash + LSH near-dup removal.
    * Pipeline: explode shingles -> one hash-agg pass for the signature ->
    * band buckets -> bucket-local pair join (ids only) -> re-attach
    * signatures -> estimated-Jaccard filter -> drop larger ids.
    *
    * @param threshold fraction of equal signature positions at or above
    *                  which the larger id is dropped.
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 k: Int = 5, numHashes: Int = 128, bands: Int = 16,
                 threshold: Double = 0.8,
                 maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val losers = minhashAccepted(df, idCol, textCol, k, numHashes, bands,
      threshold, maxBucket)
      .select(col("__rid").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Intermediate frames of the MinHash pipeline, exposed so a harness
    * can count the REAL stages (perfbench's curation leg counts `cands`),
    * not a drift-prone copy. */
  private[graft] final case class MinhashStages(
      sig: DataFrame, banded: DataFrame,
      candsRaw: DataFrame, cands: DataFrame, accepted: DataFrame)

  private[graft] def minhashStages(df: DataFrame, idCol: String, textCol: String,
                                   k: Int = 5, numHashes: Int = 128, bands: Int = 16,
                                   threshold: Double = 0.8,
                                   maxBucket: Int = DefaultMaxBucket): MinhashStages = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val sig = minhashSigs(df, idCol, textCol, k, numHashes)
    val banded = bandRows(sig, numHashes, bands)
    val candsRaw = candidatePairsRaw(banded, maxBucket, "minhash")
    val cands = candsRaw.distinct()
    val pairs = cands
      .join(sig.select(col("__id").as("__lid"), col("__sig").as("__lsig")), "__lid")
      .join(sig.select(col("__id").as("__rid"), col("__sig").as("__rsig")), "__rid")
    val eq = aggregate(
      zip_with(col("__lsig"), col("__rsig"), (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    val accepted = pairs.where(eq.cast("double") / numHashes >= threshold)
      .select("__lid", "__rid")
    MinhashStages(sig, banded, candsRaw, cands, accepted)
  }

  /** The accepted MinHash near-dup PAIRS `(__lid, __rid)`, `lid < rid`
    * (the edge list [[minhashLsh]] reduces to an anti-join, and the input
    * to [[connectedComponents]] for canonical cluster assignment). */
  def minhashAccepted(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 5, numHashes: Int = 128, bands: Int = 16,
                      threshold: Double = 0.8,
                      maxBucket: Int = DefaultMaxBucket): DataFrame =
    minhashStages(df, idCol, textCol, k, numHashes, bands, threshold, maxBucket)
      .accepted

  /** Connected components over an undirected edge list: every node gets
    * `component` = the smallest node id reachable from it (the canonical
    * representative), turning pairwise near-dup edges into CLUSTERS —
    * pairwise drop-the-larger-id misfiles transitive chains (a~b, b~c but
    * a!~c leaves c keyed to nobody), and training-data curation wants one
    * canonical doc per cluster plus cluster sizes.
    *
    * Algorithm: min-label propagation — each round every node takes the
    * min of its own and its neighbors' labels (one hash shuffle per
    * round), converging in graph-DIAMETER rounds. Chosen over
    * large/small-star because near-dup graphs have tiny diameters
    * (clusters are near-cliques from the band join), so 2-4 rounds settle
    * it at any corpus size; each round is one `groupBy(id).min` — the
    * same shuffle shape as a keyed aggregation. Convergence is detected
    * by the (monotonically non-increasing) label-sum fixpoint — one
    * scalar action per round. Each round's result is `localCheckpoint`ed:
    * iterative self-referencing lineage otherwise doubles the plan every
    * round (exponential planning cost long before any data cost); on a
    * production cluster with flaky executors swap in a reliable
    * `checkpoint` directory.
    *
    * OWNERSHIP: the returned labels frame is backed by a `localCheckpoint`
    * whose blocks stay pinned for the session's lifetime — intermediate
    * rounds and the edge list are freed here, but the final snapshot
    * cannot be (the caller still has to consume it). Call
    * [[freeComponents]] on the returned frame once it has been consumed,
    * or the per-call snapshot accumulates in long-lived sessions.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 20): DataFrame = {
    val sym = edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
    val und = sym.union(sym.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint(true)
    var labels = und.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("c")).localCheckpoint(true)
    // label sums decrease strictly until the fixpoint (decimal: id sums
    // can pass Long range, and ANSI mode would throw on overflow; an
    // empty edge list sums to null -> ZERO, converging immediately)
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val d = df.agg(sum(col("c").cast("decimal(38,0)"))).collect()(0).getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d
    }
    // free a superseded localCheckpoint's pinned blocks (Dataset.unpersist
    // doesn't reach the checkpoint RDD inside the LogicalRDD leaf) — else
    // every round pins a full label snapshot for the method's lifetime
    def freeCheckpoint(df: DataFrame): Unit = freeComponents(df)
    var prev = labelSum(labels)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val fromNeighbors = und.join(labels, und("v") === labels("id"))
        .select(und("u").as("id"), labels("c"))
      // the convergence sum rides the checkpoint's own materialization
      // job via observe() (r20, guide §1.2: the old shape ran a SECOND
      // full pass over the just-checkpointed labels per round just to
      // sum them — one extra action x diameter rounds, a real cost when
      // labels are every vertex). The metrics arrive on the async listener
      // bus a beat after the eager checkpoint returns; if an engine version
      // ever stopped reporting them from the checkpoint action, or the bus
      // went silent, fall back to the explicit pass after a bounded wait
      // instead of hanging — same value either way.
      val obs = org.apache.spark.sql.Observation(s"cc_labelsum_$iter")
      val next = labels.unionByName(fromNeighbors)
        .groupBy("id").agg(min(col("c")).as("c"))
        .observe(obs, sum(col("c").cast("decimal(38,0)")).as("s"))
        .localCheckpoint(true)
      val cur = awaitObserved(obs, 10.seconds).get("s") match {
        case Some(d: java.math.BigDecimal) => d
        case Some(null) => java.math.BigDecimal.ZERO
        case None => labelSum(next)
        case Some(other) => new java.math.BigDecimal(other.toString)
      }
      freeCheckpoint(labels)
      labels = next
      converged = cur.compareTo(prev) == 0
      prev = cur
      iter += 1
    }
    freeCheckpoint(und)
    labels
  }

  /** The metrics `obs` reports, or empty if they have not arrived within
    * `timeout`. Waits on the observation's own future on the calling
    * thread, so no thread stays parked if they never arrive. */
  private[graft] def awaitObserved(obs: org.apache.spark.sql.Observation,
                                       timeout: FiniteDuration): Map[String, Any] =
    try {
      val row = Await.result(obs.future, timeout)
      if (row == null || row.schema == null) Map.empty
      else row.getValuesMap[Any](row.schema.fieldNames.toSeq)
    } catch { case _: java.util.concurrent.TimeoutException => Map.empty }

  /** Free the pinned `localCheckpoint` blocks behind a frame returned by
    * [[connectedComponents]]. Safe to call once the frame (and anything
    * derived from it) has been fully consumed; using the frame afterwards
    * recomputes nothing — the blocks are gone, the job fails. */
  def freeComponents(labels: DataFrame): Unit =
    labels.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** SimHash near-dup removal over a 60-bit fingerprint: per bit, token
    * occurrences vote +1/-1 by their hash bit (one codegen'd sum() per
    * bit in a single aggregate pass); fingerprint bit set iff votes > 0.
    * Candidates share one of four 15-bit bands (pigeonhole: hamming <= 3
    * over 4 bands guarantees a shared band); verified by Hamming distance.
    */
  def simhashDedup(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val bits = 60; val bandBits = 15; val nBands = 4
    val tok = spread(df.select(col(idCol).as("__id"), col(textCol).as("__txt")))
      .select(col("__id"),
        explode(regexp_extract_all(col("__txt"), lit("\\S+"), lit(0))).as("__t"))
      .select(col("__id"), hash60(col("__t")).as("__h"))
    val voteAggs = (0 until bits).map(b =>
      sum(when(call_function("shiftright", col("__h"), lit(b))
            .bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"v$b"))
    val votes = tok.groupBy("__id").agg(voteAggs.head, voteAggs.tail: _*)
    // CASE WHEN null > 0 falls through to 0, so token-less docs get fp 0.
    val fpCol = (0 until bits).map(b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    val fps = df.select(col(idCol).as("__id")).join(votes, Seq("__id"), "left")
      .select(col("__id"), fpCol.as("__fp"))
    val banded = fps.select(col("__id"), col("__fp"),
        explode(array((0 until nBands).map(i =>
          struct(lit(i).as("band"),
            call_function("shiftright", col("__fp"), lit(i * bandBits))
              .bitwiseAND(lit((1L << bandBits) - 1)).as("bk"))): _*)).as("__e"))
      .select(col("__id"), col("__fp"), col("__e.band").as("__band"), col("__e.bk").as("__bk"))
    val capped = capBuckets(banded, Seq("__band", "__bk"), maxBucket, "simhash")
    val l = capped.select(col("__band"), col("__bk"), col("__id").as("__lid"), col("__fp").as("__lfp"))
    val r = capped.select(col("__band"), col("__bk"), col("__id").as("__rid"), col("__fp").as("__rfp"))
    val losers = l.join(r, Seq("__band", "__bk")).where(col("__lid") < col("__rid"))
      .where(bit_count(col("__lfp").bitwiseXOR(col("__rfp"))) <= maxHamming)
      .select(col("__rid").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact n-gram-Jaccard near-dup removal, LSH-pruned in THREE stages:
    * MinHash bands propose candidates; the signature (already computed,
    * 32 longs/doc) screens them by estimated Jaccard at `threshold -
    * sigMargin`; exact Jaccard over the hashed shingle sets verifies the
    * survivors. The middle screen matters on real corpora: shared
    * vocabulary + boilerplate makes band buckets collide far below the
    * threshold (a 10x dup-dense probe produced 10M band pairs of which
    * <5% survived the screen), and the per-pair set attachment — each
    * document's set aggregated ONCE in its own ObjectHashAggregate,
    * joined SHUFFLE_HASH so the wide pair+set rows stream unsorted — is
    * the expensive stage, so it must see only near-threshold pairs.
    *
    * `sigMargin` (estimate slack) trades a deterministic, oracle-replayed
    * screen bound for verify cost: with 32 hashes the estimator's sigma
    * at j=0.8 is ~0.07, so the default 0.25 keeps every pair within
    * 3.5 sigma of the threshold.
    */
  def ngramJaccardDedup(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 5, threshold: Double = 0.8,
                        numHashes: Int = 32, bands: Int = 8,
                        maxBucket: Int = DefaultMaxBucket,
                        sigMargin: Double = 0.25): DataFrame = {
    // One per-row pass computes BOTH the signature (the generated
    // shingles-x-hashes loop — min over the multiset equals min over the
    // distinct set, so no dedup needed first) and the exact distinct gram
    // set for the verify stage; the repartition materializes one exchange
    // that the band keys, both signature re-attaches AND both set
    // re-attaches all reuse. Replaces explode -> distinct -> groupBy-agg
    // + collect_set (two wide shuffles of per-gram rows) with one shuffle
    // of (id, sig, set) rows.
    val grams = expr(
      s"transform(sequence(1, greatest(length(__t) - ${k - 1}, 1)), " +
        s"i -> CAST(conv(substring(md5(substring(__t, i, $k)), 1, 8), 16, 10) AS BIGINT) % $P31)")
    val coeffs = minhashCoeffs(numHashes)
    val base = spread(df.select(col(idCol).as("__id"), col(textCol).as("__t")),
        workFactor = 8)
      .where(col("__t").isNotNull)
      .withColumn("__grams", grams)
      .select(col("__id"),
        graft.functions.ArrayMath.minhashSig(col("__grams"),
          coeffs.map(_._1), coeffs.map(_._2), P31).as("__sig"),
        array_distinct(col("__grams")).as("__set"))
      .repartition(col("__id"))
    val sig = base.select("__id", "__sig")
    val sets = base.select("__id", "__set")
    val eq = aggregate(
      zip_with(col("__lsig"), col("__rsig"), (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    val screened = candidatePairs(bandRows(sig, numHashes, bands), maxBucket, "ngram")
      .join(sig.select(col("__id").as("__lid"), col("__sig").as("__lsig")), "__lid")
      .join(sig.select(col("__id").as("__rid"), col("__sig").as("__rsig")), "__rid")
      .where(eq.cast("double") / numHashes >= threshold - sigMargin)
      .select("__lid", "__rid")
    val pairs = screened
      .join(sets.select(col("__id").as("__lid"), col("__set").as("__lset")), "__lid")
      .join(sets.select(col("__id").as("__rid"), col("__set").as("__rset"))
        .hint("SHUFFLE_HASH"), "__rid")
    val inter = size(array_intersect(col("__lset"), col("__rset")))
    val uni = size(col("__lset")) + size(col("__rset")) - inter
    val jac = when(uni === 0, lit(0.0)).otherwise(inter.cast("double") / uni.cast("double"))
    val losers = pairs.where(jac >= threshold)
      .select(col("__rid").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact n-gram-Jaccard near-dup removal over ALL pairs, with string
    * shingles (no hashing) — a test-only reference path for validating
    * `ngramJaccardDedup`; O(n^2), never the catalog/bench path.
    */
  def ngramJaccardDedupExact(df: DataFrame, idCol: String, textCol: String,
                             k: Int = 5, threshold: Double = 0.8): DataFrame = {
    val shingles = array_distinct(transform(
      sequence(lit(1), greatest(length(col(textCol)) - (k - 1), lit(1))),
      i => col(textCol).substr(i, lit(k))))
    val base = df.select(col(idCol).as("__id"), shingles.as("__sh"))
    val l = base.select(col("__id").as("__lid"), col("__sh").as("__lsh"))
    val r = base.select(col("__id").as("__rid"), col("__sh").as("__rsh"))
    val inter = size(array_intersect(col("__lsh"), col("__rsh")))
    val uni = size(array_union(col("__lsh"), col("__rsh")))
    val jac = when(uni === 0, lit(0.0)).otherwise(inter.cast("double") / uni.cast("double"))
    val losers = l.crossJoin(r).where(col("__lid") < col("__rid"))
      .where(jac >= threshold)
      .select(col("__rid").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  private def quantize(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * 10000).cast("long"))

  // codegen'd kernels (graft.functions.DotLong) — bit-identical to the
  // aggregate(zip_with(...)) higher-order form, without the per-element
  // interpreted lambda dispatch
  private def norm2(q: Column): Column = graft.functions.ArrayMath.norm2Long(q)

  private def dotL(a: Column, b: Column): Column =
    graft.functions.ArrayMath.dotLong(a, b)

  /** Embedding cosine near-dup removal, exact (all pairs): quantizes
    * components to integers (round(x * 10000)) so dot products and norms
    * are exact and results engine-reproducible; drops the larger id of any
    * pair with cosine >= threshold. O(n^2) — test-only reference path for
    * `embeddingDedupLsh`.
    */
  def embeddingDedupExact(df: DataFrame, idCol: String, embCol: String,
                          threshold: Double = 0.99): DataFrame = {
    val q = df.select(col(idCol).as("__id"), quantize(col(embCol)).as("__q"))
    val withNorm = q.select(col("__id"), col("__q"), norm2(col("__q")).as("__n2"))
    val l = withNorm.select(col("__id").as("__lid"), col("__q").as("__lq"), col("__n2").as("__ln2"))
    val r = withNorm.select(col("__id").as("__rid"), col("__q").as("__rq"), col("__n2").as("__rn2"))
    val cos = dotL(col("__lq"), col("__rq")).cast("double") /
      (sqrt(col("__ln2").cast("double")) * sqrt(col("__rn2").cast("double")))
    val losers = l.crossJoin(r).where(col("__lid") < col("__rid"))
      .where(cos >= threshold)
      .select(col("__rid").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Embedding near-dup removal via random-hyperplane LSH: `planes` sign
    * bits (integer-quantized hyperplanes, exact sign decisions) bucket the
    * vectors; exact quantized cosine verifies candidates within a bucket.
    * Near-identical vectors land in the same bucket with high probability;
    * linear shuffle cost.
    */
  def embeddingDedupLsh(df: DataFrame, idCol: String, embCol: String,
                        threshold: Double = 0.99, planes: Int = 16,
                        dim: Int = 64,
                        maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val losers = embeddingLshAccepted(df, idCol, embCol, threshold, planes, dim, maxBucket)
      .select(col("__rid").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** The accepted near-dup PAIRS `(__lid, __rid)` (lid < rid) behind
    * [[embeddingDedupLsh]]: same-bucket candidates verified by exact
    * quantized cosine. Factored out so the streaming variant
    * ([[graft.streaming.StreamingDedup.embeddingStreamingPairs]]) can
    * pin pair-set parity against it.
    */
  def embeddingLshAccepted(df: DataFrame, idCol: String, embCol: String,
                           threshold: Double = 0.99, planes: Int = 16,
                           dim: Int = 64,
                           maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val q = spread(df.select(col(idCol).as("__id"), quantize(col(embCol)).as("__q")))
    val withB = capBuckets(
      q.select(col("__id"), col("__q"), norm2(col("__q")).as("__n2"),
        embeddingBucket(col("__q"), planes, dim).as("__bucket")),
      Seq("__bucket"), maxBucket, "embedding")
    val l = withB.select(col("__bucket"), col("__id").as("__lid"), col("__q").as("__lq"), col("__n2").as("__ln2"))
    val r = withB.select(col("__bucket"), col("__id").as("__rid"), col("__q").as("__rq"), col("__n2").as("__rn2"))
    val cos = dotL(col("__lq"), col("__rq")).cast("double") /
      (sqrt(col("__ln2").cast("double")) * sqrt(col("__rn2").cast("double")))
    l.join(r, Seq("__bucket")).where(col("__lid") < col("__rid"))
      .where(cos >= threshold)
      .select(col("__lid"), col("__rid"))
  }

  /** The sign-bit hyperplane bucket of a quantized embedding — the ONE
    * hash shared by the batch and streaming embedding-dedup paths. */
  def embeddingBucket(qvec: Column, planes: Int, dim: Int): Column = {
    val hp = planeCoeffs(planes, dim, seed = 7)
    hp.zipWithIndex.map { case (w, i) =>
      when(dotL(qvec, array(w.map(lit): _*)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Integer quantization of a float embedding (round(x*10000)) — the
    * cross-engine exactness contract shared with [[Similarity]]. */
  def quantizeEmbedding(emb: Column): Column = quantize(emb)
}
