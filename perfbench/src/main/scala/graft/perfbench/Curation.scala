package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DedupOracles, FuzzyJoin}

/** The `operators` layer, measured as a leg of the traced
  * `backfill_training` run: on a seeded corpus with a known near-duplicate
  * share, `Dedup.minhashLsh`, then `Dedup.connectedComponents` over the
  * accepted pairs, then `FuzzyJoin.jaccardJoin` against a seeded name
  * table. One untraced chain warms the code; the traced chain after it
  * gives the `operators.*` metrics.
  *
  * The chain is a leg, not a workload of its own: it is tens of small
  * Spark jobs, so one pass costs seconds whatever the input size, and a
  * separate workload would not fit the time a full measurement may take.
  *
  * Checks: the fuzzy-join pairs equal a brute-force Jaccard join here; the
  * survivors and cluster labels are checked against the DuckDB oracle SQL
  * (`DedupOracles.minhash` / `minhashCluster`) by `run.py`, which gets the
  * corpus, the SQL and graft's answers as `curate_oracle.json`.
  */
object Curation {
  val docs = 800
  val words = 40
  val dupShare = 0.25
  val edits = 2
  val nLeft = 1200
  val nRight = 1200
  val matchShare = 0.3
  val (joinNum, joinDen) = (1, 2)

  final case class Out(survivors: Array[Long], labels: Array[(Long, Long)],
                       pairs: Array[(Long, Long, Int, Int)])

  def chain(ctx: Ctx, d: DataFrame, l: DataFrame, r: DataFrame): Out = {
    val survivors = ctx.group("operators.minhash") {
      Dedup.minhashLsh(d, "doc_id", "text").select("doc_id").collect().map(_.getLong(0))
    }
    val labels = ctx.group("operators.cc") {
      val lab = Dedup.connectedComponents(Dedup.minhashAccepted(d, "doc_id", "text"), "__lid", "__rid")
      try lab.collect().map(x => (x.getLong(0), x.getLong(1)))
      finally Dedup.freeComponents(lab)
    }
    val pairs = ctx.group("operators.fuzzy_join") {
      FuzzyJoin.jaccardJoin(l, "id", "name", r, "id", "name", joinNum, joinDen).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getAs[Number](2).intValue, x.getAs[Number](3).intValue))
    }
    Out(survivors, labels, pairs)
  }

  /** Runs the leg (traced runs only); returns `curate.docs_per_s` of the
    * traced chain. */
  def leg(ctx: Ctx, rec: Record): Double = {
    val spark = ctx.spark
    import spark.implicits._
    val root = ctx.work.resolve("curate")
    val docDir = root.resolve("documents").toString
    val (left, right) = Gen.names(ctx.seed, nLeft, nRight, matchShare)
    Gen.documents(ctx.seed, docs, words, dupShare, edits).toDF("doc_id", "text")
      .repartition(ctx.nproc).write.parquet(docDir)
    left.toDF("id", "name").write.parquet(root.resolve("left").toString)
    right.toDF("id", "name").write.parquet(root.resolve("right").toString)
    val d = spark.read.parquet(docDir)
    val l = spark.read.parquet(root.resolve("left").toString)
    val r = spark.read.parquet(root.resolve("right").toString)

    ctx.tracing(false)
    chain(ctx, d, l, r)
    ctx.tracing(true)
    val c0 = System.nanoTime()
    val out = chain(ctx, d, l, r)
    val chainS = (System.nanoTime() - c0) / 1e9
    ctx.mark("curate")

    val self = ctx.trace.selfTimes
    def spanS(n: String) = self.get(n).map(x => x._2 / x._1 / 1e3).getOrElse(0.0)
    rec.metric("operators.minhash_s", spanS("operators.minhash"), "s")
    rec.metric("operators.cc_s", spanS("operators.cc"), "s")
    rec.metric("operators.fuzzy_join_s", spanS("operators.fuzzy_join"), "s")
    val gs = ctx.stats.get.snapshot("operators.")
    rec.metric("operators.shuffle_bytes", SparkStats.sum(gs)(_.shuffleWrite).toDouble, "bytes")
    rec.metric("operators.spill_bytes", SparkStats.sum(gs)(_.spill).toDouble, "bytes")
    val cands = Dedup.minhashStages(d, "doc_id", "text").cands.count()
    val accepted = Dedup.minhashAccepted(d, "doc_id", "text").count()
    rec.metric("operators.accept_ratio", if (cands == 0) 0.0 else accepted.toDouble / cands, "ratio")

    checkJoin(rec, l, r, out.pairs)
    writeOracleInputs(ctx, docDir, out)
    rec.ops(out.survivors.length, 0)
    rec.context("curate") = Map("input_docs" -> docs, "name_rows" -> Seq(nLeft, nRight),
      "survivors" -> out.survivors.length, "fuzzy_pairs" -> out.pairs.length, "chain_s" -> chainS)
    docs / chainS
  }

  /** The fuzzy-join pairs must equal a brute-force Jaccard join: every
    * cross pair, exact rational compare, over the same 3-gram sets. */
  private def checkJoin(rec: Record, l: DataFrame, r: DataFrame,
                        got: Array[(Long, Long, Int, Int)]): Unit = {
    val lg = l.select(col("id").as("lid"), FuzzyJoin.grams3(col("name")).as("lg"))
    val rg = r.select(col("id").as("rid"), FuzzyJoin.grams3(col("name")).as("rg"))
    val want = lg.crossJoin(rg)
      .select(col("lid"), col("rid"), size(array_intersect(col("lg"), col("rg"))).as("i"),
        size(array_union(col("lg"), col("rg"))).as("u"), size(col("lg")).as("ln"),
        size(col("rg")).as("rn"))
      .where(col("ln") >= 1 && col("rn") >= 1 && col("i") * joinDen >= col("u") * joinNum)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2), x.getInt(3))).toSet
    val g = got.toSet
    val missing = want -- g; val extra = g -- want
    rec.ops(want.size, missing.size + extra.size)
    rec.check(s"fuzzy join equals brute-force Jaccard (${want.size} pairs)",
      missing.isEmpty && extra.isEmpty && got.length == g.size,
      s"missing ${missing.size} e.g. ${missing.take(3)}; extra ${extra.size} e.g. ${extra.take(3)}")
  }

  /** Files for the DuckDB oracle check in run.py. */
  private def writeOracleInputs(ctx: Ctx, docDir: String, out: Out): Unit = {
    val o = Record.mapper.createObjectNode()
    o.put("documents", docDir)
    o.put("minhash_sql", DedupOracles.minhash())
    o.put("cluster_sql", DedupOracles.minhashCluster())
    val s = o.putArray("survivors"); out.survivors.sorted.foreach(x => s.add(x))
    // graft labels only nodes on an accepted edge; every other doc is its own cluster
    val lab = out.labels.toMap
    val docIds = ctx.spark.read.parquet(docDir).select("doc_id").collect().map(_.getLong(0)).sorted
    val ls = o.putArray("labels")
    docIds.foreach { id => val a = ls.addArray(); a.add(id); a.add(lab.getOrElse(id, id)) }
    java.nio.file.Files.write(ctx.out.resolve("curate_oracle.json"), Record.mapper.writeValueAsBytes(o))
  }
}
