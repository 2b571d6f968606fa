package graft.operators

/** Generated DuckDB oracle SQL replaying the LSH dedup/ANN pipelines
  * bit-for-bit: same md5-prefix hashes, same LCG MinHash coefficients,
  * same integer-quantized hyperplanes (all from [[Dedup]] /
  * [[Similarity]]'s fixed seeds), so the driver's DuckDB compare checks
  * the full pipeline — candidate generation included — not just shapes.
  *
  * Exactness argument: every branchpoint (band keys, bucket signs,
  * Jaccard/similarity thresholds) is integer arithmetic over identical
  * hashed inputs; the only doubles are final ratios computed by identical
  * operations on identical integers, hence bit-identical in both engines.
  */
object DedupOracles {

  private val P = Dedup.P31

  /** DuckDB twin of Dedup.hash31. */
  private def h31(s: String): String =
    s"(('0x'||substr(md5($s),1,8))::BIGINT % $P)"

  /** DuckDB twin of Dedup.hash60. */
  private def h60(s: String): String =
    s"(('0x'||substr(md5($s),1,15))::BIGINT)"

  /** Distinct (doc_id, 31-bit shingle hash) rows — twin of Dedup.shingleRows.
    * (min() and set ops are insensitive to the DISTINCT-before-vs-after-hash
    * difference: both engines end up aggregating the same value multiset.)
    */
  private def shCte(k: Int): String =
    s"""sh AS (
       |  SELECT DISTINCT doc_id, ${h31(s"substring(text, CAST(u AS INT), $k)")} AS x
       |  FROM (SELECT doc_id, text, unnest(range(1, greatest(length(text) - ${k - 1}, 1) + 1)) AS u
       |        FROM documents))""".stripMargin

  /** MinHash signature columns m0..m{n-1} — the same mins as
    * Dedup.signatureCol's per-row loop, as one aggregate over `sh`. */
  private def sigCte(n: Int): String = {
    val mins = Dedup.minhashCoeffs(n).zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * x + $b) % $P) AS m$i"
    }.mkString(", ")
    s"sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id)"
  }

  /** Band rows (doc_id, band, bk) — twin of Dedup.bandRows. */
  private def bandedCte(n: Int, bands: Int): String = {
    val rpb = n / bands
    val arms = (0 until bands).map { b =>
      val cols = (0 until rpb).map(r => s"m${b * rpb + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws(',', $cols) AS bk FROM sig"
    }.mkString(" UNION ALL ")
    s"banded AS ($arms)"
  }

  private val pairsCte: String =
    """pairs AS (
      |  SELECT DISTINCT a.doc_id AS lid, b.doc_id AS rid
      |  FROM banded a JOIN banded b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)""".stripMargin

  /** q_dedup_minhash: survivors of MinHash(128)+LSH(16 bands) at 0.8. */
  def minhash(k: Int = 5, numHashes: Int = 128, bands: Int = 16,
              threshold: Double = 0.8): String = {
    // Chunked into parenthesized groups: a flat 128-term `+` chain binds
    // as a 128-deep tree and trips DuckDB's recursion limit.
    val eqTerms = (0 until numHashes)
      .map(i => s"CASE WHEN l.m$i = r.m$i THEN 1 ELSE 0 END")
      .grouped(16).map(g => "(" + g.mkString(" + ") + ")").mkString(" + ")
    s"""WITH ${shCte(k)},
       |${sigCte(numHashes)},
       |${bandedCte(numHashes, bands)},
       |$pairsCte,
       |sims AS (
       |  SELECT p.lid, p.rid, ($eqTerms) AS eq
       |  FROM pairs p JOIN sig l ON l.doc_id = p.lid JOIN sig r ON r.doc_id = p.rid),
       |losers AS (SELECT DISTINCT rid FROM sims WHERE eq / ${numHashes.toDouble} >= $threshold)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT rid FROM losers) ORDER BY doc_id""".stripMargin
  }

  /** q_dedup_rate_by_source: the corpus-health report — per source, how
    * many docs survive MinHash near-dup removal. Same pipeline CTEs as
    * [[minhash]], rolled up to (source, n_docs, n_survivors). */
  def minhashSurvivalBySource(k: Int = 5, numHashes: Int = 128, bands: Int = 16,
                              threshold: Double = 0.8): String = {
    val eqTerms = (0 until numHashes)
      .map(i => s"CASE WHEN l.m$i = r.m$i THEN 1 ELSE 0 END")
      .grouped(16).map(g => "(" + g.mkString(" + ") + ")").mkString(" + ")
    s"""WITH ${shCte(k)},
       |${sigCte(numHashes)},
       |${bandedCte(numHashes, bands)},
       |$pairsCte,
       |sims AS (
       |  SELECT p.lid, p.rid, ($eqTerms) AS eq
       |  FROM pairs p JOIN sig l ON l.doc_id = p.lid JOIN sig r ON r.doc_id = p.rid),
       |losers AS (SELECT DISTINCT rid FROM sims WHERE eq / ${numHashes.toDouble} >= $threshold)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN doc_id IN (SELECT rid FROM losers)
       |                     THEN 0 ELSE 1 END) AS BIGINT) AS n_survivors
       |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  /** q_dedup_cluster: the accepted MinHash pair edges closed into
    * connected components (transitive closure via a recursive CTE), every
    * document labeled with its component's minimum doc_id — the oracle
    * twin of `Dedup.minhashAccepted` + `Dedup.connectedComponents`. */
  def minhashCluster(k: Int = 5, numHashes: Int = 128, bands: Int = 16,
                     threshold: Double = 0.8): String = {
    val eqTerms = (0 until numHashes)
      .map(i => s"CASE WHEN l.m$i = r.m$i THEN 1 ELSE 0 END")
      .grouped(16).map(g => "(" + g.mkString(" + ") + ")").mkString(" + ")
    s"""WITH RECURSIVE ${shCte(k)},
       |${sigCte(numHashes)},
       |${bandedCte(numHashes, bands)},
       |$pairsCte,
       |sims AS (
       |  SELECT p.lid, p.rid, ($eqTerms) AS eq
       |  FROM pairs p JOIN sig l ON l.doc_id = p.lid JOIN sig r ON r.doc_id = p.rid),
       |accepted AS (SELECT lid, rid FROM sims WHERE eq / ${numHashes.toDouble} >= $threshold),
       |sym AS (SELECT lid AS u, rid AS v FROM accepted
       |        UNION SELECT rid, lid FROM accepted),
       |reach AS (
       |  SELECT u AS id, v AS r FROM sym
       |  UNION
       |  SELECT s.u AS id, reach.r FROM sym s JOIN reach ON reach.id = s.v),
       |comp AS (
       |  SELECT id, CASE WHEN min(r) < id THEN min(r) ELSE id END AS c
       |  FROM reach GROUP BY id)
       |SELECT d.doc_id, CAST(coalesce(c.c, d.doc_id) AS BIGINT) AS component
       |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** q_dedup_ngram: LSH-proposed candidates screened by estimated Jaccard
    * from the MinHash signature (same deterministic bound as the Spark
    * operator's `sigMargin` stage), then verified by exact Jaccard over
    * the hashed shingle sets. */
  def ngram(k: Int = 5, threshold: Double = 0.8,
            numHashes: Int = 32, bands: Int = 8,
            sigMargin: Double = 0.25): String = {
    val eqTerms = (0 until numHashes)
      .map(i => s"CASE WHEN l.m$i = r.m$i THEN 1 ELSE 0 END")
      .grouped(16).map(g => "(" + g.mkString(" + ") + ")").mkString(" + ")
    s"""WITH ${shCte(k)},
       |${sigCte(numHashes)},
       |${bandedCte(numHashes, bands)},
       |$pairsCte,
       |screened AS (
       |  SELECT p.lid, p.rid
       |  FROM pairs p JOIN sig l ON l.doc_id = p.lid JOIN sig r ON r.doc_id = p.rid
       |  WHERE ($eqTerms) / ${numHashes.toDouble} >= ${threshold - sigMargin}),
       |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT p.lid, p.rid, count(*) AS m
       |  FROM screened p
       |  JOIN sh a ON a.doc_id = p.lid
       |  JOIN sh b ON b.doc_id = p.rid AND b.x = a.x
       |  GROUP BY p.lid, p.rid),
       |losers AS (
       |  SELECT DISTINCT i.rid FROM inter i
       |  JOIN cnt ca ON i.lid = ca.doc_id JOIN cnt cb ON i.rid = cb.doc_id
       |  WHERE CAST(m AS DOUBLE) / (ca.c + cb.c - m) >= $threshold)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT rid FROM losers) ORDER BY doc_id""".stripMargin
  }

  /** q_dedup_simhash: 60-bit fingerprint, 4x15-bit bands, hamming <= 3. */
  def simhash(maxHamming: Int = 3): String = {
    val bits = 60; val bandBits = 15; val nBands = 4
    val votes = (0 until bits)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(", ")
    val fpTerms = (0 until bits)
      .map(b => s"CASE WHEN v$b > 0 THEN (1::BIGINT << $b) ELSE 0 END").mkString(" + ")
    val bandArms = (0 until nBands)
      .map(i => s"SELECT doc_id, $i AS band, (f >> ${i * bandBits}) & ${(1L << bandBits) - 1} AS bk FROM fp")
      .mkString(" UNION ALL ")
    s"""WITH tok AS (
       |  SELECT doc_id, ${h60("t")} AS h
       |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS t FROM documents)),
       |votes AS (SELECT doc_id, $votes FROM tok GROUP BY doc_id),
       |fp AS (
       |  SELECT d.doc_id, ($fpTerms) AS f
       |  FROM documents d LEFT JOIN votes v ON d.doc_id = v.doc_id),
       |banded AS ($bandArms),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS lid, b.doc_id AS rid
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
       |losers AS (
       |  SELECT DISTINCT p.rid FROM pairs p
       |  JOIN fp l ON l.doc_id = p.lid JOIN fp r ON r.doc_id = p.rid
       |  WHERE bit_count(xor(l.f, r.f)) <= $maxHamming)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT rid FROM losers) ORDER BY doc_id""".stripMargin
  }

  /** Shared embedding CTEs: quantized components, integer hyperplane
    * buckets, norms. `table` keyed by vec_id with FLOAT[] `embedding`. */
  private def embCtes(planes: Seq[Seq[Long]]): String = {
    val planeRows = planes.zipWithIndex.flatMap { case (w, p) =>
      w.zipWithIndex.map { case (c, i) => s"($p, ${i + 1}, $c)" }
    }.mkString(", ")
    s"""flat AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS v
       |  FROM embeddings),
       |plane(p, i, w) AS (VALUES $planeRows),
       |dotp AS (SELECT vec_id, p, sum(v * w) AS d FROM flat JOIN plane USING (i) GROUP BY vec_id, p),
       |bucket AS (
       |  SELECT vec_id, sum(CASE WHEN d >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS bkt
       |  FROM dotp GROUP BY vec_id),
       |norms AS (SELECT vec_id, sum(v * v) AS n2 FROM flat GROUP BY vec_id)""".stripMargin
  }

  /** q_dedup_embedding: hyperplane-bucket candidates, exact quantized
    * cosine >= threshold drops the larger id. */
  def embeddingLsh(threshold: Double = 0.99, planes: Int = 16, dim: Int = 64): String =
    s"""WITH ${embCtes(Dedup.planeCoeffs(planes, dim, seed = 7))},
       |cand AS (
       |  SELECT a.vec_id AS lid, b.vec_id AS rid
       |  FROM bucket a JOIN bucket b ON a.bkt = b.bkt AND a.vec_id < b.vec_id),
       |dots AS (
       |  SELECT c.lid, c.rid, sum(a.v * b.v) AS dot
       |  FROM cand c
       |  JOIN flat a ON a.vec_id = c.lid
       |  JOIN flat b ON b.vec_id = c.rid AND b.i = a.i
       |  GROUP BY c.lid, c.rid),
       |losers AS (
       |  SELECT DISTINCT d.rid AS vec_id FROM dots d
       |  JOIN norms na ON d.lid = na.vec_id JOIN norms nb ON d.rid = nb.vec_id
       |  WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= $threshold)
       |SELECT vec_id FROM embeddings
       |WHERE vec_id NOT IN (SELECT vec_id FROM losers) ORDER BY vec_id""".stripMargin

  /** q_ann_lsh: multi-probe (self bucket + single-bit flips) hyperplane
    * LSH top-k for query vectors vec_id < maxQueryId. */
  def annLsh(k: Int = 5, planes: Int = 8, dim: Int = 64,
             maxQueryId: Long = 10): String = {
    val probeList = (s"bkt" +: (0 until planes).map(i => s"xor(bkt, ${1L << i})")).mkString(", ")
    s"""WITH ${embCtes(Similarity.planeCoeffsAnn(planes, dim))},
       |qb AS (SELECT vec_id AS query_id, bkt FROM bucket WHERE vec_id < $maxQueryId),
       |probes AS (SELECT query_id, unnest([$probeList]) AS bkt FROM qb),
       |cand AS (
       |  SELECT DISTINCT p.query_id, c.vec_id AS nn_id
       |  FROM probes p JOIN bucket c ON c.bkt = p.bkt AND c.vec_id <> p.query_id),
       |dots AS (
       |  SELECT cd.query_id, cd.nn_id, sum(q.v * e.v) AS dot
       |  FROM cand cd
       |  JOIN flat q ON q.vec_id = cd.query_id
       |  JOIN flat e ON e.vec_id = cd.nn_id AND e.i = q.i
       |  GROUP BY cd.query_id, cd.nn_id),
       |scored AS (
       |  SELECT d.query_id, d.nn_id,
       |         CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(ne.n2 AS DOUBLE))) AS cosine
       |  FROM dots d JOIN norms nq ON d.query_id = nq.vec_id JOIN norms ne ON d.nn_id = ne.vec_id)
       |SELECT query_id, CAST(rank AS INT) AS rank, nn_id, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nn_id) AS rank
       |  FROM scored) WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }
}
