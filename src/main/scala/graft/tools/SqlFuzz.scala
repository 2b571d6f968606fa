package graft.tools

import java.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** Registry-driven fuzz of the batch SQL surface (VERDICT r14 stretch #8).
  *
  * The 154-entry catalog pins fixed queries; this tool samples the space
  * BETWEEN them: seeded random projections / filters / joins / aggregates
  * over the driver's test tables, emitted in the dialect-portable ANSI
  * subset both Spark and DuckDB parse identically, executed by Spark into
  * `outDir/<name>/` parquet with the SQL text in `outDir/fuzz_sql.json` —
  * exactly Verify's contract, so `scripts/sql_fuzz.py` (DuckDB side) can
  * replay each query against the same parquet and value-compare.
  *
  * Determinism: every query derives from `new Random(seedBase + i)` alone;
  * a failure replays from its printed (seedBase, i). Comparability rules
  * baked into the generator (each dodges a known cross-engine trap, not a
  * bug in either engine):
  *   - ORDER BY is always a total order over DETERMINISTIC columns: for
  *     aggregates, the full group-by key list (unique per row); otherwise
  *     every projected column. Never order by an aggregate — different
  *     partial-sum association orders can swap near-tied doubles.
  *   - `NULLS FIRST` is spelled explicitly (Spark ASC defaults nulls
  *     first, DuckDB nulls last).
  *   - GROUP BY keys are integral/string only (doubles group on bit
  *     patterns; both engines agree but the fuzz gains nothing from it).
  *   - Plain `/` is never generated (portable, but avoids near-zero
  *     denominators); `%` only on integral columns.
  *   - String ops from the common set: upper/lower/length/substr/trim/
  *     replace/`||`; both engines compare strings bytewise.
  *
  * Usage: runMain graft.tools.SqlFuzz <sfDir> <outDir> [n] [seedBase]
  */
object SqlFuzz {

  sealed trait Kind
  case object I extends Kind // integral
  case object D extends Kind // double
  case object S extends Kind // string
  case object T extends Kind // timestamp

  final case class Col(name: String, kind: Kind)
  /** `uniqueKey`: column set that totally orders the table's rows — the
    * window shapes ORDER BY it inside OVER so ranking/navigation
    * functions are deterministic (a tie inside a window order is free to
    * resolve differently per engine without either being wrong). */
  final case class Table(name: String, cols: Seq[Col], uniqueKey: Seq[String]) {
    def of(k: Kind): Seq[Col] = cols.filter(_.kind == k)
  }

  val tables: Seq[Table] = Seq(
    Table("region", Seq(Col("r_regionkey", I), Col("r_name", S)),
      Seq("r_regionkey")),
    Table("nation", Seq(Col("n_nationkey", I), Col("n_name", S), Col("n_regionkey", I)),
      Seq("n_nationkey")),
    Table("customer", Seq(Col("c_custkey", I), Col("c_name", S), Col("c_nationkey", I),
      Col("c_acctbal", D), Col("c_mktsegment", S)), Seq("c_custkey")),
    Table("supplier", Seq(Col("s_suppkey", I), Col("s_name", S), Col("s_nationkey", I),
      Col("s_acctbal", D)), Seq("s_suppkey")),
    Table("part", Seq(Col("p_partkey", I), Col("p_name", S), Col("p_brand", S),
      Col("p_type", S), Col("p_size", I), Col("p_retailprice", D)),
      Seq("p_partkey")),
    Table("orders", Seq(Col("o_orderkey", I), Col("o_custkey", I), Col("o_orderstatus", S),
      Col("o_totalprice", D), Col("o_orderdate", T), Col("o_orderpriority", S)),
      Seq("o_orderkey")),
    Table("lineitem", Seq(Col("l_orderkey", I), Col("l_partkey", I), Col("l_suppkey", I),
      Col("l_linenumber", I), Col("l_quantity", D), Col("l_extendedprice", D),
      Col("l_discount", D), Col("l_tax", D), Col("l_returnflag", S),
      Col("l_linestatus", S), Col("l_shipdate", T)),
      Seq("l_orderkey", "l_linenumber")),
    Table("events", Seq(Col("event_id", I), Col("ts", T), Col("user_id", I),
      Col("event_type", S), Col("value", D), Col("props", S)),
      Seq("event_id"))
  )
  private def tbl(n: String): Table = tables.find(_.name == n).get

  /** FK edges for the join shape: (left table, left col, right table, right col).
    * Each is a real containment edge in the driver's generator, so inner
    * and left joins both exercise matched rows; left joins on the
    * reversed edge manufacture nulls. */
  val fks: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey")
  )

  /** Per-column literal pools sampled once from the data (min/max for
    * numerics and timestamps, a distinct-value sample for strings) so
    * predicates land in the populated range instead of being vacuous. */
  final case class Pools(
      numRange: Map[(String, String), (Double, Double)],
      tsRange: Map[(String, String), (String, String)],
      strVals: Map[(String, String), Seq[String]],
      uniqueOk: Set[String])

  /** Distinct sampled values for a string predicate pool.
    *
    * NULLs are dropped at the source (ADVICE r16: ascending order puts
    * nulls inside the limit-24 window first, and one null reaching
    * strVals NPE'd `sqlStr` — taking down the whole fuzz run, not one
    * query). Backslash values are dropped too: Spark's default string
    * literals treat \ as an escape (escapedStringLiterals=false) and it
    * is Spark's default LIKE escape char, while DuckDB takes both
    * literally — a sampled backslash would make the two engines evaluate
    * DIFFERENT predicates from the same SQL text. Pinned by SqlFuzzSpec
    * on a frame engineered to put nulls + backslashes in the window. */
  def stringPool(df: DataFrame, colName: String): Seq[String] = {
    import org.apache.spark.sql.functions.col
    df.select(col(colName)).filter(col(colName).isNotNull)
      .distinct().orderBy(col(colName))
      .limit(24).collect().map(_.getString(0)).toSeq
      .filterNot(v => v == null || v.contains("\\"))
  }

  def samplePools(spark: SparkSession, sfDir: String): Pools = {
    import org.apache.spark.sql.functions._
    var num = Map.empty[(String, String), (Double, Double)]
    var ts = Map.empty[(String, String), (String, String)]
    var sv = Map.empty[(String, String), Seq[String]]
    var uok = Set.empty[String]
    for (t <- tables) {
      val df = spark.read.parquet(s"$sfDir/${t.name}.parquet")
      val numCols = t.of(I) ++ t.of(D)
      if (numCols.nonEmpty || t.of(T).nonEmpty) {
        val aggs = numCols.flatMap(c => Seq(
          min(col(c.name).cast("double")).as(s"mn_${c.name}"),
          max(col(c.name).cast("double")).as(s"mx_${c.name}"))) ++
          t.of(T).flatMap(c => Seq(
            date_format(min(col(c.name)), "yyyy-MM-dd HH:mm:ss").as(s"mn_${c.name}"),
            date_format(max(col(c.name)), "yyyy-MM-dd HH:mm:ss").as(s"mx_${c.name}")))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        for (c <- numCols)
          num += ((t.name, c.name) ->
            (row.getAs[Double](s"mn_${c.name}"), row.getAs[Double](s"mx_${c.name}")))
        for (c <- t.of(T))
          ts += ((t.name, c.name) ->
            (row.getAs[String](s"mn_${c.name}"), row.getAs[String](s"mx_${c.name}")))
      }
      for (c <- t.of(S) if c.name != "text" && c.name != "props")
        sv += ((t.name, c.name) -> stringPool(df, c.name))
      // VERIFY the declared unique key against the data instead of
      // trusting the schema: the driver's synthetic lineitem violates
      // real TPC-H's (l_orderkey, l_linenumber) uniqueness, and a
      // non-unique window order makes ranking/frame results legitimately
      // engine-dependent — the window shapes only draw tables that pass
      val dk = df.select(t.uniqueKey.map(col): _*).distinct().count()
      if (dk == df.count()) uok += t.name
    }
    Pools(num, ts, sv, uok)
  }

  // ---------------------------------------------------------------- exprs

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.length))

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** A scalar expression of the given kind over table `t` (columns
    * optionally qualified with alias `q`). Returns (sql, deterministic). */
  def numExpr(r: Random, t: Table, q: String, pools: Pools, depth: Int = 0): String = {
    val cols = t.of(I) ++ t.of(D)
    def colRef = { val c = pick(r, cols); s"$q${c.name}" }
    if (depth >= 2 || cols.isEmpty) colRef
    else r.nextInt(6) match {
      case 0 => colRef
      case 1 => s"(${numExpr(r, t, q, pools, depth + 1)} + ${numExpr(r, t, q, pools, depth + 1)})"
      case 2 => s"(${numExpr(r, t, q, pools, depth + 1)} * ${1 + r.nextInt(9)})"
      case 3 => s"abs(${numExpr(r, t, q, pools, depth + 1)} - ${r.nextInt(100)})"
      case 4 =>
        val d = t.of(D)
        if (d.isEmpty) colRef else s"round($q${pick(r, d).name}, ${r.nextInt(3)})"
      case 5 =>
        s"(CASE WHEN ${predicate(r, t, q, pools, depth + 1)} THEN ${numExpr(r, t, q, pools, depth + 1)} ELSE ${numExpr(r, t, q, pools, depth + 1)} END)"
    }
  }

  def strExpr(r: Random, t: Table, q: String, pools: Pools, depth: Int = 0): Option[String] = {
    val cols = t.of(S).filter(c => pools.strVals.contains((t.name, c.name)))
    if (cols.isEmpty) None
    else {
      def colRef = s"$q${pick(r, cols).name}"
      Some(if (depth >= 1) colRef
      else r.nextInt(6) match {
        case 0 => colRef
        case 1 => s"upper($colRef)"
        case 2 => s"lower($colRef)"
        case 3 => s"substr($colRef, 1, ${1 + r.nextInt(6)})"
        case 4 => s"($colRef || '_${('a' + r.nextInt(26)).toChar}')"
        case 5 => s"replace($colRef, ${sqlStr(('a' + r.nextInt(26)).toChar.toString)}, '#')"
      })
    }
  }

  def numLit(r: Random, t: Table, c: Col, pools: Pools): String = {
    val (lo, hi) = pools.numRange.getOrElse((t.name, c.name), (0.0, 100.0))
    val v = lo + r.nextDouble() * (hi - lo)
    c.kind match {
      case I => v.toLong.toString
      // Locale.ROOT: an f-interpolator under a comma-decimal default
      // locale would emit SQL neither engine parses
      case _ => String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    }
  }

  def predicate(r: Random, t: Table, q: String, pools: Pools, depth: Int = 0): String = {
    def leaf: String = {
      val choices = Seq.newBuilder[() => String]
      val nums = t.of(I) ++ t.of(D)
      if (nums.nonEmpty) {
        choices += (() => {
          val c = pick(r, nums)
          val op = pick(r, Seq("<", "<=", ">", ">=", "=", "<>"))
          s"$q${c.name} $op ${numLit(r, t, c, pools)}"
        })
        choices += (() => {
          val c = pick(r, nums)
          val a = numLit(r, t, c, pools); val b = numLit(r, t, c, pools)
          s"$q${c.name} BETWEEN least(${a}, ${b}) AND greatest(${a}, ${b})"
        })
      }
      val ints = t.of(I)
      if (ints.nonEmpty) choices += (() => {
        val c = pick(r, ints)
        s"($q${c.name} % ${2 + r.nextInt(7)}) = ${r.nextInt(2)}"
      })
      val strs = t.of(S).filter(c => pools.strVals.get((t.name, c.name)).exists(_.nonEmpty))
      if (strs.nonEmpty) {
        choices += (() => {
          val c = pick(r, strs)
          val vals = pools.strVals((t.name, c.name))
          val n = 1 + r.nextInt(math.min(4, vals.length))
          val in = (0 until n).map(_ => sqlStr(pick(r, vals))).distinct.mkString(", ")
          s"$q${c.name} IN ($in)"
        })
        choices += (() => {
          val c = pick(r, strs)
          val v = pick(r, pools.strVals((t.name, c.name)))
          val frag = if (v.length <= 2) v else {
            val i = r.nextInt(v.length - 1)
            v.substring(i, math.min(v.length, i + 1 + r.nextInt(2)))
          }
          // LIKE wildcards in the sampled fragment would mean different
          // patterns per engine only if escaping diverged; strip them.
          val clean = frag.replace("%", "").replace("_", "").replace("'", "")
            .replace("\\", "")
          if (clean.isEmpty) s"length($q${c.name}) > ${r.nextInt(8)}"
          else s"$q${c.name} LIKE ${sqlStr("%" + clean + "%")}"
        })
      }
      val tss = t.of(T)
      if (tss.nonEmpty) choices += (() => {
        val c = pick(r, tss)
        val (lo, hi) = pools.tsRange((t.name, c.name))
        val lit = if (r.nextBoolean()) lo else hi
        val op = pick(r, Seq("<", ">=", "<=", ">"))
        s"$q${c.name} $op TIMESTAMP ${sqlStr(lit)}"
      })
      val cs = choices.result()
      pick(r, cs)()
    }
    if (depth >= 2) leaf
    else r.nextInt(4) match {
      case 0 => leaf
      case 1 => s"(${predicate(r, t, q, pools, depth + 1)} AND ${predicate(r, t, q, pools, depth + 1)})"
      case 2 => s"(${predicate(r, t, q, pools, depth + 1)} OR ${predicate(r, t, q, pools, depth + 1)})"
      case 3 => s"(NOT ${predicate(r, t, q, pools, depth + 1)})"
    }
  }

  // --------------------------------------------------------------- shapes

  /** One aggregate over table t (qualified by q); (selectExpr, alias). */
  private def aggExpr(r: Random, t: Table, q: String, i: Int): (String, String) = {
    val nums = t.of(I) ++ t.of(D)
    val strs = t.of(S)
    val a = s"agg_$i"
    val e = r.nextInt(7) match {
      case 0 => "count(*)"
      case 1 if nums.nonEmpty => s"sum(CAST($q${pick(r, nums).name} AS DOUBLE))"
      case 2 if nums.nonEmpty => s"min($q${pick(r, nums).name})"
      case 3 if nums.nonEmpty => s"max($q${pick(r, nums).name})"
      case 4 if nums.nonEmpty => s"avg(CAST($q${pick(r, nums).name} AS DOUBLE))"
      case 5 if strs.nonEmpty => s"count(DISTINCT $q${pick(r, strs).name})"
      case 6 if nums.nonEmpty => s"count($q${pick(r, nums).name})"
      case _ => "count(*)"
    }
    (s"$e AS $a", a)
  }

  /** Generate query #i: returns (name, sql). The SQL is identical for
    * Spark and DuckDB by construction. */
  def gen(i: Int, seedBase: Long, pools: Pools): (String, String) = {
    val r = new Random(seedBase + i)
    val name = f"fz_$i%04d"
    val sql = r.nextInt(15) match {
      case s if s <= 3 => // projection + filter over one table
        val t = pick(r, tables)
        val nProj = 1 + r.nextInt(3)
        val projs = (0 until nProj).map { k =>
          if (r.nextBoolean()) s"${numExpr(r, t, "", pools)} AS e_$k"
          else strExpr(r, t, "", pools).map(e => s"$e AS e_$k")
            .getOrElse(s"${numExpr(r, t, "", pools)} AS e_$k")
        }
        val aliases = (0 until nProj).map(k => s"e_$k")
        val where = predicate(r, t, "", pools)
        val distinct = if (r.nextInt(4) == 0) "DISTINCT " else ""
        s"SELECT $distinct${projs.mkString(", ")} FROM ${t.name} WHERE $where " +
          s"ORDER BY ${aliases.map(_ + " NULLS FIRST").mkString(", ")} LIMIT 500"
      case s if s <= 6 => // group-by aggregate over one table
        val t = pick(r, tables)
        val keyCols = (t.of(I) ++ t.of(S).filter(c => pools.strVals.contains((t.name, c.name))))
        // clamp to the groupable-column count: r.ints(...).distinct() is an
        // INFINITE stream — asking it for more distinct values than the
        // domain holds would hang the generator, not error
        val nKeys = math.min(1 + r.nextInt(2), keyCols.length)
        val keys = r.ints(0, keyCols.length).distinct().limit(nKeys).toArray
          .toSeq.map(keyCols(_))
        val nAgg = 1 + r.nextInt(3)
        val aggs = (0 until nAgg).map(k => aggExpr(r, t, "", k))
        val where = if (r.nextBoolean()) s"WHERE ${predicate(r, t, "", pools)} " else ""
        val having = if (r.nextInt(3) == 0) s"HAVING count(*) >= ${1 + r.nextInt(3)} " else ""
        s"SELECT ${keys.map(_.name).mkString(", ")}, ${aggs.map(_._1).mkString(", ")} " +
          s"FROM ${t.name} ${where}GROUP BY ${keys.map(_.name).mkString(", ")} $having" +
          s"ORDER BY ${keys.map(_.name + " NULLS FIRST").mkString(", ")} LIMIT 500"
      case 10 => // set operation over two filtered projections of one table
        val t = pick(r, tables)
        val cols = (t.of(I) ++ t.of(S).filter(c => pools.strVals.contains((t.name, c.name))))
        val c = pick(r, cols)
        val op = pick(r, Seq("UNION ALL", "UNION", "INTERSECT", "EXCEPT"))
        val p1 = predicate(r, t, "", pools); val p2 = predicate(r, t, "", pools)
        s"SELECT * FROM (SELECT ${c.name} AS v FROM ${t.name} WHERE $p1 " +
          s"$op SELECT ${c.name} AS v FROM ${t.name} WHERE $p2) u " +
          s"ORDER BY v NULLS FIRST LIMIT 500"
      case 11 => // uncorrelated scalar-subquery predicate
        val t = pick(r, tables)
        val nums = t.of(I) ++ t.of(D)
        // the averaged (threshold) column must be INTEGRAL: integer sums
        // are exact in double at these scales, so both engines compute a
        // bit-identical avg — a double avg can differ in the last ulp by
        // summation association order and flip a row sitting exactly on
        // the threshold (every table has at least one integral column)
        val c = pick(r, nums); val c2 = pick(r, t.of(I))
        val proj = (t.of(I) ++ t.of(S).filter(x => pools.strVals.contains((t.name, x.name))))
        val pc = pick(r, proj)
        val op = pick(r, Seq("<", ">", "<=", ">="))
        s"SELECT ${pc.name} AS k, ${c.name} AS v FROM ${t.name} " +
          s"WHERE CAST(${c.name} AS DOUBLE) $op (SELECT avg(CAST(${c2.name} AS DOUBLE)) FROM ${t.name}) " +
          s"ORDER BY k NULLS FIRST, v NULLS FIRST LIMIT 500"
      case 12 => // EXISTS / NOT EXISTS over an FK edge
        val (ln, lc, rn, rc) = pick(r, fks)
        val lt = tbl(ln); val rt = tbl(rn)
        val ex = if (r.nextBoolean()) "EXISTS" else "NOT EXISTS"
        val proj = (0 until (1 + r.nextInt(2))).map(_ => pick(r, lt.cols))
        val projSql = proj.zipWithIndex.map { case (c, k) => s"a.${c.name} AS e_$k" }
        val aliases = proj.indices.map(k => s"e_$k")
        val innerPred = predicate(r, rt, "b.", pools)
        s"SELECT ${projSql.mkString(", ")} FROM $ln a WHERE $ex " +
          s"(SELECT 1 FROM $rn b WHERE b.$rc = a.$lc AND $innerPred) " +
          s"ORDER BY ${aliases.map(_ + " NULLS FIRST").mkString(", ")} LIMIT 500"
      case 13 => // ranking / navigation window over the unique-key order
        val t = pick(r, tables.filter(x => pools.uniqueOk(x.name)))
        val parts = (t.of(I) ++ t.of(S).filter(c => pools.strVals.contains((t.name, c.name))))
          .filterNot(c => t.uniqueKey.contains(c.name))
        val part = if (parts.isEmpty) t.uniqueKey.head else pick(r, parts).name
        val ord = t.uniqueKey.map(_ + " NULLS FIRST").mkString(", ")
        val nums = t.of(I) ++ t.of(D)
        val fn = r.nextInt(6) match {
          case 0 => "row_number()"
          case 1 => "rank()"
          case 2 => "dense_rank()"
          case 3 => s"ntile(${2 + r.nextInt(4)})"
          case 4 => s"lag(${pick(r, nums).name}, ${1 + r.nextInt(2)})"
          case _ => s"lead(${pick(r, nums).name}, ${1 + r.nextInt(2)})"
        }
        val where = if (r.nextBoolean()) s"WHERE ${predicate(r, t, "", pools)} " else ""
        s"SELECT ${t.uniqueKey.mkString(", ")}, $part AS p, " +
          s"$fn OVER (PARTITION BY $part ORDER BY $ord) AS w FROM ${t.name} " +
          s"$where" +
          s"ORDER BY ${t.uniqueKey.map(_ + " NULLS FIRST").mkString(", ")} LIMIT 500"
      case 14 => // framed aggregate window (ROWS / RANGE over unique order)
        val t = pick(r, tables.filter(x => pools.uniqueOk(x.name)))
        val parts = (t.of(I) ++ t.of(S).filter(c => pools.strVals.contains((t.name, c.name))))
          .filterNot(c => t.uniqueKey.contains(c.name))
        val part = if (parts.isEmpty) t.uniqueKey.head else pick(r, parts).name
        val nums = t.of(I) ++ t.of(D)
        val v = pick(r, nums)
        val agg = pick(r, Seq("sum", "avg", "min", "max", "count"))
        // RANGE needs a single numeric order key; ROWS works on the
        // composite unique key — both orders are total, so deterministic
        val (frame, ord) =
          if (r.nextBoolean() && t.uniqueKey.length == 1)
            (s"RANGE BETWEEN ${1 + r.nextInt(50)} PRECEDING AND CURRENT ROW",
              s"${t.uniqueKey.head} NULLS FIRST")
          else
            (s"ROWS BETWEEN ${r.nextInt(5)} PRECEDING AND ${pick(r, Seq("CURRENT ROW", s"${r.nextInt(3)} FOLLOWING"))}",
              t.uniqueKey.map(_ + " NULLS FIRST").mkString(", "))
        val where = if (r.nextBoolean()) s"WHERE ${predicate(r, t, "", pools)} " else ""
        s"SELECT ${t.uniqueKey.mkString(", ")}, " +
          s"$agg(CAST(${v.name} AS DOUBLE)) OVER (PARTITION BY $part ORDER BY $ord $frame) AS w " +
          s"FROM ${t.name} $where" +
          s"ORDER BY ${t.uniqueKey.map(_ + " NULLS FIRST").mkString(", ")} LIMIT 500"
      case _ => // FK join (inner/left), optionally aggregated
        val (ln, lc, rn, rc) = pick(r, fks)
        val lt = tbl(ln); val rt = tbl(rn)
        val joinKind = pick(r, Seq("JOIN", "LEFT JOIN"))
        val where = if (r.nextBoolean()) s"WHERE ${predicate(r, lt, "a.", pools)} " else ""
        if (r.nextBoolean()) { // aggregated join
          val keyPool = rt.of(S).filter(c => pools.strVals.contains((rn, c.name))) ++ rt.of(I)
          val key = pick(r, keyPool)
          val aggs = (0 until (1 + r.nextInt(2))).map(k => aggExpr(r, lt, "a.", k))
          s"SELECT b.${key.name}, ${aggs.map(_._1).mkString(", ")} FROM $ln a " +
            s"$joinKind $rn b ON a.$lc = b.$rc ${where}GROUP BY b.${key.name} " +
            s"ORDER BY b.${key.name} NULLS FIRST LIMIT 500"
        } else { // row-level join projection
          val lcols = (0 until (1 + r.nextInt(2))).map(_ => pick(r, lt.cols))
          val rcols = (0 until (1 + r.nextInt(2))).map(_ => pick(r, rt.cols))
          val projs = lcols.zipWithIndex.map { case (c, k) => s"a.${c.name} AS la_$k" } ++
            rcols.zipWithIndex.map { case (c, k) => s"b.${c.name} AS rb_$k" }
          val aliases = lcols.indices.map(k => s"la_$k") ++ rcols.indices.map(k => s"rb_$k")
          s"SELECT ${projs.mkString(", ")} FROM $ln a $joinKind $rn b ON a.$lc = b.$rc " +
            s"$where" +
            s"ORDER BY ${aliases.map(_ + " NULLS FIRST").mkString(", ")} LIMIT 500"
        }
    }
    (name, sql)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val n = if (args.length > 2) args(2).toInt else 200
    val seedBase = if (args.length > 3) args(3).toLong else 42000L
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (t <- tables)
      spark.read.parquet(s"$sfDir/${t.name}.parquet").createOrReplaceTempView(t.name)
    val pools = samplePools(spark, sfDir)

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val manifest = mapper.createObjectNode()
    var failed = 0
    for (i <- 0 until n) {
      val (name, sql) = gen(i, seedBase, pools)
      try {
        spark.sql(sql).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        manifest.put(name, sql)
        if (i % 25 == 0) println(s"[fuzz] $name ok  seed=${seedBase + i}")
      } catch {
        case e: Exception =>
          failed += 1
          println(s"[fuzz] SPARK-SIDE FAIL $name seed=${seedBase + i}: ${e.getMessage.take(300)}\n  $sql")
      }
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/fuzz_sql.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(manifest))
    println(s"[fuzz] wrote ${n - failed}/$n queries to $outDir (seedBase=$seedBase)")
    // stop BEFORE a failure exit so the listener bus drains and temp dirs
    // are cleaned instead of relying on JVM shutdown hooks
    spark.stop()
    if (failed > 0) sys.exit(2)
  }
}
