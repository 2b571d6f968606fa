package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB-equivalent `oracleSql` for each
  * SQL-expressible operator.
  *
  * Conventions for oracle parity:
  *  - every query has a deterministic total ORDER BY on both sides;
  *  - event-time windows order by `ts_ms` = epoch milliseconds as BIGINT
  *    (the reference requires Timestamp(ms)/Int64-ms order columns —
  *    src/runtime/watermark/manager.rs:96-135 — and this also sidesteps
  *    ns-vs-us truncation differences between engines);
  *  - double aggregates are rounded on both sides; ML-aggregate string
  *    outputs use the reference's 6-decimal trimmed float format.
  */
object SparkEntry {

  /** DuckDB rendition of the reference's format_float (top/format.rs:3-11). */
  private def fm(x: String): String = s"rtrim(rtrim(printf('%.6f', $x), '0'), '.')"

  private def sqlQuery(sparkSql: String): (SparkSession, String) => DataFrame =
    (spark, dir) => { GraftSession.prepare(spark, dir); spark.sql(sparkSql) }

  // (the r11-r19 materializeView helper — persist(DISK_ONLY) + count
  // barrier for double-referenced CTEs — is gone: its two users, tpch
  // q2/q11, now express the second reference as a window over the first
  // (see those entries), so nothing needs a mid-query persist anymore)

  /** Flagship query on sf=0.001 (README.md:105-146 shape: join + windowed
    * aggregates + ML top/cate functions); driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.prepare(spark, "/root/testdata/sf0.001")
    spark.sql("""
      SELECT c.c_custkey, c.c_name,
             count(*) AS num_orders,
             round(sum(o.o_totalprice), 2) AS total_spent,
             top(o.o_totalprice, 3) AS top_order_amounts,
             topn_frequency(o.o_orderpriority, 2) AS frequent_priorities,
             sum_cate(o.o_totalprice, o.o_orderstatus) AS spend_by_status,
             count_where(o.o_totalprice, o.o_totalprice > 100000) AS big_orders
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey, c.c_name
      ORDER BY c.c_custkey
    """)
  }

  // ---------------------------------------------------------------------
  // Query catalog: name -> (spark query, duckdb oracle)
  // ---------------------------------------------------------------------

  private case class Q(spark: (SparkSession, String) => DataFrame, oracle: Option[String])

  private def both(sql: String): Q = Q(sqlQuery(sql), Some(sql))
  private def split(sparkSql: String, duckSql: String): Q = Q(sqlQuery(sparkSql), Some(duckSql))

  /** Spark-side events with a ms epoch (ts reads as BIGINT nanos — see
    * GraftSession.prepare); DuckDB reads ts as TIMESTAMP_NS and uses epoch_ms.
    * `value_c` is the value in exact integer cents: windowed float sums are
    * order-sensitive at the ulp level and engines aggregate frames in
    * different orders (Spark per-frame scan vs DuckDB segment tree), so
    * per-row-emitting window queries aggregate integers and convert at the
    * end — deterministic and exact in both engines. */
  private val eventsMsSpark =
    "(SELECT *, ts DIV 1000000 AS ts_ms, CAST(round(value * 100) AS BIGINT) AS value_c FROM events)"
  private val eventsMsDuck =
    "(SELECT *, epoch_ms(ts) AS ts_ms, CAST(round(value * 100) AS BIGINT) AS value_c FROM events)"

  /** One SQL template, two engines: __EV__ expands to the per-engine events view. */
  private def evQ(sql: String): Q =
    split(sql.replace("__EV__", eventsMsSpark), sql.replace("__EV__", eventsMsDuck))

  /** The q_ts_profile_sim profile fold. */
  private val tspsProfSql: String =
    s"""SELECT user_id, (ts_ms DIV 86400000) % 8 AS b,
        CAST(sum(value_c) AS BIGINT) AS v
        FROM $eventsMsSpark GROUP BY user_id, 2"""

  /** State partitions for the streaming entries that set their own:
    * every state store pays a fixed commit/maintenance cost per trigger
    * whatever its row count (measured r6 at sf0.1 on the stream-stream
    * join: addBatch 8.6 s at 32 partitions vs 2.4 s at 4, same 59k state
    * rows), so the session default of 32 buys hundreds of store commits
    * for a few thousand state rows. 8 carries every entry's state volume
    * with headroom. */
  private val StateParts = "8"

  /** `SPARK_GRAFT_STATE_PROVIDER=rocksdb` (scripts/rocksdb_sweep.sh, which
    * also sets it session-wide through Verify) reaches the entries that
    * set the provider inside their own `StateStoreConf.withSaved`: the
    * inner stream-stream join and the streaming dedups. */
  private def rocksDbForced: Boolean =
    sys.env.get("SPARK_GRAFT_STATE_PROVIDER").contains("rocksdb")

  private lazy val catalog: Map[String, Q] = {

    val m = Map.newBuilder[String, Q]

    // ---------------- projection / filter / scalar exprs (SURVEY §2.2) ----
    m += "q_select_proj" -> both("""
      SELECT event_id, user_id, value * 2 AS value2,
             concat(event_type, '_', cast(user_id AS string)) AS tag
      FROM events ORDER BY event_id""")

    m += "q_filter" -> both("""
      SELECT event_id, value FROM events
      WHERE event_type = 'click' AND value > 5.0 ORDER BY event_id""")

    m += "q_where_in" -> both("""
      SELECT event_id, event_type FROM events
      WHERE event_type IN ('purchase', 'signup') ORDER BY event_id""")

    m += "q_where_between" -> both("""
      SELECT event_id, value FROM events
      WHERE value BETWEEN 10.0 AND 20.0 ORDER BY event_id""")

    m += "q_where_like" -> both("""
      SELECT p_partkey, p_name FROM part
      WHERE p_name LIKE '%red%' ORDER BY p_partkey""")

    m += "q_case_when" -> both("""
      SELECT event_id,
             CASE WHEN value > 20.0 THEN 'high'
                  WHEN value > 10.0 THEN 'mid'
                  ELSE 'low' END AS bucket
      FROM events ORDER BY event_id""")

    m += "q_where_complex" -> both("""
      SELECT event_id, user_id, value FROM events
      WHERE (event_type = 'click' OR event_type = 'view')
        AND NOT (value < 2.0) AND user_id % 2 = 0
      ORDER BY event_id""")

    // ---------------- group-by aggregation (SURVEY §2.5) ------------------
    m += "q_groupby_count" -> both("""
      SELECT event_type, count(*) AS cnt FROM events
      GROUP BY event_type ORDER BY event_type""")

    m += "q_groupby_sum_avg" -> both("""
      SELECT event_type,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_value,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 / count(value) AS avg_value
      FROM events GROUP BY event_type ORDER BY event_type""")

    m += "q_groupby_minmax" -> both("""
      SELECT user_id, min(value) AS min_value, max(value) AS max_value,
             count(*) AS cnt
      FROM events GROUP BY user_id ORDER BY user_id""")

    m += "q_having" -> both("""
      SELECT user_id, count(*) AS cnt FROM events
      GROUP BY user_id HAVING count(*) > 60 ORDER BY user_id""")

    m += "q_count_distinct" -> split(
      """SELECT event_type, count(DISTINCT user_id) AS n_users FROM events
         GROUP BY event_type ORDER BY event_type""",
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events
         GROUP BY event_type ORDER BY event_type""")

    // KMV distinct-count sketch (functions/Sketches.scala): O(k) state per
    // group vs exact count-distinct's full-value shuffle. Deterministic on
    // the engine-portable md5-prefix hash, so DuckDB replays the estimate
    // bit-for-bit (k smallest distinct hashes via row_number; exact when a
    // group has fewer than k distinct hashes).
    m += "q_approx_distinct" -> split(
      """SELECT o_orderpriority,
               kmv_distinct(CAST(conv(substring(md5(CAST(o_custkey AS STRING)), 1, 15), 16, 10)
                                 AS BIGINT), 32) AS approx_custs,
               count(DISTINCT o_custkey) AS exact_custs
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
      """WITH ex AS (
           SELECT o_orderpriority AS g, CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs
           FROM orders GROUP BY 1
         ), h AS (
           SELECT DISTINCT o_orderpriority AS g,
                  CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
           FROM orders
         ), r AS (
           SELECT g, hv, row_number() OVER (PARTITION BY g ORDER BY hv) AS rn,
                  count(*) OVER (PARTITION BY g) AS n
           FROM h
         )
         SELECT r.g AS o_orderpriority,
                CASE WHEN n < 32 THEN CAST(n AS DOUBLE)
                     ELSE 31.0 * 1152921504606846976 / CAST(hv AS DOUBLE) END AS approx_custs,
                ex.exact_custs
         FROM r JOIN ex ON r.g = ex.g
         WHERE rn = CASE WHEN n < 32 THEN n ELSE 32 END
         ORDER BY o_orderpriority""")

    // Deterministic quantile sketch, completing the sketch family (KMV
    // distinct, CMS frequency, THIS for rank): a hash-reservoir — the 64
    // rows with the smallest md5(event_id) per group are a uniform (but
    // deterministic, hence oracle-replayable) sample; quantiles come from
    // the sorted sample at floor(q*(n-1)). Mergeable the KMV way (union
    // partial samples, re-take the 64 smallest hashes); bounded O(k)
    // state per group vs an exact quantile's full-sort. Both engines rank
    // the identical md5 hex strings, so the estimate matches bit-for-bit.
    m += "q_quantile_sketch" -> split(
      s"""WITH r AS (
           SELECT event_type, value_c,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY md5(CAST(event_id AS STRING)), event_id) AS rn
           FROM $eventsMsSpark),
         s AS (SELECT event_type, sort_array(collect_list(value_c)) AS v
               FROM r WHERE rn <= 64 GROUP BY event_type)
         SELECT event_type, CAST(size(v) AS BIGINT) AS k,
                element_at(v, CAST(floor(0.5 * (size(v) - 1)) AS INT) + 1) AS p50_c,
                element_at(v, CAST(floor(0.9 * (size(v) - 1)) AS INT) + 1) AS p90_c
         FROM s ORDER BY event_type""",
      s"""WITH r AS (
           SELECT event_type, value_c,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
           FROM $eventsMsDuck),
         s AS (SELECT event_type, list_sort(list(value_c)) AS v
               FROM r WHERE rn <= 64 GROUP BY event_type)
         SELECT event_type, CAST(len(v) AS BIGINT) AS k,
                v[CAST(floor(0.5 * (len(v) - 1)) AS INT) + 1] AS p50_c,
                v[CAST(floor(0.9 * (len(v) - 1)) AS INT) + 1] AS p90_c
         FROM s ORDER BY event_type""")

    // Weighted variant: inverse-probability weights make the sample's
    // aggregates unbiased estimates (Horvitz–Thompson). Every term is an
    // exact integer times an exact power-of-rates double, so the sums are
    // order-independent and engine-identical.
    m += "q_sample_weighted" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        import org.apache.spark.sql.functions.{col, count, expr, sum}
        graft.operators.Sampling.stratifiedSampleWeighted(
          s.table("events"), idCol = "event_id", strataCol = "event_type",
          pctByStratum = Map("view" -> 5, "click" -> 20), defaultPct = 100)
          .groupBy("event_type")
          .agg(count(col("*")).as("n_sampled"),
            sum(expr("CAST(round(value * 100) AS BIGINT) * weight")).as("est_value_c"))
          .orderBy("event_type")
      },
      Some("""
      SELECT event_type, count(*) AS n_sampled,
             sum(CAST(round(value * 100) AS BIGINT)
                 * (100.0 / CASE event_type WHEN 'view' THEN 5 WHEN 'click' THEN 20 ELSE 100 END))
               AS est_value_c
      FROM (
        SELECT *, (CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 2147483647) % 100 AS slot
        FROM events
      )
      WHERE slot < CASE event_type WHEN 'view' THEN 5 WHEN 'click' THEN 20 ELSE 100 END
      GROUP BY event_type ORDER BY event_type"""))

    // Deterministic stratified sampling (operators/Sampling.scala):
    // hash-of-id predicate, reproducible row-for-row across engines —
    // the oracle replays the exact same sample.
    m += "q_sample_stratified" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        import org.apache.spark.sql.functions.{count, sum, col, expr}
        val sampled = graft.operators.Sampling.stratifiedSample(
          s.table("events"), idCol = "event_id", strataCol = "event_type",
          pctByStratum = Map("view" -> 5, "click" -> 20), defaultPct = 100)
        sampled.groupBy("event_type")
          .agg(count(col("*")).as("n_sampled"),
            (sum(expr("CAST(round(value * 100) AS BIGINT)")).cast("double") / 100)
              .as("sampled_value"))
          .orderBy("event_type")
      },
      Some("""
      SELECT event_type, count(*) AS n_sampled,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS sampled_value
      FROM (
        SELECT *, (CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 2147483647) % 100 AS slot
        FROM events
      )
      WHERE slot < CASE event_type WHEN 'view' THEN 5 WHEN 'click' THEN 20 ELSE 100 END
      GROUP BY event_type ORDER BY event_type"""))

    // Multi-level aggregation: ROLLUP produces the (flag, status),
    // (flag, ALL), (ALL, ALL) grouping sets in one pass (Spark expands
    // grouping sets before the hash aggregate — still partial-aggregated).
    // NULLS FIRST is explicit: Spark and DuckDB default null order differ.
    m += "q_rollup" -> both("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS revenue,
             count(*) AS n
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")

    // CUBE: all four grouping sets — (flag,status), (flag), (status), ()
    // — expanded before ONE partial-aggregated hash aggregate, closing the
    // grouping-set surface the reference explicitly lacks
    // (logical_optimizer_examples.rs:72-74 lists grouping sets as
    // unsupported). Same scale shape as ROLLUP: the expand multiplies rows
    // 4x BEFORE the map-side combine, so the shuffle still carries only
    // group keys.
    m += "q_cube" -> both("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS revenue,
             count(*) AS n
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")

    // Explicit GROUPING SETS: an arbitrary set list (here: per-flag and
    // per-status marginals WITHOUT the (flag,status) cross), plus
    // GROUPING() to disambiguate real NULL keys from set placeholders —
    // both engines compute it natively.
    m += "q_grouping_sets" -> both("""
      SELECT l_returnflag, l_linestatus,
             CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
             CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_qty,
             count(*) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")

    // Exact median over integer cents: even-count groups average the two
    // middle integers — the same halves in both engines' doubles.
    // (plain GROUP BY median = the BUILTIN aggregate in both engines;
    // graft_median is the separately-registered window-capable twin)
    m += "q_median" -> both("""
      SELECT user_id, median(CAST(round(value * 100) AS BIGINT)) AS median_c
      FROM events GROUP BY user_id ORDER BY user_id""")

    // Exact-integer money arithmetic (cents / basis points), converted to
    // double once at the end: bit-identical across engines, no rounding.
    m += "q1_agg" -> both("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_qty,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_base_price,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000
               AS sum_disc_price,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 / count(*) AS avg_qty,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 / count(*) AS avg_price,
             count(*) AS count_order
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")

    // ---------------- joins (SURVEY §2.4; reference stub — we exceed) -----
    m += "q_join_inner" -> both("""
      SELECT c.c_mktsegment, count(*) AS n_orders,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS total
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""")

    m += "q_join_multi" -> both("""
      SELECT n.n_name, r.r_name,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000
               AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY n.n_name, r.r_name ORDER BY n.n_name, r.r_name""")

    m += "q_join_left" -> both("""
      SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey ORDER BY c.c_custkey""")

    m += "q_join_semi" -> both("""
      SELECT c_custkey, c_name FROM customer
      WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
      ORDER BY c_custkey""")

    m += "q_join_anti" -> both("""
      SELECT c_custkey, c_name FROM customer
      WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
      ORDER BY c_custkey""")

    // FULL OUTER: both sides pre-aggregated (partial-agg shuffles), so
    // the join itself is tiny-on-tiny; nations missing a side surface as
    // coalesced zeros rather than dropped rows.
    m += "q_join_full" -> both("""
      WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY c_nationkey),
           s AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY s_nationkey)
      SELECT coalesce(c.nk, s.nk) AS nk,
             CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
             CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp
      FROM c FULL OUTER JOIN s ON c.nk = s.nk
      ORDER BY nk""")

    // Salted skew-spreading join (operators/Skew.saltedJoin): row-identical
    // to the plain join — the oracle IS the plain join — while each key
    // spreads over 8 shuffle buckets (the planned skew mitigation for the
    // cases AQE's runtime skew-split can't touch). SkewSpec pins the
    // hot-key spread and the (key, salt) partitioning.
    m += "q_join_salted" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        import org.apache.spark.sql.functions.{col, count, expr, lit, sum}
        val dim = s.table("customer").select(
          col("c_custkey").as("o_custkey"), col("c_mktsegment"))
        graft.operators.Skew.saltedJoin(s.table("orders"), dim, "o_custkey", 8)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            (sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).cast("double") / 100)
              .as("total"))
          .orderBy("c_mktsegment")
      },
      Some("""
      SELECT c.c_mktsegment, count(*) AS n_orders,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS total
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"""))

    // ---------------- temporal joins (beyond reference §2.4) ---------------
    // Point-in-time as-of join — the feature-store backfill primitive: each
    // click attaches the user's latest purchase at-or-before it (48 h
    // tolerance). Spark has no native operator; TemporalJoins.asofJoin runs
    // it as union + one keyed window pass (the sort-merge-join shuffle
    // shape). Oracle: DuckDB's native ASOF LEFT JOIN + the same tolerance;
    // its right side pre-aggregates to max(value_c) per (user, ts) because
    // ASOF picks an ARBITRARY row among equal timestamps while asofJoin
    // deterministically takes the largest payload — same result, made
    // explicit so duplicate-ts data can never flake the hash compare.
    m += "q_join_asof" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        val ev = s.sql(s"SELECT * FROM $eventsMsSpark")
        val out = graft.operators.TemporalJoins.asofJoin(
          ev.where("event_type = 'click'").select("event_id", "user_id", "ts_ms"),
          ev.where("event_type = 'purchase'"),
          keyCols = Seq("user_id"), leftTsCol = "ts_ms", rightTsCol = "ts_ms",
          rightCols = Seq("value_c"), rightPrefix = "p_",
          toleranceMs = Some(172800000L))
        out.orderBy("event_id")
      },
      Some(s"""
      SELECT l.event_id, l.user_id, l.ts_ms,
             CASE WHEN l.ts_ms - r.ts_ms <= 172800000 THEN r.ts_ms END AS p_ts_ms,
             CASE WHEN l.ts_ms - r.ts_ms <= 172800000 THEN r.value_c END AS p_value_c
      FROM (SELECT event_id, user_id, ts_ms FROM $eventsMsDuck WHERE event_type = 'click') l
      ASOF LEFT JOIN (SELECT user_id, ts_ms, max(value_c) AS value_c
                      FROM $eventsMsDuck WHERE event_type = 'purchase'
                      GROUP BY user_id, ts_ms) r
        ON l.user_id = r.user_id AND l.ts_ms >= r.ts_ms
      ORDER BY l.event_id"""))

    // Event-sequence pattern detection (CEP-lite, the MATCH_RECOGNIZE
    // shape a funnel can't express): STRICTLY CONSECUTIVE
    // view -> click -> purchase triples per user completing within 24 h.
    // One keyed window pass (two lags share one sort), no self-joins —
    // the n-way event self-join formulation explodes at scale.
    m += "q_pattern_seq" -> evQ("""
      WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type, 2) OVER w AS t2,
               lag(event_type, 1) OVER w AS t1,
               ts_ms - lag(ts_ms, 2) OVER w AS span_ms
        FROM __EV__
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id))
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_patterns
      FROM seq
      WHERE t2 = 'view' AND t1 = 'click' AND event_type = 'purchase'
        AND span_ms <= 86400000
      GROUP BY user_id ORDER BY user_id""")

    // Time-series similarity search (the streaming-data similarity-search
    // shape, EDBT 2019): each user's event stream folds to an 8-slot
    // integer activity profile (value cents per day-of-cycle), and the
    // query user's nearest neighbors rank by exact-integer cosine. The
    // profile build is one partial-agg shuffle; the scoring joins the
    // ONE query profile against per-user profiles on the slot index —
    // never a user x user cross join.
    // Spark side (r11 reshape): the original 5-CTE join formulation
    // (prof joined to itself, to qid twice, to norms twice) re-derived
    // `prof` per reference and paid ~10 AQE/broadcast job rounds of
    // fixed overhead on 12k tiny rows — 6-8 s of pure orchestration
    // ([tsps] counters attribute it). Windows collapse it to ONE pass:
    // the query user's slot value lands on every row of its bucket via
    // max(CASE) OVER (PARTITION BY b), the query norm via one global
    // window, and dot/norms fold in a single grouped agg — 3 exchanges
    // total, identical output (exact-integer sums, one final division).
    // HAVING count(qv) > 0 keeps the join form's row set exactly: a
    // user sharing NO bucket with the query user is omitted (the join
    // form has no match for it), not emitted with dot=0.
    m += "q_ts_profile_sim" -> split(
      s"""WITH prof AS ($tspsProfSql),
         w1 AS (SELECT user_id, b, v, min(user_id) OVER () AS qu FROM prof),
         w2 AS (SELECT user_id, b, v, qu,
                       max(CASE WHEN user_id = qu THEN v END) OVER (PARTITION BY b) AS qv,
                       sum(CASE WHEN user_id = qu THEN v * v END) OVER () AS qn2
                FROM w1),
         dots AS (SELECT user_id AS nn_id,
                         CAST(sum(v * coalesce(qv, 0)) AS BIGINT) AS dot,
                         CAST(sum(v * v) AS BIGINT) AS n2,
                         CAST(min(qn2) AS BIGINT) AS qn2
                  FROM w2 WHERE user_id <> qu GROUP BY user_id
                  HAVING count(qv) > 0)
         SELECT nn_id,
                CAST(dot AS DOUBLE) /
                (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE))) AS cosine
         FROM dots ORDER BY cosine DESC, nn_id LIMIT 5""",
      s"""WITH prof AS (SELECT user_id, (ts_ms // 86400000) % 8 AS b,
                               CAST(sum(value_c) AS BIGINT) AS v
                        FROM $eventsMsDuck GROUP BY user_id, 2),
         n AS (SELECT user_id, CAST(sum(v * v) AS BIGINT) AS n2 FROM prof GROUP BY user_id),
         qid AS (SELECT min(user_id) AS qu FROM prof),
         dots AS (SELECT p.user_id AS nn_id, CAST(sum(p.v * q.v) AS BIGINT) AS dot
                  FROM prof p JOIN prof q ON p.b = q.b
                  JOIN qid ON q.user_id = qid.qu
                  WHERE p.user_id <> qid.qu GROUP BY p.user_id)
         SELECT d.nn_id,
                CAST(d.dot AS DOUBLE) /
                (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE))) AS cosine
         FROM dots d
         JOIN qid ON 1 = 1
         JOIN n nq ON nq.user_id = qid.qu
         JOIN n nn ON nn.user_id = d.nn_id
         ORDER BY cosine DESC, d.nn_id LIMIT 5""")

    // Correlated scalar subquery — Catalyst de-correlates it into an
    // aggregate + join (one shuffle), never a per-row re-execution:
    // each customer's orders at that customer's own maximum price.
    m += "q_scalar_subquery" -> both("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders o
      WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
                            WHERE o2.o_custkey = o.o_custkey)
      ORDER BY o_orderkey""")

    // LATERAL correlated subquery (the per-row top-N dependent join):
    // each nation's 2 highest-balance suppliers. Catalyst rewrites the
    // LATERAL LIMIT into a ranked window under a join — same
    // WindowGroupLimit pruning as q_topk_per_group, expressed in the
    // SQL-standard dependent-join form.
    m += "q_lateral" -> both("""
      SELECT n_name, s.s_suppkey, s.s_acctbal
      FROM nation, LATERAL (
        SELECT s_suppkey, s_acctbal FROM supplier
        WHERE s_nationkey = n_nationkey
        ORDER BY s_acctbal DESC, s_suppkey LIMIT 2) s
      ORDER BY n_name, s.s_acctbal DESC, s.s_suppkey""")

    // TPC-H Q3 (shipping priority): the canonical 3-way join + agg +
    // top-k. Revenue aggregates in exact integer cent-percent units
    // (price cents x (100 - discount percent) — both exact in this data)
    // so the hash compare never sees float sum ordering; TakeOrdered
    // forwards 10 rows per partition. Date filters compare DATE-cast
    // values — identical calendar semantics in both engines.
    m += "q_tpch_q3" -> both("""
      SELECT l_orderkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                      (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_cp,
             CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
      FROM customer JOIN orders ON c_custkey = o_custkey
                    JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND CAST(o_orderdate AS DATE) < DATE '1998-06-01'
        AND CAST(l_shipdate AS DATE) > DATE '1998-06-01'
      GROUP BY l_orderkey, 3, o_orderpriority
      ORDER BY revenue_cp DESC, l_orderkey LIMIT 10""")

    // TPC-H Q5 (local supplier volume): the 6-way snowflake join with the
    // c_nationkey = s_nationkey cross-dimension constraint. Dimension
    // chain (region->nation->supplier) broadcasts under AQE's measured
    // threshold; the fact-side shuffles stay on the join keys.
    m += "q_tpch_q5" -> both("""
      SELECT n_name,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                      (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_cp
      FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
      GROUP BY n_name ORDER BY revenue_cp DESC, n_name""")

    // TPC-H Q1 (pricing summary): the canonical wide-aggregate scan — 8
    // aggregates over one filtered pass, the map-side-partial +
    // one-exchange shape every OLAP engine is judged on. Money terms
    // aggregate in exact integer cent(-percent) units; avg terms divide
    // the exact sums once at the end, so the only doubles in the output
    // are single divisions of integers (bit-identical across engines).
    m += "q_tpch_q1" -> both("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_c,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                      (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_cp,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                      (100 - CAST(round(l_discount * 100) AS BIGINT)) *
                      (100 + CAST(round(l_tax * 100) AS BIGINT))) AS BIGINT) AS sum_charge_cpp,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / count(*) / 100 AS avg_price,
             CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / count(*) / 100 AS avg_disc,
             CAST(count(*) AS BIGINT) AS count_order
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")

    // TPC-H Q17 (small-quantity-order revenue): correlated AVG subquery
    // against the same fact table — Catalyst de-correlates it into an
    // aggregate on p_partkey joined back to lineitem (one exchange reuse),
    // never a per-row re-scan. The 0.2*avg threshold compares in exact
    // integer units: qty*10 < 2*avg_scaled where avg is carried as the
    // exact (sum, count) pair.
    m += "q_tpch_q17" -> both("""
      SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_c
      FROM lineitem l
      JOIN part ON p_partkey = l.l_partkey
      JOIN (SELECT l_partkey,
                   CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sq,
                   CAST(count(*) AS BIGINT) AS cq
            FROM lineitem GROUP BY l_partkey) a
        ON a.l_partkey = l.l_partkey
      WHERE p_brand = 'Brand#13'
        AND CAST(round(l.l_quantity) AS BIGINT) * cq * 5 < sq""")

    // TPC-H Q20 (potential part promotion): NESTED IN chains — suppliers
    // IN (partsupp-less variant: suppliers of parts IN a name filter whose
    // shipped quantity clears a per-(part,supplier) aggregate threshold).
    // Two stacked left-semi joins, the inner one against an aggregate of
    // the fact table — the shape where a naive planner re-scans lineitem
    // per supplier and Catalyst must not.
    m += "q_tpch_q20" -> both("""
      SELECT s_name, s_acctbal
      FROM supplier
      WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'cold%')
        GROUP BY l_suppkey, l_partkey
        HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 50)
      ORDER BY s_name""")

    // TPC-H Q18 (large-volume customer): agg-of-agg — an IN subquery whose
    // HAVING re-aggregates the same fact table, then a 3-way join + final
    // group + top-k. Catalyst plans the IN as a left-semi hash join on
    // l_orderkey (both aggregations map-side partial), and the LIMIT 100
    // becomes TakeOrderedAndProject — no global sort materializes. Quantity
    // sums in exact BIGINT units, price in cents, so the hash compare never
    // sees float ordering. Reference flagship join/agg workload:
    // /root/reference/README.md:105-146.
    m += "q_tpch_q18" -> both("""
      SELECT c_name, c_custkey, o_orderkey,
             CAST(o_orderdate AS DATE) AS orderdate,
             CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_c,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
      FROM customer JOIN orders ON c_custkey = o_custkey
                    JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey
                           HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 300)
      GROUP BY c_name, c_custkey, o_orderkey, 4, 5
      ORDER BY totalprice_c DESC, o_orderkey LIMIT 100""")

    // TPC-H Q21 (suppliers who kept orders waiting): the multi-anti/semi-
    // join chain — the one join physics no other catalog entry exercises:
    // a correlated EXISTS (left-semi on l_orderkey with a suppkey
    // inequality residual) stacked on a correlated NOT EXISTS (left-anti,
    // same key, extra residual). This testdata has no receipt/commit dates,
    // so "late" is expressed as l_returnflag = 'R' — the join topology
    // (fact->semi(fact)->anti(fact)->dims) is identical to the canonical
    // form. Both EXISTS probes shuffle on l_orderkey, the same key as the
    // orders join, so AQE coalesces them into one exchange reuse.
    m += "q_tpch_q21" -> both("""
      SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      FROM lineitem l1
      JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
      JOIN supplier ON s_suppkey = l1.l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_13'
        AND l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY s_name
      ORDER BY numwait DESC, s_name LIMIT 100""")

    // TPC-H Q4 (order priority checking), adapted to this corpus: the
    // driver testdata carries no l_commitdate/l_receiptdate, so the
    // EXISTS predicate is "some line shipped after the order date" —
    // same shape (date-windowed fact filter + correlated EXISTS that
    // must plan as a left-semi hash join, then a small-group count).
    m += "q_tpch_q4" -> both("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey
                      AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE))
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")

    // TPC-H Q6 (forecasting revenue change): the pure-scan query — one
    // table, conjunctive range predicates that must ALL reach the
    // parquet reader (plan-pinned), one global agg. Revenue aggregates
    // in exact integer cents^2 (price-cents x discount-cents) — float
    // sums are order-sensitive across engines.
    m += "q_tpch_q6" -> both("""
      SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                      CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_cp
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24""")

    // TPC-H Q14 (promotion effect): fact-dimension join + conditional
    // aggregation. The promo share emits as exact integer numerator /
    // denominator (cents^2) plus ONE double division at the end — a
    // single IEEE op on identical integers is deterministic across
    // engines, unlike comparing float SUMS.
    m += "q_tpch_q14" -> both("""
      SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
                           THEN CAST(round(l_extendedprice * 100) AS BIGINT) *
                                (100 - CAST(round(l_discount * 100) AS BIGINT))
                           ELSE 0 END) AS BIGINT) AS promo_cp,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                      (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_cp,
             CAST(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                           THEN CAST(round(l_extendedprice * 100) AS BIGINT) *
                                (100 - CAST(round(l_discount * 100) AS BIGINT))
                           ELSE 0 END) AS BIGINT) AS DOUBLE) /
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                        (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
               AS promo_revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1996-07-01'""")

    // Multi-table point-in-time feature retrieval — the feature-store
    // query: a label frame (signups) backfills features from SEVERAL
    // feature tables, each as-of the label timestamp with no leakage.
    // Composed as two chained as-of joins; each is the one-keyed-window
    // union shape (no nested loop). Plan: exactly one hash exchange per
    // joined feature table (plan-checked) — the minimum, since each new
    // table's rows must co-locate with the labels.
    m += "q_pit_multi" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        val ev = s.sql(s"SELECT * FROM $eventsMsSpark")
        val labels = ev.where("event_type = 'signup'")
          .select("event_id", "user_id", "ts_ms")
        val withPurchase = graft.operators.TemporalJoins.asofJoin(
          labels, ev.where("event_type = 'purchase'"),
          keyCols = Seq("user_id"), leftTsCol = "ts_ms", rightTsCol = "ts_ms",
          rightCols = Seq("value_c"), rightPrefix = "p_")
        val withClick = graft.operators.TemporalJoins.asofJoin(
          withPurchase, ev.where("event_type = 'click'"),
          keyCols = Seq("user_id"), leftTsCol = "ts_ms", rightTsCol = "ts_ms",
          rightCols = Seq("value_c"), rightPrefix = "c_")
        withClick.orderBy("event_id")
      },
      Some(s"""
      SELECT l.event_id, l.user_id, l.ts_ms,
             p.ts_ms AS p_ts_ms, p.value_c AS p_value_c,
             c.ts_ms AS c_ts_ms, c.value_c AS c_value_c
      FROM (SELECT event_id, user_id, ts_ms FROM $eventsMsDuck
            WHERE event_type = 'signup') l
      ASOF LEFT JOIN (SELECT user_id, ts_ms, max(value_c) AS value_c
                      FROM $eventsMsDuck WHERE event_type = 'purchase'
                      GROUP BY user_id, ts_ms) p
        ON l.user_id = p.user_id AND l.ts_ms >= p.ts_ms
      ASOF LEFT JOIN (SELECT user_id, ts_ms, max(value_c) AS value_c
                      FROM $eventsMsDuck WHERE event_type = 'click'
                      GROUP BY user_id, ts_ms) c
        ON l.user_id = c.user_id AND l.ts_ms >= c.ts_ms
      ORDER BY l.event_id"""))

    // Forward as-of: each click attaches the user's NEXT signup at-or-after
    // it (the "time-to-conversion" backfill shape). DuckDB ASOF only does
    // backward, so the oracle negates both timestamps — greatest negated
    // ts at-or-before = smallest real ts at-or-after.
    m += "q_join_asof_fwd" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        val ev = s.sql(s"SELECT * FROM $eventsMsSpark")
        graft.operators.TemporalJoins.asofJoin(
          ev.where("event_type = 'click'").select("event_id", "user_id", "ts_ms"),
          ev.where("event_type = 'signup'"),
          keyCols = Seq("user_id"), leftTsCol = "ts_ms", rightTsCol = "ts_ms",
          rightCols = Seq("value_c"), rightPrefix = "s_",
          direction = "forward")
          .orderBy("event_id")
      },
      Some(s"""
      SELECT l.event_id, l.user_id, l.ts_ms,
             -r.neg_ts AS s_ts_ms, r.value_c AS s_value_c
      FROM (SELECT event_id, user_id, ts_ms, -ts_ms AS neg_ts
            FROM $eventsMsDuck WHERE event_type = 'click') l
      ASOF LEFT JOIN (SELECT user_id, -ts_ms AS neg_ts, max(value_c) AS value_c
                      FROM $eventsMsDuck WHERE event_type = 'signup'
                      GROUP BY user_id, ts_ms) r
        ON l.user_id = r.user_id AND l.neg_ts >= r.neg_ts
      ORDER BY l.event_id"""))

    // Bounded interval join (Flink interval-join semantics): each click
    // pairs with the same user's errors from the preceding 24 h, then
    // aggregates per click. TemporalJoins.rangeJoin bucketizes event time
    // so the plan is a plain equi-join on (key, bucket) — never the
    // BroadcastNestedLoopJoin Spark would pick for the raw inequality.
    m += "q_join_range" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        import org.apache.spark.sql.functions.{col, count, sum}
        val ev = s.sql(s"SELECT * FROM $eventsMsSpark")
        graft.operators.TemporalJoins.rangeJoin(
          ev.where("event_type = 'click'").select("event_id", "user_id", "ts_ms"),
          ev.where("event_type = 'error'"),
          keyCols = Seq("user_id"), leftTsCol = "ts_ms", rightTsCol = "ts_ms",
          lowerMs = -86400000L, upperMs = 0L,
          rightCols = Seq("value_c"), rightPrefix = "e_")
          .groupBy("event_id", "user_id")
          .agg(count(col("*")).as("n_err"), sum("e_value_c").as("err_value_c"))
          .orderBy("event_id")
      },
      Some(s"""
      SELECT l.event_id, l.user_id, count(*) AS n_err,
             CAST(sum(r.value_c) AS BIGINT) AS err_value_c
      FROM (SELECT event_id, user_id, ts_ms FROM $eventsMsDuck WHERE event_type = 'click') l
      JOIN (SELECT * FROM $eventsMsDuck WHERE event_type = 'error') r
        ON l.user_id = r.user_id
       AND r.ts_ms BETWEEN l.ts_ms - 86400000 AND l.ts_ms
      GROUP BY l.event_id, l.user_id
      ORDER BY l.event_id"""))

    // STREAM-STREAM interval join (SURVEY §2.4's intended streaming join,
    // run as a REAL streaming query): clicks and errors as two watermarked
    // file streams, inner-joined on user_id with a 24 h event-time range —
    // the watermark + range condition bound the join state (each side
    // evicts rows older than the watermark minus the range), and inner
    // matches emit immediately. Bounded input + processAllAvailable =
    // complete output; the oracle is the same join as plain batch SQL.
    //
    // The equality key is (user_id, 24h time bucket), the same
    // bucketization TemporalJoins.rangeJoin uses in batch: Spark's
    // symmetric-hash join probes EVERY buffered row of the matching key,
    // so keying on user_id alone scans each user's whole in-range history
    // per probe row (measured r6 at sf0.1: ~8.5 s addBatch, ~8M value
    // fetches, identical on HDFS and RocksDB providers — the probe loop,
    // not store writes, was r5's unattributed 9.5 s). The left row
    // explodes into {bucket-1, bucket} (the 24 h range spans at most two
    // 24 h buckets); each (l, r) match satisfies exactly one bucket
    // equality, so no output dedup is needed, and watermark eviction is
    // per-row on event time, unaffected by the extra key column.
    // Stream-static enrichment join — the OTHER streaming join the
    // reference's users run constantly: an event stream enriched with a
    // slowly-changing dimension. The dimension broadcasts explicitly
    // (streaming plans have no AQE to measure it), so every micro-batch
    // probes a local hash map — zero shuffle on the stream side, the
    // only plan that survives 1000 executors x a dimension table. Oracle
    // = the plain batch join.
    m += "q_join_stream_static" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        import org.apache.spark.sql.functions.{broadcast, col}
        val root = GraftSession.tempDir("graft_sst_")
        s.sql(s"""SELECT event_id, user_id, value_c FROM $eventsMsSpark""")
          .coalesce(1).write.parquet(s"$root/in")
        val stream = s.readStream
          .schema(s.read.parquet(s"$root/in").schema).parquet(s"$root/in")
        val dim = broadcast(s.table("customer")
          .select(col("c_custkey"), col("c_mktsegment")))
        val joined = stream.join(dim, stream("user_id") === dim("c_custkey"))
          .select(col("event_id"), col("user_id"), col("value_c"),
            col("c_mktsegment"))
        val q = joined.writeStream.outputMode("append").format("parquet")
          .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
        try q.processAllAvailable() finally q.stop()
        s.read.parquet(s"$root/out").orderBy("event_id")
      },
      Some(s"""
      SELECT e.event_id, e.user_id, e.value_c, c.c_mktsegment
      FROM $eventsMsDuck e JOIN customer c ON e.user_id = c.c_custkey
      ORDER BY e.event_id"""))

    m += "q_join_stream_stream" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        import org.apache.spark.sql.functions.{col, expr, timestamp_millis}
        val ev = s.sql(s"SELECT * FROM $eventsMsSpark")
        val root = GraftSession.tempDir("graft_ssj_")
        ev.where("event_type = 'click'").select("event_id", "user_id", "ts_ms")
          .write.parquet(s"$root/l")
        ev.where("event_type = 'error'").select("event_id", "user_id", "ts_ms", "value_c")
          .write.parquet(s"$root/r")
        // state partitions: a stream-stream join materializes 4 state
        // stores per shuffle partition, each with its fixed per-trigger
        // commit cost (256 store commits of ~65 ms at 32 partitions WAS
        // r5's unattributed 9.5-vs-4.1 s swing) — see StateParts.
        // Conf mutations wrapped from the set onward (ADVICE/VERDICT r19):
        // a throw during stream build/start/stop used to leak the 8-part
        // conf (and the provider override) into every later entry. The
        // provider is set explicitly either way: an earlier pipeline run
        // can leave RocksDB on the session.
        GraftSession.withShuffleParts(s, StateParts) {
        graft.streaming.StateStoreConf.withSaved(s) {
        s.conf.set(graft.streaming.StateStoreConf.ProviderKey,
          if (rocksDbForced) graft.streaming.StateStoreConf.RocksDbProvider
          else graft.streaming.StateStoreConf.HdfsProvider)
        def side(sub: String): DataFrame =
          s.readStream.schema(s.read.parquet(s"$root/$sub").schema)
            .parquet(s"$root/$sub")
            .withColumn("ts", timestamp_millis(col("ts_ms")))
            .withWatermark("ts", "1 hour")
        val l = side("l").withColumn("bkt",
          expr("explode(array(ts_ms DIV 86400000 - 1, ts_ms DIV 86400000))"))
        val r = side("r").withColumn("bkt", expr("ts_ms DIV 86400000"))
        val joined = l.as("l").join(r.as("r"),
          expr("""l.user_id = r.user_id AND l.bkt = r.bkt
                  AND r.ts >= l.ts - INTERVAL 24 HOURS AND r.ts <= l.ts"""))
          .select(col("l.event_id").as("event_id"), col("l.user_id").as("user_id"),
            col("l.ts_ms").as("ts_ms"), col("r.event_id").as("e_event_id"),
            col("r.value_c").as("e_value_c"))
        val q = joined.writeStream.outputMode("append").format("parquet")
          .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
        try q.processAllAvailable() finally q.stop()
        s.read.parquet(s"$root/out").orderBy("event_id", "e_event_id")
        }
        }
      },
      Some(s"""
      SELECT l.event_id, l.user_id, l.ts_ms, r.event_id AS e_event_id, r.value_c AS e_value_c
      FROM (SELECT event_id, user_id, ts_ms FROM $eventsMsDuck WHERE event_type = 'click') l
      JOIN (SELECT * FROM $eventsMsDuck WHERE event_type = 'error') r
        ON l.user_id = r.user_id
       AND r.ts_ms BETWEEN l.ts_ms - 86400000 AND l.ts_ms
      ORDER BY l.event_id, e_event_id"""))

    // Stream-stream LEFT OUTER interval join: the canonical Spark form
    // (equality key + time-range condition, watermarks both sides) —
    // unmatched clicks emit their NULL row once the watermark passes the
    // join window. The tail problem is real and handled the FLUSH_TS
    // way: without a watermark push past max(ts) + range + delay, every
    // unmatched click in the last ~25h of event time would stay in state
    // forever and never emit — so each side gets one far-future sentinel
    // row (filtered from the output), mirroring the reference's terminal
    // MAX_WATERMARK flush. No bucket-explode here: the inner entry's bkt
    // trick would DUPLICATE unmatched left rows (one per bucket copy).
    m += "q_join_stream_stream_left" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        import org.apache.spark.sql.functions.{col, expr, lit, timestamp_millis}
        val ev = s.sql(s"SELECT * FROM $eventsMsSpark")
        val maxTs = ev.agg(org.apache.spark.sql.functions.max("ts_ms")).head().getLong(0)
        val root = GraftSession.tempDir("graft_ssjl_")
        def sentinel(cols: (String, org.apache.spark.sql.Column)*): DataFrame =
          ev.limit(1).select(cols.map { case (n, c) => c.as(n) }: _*)
        ev.where("event_type = 'click'").select("event_id", "user_id", "ts_ms")
          .write.parquet(s"$root/l")
        sentinel("event_id" -> lit(-1L), "user_id" -> lit(-1L),
            "ts_ms" -> lit(maxTs + 172800000L))
          .write.mode("append").parquet(s"$root/l")
        ev.where("event_type = 'error'").select("event_id", "user_id", "ts_ms", "value_c")
          .write.parquet(s"$root/r")
        sentinel("event_id" -> lit(-1L), "user_id" -> lit(-1L),
            "ts_ms" -> lit(maxTs + 172800000L), "value_c" -> lit(0L))
          .write.mode("append").parquet(s"$root/r")
        GraftSession.withShuffleParts(s, StateParts) {
        def side(sub: String): DataFrame =
          s.readStream.schema(s.read.parquet(s"$root/$sub").schema)
            .parquet(s"$root/$sub")
            .withColumn("ts", timestamp_millis(col("ts_ms")))
            .withWatermark("ts", "1 hour")
        val joined = side("l").as("l").join(side("r").as("r"),
          expr("""l.user_id = r.user_id
                  AND r.ts >= l.ts - INTERVAL 24 HOURS AND r.ts <= l.ts"""),
          "leftOuter")
          .select(col("l.event_id").as("event_id"), col("l.user_id").as("user_id"),
            col("l.ts_ms").as("ts_ms"), col("r.event_id").as("e_event_id"),
            col("r.value_c").as("e_value_c"))
        val q = joined.writeStream.outputMode("append").format("parquet")
          .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
        try q.processAllAvailable() finally q.stop()
        s.read.parquet(s"$root/out")
          .where(col("event_id") =!= -1L)
          .orderBy(col("event_id").asc, col("e_event_id").asc_nulls_first)
        }
      },
      Some(s"""
      SELECT l.event_id, l.user_id, l.ts_ms, r.event_id AS e_event_id, r.value_c AS e_value_c
      FROM (SELECT event_id, user_id, ts_ms FROM $eventsMsDuck WHERE event_type = 'click') l
      LEFT JOIN (SELECT * FROM $eventsMsDuck WHERE event_type = 'error') r
        ON l.user_id = r.user_id
       AND r.ts_ms BETWEEN l.ts_ms - 86400000 AND l.ts_ms
      ORDER BY l.event_id ASC, e_event_id ASC NULLS FIRST"""))

    // Stream-stream FULL OUTER interval join (r11 — completes the
    // stream-stream family: inner, left, full): unmatched rows of BOTH
    // sides emit NULL-padded once the watermark passes their join
    // window, which makes the tail problem two-sided — each side's
    // sentinel pushes the OTHER side's expiry watermark, and the
    // sentinels match each other (same key, same ts), so the filter
    // drops the one (-1, -1) pair instead of two half-NULL rows.
    m += "q_join_stream_stream_full" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        import org.apache.spark.sql.functions.{coalesce, col, expr, lit, timestamp_millis}
        val ev = s.sql(s"SELECT * FROM $eventsMsSpark")
        val maxTs = ev.agg(org.apache.spark.sql.functions.max("ts_ms")).head().getLong(0)
        val root = GraftSession.tempDir("graft_ssjf_")
        def sentinel(cols: (String, org.apache.spark.sql.Column)*): DataFrame =
          ev.limit(1).select(cols.map { case (n, c) => c.as(n) }: _*)
        ev.where("event_type = 'click'").select("event_id", "user_id", "ts_ms")
          .write.parquet(s"$root/l")
        sentinel("event_id" -> lit(-1L), "user_id" -> lit(-1L),
            "ts_ms" -> lit(maxTs + 172800000L))
          .write.mode("append").parquet(s"$root/l")
        ev.where("event_type = 'error'").select("event_id", "user_id", "ts_ms", "value_c")
          .write.parquet(s"$root/r")
        sentinel("event_id" -> lit(-1L), "user_id" -> lit(-1L),
            "ts_ms" -> lit(maxTs + 172800000L), "value_c" -> lit(0L))
          .write.mode("append").parquet(s"$root/r")
        GraftSession.withShuffleParts(s, StateParts) {
        def side(sub: String): DataFrame =
          s.readStream.schema(s.read.parquet(s"$root/$sub").schema)
            .parquet(s"$root/$sub")
            .withColumn("ts", timestamp_millis(col("ts_ms")))
            .withWatermark("ts", "1 hour")
        val joined = side("l").as("l").join(side("r").as("r"),
          expr("""l.user_id = r.user_id
                  AND r.ts >= l.ts - INTERVAL 24 HOURS AND r.ts <= l.ts"""),
          "fullOuter")
          .select(col("l.event_id").as("l_event_id"), col("l.user_id").as("l_user_id"),
            col("l.ts_ms").as("l_ts_ms"), col("r.event_id").as("r_event_id"),
            col("r.value_c").as("r_value_c"))
        val q = joined.writeStream.outputMode("append").format("parquet")
          .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
        try q.processAllAvailable() finally q.stop()
        s.read.parquet(s"$root/out")
          .where(coalesce(col("l_event_id"), lit(0L)) =!= -1L &&
                 coalesce(col("r_event_id"), lit(0L)) =!= -1L)
          .orderBy(col("l_event_id").asc_nulls_first, col("r_event_id").asc_nulls_first)
        }
      },
      Some(s"""
      SELECT l.event_id AS l_event_id, l.user_id AS l_user_id, l.ts_ms AS l_ts_ms,
             r.event_id AS r_event_id, r.value_c AS r_value_c
      FROM (SELECT event_id, user_id, ts_ms FROM $eventsMsDuck WHERE event_type = 'click') l
      FULL JOIN (SELECT * FROM $eventsMsDuck WHERE event_type = 'error') r
        ON l.user_id = r.user_id
       AND r.ts_ms BETWEEN l.ts_ms - 86400000 AND l.ts_ms
      ORDER BY l_event_id ASC NULLS FIRST, r_event_id ASC NULLS FIRST"""))

    // ---------------- sorts / limits / set ops (SURVEY §2.8) --------------
    m += "q_orderby_limit" -> both("""
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")

    m += "q_distinct" -> both("""
      SELECT DISTINCT event_type FROM events ORDER BY event_type""")

    m += "q_union" -> both("""
      SELECT event_type AS label FROM events WHERE value > 25.0
      UNION
      SELECT o_orderpriority AS label FROM orders WHERE o_totalprice > 300000
      ORDER BY label""")

    // INTERSECT/EXCEPT complete the set-op family (both plan as
    // hash-aggregate + semi/anti join — one shuffle each side). On
    // (user_id, day) pairs, which stay non-trivially split between the
    // two branches at every sf (bare user_id sets fully overlap).
    m += "q_intersect" -> evQ("""
      SELECT user_id, CAST(floor(ts_ms / 86400000) AS BIGINT) AS day
      FROM __EV__ WHERE event_type = 'purchase'
      INTERSECT
      SELECT user_id, CAST(floor(ts_ms / 86400000) AS BIGINT) AS day
      FROM __EV__ WHERE event_type = 'view'
      ORDER BY user_id, day""")

    m += "q_except" -> evQ("""
      SELECT user_id, CAST(floor(ts_ms / 86400000) AS BIGINT) AS day
      FROM __EV__ WHERE event_type = 'purchase'
      EXCEPT
      SELECT user_id, CAST(floor(ts_ms / 86400000) AS BIGINT) AS day
      FROM __EV__ WHERE event_type = 'view'
      ORDER BY user_id, day""")

    // ---------------- ranking / navigation windows (batch OVER surface) ---
    // row_number/rank/dense_rank: Spark returns INT, DuckDB BIGINT — cast
    // in the shared SQL. One keyed sort serves all three (same window).
    m += "q_rank" -> evQ("""
      SELECT event_id, user_id,
             CAST(row_number() OVER w AS BIGINT) AS rn,
             CAST(rank() OVER w AS BIGINT) AS rk,
             CAST(dense_rank() OVER w AS BIGINT) AS drk
      FROM __EV__
      WINDOW w AS (PARTITION BY user_id ORDER BY value_c DESC, event_id)
      ORDER BY user_id, rn""")

    // lag/lead navigation + a delta feature (sessionization's building
    // block); integer cents keep the delta exact in both engines.
    m += "q_lag_lead" -> evQ("""
      SELECT event_id, user_id, ts_ms,
             lag(value_c) OVER w AS prev_c,
             lead(value_c) OVER w AS next_c,
             value_c - lag(value_c, 1, CAST(0 AS BIGINT)) OVER w AS delta_c
      FROM __EV__
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
      ORDER BY user_id, ts_ms, event_id""")

    // Calendar/time feature derivation the scale-robust way: pure integer
    // arithmetic on the epoch-ms contract (epoch day 0 = Thursday, so
    // dow = (day+4) % 7 with 0=Sunday) — codegen'd, engine-exact, no
    // session-timezone or calendar-library coupling. DIV vs // is the
    // only engine split.
    m += "q_time_features" -> split(
      s"""SELECT event_id, user_id,
                 ts_ms DIV 86400000 AS epoch_day,
                 (ts_ms DIV 3600000) % 24 AS hour_utc,
                 ((ts_ms DIV 86400000) + 4) % 7 AS day_of_week,
                 CASE WHEN ((ts_ms DIV 86400000) + 4) % 7 IN (0, 6)
                      THEN true ELSE false END AS is_weekend
          FROM $eventsMsSpark ORDER BY event_id""",
      s"""SELECT event_id, user_id,
                 ts_ms // 86400000 AS epoch_day,
                 (ts_ms // 3600000) % 24 AS hour_utc,
                 ((ts_ms // 86400000) + 4) % 7 AS day_of_week,
                 CASE WHEN ((ts_ms // 86400000) + 4) % 7 IN (0, 6)
                      THEN true ELSE false END AS is_weekend
          FROM $eventsMsDuck ORDER BY event_id""")

    // ntile + distribution windows: equal-height bucketing (the batch
    // shard assigner / percentile-band feature). percent_rank/cume_dist
    // are exact integer ratios evaluated with one IEEE division — engine
    // identical. One hash shuffle on the partition key.
    m += "q_ntile" -> evQ("""
      SELECT event_id, user_id,
             CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             percent_rank() OVER w AS pr,
             cume_dist() OVER w AS cd
      FROM __EV__
      WINDOW w AS (PARTITION BY user_id ORDER BY value_c, event_id)
      ORDER BY user_id, value_c, event_id""")

    // first/last/nth navigation over a running frame (the "entry price /
    // latest state / second touch" features): frame-dependent last_value
    // pinned to the running frame in both engines.
    m += "q_first_last" -> evQ("""
      SELECT event_id, user_id, ts_ms,
             first_value(value_c) OVER w AS first_c,
             last_value(value_c) OVER w AS running_last_c,
             nth_value(value_c, 2) OVER w AS second_c
      FROM __EV__
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY user_id, ts_ms, event_id""")

    // Correlated EXISTS / NOT EXISTS — planned as left-semi/anti joins
    // (one shuffle each, never a per-row subquery loop): view counts of
    // users who clicked but never made a >100 purchase (the threshold
    // splits the 150 users 30/120 — both branches carry real signal).
    m += "q_exists" -> both("""
      SELECT user_id, count(*) AS n_views
      FROM events v
      WHERE event_type = 'view'
        AND EXISTS (SELECT 1 FROM events c
                    WHERE c.user_id = v.user_id AND c.event_type = 'click')
        AND NOT EXISTS (SELECT 1 FROM events p
                        WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
                          AND p.value > 100.0)
      GROUP BY user_id ORDER BY user_id""")

    // Top-k per group — the curation primitive (keep the k best docs per
    // domain/source): ONE hash shuffle on the group key, rank, filter.
    // At scale Catalyst pushes the rank filter into WindowExec
    // (WindowGroupLimit), so each partition keeps k rows, not all.
    m += "q_topk_per_group" -> evQ("""
      SELECT user_id, event_id, value_c FROM (
        SELECT user_id, event_id, value_c,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY value_c DESC, event_id) AS rn
        FROM __EV__) WHERE rn <= 3
      ORDER BY user_id, value_c DESC, event_id""")

    // PIVOT: long -> wide feature matrix (one column per event type).
    // Spark runs its native PIVOT operator; the oracle is the equivalent
    // conditional aggregation (DuckDB's PIVOT syntax differs). Missing
    // cells stay NULL in both (no ELSE).
    m += "q_pivot" -> split(
      s"""SELECT user_id,
                 CAST(click AS BIGINT) AS click_c, CAST(view AS BIGINT) AS view_c,
                 CAST(purchase AS BIGINT) AS purchase_c, CAST(error AS BIGINT) AS error_c
          FROM (SELECT user_id, event_type, value_c FROM $eventsMsSpark)
          PIVOT (sum(value_c) FOR event_type IN ('click', 'view', 'purchase', 'error'))
          ORDER BY user_id""",
      s"""SELECT user_id,
                 CAST(sum(CASE WHEN event_type = 'click' THEN value_c END) AS BIGINT) AS click_c,
                 CAST(sum(CASE WHEN event_type = 'view' THEN value_c END) AS BIGINT) AS view_c,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN value_c END) AS BIGINT) AS purchase_c,
                 CAST(sum(CASE WHEN event_type = 'error' THEN value_c END) AS BIGINT) AS error_c
          FROM $eventsMsDuck GROUP BY user_id ORDER BY user_id""")

    // Histogram profiling: fixed-width value bins in one partial-aggregated
    // pass (the distribution report a data-quality sweep emits). floor of
    // an exact small-int division — identical doubles never reach output.
    m += "q_histogram" -> evQ("""
      SELECT CAST(floor(value_c / 500.0) AS BIGINT) AS bin,
             count(*) AS n, CAST(sum(value_c) AS BIGINT) AS sum_c
      FROM __EV__ GROUP BY 1 ORDER BY bin""")

    // Pearson correlation from exact integer sums: the six sums aggregate
    // as BIGINTs and ONE shared arithmetic expression (same IEEE ops, same
    // order) converts to double at the end — the engines' own corr() would
    // differ at the ulp level from different accumulation orders.
    m += "q_corr" -> evQ("""
      SELECT user_id,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_xy
      FROM (SELECT user_id, count(*) AS n,
                   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(y * y) AS BIGINT) AS syy,
                   CAST(sum(x * y) AS BIGINT) AS sxy
            FROM (SELECT user_id, value_c AS x, ts_ms % 100000 AS y FROM __EV__)
            GROUP BY user_id)
      ORDER BY user_id""")

    // Min-max feature scaling per key: unbounded-partition window min/max
    // (one keyed shuffle, no per-row frame), integer subtraction, a single
    // final division — exact in both engines.
    m += "q_minmax_scale" -> evQ("""
      SELECT event_id, user_id,
             CASE WHEN mx > mn
               THEN CAST(value_c - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE) END AS scaled
      FROM (SELECT event_id, user_id, value_c,
                   min(value_c) OVER (PARTITION BY user_id) AS mn,
                   max(value_c) OVER (PARTITION BY user_id) AS mx
            FROM __EV__)
      ORDER BY user_id, event_id""")

    // Conversion funnel: per signed-up user, the first purchase within
    // 24 h of their FIRST signup. Two partial-agg min() shuffles on
    // user_id (never a per-event self-join fan-out: the purchase side
    // joins the one-row-per-user signup frame) — the canonical product
    // analytics primitive.
    m += "q_funnel" -> evQ("""
      WITH s AS (SELECT user_id, min(ts_ms) AS signup_ts
                 FROM __EV__ WHERE event_type = 'signup' GROUP BY user_id),
      p AS (SELECT s.user_id AS user_id, min(e.ts_ms) AS purchase_ts
            FROM s JOIN __EV__ e ON e.user_id = s.user_id
             AND e.event_type = 'purchase'
             AND e.ts_ms >= s.signup_ts AND e.ts_ms < s.signup_ts + 86400000
            GROUP BY s.user_id)
      SELECT s.user_id AS user_id, signup_ts, purchase_ts
      FROM s LEFT JOIN p ON s.user_id = p.user_id
      ORDER BY user_id""")

    // Cohort retention: users grouped by first-seen day, activity counted
    // per day offset. The cohort frame is one row per user (partial-agg
    // min), so the join back is thin; distinct-user counts shuffle once
    // on (cohort_day, offset).
    m += "q_retention" -> evQ("""
      WITH e AS (SELECT user_id,
                        CAST(floor(ts_ms / 86400000) AS BIGINT) AS day
                 FROM __EV__),
      f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
      SELECT cohort_day, CAST(e.day - f.cohort_day AS BIGINT) AS day_offset,
             count(DISTINCT e.user_id) AS n_active
      FROM e JOIN f ON e.user_id = f.user_id
      GROUP BY cohort_day, e.day - f.cohort_day
      ORDER BY cohort_day, day_offset""")

    // IQR outlier fences per event type (the data-cleaning robust-stat
    // filter): percentile_disc picks ACTUAL cent values (exact in both
    // engines — never interpolates), and the 1.5*IQR fences compare in
    // doubled integers so no float touches the comparison.
    m += "q_outlier_iqr" -> evQ("""
      WITH q AS (SELECT event_type,
                        CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY value_c) AS BIGINT) AS q1,
                        CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY value_c) AS BIGINT) AS q3
                 FROM __EV__ GROUP BY event_type)
      SELECT e.event_type AS event_type, q1, q3,
             CAST(sum(CASE WHEN 2 * value_c < 2 * q1 - 3 * (q3 - q1)
                             OR 2 * value_c > 2 * q3 + 3 * (q3 - q1)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             count(*) AS n
      FROM __EV__ e JOIN q ON e.event_type = q.event_type
      GROUP BY e.event_type, q1, q3
      ORDER BY event_type""")

    // k-anonymity suppression audit (the privacy-governance gate a
    // training corpus passes before release): docs whose quasi-identifier
    // combination (lang, source, length bucket) appears fewer than k=5
    // times are re-identifiable and flagged for suppression. One
    // partial-agg shuffle on the combo; the flag join is agg-side tiny.
    m += "q_kanon" -> both("""
      WITH qi AS (SELECT doc_id, lang, source,
                         CAST(floor(n_chars / 64) AS BIGINT) AS len_bucket
                  FROM documents),
      g AS (SELECT lang, source, len_bucket, CAST(count(*) AS BIGINT) AS grp_n
            FROM qi GROUP BY lang, source, len_bucket)
      SELECT q.doc_id AS doc_id, q.lang AS lang, q.source AS source,
             q.len_bucket AS len_bucket, g.grp_n AS grp_n
      FROM qi q JOIN g ON q.lang = g.lang AND q.source = g.source
                      AND q.len_bucket = g.len_bucket
      WHERE g.grp_n < 5
      ORDER BY doc_id""")

    // SCD2 interval build (the warehouse slowly-changing-dimension
    // primitive): each per-user signup value gets its validity interval
    // [valid_from, valid_to) from the NEXT change via lead() — one keyed
    // window pass, no self-join. The last interval's open end is NULL.
    // lead orders by (ts_ms, event_id) so duplicate timestamps cannot
    // flake the intervals.
    m += "q_scd2" -> evQ("""
      SELECT user_id, value_c, ts_ms AS valid_from,
             lead(ts_ms) OVER (PARTITION BY user_id
                               ORDER BY ts_ms, event_id) AS valid_to
      FROM __EV__ WHERE event_type = 'signup'
      ORDER BY user_id, valid_from, value_c, valid_to""")

    // Daily gap-fill resample (time-series regularization): each user's
    // [first, last] day span expands to a dense grid (sequence/
    // generate_series), daily maxima attach, and gaps forward-fill from
    // the last observed day. The grid explode is per-key and tiny
    // relative to the events scan; the fill is one keyed window pass.
    // Engine-split SQL: IGNORE NULLS syntax differs (Spark `last_value(x)
    // IGNORE NULLS`, DuckDB `last_value(x IGNORE NULLS)`), series differ
    // (sequence+explode vs generate_series+unnest).
    m += "q_resample" -> split(
      """WITH ev AS (SELECT * FROM (SELECT *, ts DIV 1000000 AS ts_ms,
                     CAST(round(value * 100) AS BIGINT) AS value_c FROM events)),
         span AS (SELECT user_id, CAST(floor(min(ts_ms) / 86400000) AS BIGINT) AS d0,
                         CAST(floor(max(ts_ms) / 86400000) AS BIGINT) AS d1
                  FROM ev GROUP BY user_id),
         grid AS (SELECT user_id, explode(sequence(d0, d1)) AS day FROM span),
         daily AS (SELECT user_id, CAST(floor(ts_ms / 86400000) AS BIGINT) AS day,
                          max(value_c) AS day_max
                   FROM ev GROUP BY user_id, CAST(floor(ts_ms / 86400000) AS BIGINT))
         SELECT g.user_id AS user_id, g.day AS day, d.day_max AS day_max,
                last_value(d.day_max) IGNORE NULLS OVER (
                  PARTITION BY g.user_id ORDER BY g.day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
         FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
         ORDER BY user_id, day""",
      """WITH ev AS (SELECT * FROM (SELECT *, epoch_ms(ts) AS ts_ms,
                     CAST(round(value * 100) AS BIGINT) AS value_c FROM events)),
         span AS (SELECT user_id, CAST(floor(min(ts_ms) / 86400000) AS BIGINT) AS d0,
                         CAST(floor(max(ts_ms) / 86400000) AS BIGINT) AS d1
                  FROM ev GROUP BY user_id),
         grid AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM span),
         daily AS (SELECT user_id, CAST(floor(ts_ms / 86400000) AS BIGINT) AS day,
                          max(value_c) AS day_max
                   FROM ev GROUP BY user_id, CAST(floor(ts_ms / 86400000) AS BIGINT)),
         j AS (SELECT g.user_id AS user_id, g.day AS day, d.day_max AS day_max
               FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day)
         SELECT user_id, day, day_max,
                last_value(day_max IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
         FROM j ORDER BY user_id, day""")

    // Z-order (Morton) clustering key — the layout operator behind
    // multi-dimensional data skipping (operators/Layout.scala; the spec
    // test proves row-group pruning on a box query). The z-value is a pure
    // deterministic expression, replayed bit-for-bit by the oracle: NOTE
    // DuckDB CAST(double AS BIGINT) ROUNDS while Spark truncates — the
    // oracle goes through trunc().
    locally {
      def duckScale(v: String, mn: Long, mx: Long): String =
        s"least(greatest(CAST(trunc(($v - $mn) * 65535 / ${mx - mn}) AS BIGINT), 0), 65535)"
      val orTerms = (for { b <- 0 until 16; i <- 0 until 2 } yield
          s"(((s$i >> $b) & 1) << ${b * 2 + i})")
        .grouped(8).map(g => "(" + g.mkString(" | ") + ")").mkString(" | ")
      m += "q_zorder" -> Q(
        (s, dir) => {
          GraftSession.prepare(s, dir)
          import org.apache.spark.sql.functions.col
          s.sql(s"SELECT * FROM $eventsMsSpark")
            .select(col("event_id"), graft.operators.Layout.zvalue(
              Seq((col("user_id"), 0L, 149L), (col("value_c"), 0L, 4999L)), 16).as("zval"))
            .orderBy("zval", "event_id").limit(100)
        },
        Some(s"""
        SELECT event_id, ($orTerms) AS zval
        FROM (SELECT event_id,
                     ${duckScale("user_id", 0L, 149L)} AS s0,
                     ${duckScale("value_c", 0L, 4999L)} AS s1
              FROM $eventsMsDuck)
        ORDER BY zval, event_id LIMIT 100"""))
    }

    // Sessionization: gap-based session assignment (4 h inactivity gap)
    // via lag + running sum — two window passes over ONE keyed shuffle;
    // the per-session aggregate reuses the same partitioning.
    m += "q_sessionize" -> evQ("""
      SELECT user_id, session_id, count(*) AS n_events,
             min(ts_ms) AS session_start, max(ts_ms) AS session_end
      FROM (
        SELECT user_id, ts_ms,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM (
          SELECT user_id, event_id, ts_ms,
                 CASE WHEN lag(ts_ms) OVER w IS NULL
                      OR ts_ms - lag(ts_ms) OVER w > 14400000 THEN 1 ELSE 0 END AS new_sess
          FROM __EV__
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)))
      GROUP BY user_id, session_id
      ORDER BY user_id, session_id""")

    // The same sessionization as a REAL streaming query on Spark's native
    // session_window (watermarked, merging-session state): gap-closed
    // sessions emit in append mode once the watermark passes them; far-
    // future flush sentinels (one per user) drive the terminal watermark,
    // their own never-closing sessions filtered from the sink. Oracle =
    // the batch gap-sessionization SQL (minus the ordinal session_id,
    // which streaming emission order cannot reproduce).
    m += "q_sessionize_streaming" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        import org.apache.spark.sql.functions.{col, count, expr, lit, max => fmax, min => fmin, session_window, timestamp_millis}
        val ev = s.sql(s"SELECT user_id, event_id, ts_ms FROM $eventsMsSpark")
        val flushTs = 4102444800000L // 2100-01-01: past any event, closes every session
        val root = GraftSession.tempDir("graft_sw_")
        ev.write.parquet(s"$root/in")
        val flush = ev.select("user_id").distinct()
          .select(col("user_id"), lit(-1L).as("event_id"), lit(flushTs).as("ts_ms"))
        // state partition count: every session-window state store pays a
        // fixed commit/maintenance cost per trigger regardless of its row
        // count — the same per-store fixed cost the stream-stream join
        // attributed at r6 (README "Stream-stream join cost attribution"),
        // and this entry runs ~6 triggers (initial + 2 sentinel rounds +
        // fallbacks), so at the session default of 32 it paid ~192 store
        // commits for ~7k session rows (r19 on a slow-commit box: 7.0 s at
        // 32 parts vs 3.5 s at 8).
        GraftSession.withShuffleParts(s, StateParts) {
        val stream = s.readStream.schema(s.read.parquet(s"$root/in").schema)
          .parquet(s"$root/in")
          .withColumn("ts", timestamp_millis(col("ts_ms")))
          .withWatermark("ts", "1 second")
        val agg = stream.groupBy(col("user_id"), session_window(col("ts"), "4 hours"))
          .agg(count(lit(1)).as("n_events"),
            fmin(col("ts_ms")).as("session_start"), fmax(col("ts_ms")).as("session_end"))
          .where(col("session_start") < flushTs)
          .drop("session_window")
        val q = agg.writeStream.outputMode("append").format("parquet")
          .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
        try {
          q.processAllAvailable()
          // Bounded deterministic flush protocol (r11 — the old variant
          // looped "until the landed parquet count stabilizes", re-listing
          // and re-counting the output directory every round; its round
          // count was timing-dependent by construction and swung the
          // official bench 3.4 -> 31.5 s). Exactly TWO flush rounds do the
          // semantic work: round 1 advances the watermark past every real
          // event, round 2 gives the engine a batch in which that
          // advancement evicts + emits every closed session. Completion is
          // then read from StreamingQueryProgress — watermark at/past the
          // flush sentinel and session state drained down to the one open
          // sentinel session per user — with at most two fallback rounds,
          // never from polling landed files.
          val nUsers = flush.count()
          def progressDone: Boolean = Option(q.lastProgress).exists { p =>
            val wmOk = Option(p.eventTime.get("watermark")).exists(w =>
              java.time.Instant.parse(w).toEpochMilli >= flushTs - 1000L)
            val stateRows = p.stateOperators.map(_.numRowsTotal).sum
            wmOk && stateRows <= nUsers
          }
          var round = 0
          while (round < 2 || (round < 4 && !progressDone)) {
            flush.write.mode("append").parquet(s"$root/in"); q.processAllAvailable()
            round += 1
          }
        } finally q.stop()
        s.read.parquet(s"$root/out")
          .select(col("user_id"), col("n_events"), col("session_start"), col("session_end"))
          .orderBy("user_id", "session_start")
        }
      },
      Some(s"""
      SELECT user_id, count(*) AS n_events,
             min(ts_ms) AS session_start, max(ts_ms) AS session_end
      FROM (
        SELECT user_id, ts_ms,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM (
          SELECT user_id, event_id, ts_ms,
                 CASE WHEN lag(ts_ms) OVER w IS NULL
                      OR ts_ms - lag(ts_ms) OVER w > 14400000 THEN 1 ELSE 0 END AS new_sess
          FROM $eventsMsDuck
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)))
      GROUP BY user_id, session_id
      ORDER BY user_id, session_start"""))

    // ---------------- OVER windows (SURVEY §2.6) ---------------------------
    // RANGE frame in event-time ms; one output row per input row — the
    // batch-mode semantics of the reference WindowOperator.
    m += "q_window_range_sum" -> evQ(
      """SELECT event_id, user_id, ts_ms,
               CAST(sum(value_c) OVER (PARTITION BY user_id ORDER BY ts_ms
                 RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100 AS sum_1h
         FROM __EV__ ORDER BY event_id""")

    m += "q_window_rows_avg" -> evQ(
      """SELECT event_id, user_id,
               CAST(sum(value_c) OVER w AS DOUBLE) / 100 / count(*) OVER w AS avg_100,
               count(*) OVER w AS cnt_100
         FROM __EV__
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
                      ROWS BETWEEN 100 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""")

    m += "q_window_multi" -> evQ(
      """SELECT event_id, user_id,
               CAST(sum(value_c) OVER w AS DOUBLE) / 100 AS w_sum,
               count(value_c) OVER w AS w_cnt,
               min(value) OVER w AS w_min,
               max(value) OVER w AS w_max,
               CAST(sum(value_c) OVER w AS DOUBLE) / 100 / count(*) OVER w AS w_avg
         FROM __EV__
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
                      RANGE BETWEEN 7200000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""")

    // Sample stddev/variance from exact integer window sums:
    // var = (n*Σx² − (Σx)²) / (n(n−1)) in cents², then /1e4 — identical
    // float ops over identical integers in both engines.
    m += "q_window_stddev" -> evQ(
      """SELECT event_id, user_id,
               CASE WHEN n > 1 THEN
                 sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * (n - 1))) / 100
               END AS w_stddev,
               CASE WHEN n > 1 THEN
                 CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * (n - 1)) / 10000
               END AS w_var
         FROM (
           SELECT event_id, user_id,
                  count(*) OVER w AS n,
                  CAST(sum(value_c) OVER w AS BIGINT) AS s1,
                  CAST(sum(value_c * value_c) OVER w AS BIGINT) AS s2
           FROM __EV__
           WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
                        RANGE BETWEEN 7200000 PRECEDING AND CURRENT ROW)
         ) ORDER BY event_id""")

    // Allowed-lateness / late-drop as a DRIVER row (SURVEY §2.9 — was
    // sbt-green only): even-id events arrive first and push the
    // watermark to max(even ts) - 7d; odd-id events then arrive as
    // stragglers, and Spark's windowed aggregation drops exactly those
    // whose 1h window already closed (window_end <= watermark — state
    // evicted) while still-open windows absorb their late rows. The
    // oracle replays that rule: even rows always count, odd rows count
    // iff their window end clears the batch-1 watermark. Deterministic
    // because the straggler files are written only AFTER the first batch
    // fully processes.
    m += "q_late_drop" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        import org.apache.spark.sql.functions.{col, count, expr => fexpr, lit, sum => fsum, timestamp_millis, window}
        val delayMs = 604800000L // 7 days
        val root = GraftSession.tempDir("graft_late_")
        val ev = s.sql(s"SELECT event_id, user_id, ts_ms, value_c FROM $eventsMsSpark")
        ev.where("event_id % 2 = 0").coalesce(1).write.parquet(s"$root/in")
        val flushTs = 4102444800000L
        // state partition count: ~720 window rows of state across ~6
        // triggers (initial + stragglers + 2 sentinel rounds + fallbacks);
        // at the session default of 32 every trigger paid 32 fixed-cost
        // store commits (the r6 stream-stream-join attribution — commit
        // cost is per store instance, not per row; r19 on a slow-commit
        // box: 12-18 s at 32 parts vs ~4 s at 8).
        GraftSession.withShuffleParts(s, StateParts) {
        val stream = s.readStream.schema(s.read.parquet(s"$root/in").schema)
          .parquet(s"$root/in")
          .withColumn("ts", timestamp_millis(col("ts_ms")))
          .withWatermark("ts", s"$delayMs milliseconds")
        val agg = stream.groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n_events"),
            fsum(col("value_c")).cast("long").as("sum_c"))
          .select(fexpr("unix_millis(window.start)").as("win_start"),
            col("n_events"), col("sum_c"))
          .where(col("win_start") < flushTs - 3600000L)
        val q = agg.writeStream.outputMode("append").format("parquet")
          .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
        try {
          q.processAllAvailable() // batch 1 lands; wm -> max(even ts) - 7d
          ev.where("event_id % 2 = 1").coalesce(1)
            .write.mode("append").parquet(s"$root/in")
          q.processAllAvailable() // stragglers: closed windows drop them
          // Bounded flush protocol (the r11 q_sessionize_streaming
          // pattern, ported here r12): exactly two sentinel rounds do the
          // semantic work — round 1 advances the watermark past every
          // real window, round 2 gives the engine a batch in which that
          // advancement evicts + emits them. Completion is read from
          // StreamingQueryProgress — watermark at/past the sentinel
          // minus the 7-day lateness delay, window state drained down to
          // the sentinel's own (filtered-out) window — with at most two
          // fallback rounds, never from polling landed files.
          def progressDone: Boolean = Option(q.lastProgress).exists { p =>
            val wmOk = Option(p.eventTime.get("watermark")).exists(w =>
              java.time.Instant.parse(w).toEpochMilli >= flushTs - delayMs - 1000L)
            wmOk && p.stateOperators.map(_.numRowsTotal).sum <= 1L
          }
          val sentinel = s.range(1).select(lit(-1L).as("event_id"),
            lit(0L).as("user_id"), lit(flushTs).as("ts_ms"), lit(0L).as("value_c"))
          var round = 0
          while (round < 2 || (round < 4 && !progressDone)) {
            sentinel.write.mode("append").parquet(s"$root/in")
            q.processAllAvailable()
            round += 1
          }
        } finally q.stop()
        s.read.parquet(s"$root/out").orderBy("win_start")
        }
      },
      Some(s"""
      WITH ev AS (SELECT event_id, ts_ms, value_c FROM $eventsMsDuck),
      wm AS (SELECT max(ts_ms) - 604800000 AS w FROM ev WHERE event_id % 2 = 0),
      kept AS (
        SELECT ts_ms, value_c FROM ev WHERE event_id % 2 = 0
        UNION ALL
        SELECT e.ts_ms, e.value_c FROM ev e, wm
        WHERE e.event_id % 2 = 1
          AND ((e.ts_ms // 3600000) + 1) * 3600000 > wm.w)
      SELECT (ts_ms // 3600000) * 3600000 AS win_start,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(value_c) AS BIGINT) AS sum_c
      FROM kept GROUP BY 1 ORDER BY 1"""))

    // Streaming per-row sliding emission (SURVEY §2.6): the stateful
    // flatMapGroupsWithState engine run as a REAL streaming query (file
    // source -> state store -> file sink, terminal-watermark flush), and
    // its per-row output checked against the batch OVER-window oracle —
    // the reference-model comparison (window_operator_tests.rs:621) as a
    // driver CORRECTNESS row. Integer cents keep the tile-reordered float
    // sums exact in both engines.
    m += "q_window_streaming" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        import org.apache.spark.sql.functions.col
        import graft.streaming.StreamVerify
        import graft.streaming.SlidingWindows.{AggSpec, RangeMs}
        val ev = s.sql(
          """SELECT ts DIV 1000000 AS ts_ms, CAST(user_id AS STRING) AS key,
                    CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE) AS value
             FROM events""")
        StreamVerify.runBoundedMulti(s, ev, "key", "ts_ms", Seq("value"), Nil,
            Seq(AggSpec("sum_1h_c", "sum", RangeMs(3600000)),
                AggSpec("cnt_1h", "count", RangeMs(3600000))),
            latenessMs = 0, tileGranularityMs = 600000)
          .select(col("ts_ms"), col("key"), (col("value") / 100).as("value"),
            (col("sum_1h_c") / 100).as("sum_1h"), col("cnt_1h").cast("long").as("cnt_1h"))
          .orderBy("ts_ms", "key", "value")
      },
      Some("""
        SELECT ts_ms, CAST(user_id AS VARCHAR) AS key,
               CAST(value_c AS DOUBLE) / 100 AS value,
               CAST(sum(value_c) OVER w AS DOUBLE) / 100 AS sum_1h,
               count(*) OVER w AS cnt_1h
        FROM (SELECT epoch_ms(ts) AS ts_ms, user_id,
                     CAST(round(value * 100) AS BIGINT) AS value_c FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
                     RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
        ORDER BY ts_ms, key, value"""))

    // ---------------- ML aggregate family (SURVEY §2.7) --------------------
    m += "q_top" -> split(
      """SELECT user_id, top(value, 3) AS top_values FROM events
         GROUP BY user_id ORDER BY user_id""",
      s"""SELECT user_id, coalesce(string_agg(${fm("value")}, ',' ORDER BY value DESC), '') AS top_values
          FROM (
            SELECT user_id, value,
                   row_number() OVER (PARTITION BY user_id ORDER BY value DESC) AS rn
            FROM events WHERE value IS NOT NULL
          ) WHERE rn <= 3
          GROUP BY user_id ORDER BY user_id""")

    m += "q_topn_frequency" -> split(
      """SELECT user_id, topn_frequency(event_type, 2) AS frequent FROM events
         GROUP BY user_id ORDER BY user_id""",
      """SELECT user_id, coalesce(string_agg(event_type, ',' ORDER BY c DESC, event_type DESC), '') AS frequent
         FROM (
           SELECT user_id, event_type, count(*) AS c,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY count(*) DESC, event_type DESC) AS rn
           FROM events WHERE event_type IS NOT NULL
           GROUP BY user_id, event_type
         ) WHERE rn <= 2
         GROUP BY user_id ORDER BY user_id""")

    m += "q_top1_ratio" -> split(
      """SELECT user_id, top1_ratio(event_type) AS ratio FROM events
         GROUP BY user_id ORDER BY user_id""",
      """SELECT user_id, max(c) / CAST(sum(c) AS DOUBLE) AS ratio
         FROM (
           SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS c
           FROM events WHERE event_type IS NOT NULL
           GROUP BY user_id, event_type
         ) GROUP BY user_id ORDER BY user_id""")

    m += "q_agg_where" -> split(
      s"""SELECT user_id,
                CAST(sum_where(value_c, event_type = 'purchase') AS DOUBLE) / 100 AS sum_purchase,
                count_where(value, event_type = 'purchase') AS cnt_purchase,
                CAST(sum_where(value_c, value > 10.0) AS DOUBLE) / 100
                  / count_where(value_c, value > 10.0) AS avg_big,
                min_where(value, event_type = 'click') AS min_click,
                max_where(value, event_type = 'click') AS max_click
         FROM $eventsMsSpark GROUP BY user_id ORDER BY user_id""",
      s"""SELECT user_id,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN value_c END) AS DOUBLE) / 100 AS sum_purchase,
                count(CASE WHEN event_type = 'purchase' THEN value END) AS cnt_purchase,
                CAST(sum(CASE WHEN value > 10.0 THEN value_c END) AS DOUBLE) / 100
                  / count(CASE WHEN value > 10.0 THEN value_c END) AS avg_big,
                min(CASE WHEN event_type = 'click' THEN value END) AS min_click,
                max(CASE WHEN event_type = 'click' THEN value END) AS max_click
         FROM $eventsMsDuck GROUP BY user_id ORDER BY user_id""")

    // cate family: parts are "cate:value" sorted lexicographically.
    m += "q_cate" -> split(
      s"""SELECT user_id,
                sum_cate(value_c, event_type) AS sum_cate,
                count_cate(value, event_type) AS count_cate,
                avg_cate(value_c, event_type) AS avg_cate,
                min_cate(value, event_type) AS min_cate,
                max_cate(value, event_type) AS max_cate
         FROM $eventsMsSpark GROUP BY user_id ORDER BY user_id""",
      s"""WITH g AS (
            SELECT user_id, event_type AS k,
                   CAST(sum(value_c) AS DOUBLE) AS s, count(value) AS c,
                   min(value) AS mn, max(value) AS mx
            FROM $eventsMsDuck WHERE event_type IS NOT NULL
            GROUP BY user_id, event_type
            HAVING count(value) > 0
          )
          SELECT u.user_id,
                 coalesce(a.sum_cate, '') AS sum_cate,
                 coalesce(a.count_cate, '') AS count_cate,
                 coalesce(a.avg_cate, '') AS avg_cate,
                 coalesce(a.min_cate, '') AS min_cate,
                 coalesce(a.max_cate, '') AS max_cate
          FROM (SELECT DISTINCT user_id FROM events) u
          LEFT JOIN (
            SELECT user_id,
                   string_agg(k || ':' || ${fm("s")}, ',' ORDER BY k || ':' || ${fm("s")}) AS sum_cate,
                   string_agg(k || ':' || CAST(c AS VARCHAR), ',' ORDER BY k || ':' || CAST(c AS VARCHAR)) AS count_cate,
                   string_agg(k || ':' || ${fm("s / c")}, ',' ORDER BY k || ':' || ${fm("s / c")}) AS avg_cate,
                   string_agg(k || ':' || ${fm("mn")}, ',' ORDER BY k || ':' || ${fm("mn")}) AS min_cate,
                   string_agg(k || ':' || ${fm("mx")}, ',' ORDER BY k || ':' || ${fm("mx")}) AS max_cate
            FROM g GROUP BY user_id
          ) a USING (user_id)
          ORDER BY u.user_id""")

    m += "q_cate_where" -> split(
      s"""SELECT user_id,
                sum_cate_where(value_c, value > 10.0, event_type) AS sum_cw,
                count_cate_where(value, value > 10.0, event_type) AS count_cw
         FROM $eventsMsSpark GROUP BY user_id ORDER BY user_id""",
      s"""WITH g AS (
            SELECT user_id, event_type AS k,
                   CAST(sum(CASE WHEN value > 10.0 THEN value_c END) AS DOUBLE) AS s,
                   count(CASE WHEN value > 10.0 THEN value END) AS c
            FROM $eventsMsDuck WHERE event_type IS NOT NULL
            GROUP BY user_id, event_type
            HAVING count(CASE WHEN value > 10.0 THEN value END) > 0
          )
          SELECT u.user_id,
                 coalesce(a.sum_cw, '') AS sum_cw,
                 coalesce(a.count_cw, '') AS count_cw
          FROM (SELECT DISTINCT user_id FROM events) u
          LEFT JOIN (
            SELECT user_id,
                   string_agg(k || ':' || ${fm("s")}, ',' ORDER BY k || ':' || ${fm("s")}) AS sum_cw,
                   string_agg(k || ':' || CAST(c AS VARCHAR), ',' ORDER BY k || ':' || CAST(c AS VARCHAR)) AS count_cw
            FROM g GROUP BY user_id
          ) a USING (user_id)
          ORDER BY u.user_id""")

    m += "q_top_n_cate" -> split(
      s"""SELECT user_id,
                top_n_key_sum_cate_where(value_c, value > 5.0, event_type, 2) AS by_key,
                top_n_value_sum_cate_where(value_c, value > 5.0, event_type, 2) AS by_value
         FROM $eventsMsSpark GROUP BY user_id ORDER BY user_id""",
      s"""WITH g AS (
            SELECT user_id, event_type AS k, CAST(sum(value_c) AS DOUBLE) AS s
            FROM $eventsMsDuck WHERE event_type IS NOT NULL AND value > 5.0
            GROUP BY user_id, event_type
          ),
          bk AS (
            SELECT user_id, string_agg(k || ':' || ${fm("s")}, ',' ORDER BY k DESC) AS by_key
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY k DESC) AS rn FROM g)
            WHERE rn <= 2 GROUP BY user_id
          ),
          bv AS (
            SELECT user_id, string_agg(k || ':' || ${fm("s")}, ',' ORDER BY s DESC, k DESC) AS by_value
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY s DESC, k DESC) AS rn FROM g)
            WHERE rn <= 2 GROUP BY user_id
          )
          SELECT u.user_id, coalesce(bk.by_key, '') AS by_key,
                 coalesce(bv.by_value, '') AS by_value
          FROM (SELECT DISTINCT user_id FROM events) u
          LEFT JOIN bk USING (user_id) LEFT JOIN bv USING (user_id)
          ORDER BY u.user_id""")

    m += "q_ratio_cate" -> split(
      """SELECT user_id,
                top_n_key_ratio_cate(value, value > 10.0, event_type, 2) AS rk,
                top_n_value_ratio_cate(value, value > 10.0, event_type, 2) AS rv
         FROM events GROUP BY user_id ORDER BY user_id""",
      s"""WITH g AS (
            SELECT user_id, event_type AS k,
                   CAST(count(CASE WHEN value > 10.0 THEN 1 END) AS DOUBLE)
                     / CAST(count(value) AS DOUBLE) AS r
            FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
            GROUP BY user_id, event_type
          ),
          rk AS (
            SELECT user_id, string_agg(k || ':' || ${fm("r")}, ',' ORDER BY k DESC) AS rk
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY k DESC) AS rn FROM g)
            WHERE rn <= 2 GROUP BY user_id
          ),
          rv AS (
            SELECT user_id, string_agg(k || ':' || ${fm("r")}, ',' ORDER BY r DESC, k DESC) AS rv
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY r DESC, k DESC) AS rn FROM g)
            WHERE rn <= 2 GROUP BY user_id
          )
          SELECT u.user_id, coalesce(rk.rk, '') AS rk, coalesce(rv.rv, '') AS rv
          FROM (SELECT DISTINCT user_id FROM events) u
          LEFT JOIN rk USING (user_id) LEFT JOIN rv USING (user_id)
          ORDER BY u.user_id""")

    // ML aggregates over sliding windows (streaming semantics, batch
    // mode), entered through the BATCH ROUTER: WindowSql.runBatchAuto
    // compiles the SQL and, because `top` is a per-row-rebuilt
    // TypedImperativeAggregate in WindowExec and the 1 h RANGE frame
    // clears the threshold, routes it through the tiled engine sweep
    // (O(tiles+edge) per row instead of O(frame) — the round-3 verdict's
    // named scale fix, now the default path SQL users reach).
    m += "q_top_window" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        import graft.api.WindowSql
        s.sql(s"SELECT * FROM $eventsMsSpark").createOrReplaceTempView("ev_ms")
        WindowSql.runBatchAuto(s,
          """SELECT event_id, user_id,
                    top(value, 3) OVER (PARTITION BY user_id ORDER BY ts_ms
                      RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS top_1h
             FROM ev_ms ORDER BY event_id""",
          tileGranularityMs = 600000)
      },
      Some(s"""SELECT e.event_id, e.user_id,
                 (SELECT coalesce(string_agg(${fm("f.value")}, ',' ORDER BY f.value DESC), '')
                  FROM (SELECT value FROM $eventsMsDuck f0
                        WHERE f0.user_id = e.user_id
                          AND f0.ts_ms BETWEEN e.ts_ms - 3600000 AND e.ts_ms
                          AND f0.value IS NOT NULL
                        ORDER BY f0.value DESC LIMIT 3) f) AS top_1h
          FROM $eventsMsDuck e ORDER BY e.event_id"""))

    // The FULL ML aggregate family over STREAMING windows (reference
    // registry aggregates/mod.rs:184-199): *_where, *_cate[_where],
    // top_n_{key,value}_*_cate_where and top_n_{key,value}_ratio_cate
    // evaluated by the engine in a real streaming run, vs a DuckDB oracle
    // that replays each kind (window CASE-masks for the base family,
    // per-row correlated category aggregates for the cate/top-n/ratio
    // families). Cents end-to-end so every sum in the formatted strings is
    // exact in both engines.
    m += "q_window_streaming_ml" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        import org.apache.spark.sql.functions.col
        import graft.streaming.StreamVerify
        import graft.streaming.SlidingWindows.{AggSpec, RangeMs}
        val ev = s.sql(
          """SELECT ts DIV 1000000 AS ts_ms, CAST(user_id AS STRING) AS key,
                    CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE) AS value_c,
                    CAST(CASE WHEN value > 10.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS big,
                    event_type AS cate
             FROM events""")
        StreamVerify.runBoundedMulti(s, ev, "key", "ts_ms",
            Seq("value_c", "big"), Seq("cate"),
            Seq(AggSpec("sum_w_c", "sum_where", RangeMs(3600000), wIdx = 1),
                AggSpec("cnt_w", "count_where", RangeMs(3600000), wIdx = 1),
                AggSpec("min_w_c", "min_where", RangeMs(3600000), wIdx = 1),
                AggSpec("max_w_c", "max_where", RangeMs(3600000), wIdx = 1),
                AggSpec("sc", "sum_cate", RangeMs(3600000)),
                AggSpec("scw", "sum_cate_where", RangeMs(3600000), wIdx = 1),
                AggSpec("tnk", "top_n_key_sum_cate_where", RangeMs(3600000), 2, wIdx = 1),
                AggSpec("tnv", "top_n_value_count_cate_where", RangeMs(3600000), 2, wIdx = 1),
                AggSpec("rk", "top_n_key_ratio_cate", RangeMs(3600000), 2, wIdx = 1),
                AggSpec("rv", "top_n_value_ratio_cate", RangeMs(3600000), 2, wIdx = 1),
                AggSpec("dc", "distinct_count", RangeMs(3600000), vIdx = 0, vStr = true),
                AggSpec("md_c", "median", RangeMs(3600000))),
            latenessMs = 0, tileGranularityMs = 600000)
          .select(col("ts_ms"), col("key"), (col("value_c") / 100).as("value"),
            col("big"), col("cate"),
            (col("sum_w_c") / 100).as("sum_w"), col("cnt_w").cast("long").as("cnt_w"),
            (col("min_w_c") / 100).as("min_w"), (col("max_w_c") / 100).as("max_w"),
            col("sc"), col("scw"), col("tnk"), col("tnv"), col("rk"), col("rv"),
            col("dc"), (col("md_c") / 100).as("md"))
          .orderBy("ts_ms", "key", "value")
      },
      Some(s"""
        WITH ev AS (
          SELECT epoch_ms(ts) AS ts_ms, CAST(user_id AS VARCHAR) AS key,
                 CAST(round(value * 100) AS BIGINT) AS value_c,
                 (value > 10.0) AS big_b, event_type AS cate
          FROM events)
        SELECT ts_ms, key, CAST(value_c AS DOUBLE) / 100 AS value,
               CAST(CASE WHEN big_b THEN 1.0 ELSE 0.0 END AS DOUBLE) AS big, cate,
               CAST(sum(CASE WHEN big_b THEN value_c END) OVER w AS DOUBLE) / 100 AS sum_w,
               count(CASE WHEN big_b THEN value_c END) OVER w AS cnt_w,
               CAST(min(CASE WHEN big_b THEN value_c END) OVER w AS DOUBLE) / 100 AS min_w,
               CAST(max(CASE WHEN big_b THEN value_c END) OVER w AS DOUBLE) / 100 AS max_w,
               (SELECT coalesce(string_agg(k2 || ':' || ${fm("s")}, ',' ORDER BY k2 || ':' || ${fm("s")}), '')
                FROM (SELECT f.cate AS k2, CAST(sum(f.value_c) AS DOUBLE) AS s
                      FROM ev f WHERE f.key = e.key
                        AND f.ts_ms BETWEEN e.ts_ms - 3600000 AND e.ts_ms
                        AND f.cate IS NOT NULL GROUP BY f.cate)) AS sc,
               (SELECT coalesce(string_agg(k2 || ':' || ${fm("s")}, ',' ORDER BY k2 || ':' || ${fm("s")}), '')
                FROM (SELECT f.cate AS k2, CAST(sum(f.value_c) AS DOUBLE) AS s
                      FROM ev f WHERE f.key = e.key
                        AND f.ts_ms BETWEEN e.ts_ms - 3600000 AND e.ts_ms
                        AND f.cate IS NOT NULL AND f.big_b GROUP BY f.cate)) AS scw,
               (SELECT coalesce(string_agg(k2 || ':' || ${fm("s")}, ',' ORDER BY k2 DESC), '')
                FROM (SELECT k2, s, row_number() OVER (ORDER BY k2 DESC) AS rn
                      FROM (SELECT f.cate AS k2, CAST(sum(f.value_c) AS DOUBLE) AS s
                            FROM ev f WHERE f.key = e.key
                              AND f.ts_ms BETWEEN e.ts_ms - 3600000 AND e.ts_ms
                              AND f.cate IS NOT NULL AND f.big_b GROUP BY f.cate))
                WHERE rn <= 2) AS tnk,
               (SELECT coalesce(string_agg(k2 || ':' || CAST(c AS VARCHAR), ',' ORDER BY c DESC, k2 DESC), '')
                FROM (SELECT k2, c, row_number() OVER (ORDER BY c DESC, k2 DESC) AS rn
                      FROM (SELECT f.cate AS k2, count(*) AS c
                            FROM ev f WHERE f.key = e.key
                              AND f.ts_ms BETWEEN e.ts_ms - 3600000 AND e.ts_ms
                              AND f.cate IS NOT NULL AND f.big_b GROUP BY f.cate))
                WHERE rn <= 2) AS tnv,
               (SELECT coalesce(string_agg(k2 || ':' || ${fm("r")}, ',' ORDER BY k2 DESC), '')
                FROM (SELECT k2, r, row_number() OVER (ORDER BY k2 DESC) AS rn
                      FROM (SELECT f.cate AS k2,
                                   CAST(count(CASE WHEN f.big_b THEN 1 END) AS DOUBLE)
                                     / CAST(count(*) AS DOUBLE) AS r
                            FROM ev f WHERE f.key = e.key
                              AND f.ts_ms BETWEEN e.ts_ms - 3600000 AND e.ts_ms
                              AND f.cate IS NOT NULL GROUP BY f.cate))
                WHERE rn <= 2) AS rk,
               (SELECT coalesce(string_agg(k2 || ':' || ${fm("r")}, ',' ORDER BY r DESC, k2 DESC), '')
                FROM (SELECT k2, r, row_number() OVER (ORDER BY r DESC, k2 DESC) AS rn
                      FROM (SELECT f.cate AS k2,
                                   CAST(count(CASE WHEN f.big_b THEN 1 END) AS DOUBLE)
                                     / CAST(count(*) AS DOUBLE) AS r
                            FROM ev f WHERE f.key = e.key
                              AND f.ts_ms BETWEEN e.ts_ms - 3600000 AND e.ts_ms
                              AND f.cate IS NOT NULL GROUP BY f.cate))
                WHERE rn <= 2) AS rv,
               CAST(count(DISTINCT cate) OVER w AS DOUBLE) AS dc,
               median(value_c) OVER w / 100 AS md
        FROM ev e
        WINDOW w AS (PARTITION BY key ORDER BY ts_ms
                     RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
        ORDER BY ts_ms, key, value"""))

    // Multi-column PARTITION BY through the SQL compiler + streaming engine:
    // windows keyed on (user_id, event_type) — the engine runs on a derived
    // composite key (WindowSql length-prefixes each part) and the source key
    // columns ride string slots, cast back per type on output. The reference
    // keys windows on the plan's full PARTITION BY list
    // (src/api/planner.rs:409-415, key_by_function.rs:56-172).
    m += "q_window_streaming_mk" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        import org.apache.spark.sql.functions.col
        import graft.api.WindowSql
        import graft.streaming.StreamVerify
        val ev = s.sql(
          """SELECT ts DIV 1000000 AS ts_ms, user_id AS uid, event_type AS etype,
                    CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE) AS value_c
             FROM events""")
        val mkSql = """
          SELECT ts_ms, uid, etype, value_c,
                 sum(value_c) OVER w AS sum_c,
                 count(*) OVER w AS cnt_1h,
                 max(value_c) OVER w AS max_c
          FROM mk_events
          WINDOW w AS (PARTITION BY uid, etype ORDER BY ts_ms
                       RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)"""
        val c = WindowSql.compile(s, mkSql).fold(e => sys.error(e), identity)
        StreamVerify.runBoundedSql(s, c, ev, latenessMs = 0,
            tileGranularityMs = 600000)
          .select(col("ts_ms"), col("uid"), col("etype"),
            (col("value_c") / 100).as("value"),
            (col("sum_c") / 100).as("sum_1h"),
            col("cnt_1h").cast("long").as("cnt_1h"),
            (col("max_c") / 100).as("max_1h"))
          .orderBy("ts_ms", "uid", "etype", "value")
      },
      Some("""
        SELECT ts_ms, uid, etype,
               CAST(value_c AS DOUBLE) / 100 AS value,
               CAST(sum(value_c) OVER w AS DOUBLE) / 100 AS sum_1h,
               count(*) OVER w AS cnt_1h,
               CAST(max(value_c) OVER w AS DOUBLE) / 100 AS max_1h
        FROM (SELECT epoch_ms(ts) AS ts_ms, user_id AS uid, event_type AS etype,
                     CAST(round(value * 100) AS BIGINT) AS value_c FROM events)
        WINDOW w AS (PARTITION BY uid, etype ORDER BY ts_ms
                     RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
        ORDER BY ts_ms, uid, etype, value"""))

    // Same semantics as q_top_window, evaluated through the tiled per-key
    // engine sweep (SlidingWindows.batchComputeMulti) instead of WindowExec —
    // the scale path for ML aggregates over long frames: O(buckets + edge)
    // per row instead of rebuilding the aggregation buffer per output row.
    m += "q_top_window_tiled" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        import org.apache.spark.sql.functions.col
        import graft.streaming.SlidingWindows
        import graft.streaming.SlidingWindows.{AggSpec, RangeMs}
        val ev = s.sql(
          """SELECT ts DIV 1000000 AS ts_ms, CAST(user_id AS STRING) AS key, value
             FROM events""")
        SlidingWindows.batchComputeMulti(ev, "key", "ts_ms", Seq("value"), Nil,
            Seq(AggSpec("top_1h", "top", RangeMs(3600000), 3)),
            tileGranularityMs = 600000)
          .orderBy("ts_ms", "key", "value")
      },
      Some(s"""
        WITH ev AS (SELECT epoch_ms(ts) AS ts_ms, user_id, value FROM events)
        SELECT e.ts_ms, CAST(e.user_id AS VARCHAR) AS key, e.value,
               (SELECT coalesce(string_agg(${fm("f.value")}, ',' ORDER BY f.value DESC), '')
                FROM (SELECT value FROM ev f0
                      WHERE f0.user_id = e.user_id
                        AND f0.ts_ms BETWEEN e.ts_ms - 3600000 AND e.ts_ms
                        AND f0.value IS NOT NULL
                      ORDER BY f0.value DESC LIMIT 3) f) AS top_1h
        FROM ev e ORDER BY e.ts_ms, key, e.value"""))

    // Request mode (SURVEY §2.6 WindowRequestOperator / §3.3): window
    // aggregates evaluated at a virtual point-in-time for every key —
    // the batch rendition of the reference's request-time evaluation
    // (window_request_operator.rs:90-300). The virtual point is derived
    // from the data (24 h before the newest event) exactly as a live
    // request would carry "now"; the 72 h frame keeps every user in play
    // (events span ~30 days). Exact integer cents end-to-end.
    m += "q_request_pit" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        import org.apache.spark.sql.functions.{col, max => fmax}
        import graft.serving.RequestServing
        import graft.streaming.SlidingWindows.{AggSpec, RangeMs}
        val ev = s.sql(
          """SELECT ts DIV 1000000 AS ts_ms, user_id FROM events""")
        val atTs = ev.agg(fmax("ts_ms")).head().getLong(0) - 86400000L
        // pre-filter on the RAW ts column (parquet-native type) so the
        // bound reaches the scan as a PushedFilter / row-group pruning —
        // a filter on the view's derived BIGINT ts wouldn't push when the
        // file stores a timestamp. The RANGE frame is INCLUSIVE [at-len,
        // at] (reference plain_points.rs:107 start_ts = ts - len then
        // seek_ts_ge), so ts_ms >= B <=> raw ts >= B ms.
        val raw = GraftSession.table(s, dir, "events")
        val bounded = GraftSession
          .normalizeTs(
            raw.where(GraftSession.tsRangeMs(raw, atTs - 259200000L, atTs + 1L)),
            s"$dir/events.parquet")
          .selectExpr(
            "ts DIV 1000000 AS ts_ms", "user_id",
            "CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE) AS value_c",
            "CAST(CASE WHEN value > 10.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS big",
            "event_type AS cate")
        // engine-based evaluation at the virtual point: EVERY aggregate
        // kind (the reference's plain_points/retractable_points), not just
        // the 5 conditional-aggregation-friendly ones
        RequestServing.pointInTimeMulti(bounded, "user_id", "ts_ms",
            Seq("value_c", "big"), Seq("cate"),
            Seq(AggSpec("sum_3d_c", "sum", RangeMs(259200000L)),
                AggSpec("cnt_3d", "count", RangeMs(259200000L)),
                AggSpec("avg_3d_c", "avg", RangeMs(259200000L)),
                AggSpec("min_3d_c", "min", RangeMs(259200000L)),
                AggSpec("max_3d_c", "max", RangeMs(259200000L)),
                AggSpec("cnt_12h", "count", RangeMs(43200000L)),
                AggSpec("sd_3d_c", "stddev", RangeMs(259200000L)),
                AggSpec("top3_3d", "top", RangeMs(259200000L), 3),
                AggSpec("sc_3d", "sum_cate", RangeMs(259200000L)),
                AggSpec("ccw_3d", "count_cate_where", RangeMs(259200000L), wIdx = 1),
                AggSpec("rk_3d", "top_n_key_ratio_cate", RangeMs(259200000L), 2, wIdx = 1),
                AggSpec("dc_3d", "distinct_count", RangeMs(259200000L), vIdx = 0, vStr = true),
                AggSpec("md_3d_c", "median", RangeMs(259200000L))),
            atTs)
          .select(col("key").cast("long").as("user_id"),
            (col("sum_3d_c") / 100).as("sum_3d"),
            col("cnt_3d").cast("long").as("cnt_3d"),
            (col("avg_3d_c") / 100).as("avg_3d"),
            (col("min_3d_c") / 100).as("min_3d"),
            (col("max_3d_c") / 100).as("max_3d"),
            col("cnt_12h").cast("long").as("cnt_12h"),
            (col("sd_3d_c") / 100).as("sd_3d"),
            col("top3_3d"), col("sc_3d"), col("ccw_3d"), col("rk_3d"), col("dc_3d"),
            (col("md_3d_c") / 100).as("md_3d"))
          .orderBy("user_id")
      },
      Some(s"""
        WITH ev AS (SELECT epoch_ms(ts) AS ts_ms, user_id,
                           CAST(round(value * 100) AS BIGINT) AS value_c,
                           (value > 10.0) AS big_b, event_type AS cate FROM events),
        t AS (SELECT max(ts_ms) - 86400000 AS at_ts FROM ev),
        w3 AS (SELECT e.*, t.at_ts FROM ev e, t
               WHERE e.ts_ms <= t.at_ts AND e.ts_ms >= t.at_ts - 259200000),
        base AS (
          SELECT user_id,
                 CAST(sum(value_c) AS DOUBLE) / 100 AS sum_3d,
                 count(value_c) AS cnt_3d,
                 (CAST(sum(value_c) AS DOUBLE) / count(value_c)) / 100 AS avg_3d,
                 CAST(min(value_c) AS DOUBLE) / 100 AS min_3d,
                 CAST(max(value_c) AS DOUBLE) / 100 AS max_3d,
                 count(CASE WHEN ts_ms >= at_ts - 43200000 THEN value_c END) AS cnt_12h,
                 CASE WHEN count(*) > 1 THEN
                   sqrt(CAST(count(*) * sum(value_c * value_c) - sum(value_c) * sum(value_c) AS DOUBLE)
                        / (count(*) * (count(*) - 1))) / 100 END AS sd_3d
          FROM w3 GROUP BY user_id),
        top3 AS (
          SELECT user_id, string_agg(${fm("CAST(value_c AS DOUBLE)")}, ',' ORDER BY value_c DESC) AS top3_3d
          FROM (SELECT user_id, value_c,
                       row_number() OVER (PARTITION BY user_id ORDER BY value_c DESC) AS rn
                FROM w3) WHERE rn <= 3 GROUP BY user_id),
        cates AS (
          SELECT user_id, cate, CAST(sum(value_c) AS DOUBLE) AS s,
                 count(CASE WHEN big_b THEN 1 END) AS mc, count(*) AS tc
          FROM w3 WHERE cate IS NOT NULL GROUP BY user_id, cate),
        sc AS (SELECT user_id, string_agg(cate || ':' || ${fm("s")}, ',' ORDER BY cate || ':' || ${fm("s")}) AS sc_3d
               FROM cates GROUP BY user_id),
        ccw AS (SELECT user_id, string_agg(cate || ':' || CAST(mc AS VARCHAR), ',' ORDER BY cate || ':' || CAST(mc AS VARCHAR)) AS ccw_3d
                FROM cates WHERE mc > 0 GROUP BY user_id),
        rk AS (SELECT user_id, string_agg(cate || ':' || ${fm("r")}, ',' ORDER BY cate DESC) AS rk_3d
               FROM (SELECT user_id, cate, CAST(mc AS DOUBLE) / CAST(tc AS DOUBLE) AS r,
                            row_number() OVER (PARTITION BY user_id ORDER BY cate DESC) AS rn
                     FROM cates) WHERE rn <= 2 GROUP BY user_id)
        SELECT b.user_id, b.sum_3d, b.cnt_3d, b.avg_3d, b.min_3d, b.max_3d,
               b.cnt_12h, b.sd_3d,
               coalesce(top3.top3_3d, '') AS top3_3d,
               coalesce(sc.sc_3d, '') AS sc_3d,
               coalesce(ccw.ccw_3d, '') AS ccw_3d,
               coalesce(rk.rk_3d, '') AS rk_3d,
               (SELECT CAST(count(DISTINCT cate) AS DOUBLE) FROM w3
                WHERE w3.user_id = b.user_id AND cate IS NOT NULL) AS dc_3d,
               (SELECT median(value_c) / 100 FROM w3
                WHERE w3.user_id = b.user_id) AS md_3d
        FROM base b
        LEFT JOIN top3 USING (user_id) LEFT JOIN sc USING (user_id)
        LEFT JOIN ccw USING (user_id) LEFT JOIN rk USING (user_id)
        ORDER BY b.user_id"""))

    // Word count (SURVEY §2.1 word-count source / word_count_benchmark
    // shape: tokenize -> keyby word -> reduce count) over the documents
    // corpus; top 100 by count with a total tie-break.
    m += "q_wordcount" -> split(
      """SELECT token, count(*) AS cnt
         FROM (SELECT explode(regexp_extract_all(text, '\\S+', 0)) AS token FROM documents)
         GROUP BY token ORDER BY cnt DESC, token LIMIT 100""",
      """SELECT token, count(*) AS cnt
         FROM (SELECT unnest(regexp_extract_all(text, '\S+')) AS token FROM documents)
         GROUP BY token ORDER BY cnt DESC, token LIMIT 100""")

    // Semi-structured extraction: the events.props JSON column parsed and
    // aggregated in one pass (Spark get_json_object is codegen'd — no UDF).
    m += "q_json_extract" -> split(
      """SELECT event_type,
               CAST(sum(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               count(get_json_object(props, '$.k')) AS n_with_k
         FROM events GROUP BY event_type ORDER BY event_type""",
      """SELECT event_type,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               count(json_extract_string(props, '$.k')) AS n_with_k
         FROM events GROUP BY event_type ORDER BY event_type""")

    // Single-pass data-profiling report (the Deequ-style quality check a
    // pipeline runs before training): one aggregate computes row count,
    // null fraction, id uniqueness, and length stats — no second scan.
    m += "q_profile" -> both("""
      SELECT count(*) AS n_rows,
             CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS empty_text,
             count(DISTINCT doc_id) AS distinct_ids,
             CAST(min(length(text)) AS BIGINT) AS min_len,
             CAST(max(length(text)) AS BIGINT) AS max_len,
             CAST(sum(length(text)) AS BIGINT) AS total_len
      FROM documents""")

    // BM25 relevance scoring (Robertson/Sparck Jones, k1=1.2 b=0.75) of a
    // fixed query-term set, per (doc, term): every factor derives from
    // exact integer counts (tf, df, doc length, corpus totals) through ONE
    // identically-written arithmetic expression, so both engines produce
    // bit-identical doubles (same IEEE ops in the same order) — the reason
    // the usual log() IDF is replaced by its exact-rational odds form.
    locally {
      val bmTerms = "'join','hash','scan','filter','merge'"
      // ONE scoring expression interpolated into BOTH engines' SQL: the
      // bit-identical-doubles contract needs the exact same IEEE ops in
      // the exact same order, so the formula must not exist twice
      val scoreExpr = """CAST(((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
                    * (tf * CAST(2.2 AS DOUBLE))
                    / (tf + CAST(1.2 AS DOUBLE)
                         * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl
                            / (CAST(total_len AS DOUBLE) / n_docs)))
                 AS DOUBLE) AS bm25"""
      def bmSql(tokens: String): String = s"""
        WITH tok AS (SELECT doc_id, token FROM ($tokens)),
        dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM dl),
        tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
               WHERE token IN ($bmTerms) GROUP BY doc_id, token),
        df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok
               WHERE token IN ($bmTerms) GROUP BY token)
        SELECT tf.doc_id, tf.token,
               $scoreExpr
        FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
        ORDER BY bm25 DESC, doc_id, token LIMIT 50"""
      // Spark side: SINGLE tokenize + groupBy(doc) pass — per-term tf as
      // conditional counts, df/corpus stats derived from that aggregate,
      // every later reference hitting the same exchange (ReusedExchange,
      // the minhash sharing pattern). The naive 3-CTE form re-tokenized
      // the corpus three times — wrong shape at 100 TB. DuckDB keeps the
      // readable 3-CTE oracle; identical integers -> identical doubles.
      val terms = Seq("join", "hash", "scan", "filter", "merge")
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"count(CASE WHEN token = '$t' THEN 1 END) AS tf$i"
      }.mkString(",\n               ")
      val dfCols = terms.indices.map(i =>
        s"count(CASE WHEN tf$i > 0 THEN 1 END) AS df$i").mkString(", ")
      val tflArms = terms.zipWithIndex.map { case (t, i) =>
        s"SELECT doc_id, dl, '$t' AS token, tf$i AS tf FROM perdoc WHERE tf$i > 0"
      }.mkString(" UNION ALL ")
      val dfCase = "CASE token " + terms.zipWithIndex.map { case (t, i) =>
        s"WHEN '$t' THEN df$i"
      }.mkString(" ") + " END"
      val perdocSql = s"""
          SELECT doc_id, count(*) AS dl,
               $tfCols
          FROM (SELECT doc_id, explode(regexp_extract_all(text, '\\\\S+', 0)) AS token
                FROM documents)
          GROUP BY doc_id"""
      val scoreSql = s"""
        WITH stats AS (
          SELECT count(*) AS n_docs, sum(dl) AS total_len, $dfCols FROM perdoc),
        tfl AS ($tflArms)
        SELECT doc_id, token,
               $scoreExpr
        FROM (SELECT tfl.*, $dfCase AS df, n_docs, total_len
              FROM tfl CROSS JOIN stats)
        ORDER BY bm25 DESC, doc_id, token LIMIT 50"""
      m += "q_bm25" -> Q(
        (s, dir) => {
          GraftSession.prepare(s, dir)
          // materialize the one tokenize+aggregate pass: CTE inlining would
          // re-tokenize the corpus for each of the 6 perdoc references
          // (measured: 6 scans, zero ReusedExchange), and perdoc is one
          // short row per document — the cacheable thing at 100 TB. The
          // cache intentionally lives for the session (build-once reuse);
          // locally it is ~7 columns x n_docs, a few hundred KB
          val perdoc = s.sql(perdocSql).persist()
          perdoc.createOrReplaceTempView("perdoc")
          s.sql(scoreSql)
        },
        Some(bmSql("""SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS token
                 FROM documents""")))
    }

    // ================= LLM-data-pipeline operators ========================
    // (dedup / similarity / text analysis / multimodal — SURVEY north star)
    import graft.operators.{Dedup, DedupOracles, Multimodal, Similarity, TextAnalysis}
    import org.apache.spark.sql.functions.{col, concat_ws, octet_length, md5, round, transform, length => flength}

    def op(fn: (SparkSession, String) => DataFrame, oracle: String = null): Q =
      Q((s, dir) => { GraftSession.prepare(s, dir); fn(s, dir) }, Option(oracle))

    /** DuckDB global-flag regexp_replace (Spark replaces all by default). */
    val duckFp = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"

    m += "q_fingerprint" -> op(
      (s, dir) => GraftSession.table(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"),
          flength(col("text")).as("n_chars2"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, $duckFp AS fp, CAST(length(text) AS INT) AS n_chars2
          FROM documents ORDER BY doc_id""")

    m += "q_dedup_exact" -> op(
      (s, dir) => {
        val docs = GraftSession.table(s, dir, "documents")
          .withColumn("fp", TextAnalysis.fingerprint(col("text")))
        Dedup.exact(docs, "doc_id", Seq("fp")).select("doc_id", "fp").orderBy("doc_id")
      },
      s"""SELECT doc_id, $duckFp AS fp FROM documents
          WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY $duckFp)
          ORDER BY doc_id""")

    // Paragraph/block-level exact dedup (the Dolma paragraph pass):
    // dedup BELOW document granularity — repeated 16-word blocks across
    // otherwise-distinct docs, corpus-wide first-(doc,pos) wins. One
    // explode + one hash shuffle; the oracle replays the split/slice/md5/
    // rank pipeline in DuckDB list functions.
    m += "q_dedup_paragraph" -> op(
      (s, dir) => Dedup.paragraphDedup(
          GraftSession.table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      """WITH d AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents),
         blk AS (
           SELECT doc_id, pos,
                  md5(array_to_string(w[pos * 16 + 1 : pos * 16 + 16], ' ')) AS h
           FROM d, unnest(range(0, CAST(ceil(len(w) / 16.0) AS INT))) AS t(pos)),
         r AS (SELECT doc_id, pos, h,
                      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
               FROM blk)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
                CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM r GROUP BY doc_id ORDER BY doc_id""")

    m += "q_text_stats" -> op(
      (s, dir) => TextAnalysis.stats(GraftSession.table(s, dir, "documents"),
        "doc_id", "text").orderBy("doc_id"),
      """SELECT doc_id,
               CAST(length(text) AS INT) AS n_chars,
               CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens,
               CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT) AS n_subwords,
               CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS INT) AS n_alpha,
               CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS INT) AS n_punct,
               CASE WHEN len(regexp_extract_all(text, '\S+')) > 0 THEN
                 CAST(length(text) - length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
                   / len(regexp_extract_all(text, '\S+')) END AS mean_token_len,
               CASE WHEN length(text) > 0 THEN
                 CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text)
               END AS alpha_ratio,
               CASE WHEN length(text) > 0 THEN
                 CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text)
               END AS punct_ratio
         FROM documents ORDER BY doc_id""")

    m += "q_text_quality" -> op(
      (s, dir) => GraftSession.table(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      """SELECT doc_id,
               (CASE WHEN nt >= 10 AND nt <= 100000 THEN 1.0 ELSE nt / 10.0 END
                + CASE WHEN nt > 0 THEN least(sw * 4.0 / nt, 1.0) ELSE 0.0 END
                + CASE WHEN nc > 0 THEN al / nc ELSE 0.0 END) / 3.0 AS quality
         FROM (
           SELECT doc_id,
                  CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS nt,
                  CAST(length(text) AS DOUBLE) AS nc,
                  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS al,
                  CAST(len(regexp_extract_all(lower(text), '\bthe\b'))
                     + len(regexp_extract_all(lower(text), '\band\b'))
                     + len(regexp_extract_all(lower(text), '\bof\b'))
                     + len(regexp_extract_all(lower(text), '\bto\b'))
                     + len(regexp_extract_all(lower(text), '\ba\b')) AS DOUBLE) AS sw
           FROM documents
         ) ORDER BY doc_id""")

    // PII scrubbing (emails / IPv4 / phones masked before a corpus ships).
    // The synthetic docs carry no PII, so the entry PLANTS a deterministic
    // payload per doc_id in both engines — every mask and count is real
    // signal, and the md5 of the redacted text pins replacement positions
    // exactly. Patterns live in the Java-regex/RE2 common subset so both
    // engines match identically.
    m += "q_pii_redact" -> op(
      (s, dir) => {
        import org.apache.spark.sql.functions.{expr, md5 => fmd5}
        val aug = GraftSession.table(s, dir, "documents").withColumn("text", expr(
          """concat(text, ' contact user', doc_id, '@mail.example.com from 10.',
             doc_id % 256, '.0.', doc_id % 100,
             CASE WHEN doc_id % 3 = 0
                  THEN concat(' cc admin', doc_id, '@example.org') ELSE '' END,
             CASE WHEN doc_id % 4 = 0 THEN ''
                  ELSE concat(' tel +1-555-',
                              lpad(CAST(doc_id % 10000 AS STRING), 4, '0')) END)"""))
        graft.operators.Pii.redact(aug, "text")
          .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
            fmd5(col("redacted")).as("digest"))
          .orderBy("doc_id")
      },
      """WITH aug AS (
           SELECT doc_id,
                  text || ' contact user' || doc_id || '@mail.example.com from 10.' ||
                  (doc_id % 256) || '.0.' || (doc_id % 100) ||
                  CASE WHEN doc_id % 3 = 0
                       THEN ' cc admin' || doc_id || '@example.org' ELSE '' END ||
                  CASE WHEN doc_id % 4 = 0 THEN ''
                       ELSE ' tel +1-555-' ||
                            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') END AS text
           FROM documents)
         , staged AS (
           SELECT doc_id, text,
                  regexp_replace(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS after_email
           FROM aug),
         staged2 AS (
           SELECT doc_id, text, after_email,
                  regexp_replace(after_email,
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS after_ip
           FROM staged)
         SELECT doc_id,
                CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(after_email, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
                CAST(len(regexp_extract_all(after_ip, '\+1-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
                md5(regexp_replace(after_ip, '\+1-\d{3}-\d{4}', '[PHONE]', 'g')) AS digest
         FROM staged2 ORDER BY doc_id""")

    m += "q_lang_id" -> op(
      (s, dir) => GraftSession.table(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_guess"))
        .orderBy("doc_id"),
      """SELECT doc_id,
               CASE WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
                    WHEN en >= es AND en >= de AND en >= fr THEN 'en'
                    WHEN es >= de AND es >= fr THEN 'es'
                    WHEN de >= fr THEN 'de'
                    ELSE 'fr' END AS lang_guess
         FROM (
           SELECT doc_id,
                  len(regexp_extract_all(lower(text), '\bthe\b')) + len(regexp_extract_all(lower(text), '\band\b'))
                + len(regexp_extract_all(lower(text), '\bof\b')) + len(regexp_extract_all(lower(text), '\bto\b'))
                + len(regexp_extract_all(lower(text), '\ba\b')) AS en,
                  len(regexp_extract_all(lower(text), '\bel\b')) + len(regexp_extract_all(lower(text), '\bla\b'))
                + len(regexp_extract_all(lower(text), '\bde\b')) + len(regexp_extract_all(lower(text), '\bque\b'))
                + len(regexp_extract_all(lower(text), '\by\b')) AS es,
                  len(regexp_extract_all(lower(text), '\bder\b')) + len(regexp_extract_all(lower(text), '\bdie\b'))
                + len(regexp_extract_all(lower(text), '\bund\b')) + len(regexp_extract_all(lower(text), '\bdas\b'))
                + len(regexp_extract_all(lower(text), '\bist\b')) AS de,
                  len(regexp_extract_all(lower(text), '\ble\b')) + len(regexp_extract_all(lower(text), '\bla\b'))
                + len(regexp_extract_all(lower(text), '\bet\b')) + len(regexp_extract_all(lower(text), '\bles\b'))
                + len(regexp_extract_all(lower(text), '\bdes\b')) AS fr
           FROM documents
         ) ORDER BY doc_id""")

    // ---- training-data curation beyond the reference (r7) --------------
    // Benchmark decontamination: flag training docs sharing any word
    // 8-gram with an "eval set" (here doc_id % 29 = 0 stands in for the
    // benchmark suite). Scale shape: grams are DISTINCT-ed per side before
    // the join (one shuffle each), the eval side is tiny and broadcasts
    // under AQE, and a stop-gram cap (grams in > 64 eval docs are dropped,
    // the standard boilerplate guard) bounds the join's per-gram fan-out —
    // so the probe is |train grams| x small, never all-pairs.
    m += "q_decontaminate" -> split(
      """WITH toks AS (SELECT doc_id, split(text, ' ') AS t FROM documents),
         g AS (SELECT doc_id,
                      explode(transform(sequence(1, size(t) - 7),
                                        i -> concat_ws(' ', slice(t, i, 8)))) AS gram
               FROM toks WHERE size(t) >= 8),
         evf AS (SELECT gram, eval_id FROM (
                   SELECT gram, eval_id, count(*) OVER (PARTITION BY gram) AS n_ev
                   FROM (SELECT gram, doc_id AS eval_id FROM g
                         WHERE doc_id % 29 = 0 GROUP BY 1, 2))
                 WHERE n_ev <= 64),
         tr AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 29 <> 0)
         SELECT tr.doc_id, count(DISTINCT evf.eval_id) AS n_eval_docs,
                count(*) AS n_gram_hits
         FROM tr JOIN evf ON tr.gram = evf.gram
         GROUP BY tr.doc_id ORDER BY tr.doc_id""",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         g AS (SELECT doc_id,
                      unnest(list_transform(generate_series(1, len(t) - 7),
                                            i -> array_to_string(t[i:i+7], ' '))) AS gram
               FROM toks WHERE len(t) >= 8),
         evf AS (SELECT gram, eval_id FROM (
                   SELECT gram, eval_id, count(*) OVER (PARTITION BY gram) AS n_ev
                   FROM (SELECT gram, doc_id AS eval_id FROM g
                         WHERE doc_id % 29 = 0 GROUP BY 1, 2))
                 WHERE n_ev <= 64),
         tr AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 29 <> 0)
         SELECT tr.doc_id, count(DISTINCT evf.eval_id) AS n_eval_docs,
                count(*) AS n_gram_hits
         FROM tr JOIN evf ON tr.gram = evf.gram
         GROUP BY tr.doc_id ORDER BY tr.doc_id""")

    // Context chunking: fixed 64-token windows at stride 48 (16-token
    // overlap) — the tokenize-and-pack front end of a training pipeline.
    // Pure per-row explode: no shuffle except the output sort; at 100 TB
    // this runs at scan parallelism. Chunk text rides as md5 so the
    // compare carries content evidence without shipping the tokens.
    m += "q_chunk" -> split(
      """WITH toks AS (SELECT doc_id, split(text, ' ') AS t FROM documents)
         SELECT doc_id, i AS chunk_idx,
                CAST(size(slice(t, CAST(i * 48 + 1 AS INT), 64)) AS BIGINT) AS n_tokens,
                md5(concat_ws(' ', slice(t, CAST(i * 48 + 1 AS INT), 64))) AS chunk_md5
         FROM (SELECT doc_id, t,
                      explode(sequence(CAST(0 AS BIGINT), (size(t) - 1) DIV 48)) AS i
               FROM toks WHERE size(t) >= 1)
         ORDER BY doc_id, chunk_idx""",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         SELECT doc_id, i AS chunk_idx,
                len(t[(i*48+1):(i*48+64)]) AS n_tokens,
                md5(array_to_string(t[(i*48+1):(i*48+64)], ' ')) AS chunk_md5
         FROM (SELECT doc_id, t, unnest(generate_series(0, (len(t) - 1) // 48)) AS i
               FROM toks WHERE len(t) >= 1)
         ORDER BY doc_id, chunk_idx""")

    // Repetition filter (Gopher-style): duplicate-token fraction per doc.
    // Single scan, no shuffle; the one double division is shared
    // verbatim by both engines so the ratio is bit-identical.
    m += "q_repetition" -> split(
      """SELECT doc_id, CAST(size(t) AS BIGINT) AS n_tokens,
                CAST(size(array_distinct(t)) AS BIGINT) AS n_distinct,
                CAST(size(t) - size(array_distinct(t)) AS DOUBLE) / size(t) AS dup_ratio
         FROM (SELECT doc_id, split(text, ' ') AS t FROM documents)
         WHERE size(t) > 0 ORDER BY doc_id""",
      """SELECT doc_id, len(t) AS n_tokens,
                len(list_distinct(t)) AS n_distinct,
                CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / len(t) AS dup_ratio
         FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         WHERE len(t) > 0 ORDER BY doc_id""")

    // Winnowing fingerprints (the rolling-hash document-fingerprint
    // scheme): 5-gram hashes, min over each 4-hash window, distinct per
    // doc. Engine-portable 60-bit md5-prefix hashes (Dedup.hash60's
    // contract) make the fingerprint SETS comparable value-for-value —
    // a far stronger pin than a count. One window pass per doc partition.
    m += "q_winnow" -> split(
      """WITH toks AS (SELECT doc_id, split(text, ' ') AS t FROM documents),
         g AS (SELECT doc_id, i - 1 AS pos,
                      CAST(conv(substring(md5(concat_ws(' ', slice(t, CAST(i AS INT), 5))), 1, 15), 16, 10) AS BIGINT) AS h
               FROM (SELECT doc_id, t, explode(sequence(1, size(t) - 4)) AS i
                     FROM toks WHERE size(t) >= 5)),
         win AS (SELECT doc_id, pos,
                        min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
                 FROM g)
         SELECT DISTINCT doc_id, fp FROM win WHERE pos >= 3
         ORDER BY doc_id, fp""",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         g AS (SELECT doc_id, i - 1 AS pos,
                      ('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 15))::BIGINT AS h
               FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
                     FROM toks WHERE len(t) >= 5)),
         win AS (SELECT doc_id, pos,
                        min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
                 FROM g)
         SELECT DISTINCT doc_id, fp FROM win WHERE pos >= 3
         ORDER BY doc_id, fp""")

    // Sequence packing: greedy first-fit of docs (in doc_id order) into
    // 256-token context bins, per source — the batch-assembly step before
    // training. Packing is inherently sequential PER STREAM, so the
    // parallel unit is the source (at 100 TB: (source, deterministic
    // shard)); the per-source fold runs over (doc_id, n_tokens) pairs
    // only — token counts, never text, cross the shuffle — via the
    // aggregate() higher-order function (codegen'd, no UDF). The oracle
    // replays the same greedy recurrence as a recursive CTE. A doc larger
    // than the bin gets its own bin (the `used = 0` arm) in both engines.
    m += "q_pack" -> split(
      """WITH d AS (SELECT source, doc_id, size(split(text, ' ')) AS n FROM documents),
         arr AS (SELECT source,
                        sort_array(collect_list(named_struct('doc_id', doc_id, 'n', n))) AS xs
                 FROM d GROUP BY source),
         packed AS (SELECT source,
           aggregate(xs,
             named_struct('bin', CAST(0 AS BIGINT), 'used', CAST(0 AS BIGINT),
                          'out', CAST(array() AS ARRAY<STRUCT<doc_id: BIGINT, bin: BIGINT>>)),
             (acc, x) -> IF(acc.used + x.n <= 256 OR acc.used = 0,
               named_struct('bin', acc.bin, 'used', acc.used + x.n,
                 'out', array_append(acc.out, named_struct('doc_id', x.doc_id, 'bin', acc.bin))),
               named_struct('bin', acc.bin + CAST(1 AS BIGINT), 'used', CAST(x.n AS BIGINT),
                 'out', array_append(acc.out, named_struct('doc_id', x.doc_id,
                                                           'bin', acc.bin + CAST(1 AS BIGINT))))),
             acc -> acc.out) AS out
           FROM arr)
         SELECT source, p.doc_id AS doc_id, p.bin AS bin
         FROM packed LATERAL VIEW explode(out) t AS p
         ORDER BY source, doc_id""",
      """WITH RECURSIVE d AS (
           SELECT source, doc_id, len(string_split(text, ' ')) AS n,
                  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           FROM documents),
         r AS (
           SELECT source, doc_id, n, rn, 0::BIGINT AS bin, n::BIGINT AS used
           FROM d WHERE rn = 1
           UNION ALL
           SELECT d.source, d.doc_id, d.n, d.rn,
                  CASE WHEN r.used + d.n <= 256 THEN r.bin ELSE r.bin + 1 END,
                  CASE WHEN r.used + d.n <= 256 THEN r.used + d.n ELSE d.n::BIGINT END
           FROM d JOIN r ON d.source = r.source AND d.rn = r.rn + 1)
         SELECT source, doc_id, bin FROM r ORDER BY source, doc_id""")

    // Symmetric int8 vector quantization (per-vector max-abs scale) —
    // the 4x storage/bandwidth compression an ANN index applies before
    // sharding vectors at 100 TB. Pure per-row transform at scan
    // parallelism. Exactness: floats widen to double exactly, and both
    // engines run the SAME IEEE expression floor(x*127/mx + 0.5)
    // (explicit round-half-up — the engines' own round() differ at .5:
    // Spark HALF_UP vs DuckDB HALF_EVEN).
    // (qvec rides as a comma-joined string: the driver compare hashes
    // values with arrow types, and list CHILD FIELD NAMES differ between
    // engines — same convention as q_top)
    m += "q_embed_quant" -> split(
      """SELECT vec_id,
                array_join(transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS INT)), ',') AS qvec,
                CAST(mx AS DOUBLE) AS scale
         FROM (SELECT vec_id, embedding,
                      greatest(array_max(transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))), 1e-30d) AS mx
               FROM embeddings)
         ORDER BY vec_id""",
      """SELECT vec_id,
                array_to_string(list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS INT)), ',') AS qvec,
                CAST(mx AS DOUBLE) AS scale
         FROM (SELECT vec_id, embedding,
                      greatest(list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS mx
               FROM embeddings)
         ORDER BY vec_id""")

    // Tokenizer vocabulary build: top-V tokens by corpus frequency with
    // exact cumulative-coverage rationals (cum_freq/total_freq — emitted
    // as the two BIGINTs, never the float). Scale shape: one partial-agg
    // shuffle on token, then a global top-V via ORDER BY+LIMIT
    // (TakeOrderedAndProject: every partition forwards at most V rows);
    // the rank/cumsum window runs over the V survivors only — a
    // single-partition window over 100 rows, not the corpus.
    m += "q_vocab" -> split(
      """WITH cnt AS (SELECT w AS token, CAST(count(*) AS BIGINT) AS freq
                      FROM (SELECT explode(split(text, ' ')) AS w FROM documents)
                      GROUP BY w),
         top AS (SELECT token, freq FROM cnt ORDER BY freq DESC, token LIMIT 100)
         SELECT CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rnk,
                token, freq,
                CAST(sum(freq) OVER (ORDER BY freq DESC, token
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_freq,
                (SELECT CAST(sum(freq) AS BIGINT) FROM cnt) AS total_freq
         FROM top ORDER BY rnk""",
      """WITH cnt AS (SELECT w AS token, CAST(count(*) AS BIGINT) AS freq
                      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                      GROUP BY w),
         top AS (SELECT token, freq FROM cnt ORDER BY freq DESC, token LIMIT 100)
         SELECT CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rnk,
                token, freq,
                CAST(sum(freq) OVER (ORDER BY freq DESC, token
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_freq,
                (SELECT CAST(sum(freq) AS BIGINT) FROM cnt) AS total_freq
         FROM top ORDER BY rnk""")

    // Per-doc out-of-vocabulary rate against the top-V vocab. The vocab
    // collapses to ONE array row and broadcast-cross-joins onto the doc
    // scan, so the scoring side is a single pass with NO token explosion
    // and no shuffle — the shuffle budget is the vocab build alone.
    // Integer (n_tokens, n_oov) only; the rate is theirs to divide.
    m += "q_oov" -> split(
      """WITH cnt AS (SELECT w AS token, count(*) AS freq
                      FROM (SELECT explode(split(text, ' ')) AS w FROM documents)
                      GROUP BY w),
         v AS (SELECT collect_list(token) AS vocab
               FROM (SELECT token FROM cnt ORDER BY freq DESC, token LIMIT 100)),
         d AS (SELECT doc_id, split(text, ' ') AS t FROM documents)
         SELECT doc_id, CAST(size(t) AS BIGINT) AS n_tokens,
                CAST(size(filter(t, x -> NOT array_contains(vocab, x))) AS BIGINT) AS n_oov
         FROM d CROSS JOIN v WHERE size(t) > 0
         ORDER BY doc_id""",
      """WITH cnt AS (SELECT w AS token, count(*) AS freq
                      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                      GROUP BY w),
         v AS (SELECT list(token) AS vocab
               FROM (SELECT token FROM cnt ORDER BY freq DESC, token LIMIT 100)),
         d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                CAST(len(list_filter(t, x -> NOT list_contains(vocab, x))) AS BIGINT) AS n_oov
         FROM d CROSS JOIN v WHERE len(t) > 0
         ORDER BY doc_id""")

    // Per-source cap sampling (the RefinedWeb-style per-domain cap that
    // keeps one domain from dominating the corpus): keep at most 20 docs
    // per source, chosen by DETERMINISTIC hash order (md5-prefix of
    // doc_id — the hash60 contract), never by arrival order. The
    // cap_rank <= 20 filter sits directly on the row_number, so Spark's
    // WindowGroupLimit prunes to 20 rows per source MAP-SIDE before the
    // window shuffle; per-source totals ride a separate partial-agg
    // broadcast join.
    m += "q_domain_cap" -> split(
      """WITH ranked AS (
           SELECT source, doc_id,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT),
                             doc_id) AS BIGINT) AS cap_rank
           FROM documents),
         n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_source
               FROM documents GROUP BY source)
         SELECT r.source AS source, doc_id, cap_rank, n_source
         FROM ranked r JOIN n ON r.source = n.source
         WHERE cap_rank <= 20
         ORDER BY source, doc_id""",
      """WITH ranked AS (
           SELECT source, doc_id,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                             doc_id) AS BIGINT) AS cap_rank
           FROM documents),
         n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_source
               FROM documents GROUP BY source)
         SELECT r.source AS source, doc_id, cap_rank, n_source
         FROM ranked r JOIN n ON r.source = n.source
         WHERE cap_rank <= 20
         ORDER BY source, doc_id""")

    // Bigram language-model counts: top-50 bigrams with their count and
    // the prefix-token count — the conditional probability as the exact
    // rational pair (c_bigram, c_prefix), no floats. Two partial-agg
    // shuffles (bigram, then prefix roll-up of the ALREADY-aggregated
    // bigram counts — never a second pass over raw tokens); top-50 via
    // TakeOrderedAndProject on the total order (count DESC, w1, w2).
    m += "q_bigram_lm" -> split(
      """WITH toks AS (SELECT split(text, ' ') AS t FROM documents),
         bg AS (SELECT element_at(t, i - 1) AS w1, element_at(t, i) AS w2
                FROM (SELECT t, explode(sequence(2, size(t))) AS i
                      FROM toks WHERE size(t) >= 2)),
         c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bigram
                 FROM bg GROUP BY w1, w2),
         c1 AS (SELECT w1, CAST(sum(c_bigram) AS BIGINT) AS c_prefix
                FROM c12 GROUP BY w1)
         SELECT c12.w1 AS w1, w2, c_bigram, c_prefix
         FROM c12 JOIN c1 ON c12.w1 = c1.w1
         ORDER BY c_bigram DESC, w1, w2 LIMIT 50""",
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
         bg AS (SELECT t[i - 1] AS w1, t[i] AS w2
                FROM (SELECT t, unnest(generate_series(2, len(t))) AS i
                      FROM toks WHERE len(t) >= 2)),
         c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bigram
                 FROM bg GROUP BY w1, w2),
         c1 AS (SELECT w1, CAST(sum(c_bigram) AS BIGINT) AS c_prefix
                FROM c12 GROUP BY w1)
         SELECT c12.w1 AS w1, w2, c_bigram, c_prefix
         FROM c12 JOIN c1 ON c12.w1 = c1.w1
         ORDER BY c_bigram DESC, w1, w2 LIMIT 50""")

    // LM-based quality filtering (the CCNet/RedPajama pass: score every
    // document against a language model trained on the corpus itself and
    // flag improbable text), re-expressed engine-exact: instead of
    // per-token log-perplexity (transcendentals are the one thing the
    // bit-identical-doubles contract can't carry across engines), each
    // bigram is tested against a rational probability threshold by
    // integer cross-multiplication — P_smoothed = (c12+1)/(c1+V) < 1/200
    // iff (c12+1)*200 < c1+V — and the doc's score is its exact
    // improbable-bigram fraction. Scale shape: the token-scale bigram
    // relation joins a model whose size is bounded by vocab^2
    // (corpus-size-independent — the broadcastable side at 100 TB); two
    // partial-agg shuffles build the model, one keyed join scores.
    m += "q_lm_quality" -> split(
      """WITH toks AS (SELECT doc_id, split(text, ' ') AS t FROM documents),
         bg AS (SELECT doc_id, element_at(t, i - 1) AS w1, element_at(t, i) AS w2
                FROM (SELECT doc_id, t, explode(sequence(2, size(t))) AS i
                      FROM toks WHERE size(t) >= 2)),
         c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bigram
                 FROM bg GROUP BY w1, w2),
         c1 AS (SELECT w1, CAST(sum(c_bigram) AS BIGINT) AS c_prefix
                FROM c12 GROUP BY w1),
         v AS (SELECT CAST(count(*) AS BIGINT) AS vocab FROM c1),
         scored AS (
           SELECT bg.doc_id,
                  CASE WHEN (c_bigram + 1) * 200 < c_prefix + vocab
                       THEN 1 ELSE 0 END AS unlikely
           FROM bg
           JOIN c12 ON bg.w1 = c12.w1 AND bg.w2 = c12.w2
           JOIN c1 ON bg.w1 = c1.w1
           CROSS JOIN v)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                CAST(sum(unlikely) AS BIGINT) AS n_unlikely,
                CAST((1000 * sum(unlikely)) DIV count(*) AS BIGINT) AS permille_unlikely
         FROM scored GROUP BY doc_id ORDER BY doc_id""",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         bg AS (SELECT doc_id, t[i - 1] AS w1, t[i] AS w2
                FROM (SELECT doc_id, t, unnest(generate_series(2, len(t))) AS i
                      FROM toks WHERE len(t) >= 2)),
         c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bigram
                 FROM bg GROUP BY w1, w2),
         c1 AS (SELECT w1, CAST(sum(c_bigram) AS BIGINT) AS c_prefix
                FROM c12 GROUP BY w1),
         v AS (SELECT CAST(count(*) AS BIGINT) AS vocab FROM c1),
         scored AS (
           SELECT bg.doc_id,
                  CASE WHEN (c_bigram + 1) * 200 < c_prefix + vocab
                       THEN 1 ELSE 0 END AS unlikely
           FROM bg
           JOIN c12 ON bg.w1 = c12.w1 AND bg.w2 = c12.w2
           JOIN c1 ON bg.w1 = c1.w1
           CROSS JOIN v)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                CAST(sum(unlikely) AS BIGINT) AS n_unlikely,
                CAST((1000 * sum(unlikely)) // count(*) AS BIGINT) AS permille_unlikely
         FROM scored GROUP BY doc_id ORDER BY doc_id""")

    // Temperature-sampled domain mixing (the LLaMA/Pile-style alpha=0.5
    // epoch weighting): per-source token totals -> sqrt-damped share ->
    // integer token budget per source out of a 1M-token target. All
    // arithmetic is engine-exact: token counts are integers, IEEE sqrt is
    // correctly rounded (identical in any engine), floor pins the damped
    // weight to an integer, and the budget split is integer division.
    // Scale shape: one partial-agg shuffle on source (5 groups), then a
    // single-row broadcast of the normalizer.
    m += "q_mixture_weights" -> split(
      """WITH tok AS (SELECT source, CAST(sum(size(split(text, ' '))) AS BIGINT) AS n_tokens
                      FROM documents GROUP BY source),
         s AS (SELECT source, n_tokens,
                      CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS s_alpha
               FROM tok),
         t AS (SELECT CAST(sum(s_alpha) AS BIGINT) AS sum_s FROM s)
         SELECT source, n_tokens, s_alpha,
                CAST((1000000 * s_alpha) DIV sum_s AS BIGINT) AS target_tokens
         FROM s CROSS JOIN t ORDER BY source""",
      """WITH tok AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
                      FROM documents GROUP BY source),
         s AS (SELECT source, n_tokens,
                      CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS s_alpha
               FROM tok),
         t AS (SELECT CAST(sum(s_alpha) AS BIGINT) AS sum_s FROM s)
         SELECT source, n_tokens, s_alpha,
                CAST((1000000 * s_alpha) // sum_s AS BIGINT) AS target_tokens
         FROM s CROSS JOIN t ORDER BY source""")

    // SCD1 MERGE / CDC upsert: apply a change set onto a base table —
    // inserts (new keys), updates (both sides), keeps (base only) — as
    // ONE full-outer join, the shuffle-minimal MERGE INTO rendition when
    // no transactional table format is in play. Base/changes are the
    // first/second halves of the events timeline split at the midpoint.
    //
    // ACID-table MERGE (VERDICT r11 #6) verified IMPOSSIBLE in this
    // sandbox, the Kafka.scala way: Spark's own `MERGE INTO` SQL
    // requires a catalog whose tables implement SupportsRowLevelOperations
    // — none of the built-in sources (parquet/orc/json) do; only
    // Delta/Iceberg/Hudi ship one. Checked r12: /opt/spark/jars has no
    // delta/iceberg/hudi artifact, the coursier cache holds only sbt
    // internals + scalatest + duckdb_jdbc (find over both trees), and
    // resolution is offline (COURSIER_MODE=offline, zero egress), so no
    // artifact can be fetched. On a real deployment this entry's
    // full-outer-join plan is exactly what those formats execute for a
    // non-matched-insert/matched-update MERGE; swapping the sink to
    // `DeltaTable.merge` is a format binding, not a plan change.
    m += "q_merge_upsert" -> evQ(
      """WITH e AS (SELECT user_id, ts_ms, value_c FROM __EV__),
         b AS (SELECT CAST(floor((min(ts_ms) + max(ts_ms)) / 2.0) AS BIGINT) AS mid FROM e),
         base AS (SELECT user_id, CAST(sum(value_c) AS BIGINT) AS v, count(*) AS n
                  FROM e CROSS JOIN b WHERE ts_ms < mid GROUP BY user_id),
         chg AS (SELECT user_id, CAST(sum(value_c) AS BIGINT) AS v, count(*) AS n
                 FROM e CROSS JOIN b WHERE ts_ms >= mid GROUP BY user_id)
         SELECT coalesce(base.user_id, chg.user_id) AS user_id,
                CASE WHEN base.user_id IS NULL THEN 'insert'
                     WHEN chg.user_id IS NULL THEN 'keep'
                     ELSE 'update' END AS op,
                CAST(coalesce(base.v, 0) + coalesce(chg.v, 0) AS BIGINT) AS value_c_total,
                CAST(coalesce(base.n, 0) + coalesce(chg.n, 0) AS BIGINT) AS n_events
         FROM base FULL OUTER JOIN chg ON base.user_id = chg.user_id
         ORDER BY user_id""")

    // Inverted index build (the retrieval-side artifact BM25 scores
    // against): token -> document frequency + the sorted posting list.
    // Postings ride as a comma-joined string (driver compare can't hash
    // engine-variant list field names — the q_top convention). One
    // explode + one partial-agg shuffle on token; top-50 terms via
    // TakeOrderedAndProject, so every partition forwards 50 rows.
    m += "q_inverted_index" -> split(
      """WITH post AS (SELECT w AS token, doc_id
                       FROM (SELECT doc_id, explode(split(text, ' ')) AS w FROM documents)
                       GROUP BY w, doc_id)
         SELECT token, CAST(count(*) AS BIGINT) AS df,
                array_join(sort_array(collect_list(doc_id)), ',') AS postings
         FROM post GROUP BY token
         ORDER BY df DESC, token LIMIT 50""",
      """WITH post AS (SELECT w AS token, doc_id
                       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
                       GROUP BY w, doc_id)
         SELECT token, CAST(count(*) AS BIGINT) AS df,
                array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
         FROM post GROUP BY token
         ORDER BY df DESC, token LIMIT 50""")

    // Fuzzy join / record linkage: match rows of TWO tables on character
    // 3-gram Jaccard similarity (entity resolution). The Spark side is
    // operators/FuzzyJoin: PREFIX-FILTERED set-similarity join (PPJoin's
    // lossless pruning) — candidates come from an equi-join on each
    // record's rarest grams only, never an all-pairs scan (the first cut
    // was a brute-force BroadcastNestedLoopJoin: 56 s at sf0.1; prefix
    // filtering returns the identical result, which is why the oracle
    // can stay a plain cross-join replay in DuckDB, where sf0.01 is
    // sub-second). Exact rational threshold inter*3 >= uni (J >= 1/3).
    m += "q_fuzzy_join" -> op(
      (s, dir) => graft.operators.FuzzyJoin.jaccardJoin(
          GraftSession.table(s, dir, "customer"), "c_custkey", "c_name",
          GraftSession.table(s, dir, "supplier"), "s_suppkey", "s_name",
          num = 1, den = 3)
        .orderBy("c_custkey", "s_suppkey"),
      """WITH c AS (SELECT c_custkey,
                           list_distinct(list_transform(range(1, length(c_name) - 1),
                             i -> ascii(substr(c_name, CAST(i AS INT), 1)) * 4398046511104 +
                                  ascii(substr(c_name, CAST(i AS INT) + 1, 1)) * 2097152 +
                                  ascii(substr(c_name, CAST(i AS INT) + 2, 1)))) AS cg
                    FROM customer),
         s AS (SELECT s_suppkey,
                      list_distinct(list_transform(range(1, length(s_name) - 1),
                        i -> ascii(substr(s_name, CAST(i AS INT), 1)) * 4398046511104 +
                             ascii(substr(s_name, CAST(i AS INT) + 1, 1)) * 2097152 +
                             ascii(substr(s_name, CAST(i AS INT) + 2, 1)))) AS sg
               FROM supplier),
         j AS (SELECT c_custkey, s_suppkey,
                      CAST(len(list_intersect(cg, sg)) AS BIGINT) AS inter,
                      CAST(len(cg) AS BIGINT) AS nc, CAST(len(sg) AS BIGINT) AS ns
               FROM c CROSS JOIN s)
         SELECT c_custkey, s_suppkey, inter, nc + ns - inter AS uni
         FROM j WHERE inter * 3 >= nc + ns - inter
           AND nc > 0 AND ns > 0
         ORDER BY c_custkey, s_suppkey""")

    // Count-min sketch heavy hitters: the mergeable fixed-size frequency
    // sketch (depth 4 x width 16 here — width deliberately small so the
    // collision/min math is exercised: 17 of 31 tokens overcount and the
    // min-across-rows bound recovers the rest). At scale the sketch is
    // O(d*w) state per partition merged by cell-wise sum — heavy-hitter
    // estimates without a full-vocab shuffle; KMV's counterpart for
    // frequency. Portable md5 row-hashes make every cell engine-exact;
    // est >= true by construction rides as a checked column.
    m += "q_heavy_hitters_cms" -> split(
      """WITH tok AS (SELECT w AS token, CAST(count(*) AS BIGINT) AS cnt
                      FROM (SELECT explode(split(text, ' ')) AS w FROM documents)
                      GROUP BY w),
         rows_h AS (
           SELECT token, cnt, i,
                  CAST(conv(substring(md5(concat(CAST(i AS STRING), ':', token)), 1, 15), 16, 10) AS BIGINT) % 16 AS bucket
           FROM tok CROSS JOIN (SELECT explode(sequence(0, 3)) AS i)),
         cms AS (SELECT i, bucket, CAST(sum(cnt) AS BIGINT) AS cell
                 FROM rows_h GROUP BY i, bucket),
         est AS (SELECT r.token, min(c.cell) AS est_cnt
                 FROM rows_h r JOIN cms c ON r.i = c.i AND r.bucket = c.bucket
                 GROUP BY r.token)
         SELECT t.token, t.cnt AS true_cnt, e.est_cnt,
                CAST(e.est_cnt >= t.cnt AS BOOLEAN) AS no_undercount
         FROM tok t JOIN est e ON t.token = e.token
         ORDER BY t.cnt DESC, t.token LIMIT 20""",
      """WITH tok AS (SELECT w AS token, CAST(count(*) AS BIGINT) AS cnt
                      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                      GROUP BY w),
         rows_h AS (
           SELECT token, cnt, i,
                  (('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || token), 1, 15))::BIGINT) % 16 AS bucket
           FROM tok CROSS JOIN (SELECT unnest(range(0, 4)) AS i)),
         cms AS (SELECT i, bucket, CAST(sum(cnt) AS BIGINT) AS cell
                 FROM rows_h GROUP BY i, bucket),
         est AS (SELECT r.token, min(c.cell) AS est_cnt
                 FROM rows_h r JOIN cms c ON r.i = c.i AND r.bucket = c.bucket
                 GROUP BY r.token)
         SELECT t.token, t.cnt AS true_cnt, e.est_cnt,
                CAST(e.est_cnt >= t.cnt AS BOOLEAN) AS no_undercount
         FROM tok t JOIN est e ON t.token = e.token
         ORDER BY t.cnt DESC, t.token LIMIT 20""")

    // The CMS as STREAMING state: the d x w cell matrix is a perfect
    // streaming aggregate — bounded state (64 cells) no matter the
    // vocabulary, complete-mode emission, cell-wise-sum mergeable across
    // partitions AND micro-batches. The corpus replays through a real
    // streaming query; estimates derive from the final cells and the
    // BATCH oracle verifies them (bounded input -> identical sketch).
    m += "q_heavy_hitters_streaming" -> Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        import org.apache.spark.sql.functions.{count => fcount, explode => fexplode, expr => fexpr, lit => flit, split => fsplit, sum => fsum}
        val docs = GraftSession.table(s, dir, "documents").select("doc_id", "text")
        val root = GraftSession.tempDir("graft_cms_")
        docs.coalesce(1).write.parquet(s"$root/in")
        val bucketOf = "CAST(conv(substring(md5(concat(CAST(i AS STRING), ':', token)), 1, 15), 16, 10) AS BIGINT) % 16"
        val cells = s.readStream.schema(docs.schema).parquet(s"$root/in")
          .select(fexplode(fsplit(col("text"), " ")).as("token"))
          .select(col("token"), fexplode(fexpr("sequence(0, 3)")).as("i"))
          .select(col("i"), fexpr(bucketOf).as("bucket"))
          .groupBy("i", "bucket").agg(fcount(flit(1)).as("cell"))
        // 64 state rows total (4 x 16 CMS cells): the per-store fixed
        // commit cost dominates at the 32-partition session default (the
        // r6 attribution)
        GraftSession.withShuffleParts(s, StateParts) {
          val q = cells.writeStream.outputMode("complete").format("memory")
            .queryName("cms_cells")
            .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
          try q.processAllAvailable() finally q.stop()
        }
        // estimates from the STREAMED cells; true counts batch-side
        s.table("cms_cells").createOrReplaceTempView("cms_stream")
        s.sql(s"""
          WITH tok AS (SELECT w AS token, CAST(count(*) AS BIGINT) AS cnt
                       FROM (SELECT explode(split(text, ' ')) AS w FROM documents)
                       GROUP BY w),
          rows_h AS (SELECT token, cnt, i, $bucketOf AS bucket
                     FROM tok CROSS JOIN (SELECT explode(sequence(0, 3)) AS i)),
          est AS (SELECT r.token, min(c.cell) AS est_cnt
                  FROM rows_h r JOIN cms_stream c ON r.i = c.i AND r.bucket = c.bucket
                  GROUP BY r.token)
          SELECT t.token, t.cnt AS true_cnt, e.est_cnt,
                 CAST(e.est_cnt >= t.cnt AS BOOLEAN) AS no_undercount
          FROM tok t JOIN est e ON t.token = e.token
          ORDER BY t.cnt DESC, t.token LIMIT 20""")
      },
      Some("""WITH tok AS (SELECT w AS token, CAST(count(*) AS BIGINT) AS cnt
                      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                      GROUP BY w),
         rows_h AS (
           SELECT token, cnt, i,
                  (('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || token), 1, 15))::BIGINT) % 16 AS bucket
           FROM tok CROSS JOIN (SELECT unnest(range(0, 4)) AS i)),
         cms AS (SELECT i, bucket, CAST(sum(cnt) AS BIGINT) AS cell
                 FROM rows_h GROUP BY i, bucket),
         est AS (SELECT r.token, min(c.cell) AS est_cnt
                 FROM rows_h r JOIN cms c ON r.i = c.i AND r.bucket = c.bucket
                 GROUP BY r.token)
         SELECT t.token, t.cnt AS true_cnt, e.est_cnt,
                CAST(e.est_cnt >= t.cnt AS BOOLEAN) AS no_undercount
         FROM tok t JOIN est e ON t.token = e.token
         ORDER BY t.cnt DESC, t.token LIMIT 20"""))

    // Deterministic train/val/test split (80/10/10): assignment is a pure
    // function of the PORTABLE md5-prefix hash of the id — reproducible
    // row-for-row across runs, engines and cluster sizes, never sampled
    // by arrival order. Zero extra shuffle: the split label is a scan-time
    // projection; the audit roll-up is one partial-agg shuffle.
    m += "q_split_assign" -> split(
      """WITH a AS (
           SELECT doc_id, source, size(split(text, ' ')) AS nt,
                  CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100 AS h
           FROM documents)
         SELECT source,
                CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(nt) AS BIGINT) AS n_tokens,
                CAST(min(doc_id) AS BIGINT) AS min_doc, CAST(max(doc_id) AS BIGINT) AS max_doc
         FROM a GROUP BY 1, 2 ORDER BY source, split""",
      """WITH a AS (
           SELECT doc_id, source, len(string_split(text, ' ')) AS nt,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS h
           FROM documents)
         SELECT source,
                CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(nt) AS BIGINT) AS n_tokens,
                CAST(min(doc_id) AS BIGINT) AS min_doc, CAST(max(doc_id) AS BIGINT) AS max_doc
         FROM a GROUP BY 1, 2 ORDER BY source, split""")

    // Dedup catalog paths are the LSH-pruned scale paths; the DuckDB
    // oracles (DedupOracles) replay the full pipelines — portable
    // md5-prefix hashes make candidate generation engine-identical.
    // Exact all-pairs variants stay test-only (OperatorsSpec).
    m += "q_dedup_ngram" -> op(
      (s, dir) => Dedup.ngramJaccardDedup(
          GraftSession.table(s, dir, "documents"), "doc_id", "text", 5, 0.8)
        .select("doc_id").orderBy("doc_id"),
      DedupOracles.ngram(5, 0.8))

    m += "q_dedup_minhash" -> op(
      (s, dir) => Dedup.minhashLsh(GraftSession.table(s, dir, "documents"),
        "doc_id", "text").select("doc_id").orderBy("doc_id"),
      DedupOracles.minhash())

    m += "q_dedup_simhash" -> op(
      (s, dir) => Dedup.simhashDedup(GraftSession.table(s, dir, "documents"),
        "doc_id", "text").select("doc_id").orderBy("doc_id"),
      DedupOracles.simhash())

    // Canonical near-dup clusters: MinHash pair edges closed into
    // connected components (min-label propagation, one shuffle per round,
    // diameter-bounded rounds); every doc labeled with its cluster's min
    // id. The oracle closes the same edges with a recursive CTE.
    m += "q_dedup_cluster" -> op(
      (s, dir) => {
        import org.apache.spark.sql.functions.coalesce
        val docs = GraftSession.table(s, dir, "documents")
        val cc = Dedup.connectedComponents(
          Dedup.minhashAccepted(docs, "doc_id", "text"), "__lid", "__rid")
        docs.select(col("doc_id"))
          .join(cc.select(col("id").as("doc_id"), col("c")), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("c"), col("doc_id")).as("component"))
          .orderBy("doc_id")
      },
      DedupOracles.minhashCluster())

    // Corpus-health report: per-source near-dup survival — the number a
    // curation dashboard actually shows (which sources are boilerplate
    // mills). Survivors from the SAME minhash pipeline, one agg-then-join
    // rollup on top; exact integer counts.
    m += "q_dedup_rate_by_source" -> op(
      (s, dir) => {
        import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
        val docs = GraftSession.table(s, dir, "documents")
        val surv = Dedup.minhashLsh(docs, "doc_id", "text")
          .select(col("doc_id"), lit(1L).as("__surv"))
        docs.select("doc_id", "source")
          .join(surv, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(coalesce(col("__surv"), lit(0L))).cast("long").as("n_survivors"))
          .orderBy("source")
      },
      DedupOracles.minhashSurvivalBySource())

    m += "q_dedup_embedding" -> op(
      (s, dir) => Dedup.embeddingDedupLsh(
          GraftSession.table(s, dir, "embeddings"), "vec_id", "embedding", 0.99)
        .select("vec_id").orderBy("vec_id"),
      DedupOracles.embeddingLsh(0.99))

    // The STREAMING dedup paths as driver rows: the corpus replays
    // through a real streaming query (file source -> FMGWS bucket state
    // -> parquet sink), survivors = corpus minus emitted pair losers.
    // One file = one micro-batch and the state fn orders arrivals by id,
    // so the pair set equals the batch pipeline's (StreamingDedupSpec
    // pins the equality) and the BATCH oracle verifies the STREAM.
    def streamingDedupEntry(pairs: DataFrame => DataFrame, table: String,
                            idColName: String, oracle: String): Q = Q(
      (s, dir) => {
        GraftSession.prepare(s, dir)
        val src = GraftSession.table(s, dir, table)
        val root = GraftSession.tempDir("graft_sdd_")
        src.coalesce(1).write.parquet(s"$root/in")
        val stream = s.readStream.schema(src.schema).parquet(s"$root/in")
        // per-partition state-store commit/maintenance overhead dominates
        // at this state volume, exactly like the stream-stream join's
        // (README "Stream-stream join cost attribution"): size the state
        // partitioning to the data, not the session default
        // conf mutations wrapped from the set onward (ADVICE/VERDICT r19):
        // a throw during stream build/start/stop used to leak the 8-part
        // conf (and the provider override) into every later entry. All
        // THREE state-store confs restore, not just the provider (r13
        // nit): setRocksDb sets them all.
        GraftSession.withShuffleParts(s, StateParts) {
        graft.streaming.StateStoreConf.withSaved(s) {
        // state-store provider (r13): the HDFS-backed default measures
        // fastest at catalog state volumes (sf0.1 steady: 18.4 vs 20.8 s),
        // RocksDB overtakes once the store outgrows cheap in-heap maps
        // (100x steady: 450 vs 665 s wall, per-trigger flatness 1.37 vs
        // 1.99 — BENCH_steady_r13.json). A 100 TB deployment sets rocksdb;
        // the committed bench series keeps the small-corpus optimum.
        if (rocksDbForced) graft.streaming.StateStoreConf.setRocksDb(s)
        val q = pairs(stream).writeStream.outputMode("append").format("parquet")
          .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
        try q.processAllAvailable() finally q.stop()
        }
        }
        val losers = (try s.read.parquet(s"$root/out")
          catch { case _: Exception => s.emptyDataFrame.select() })
        // the batch oracle is only valid while no LSH bucket overflowed
        // the online cap — the state fn emits a marker row when one does,
        // and that must fail HERE, loudly, not as an opaque hash mismatch
        if (losers.columns.contains("__lid") &&
            !losers.where(col("__lid") === graft.streaming.StreamingDedup
              .OverflowMarker).isEmpty)
          throw new IllegalStateException(
            s"$table streaming dedup: an LSH bucket exceeded the online " +
            "cap — the batch oracle no longer matches this stream's " +
            "first-cap semantics; raise maxBucket or re-derive the oracle")
        val loserIds =
          if (losers.columns.contains("__rid"))
            losers.select(col("__rid").as(idColName)).distinct()
          else src.select(col(idColName)).limit(0)
        src.join(loserIds, Seq(idColName), "left_anti")
          .select(idColName).orderBy(idColName)
      },
      Some(oracle))

    m += "q_dedup_minhash_streaming" -> streamingDedupEntry(
      st => graft.streaming.StreamingDedup.minhashStreamingPairs(
        st, "doc_id", "text"),
      "documents", "doc_id",
      DedupOracles.minhash())

    m += "q_dedup_embedding_streaming" -> streamingDedupEntry(
      st => graft.streaming.StreamingDedup.embeddingStreamingPairs(
        st, "vec_id", "embedding", threshold = 0.99),
      "embeddings", "vec_id",
      DedupOracles.embeddingLsh(0.99))

    // SemDeDup-style cluster-scoped semantic dedup (arXiv:2303.09540):
    // assign each vector to the nearest of 8 deterministic seed exemplars
    // (exact integer dots — the kmeans stand-in the oracle CAN replay),
    // then prune cosine>=0.35 pairs WITHIN a cluster only. The clustering
    // is what makes 100 TB feasible: pair comparison cost drops from
    // O(n^2) to k blocks of O((n/k)^2), and the only shuffle is the hash
    // partition on cluster id. The oracle replays seeds, assignment,
    // cap rank and pair pruning bit-for-bit in SQL.
    m += "q_semdedup" -> op(
      (s, dir) => graft.operators.SemDedup.semanticDedup(
          GraftSession.table(s, dir, "embeddings"), "vec_id", "embedding",
          numSeeds = 8, threshold = 0.35)
        .orderBy("vec_id"),
      """WITH q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings),
         flat AS (
           SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS v FROM q),
         n AS (SELECT vec_id, sum(v*v) AS n2 FROM flat GROUP BY vec_id),
         seeds AS (
           SELECT f.vec_id AS sid, f.i, f.v FROM flat f
           WHERE f.vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)),
         dots AS (
           SELECT f.vec_id, s.sid, sum(f.v * s.v) AS d
           FROM flat f JOIN seeds s USING (i) GROUP BY 1, 2),
         assign AS (
           SELECT vec_id, sid AS cluster FROM (
             SELECT vec_id, sid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, sid) AS rn
             FROM dots) WHERE rn = 1),
         part AS (
           SELECT a.vec_id, a.cluster, n.n2,
                  row_number() OVER (PARTITION BY a.cluster
                    ORDER BY ('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 15))::BIGINT,
                             a.vec_id) AS cr
           FROM assign a JOIN n USING (vec_id)),
         pairs AS (
           SELECT a.vec_id AS lid, b.vec_id AS rid, a.n2 AS ln2, b.n2 AS rn2
           FROM part a JOIN part b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           WHERE a.cr <= 10000 AND b.cr <= 10000),
         pdot AS (
           SELECT p.lid, p.rid, p.ln2, p.rn2, sum(fa.v * fb.v) AS d
           FROM pairs p
           JOIN flat fa ON fa.vec_id = p.lid
           JOIN flat fb ON fb.vec_id = p.rid AND fb.i = fa.i
           GROUP BY 1, 2, 3, 4),
         losers AS (
           SELECT DISTINCT rid FROM pdot
           WHERE CAST(d AS DOUBLE) /
                 (sqrt(CAST(ln2 AS DOUBLE)) * sqrt(CAST(rn2 AS DOUBLE))) >= 0.35)
         SELECT a.vec_id, a.cluster FROM assign a
         WHERE a.vec_id NOT IN (SELECT rid FROM losers)
         ORDER BY a.vec_id""")

    // The trained-KMeans SemDeDup path as a driver row: cell assignments
    // aren't DuckDB-replayable (the q_ann_ivf precedent), so the query
    // emits facts the oracle CAN predict: the corpus size and the
    // mathematically-guaranteed containment that every survivor of the
    // EXACT all-pairs dedup also survives the cluster-scoped variant
    // (clustering only REMOVES comparisons, so it can only drop fewer).
    m += "q_semdedup_kmeans" -> op(
      (s, dir) => {
        import org.apache.spark.sql.functions.{count, lit}
        val emb = GraftSession.table(s, dir, "embeddings")
        val km = graft.operators.SemDedup.semanticDedupKmeans(
          emb, "vec_id", "embedding", nlist = 16, threshold = 0.35)
        // Containment check with the anti-join PUSHED INTO the exact pass
        // (r19, guide §1.2 "don't compute things you throw away"):
        //   exactSurv ∖ kmSurv  =  exactSurv ∩ kmLosers
        // and for v ∈ kmLosers, v ∈ exactSurv ⟺ no u < v anywhere has
        // cos(u,v) >= threshold — so the O(n²) all-pairs exact dedup
        // (12.5M pairs at sf0.1) shrinks to corpus × kmLosers (~15% of
        // pairs), same `missing` set by construction. The cosine is the
        // embeddingDedupExact expression verbatim (same quantization,
        // same integer dots/norms, same IEEE widening), so the survivor
        // decision per pair is bit-identical to the replaced pass.
        val kmLosers = emb.select(col("vec_id"))
          .join(km.select(col("vec_id")), Seq("vec_id"), "left_anti")
        val withN = emb.select(col("vec_id").as("__id"),
            Dedup.quantizeEmbedding(col("embedding")).as("__q"))
          .select(col("__id"), col("__q"),
            graft.functions.ArrayMath.norm2Long(col("__q")).as("__n2"))
        val loseSide = withN
          .join(kmLosers.select(col("vec_id").as("__id")), Seq("__id"))
          .select(col("__id").as("__rid"), col("__q").as("__rq"),
            col("__n2").as("__rn2"))
        val allSide = withN.select(col("__id").as("__lid"),
          col("__q").as("__lq"), col("__n2").as("__ln2"))
        val cosE = graft.functions.ArrayMath.dotLong(col("__lq"), col("__rq"))
          .cast("double") /
          (org.apache.spark.sql.functions.sqrt(col("__ln2").cast("double")) *
            org.apache.spark.sql.functions.sqrt(col("__rn2").cast("double")))
        val exactLosersAmongKmLosers = allSide.crossJoin(loseSide)
          .where(col("__lid") < col("__rid")).where(cosE >= 0.35)
          .select(col("__rid").as("vec_id")).distinct()
        val missing = kmLosers.join(exactLosersAmongKmLosers, Seq("vec_id"), "left_anti")
        emb.agg(count(lit(1)).cast("long").as("n_vectors"))
          .crossJoin(missing.agg((count(lit(1)) === 0).as("containment_ok")))
          .crossJoin(km.agg(count(lit(1)).cast("long").as("__n_surv")))
          .select(col("n_vectors"), col("containment_ok"),
            (col("__n_surv") <= col("n_vectors")).as("bounded_ok"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
                CAST(true AS BOOLEAN) AS containment_ok,
                CAST(true AS BOOLEAN) AS bounded_ok
         FROM embeddings""")

    m += "q_simsearch" -> op(
      (s, dir) => {
        val emb = GraftSession.table(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", 5)
          .orderBy("query_id", "rank")
      },
      """WITH flat AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS v
           FROM embeddings
         ),
         norms AS (SELECT vec_id, sum(v*v) AS n2 FROM flat GROUP BY vec_id),
         dots AS (
           SELECT q.vec_id AS query_id, e.vec_id AS nn_id, CAST(sum(q.v * e.v) AS BIGINT) AS dot
           FROM flat q JOIN flat e USING (i)
           WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id GROUP BY 1, 2
         ),
         scored AS (
           SELECT query_id, nn_id,
                  CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(ne.n2 AS DOUBLE))) AS cosine
           FROM dots JOIN norms nq ON query_id = nq.vec_id JOIN norms ne ON nn_id = ne.vec_id
         )
         SELECT query_id, CAST(rank AS INT) AS rank, nn_id, cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nn_id) AS rank
           FROM scored
         ) WHERE rank <= 5 ORDER BY query_id, rank""")

    m += "q_ann_lsh" -> op(
      (s, dir) => {
        val emb = GraftSession.table(s, dir, "embeddings")
        Similarity.lshTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", 5)
          .orderBy("query_id", "rank")
      },
      DedupOracles.annLsh(5))

    // IVF-Flat ANN as a driver row: KMeans cluster assignments aren't
    // DuckDB-replayable, so the query scores the IVF results against the
    // in-query brute-force ground truth and emits thresholded facts the
    // oracle CAN predict: query count and mean recall@5 >= 0.5 at a
    // ~37% scan (nlist 64 / nprobe 24) — well above the ~0.3 radius-2 LSH
    // recall at similar cost, and far below the 0.86 measured mean, so the
    // row is stable across KMeans float-order variation. Exact per-query
    // recall curves stay sbt-quantified (OperatorsSpec).
    m += "q_ann_ivf" -> op(
      (s, dir) => {
        import org.apache.spark.sql.functions.{avg, coalesce, count, lit}
        val emb = GraftSession.table(s, dir, "embeddings")
        val queries = emb.where(col("vec_id") < 10)
        val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5,
          nlist = 64, nprobe = 24)
        val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
        val hits = ivf.join(bf.select(col("query_id"), col("nn_id")),
            Seq("query_id", "nn_id"))
          .groupBy("query_id").agg(count(lit(1)).as("hits"))
        bf.select("query_id").distinct()
          .join(hits, Seq("query_id"), "left")
          .select(coalesce(col("hits"), lit(0)).as("hits"))
          .agg(count(lit(1)).cast("long").as("n_queries"),
            (avg(col("hits")) / 5 >= 0.5).as("recall_ok"))
      },
      "SELECT CAST(10 AS BIGINT) AS n_queries, CAST(true AS BOOLEAN) AS recall_ok")

    // PQ compressed-scan ANN (asymmetric-distance shortlist + exact
    // refine): same recall-invariant oracle pattern as q_ann_ivf — the
    // k-means codebooks aren't SQL-replayable, the recall contract is.
    m += "q_ann_pq" -> op(
      (s, dir) => {
        import org.apache.spark.sql.functions.{avg, coalesce, count, lit}
        val emb = GraftSession.table(s, dir, "embeddings")
        val queries = emb.where(col("vec_id") < 10)
        val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding", 5,
          m = 8, codesPerSub = 16, shortlist = 16)
        val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
        val hits = pq.join(bf.select(col("query_id"), col("nn_id")),
            Seq("query_id", "nn_id"))
          .groupBy("query_id").agg(count(lit(1)).as("hits"))
        bf.select("query_id").distinct()
          .join(hits, Seq("query_id"), "left")
          .select(coalesce(col("hits"), lit(0)).as("hits"))
          .agg(count(lit(1)).cast("long").as("n_queries"),
            (avg(col("hits")) / 5 >= 0.5).as("recall_ok"))
      },
      "SELECT CAST(10 AS BIGINT) AS n_queries, CAST(true AS BOOLEAN) AS recall_ok")

    m += "q_multimodal" -> op(
      (s, dir) => GraftSession.table(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .select(col("doc_id"), octet_length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("digest"))
        .orderBy("doc_id"),
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes, md5(text) AS digest
         FROM documents ORDER BY doc_id""")

    // Driver-sortable projection: the raw feature array is re-scaled back
    // to its exact integer per-stride byte sums and stringified (arrays
    // aren't hashable by the driver's pandas compare). The oracle replays
    // decodeStub's byte math in SQL — documents.text is ASCII, so DuckDB
    // char positions equal byte positions.
    m += "q_multimodal_decode" -> op(
      (s, dir) => Multimodal.decode(
          GraftSession.table(s, dir, "documents")
            .select(col("doc_id"), col("text").cast("binary").as("payload")),
          "doc_id", "payload")
        .select(col("doc_id"), col("n_bytes"), col("format"), col("width"), col("height"),
          concat_ws(",", transform(col("feature"),
            v => round(v * col("n_bytes")).cast("long"))).as("feature_sums"))
        .orderBy("doc_id"),
      """WITH s AS (
           SELECT doc_id, (u - 1) % 8 AS j, sum(ord(substr(text, CAST(u AS INT), 1))) AS sj
           FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS u FROM documents)
           GROUP BY doc_id, (u - 1) % 8
         ),
         f AS (SELECT doc_id, string_agg(CAST(sj AS VARCHAR), ',' ORDER BY j) AS feature_sums
               FROM s GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(octet_length(encode(d.text)) AS INT) AS n_bytes,
                CASE octet_length(encode(d.text)) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
                CAST(16 + octet_length(encode(d.text)) % 64 AS INT) AS width,
                CAST(16 + (octet_length(encode(d.text)) // 64) % 64 AS INT) AS height,
                f.feature_sums
         FROM documents d JOIN f USING (doc_id) ORDER BY d.doc_id""")

    // TPC-H Q10 (returned-item reporting): 4-way join, date-windowed
    // orders, returned lines only, revenue-ranked top 20 customers.
    // Revenue in exact integer cent-products like Q3.
    m += "q_tpch_q10" -> both("""
      SELECT c_custkey, c_name,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                      (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_cp,
             n_name
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        AND CAST(o_orderdate AS DATE) < DATE '1996-07-01'
        AND l_returnflag = 'R'
      GROUP BY c_custkey, c_name, n_name
      ORDER BY revenue_cp DESC, c_custkey LIMIT 20""")

    // TPC-H Q13 (customer order-count distribution), adapted predicate
    // (the spec filters on order comments; this corpus carries none, so
    // the join-side filter is on priority): LEFT OUTER join so
    // zero-order customers land in the c_count=0 bucket, then an
    // aggregate OF the aggregate — the two-level groupBy shape.
    m += "q_tpch_q13" -> both("""
      SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      FROM (SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey)
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""")

    // TPC-H Q19 (discounted revenue): the disjunctive-join-predicate
    // shape no other entry exercises — an OR of per-branch ANDs mixing
    // part columns with lineitem columns in the join's WHERE. Catalyst's
    // CNF conversion (PushCNFPredicateThroughJoin) must derive the
    // per-side residuals (p_brand IN (...) / quantity-range union) and
    // push them below the join — the plan pin asserts the predicate
    // prunes at the scans/join, never a filter above a cartesian.
    // Adapted predicates (corpus has no p_container / l_shipmode /
    // l_shipinstruct): container class -> p_size band, shipmode ->
    // l_returnflag = 'N'. Revenue in exact integer cent-products.
    m += "q_tpch_q19" -> both("""
      SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                      (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_cp
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
             AND l_quantity >= 1 AND l_quantity <= 11 AND l_returnflag = 'N')
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
             AND l_quantity >= 10 AND l_quantity <= 20 AND l_returnflag = 'N')
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
             AND l_quantity >= 20 AND l_quantity <= 30 AND l_returnflag = 'N')""")

    // TPC-H Q2 (minimum-cost supplier): the correlated scalar
    // min-subquery against a 4-way dim chain (ps -> supplier -> nation
    // -> region), evaluated once per outer part — Catalyst must plan it
    // as an aggregate-then-join on ps_partkey, not a per-row re-scan.
    // This corpus ships no partsupp, so ps derives from lineitem (the
    // part-supplier pairs that actually traded, supply cost = cheapest
    // observed line price in exact cents) — topology identical to the
    // canonical form.
    // ps is referenced TWICE in the canonical form (outer join +
    // correlated min subquery) and Spark inlines CTEs, which would scan
    // + aggregate the FACT table twice with no exchange reuse (verified
    // r-era: 2 lineitem FileScans, 0 ReusedExchange). Through r19 the
    // Spark side materialized ps (persist(DISK_ONLY) + count barrier);
    // r20 removes the second reference ALGEBRAICALLY instead (guide
    // §1.2 / §2.4): for a fixed p_partkey, the correlated subquery's
    // candidate set (ps2 ⋈ supplier ⋈ nation ⋈ region, ASIA) is exactly
    // the outer joined frame's rows for that part — part predicates are
    // per-part and partkeys failing them are absent from the output
    // either way — so the correlated min IS
    // `min(ps_cost_cp) OVER (PARTITION BY p_partkey)` on the one joined
    // frame. One lineitem scan, no persist, no count barrier, no
    // subquery subplan; the window's partitioning rides the join's
    // existing hash partitioning. Exact integer cents both ways, so the
    // min and the equality are engine-identical. The DuckDB oracle
    // keeps the canonical correlated form — equivalence is re-proven by
    // the hash gate every round.
    locally {
      val psSql = """SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                            min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ps_cost_cp
                     FROM lineitem GROUP BY l_partkey, l_suppkey"""
      val outerOracle = """
        SELECT CAST(round(s_acctbal * 100) AS BIGINT) AS s_acctbal_c,
               s_name, n_name, p_partkey, p_name
        FROM part
        JOIN ps ON p_partkey = ps_partkey
        JOIN supplier ON s_suppkey = ps_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        JOIN region ON r_regionkey = n_regionkey
        WHERE p_size BETWEEN 10 AND 15 AND p_type = 'STANDARD' AND r_name = 'ASIA'
          AND ps_cost_cp = (SELECT min(ps2.ps_cost_cp)
                            FROM ps ps2
                            JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
                            JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
                            JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
                            WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'ASIA')
        ORDER BY s_acctbal_c DESC, n_name, s_name, p_partkey
        LIMIT 100"""
      val sparkSide = s"""
        WITH ps AS ($psSql)
        SELECT s_acctbal_c, s_name, n_name, p_partkey, p_name
        FROM (
          SELECT CAST(round(s_acctbal * 100) AS BIGINT) AS s_acctbal_c,
                 s_name, n_name, p_partkey, p_name, ps_cost_cp,
                 min(ps_cost_cp) OVER (PARTITION BY p_partkey) AS min_cost_cp
          FROM part
          JOIN ps ON p_partkey = ps_partkey
          JOIN supplier ON s_suppkey = ps_suppkey
          JOIN nation ON n_nationkey = s_nationkey
          JOIN region ON r_regionkey = n_regionkey
          WHERE p_size BETWEEN 10 AND 15 AND p_type = 'STANDARD' AND r_name = 'ASIA')
        WHERE ps_cost_cp = min_cost_cp
        ORDER BY s_acctbal_c DESC, n_name, s_name, p_partkey
        LIMIT 100"""
      m += "q_tpch_q2" -> op(
        sqlQuery(sparkSide),
        s"WITH ps AS ($psSql)\n" + outerOracle)
    }

    // TPC-H Q16 (part/supplier relationship): NOT IN (null-aware anti
    // join on the supplier blacklist) + count(DISTINCT supplier) per
    // part class — the distinct-agg-after-anti-join shape. partsupp
    // derives from lineitem as in Q2; the spec's comment-based supplier
    // exclusion becomes an acctbal predicate (corpus has no comments).
    m += "q_tpch_q16" -> both("""
      WITH ps AS (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
                  FROM lineitem)
      SELECT p_brand, p_type, p_size,
             CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
      FROM ps JOIN part ON p_partkey = ps_partkey
      WHERE p_brand <> 'Brand#5'
        AND p_type NOT IN ('PROMO', 'ECONOMY')
        AND p_size IN (1, 4, 7, 10, 14, 19, 25, 31, 38, 45)
        AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")

    // TPC-H Q22 (global sales opportunity): anti join (customers with
    // no orders) gated by a scalar-avg subquery over the SAME derived
    // customer set — the shape where one CTE feeds both the outer scan
    // and the uncorrelated scalar agg. Country code adapts to
    // substr(c_name, 17, 2) (corpus has no c_phone; names are
    // 'Customer#NNNNNNNNN', so positions 17-18 give a uniform 00-99
    // code), and the "no orders in 7 years" anti join adapts to "no
    // URGENT order" — this corpus's order generator covers EVERY
    // customer, so the literal predicate is empty; the priority-
    // restricted anti join keeps the identical left-anti topology with
    // a non-trivial survivor set. Balances aggregate in exact cents;
    // the single avg is one IEEE division of exact integers —
    // deterministic across engines.
    m += "q_tpch_q22" -> both("""
      WITH cust AS (SELECT c_custkey, substr(c_name, 17, 2) AS cntrycode,
                           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
                    FROM customer
                    WHERE substr(c_name, 17, 2) IN ('13','31','23','29','30','18','17'))
      SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
             CAST(sum(bal_c) AS BIGINT) AS totacctbal_c
      FROM cust c
      WHERE bal_c > (SELECT avg(bal_c) FROM cust WHERE bal_c > 0)
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c.c_custkey
                          AND o_orderpriority = '1-URGENT')
      GROUP BY cntrycode
      ORDER BY cntrycode""")

    // TPC-H Q7 (volume shipping): the two-nation-pair disjunction over a
    // 5-way join with a year rollup — nation joins twice (supplier side
    // and customer side), and the pair predicate is a symmetric OR that
    // must not block the small-dim broadcasts. Volume in exact integer
    // cent-products.
    m += "q_tpch_q7" -> both("""
      SELECT supp_nation, cust_nation, l_year,
             CAST(sum(volume_cp) AS BIGINT) AS revenue_cp
      FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(EXTRACT(YEAR FROM CAST(l_shipdate AS DATE)) AS BIGINT) AS l_year,
                   CAST(round(l_extendedprice * 100) AS BIGINT) *
                   (100 - CAST(round(l_discount * 100) AS BIGINT)) AS volume_cp
            FROM supplier
            JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE ((n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
                OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13'))
              AND CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31')
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year""")

    // TPC-H Q8 (national market share): the 7-way join with nation on
    // BOTH fact sides again, a region gate on the customer side, and a
    // share = conditional-sum / total-sum per year. Numerator and
    // denominator emit as exact integers plus ONE double division.
    m += "q_tpch_q8" -> both("""
      SELECT o_year,
             CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume_cp ELSE 0 END) AS BIGINT) AS nation_cp,
             CAST(sum(volume_cp) AS BIGINT) AS total_cp,
             CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume_cp ELSE 0 END) AS DOUBLE) /
             CAST(sum(volume_cp) AS DOUBLE) AS mkt_share
      FROM (SELECT CAST(EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
                   CAST(round(l_extendedprice * 100) AS BIGINT) *
                   (100 - CAST(round(l_discount * 100) AS BIGINT)) AS volume_cp,
                   n2.n_name AS nation
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
              AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31')
      GROUP BY o_year
      ORDER BY o_year""")

    // TPC-H Q9 (product type profit): LIKE-filtered part over the ps
    // chain (derived from lineitem as in Q2 — this corpus ships no
    // partsupp) with profit = revenue minus supply cost, rolled up by
    // nation and year. amount_cp = extprice_c*(100-disc_c) -
    // ps_cost_c*100*qty keeps everything in exact cent-percent units
    // (quantities are integral in this corpus).
    // the ps CTE is a SELF-join of lineitem against its own
    // per-(partkey, suppkey) min — i.e. each lineitem row annotated with
    // its group min, which is exactly
    // `min(...) OVER (PARTITION BY l_partkey, l_suppkey)` on ONE scan
    // (guide §1.2/§2.4; r20 — this entry used to ride q2's DISK_ONLY ps
    // cache by canonical-plan accident, so when q2's materialization was
    // removed this self-join would have re-scanned + re-aggregated the
    // fact table; the window makes the entry self-sufficient with a
    // single scan). The DuckDB oracle keeps the canonical CTE self-join
    // — equivalence is re-proven by the hash gate every round.
    locally {
      val q9Oracle = """
        WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                           min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ps_cost_c
                    FROM lineitem GROUP BY l_partkey, l_suppkey)
        SELECT nation, o_year, CAST(sum(amount_cp) AS BIGINT) AS sum_profit_cp
        FROM (SELECT n_name AS nation,
                     CAST(EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
                     CAST(round(l_extendedprice * 100) AS BIGINT) *
                     (100 - CAST(round(l_discount * 100) AS BIGINT)) -
                     ps_cost_c * 100 * CAST(round(l_quantity) AS BIGINT) AS amount_cp
              FROM part
              JOIN lineitem ON p_partkey = l_partkey
              JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
              JOIN supplier ON s_suppkey = l_suppkey
              JOIN orders ON o_orderkey = l_orderkey
              JOIN nation ON s_nationkey = n_nationkey
              WHERE p_name LIKE '%red%')
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC"""
      val q9Spark = """
        SELECT nation, o_year, CAST(sum(amount_cp) AS BIGINT) AS sum_profit_cp
        FROM (SELECT n_name AS nation,
                     CAST(EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
                     CAST(round(l_extendedprice * 100) AS BIGINT) *
                     (100 - CAST(round(l_discount * 100) AS BIGINT)) -
                     ps_cost_c * 100 * CAST(round(l_quantity) AS BIGINT) AS amount_cp
              FROM part
              JOIN (SELECT l_partkey, l_suppkey, l_orderkey, l_extendedprice,
                           l_discount, l_quantity,
                           min(CAST(round(l_extendedprice * 100) AS BIGINT))
                             OVER (PARTITION BY l_partkey, l_suppkey) AS ps_cost_c
                    FROM lineitem) l ON p_partkey = l_partkey
              JOIN supplier ON s_suppkey = l_suppkey
              JOIN orders ON o_orderkey = l_orderkey
              JOIN nation ON s_nationkey = n_nationkey
              WHERE p_name LIKE '%red%')
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC"""
      m += "q_tpch_q9" -> op(sqlQuery(q9Spark), q9Oracle)
    }

    // TPC-H Q11 (important stock identification): per-part value within
    // one nation, kept only when above a scalar fraction-of-total
    // subquery over the SAME joined relation — the HAVING-vs-global-
    // scalar shape. ps value derives from lineitem (sum of traded line
    // price per part-supplier pair, exact cents).
    // the canonical form references ps twice (the grouped rollup AND the
    // fraction-of-total scalar). Through r19 the Spark side materialized
    // ps (persist(DISK_ONLY) + count barrier); r20 removes the second
    // reference ALGEBRAICALLY (guide §1.2): the scalar — 0.001 of the
    // TOTAL filtered value — is the sum of the very groups the main
    // query computes, i.e. `sum(sum(val_c)) OVER ()` on the grouped
    // frame. One lineitem scan, no persist, no scalar-subquery subplan;
    // the single-partition window moves only (partkey, value) pairs —
    // the grouped result, not the fact table. Exact integer cents both
    // ways and the same BIGINT * DECIMAL comparison, so the predicate is
    // engine-identical. The DuckDB oracle keeps the canonical
    // double-reference CTE — equivalence is re-proven by the hash gate.
    locally {
      val psSql = """SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS val_c
                     FROM lineitem GROUP BY l_partkey, l_suppkey"""
      val outerOracle = """
        SELECT ps_partkey, CAST(sum(val_c) AS BIGINT) AS value_c
        FROM ps
        JOIN supplier ON s_suppkey = ps_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_13'
        GROUP BY ps_partkey
        HAVING sum(val_c) > (SELECT sum(val_c) * 0.001
                             FROM ps
                             JOIN supplier ON s_suppkey = ps_suppkey
                             JOIN nation ON s_nationkey = n_nationkey
                             WHERE n_name = 'NATION_13')
        ORDER BY value_c DESC, ps_partkey"""
      val sparkSide = s"""
        WITH ps AS ($psSql)
        SELECT ps_partkey, value_c
        FROM (
          SELECT ps_partkey, CAST(sum(val_c) AS BIGINT) AS value_c,
                 sum(sum(val_c)) OVER () AS total_c
          FROM ps
          JOIN supplier ON s_suppkey = ps_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_13'
          GROUP BY ps_partkey)
        WHERE value_c > total_c * 0.001
        ORDER BY value_c DESC, ps_partkey"""
      m += "q_tpch_q11" -> op(
        sqlQuery(sparkSide),
        s"WITH ps AS ($psSql)\n" + outerOracle)
    }

    // TPC-H Q12 (shipping mode and order priority): the orders-lineitem
    // join with a two-way conditional count by line class. Adapted
    // (corpus has no l_shipmode/l_receiptdate/l_commitdate): the mode
    // pair becomes l_returnflag IN ('A','R') and "received after
    // committed" becomes "shipped after ordered".
    m += "q_tpch_q12" -> both("""
      SELECT l_returnflag AS ship_class,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_returnflag IN ('A', 'R')
        AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE)
        AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      GROUP BY l_returnflag
      ORDER BY l_returnflag""")

    // TPC-H Q15 (top supplier): the revenue-view shape — one derived
    // aggregate consumed twice, once as the join input and once under a
    // scalar max subquery; ties all surface (ORDER BY suppkey, no
    // LIMIT), matching the spec's semantics.
    m += "q_tpch_q15" -> both("""
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                        (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_revenue_cp
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
          AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_revenue_cp
      FROM supplier JOIN revenue ON s_suppkey = supplier_no
      WHERE total_revenue_cp = (SELECT max(total_revenue_cp) FROM revenue)
      ORDER BY s_suppkey""")

    // REAL media decode (r10): deterministic P6/WAVE payloads are built
    // per doc (even ids image, odd ids audio), pushed through the
    // dispatching decodeMedia — actual byte-level header/plane/chunk
    // parsing, no codec libs — and the oracle replays the decoded
    // metadata as pure arithmetic in doc_id. Any mis-parsed offset,
    // mis-walked chunk, or wrong-endian sample breaks the hash.
    m += "q_multimodal_codec" -> op(
      (s, dir) => {
        import s.implicits._
        // per-row payload synthesis + byte-level parse — spread the
        // under-split scan across cores (see q_multimodal_jdk)
        val payloads = Dedup.spread(GraftSession.table(s, dir, "documents")
            .select(col("doc_id").cast("long")), workFactor = 64).as[Long]
          .map(id => (id,
            if (id % 2 == 0) Multimodal.syntheticPpm(id)
            else Multimodal.syntheticWav(id)))
          .toDF("doc_id", "payload")
        Multimodal.decodeMedia(payloads, "doc_id", "payload")
          .select(col("doc_id"), col("format"), col("width"), col("height"),
            col("channels"), col("sample_rate"), col("n_samples"),
            concat_ws(",", transform(col("feat_sums"), v => v.cast("string")))
              .as("feat_sums"))
          .orderBy("doc_id")
      },
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
         p AS (SELECT doc_id, CAST(doc_id % 13 + 2 AS INT) AS width,
                      CAST(doc_id % 7 + 2 AS INT) AS height
               FROM ids WHERE doc_id % 2 = 0),
         pf AS (SELECT doc_id, j % 3 AS ch, sum((doc_id * 31 + j) % 256) AS s
                FROM (SELECT doc_id, unnest(range(0, 3 * width * height)) AS j FROM p)
                GROUP BY doc_id, j % 3),
         pfa AS (SELECT doc_id, string_agg(CAST(s AS VARCHAR), ',' ORDER BY ch) AS feat_sums
                 FROM pf GROUP BY doc_id),
         w AS (SELECT doc_id, CAST(doc_id % 50 + 10 AS BIGINT) AS n
               FROM ids WHERE doc_id % 2 = 1),
         wf AS (SELECT doc_id, sum(abs((doc_id * 7 + 13 * i) % 2001 - 1000)) AS s
                FROM (SELECT doc_id, unnest(range(0, n)) AS i FROM w)
                GROUP BY doc_id)
         SELECT p.doc_id, 'ppm' AS format, p.width, p.height,
                CAST(3 AS INT) AS channels, CAST(0 AS INT) AS sample_rate,
                CAST(p.width * p.height AS BIGINT) AS n_samples, pfa.feat_sums
         FROM p JOIN pfa USING (doc_id)
         UNION ALL
         SELECT w.doc_id, 'wav', CAST(0 AS INT), CAST(0 AS INT),
                CAST(1 AS INT), CAST(8000 AS INT), w.n, CAST(wf.s AS VARCHAR)
         FROM w JOIN wf USING (doc_id)
         ORDER BY doc_id""")

    // REAL compressed-codec decode (r11): PNG/JPEG/BMP payloads are
    // encoded per doc with the JDK's own ImageIO.write from seeded
    // pixels, AIFF with AudioSystem.write from seeded PCM-16 samples,
    // then pushed through decodeMedia's magic-byte dispatch into the
    // JDK's javax.imageio / javax.sound readers. For the LOSSLESS
    // formats (png/bmp/aiff) the oracle replays the decoded dims AND
    // exact channel/sample sums as pure arithmetic in doc_id — a wrong
    // pixel anywhere in the encode->decode round trip breaks the hash.
    // JPEG pixel sums are lossy-DCT-defined, so jpeg rows pin
    // format/width/height only (feat_sums masked to '').
    m += "q_multimodal_jdk" -> op(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.functions.{col, concat_ws, lit, transform, when}
        // the ImageIO/AudioSystem encode+decode round trip per row is
        // orders of magnitude heavier per scan byte than any text pass;
        // a single small parquet split would otherwise pin all 5000
        // round trips to one core (guide §2 under-split scans — same
        // rationale as Dedup.spread for shingle passes, measured r19:
        // warm 2.46 s single-core -> 1.18 s spread at sf0.1, with
        // ImageIO.setUseCache(false) — see operators/Multimodal.scala)
        val payloads = Dedup.spread(GraftSession.table(s, dir, "documents")
            .select(col("doc_id").cast("long")), workFactor = 64).as[Long]
          .map(id => (id, (id % 4) match {
            case 0 => Multimodal.syntheticImage(id, "png")
            case 1 => Multimodal.syntheticImage(id, "jpeg")
            case 2 => Multimodal.syntheticImage(id, "bmp")
            case _ => Multimodal.syntheticAiff(id)
          }))
          .toDF("doc_id", "payload")
        Multimodal.decodeMedia(payloads, "doc_id", "payload")
          .select(col("doc_id"), col("format"), col("width"), col("height"),
            col("channels"), col("sample_rate"), col("n_samples"),
            when(col("format") === "jpeg", lit(""))
              .otherwise(concat_ws(",", transform(col("feat_sums"), v => v.cast("string"))))
              .as("feat_sums"))
          .orderBy("doc_id")
      },
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
         img AS (SELECT doc_id, CAST(doc_id % 13 + 2 AS INT) AS width,
                        CAST(doc_id % 7 + 2 AS INT) AS height,
                        CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'bmp' END AS format
                 FROM ids WHERE doc_id % 4 IN (0, 1, 2)),
         sums AS (SELECT doc_id, j % 3 AS ch, sum((doc_id * 31 + j) % 256) AS s
                  FROM (SELECT doc_id, unnest(range(0, 3 * width * height)) AS j
                        FROM img WHERE format <> 'jpeg')
                  GROUP BY doc_id, j % 3),
         sa AS (SELECT doc_id, string_agg(CAST(s AS VARCHAR), ',' ORDER BY ch) AS feat_sums
                FROM sums GROUP BY doc_id),
         au AS (SELECT doc_id, CAST(doc_id % 50 + 10 AS BIGINT) AS n
                FROM ids WHERE doc_id % 4 = 3),
         af AS (SELECT doc_id, sum(abs((doc_id * 7 + 13 * i) % 2001 - 1000)) AS s
                FROM (SELECT doc_id, unnest(range(0, n)) AS i FROM au)
                GROUP BY doc_id)
         SELECT i.doc_id, i.format, i.width, i.height,
                CAST(3 AS INT) AS channels, CAST(0 AS INT) AS sample_rate,
                CAST(i.width * i.height AS BIGINT) AS n_samples,
                CASE WHEN i.format = 'jpeg' THEN '' ELSE sa.feat_sums END AS feat_sums
         FROM img i LEFT JOIN sa USING (doc_id)
         UNION ALL
         SELECT a.doc_id, 'aiff', CAST(0 AS INT), CAST(0 AS INT),
                CAST(1 AS INT), CAST(8000 AS INT), a.n, CAST(af.s AS VARCHAR)
         FROM au a JOIN af USING (doc_id)
         ORDER BY doc_id""")

    // REAL compressed-image RESIZE (r11): per doc, a seeded PNG is
    // nearest-neighbor-resized through decode -> explicit pixel loop ->
    // PNG re-encode (resizeImage), then decoded AGAIN by the dispatch —
    // two full ImageIO round trips. NN selection is pure arithmetic in
    // doc_id (sy = y*h/h2, sx = x*w/w2 over the seeded plane), so the
    // oracle replays the resized channel sums without touching bytes.
    m += "q_multimodal_resize" -> op(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.functions.{col, concat_ws, transform}
        // two ImageIO round trips per row — spread the under-split scan
        // across cores (same rationale/measurement as q_multimodal_jdk)
        val payloads = Dedup.spread(GraftSession.table(s, dir, "documents")
            .select(col("doc_id").cast("long")), workFactor = 64).as[Long]
          .map { id =>
            val w2 = (id % 5 + 1).toInt; val h2 = (id % 3 + 1).toInt
            (id, Multimodal.resizeImage(
              Multimodal.syntheticImage(id, "png"), w2, h2).get)
          }
          .toDF("doc_id", "payload")
        Multimodal.decodeMedia(payloads, "doc_id", "payload")
          .select(col("doc_id"), col("format"), col("width"), col("height"),
            concat_ws(",", transform(col("feat_sums"), v => v.cast("string")))
              .as("feat_sums"))
          .orderBy("doc_id")
      },
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
         dims AS (SELECT doc_id, CAST(doc_id % 13 + 2 AS INT) AS w,
                         CAST(doc_id % 7 + 2 AS INT) AS h,
                         CAST(doc_id % 5 + 1 AS INT) AS w2,
                         CAST(doc_id % 3 + 1 AS INT) AS h2 FROM ids),
         px AS (SELECT doc_id, w, h, w2, h2,
                       unnest(range(0, 3 * w2 * h2)) AS k FROM dims),
         sums AS (SELECT doc_id, k % 3 AS c,
                         sum((doc_id * 31 +
                              3 * (((k // 3) // w2 * h // h2) * w +
                                   ((k // 3) % w2 * w // w2)) + k % 3) % 256) AS s
                  FROM px GROUP BY doc_id, k % 3),
         sa AS (SELECT doc_id, string_agg(CAST(s AS VARCHAR), ',' ORDER BY c) AS feat_sums
                FROM sums GROUP BY doc_id)
         SELECT d.doc_id, 'png' AS format, d.w2 AS width, d.h2 AS height, sa.feat_sums
         FROM dims d JOIN sa USING (doc_id) ORDER BY doc_id""")

    m.result()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map { case (k, q) => k -> q.spark }

  def oracleSql: Map[String, String] =
    catalog.collect { case (k, q) if q.oracle.isDefined => k -> q.oracle.get }
}
