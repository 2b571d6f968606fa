package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, CurrentRow, Expression, Literal, RangeFrame, RowFrame, SortOrder, SpecifiedWindowFrame, UnaryMinus, UnresolvedWindowExpression, WindowExpression, WindowSpecDefinition, WindowSpecReference}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project, Sort, SubqueryAlias, WithWindowDefinition}
import org.apache.spark.sql.functions.{broadcast, col, concat, expr, length, lit, when}
import org.apache.spark.sql.types.{CalendarIntervalType, DataType, DayTimeIntervalType, StringType}
import org.apache.spark.unsafe.types.CalendarInterval

import graft.streaming.SlidingWindows
import graft.streaming.SlidingWindows.{AggSpec, Frame, RangeMs, RowsN}

/** SQL OVER-window compiler for the streaming engine — the reference's
  * production path: SQL goes in, the planner splits PARTITION BY into a
  * KeyBy and the window expressions into the WindowOperator
  * (src/api/planner.rs:390-432). Spark's own streaming runner rejects
  * per-row OVER windows, so this compiler parses the query, extracts the
  * window specs, and routes them through the sliding-window engine — the
  * SAME SQL then runs in batch mode via Catalyst and in streaming mode
  * via the engine, with identical results.
  *
  * Supported shape (the reference's window contract, SURVEY §2.6 and the
  * README flagship, README.md:105-146): one or more PARTITION BY columns
  * (multi-column lists key the engine on a derived composite), ORDER BY one
  * ms-timestamp column, frames `RANGE/ROWS ... PRECEDING AND CURRENT ROW`
  * (RANGE bounds as ms literals or day-time INTERVAL literals), optionally
  * a join ahead of the window (`FROM users u JOIN orders o ON ...` — run
  * as a stream-static join in streaming mode), and a trailing ORDER BY in
  * batch mode:
  *
  * {{{
  * SELECT <key>, <ts>, [arg/pass-through columns...,]
  *        sum(<num>) OVER w AS a,  count(*) OVER w AS b,
  *        top(<any>, 3) OVER w AS c,
  *        sum_cate(<num>, <str>) OVER w AS d,
  *        count_where(<num>, <cond expr>) OVER w AS e,
  *        count_cate_where(<num>, <cond expr>, <str>) OVER w AS f,
  *        top_n_key_sum_cate_where(<num>, <cond>, <str>, 2) OVER w AS g,
  *        top_n_value_ratio_cate(<any>, <cond>, <str>, 2) OVER w AS h
  * FROM <table> [JOIN <table2> ON <cond>]
  * WINDOW w AS (PARTITION BY <key> ORDER BY <ts>
  *              RANGE BETWEEN <ms | INTERVAL> PRECEDING AND CURRENT ROW)
  * }}}
  *
  * Each aggregate evaluates its own argument columns; arguments may be
  * arbitrary expressions (projected into derived slots ahead of the
  * engine). Non-argument SELECT columns ride through the engine as extra
  * slots and are cast back to their source types on output.
  */
object WindowSql {

  /** Estimated-size cap for force-broadcasting the static side of a
    * stream-static join (Catalyst's estimate, which skews high): dimension
    * tables qualify, fact-sized relations fall back to a per-micro-batch
    * shuffle join instead of OOMing the driver. */
  val BroadcastStaticMaxBytes: Long = 128L << 20

  /** One source relation (table name + optional alias). */
  final case class Rel(table: String, alias: Option[String])

  /** One compiled window aggregate: args name columns of the (joined +
    * derived) source frame; slot indices resolve against the schema at
    * run time. `whereArg` is the 0/1-coalesced condition column of the
    * `_where`/ratio families. */
  final case class AggDef(name: String, kind: String, frame: Frame, n: Int,
                          valueArg: Option[String], cateArg: Option[String],
                          whereArg: Option[String] = None)

  final case class Compiled(
      relations: Seq[Rel],
      joinCondSql: Option[String],
      /** PARTITION BY columns (the reference keys windows on the plan's
        * full partition expression list, planner.rs:409-415; its KeyBy
        * builds the composite key, key_by_function.rs:56-172). Multi-column
        * lists run the engine on a derived composite key and restore the
        * source columns on output. */
      keyCols: Seq[String],
      tsCol: String,
      aggs: Seq[AggDef],
      /** Output columns in SELECT order (pass-through cols + aliases). */
      outCols: Seq[String],
      /** Derived columns to project ahead of the engine: name -> SQL. */
      derived: Seq[(String, String)] = Nil,
      /** Trailing ORDER BY columns (batch mode only). */
      orderBy: Seq[String] = Nil,
      /** The relation owning the ORDER BY ts column — the streaming side
        * of a join (None = the first relation). */
      streamRel: Option[String] = None) {

    /** The streaming-side (primary) table. */
    def table: String = streamRel.getOrElse(relations.head.table)

    /** Single-key accessor for paths that key external state on one column
      * (request serving, feature-store upserts). */
    def keyCol: String = keyCols match {
      case Seq(one) => one
      case many => sys.error(
        s"single partition column required here, got ${many.mkString(", ")}")
    }

    /** Run the compiled windows through the engine. `srcs` maps each FROM
      * relation to its frame; in streaming mode the FIRST relation is the
      * stream and the others must be static frames (stream-static join —
      * the reference joins its stream against table-backed sides the same
      * way, logical_graph.rs:362-494).
      */
    def runWith(srcs: Map[String, DataFrame], latenessMs: Long = 0,
                tileGranularityMs: Long = 60000L,
                useBatchSweep: Boolean = false,
                coarseTilesMs: Seq[Long] = Nil,
                prebuiltPlan: Option[EnginePlan] = None): DataFrame = {
      // prebuiltPlan: a caller that already materialized enginePlan (the
      // request-serving path feeds the same slot layout to a live buffer)
      // passes it back in rather than paying plan construction — and the
      // static-side broadcast stats probe — twice
      val plan = prebuiltPlan.getOrElse(enginePlan(srcs))
      import plan._
      val out =
        if (useBatchSweep)
          SlidingWindows.batchComputeMulti(keyed, engineKey, tsCol, numCols, strCols,
            specs, tileGranularityMs, coarseTilesMs)
        else
          SlidingWindows.streamingMulti(keyed, engineKey, tsCol, numCols, strCols,
            specs, latenessMs, tileGranularityMs, coarseTilesMs)
      // engine emits (ts_ms, key, <numCols>, <strCols>, <specs>) with the
      // original column names — ts/key need renaming back; pass-through
      // slots AND the key/ts (the engine strings the key, longs the ts)
      // cast back to their source types. Multi-key: the composite engine
      // key is dropped and the source key columns come from their slots.
      val multiKey = keyCols.length > 1
      // ALL selected key columns restore their source type — including a
      // partition column that also rides an aggregate-argument slot (it is
      // excluded from keyPass to avoid a duplicate slot, but its output
      // still comes back out of that slot as an engine string/double)
      val origType: Map[String, DataType] =
        (passCols ++
          (if (multiKey) keyCols :+ tsCol else Seq(keyCols.head, tsCol))
            .filter(outCols.contains))
          .map(c => c -> schema(schema.fieldIndex(c)).dataType).toMap
      val restoredKey = out.withColumnRenamed("ts_ms", tsCol)
      val renamed = (if (multiKey) restoredKey.drop("key")
                     else restoredKey.withColumnRenamed("key", keyCols.head))
        .select(outCols.map { c =>
          origType.get(c).map(t => col(c).cast(t).as(c)).getOrElse(col(c))
        }: _*)
      if (orderBy.nonEmpty && useBatchSweep) renamed.orderBy(orderBy.map(col): _*)
      else if (orderBy.nonEmpty) sys.error("ORDER BY is batch-only in engine mode")
      else renamed
    }

    /** The resolved engine inputs for this query over `srcs`: the joined +
      * derived + composite-keyed frame, the engine key column, the slot
      * layout, and the compiled [[AggSpec]]s. Exposed so the serving layer
      * can feed the SAME slot layout into a live request-evaluation buffer
      * ([[graft.serving.ServingBuffer]]). */
    def enginePlan(srcs: Map[String, DataFrame]): EnginePlan = {
      val frames = relations.map { r =>
        val df = srcs.getOrElse(r.table, sys.error(s"no source for table '${r.table}'"))
        r.alias.map(df.as).getOrElse(df)
      }
      val joined = frames match {
        case Seq(one) => one
        case Seq(l, r) =>
          // streaming has no AQE and the session disables static
          // auto-broadcast (GraftSession), so the static dimension side of
          // a stream-static join is broadcast explicitly — whichever side
          // of the SQL's join it appears on. Guarded by an estimated-size
          // cap: a fact-sized static side force-broadcast every micro-batch
          // is a driver/executor OOM source, and falling back to a
          // per-batch shuffle join is slow-but-correct.
          def hinted(static: DataFrame): DataFrame = {
            val est = static.queryExecution.optimizedPlan.stats.sizeInBytes
            if (est <= BroadcastStaticMaxBytes) broadcast(static)
            else {
              System.err.println(s"[windowsql] static join side estimated at " +
                s"$est bytes (> $BroadcastStaticMaxBytes): not broadcasting; " +
                "the stream-static join runs as a per-micro-batch shuffle join")
              static
            }
          }
          val (ls, rs) =
            if (l.isStreaming && !r.isStreaming) (l, hinted(r))
            else if (!l.isStreaming && r.isStreaming) (hinted(l), r)
            else (l, r)
          ls.join(rs, expr(joinCondSql.getOrElse(sys.error("join needs an ON condition"))), "inner")
        case _ => sys.error("at most two FROM relations supported")
      }
      val src = derived.foldLeft(joined) { case (df, (name, sql)) =>
        df.withColumn(name, expr(sql))
      }
      val multiKey = keyCols.length > 1
      if (multiKey && src.columns.contains("key"))
        sys.error("multi-column PARTITION BY reserves the output name 'key'; " +
          "alias the source column named 'key' first")
      // Multi-column PARTITION BY: the engine keys state on ONE string
      // column, so the full partition list becomes a derived composite key
      // (each part length-prefixed and null-marked — distinct tuples can
      // never concatenate equal). The source key columns ride through the
      // engine as string slots and are cast back per source type on output,
      // so no decoding of the composite is ever needed.
      val engineKey = if (multiKey) "__ckey" else keyCols.head
      val keyed =
        if (!multiKey) src
        else src.withColumn(engineKey, concat(keyCols.map { c =>
          val s = col(c).cast("string")
          when(s.isNull, lit("N:")).otherwise(
            concat(length(s).cast("string"), lit(":"), s))
        }: _*))
      val schema = src.schema
      def isStr(c: String): Boolean =
        schema(schema.fieldIndex(c)).dataType == StringType
      // ratio kinds never read their value slot (the engine assumes
      // non-null values; the batch accumulator's value-null check is the
      // only use), and count-family kinds over non-numeric values only
      // count — don't burn slots on those
      def slotValue(a: AggDef): Option[String] =
        if (SlidingWindows.isRatioKind(a.kind)) None
        else if (SlidingWindows.isCate(a.kind) && a.valueArg.exists(isStr) &&
          SlidingWindows.cateBaseKind(a.kind) == "count") None
        else a.valueArg
      // pass-through SELECT columns ride as extra slots, cast back later
      val aggNames = aggs.map(_.name).toSet
      val argCols = (aggs.flatMap(a => slotValue(a)) ++ aggs.flatMap(_.cateArg) ++
        aggs.flatMap(_.whereArg)).toSet
      val passCols = outCols.filterNot(c =>
        keyCols.contains(c) || c == tsCol || aggNames(c) || argCols(c))
      // multi-key: selected partition columns come back out of string slots
      // (exact round-trip for ints/strings), unless already riding as args
      val keyPass =
        if (multiKey) keyCols.filter(c => outCols.contains(c) && !argCols(c)) else Nil
      // slot assignment: numeric value columns + condition columns + numeric
      // pass-throughs; string slots for top-family string values,
      // categories, and string pass-throughs — in first-use order
      val numCols = (aggs.flatMap(slotValue).filter(!isStr(_)) ++
        aggs.flatMap(_.whereArg) ++ passCols.filter(!isStr(_))).distinct
      val strCols = (aggs.flatMap(slotValue).filter(isStr) ++
        aggs.flatMap(_.cateArg) ++ passCols.filter(isStr) ++ keyPass).distinct
      val specs = aggs.map { a =>
        val vStr = slotValue(a).exists(isStr)
        if (SlidingWindows.isCate(a.kind) && vStr)
          sys.error(s"${a.name}: the ${SlidingWindows.cateBaseKind(a.kind)} cate " +
            "family needs a numeric value column")
        if (vStr && (a.kind == "median" ||
          !(a.kind == "count" || a.kind == "count_where" || a.kind == "top" ||
            SlidingWindows.cmKinds.contains(a.kind))))
          sys.error(s"${a.name}: ${a.kind} needs a numeric value column")
        val useStr = vStr && a.kind != "count" && a.kind != "count_where"
        val vIdx = slotValue(a) match {
          case Some(v) if useStr => strCols.indexOf(v)
          case Some(v) if !vStr  => numCols.indexOf(v)
          case _                 => -1 // count(*)/count(<str>)/ratio/count-cate-str
        }
        val cIdx = a.cateArg.map(strCols.indexOf).getOrElse(0)
        val wIdx = a.whereArg.map(numCols.indexOf).getOrElse(-1)
        AggSpec(a.name, a.kind, a.frame, a.n, vIdx, cIdx, useStr, wIdx)
      }
      EnginePlan(keyed, engineKey, numCols, strCols, specs, schema,
        passCols, keyPass)
    }
  }

  /** Resolved engine inputs for one compiled query (see
    * [[Compiled.enginePlan]]). */
  final case class EnginePlan(
      keyed: DataFrame, engineKey: String,
      numCols: Seq[String], strCols: Seq[String], specs: Seq[AggSpec],
      schema: org.apache.spark.sql.types.StructType,
      passCols: Seq[String], keyPass: Seq[String])

  private val plainKinds = Set("sum", "count", "avg", "min", "max",
    "stddev", "stddev_pop", "stddev_samp", "var_pop", "var_samp", "variance")
  private val cateBases = Seq("sum", "avg", "count", "min", "max")
  /** Every kind the engine evaluates (the reference's full registry,
    * aggregates/mod.rs:104-120 + 184-199). */
  private val kinds: Set[String] = plainKinds ++
    Set("top", "topn_frequency", "top1_ratio", "distinct_count", "median",
      "top_n_key_ratio_cate", "top_n_value_ratio_cate") ++
    cateBases.flatMap(k => Seq(s"${k}_where", s"${k}_cate", s"${k}_cate_where",
      s"top_n_key_${k}_cate_where", s"top_n_value_${k}_cate_where"))

  /** Kinds whose Catalyst evaluation is codegen'd (cheap per row in
    * WindowExec); everything else is a TypedImperativeAggregate that
    * WindowExec rebuilds per output row. */
  def isPlainKind(kind: String): Boolean = plainKinds(kind)

  /** Argument layout: (arity, cond position, cate position, n position);
    * -1 = absent. Reference orders: `(value, cond, cate, n)`
    * (cate/udf.rs:80-120, top/README.md). */
  private def argLayout(kind: String): Option[(Int, Int, Int, Int)] = kind match {
    case "count"                                  => Some((0, -1, -1, -1)) // or 1
    case k if plainKinds(k)                       => Some((1, -1, -1, -1))
    case "top1_ratio" | "distinct_count" | "median" => Some((1, -1, -1, -1))
    case "top" | "topn_frequency"                 => Some((2, -1, -1, 1))
    case k if SlidingWindows.whereBaseKinds(k)    => Some((2, 1, -1, -1))
    case k if SlidingWindows.isRatioKind(k)       => Some((4, 1, 2, 3))
    case k if k.startsWith("top_n_") && k.endsWith("_cate_where") => Some((4, 1, 2, 3))
    case k if k.endsWith("_cate_where")           => Some((3, 1, 2, -1))
    case k if k.endsWith("_cate")                 => Some((2, -1, 1, -1))
    case _                                        => None
  }

  /** Compile, or explain why the query doesn't fit the engine shape. */
  def compile(spark: SparkSession, sql: String): Either[String, Compiled] = {
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)

    // peel a trailing global ORDER BY (batch-only)
    val (noSort, orderCols) = parsed match {
      case Sort(order, true, child, _) =>
        val cols = order.map {
          case SortOrder(a: UnresolvedAttribute, Ascending, _, _) => a.nameParts.last
          case _ => return Left("only simple ascending trailing ORDER BY supported")
        }
        (child, cols)
      case p => (p, Nil)
    }

    val (projectList, windowDefs, from) = noSort match {
      case WithWindowDefinition(defs, Project(pl, f), _) => (pl, defs, f)
      case Project(pl, WithWindowDefinition(defs, f, _)) => (pl, defs, f)
      case Project(pl, f) => (pl, Map.empty[String, WindowSpecDefinition], f)
      case other => return Left(s"unsupported plan shape: ${other.getClass.getSimpleName}")
    }

    // FROM: a relation, or one inner join of two relations
    def rel(p: LogicalPlan): Either[String, Rel] = p match {
      case UnresolvedRelation(parts, _, _) => Right(Rel(parts.mkString("."), None))
      case SubqueryAlias(id, UnresolvedRelation(parts, _, _)) =>
        Right(Rel(parts.mkString("."), Some(id.name)))
      case other => Left(s"unsupported FROM item: ${other.getClass.getSimpleName}")
    }
    val (relations, joinCondSql) = from match {
      case Join(l, r, Inner, cond, _) =>
        val lr = rel(l) match { case Right(x) => x; case Left(e) => return Left(e) }
        val rr = rel(r) match { case Right(x) => x; case Left(e) => return Left(e) }
        cond match {
          case Some(c) => (Seq(lr, rr), Some(c.sql))
          case None => return Left("JOIN needs an ON condition")
        }
      case p => rel(p) match {
        case Right(x) => (Seq(x), None)
        case Left(e) => return Left(e)
      }
    }

    var keyCols: Seq[String] = null; var tsCol: String = null
    var tsQualifier: String = null
    val aggs = Seq.newBuilder[AggDef]
    val outCols = Seq.newBuilder[String]
    val derived = Seq.newBuilder[(String, String)]
    var derivedIx = 0

    /** An aggregate argument: a bare column passes through by name; any
      * other expression becomes a derived column projected ahead of the
      * engine. Conditions always derive to a 0/1 double slot. */
    def argCol(e: Expression, cond: Boolean): String = e match {
      case a: UnresolvedAttribute if !cond => a.nameParts.last
      case _ =>
        val nm = if (cond) s"__w$derivedIx" else s"__e$derivedIx"
        derivedIx += 1
        val sqlTxt =
          if (cond) s"coalesce(cast((${e.sql}) as double), cast(0.0 as double))"
          else e.sql
        derived += nm -> sqlTxt
        nm
    }

    def attr(e: Expression, what: String): Either[String, String] = e match {
      case a: UnresolvedAttribute => Right(a.nameParts.last)
      case other => Left(s"$what must be a column, got $other")
    }

    /** A PARTITION BY element: bare columns key the engine directly; any
      * other expression derives a hidden column projected ahead of the
      * engine (the reference keys windows on the physical plan's full
      * partition EXPRESSION list — planner.rs:409-415). The same
      * expression text across windows reuses one derived name, so
      * setSharedKeys still sees a single stable key list. */
    val partDerived = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def partCol(e: Expression): String = e match {
      case a: UnresolvedAttribute => a.nameParts.last
      case other =>
        partDerived.getOrElseUpdate(other.sql, {
          val nm = s"__p$derivedIx"; derivedIx += 1
          derived += nm -> other.sql
          nm
        })
    }
    /** Frame bound in ms: numeric literal, or day-time INTERVAL literal
      * (the README flagship writes `INTERVAL '30 day' PRECEDING`). */
    def boundMs(e: Expression, what: String): Either[String, Long] = e match {
      case UnaryMinus(inner, _) => boundMs(inner, what).map(-_)
      case Literal(v: java.lang.Long, _: DayTimeIntervalType) => Right(v / 1000L)
      case Literal(ci: CalendarInterval, CalendarIntervalType) =>
        if (ci.months != 0) Left(s"$what: month intervals are not fixed-length")
        else Right(ci.days * 86400000L + ci.microseconds / 1000L)
      case Literal(v: Number, _) => Right(v.longValue())
      case other => Left(s"$what must be a literal, got $other")
    }
    def setShared(cur: String, nw: String, what: String): Either[String, String] =
      if (cur == null || cur == nw) Right(nw)
      else Left(s"all windows must share one $what column ($cur vs $nw)")
    def setSharedKeys(nw: Seq[String]): Either[String, Seq[String]] =
      if (keyCols == null || keyCols == nw) Right(nw)
      else Left("all windows must share one PARTITION BY list " +
        s"(${keyCols.mkString(",")} vs ${nw.mkString(",")})")

    def frameOf(spec: WindowSpecDefinition): Either[String, Frame] = spec.frameSpecification match {
      case SpecifiedWindowFrame(RangeFrame, lower, CurrentRow) =>
        boundMs(lower, "RANGE lower bound").map(l => RangeMs(-l))
      case SpecifiedWindowFrame(RowFrame, lower, CurrentRow) =>
        boundMs(lower, "ROWS lower bound").map(l => RowsN((-l).toInt))
      case other => Left(s"unsupported frame $other (need ... PRECEDING AND CURRENT ROW)")
    }

    def handleWindow(fn: UnresolvedFunction, spec: WindowSpecDefinition,
                     alias: String): Either[String, Unit] = {
      for {
        k <- {
          val v = spec.partitionSpec.map(partCol).toVector
          if (v.isEmpty) Left("at least one PARTITION BY column required")
          else Right(v)
        }: Either[String, Vector[String]]
        _ <- setSharedKeys(k).map(keyCols = _)
        t <- spec.orderSpec match {
          case Seq(SortOrder(o, Ascending, _, _)) =>
            o match { // the ts column's qualifier names the streaming side
              case a: UnresolvedAttribute if a.nameParts.length > 1 =>
                tsQualifier = a.nameParts.init.mkString(".")
              case _ =>
            }
            attr(o, "ORDER BY")
          case _ => Left("exactly one ascending ORDER BY column required")
        }
        _ <- setShared(tsCol, t, "order").map(tsCol = _)
        frame <- frameOf(spec)
        _ <- {
          // graft_median is the SQL-callable registration of the `median`
          // engine kind (the builtin `median` keeps plain-GROUP-BY
          // semantics and refuses frames) — same SQL, both modes
          val name = fn.nameParts.last.toLowerCase match {
            case "graft_median" => "median"
            case other          => other
          }
          if (!kinds(name)) Left(s"unsupported window function $name")
          else {
            val args = fn.arguments
            // count(*) parses as a star (or, defensively, literal) argument
            val isStar = args.headOption.exists(_.isInstanceOf[UnresolvedStar]) ||
              (name == "count" && args.forall(_.isInstanceOf[Literal]))
            val layout = argLayout(name).get
            val (arity, condPos, catePos, nPos) = layout
            if (!isStar && args.length != arity &&
              !(name == "count" && args.length == 1))
              Left(s"$name takes $arity argument(s), got ${args.length}")
            else if (isStar && name != "count")
              Left(s"$name does not take *")
            else {
              val n: Either[String, Int] =
                if (nPos < 0) Right(0)
                else args(nPos) match {
                  case Literal(v: Number, _) => Right(v.intValue())
                  case other => Left(s"$name: n must be an integer literal, got $other")
                }
              n.map { nVal =>
                val valueArg =
                  if (isStar || args.isEmpty) None
                  else Some(argCol(args.head, cond = false))
                val whereArg = if (condPos < 0) None
                  else Some(argCol(args(condPos), cond = true))
                val cateArg = if (catePos < 0) None
                  else Some(argCol(args(catePos), cond = false))
                aggs += AggDef(alias, name, frame, nVal, valueArg, cateArg, whereArg)
                ()
              }
            }
          }
        }
      } yield ()
    }

    projectList.foreach {
      case a: UnresolvedAttribute => outCols += a.nameParts.last
      case Alias(UnresolvedWindowExpression(fn: UnresolvedFunction, WindowSpecReference(w)), alias) =>
        windowDefs.get(w) match {
          case None => return Left(s"unknown window '$w'")
          case Some(spec) => handleWindow(fn, spec, alias) match {
            case Left(e) => return Left(e)
            case Right(_) => outCols += alias
          }
        }
      case Alias(WindowExpression(fn: UnresolvedFunction, spec: WindowSpecDefinition), alias) =>
        handleWindow(fn, spec, alias) match {
          case Left(e) => return Left(e)
          case Right(_) => outCols += alias
        }
      case other => return Left(s"unsupported select item: $other")
    }

    val built = aggs.result()
    if (built.isEmpty) Left("no window aggregates found")
    else {
      val streamRel = Option(tsQualifier).flatMap(q =>
        relations.find(r => r.alias.contains(q) || r.table == q).map(_.table))
      Right(Compiled(relations, joinCondSql, keyCols, tsCol, built,
        outCols.result(), derived.result(), orderCols, streamRel))
    }
  }

  /** Batch-mode router: compile the SQL and pick the evaluation path per
    * frame cost. Catalyst's WindowExec rebuilds a TypedImperativeAggregate
    * buffer per OUTPUT row — O(rows × frame rows) per partition — which is
    * fine for short frames but the named scale killer for ML aggregates
    * over long ones; the engine's tiled sweep is O(rows × (tiles + edge)).
    * Routing rule: any non-codegen (ML-family) aggregate over a RANGE
    * frame ≥ `sweepRangeMs` or a ROWS frame ≥ `sweepRows` routes the whole
    * query through the tiled sweep; everything else (and any shape the
    * compiler can't express) runs as plain Catalyst SQL.
    */
  def runBatchAuto(spark: SparkSession, sql: String,
                   tables: Map[String, DataFrame] = Map.empty,
                   tileGranularityMs: Long = 60000L,
                   sweepRangeMs: Long = 600000L,
                   sweepRows: Int = 1000): DataFrame =
    compile(spark, sql) match {
      case Left(_) => spark.sql(sql)
      case Right(c) =>
        val mlLongFrame = c.aggs.exists(a => !isPlainKind(a.kind) && (a.frame match {
          case RangeMs(l) => l >= sweepRangeMs
          case RowsN(n)   => n >= sweepRows
        }))
        if (mlLongFrame) {
          val srcs = c.relations.map(r =>
            r.table -> tables.getOrElse(r.table, spark.table(r.table))).toMap
          c.runWith(srcs, tileGranularityMs = tileGranularityMs, useBatchSweep = true)
        } else spark.sql(sql)
    }
}
