package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._

/** Registers the whole ML-aggregate family into a session's
  * FunctionRegistry so it is callable from SQL (GROUP BY and OVER
  * windows) by the same names as the reference engine
  * (reference: src/api/planner.rs:134-136 registers them as UDAFs).
  *
  * `*_where` without a category reduces exactly to a built-in aggregate
  * over `IF(cond, value, NULL)` — we rewrite instead of running custom
  * code so Catalyst codegen and partial aggregation stay fully native
  * (reference semantics: cate/udf.rs:30-120).
  */
object GraftFunctions {

  private def whereAgg(kind: AggKind, v: Expression, cond: Expression): Expression = {
    val masked = If(cond, v, Literal.create(null, org.apache.spark.sql.types.NullType))
    kind match {
      case AggKind.Sum   => Sum(masked)
      case AggKind.Avg   => Average(masked)
      case AggKind.Count => Count(masked)
      case AggKind.Min   => Min(masked)
      case AggKind.Max   => Max(masked)
    }
  }

  /** name -> builder for every function in the family. Built once: the
    * builder objects double as the registry's identity check in
    * [[register]], and [[graft.GraftExtensions]] injects these same ones. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = {
    val out = Seq.newBuilder[(String, Seq[Expression] => Expression)]

    out += "text_stats" -> { args => TextStatsExpr(args(0)) }
    out += "dot_long" -> { args => DotLong(args(0), args(1)) }
    out += "kmv_distinct" -> { args => KmvDistinct(args(0), args(1)) }
    out += "distinct_count" -> { args => DistinctCount(args(0)) }
    // window-capable exact median under its OWN name: Spark's builtin
    // `median` refuses OVER frames, but shadowing it would silently change
    // plain GROUP BY semantics session-wide (DECIMAL -> DOUBLE, non-numeric
    // errors deferred from analysis to execution) — so the builtin keeps
    // its name and frames use graft_median
    out += "graft_median" -> { args => MedianValue(args(0)) }
    out += "word_hits" -> { args =>
      require(args(1).foldable, "word_hits requires a literal word array")
      val arr = args(1).eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val words = (0 until arr.numElements())
        .map(i => arr.getUTF8String(i).toString)
      WordHitsExpr(args(0), words)
    }
    out += "top" -> { args => TopValues(args(0), args(1)) }
    out += "topn_frequency" -> { args => TopNFrequency(args(0), args(1)) }
    out += "top1_ratio" -> { args => Top1Ratio(args(0)) }

    AggKind.all.foreach { case (kname, kind) =>
      out += s"${kname}_where" -> { args => whereAgg(kind, args(0), args(1)) }
      out += s"${kname}_cate" -> { args =>
        CateAgg(kind, CateOutputMode.SortedCsv, args(0), None, args(1), None, s"${kname}_cate")
      }
      // reference arg order: (value, cond, cate) — cate/udf.rs:79-123
      out += s"${kname}_cate_where" -> { args =>
        CateAgg(kind, CateOutputMode.SortedCsv, args(0), Some(args(1)), args(2), None,
          s"${kname}_cate_where")
      }
      // reference arg order: (value, cond, cate, n) — top/README.md
      out += s"top_n_key_${kname}_cate_where" -> { args =>
        CateAgg(kind, CateOutputMode.TopNKey, args(0), Some(args(1)), args(2), Some(args(3)),
          s"top_n_key_${kname}_cate_where")
      }
      out += s"top_n_value_${kname}_cate_where" -> { args =>
        CateAgg(kind, CateOutputMode.TopNValue, args(0), Some(args(1)), args(2), Some(args(3)),
          s"top_n_value_${kname}_cate_where")
      }
    }

    out += "top_n_key_ratio_cate" -> { args =>
      RatioCate(byValue = false, args(0), args(1), args(2), args(3))
    }
    out += "top_n_value_ratio_cate" -> { args =>
      RatioCate(byValue = true, args(0), args(1), args(2), args(3))
    }
    out.result()
  }

  /** Registers the family into `spark`'s session registry. Idempotent: a
    * name already bound to its builder here (an earlier call, or the
    * extensions path) is skipped, so repeated calls neither replace the
    * function nor log Spark's "replaced a previously registered function"
    * warning; a name bound to anything else is replaced. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!registry.lookupFunctionBuilder(FunctionIdentifier(name)).exists(_ eq b))
        registry.createOrReplaceTempFunction(name, b, "scala_udf")
    }
  }
}
