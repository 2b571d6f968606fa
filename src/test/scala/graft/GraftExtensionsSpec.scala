package graft

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** The `spark.sql.extensions=graft.GraftExtensions` deployment path: a
  * session built from that config alone (no GraftSession bootstrap)
  * must expose the whole SQL function family. Extensions apply at
  * SparkSession CONSTRUCTION, so the spec clears the default/active
  * sessions to force a fresh one over the shared SparkContext, and
  * restores them after. The programmatic path, `GraftFunctions.register`,
  * must be idempotent per session.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  /** Log messages emitted (on any logger) while `body` runs. */
  private def messagesDuring(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    val capture = new AbstractAppender("graft-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        seen.add(e.getMessage.getFormattedMessage); ()
      }
    }
    capture.start()
    root.addAppender(capture)
    try body
    finally { root.removeAppender(capture); capture.stop() }
    seen.asScala.toSeq
  }

  test("a second register on one session replaces nothing and every function resolves") {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate().newSession()
    GraftFunctions.register(s)
    val replaced = messagesDuring(GraftFunctions.register(s))
      .filter(_.contains("replaced a previously registered function"))
    assert(replaced.isEmpty, s"re-registration replaced ${replaced.size} functions: " +
      replaced.take(3).mkString("; "))
    val registry = s.sessionState.functionRegistry
    GraftFunctions.builders.foreach { case (name, b) =>
      assert(registry.lookupFunctionBuilder(FunctionIdentifier(name)).exists(_ eq b),
        s"$name is not bound to its builder")
    }
    val r = s.sql(
      """SELECT sum_where(x, x > 1), graft_median(x), count_cate(x, c)
         FROM VALUES (1L, 'a'), (2L, 'b'), (3L, 'a') AS t(x, c)""").head()
    assert(r.getLong(0) == 5L)
    assert(r.get(1).toString.toDouble == 2.0)
    assert(!r.isNullAt(2))
  }

  test("a session configured with the extensions class gets the function family") {
    val savedDefault = SparkSession.getDefaultSession
    val savedActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val base = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
    // `spark.sql.extensions` is a STATIC conf read from the
    // SparkContext at session construction: it takes effect when THIS
    // spec owns context creation (standalone run — the real
    // spark-submit shape), but in a shared-JVM full suite an earlier
    // spec's context already exists without it, so the conf is silently
    // ignored. Exercise the same GraftExtensions injection through
    // whichever route the environment allows — config when we created
    // the context, withExtensions against a pre-existing one.
    val s =
      if (org.apache.spark.SparkEnv.get == null) // no live SparkContext
        base.config("spark.sql.extensions", "graft.GraftExtensions").getOrCreate()
      else
        base.withExtensions(new GraftExtensions).getOrCreate()
    try {
      // a rewritten-to-native aggregate, a TypedImperativeAggregate, and
      // a codegen'd scalar kernel — one of each registration kind
      val r = s.sql(
        """SELECT sum_where(x, x > 1) AS sw,
                  top(x, 2) AS t2,
                  dot_long(array(1L, 2L), array(3L, 4L)) AS d
           FROM VALUES (1L), (2L), (3L) AS t(x)""").head()
      assert(r.getLong(0) == 5L)
      assert(r.getString(1) == "3,2") // top emits the reference's CSV form
      assert(r.getLong(2) == 11L)
      // ...and an OVER-window use of the family (the registry registers
      // them window-capable, same as GraftSession's path)
      val w = s.sql(
        """SELECT x, count_where(x, x > 1) OVER (ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
           FROM VALUES (1L), (2L), (3L) AS t(x) ORDER BY x""").collect()
      assert(w.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      savedDefault.foreach(SparkSession.setDefaultSession)
      savedActive.foreach(SparkSession.setActiveSession)
    }
  }
}
