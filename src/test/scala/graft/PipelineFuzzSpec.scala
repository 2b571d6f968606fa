package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.PipelineFuzz

/** A seeded slice of the pipeline-spec fuzzer ([[graft.tools.PipelineFuzz]])
  * on every test run: random Streaming documents value-compared against
  * Catalyst batch, and random Request documents whose live HTTP
  * point-in-time answers are compared with the brute-force as-of oracle.
  * The long soaks (PIPELINE_FUZZ_r17/r18.json) run the same documents at
  * larger n; a failure here replays from the printed (seedBase, i).
  */
class PipelineFuzzSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the documents register temp views and memory sinks by generated
    // names; keep them out of the suite's shared catalog
    s.newSession()
  }

  test("seeded Streaming documents match the same SQL on Catalyst batch") {
    val report = PipelineFuzz.run(spark, 12, 75000L)
    assert(report.shapes.values.sum == 12)
    assert(report.failures.isEmpty, report.failures.mkString("\n"))
  }

  test("seeded Request documents answer HTTP point-in-time lookups like the as-of oracle") {
    val report = PipelineFuzz.run(spark, 4, 74000L, "request")
    assert(report.shapes == Map("request" -> 4))
    assert(report.failures.isEmpty, report.failures.mkString("\n"))
  }
}
