package graft.tools

import java.io.ByteArrayOutputStream

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Every mode of the query CLI, driven through `Query.run` in the shared
  * test session.
  */
class QueryToolSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def out(args: String*): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(Query.run(spark, args.toArray))
    buf.toString("UTF-8")
  }

  test("time prints one line per run") {
    val o = out("time", "q1_pricing_summary", sf, "2")
    assert(o.contains("run1:") && o.contains("run2:") && !o.contains("run3:"), o)
  }

  test("explain prints the plan; audit prints the plan summary") {
    assert(out("explain", "q1_pricing_summary", sf).contains("== Physical Plan =="))
    assert(out("audit", "q1_pricing_summary", sf)
      .contains("AUDIT q1_pricing_summary exchanges="))
  }

  test("jobs prints the job timeline of the warm run") {
    val o = out("jobs", "q1_pricing_summary", sf)
    assert(o.contains("== q1_pricing_summary warm=") && o.contains("job_time_sum="), o)
    // AQE and broadcast jobs are labelled by their SQL execution, not
    // by the pool thread's call site
    assert(!o.contains("CompletableFuture"), o)
  }

  test("stream prints the micro-batches of the warm run") {
    val o = out("stream", "q52_stream_dedup", sf)
    val batchRows = o.linesIterator.count(_.matches("""\s*\d+\s+\d+\s+-?\d+.*stateRowsUpdated=.*"""))
    assert(batchRows >= 1, o)
    assert(o.contains("sum(triggerExecution)="), o)
  }

  test("an unknown name fails listing the known ones; the session stays usable") {
    val e = intercept[IllegalArgumentException](out("time", "q1_pricing_summary,q_nope", sf))
    assert(e.getMessage.contains("q_nope") && e.getMessage.contains("known:") &&
      e.getMessage.contains("q52_stream_dedup"), e.getMessage)
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() == 3)
  }
}
