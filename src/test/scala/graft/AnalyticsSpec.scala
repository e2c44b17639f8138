package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The one session of the forked test JVM; every suite uses it. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession("graft-test", Some("local[8]"),
    Map("spark.sql.shuffle.partitions" -> 8))
}

/** Smoke + shape tests for the analytics query suite; exact-value
  * verification is the driver's DuckDB oracle (scripts/check_oracle.py
  * replicates it locally).
  */
class AnalyticsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("every registered query runs and returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0, s"$name failed")
      info(s"$name -> $n rows")
    }
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracleSql without query impl: $extra")
  }

  test("q1 pricing summary has expected shape") {
    val df = queries.Analytics.q1PricingSummary(spark, sf)
    assert(df.columns.toSeq == Seq("l_returnflag", "l_linestatus", "sum_qty_c",
      "sum_base_price_c", "sum_disc_price_e4", "sum_charge_e6", "avg_qty_e6",
      "avg_price_e6", "avg_disc_e6", "count_order"))
    assert(df.count() > 0)
  }
}
