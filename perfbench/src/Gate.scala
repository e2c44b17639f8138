package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.vintage.VintageTable

/** The paper's golden choreography on the seven golden-mode
  * submissions, asserted step by step (FIXTURES.md): counts
  * 504→508→762→asOf(0) 504→474→asOf(1) 508→477→477→318, the 8-row
  * history W,M,M,W,M,M,D,U and the OBS_COM schema evolution. Every
  * workload runs it on the DML path it times, so it is also the
  * warm-up of that path.
  */
object Gate {
  final class Mismatch(msg: String) extends RuntimeException(msg)

  private def expect[A](what: String, got: A, want: A): Unit =
    if (got != want) throw new Mismatch(s"golden gate: $what is $got, expected $want")

  def frame(spark: SparkSession, rows: Seq[Row], evolved: Boolean = false,
            partitions: Int = 1): DataFrame =
    graft.sdmx.Sdmx.withKey(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, partitions),
      if (evolved) graft.sdmx.Sdmx.schemaEvolved else graft.sdmx.Sdmx.schema))

  /** Runs the choreography on an empty table behind `s`. Version 0 is
    * written with `VintageTable.create`, the paper's initial overwrite
    * (history op WRITE), with the surface's table properties.
    */
  def run(s: Surface, seed: Long): Unit = {
    val spark = s.spark
    val sub = Golden.submissions(seed)
    def data(i: Int) = frame(spark, sub(i), evolved = i == 6)
    def count(v: Option[Long]) = s.rows(v).count()
    val mar = col("TIME_PERIOD") === "2020-03"
    def march(v: Option[Long]): Map[String, (Double, String)] =
      s.rows(v).filter(mar).select("CURRENCY", "OBS_VALUE", "OBS_STATUS").collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getString(2))).toMap

    val props = s match {
      case _: SqlDv => Map(graft.vintage.DeletionVectors.EnabledProp -> "true")
      case _: FluentCow => Map.empty[String, String]
    }
    VintageTable.create(spark, s.dir, data(0), properties = props)
    expect("v0 count", count(None), 504L)
    s.merge(data(1))
    expect("v1 count", count(None), 508L)
    s.merge(data(2))
    expect("v2 count", count(None), 762L)
    expect("asOf(0) count", count(Some(0)), 504L)
    s.replace(data(3))
    expect("v3 count", count(None), 474L)
    expect("asOf(1) count", count(Some(1)), 508L)
    s.merge(data(4))
    expect("v4 count", count(None), 477L)
    val forecast = march(None)
    expect("v4 2020-03 statuses", forecast.values.map(_._2).toSeq, Seq("F", "F", "F"))
    s.merge(data(5))
    expect("v5 count", count(None), 477L)
    val fin = march(None)
    expect("v5 2020-03 statuses", fin.values.map(_._2).toSeq, Seq("A", "A", "A"))
    expect("v5 changed currencies",
      fin.keySet.filter(c => fin(c)._1 != forecast(c)._1), Set("CHF", "RUB"))
    s.deleteSeries("RUB")
    expect("v6 count", count(None), 318L)
    s.updateDecimals("CHF", 5)
    val decimals = s.rows(None).groupBy("CURRENCY")
      .agg(min("DECIMALS"), max("DECIMALS")).collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    expect("v7 DECIMALS", decimals, Map("CHF" -> (5, 5), "NOK" -> (4, 4)))
    expect("history", s.history().map(_._2), Seq("WRITE", "MERGE", "MERGE",
      "WRITE", "MERGE", "MERGE", "DELETE", "UPDATE"))

    s.mergeEvolving(data(6))
    val v8 = s.rows(None)
    val comments = v8.filter(col("OBS_COM").isNotNull)
      .select("KEY", "OBS_COM").collect().map(r => r.getString(0) -> r.getString(1))
    expect("v8 count", v8.count(), 318L)
    expect("v8 OBS_COM", comments.toSeq,
      Seq("M:CHF:EUR:SP00:A:2020-03" -> "Improved precision"))
    expect("asOf(7) has OBS_COM", s.rows(Some(7)).columns.contains("OBS_COM"), false)
  }
}
