package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.vintage.VintageTable

/** One vintage table behind one of the two DML engines. Every call is
  * one closed-loop operation: it returns after the commit, or after the
  * read's rows are collected.
  */
sealed trait Surface {
  def spark: SparkSession
  /** `cow` (fluent copy-on-write) or `dv` (SQL with deletion vectors). */
  def layout: String
  /** Table root directory. */
  def dir: String
  /** The history operation name each stream message commits as. */
  def historyOp(kind: String): String
  def load(df: DataFrame): Unit
  def merge(df: DataFrame): Unit
  /** A merge whose source adds columns, which the table takes on. */
  def mergeEvolving(df: DataFrame): Unit
  def deleteSeries(cur: String): Unit
  def updateDecimals(cur: String, decimals: Int): Unit
  def replace(df: DataFrame): Unit
  /** (rows, checksum) of one series, at a version or the latest. */
  def series(cur: String, version: Option[Long]): (Long, Long)
  /** (version, operation) of every commit, oldest first. */
  def history(): Seq[(Long, String)]
  /** The table at a version, or the latest. */
  def rows(version: Option[Long]): DataFrame
  /** (rows, checksum) of the whole current table. */
  def table(): (Long, Long) = checksum(rows(None))

  protected def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(expr(SdmxRows.ChecksumSql)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }
}

/** The paper's layout: the fluent `VintageTable` / `VintageMergeBuilder`
  * API, copy-on-write.
  */
final class FluentCow(val spark: SparkSession, val dir: String) extends Surface {
  def layout = "cow"
  private def table0 = VintageTable.forPath(spark, dir)

  def historyOp(kind: String): String = kind match {
    case "load" | "replace" => "WRITE"
    case "delete" => "DELETE"
    case "update" => "UPDATE"
    case _ => "MERGE"
  }
  def load(df: DataFrame): Unit = VintageTable.create(spark, dir, df)
  def merge(df: DataFrame): Unit =
    table0.as("master").merge(df.as("submission"), "master.KEY = submission.KEY")
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
  def mergeEvolving(df: DataFrame): Unit = {
    val autoMerge = "spark.vintage.schema.autoMerge.enabled"
    spark.conf.set(autoMerge, "true")
    try merge(df) finally spark.conf.unset(autoMerge)
  }
  def deleteSeries(cur: String): Unit = table0.delete(col("CURRENCY") === cur)
  def updateDecimals(cur: String, decimals: Int): Unit =
    table0.update(col("CURRENCY") === cur, Map("DECIMALS" -> lit(decimals)))
  def replace(df: DataFrame): Unit = table0.overwrite(df)

  def series(cur: String, version: Option[Long]): (Long, Long) =
    checksum(rows(version).filter(col("CURRENCY") === cur))
  def rows(version: Option[Long]): DataFrame = {
    val t = table0
    version.fold(t.toDF)(t.toDFAsOf)
  }
  def history(): Seq[(Long, String)] =
    table0.history().select("version", "operation").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
}

/** The SQL surface: `VintageCatalog` with MERGE INTO, DELETE, UPDATE and
  * INSERT OVERWRITE served by `VintageRowLevel`, on a table created
  * with `vintage.deletionVectors.enabled=true`.
  */
final class SqlDv(val spark: SparkSession, catalog: String, name: String)
    extends Surface {
  def layout = "dv"
  private val ident = s"$catalog.$name"
  val dir: String = s"${spark.conf.get(s"spark.sql.catalog.$catalog.warehouse")}/$name"
  private val view = s"submission_$name"

  def historyOp(kind: String): String = kind match {
    case "load" => "CREATE TABLE AS SELECT"
    case "replace" => "WRITE"
    case "delete" => "DELETE"
    case "update" => "UPDATE"
    case _ => "MERGE"
  }
  private def sql(text: String): DataFrame = spark.sql(text)
  private def withSubmission[A](df: DataFrame)(f: => A): A = {
    df.createOrReplaceTempView(view)
    try f finally spark.catalog.dropTempView(view)
  }
  def load(df: DataFrame): Unit = withSubmission(df) {
    sql(s"CREATE TABLE $ident TBLPROPERTIES ('vintage.deletionVectors.enabled'='true') " +
      s"AS SELECT * FROM $view")
  }
  def merge(df: DataFrame): Unit = mergeSql(df, "MERGE INTO")
  def mergeEvolving(df: DataFrame): Unit = mergeSql(df, "MERGE WITH SCHEMA EVOLUTION INTO")
  private def mergeSql(df: DataFrame, verb: String): Unit = withSubmission(df) {
    sql(s"$verb $ident AS master USING $view AS submission " +
      "ON master.KEY = submission.KEY " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
  }
  def deleteSeries(cur: String): Unit =
    sql(s"DELETE FROM $ident WHERE CURRENCY = '$cur'")
  def updateDecimals(cur: String, decimals: Int): Unit =
    sql(s"UPDATE $ident SET DECIMALS = $decimals WHERE CURRENCY = '$cur'")
  def replace(df: DataFrame): Unit = withSubmission(df) {
    sql(s"INSERT OVERWRITE $ident SELECT * FROM $view")
  }

  def series(cur: String, version: Option[Long]): (Long, Long) = {
    val asOf = version.fold("")(v => s" VERSION AS OF $v")
    val r = sql(s"SELECT count(*), coalesce(sum(${SdmxRows.ChecksumSql}), 0) " +
      s"FROM $ident$asOf WHERE CURRENCY = '$cur'").head()
    (r.getLong(0), r.getLong(1))
  }
  def history(): Seq[(Long, String)] =
    sql(s"DESCRIBE HISTORY $ident").select("version", "operation").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
  def rows(version: Option[Long]): DataFrame =
    sql(s"SELECT * FROM $ident${version.fold("")(v => s" VERSION AS OF $v")}")
}
