package graft.vintage.connector

import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{StagedTable, SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, Write, WriteBuilder}
import org.apache.spark.sql.graftshim.{VintageCollectWrite, VintageWrite}
import org.apache.spark.sql.types.StructType

import graft.vintage.{AddFile, VintageLog, VintageTable}

/** The staged side of `[CREATE OR] REPLACE TABLE [AS SELECT]`
  * (Delta's semantics): Spark writes the query result THROUGH this
  * table first — executors stream rows into final parquet files in the
  * table directory via the shared native write path, invisible because
  * no log entry references them — then calls [[commitStagedChanges]],
  * which publishes everything in ONE atomic commit:
  *
  *  - table absent  → log version 0 (atomic CTAS: a failed query
  *    leaves no half-created table, unlike the create-then-insert
  *    fallback);
  *  - table present → a REPLACE TABLE commit swapping schema,
  *    properties, partitioning, and the file set, with HISTORY
  *    RETAINED — time travel and RESTORE still reach pre-replace
  *    versions (the non-atomic drop-and-recreate fallback Spark uses
  *    without a staging catalog would destroy the log).
  *
  * A plain REPLACE TABLE (no AS SELECT) commits with zero files.
  */
class VintageStagedTable(
    spark: SparkSession, path: String, tableName: String,
    tableSchema: StructType, partCols: Seq[String],
    tableProperties: Map[String, String],
    allowCreate: Boolean, allowReplace: Boolean)
    extends StagedTable with SupportsWrite {

  private val staged = mutable.ArrayBuffer[AddFile]()

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] =
    partCols.map(c => Expressions.identity(c): Transform).toArray
  override def properties(): util.Map[String, String] = tableProperties.asJava
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // the staged table is empty by definition — truncation is the
      // replace itself, performed at commitStagedChanges
      override def truncate(): WriteBuilder = this
      // the data files and the (create or replace) log entry appear
      // as one atomic unit: the write only collects the AddFiles
      override def build(): Write = new VintageCollectWrite(
        new VintageWrite(path, tableSchema, partCols, overwrite = false,
          tableProperties, info.queryId()), staged ++= _)
    }

  override def commitStagedChanges(): Unit = {
    if (VintageLog.exists(path)) {
      if (!allowReplace)
        throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
          Seq(tableName))
      VintageTable.forPath(spark, path)
        .replaceWith(tableSchema, tableProperties, partCols, staged.toSeq)
    } else {
      require(allowCreate, s"REPLACE TABLE target does not exist: $tableName")
      VintageTable.createWithFiles(spark, path, tableSchema,
        tableProperties, partCols, staged.toSeq): Unit
    }
  }

  override def abortStagedChanges(): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    staged.foreach { a =>
      val p = new HPath(path, a.path)
      try p.getFileSystem(conf).delete(p, false)
      catch { case _: java.io.IOException => () }
    }
  }
}
