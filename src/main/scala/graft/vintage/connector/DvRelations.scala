package graft.vintage.connector

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, Filter, PrunedFilteredScan}
import org.apache.spark.sql.types.StructType

import graft.vintage.{Snapshot, VintageTable}

/** The V1 `format("vintage")` read surface for snapshots that carry
  * deletion vectors.
  *
  * The DV subtraction is a broadcast anti-join above the parquet scan
  * ([[graft.vintage.DeletionVectors.applyTo]]) — a DataFrame plan, so
  * the relation delivers it through a row-producing fallback instead
  * of the bare file relation. (SQL-catalog scans apply DVs inside
  * [[VintageNativeScan]]'s tasks instead.) Filter pushdown still
  * prunes files (the predicate is applied inside the wrapped plan,
  * where stats-based skipping and parquet row-group pushdown see it);
  * Spark re-applies every filter above, so correctness never depends
  * on the pushdown. Tables without DVs never take this path, and
  * OPTIMIZE/compaction returns a DV table to the native scan.
  */
private[connector] object DvRelations {

  /** The DV-applied frame for a snapshot, filtered and pruned: the
    * pushed filters prune the FILE LIST through log-stats skipping
    * (partition predicates included) before the scan plan is built —
    * a predicate read of a DV table opens candidate files only, same
    * as the native columnar path — and are re-applied as row filters
    * (Spark re-checks them above regardless).
    */
  private def frame(spark: SparkSession, tablePath: String, snap: Snapshot,
      filters: Seq[Filter], columns: Seq[String]): DataFrame = {
    val t = VintageTable.forPath(spark, tablePath)
    val df = Filters.toColumnAll(filters) match {
      case Some(cond) =>
        t.dfForFiles(snap, t.candidateFiles(snap, cond)).filter(cond)
      case None => t.dfForSnapshot(snap)
    }
    df.select(columns.map(col): _*)
  }

  /** V1 relation for `spark.read.format("vintage")` reads. */
  def pruned(ctx: SQLContext, tablePath: String, snap: Snapshot): BaseRelation =
    new BaseRelation with PrunedFilteredScan {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = snap.schema
      // declare every filter unhandled so Spark re-applies them above
      // the scan; pushing them into the frame below is pure pruning
      override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters
      override def buildScan(
          requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] =
        frame(ctx.sparkSession, tablePath, snap,
          filters.toSeq.filter(f => Filters.toColumn(f).isDefined),
          requiredColumns.toSeq).rdd
    }
}
