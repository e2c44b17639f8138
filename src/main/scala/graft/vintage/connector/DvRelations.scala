package graft.vintage.connector

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, Filter, PrunedFilteredScan}
import org.apache.spark.sql.types.StructType

import graft.vintage.{Snapshot, VintageTable}

/** The V1 `format("vintage")` read surface for snapshots that carry
  * deletion vectors.
  *
  * DVs are subtracted in one place, [[VintageNativeScan]], whose V2
  * plan a `RelationProvider` cannot return: the relation hands Spark
  * the native frame's rows through `.rdd` instead of the bare file
  * relation. The pushed filters are applied on that frame, so they
  * push into the native scan, which opens only their stats-pruned
  * candidate files; Spark re-applies every filter above, so
  * correctness never depends on the pushdown. Tables without DVs never
  * take this path, and OPTIMIZE/compaction returns a DV table to the
  * plain relation.
  */
private[connector] object DvRelations {

  /** V1 relation for `spark.read.format("vintage")` reads. */
  def pruned(ctx: SQLContext, tablePath: String, snap: Snapshot): BaseRelation =
    new BaseRelation with PrunedFilteredScan {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = snap.schema
      // declare every filter unhandled so Spark re-applies them above
      // the scan; pushing them into the frame below is pure pruning
      override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters
      override def buildScan(
          requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
        val df = VintageTable.forPath(ctx.sparkSession, tablePath).nativeFrame(snap)
        Filters.toColumnAll(filters.toSeq.filter(f => Filters.toColumn(f).isDefined))
          .fold(df)(df.filter)
          .select(requiredColumns.toSeq.map(col): _*).rdd
      }
    }
}
