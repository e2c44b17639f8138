package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to `Dataset.ofRows` (private[sql]): a DataFrame over a
  * logical plan the vintage engine builds itself — the native scan
  * relation of internal reads and streaming batches, and the
  * `AppendData` of a fluent write, which runs as the frame is built.
  */
object DatasetOps {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
