package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation

/** Bridge for DSv1 streaming sources: `getBatch` must return a
  * DataFrame whose logical plan is tagged `isStreaming = true` (the
  * same construction Spark's own FileStreamSource uses), which requires
  * the private[sql] `LogicalRelation` factory.
  */
object StreamingOps {
  def ofRowsStreaming(spark: SparkSession, relation: BaseRelation): DataFrame =
    DatasetOps.ofRows(spark, LogicalRelation(relation, isStreaming = true))

  /** Streaming-tagged frame over an arbitrary batch DataFrame's rows
    * (the change-feed batches are diff plans — unions + exceptAll —
    * not relations): the batch plan's RDD is wrapped lazily via the
    * private[sql] `internalCreateDataFrame`, the same construction
    * Spark sources use for computed batches.
    */
  def ofComputedStreaming(spark: SparkSession, df: DataFrame): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
        isStreaming = true)

  /** Block until the listener bus has delivered every posted event —
    * streaming progress events included — to its listeners.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
