package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bridge for DSv1 streaming sources: `getBatch` must return a
  * DataFrame whose logical plan is tagged `isStreaming = true`.
  */
object StreamingOps {
  /** Streaming-tagged frame over a batch DataFrame's rows (a native
    * scan of the batch's files, or a change-feed diff plan): the batch
    * plan's RDD is wrapped lazily via the private[sql]
    * `internalCreateDataFrame`, the same construction Spark sources use
    * for computed batches.
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
