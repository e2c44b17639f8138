package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** V1 `Sink.addBatch` hands the sink a DataFrame whose logical plan
  * still carries the streaming source, so any re-planning write (our
  * table layer's `df.write`-based file writer) is rejected by the
  * analyzer. The standard sink pattern (Delta's `DeltaSink` does the
  * same) is to re-wrap the micro-batch's physical RDD as a BATCH
  * DataFrame: same rows, same schema, no streaming lineage.
  */
object StreamingShim {
  def asBatch(df: DataFrame): DataFrame = {
    val classic = castToImpl(df)
    classic.sparkSession.internalCreateDataFrame(
      classic.queryExecution.toRdd, classic.schema, isStreaming = false)
  }

  /** Unload every state-store provider loaded in this JVM. A provider
    * outlives its stopped query until the next maintenance run, which
    * works on the query's checkpoint dir; call this between stopping a
    * query and deleting that dir, with no other stateful query running.
    */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()
}
