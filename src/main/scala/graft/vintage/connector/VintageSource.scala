package graft.vintage.connector

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
import org.apache.spark.sql.execution.streaming.{Sink => StreamSink, Source => StreamSource}
import org.apache.spark.sql.graftshim.VintageRelation
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider, TableScan}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.vintage.{VintageLog, VintageTable}

/** The `vintage` data source — the reference's primary user surface
  * re-expressed for our engine (README.md:92,98,169 uses
  * `spark.read.format("delta").load`, `option("versionAsOf", 0)`,
  * `df.write.format("delta").mode("overwrite").save`):
  *
  * {{{
  * df.write.format("vintage").mode("overwrite").save(path)
  * spark.read.format("vintage").load(path)
  * spark.read.format("vintage").option("versionAsOf", 0).load(path)
  * spark.read.format("vintage").option("timestampAsOf", ts).load(path)
  * df.write.format("vintage").mode("overwrite")
  *   .option("dataChange", "false").save(path)   // compaction
  * }}}
  *
  * Reads resolve the transaction log to a version-pinned file list and
  * execute through Spark's native vectorized parquet path (see
  * [[org.apache.spark.sql.graftshim.VintageRelation]]); writes commit
  * through [[VintageTable]] so every save is an atomic log commit.
  */
class VintageSource extends DataSourceRegister
    with RelationProvider with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider {

  override def shortName(): String = "vintage"

  /** `stream.writeStream.format("vintage").option("path", p)` — one
    * atomic log commit per micro-batch (append mode appends, complete
    * mode overwrites retaining history; Update mode is REJECTED — its
    * per-key updated rows would silently accumulate as appends).
    * EXACTLY-ONCE across restarts: every batch commits with the
    * transaction watermark (appId, batchId), where appId defaults to
    * the PERSISTENT streaming query id (stored in the checkpoint:
    * stable across restarts of the same query, and a NEW id when the
    * checkpoint is wiped — so restarted-from-scratch batchIds can
    * never be mistaken for replays and dropped) and can be pinned
    * explicitly with `option("txnAppId", …)`; a replayed batch is
    * recognized in the log and skipped.
    */
  override def createSink(
      sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): StreamSink = {
    val path = pathOf(parameters)
    require(outputMode == OutputMode.Append() ||
            outputMode == OutputMode.Complete(),
      s"vintage sink supports Append and Complete output modes, got " +
      s"$outputMode (Update would append stale versions of updated rows)")
    val complete = outputMode == OutputMode.Complete()
    new StreamSink {
      override def addBatch(batchId: Long, data0: DataFrame): Unit = {
        // strip the streaming lineage so the table layer can re-plan
        val data = org.apache.spark.sql.graftshim.StreamingShim.asBatch(data0)
        val spark = data.sparkSession
        // the persistent query id is set as a local property by the
        // stream execution thread that calls addBatch. NO path-keyed
        // fallback: two queries writing the same path would share one
        // watermark and silently skip each other's batches — if the
        // property fails to surface, fail LOUD and ask for an explicit
        // txnAppId instead of degrading to dropped data
        val appId = parameters.get("txnAppId")
          .orElse(Option(spark.sparkContext
            .getLocalProperty("sql.streaming.queryId"))
            .map(q => s"vintage-sink:$q"))
          .getOrElse(throw new IllegalStateException(
            "vintage sink could not determine the streaming query id " +
            "(local property 'sql.streaming.queryId' absent); pass " +
            "option(\"txnAppId\", ...) to pin the exactly-once " +
            "watermark explicitly"))
        if (VintageTable.isVintageTable(path)) {
          val t = VintageTable.forPath(spark, path)
          // upgrade bridge: batches committed before the appId moved
          // from checkpoint-location to persistent query id rode
          // 'vintage-sink:<checkpointLocation>'. A checkpoint-resumed
          // stream can only replay its LAST committed epoch, so honor
          // the legacy watermark for exactly that batchId, and only
          // until the new appId has recorded anything — a WIPED
          // checkpoint restarts batchIds from 0 under a new query id,
          // and a broad >= check would silently swallow the reprocess
          // the wipe asked for
          val legacyDone = t.txnVersion(appId).isEmpty &&
            parameters.get("checkpointLocation").exists(cp =>
              t.txnVersion(s"vintage-sink:$cp").contains(batchId))
          if (legacyDone) return
          if (complete)
            t.overwrite(data, dataChange = true, Some((appId, batchId)))
          else t.append(data, Some((appId, batchId)),
            mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean))
        } else if (complete || !data.isEmpty)
          VintageTable.create(spark, path, data,
            partitionBy = partitionColumns, txn = Some((appId, batchId))): Unit
      }
      override def toString: String = s"VintageSink[$path]"
    }
  }

  /** `spark.readStream.format("vintage").load(path)` — incremental
    * table-as-a-stream reads; see [[VintageStreamSource]].
    */
  override def sourceSchema(
      sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val abs = pathOf(parameters)
    require(VintageLog.exists(abs), s"not a vintage table: $abs")
    val base = schema.getOrElse(VintageLog.replay(abs).schema)
    // streaming CDF rows carry the two change columns
    val withCdf =
      if (!parameters.get("readChangeFeed").exists(_.toBoolean)) base
      else StructType(base.fields ++ Seq(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.LongType)))
    (shortName(), withCdf)
  }

  override def createSource(
      sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): StreamSource =
    new VintageStreamSource(sqlContext.sparkSession, pathOf(parameters), parameters)

  override def createRelation(
      sqlContext: SQLContext, parameters: Map[String, String]): BaseRelation = {
    val abs = pathOf(parameters)
    require(VintageLog.exists(abs), s"not a vintage table: $abs")
    // change-data-feed read (Delta's option surface):
    //   spark.read.format("vintage").option("readChangeFeed", "true")
    //     .option("startingVersion", 1).option("endingVersion", 5).load(p)
    // startingVersion is INCLUSIVE and defaults to 0 (the creating
    // write reports as inserts); endingVersion defaults to latest.
    if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
      val starting = parameters.get("startingVersion").map(_.toLong).getOrElse(0L)
      val ending = parameters.get("endingVersion").map(_.toLong).getOrElse(-1L)
      val df = VintageTable.forPath(sqlContext.sparkSession, abs)
        .changes(starting - 1L, ending)
      val ctx = sqlContext
      return new BaseRelation with TableScan {
        override def sqlContext: SQLContext = ctx
        override def schema: StructType = df.schema
        override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
          df.rdd
      }
    }
    val snap = (parameters.get("versionAsOf"), parameters.get("timestampAsOf")) match {
      case (Some(_), Some(_)) =>
        throw new IllegalArgumentException(
          "specify either versionAsOf or timestampAsOf, not both")
      case (Some(v), None) => VintageLog.replay(abs, Some(v.toLong))
      case (None, Some(ts)) =>
        VintageLog.replay(abs, Some(VintageLog.versionAtTimestamp(abs, parseTs(ts))))
      case (None, None) => VintageLog.replay(abs)
    }
    // merge-on-read: a snapshot with deletion vectors reads through the
    // native scan, which drops deleted positions (file pruning via the
    // pushed filters, residual re-check by Spark).
    // Compaction/OPTIMIZE purges DVs and restores the plain relation.
    if (graft.vintage.DeletionVectors.mayHave(snap))
      return DvRelations.pruned(sqlContext, abs, snap)
    VintageRelation(sqlContext.sparkSession, abs, snap)
  }

  override def createRelation(
      sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], df: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val abs = pathOf(parameters)
    val dataChange = parameters.get("dataChange").forall(_.toBoolean)
    // `.option("partitionBy", "a,b")` — partition columns for table
    // creation (an existing table keeps its own partitioning)
    val partCols = parameters.get("partitionBy")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val exists = VintageTable.isVintageTable(abs)
    // `.option("txnAppId", id).option("txnVersion", n)` — idempotent
    // writes (Delta's option pair): a (appId, version) already recorded
    // in the log makes this save a no-op
    val txn = (parameters.get("txnAppId"), parameters.get("txnVersion")) match {
      case (Some(a), Some(v)) => Some((a, v.toLong))
      case (None, None)       => None
      case _ => throw new IllegalArgumentException(
        "txnAppId and txnVersion must be set together")
    }
    def createNew() =
      VintageTable.create(spark, abs, df, Map.empty, partCols, txn)
    mode match {
      case SaveMode.Overwrite =>
        if (!exists) createNew()
        else VintageTable.forPath(spark, abs).overwrite(df, dataChange, txn)
      case SaveMode.Append =>
        if (!exists) createNew()
        else VintageTable.forPath(spark, abs).append(df, txn,
          parameters.get("mergeSchema").exists(_.toBoolean))
      case SaveMode.ErrorIfExists =>
        if (exists)
          throw new IllegalArgumentException(s"vintage table already exists: $abs")
        createNew()
      case SaveMode.Ignore =>
        if (!exists) { createNew(); () }
    }
    createRelation(sqlContext,
      parameters - "versionAsOf" - "timestampAsOf" - "dataChange" - "partitionBy")
  }

  private def pathOf(parameters: Map[String, String]): String =
    VintageTable.absolutize(parameters.getOrElse("path",
      throw new IllegalArgumentException("'path' is required for format(\"vintage\")")))

  private def parseTs(s: String): Long = VintageSource.parseTs(s)
}

object VintageSource {
  /** Epoch millis, or an ISO/SQL timestamp string — the one timestamp
    * grammar every `timestampAsOf`-shaped surface shares (connector
    * option, streaming `startingTimestamp`, SQL RESTORE).
    */
  private[connector] def parseTs(s: String): Long =
    try s.toLong
    catch {
      case _: NumberFormatException =>
        try java.sql.Timestamp.valueOf(s).getTime
        catch {
          case _: IllegalArgumentException => java.time.Instant.parse(s).toEpochMilli
        }
    }
}
