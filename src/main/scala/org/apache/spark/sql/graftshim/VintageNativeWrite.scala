package org.apache.spark.sql.graftshim

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BindReferences, BoundReference, Cast, Coalesce, Expression, Literal, Predicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.connector.{distributions, expressions}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.vintage.{AddFile, ColumnMapping, ParquetStats, PartitionPaths, VintageTable}

/** The writer of every vintage table data file, the write-side twin of
  * [[VintageNativeScan]]: SQL INSERT and INSERT OVERWRITE, CTAS/RTAS
  * staging, the inserts of the row-level DELETE/UPDATE/MERGE, streaming
  * `toTable`, and every fluent write
  * ([[graft.vintage.VintageTable.writeFiles]]: create, append,
  * overwrite, copy-on-write DML, compaction). Executors stream
  * `InternalRow`s straight into final parquet files via Spark's own
  * parquet `OutputWriter` (same encoder the scan reads back
  * vectorized), and each task reports its `AddFile`s — footer stats
  * included — in its commit message. The driver folds them into ONE
  * optimistic log commit, or, through [[VintageCollectWrite]], hands
  * them to a caller that commits them itself. One task wave, no
  * staging directory, no rename.
  *
  * Hive-partitioned tables write dynamically: each task routes rows to
  * per-partition-value open writers (no clustering shuffle is forced —
  * at 100 TB an imposed shuffle-by-partition-value would both add a
  * full exchange and concentrate hot partitions onto single tasks; the
  * trade is bounded open-writer memory per task, the same default
  * Spark's own dynamic-partition insert makes).
  */
class VintageWrite(
    tablePath: String, tableSchema: StructType,
    partitionCols: Seq[String], overwrite: Boolean,
    tableProperties: Map[String, String],
    queryId: String = "") extends Write
    with RequiresDistributionAndOrdering {

  private val bucketing = graft.vintage.Bucketing.spec(tableProperties)

  // Partitioned writes request a LOCAL sort by the partition columns
  // (no distribution → no shuffle): each task then sees its partition
  // values as contiguous runs, so the dynamic writer holds ONE open
  // file at a time instead of cycling through the LRU cap — the same
  // reason Spark's own dynamic-partition insert sorts by partition
  // expressions. The LRU cap in VintageDataWriter stays as a backstop
  // for unsorted paths.
  //
  // BUCKETED tables instead require a clustered distribution on the
  // bucket columns with exactly `numBuckets` partitions: Spark plans
  // the same HashPartitioning the bucketed-scan side assumes, so the
  // write task's partition index IS the bucket id the task writer
  // stamps into its file names.
  override def requiredDistribution(): distributions.Distribution =
    bucketing match {
      case Some((cols, _)) => distributions.Distributions.clustered(
        cols.map(c => expressions.Expressions.identity(c): expressions.Expression)
          .toArray)
      case None => distributions.Distributions.unspecified()
    }
  override def requiredNumPartitions(): Int =
    bucketing.map(_._2).getOrElse(0)
  override def requiredOrdering(): Array[expressions.SortOrder] =
    (partitionCols ++
      graft.vintage.Bucketing.sortCols(tableProperties)).map { c =>
      expressions.Expressions.sort(
        expressions.Expressions.identity(c),
        expressions.SortDirection.ASCENDING)
    }.toArray

  override def toBatch: VintageBatchWrite = prepared

  /** Native streaming sink: identical executor write path (one task
    * wave straight into final parquet files, footer stats in commit
    * messages), one log commit per epoch. Exactly-once across
    * restarts: each epoch commits with the transaction watermark
    * (`vintage-streaming-<queryId>`, epochId) — Spark's streaming
    * queryId is the persistent id from the checkpoint, so a replayed
    * epoch after a crash-between-commit-and-checkpoint is recognized
    * in the log, its freshly written duplicate files are deleted, and
    * nothing commits twice (the Delta sink's txnVersion contract,
    * native).
    */
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    // streaming epochs do not honor a write distribution requirement,
    // so a streamed micro-batch cannot be bucket-aligned — refuse
    // rather than corrupt the layout
    require(bucketing.isEmpty,
      s"bucketed vintage table $tablePath: the streaming sink cannot " +
      "produce bucket-aligned files; stream into an unbucketed table")
    new VintageStreamingWrite(prepared, queryId)
  }

  private lazy val prepared: VintageBatchWrite = {
    val spark = SparkSession.active
    val dataSchema = StructType(tableSchema.filterNot(f =>
      partitionCols.exists(_.equalsIgnoreCase(f.name))))
    // column mapping: projections, constraints, and partition-ordinal
    // lookups all speak LOGICAL names; only what touches the files —
    // the parquet writer schema, footer stat keys, bloom options, and
    // hive directory names — is renamed to the PHYSICAL names
    val physDataSchema = ColumnMapping.physicalSchema(dataSchema)
    val physPartitionCols = partitionCols.map(ColumnMapping.toPhysical(tableSchema, _))
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    // partition directory names cast values to strings in this zone
    job.getConfiguration.set(SQLConf.SESSION_LOCAL_TIMEZONE.key,
      spark.sessionState.conf.sessionLocalTimeZone)
    // `vintage.bloom.columns` table property: write parquet bloom
    // filters for the listed columns — at 100 TB min/max stats cannot
    // prune point lookups on high-cardinality unsorted keys, but the
    // parquet reader's row-group bloom check can (applied automatically
    // under pushed equality filters)
    graft.vintage.VintageTable.bloomColumns(tableProperties)
      .foreach(c => job.getConfiguration.set(
        s"parquet.bloom.filter.enabled#${ColumnMapping.toPhysical(tableSchema, c)}", "true"))
    val factory = ParquetUtils.prepareWrite(
      spark.sessionState.conf, job, physDataSchema,
      new ParquetOptions(Map.empty[String, String], spark.sessionState.conf))
    // CHECK constraints: resolve each predicate against the table
    // schema ONCE here (analyzer pass over an empty frame), wrap for
    // SQL null semantics (NULL passes), bind to row ordinals, and ship
    // the bound expression to tasks — each task compiles it to a
    // codegen'd Predicate and checks rows inline as they stream into
    // parquet. No second pass, no driver involvement per row.
    val constraints: Seq[(String, String, Expression)] =
      graft.vintage.Constraints.fromProperties(tableProperties)
        .toSeq.sortBy(_._1).map { case (name, sql) =>
          val empty = spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), tableSchema)
          val analyzed = empty.filter(
            org.apache.spark.sql.functions.expr(sql)).queryExecution.analyzed
          val (cond, out) = analyzed match {
            case f: Filter => (f.condition, f.child.output)
            case other => throw new IllegalStateException(
              s"unexpected plan for constraint $name: $other")
          }
          (name, sql, BindReferences.bindReference(
            Coalesce(Seq(cond, Literal(true))), out))
        }
    // identity columns: every NULL slot (a fluent write's missing
    // column, an INSERT/MERGE clause that omitted it) is filled by the
    // task writer from one step past the mark these properties hold
    // (see graft.vintage.IdentityColumns); the commit moves the mark
    // past the filled values
    val idFills: Seq[(String, Int, Option[Long], Long)] =
      graft.vintage.IdentityColumns.specs(tableProperties).toSeq.flatMap {
        case (c, spec) =>
          val ord = tableSchema.fields.indexWhere(_.name.equalsIgnoreCase(c))
          if (ord < 0) None
          else Some((c, ord, spec.nextBase(
            graft.vintage.IdentityColumns.hwm(tableProperties, c)), spec.step))
      }
    // log-level per-file bloom stats for the same columns (PHYSICAL
    // names — stats are keyed physical in the log, remapped to logical
    // on read like min/max)
    val logBloomCols = graft.vintage.VintageTable.bloomColumns(tableProperties)
      .map(c => ColumnMapping.toPhysical(tableSchema, c))
    val logBloomBits = tableProperties.getOrElse("vintage.bloom.bits",
      graft.vintage.StatsBloom.DefaultBits.toString).toInt
    new VintageBatchWrite(tablePath, tableSchema.json, dataSchema.json,
      physDataSchema.json, partitionCols, physPartitionCols, overwrite, factory,
      new SerializableConfiguration(job.getConfiguration), constraints, idFills,
      logBloomCols, logBloomBits, bucketed = bucketing.isDefined)
  }
}

// public: the native row-level delta write (graft.vintage.connector)
// unwraps these from its wrapped insert writer's commits. `idFilled`
// reports that the task ALLOCATED identity values for NULL slots (see
// VintageBatchWrite.idBases)
case class VintageCommitMessage(adds: Seq[AddFile], idFilled: Boolean = false)
    extends WriterCommitMessage

object VintageCommitMessage {
  /** Every `AddFile` the tasks reported. */
  def adds(messages: Seq[WriterCommitMessage]): Seq[AddFile] =
    messages.flatMap {
      case VintageCommitMessage(a, _) => a
      case _ => Nil
    }
}

/** Per-epoch streaming commit over the shared native write machinery;
  * see [[VintageWrite.toStreaming]] for the idempotence contract.
  */
class VintageStreamingWrite(delegate: VintageBatchWrite, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new VintageStreamingWriterFactory(delegate.createBatchWriterFactory(info))

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    delegate.commit(messages, Some((s"vintage-streaming-$queryId", epochId)))

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    delegate.abort(messages)
}

case class VintageStreamingWriterFactory(delegate: DataWriterFactory)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    delegate.createWriter(partitionId, taskId)
}

/** A [[VintageWrite]] whose batch commit hands the task-reported
  * `AddFile`s and the write's identity bases
  * ([[VintageBatchWrite.idBases]]) to `collect` instead of committing
  * them: CTAS/RTAS staging publishes them at `commitStagedChanges`,
  * fluent writes in their own log commit. Distribution, partition count
  * and ordering are the inner write's, so bucket layout and sort order
  * hold.
  */
class VintageCollectWrite(inner: VintageWrite,
    collect: (Seq[AddFile], Map[String, Long]) => Unit)
    extends Write with RequiresDistributionAndOrdering {
  override def requiredDistribution(): distributions.Distribution =
    inner.requiredDistribution()
  override def requiredNumPartitions(): Int = inner.requiredNumPartitions()
  override def requiredOrdering(): Array[expressions.SortOrder] =
    inner.requiredOrdering()
  override def toBatch: BatchWrite = new BatchWrite {
    private val delegate = inner.toBatch
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      delegate.createBatchWriterFactory(info)
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      collect(VintageCommitMessage.adds(messages.toSeq), delegate.idBases(messages.toSeq))
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      delegate.abort(messages)
  }
}

/** The write-only table a fluent write plans Spark's `AppendData`
  * against ([[graft.vintage.VintageTable.writeFiles]]): its write is a
  * [[VintageCollectWrite]] into the table directory. The caller
  * resolves the frame by name against `writeSchema`, which carries the
  * frame's own types, so `ACCEPT_ANY_SCHEMA` keeps the analyzer from
  * adding casts or null checks.
  */
class VintageFileSink(
    tablePath: String, writeSchema: StructType, partitionCols: Seq[String],
    tableProperties: Map[String, String],
    collect: (Seq[AddFile], Map[String, Long]) => Unit)
    extends Table with SupportsWrite {
  override def name(): String = tablePath
  override def schema(): StructType = writeSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new VintageCollectWrite(new VintageWrite(
        tablePath, writeSchema, partitionCols, overwrite = false,
        tableProperties), collect)
    }
}

class VintageBatchWrite(
    tablePath: String, tableSchemaJson: String, dataSchemaJson: String,
    physDataSchemaJson: String,
    partitionCols: Seq[String], physPartitionCols: Seq[String],
    overwrite: Boolean,
    factory: OutputWriterFactory, conf: SerializableConfiguration,
    constraints: Seq[(String, String, Expression)] = Nil,
    idFills: Seq[(String, Int, Option[Long], Long)] = Nil,
    logBloomCols: Seq[String] = Nil,
    logBloomBits: Int = graft.vintage.StatsBloom.DefaultBits,
    bucketed: Boolean = false)
    extends BatchWrite {

  /** (column -> allocation base) of this write's identity fills when a
    * task filled any, else empty: the bases the commit checks a raced
    * mark against (see graft.vintage.IdentityColumns.reached).
    */
  def idBases(messages: Seq[WriterCommitMessage]): Map[String, Long] =
    if (messages.exists { case VintageCommitMessage(_, f) => f; case _ => false })
      fills.flatMap(f => f._3.map(f._1 -> _)).toMap
    else Map.empty

  // fills start at least one step past the mark the log holds when the
  // tasks are planned: a streaming query plans its write once, and each
  // epoch must allocate past the ids the previous one committed
  @volatile private var fills = idFills

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    if (idFills.nonEmpty && graft.vintage.VintageLog.exists(tablePath)) {
      val props = graft.vintage.VintageLog.replay(tablePath).properties
      fills = idFills.map { case (c, ord, base, step) =>
        val next = graft.vintage.IdentityColumns.hwm(props, c)
          .map(graft.vintage.IdentityColumns.stepPast(_, step))
        // the later base; None, a mark at the end of BIGINT, is latest
        (c, ord, next.fold(base)(n => for (b <- base; x <- n)
          yield if (step > 0) math.max(b, x) else math.min(b, x)), step)
      }
    }
    new VintageWriterFactory(tablePath, tableSchemaJson, dataSchemaJson,
      physDataSchemaJson, partitionCols, physPartitionCols, factory, conf,
      constraints, fills, logBloomCols, logBloomBits, bucketed, info.numPartitions())
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    commit(messages, None)

  /** One log commit of the tasks' files, under transaction watermark
    * `txn` when given (a streaming epoch).
    */
  private[graftshim] def commit(messages: Array[WriterCommitMessage],
      txn: Option[(String, Long)]): Unit =
    VintageTable.forPath(SparkSession.active, tablePath)
      .commitFiles(VintageCommitMessage.adds(messages.toSeq), overwrite, txn,
        idBases(messages.toSeq))

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val hconf = conf.value
    VintageCommitMessage.adds(messages.toSeq).foreach { a =>
      val p = new HPath(tablePath, a.path)
      try p.getFileSystem(hconf).delete(p, false)
      catch { case _: java.io.IOException => () }
    }
  }
}

class VintageWriterFactory(
    tableDir: String, tableSchemaJson: String, dataSchemaJson: String,
    physDataSchemaJson: String,
    partitionCols: Seq[String], physPartitionCols: Seq[String],
    factory: OutputWriterFactory,
    conf: SerializableConfiguration,
    constraints: Seq[(String, String, Expression)] = Nil,
    idFills: Seq[(String, Int, Option[Long], Long)] = Nil,
    logBloomCols: Seq[String] = Nil,
    logBloomBits: Int = graft.vintage.StatsBloom.DefaultBits,
    bucketed: Boolean, numPartitions: Int)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new VintageDataWriter(tableDir,
      DataType.fromJson(tableSchemaJson).asInstanceOf[StructType],
      DataType.fromJson(dataSchemaJson).asInstanceOf[StructType],
      DataType.fromJson(physDataSchemaJson).asInstanceOf[StructType],
      partitionCols, physPartitionCols, factory, conf, partitionId, taskId,
      constraints, idFills, logBloomCols, logBloomBits, bucketed, numPartitions)
}

/** Task-side writer: one open parquet `OutputWriter` per partition
  * prefix ("" when unpartitioned), stats read from each file's own
  * footer at close — the task that wrote the file also stats it, no
  * extra IO wave.
  */
class VintageDataWriter(
    tableDir: String, tableSchema: StructType, dataSchema: StructType,
    physDataSchema: StructType,
    partitionCols: Seq[String], physPartitionCols: Seq[String],
    factory: OutputWriterFactory,
    conf: SerializableConfiguration, partitionId: Int, taskId: Long,
    constraints: Seq[(String, String, Expression)] = Nil,
    idFills: Seq[(String, Int, Option[Long], Long)] = Nil,
    logBloomCols: Seq[String] = Nil,
    logBloomBits: Int = graft.vintage.StatsBloom.DefaultBits,
    bucketed: Boolean, numPartitions: Int)
    extends DataWriter[InternalRow] {

  private val hconf = conf.value
  // bound constraint expressions arrive null-safe (NULL passes);
  // compiled once per task, evaluated per row inline
  private val checks = constraints.map { case (n, sql, e) =>
    (n, sql, Predicate.create(e))
  }
  private val statCols = ParquetStats.statsColumns(physDataSchema)
  private val dataProj = UnsafeProjection.create(
    dataSchema.map { f =>
      val i = tableSchema.fieldIndex(f.name)
      BoundReference(i, tableSchema(i).dataType, tableSchema(i).nullable)
    }.toIndexedSeq)
  // hive directory value of each partition column by Spark's own rule
  // (what `df.write.partitionBy` writes): the value cast to a string in
  // the session time zone, escaped by `ExternalCatalogUtils`
  private val partStrings = UnsafeProjection.create(partitionCols.map { c =>
    val i = tableSchema.fieldIndex(c)
    Cast(BoundReference(i, tableSchema(i).dataType, nullable = true), StringType,
      Option(hconf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key))): Expression
  })

  // relPath -> open writer
  private val writers = mutable.LinkedHashMap[String, OutputWriter]()

  private def attemptContext() = {
    val attemptId = new TaskAttemptID(
      new TaskID(new JobID("vintage", 0), TaskType.MAP, partitionId), taskId.toInt)
    new TaskAttemptContextImpl(hconf, attemptId)
  }

  // partition prefix ("" when unpartitioned) -> file path relative to
  // the table root (the currently-open file for that prefix)
  private val openPaths = mutable.LinkedHashMap[String, String]()
  // files already closed by LRU eviction — still part of this task's
  // commit (several files per partition value are fine; unbounded open
  // writers are not)
  private val completedPaths = mutable.ArrayBuffer[String]()

  /** Cap on simultaneously open parquet writers per task. Each open
    * writer buffers up to a row group, so an unsorted insert into a
    * high-cardinality partition column would otherwise hold one buffer
    * per distinct value seen — executor OOM. On overflow the
    * least-recently-used writer is closed (its file is final and
    * recorded); a later row for that partition simply opens a new
    * file. Spark's own dynamic-partition insert bounds memory the same
    * way (spark.sql.maxConcurrentOutputFileWriters + sort fallback).
    */
  private val maxOpenWriters =
    math.max(1, hconf.getInt("spark.vintage.write.maxOpenWriters", 32))

  private def writerFor(row: InternalRow): OutputWriter = {
    val key =
      if (partitionCols.isEmpty) ""
      else {
        val vs = partStrings(row)
        physPartitionCols.indices.map { j =>
          ExternalCatalogUtils.getPartitionPathString(physPartitionCols(j),
            if (vs.isNullAt(j)) null else vs.getUTF8String(j).toString)
        }.mkString("/")
      }
    writers.get(key) match {
      case Some(w) =>
        // refresh LRU position
        writers.remove(key); writers(key) = w
        val rel = openPaths.remove(key).get; openPaths(key) = rel
        w
      case None =>
        if (writers.size >= maxOpenWriters) {
          val (oldKey, oldW) = writers.head
          oldW.close()
          writers.remove(oldKey)
          completedPaths += openPaths.remove(oldKey).get
        }
        // bucketed: the required clustered distribution made this
        // task's partition index the bucket id — stamp it in the name
        val name =
          if (bucketed)
            f"part-${UUID.randomUUID().toString}_$partitionId%05d.snappy.parquet"
          else s"part-${UUID.randomUUID().toString}.snappy.parquet"
        val rel = if (key.isEmpty) name else s"$key/$name"
        val target = new HPath(tableDir, rel)
        val fs = target.getFileSystem(hconf)
        if (rel.contains('/')) fs.mkdirs(target.getParent)
        val w = factory.newInstance(target.toString, physDataSchema, attemptContext())
        openPaths(key) = rel
        writers(key) = w
        w
    }
  }

  // identity NULL fill, the one allocator: the n-th fill of task
  // partition p takes slot p + numPartitions * n (Delta's interleave),
  // so values are unique without coordination and dense when tasks
  // fill evenly; exact arithmetic fails the task rather than wrap past
  // BIGINT into ids another write owns
  private var idFillCount: Long = 0L
  private def fillIdentity(row: InternalRow): InternalRow = {
    if (idFills.isEmpty) return row
    var needs = false
    var j = 0
    while (j < idFills.length && !needs) {
      needs = row.isNullAt(idFills(j)._2); j += 1
    }
    if (!needs) return row
    val g = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      tableSchema.length)
    var i = 0
    while (i < tableSchema.length) {
      g.update(i, if (row.isNullAt(i)) null else row.get(i, tableSchema(i).dataType))
      i += 1
    }
    idFills.foreach { case (c, ord, base, step) =>
      // no base: the mark is already the last value in step direction
      if (g.isNullAt(ord))
        g.update(ord, base.flatMap(b => try Some(Math.addExact(b, Math.multiplyExact(step,
            Math.addExact(partitionId.toLong, Math.multiplyExact(numPartitions.toLong,
              idFillCount))))) catch { case _: ArithmeticException => None })
          .getOrElse(throw new IllegalArgumentException(s"identity column $c exhausted " +
            s"its BIGINT range: allocation overflowed BIGINT (step $step)")))
    }
    idFillCount += 1
    g
  }

  override def write(row0: InternalRow): Unit = {
    val row = fillIdentity(row0)
    var i = 0
    while (i < checks.length) {
      val (name, sql, p) = checks(i)
      if (!p.eval(row))
        throw new IllegalArgumentException(
          s"CHECK constraint $name ($sql) violated by a written row")
      i += 1
    }
    writerFor(row).write(dataProj(row))
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_.close())
    val adds = (completedPaths.toSeq ++ openPaths.values.toSeq).map { rel =>
      val target = new HPath(tableDir, rel)
      val fs = target.getFileSystem(hconf)
      val (numRecords, stats) = ParquetStats.read(target, hconf, statCols)
      val blooms =
        if (logBloomCols.isEmpty) Map.empty[String, String]
        else ParquetStats.bloomStats(target, hconf, logBloomCols, logBloomBits)
      val withBlooms = blooms.foldLeft(stats) { case (m, (c, b)) =>
        m.updated(c, m.getOrElse(c, graft.vintage.ColStats(None, None, None))
          .copy(bloom = Some(b)))
      }
      val st = fs.getFileStatus(target)
      AddFile(rel, st.getLen, st.getModificationTime, dataChange = true,
        Some(numRecords), withBlooms, PartitionPaths.parsePartitionValues(rel))
    }
    VintageCommitMessage(adds, idFillCount > 0)
  }

  override def abort(): Unit = {
    writers.values.foreach(w => try w.close() catch { case _: Exception => () })
    (completedPaths.toSeq ++ openPaths.values.toSeq).foreach { rel =>
      val p = new HPath(tableDir, rel)
      try p.getFileSystem(hconf).delete(p, false)
      catch { case _: java.io.IOException => () }
    }
  }

  override def close(): Unit = ()
}
