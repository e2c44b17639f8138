package graft.vintage.connector

import java.util.OptionalLong

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.graftshim.ColumnExpr
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import org.apache.parquet.hadoop.ParquetInputFormat
import org.roaringbitmap.longlong.Roaring64Bitmap

import graft.vintage.{AddFile, ColumnMapping, DeletionVectors, FileSkipping, PartitionPaths, RowTracking, Snapshot}

/** Native DSv2 scan over a vintage snapshot: plans one task set from
  * the log-derived, stats-pruned file list and reads through Spark's
  * own [[ParquetPartitionReaderFactory]] — vectorized columnar batches
  * end-to-end, so a SQL-catalog `SELECT` keeps whole-stage codegen.
  *
  * File pruning reuses [[FileSkipping]] over `Snapshot.statFiles`
  * (partition values included as synthetic stats); large files are
  * split at the session's maxPartitionBytes and packed with Spark's
  * own bin-packing. Unlike the DSv1 scan, the split size does not
  * shrink toward the input's bytes per core, so small files share
  * fewer tasks.
  *
  * Deletion vectors and the row-id metadata columns (`_vintage_file`,
  * `_vintage_pos`, `_vintage_row_id`) are served by the same scan, per
  * file inside the task. The file key is a per-file constant, passed to
  * the parquet reader as one more partition value, so a scan that asks
  * only for it stays columnar. When a candidate file carries a DV or
  * the query asks for a row position or row id, the reader also
  * requests parquet's row index, drops rows whose index is in the
  * file's vector and emits the positions and ids beside the data
  * ([[VintageDvReaderFactory]]); that path reads rows instead of
  * columnar batches. This is the only code that applies deletion
  * vectors or derives row positions and row ids: the SQL catalog's
  * reads, the row-level DELETE/UPDATE/MERGE scan
  * ([[VintageRowLevelOperation]]) and every internal `VintageTable`
  * read of a file set (fluent `toDF` of a DV snapshot,
  * `format("vintage")` and streaming reads of DV files, change feed,
  * fluent DML touch discovery and rewrites, layout rewrites) plan here.
  */
class VintageNativeScan(
    spark: SparkSession, tablePath: String, snapshot: Snapshot,
    requiredSchema: StructType, pushedFilters: Array[Filter])
    extends Scan with Batch with SupportsReportStatistics {

  import VintageNativeScan._

  private val partCols = snapshot.partitionColumns
  private def isPartCol(name: String): Boolean =
    partCols.exists(_.equalsIgnoreCase(name))
  private val tracked = RowTracking.enabled(snapshot.properties)
  private def isRowIdCol(name: String): Boolean =
    name == VintageRowLevel.FileCol || name == VintageRowLevel.PosCol ||
      (tracked && name == VintageRowLevel.TrackIdCol)

  /** Full non-partition schema of the data files. */
  private val dataSchema =
    StructType(snapshot.schema.filterNot(f => isPartCol(f.name)))
  private val readDataSchema = StructType(requiredSchema.filterNot(f =>
    isPartCol(f.name) || isRowIdCol(f.name)))
  private val readPartitionSchema =
    StructType(requiredSchema.filter(f => isPartCol(f.name)))
  private val rowIdSchema =
    StructType(requiredSchema.filter(f => isRowIdCol(f.name)))
  private val fileKeyWanted = rowIdSchema.fieldNames.contains(VintageRowLevel.FileCol)
  /** Per-file constants handed to the parquet reader: the partition
    * columns, then the file key when the query asks for it.
    */
  private val constSchema =
    if (!fileKeyWanted) readPartitionSchema
    else readPartitionSchema.add(VintageRowLevel.FileCol, StringType, nullable = false)

  // the reader emits data columns, partition columns, then row ids;
  // Spark's scan relation projects back to the order the query asked for
  override def readSchema(): StructType =
    StructType(readDataSchema ++ readPartitionSchema ++ rowIdSchema)

  override def toBatch: Batch = this

  override def description(): String =
    s"VintageNativeScan $tablePath v${snapshot.version} " +
    s"files=${pruned.size}/${filesTotal.fold("?")(_.toString)} " +
    s"dvFiles=$dvFiles filters=[${pushedFilters.mkString(", ")}]"

  /** Stats-pruned candidate files for the pushed filters — shared by
    * partition planning and the statistics report.
    */
  private lazy val pruned = Filters.toColumnAll(pushedFilters.toSeq) match {
    case Some(cond) => graft.vintage.SnapshotPruning.candidates(
      spark, snapshot, ColumnExpr.expr(cond))
    case None => snapshot.statFiles
  }

  /** Files in the snapshot; unknown for a spilled snapshot, whose file
    * list a pruned scan never materializes.
    */
  private def filesTotal: Option[Long] =
    if (snapshot.spilled.isDefined) None else Some(snapshot.files.size.toLong)
  private lazy val dvFiles = pruned.count(_.hasDv)

  /** Whether the tasks need parquet's row index: to drop deleted
    * positions, or to emit row positions and row ids.
    */
  private lazy val positional =
    dvFiles > 0 || rowIdSchema.fieldNames.exists(_ != VintageRowLevel.FileCol)

  override def supportedCustomMetrics(): Array[CustomMetric] = Array(
    new VintageScanMetric(FilesTotal, "files in the snapshot"),
    new VintageScanMetric(FilesCandidate, "stats-pruned candidate files"),
    new VintageScanMetric(DvFiles, "candidate files with a deletion vector"),
    new VintageScanMetric(DvDroppedRows, "rows dropped by deletion vectors"))

  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    (filesTotal.map(FilesTotal -> _).toSeq ++ Seq(
      FilesCandidate -> pruned.size.toLong, DvFiles -> dvFiles.toLong))
      .map { case (n, v) => taskMetric(n, v) }.toArray

  /** Log-derived statistics AFTER file pruning, so the catalyst join
    * planner sees real sizes (a dimension-table scan under a selective
    * partition predicate reports kilobytes, not the unknown-size
    * default of Long.MaxValue) and picks broadcast joins at plan time —
    * on a 1000-executor cluster the difference between broadcasting a
    * pruned dimension and sort-merge-shuffling the fact table.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(pruned.map(_.size).sum)
    override def numRows(): OptionalLong = {
      val counts = pruned.map(_.liveRecords)
      if (counts.forall(_.isDefined)) OptionalLong.of(counts.flatten.sum)
      else OptionalLong.empty()
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val files = pruned.map(f =>
      SparkPath.fromPathString(f.absolutePath(tablePath)) -> f)
    val splits = files.flatMap { case (path, f) =>
      val pv = InternalRow.fromSeq(readPartitionSchema.map { field =>
        f.partitionValues.get(field.name)
          .map(PartitionPaths.castValue(_, field.dataType)).orNull
      } ++ (if (fileKeyWanted) Seq(UTF8String.fromString(keyOf(f))) else Nil))
      (0L until math.max(f.size, 1L) by maxSplit).map { off =>
        PartitionedFile(pv, path, off, math.min(maxSplit, f.size - off),
          Array.empty, f.modificationTime, f.size)
      }
    }
    val parts = FilePartition.getFilePartitions(spark, splits, maxSplit)
    if (!positional) parts.toArray
    else {
      val byPath = files.toMap
      parts.map(p => VintageFilePartition(p,
        p.files.map(pf => fileDv(byPath(pf.filePath))))).toArray
    }
  }

  private def keyOf(f: AddFile): String =
    DeletionVectors.fileKey(f.absolutePath(tablePath))

  private def fileDv(f: AddFile): FileDv =
    FileDv(keyOf(f), f.dv.toArray,
      f.dvRef.map(r => AddFile.resolve(tablePath, r.path)), f.baseRowId)

  /** Built once per scan: each copy of the planned `BatchScanExec`
    * asks for a factory, and every build broadcasts the Hadoop conf.
    */
  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  private lazy val readerFactory: PartitionReaderFactory = {
    // column mapping: the parquet reader is the ONE seam that must see
    // PHYSICAL names — schemas are renamed field-for-field (positions,
    // hence row layout, unchanged) and filter references translated;
    // untranslatable filters are dropped (they stay residual above)
    val mappingOn = ColumnMapping.mapped(snapshot.schema)
    def toPhys(s: StructType): StructType =
      if (!mappingOn) s
      else StructType(s.fields.map(f =>
        f.copy(name = ColumnMapping.toPhysical(snapshot.schema, f.name))))
    // row-group-level pushdown: only filters over data columns reach
    // parquet (partition columns do not exist inside the files)
    val dataFilters0 = pushedFilters.filter(
      _.references.forall(r => !isPartCol(r)))
    val dataFilters =
      if (!mappingOn) dataFilters0
      else dataFilters0.flatMap(Filters.renameRefs(_,
        n => ColumnMapping.toPhysical(snapshot.schema, n)))
    // positional reads append the materialized row id (rewritten files
    // of a tracked table) and parquet's row index to the data columns;
    // both are nullable, since a non-null column absent from a file
    // fails the read
    val materializedId = rowIdSchema.fieldNames.contains(VintageRowLevel.TrackIdCol)
    val extras =
      if (!positional) Nil
      else (if (materializedId)
              Seq(StructField(RowTracking.MaterializedCol, LongType))
            else Nil) :+
        StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType)
    // the same conf preparation ParquetScan.createReaderFactory does:
    // the reader instantiates ParquetReadSupport from these keys
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
    val physDataSchema = toPhys(dataSchema)
    val physReadDataSchema = StructType(toPhys(readDataSchema) ++ extras)
    val readDataSchemaJson = physReadDataSchema.json
    hadoopConf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, readDataSchemaJson)
    hadoopConf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, readDataSchemaJson)
    hadoopConf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, conf.sessionLocalTimeZone)
    hadoopConf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      conf.nestedSchemaPruningEnabled)
    hadoopConf.setBoolean(SQLConf.CASE_SENSITIVE.key, conf.caseSensitiveAnalysis)
    hadoopConf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      conf.isParquetBinaryAsString)
    hadoopConf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      conf.isParquetINT96AsTimestamp)
    hadoopConf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      conf.legacyParquetNanosAsLong)
    hadoopConf.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key,
      conf.parquetFieldIdReadEnabled)
    hadoopConf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      conf.parquetInferTimestampNTZEnabled)
    val inner = ParquetPartitionReaderFactory(
      conf,
      spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf)),
      physDataSchema,
      physReadDataSchema,
      constSchema,
      dataFilters,
      None,
      new ParquetOptions(Map.empty[String, String], conf))
    if (!positional) inner
    else {
      // inner rows: data, [materialized id], row index, partition values,
      // [file key]; position and tracking id follow them in the joined
      // row the projection reads
      val nData = readDataSchema.size
      val nConst = nData + extras.size
      val innerWidth = nConst + constSchema.size
      val idIndex = nConst - 1
      val ordinals = (0 until nData) ++
        readPartitionSchema.indices.map(nConst + _) ++
        rowIdSchema.fieldNames.map {
          case VintageRowLevel.FileCol => innerWidth - 1
          case VintageRowLevel.PosCol => innerWidth
          case _ => innerWidth + 1
        }
      new VintageDvReaderFactory(inner, readSchema(), ordinals.toArray,
        idIndex, if (materializedId) nData else -1)
    }
  }
}

object VintageNativeScan {
  val FilesTotal = "filesTotal"
  val FilesCandidate = "filesCandidate"
  val DvFiles = "dvFiles"
  val DvDroppedRows = "dvDroppedRows"

  private[connector] def taskMetric(n: String, v: Long): CustomTaskMetric =
    new CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }
}

/** A summed scan metric. Spark instantiates the class reflectively to
  * aggregate task values, hence the no-argument constructor.
  */
class VintageScanMetric(metricName: String, desc: String) extends CustomSumMetric {
  def this() = this("", "")
  override def name(): String = metricName
  override def description(): String = desc
}

/** What a task needs to know of one data file: its canonical key
  * (the `file_key` of its sidecar rows), its inline deleted positions,
  * the absolute sidecar directory holding the rest, and its row-id base.
  */
private[connector] final case class FileDv(key: String, dv: Array[Long],
    sidecar: Option[String], baseRowId: Option[Long])

/** A file partition plus the [[FileDv]] of each of its files, in order. */
private[connector] final case class VintageFilePartition(
    part: FilePartition, files: Array[FileDv]) extends InputPartition {
  override def preferredLocations(): Array[String] = part.preferredLocations()
}

/** Row reader factory for positional scans: per file it opens the
  * wrapped parquet reader, drops rows whose row index is in the file's
  * deletion vector, and projects data, partition values and the row
  * ids (file key, row index, tracking id) through one projection
  * compiled per task. `ordinals` index the joined row (inner row,
  * whose partition values end with the file key, then position and
  * tracking id); `matIndex` is the materialized tracking id's inner
  * ordinal, or -1 when the query needs no id.
  */
private[connector] final class VintageDvReaderFactory(
    inner: ParquetPartitionReaderFactory, outSchema: StructType,
    ordinals: Array[Int], idIndex: Int, matIndex: Int)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val p = partition.asInstanceOf[VintageFilePartition]
      private val ids = new GenericInternalRow(2)
      private val joined = new JoinedRow
      private val project = UnsafeProjection.create(
        ordinals.toSeq.zip(outSchema.fields).map { case (o, f) =>
          BoundReference(o, f.dataType, f.nullable)
        })
      private var i = -1
      private var cur: PartitionReader[InternalRow] = _
      private var deleted: Roaring64Bitmap = _
      private var baseRowId = -1L
      private var row: InternalRow = _
      private var dropped = 0L

      /** Close the current file and open the next; false past the last. */
      private def advance(): Boolean = {
        close()
        i += 1
        if (i >= p.files.length) false
        else {
          val f = p.files(i)
          deleted = new Roaring64Bitmap
          deleted.add(f.dv: _*)
          f.sidecar.foreach(DeletionVectors.sidecarPositions(
            _, f.key, inner.broadcastedConf.value.value, deleted))
          baseRowId = f.baseRowId.getOrElse(-1L)
          cur = inner.buildReader(p.part.files(i))
          true
        }
      }

      override def next(): Boolean = {
        while (cur != null || advance()) {
          if (!cur.next()) close()
          else {
            val r = cur.get()
            val pos = r.getLong(idIndex)
            if (deleted.contains(pos)) dropped += 1
            else {
              ids.setLong(0, pos)
              // the materialized id, else the file's base range, else -1
              // (written before tracking; fluent reads map it to NULL)
              if (matIndex >= 0) ids.setLong(1,
                if (!r.isNullAt(matIndex)) r.getLong(matIndex)
                else if (baseRowId >= 0) baseRowId + pos
                else -1L)
              row = project(joined(r, ids))
              return true
            }
          }
        }
        false
      }

      override def get(): InternalRow = row

      override def currentMetricsValues(): Array[CustomTaskMetric] =
        Array(VintageNativeScan.taskMetric(VintageNativeScan.DvDroppedRows, dropped))

      override def close(): Unit = if (cur != null) { cur.close(); cur = null }
    }
}
