package graft.vintage.connector

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, Write, WriteBuilder}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.vintage.{Snapshot, VintageLog, VintageTable}

/** SQL catalog for vintage tables — registers as
  * `spark.sql.catalog.<name>=graft.vintage.connector.VintageCatalog`
  * with `spark.sql.catalog.<name>.warehouse=<dir>`, after which:
  *
  * {{{
  * CREATE TABLE vin.exr (…) ;  CREATE TABLE vin.t AS SELECT …
  * INSERT INTO vin.exr …  ;  INSERT OVERWRITE vin.exr …
  * SELECT * FROM vin.exr VERSION AS OF 0
  * SELECT * FROM vin.exr TIMESTAMP AS OF '…'
  * DELETE FROM vin.exr WHERE CURRENCY = 'RUB'
  * }}}
  *
  * Time travel lands on `loadTable(ident, version|timestamp)` (the SQL
  * `VERSION AS OF` surface of SURVEY §2.1 S4); reads go through the
  * native DSv2 scan ([[VintageNativeScan]], stat- and partition-pruned;
  * columnar, or row-wise with deletion vectors applied per file in the
  * task when the snapshot has them); writes and deletes commit through
  * [[VintageTable]]. MERGE INTO and UPDATE SQL plan natively through
  * the table's row-level operation ([[VintageRowLevelOperation]]), and
  * OPTIMIZE / VACUUM / RESTORE / DESCRIBE HISTORY parse through the
  * delegating parser of [[VintageSqlExtension]] ([[VintageMaintenance]]).
  * As a [[BucketFunctionCatalog]] it resolves the `bucket` transform of
  * its bucketed tables' scans.
  */
class VintageCatalog extends TableCatalog with StagingTableCatalog
    with BucketFunctionCatalog {
  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      System.getProperty("java.io.tmpdir") + "/vintage-warehouse")
  }

  override def name(): String = catalogName

  /** `CREATE TABLE … (g T GENERATED ALWAYS AS (expr))` support: Spark
    * validates and ships the expressions in field metadata; createTable
    * moves them to `vintage.generated.*` properties
    * ([[graft.vintage.GeneratedColumns]]).
    */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      // DEFAULT values: Spark's analyzer fills omitted columns at
      // INSERT time from the default metadata the schema carries —
      // the log's schema JSON round-trips field metadata, so the
      // connector only needs to keep it (structTypeToV2Columns turns
      // it back into ColumnDefaultValue on load)
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** `vin.t` → warehouse/t; a backquoted absolute path is used as-is. */
  private def pathFor(ident: Identifier): String = {
    val raw = (ident.namespace() :+ ident.name()).mkString("/")
    if (raw.startsWith("/") || raw.contains(":/")) raw
    else s"$warehouse/$raw"
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new HPath((warehouse +: namespace).mkString("/"))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).collect {
      case s if s.isDirectory && VintageLog.exists(s.getPath.toString) =>
        Identifier.of(namespace, s.getPath.getName)
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    VintageLog.exists(pathFor(ident))

  override def loadTable(ident: Identifier): Table = {
    val p = pathFor(ident)
    if (!VintageLog.exists(p)) throw new NoSuchTableException(ident)
    new VintageSqlTable(p, ident.toString, VintageLog.replay(p))
  }

  /** SQL `VERSION AS OF v`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = pathFor(ident)
    if (!VintageLog.exists(p)) throw new NoSuchTableException(ident)
    new VintageSqlTable(p, ident.toString,
      VintageLog.replay(p, Some(version.toLong)), timeTravel = true)
  }

  /** SQL `TIMESTAMP AS OF ts` (micros since epoch). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = pathFor(ident)
    if (!VintageLog.exists(p)) throw new NoSuchTableException(ident)
    val v = VintageLog.versionAtTimestamp(p, timestamp / 1000L)
    new VintageSqlTable(p, ident.toString,
      VintageLog.replay(p, Some(v)), timeTravel = true)
  }

  /** v2-Column createTable: the GENERATED ALWAYS AS expressions ride
    * the `Column` objects (the schema bridge drops them), so this
    * override extracts them before delegating.
    */
  /** Manual column→field bridge (CatalogV2Util is private[sql]):
    * returns the plain schema plus the table properties carrying the
    * GENERATED ALWAYS AS / AS IDENTITY contracts the Column objects
    * ship. DEFAULT values ride the standard field-metadata keys
    * Spark's analyzer resolves INSERTs against; the log's schema JSON
    * keeps them, so defaults survive restarts and time travel.
    */
  private def fromColumns(
      columns: Array[org.apache.spark.sql.connector.catalog.Column])
      : (StructType, Map[String, String]) = {
    val genExprs = columns
      .filter(_.generationExpression() != null)
      .map(c => c.name() -> c.generationExpression()).toMap
    val idSpecs = columns
      .filter(_.identityColumnSpec() != null)
      .map { c =>
        require(c.dataType() == org.apache.spark.sql.types.LongType,
          s"identity column ${c.name()} must be BIGINT, got ${c.dataType().sql}")
        val s = c.identityColumnSpec()
        c.name() -> graft.vintage.IdentityColumns.IdentitySpec(
          s.getStart, s.getStep, s.isAllowExplicitInsert)
      }.toMap
    val schema = StructType(columns.map { c =>
      val md = new org.apache.spark.sql.types.MetadataBuilder()
      if (c.defaultValue() != null)
        putDefaultMetadata(md, c.defaultValue())
      if (c.comment() != null) md.putString("comment", c.comment())
      org.apache.spark.sql.types.StructField(
        c.name(), c.dataType(), c.nullable(), md.build())
    })
    (schema,
      graft.vintage.GeneratedColumns.properties(genExprs) ++
        graft.vintage.IdentityColumns.properties(idSpecs))
  }

  override def createTable(
      ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val (schema, extraProps) = fromColumns(columns)
    val allProps = new util.HashMap[String, String](properties)
    extraProps.foreach { case (k, v) => allProps.put(k, v) }
    createTable(ident, schema, partitions, allProps)
  }

  // ------------------------------------------- staged (atomic) CTAS/RTAS

  /** `[CREATE OR] REPLACE TABLE [AS SELECT]` and atomic CTAS land here
    * (Spark prefers the staging path when the catalog offers it). The
    * query result is written through [[VintageStagedTable]] and
    * published in one commit — REPLACE retains table history.
    */
  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, allowCreate = true, allowReplace = false)

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    if (!VintageLog.exists(pathFor(ident))) throw new NoSuchTableException(ident)
    stage(ident, info, allowCreate = false, allowReplace = true)
  }

  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, allowCreate = true, allowReplace = true)

  private def stage(ident: Identifier, info: TableInfo,
      allowCreate: Boolean, allowReplace: Boolean): StagedTable = {
    val p = pathFor(ident)
    if (!allowReplace && VintageLog.exists(p))
      throw new TableAlreadyExistsException(ident)
    val partCols = partitionColsOf(info.partitions())
    val (schema0, extraProps) = fromColumns(info.columns())
    val props = info.properties().asScala.toMap ++ extraProps
    // creating in column-mapping mode: stamp physical names BEFORE the
    // staged write so the files land under them (see VintageTable.create)
    val schema =
      if (graft.vintage.ColumnMapping.active(props))
        graft.vintage.ColumnMapping.stamp(schema0)
      else schema0
    new VintageStagedTable(spark, p, ident.toString, schema, partCols,
      props, allowCreate, allowReplace)
  }

  /** Filesystem path of a table of this catalog — the `table_changes`
    * TVF resolves names through it.
    */
  def tablePath(ident: Identifier): String = pathFor(ident)

  /** Hive partition columns of the DDL transforms — identity
    * transforms only; bucket/hour/etc. have no directory encoding here.
    */
  private def partitionColsOf(partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map { t =>
      if (t.name != "identity" || t.references().length != 1)
        throw new UnsupportedOperationException(
          s"vintage tables support only identity partition transforms, got $t")
      val fieldNames = t.references()(0).fieldNames()
      require(fieldNames.length == 1,
        "nested partition columns not supported for vintage tables")
      fieldNames(0)
    }

  /** GENERATED ALWAYS AS / AS IDENTITY: lift the DDL contracts out of
    * field metadata into table properties (+ consistency constraints),
    * returning the stripped schema and the full property map.
    */
  private def prepareCreate(schema: StructType,
      properties: util.Map[String, String]): (StructType, Map[String, String]) = {
    val (cleanSchema0, genExprs) = graft.vintage.GeneratedColumns
      .fromCreateSchema(schema)
    val (cleanSchema, idSpecs) = graft.vintage.IdentityColumns
      .fromCreateSchema(cleanSchema0)
    (cleanSchema,
      properties.asScala.toMap ++
        graft.vintage.GeneratedColumns.properties(genExprs) ++
        graft.vintage.IdentityColumns.properties(idSpecs))
  }

  override def createTable(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val partCols = partitionColsOf(partitions)
    val p = pathFor(ident)
    if (VintageLog.exists(p)) throw new TableAlreadyExistsException(ident)
    val (cleanSchema, allProps) = prepareCreate(schema, properties)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], cleanSchema)
    VintageTable.create(spark, p, empty, allProps, partCols)
    loadTable(ident)
  }

  /** ALTER TABLE … ADD COLUMN(S) widens the schema; SET/UNSET
    * TBLPROPERTIES edits table properties (e.g.
    * `vintage.bloom.columns`; setting
    * `vintage.columnMapping.mode = name` stamps physical names —
    * see [[graft.vintage.ColumnMapping]]); RENAME COLUMN and DROP
    * COLUMN are metadata-only under column mapping. All are
    * metadata-only commits. Other changes are rejected.
    */
  /** DEFAULT metadata the analyzer resolves INSERTs and reads against.
    * CURRENT_DEFAULT keeps the SQL text (future INSERTs re-evaluate
    * it); EXISTS_DEFAULT is what pre-existing rows read, so it must be
    * FROZEN at DDL time — a non-deterministic default
    * (current_timestamp()) must not re-evaluate per read. Spark
    * already constant-folded the default into the v2 literal; render
    * that literal, falling back to the SQL text only when no folded
    * value exists.
    */
  private def putDefaultMetadata(
      md: org.apache.spark.sql.types.MetadataBuilder,
      dv: org.apache.spark.sql.connector.catalog.ColumnDefaultValue): Unit = {
    md.putString("CURRENT_DEFAULT", dv.getSql())
    val lv = dv.getValue()
    val frozen =
      if (lv != null)
        org.apache.spark.sql.catalyst.expressions.Literal(
          lv.value(), lv.dataType()).sql
      else dv.getSql()
    md.putString("EXISTS_DEFAULT", frozen)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import graft.vintage.ColumnMapping
    val p = pathFor(ident)
    if (!VintageLog.exists(p)) throw new NoSuchTableException(ident)
    val snap = VintageLog.replay(p)
    val t = VintageTable.forPath(spark, p)
    var schema = snap.schema
    var props = snap.properties
    var parts = snap.partitionColumns
    def requireMapping(what: String): Unit =
      require(ColumnMapping.active(props),
        s"$what requires column mapping: ALTER TABLE … SET TBLPROPERTIES" +
        s"('${ColumnMapping.ModeProp}'='name') first")
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "nested ADD COLUMN not supported for vintage tables")
        val md = new org.apache.spark.sql.types.MetadataBuilder()
        if (add.comment() != null) md.putString("comment", add.comment())
        // ADD COLUMN ... DEFAULT: the frozen EXISTS_DEFAULT is exactly
        // what every pre-existing row reads from this point on
        if (add.defaultValue() != null)
          putDefaultMetadata(md, add.defaultValue())
        schema = ColumnMapping.evolve(schema,
          schema.add(org.apache.spark.sql.types.StructField(
            add.fieldNames()(0), add.dataType(), nullable = true,
            md.build())),
          ColumnMapping.active(props))
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1,
          "nested RENAME COLUMN not supported for vintage tables")
        requireMapping("RENAME COLUMN")
        val resolved = ColumnMapping.resolveName(schema, ren.fieldNames()(0))
        t.requireNotInConstraints(snap, resolved, "rename")
        schema = ColumnMapping.renameColumnIn(schema, resolved, ren.newName())
        parts = parts.map(c =>
          if (c.equalsIgnoreCase(resolved)) ren.newName() else c)
        props = t.rewriteBloomProp(props, resolved, Some(ren.newName()))
        props = graft.vintage.IdentityColumns.rewriteProps(
          props, resolved, Some(ren.newName()))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "nested DROP COLUMN not supported for vintage tables")
        requireMapping("DROP COLUMN")
        val resolved = ColumnMapping.resolveName(schema, del.fieldNames()(0))
        require(!parts.exists(_.equalsIgnoreCase(resolved)),
          s"cannot drop partition column $resolved")
        t.requireNotInConstraints(snap, resolved, "drop")
        schema = ColumnMapping.dropColumnIn(schema, resolved)
        props = t.rewriteBloomProp(props, resolved, None)
        props = graft.vintage.IdentityColumns.rewriteProps(props, resolved, None)
      case upd: TableChange.UpdateColumnDefaultValue =>
        require(upd.fieldNames().length == 1,
          "nested ALTER COLUMN not supported for vintage tables")
        val resolved = ColumnMapping.resolveName(schema, upd.fieldNames()(0))
        schema = StructType(schema.map { f =>
          if (!f.name.equalsIgnoreCase(resolved)) f
          else {
            // SET DEFAULT only changes what FUTURE inserts fill in
            // (CURRENT_DEFAULT); what pre-existing rows read
            // (EXISTS_DEFAULT) stays frozen at its ADD/CREATE-time
            // value — or absent (NULL) if the column never had one.
            // DROP DEFAULT (empty/NULL sql) removes CURRENT_DEFAULT.
            val md = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
            val sql = upd.newDefaultValue()
            if (sql == null || sql.isEmpty) md.remove("CURRENT_DEFAULT")
            else md.putString("CURRENT_DEFAULT", sql)
            f.copy(metadata = md.build())
          }
        })
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames().length == 1,
          "nested ALTER COLUMN TYPE not supported for vintage tables")
        val resolved = ColumnMapping.resolveName(schema, upd.fieldNames()(0))
        val field = schema(schema.fieldNames
          .find(_.equalsIgnoreCase(resolved)).getOrElse(resolved))
        // TYPE WIDENING, Delta-style: metadata-only — existing parquet
        // files keep their narrow physical type and Spark's vectorized
        // reader promotes at scan time (int32→int64 etc., SPARK-40876);
        // no rewrite at any table size. Narrowing or re-typing would
        // corrupt reads and is rejected.
        require(graft.vintage.TypeWidening.widens(field.dataType, upd.newDataType()),
          s"ALTER COLUMN TYPE supports only widening changes " +
          s"(byte→short→int→long, float→double, decimal precision " +
          s"growth); got ${field.dataType.sql} → ${upd.newDataType().sql}")
        require(!graft.vintage.IdentityColumns.specs(props).keys
            .exists(_.equalsIgnoreCase(resolved)),
          "identity columns are fixed at BIGINT")
        schema = StructType(schema.map { f =>
          if (f.name.equalsIgnoreCase(resolved)) f.copy(dataType = upd.newDataType())
          else f
        })
        // the schema alone cannot show that OLD files are narrower —
        // activate the reader feature explicitly so a reader without
        // scan-time promotion stops at the protocol gate
        props = props + (graft.vintage.Protocol.FeaturePropPrefix +
          graft.vintage.Protocol.TypeWideningFeature -> "supported")
      case set: TableChange.SetProperty
          if set.property() == ColumnMapping.ModeProp =>
        require(set.value().equalsIgnoreCase("name"),
          s"${ColumnMapping.ModeProp} supports only 'name' " +
          "(and cannot be disabled once files are written under it)")
        schema = ColumnMapping.stamp(schema)
        props = props + (set.property() -> set.value())
      case set: TableChange.SetProperty =>
        props = props + (set.property() -> set.value())
      case rm: TableChange.RemoveProperty =>
        require(rm.property() != ColumnMapping.ModeProp ||
            !ColumnMapping.active(props),
          "cannot disable column mapping: files already reference " +
          "physical column names")
        props = props - rm.property()
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change $other not supported for vintage tables")
    }
    if (schema != snap.schema || props != snap.properties ||
        parts != snap.partitionColumns) {
      // metadata-only commit routed through the optimistic retry loop:
      // racing another writer re-commits at the next version instead of
      // surfacing a raw ConcurrentModificationException
      t.commitOp(snap, "ALTER TABLE",
        Map("changes" -> changes.mkString(",")), Nil, Nil,
        Some(graft.vintage.Metadata(schema.json, props, parts)),
        graft.vintage.NoRead)
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new HPath(pathFor(ident))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    VintageLog.invalidate(pathFor(ident))
    fs.exists(p) && fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val o = new HPath(pathFor(oldIdent)); val n = new HPath(pathFor(newIdent))
    val fs = o.getFileSystem(spark.sessionState.newHadoopConf())
    VintageLog.invalidate(pathFor(oldIdent))
    VintageLog.invalidate(pathFor(newIdent))
    if (!fs.rename(o, n))
      throw new IllegalStateException(s"rename $o -> $n failed")
  }
}

/** DSv2 Table over one snapshot: reads via [[VintageNativeScan]]
  * (stats-pruned file list, vectorized columnar parquet batches;
  * deletion vectors and the row-id metadata columns are applied in the
  * same scan's tasks),
  * writes via the native DSv2 batch write
  * ([[org.apache.spark.sql.graftshim.VintageWrite]]: executors write
  * final parquet files and report AddFiles with footer stats; the
  * driver folds them into one optimistic log commit). A SQL DELETE
  * whose predicate translates to source filters goes through
  * SupportsDelete to the fluent [[VintageTable.delete]], so
  * `vintage.deletionVectors.enabled` picks file-skipped copy-on-write
  * or deletion vectors for it; other SQL DELETE, UPDATE and MERGE plan
  * the native row-level operation ([[VintageRowLevel]]), which always
  * commits deletion vectors.
  */
class VintageSqlTable(
    val tablePath: String, ident: String,
    private[connector] val snapshot: Snapshot,
    timeTravel: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = ident
  override def schema(): StructType = snapshot.schema

  /** Position row-id metadata columns (`_vintage_file`,
    * `_vintage_pos`): what the native row-level operations identify
    * rows by, and selectable from SQL for debugging
    * (`SELECT _vintage_file, * FROM vin.t`). Row-tracked tables add
    * `_vintage_row_id` — the stable tracking id, both the SQL surface
    * for it (`SELECT _vintage_row_id, * FROM vin.t`) and the third
    * row-id column the WriteDelta path threads through updates.
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    val base = Array[org.apache.spark.sql.connector.catalog.MetadataColumn](
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = VintageRowLevel.FileCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
        override def comment(): String = "canonical data file key of the row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = VintageRowLevel.PosCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String = "physical row position inside its file"
      })
    if (!graft.vintage.RowTracking.enabled(snapshot.properties)) base
    else base :+ (new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = VintageRowLevel.TrackIdCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "stable row-tracking id (-1 for rows written before enablement)"
    })
  }

  /** Native row-level DELETE/UPDATE/MERGE (delta-based — see
    * [[VintageRowLevelOperation]]).
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(!timeTravel, "cannot modify a time-travel snapshot")
    () => new VintageRowLevelOperation(tablePath, snapshot, info.command())
  }
  override def partitioning(): Array[Transform] =
    snapshot.partitionColumns.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c)).toArray
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE,
      // writeStream.toTable: per-epoch commits through the native
      // write path, exactly-once via the transaction watermark
      TableCapability.STREAMING_WRITE,
      // MERGE ... WITH SCHEMA EVOLUTION: Spark's analyzer widens the
      // schema through this catalog's alterTable (ADD COLUMN path)
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
  override def properties(): util.Map[String, String] =
    (snapshot.properties + ("provider" -> "vintage") +
      ("version" -> snapshot.version.toString)).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
        with SupportsPushDownAggregates {
      private var pushed: Array[Filter] = Array.empty
      private var required: StructType = snapshot.schema
      private var aggResult: Option[VintageAggregates.Result] = None

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters.filter(f => Filters.toColumn(f).isDefined)
        filters // all filters stay as residual; parquet re-applies pushed
      }
      override def pushedFilters(): Array[Filter] = pushed
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = if (requiredSchema.isEmpty) StructType(snapshot.schema.take(1))
                   else requiredSchema

      // Spark only offers aggregates when every filter was consumed;
      // this builder keeps all filters residual, so aggregates arrive
      // exactly for unfiltered queries — the metadata-answerable case.
      override def supportCompletePushDown(agg: Aggregation): Boolean =
        VintageAggregates.tryCompute(snapshot, agg).isDefined
      override def pushAggregation(agg: Aggregation): Boolean = {
        aggResult = VintageAggregates.tryCompute(snapshot, agg)
        aggResult.isDefined
      }

      override def build(): Scan = aggResult match {
        case Some(r) => new VintageMetadataScan(r, ident)
        case None =>
          new VintageNativeScan(spark, tablePath, snapshot, required, pushed)
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      require(!timeTravel, "cannot write to a time-travel snapshot")
      // a native SQL write always carries the full schema — for a
      // GENERATED ALWAYS identity column those values are necessarily
      // writer-supplied, which the contract forbids; the fluent
      // append/overwrite path allocates them instead. BY DEFAULT
      // columns pass, and the commit advances the high-water mark.
      graft.vintage.IdentityColumns.specs(snapshot.properties)
        .foreach { case (c, s) =>
          require(s.allowExplicit,
            s"SQL INSERT into $name supplies identity column $c, which " +
            s"is GENERATED ALWAYS — write through the vintage API " +
            s"(which allocates ids) or declare it GENERATED BY DEFAULT")
        }
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write =
        new org.apache.spark.sql.graftshim.VintageWrite(
          tablePath, snapshot.schema, snapshot.partitionColumns, overwrite,
          snapshot.properties, info.queryId())
    }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => Filters.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(!timeTravel, "cannot delete from a time-travel snapshot")
    Filters.toColumnAll(filters.toSeq) match {
      case Some(cond) => VintageTable.forPath(spark, tablePath).delete(cond)
      case None => throw new UnsupportedOperationException(
        s"untranslatable delete predicates: ${filters.mkString(", ")}")
    }
  }
}
