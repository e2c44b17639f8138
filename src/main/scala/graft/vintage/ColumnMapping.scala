package graft.vintage

import java.util.UUID

import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}

/** Column mapping ("name" mode): a stable PHYSICAL column name per
  * field, carried in `StructField` metadata, decoupling the name a
  * query sees from the name inside the parquet files. With the
  * indirection in place, RENAME COLUMN and DROP COLUMN become
  * metadata-only commits — no data rewrite, which at 100 TB is the
  * difference between a milliseconds DDL and a full-table job (the
  * same design as Delta Lake's `delta.columnMapping.mode = name`,
  * re-derived here on public Spark schema metadata).
  *
  * Invariants:
  *  - Enabling the mode stamps `physical = current logical` on every
  *    field, so all existing files stay readable untouched.
  *  - Columns added AFTER enabling get a fresh `col-<uuid>` physical
  *    name. A later re-add of a dropped/renamed logical name therefore
  *    can never resurrect old data: the new field reads a physical
  *    column that exists in no old file (nulls), not the orphaned one.
  *  - Physical names never change after assignment; files, footer
  *    stats, and hive partition directories are all keyed by them.
  *
  * Readers translate at exactly two seams: the parquet scan requests
  * the PHYSICAL schema (rows are positional, so renaming field names
  * preserves the data), and log-derived per-file stats/partition
  * values are remapped physical→logical once per snapshot
  * ([[Snapshot.statFiles]]) so every pruning path — file skipping,
  * partition pruning, metadata-only aggregates — keeps working in
  * logical space unchanged.
  */
object ColumnMapping {
  /** Table property that enables the mode (`"name"`; default off). */
  val ModeProp = "vintage.columnMapping.mode"
  /** StructField metadata key holding the physical column name. */
  val PhysicalNameKey = "vintage.columnMapping.physicalName"

  /** Is the mode requested by table properties? (DDL gate.) */
  def active(props: Map[String, String]): Boolean =
    props.get(ModeProp).exists(_.equalsIgnoreCase("name"))

  /** Does any field carry a mapping? (Hot-path gate: identity fast
    * paths everywhere when false.)
    */
  def mapped(schema: StructType): Boolean =
    schema.fields.exists(_.metadata.contains(PhysicalNameKey))

  /** The name stored in parquet files for this field. */
  def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey)
    else f.name

  /** Schema with every field renamed to its physical name (for the
    * parquet reader/writer; field metadata kept — it is inert there).
    */
  def physicalSchema(schema: StructType): StructType =
    if (!mapped(schema)) schema
    else StructType(schema.fields.map(f => f.copy(name = physicalName(f))))

  /** Physical name of the field whose LOGICAL name matches (case-
    * insensitive); `logical` itself when the schema has no such field.
    */
  def toPhysical(schema: StructType, logical: String): String =
    schema.fields.find(_.name.equalsIgnoreCase(logical))
      .map(physicalName).getOrElse(logical)

  private def withPhysical(f: StructField, phys: String): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putString(PhysicalNameKey, phys).build())

  /** Upgrade stamp: `physical = current logical` on every unmapped
    * field — the metadata-only step that makes all existing files the
    * mapped table's history.
    */
  def stamp(schema: StructType): StructType =
    StructType(schema.fields.map(f =>
      if (f.metadata.contains(PhysicalNameKey)) f else withPhysical(f, f.name)))

  private[vintage] def freshPhysicalName(): String = s"col-${UUID.randomUUID()}"

  /** Schema evolution under mapping: fields matching a prior logical
    * name (case-insensitive) inherit that field's physical mapping;
    * genuinely new fields get fresh uuid physical names. Identity when
    * the mode is off.
    */
  def evolve(prior: StructType, updated: StructType, isActive: Boolean): StructType =
    if (!isActive) updated
    else StructType(updated.fields.map { f =>
      prior.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(p) => withPhysical(f, physicalName(p))
        case None    => withPhysical(f, freshPhysicalName())
      }
    })

  /** RENAME COLUMN as a pure schema transform (mapping must already be
    * stamped): logical name changes, physical mapping stays.
    */
  def renameColumnIn(schema: StructType, existing: String, newName: String): StructType = {
    val idx = schema.fieldIndex(resolveName(schema, existing))
    require(newName.nonEmpty && newName.trim == newName,
      s"invalid column name '$newName'")
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"column '$newName' already exists")
    val f = schema.fields(idx)
    StructType(schema.fields.updated(idx, stamp(StructType(Seq(f))).head
      .copy(name = newName)))
  }

  /** DROP COLUMN as a pure schema transform: the field leaves the
    * schema; its physical column stays in old files, unreadable (no
    * logical owner) and reclaimed as files age out via rewrites.
    */
  def dropColumnIn(schema: StructType, name: String): StructType = {
    val resolved = resolveName(schema, name)
    require(schema.fields.length > 1, "cannot drop the last column")
    StructType(schema.fields.filterNot(_.name == resolved))
  }

  /** Exact-case field name for a case-insensitive lookup (error names
    * the available columns).
    */
  def resolveName(schema: StructType, name: String): String =
    schema.fieldNames.find(_.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"no such column '$name' (have: ${schema.fieldNames.mkString(", ")})"))

  /** Remap AddFile stats/partitionValues keys physical→logical per the
    * snapshot schema, dropping keys with no logical owner (dropped
    * columns). Identity — no copies — when the schema has no mapping.
    */
  def statsToLogical(schema: StructType, files: Seq[AddFile]): Seq[AddFile] =
    rekey(schema, files, f => physicalName(f) -> f.name)

  /** The inverse remap, logical→physical: files pruned in logical space
    * back as the log keys them, fit to read, re-add or remove.
    */
  def statsToPhysical(schema: StructType, files: Seq[AddFile]): Seq[AddFile] =
    rekey(schema, files, f => f.name -> physicalName(f))

  private def rekey(schema: StructType, files: Seq[AddFile],
      fromTo: StructField => (String, String)): Seq[AddFile] =
    if (!mapped(schema)) files
    else {
      val to: Map[String, String] = schema.fields.map { f =>
        val (from, name) = fromTo(f)
        from.toLowerCase -> name
      }.toMap
      def remap[V](m: Map[String, V]): Map[String, V] =
        m.flatMap { case (k, v) => to.get(k.toLowerCase).map(_ -> v) }
      files.map { f =>
        if (f.stats.isEmpty && f.partitionValues.isEmpty) f
        else f.copy(stats = remap(f.stats), partitionValues = remap(f.partitionValues))
      }
    }
}
