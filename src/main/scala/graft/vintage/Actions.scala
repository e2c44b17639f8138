package graft.vintage

import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.JsonDSL._

/** Transaction-log actions for a vintage table.
  *
  * A vintage table is a directory of Parquet data files plus an ordered
  * commit log `_vintage_log/<version>.json`, one JSON action per line —
  * the Spark-native re-expression of the versioned-table behavior the
  * reference gets from Delta Lake (/root/reference/README.md:304-319
  * shows the observable history shape this log must reproduce).
  */
sealed trait Action

/** A data file that becomes part of the table snapshot.
  *
  * @param dataChange false for rewrites that do not alter the logical
  *        row set (compaction), so time travel and incremental readers
  *        can skip them (/root/reference/README.md:403-412).
  * @param stats optional per-column min/max/null-count used for file
  *        skipping at scan and merge touched-file discovery.
  * @param partitionValues hive-partition column values for this file
  *        (unescaped; a null partition value is the hive default
  *        sentinel). Empty for unpartitioned tables. `path` is then
  *        relative to the table root including the partition dirs.
  * @param dv sorted file-row positions logically DELETED from this file
  *        (a merge-on-read deletion vector, stored inline in the log —
  *        Delta's DV concept sized for its sweet spot: sparse deletes,
  *        where rewriting a 1 GB file to drop 50 rows is the thing to
  *        avoid at 100 TB). Empty = every physical row is live. Reads
  *        subtract these positions in one place,
  *        `connector.VintageNativeScan`, by parquet's row index, which
  *        Spark keeps stable under splits and row-group skipping.
  *        Vectors past the inline cap move to a parquet SIDECAR file
  *        referenced by `dvRef` (mutually exclusive with
  *        `dv`); truly dense deletes rewrite the file (see
  *        `vintage.deletionVectors.maxInline` /
  *        `.maxDeletedFraction`).
  * @param dvRef external deletion-vector reference (sidecar parquet
  *        under `_vintage_dv/`, run rows `(file_key, pos_start,
  *        pos_end)`) for vectors too large to inline in the log — the
  *        wide-but-sparse GDPR-sweep case: 1% of a 1 GB file is ~100k
  *        positions, which must cost one small sidecar file, not a log
  *        line megabytes long and not a 1 GB rewrite. Identity/conflict/restore semantics are the
  *        case-class equality of this field, exactly like inline `dv`.
  */
case class AddFile(
    path: String,
    size: Long,
    modificationTime: Long,
    dataChange: Boolean,
    numRecords: Option[Long] = None,
    stats: Map[String, ColStats] = Map.empty,
    partitionValues: Map[String, String] = Map.empty,
    dv: Seq[Long] = Nil,
    dvRef: Option[DvRef] = None,
    baseRowId: Option[Long] = None) extends Action {
  /** Number of deleted positions, inline or sidecar (sidecars carry
    * their cardinality in the log so planning never opens them).
    */
  def dvCount: Long = dvRef.map(_.count).getOrElse(dv.size.toLong)

  /** True when any deletion vector (inline or sidecar) applies. */
  def hasDv: Boolean = dv.nonEmpty || dvRef.nonEmpty

  /** Live (undeleted) row count, when the footer count is known. */
  def liveRecords: Option[Long] = numRecords.map(_ - dvCount)

  /** Resolved location: `path` is normally relative to the table root,
    * but a SHALLOW CLONE records the source's files by absolute
    * path/URI (Delta's convention) — those resolve as-is.
    */
  def absolutePath(tableDir: String): String =
    AddFile.resolve(tableDir, path)
}

object AddFile {
  private val SchemeRe = "^[a-zA-Z][\\w+.-]*://.*".r

  /** Resolve a log file path against the table root (absolute paths
    * and URIs pass through — the shallow-clone representation).
    */
  def resolve(tableDir: String, p: String): String =
    if (p.startsWith("/") || SchemeRe.matches(p)) p else s"$tableDir/$p"
}

/** Per-column file statistics. `bloom` is an optional per-FILE Bloom
  * filter over the column's values (self-describing
  * `mBits:k:base64(words)`, see [[StatsBloom]]) — min/max ranges
  * cannot prune point lookups on high-cardinality UNSORTED columns
  * (every file's range spans everything), a 128-byte bloom per file
  * can. Absent on logs written before the feature or for unsupported
  * types; absence simply means no bloom pruning (sound).
  */
case class ColStats(min: Option[String], max: Option[String],
    nullCount: Option[Long], bloom: Option[String] = None)

/** Reference to an external deletion-vector sidecar: a parquet
  * directory of `(file_key string, pos long)` rows, `path` relative to
  * the table root (absolute for shallow clones, like [[AddFile.path]]),
  * `count` the number of positions belonging to the referencing file
  * (so log replay and planning never read the sidecar).
  */
case class DvRef(path: String, count: Long)

/** Logical removal of a file from the snapshot (the physical file stays
  * until vacuum so past versions remain readable).
  */
case class RemoveFile(
    path: String,
    deletionTimestamp: Long,
    dataChange: Boolean) extends Action

/** Table schema + properties as of a commit; latest wins on replay.
  * Schema is kept per-version so time travel reads pre-evolution
  * snapshots with their own schema (README.md:327-388).
  */
case class Metadata(
    schemaJson: String,
    properties: Map[String, String] = Map.empty,
    partitionColumns: Seq[String] = Nil) extends Action {
  def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
}

/** Table-features protocol (Delta's protocol action, table-features
  * form): the log declares which features a READER must implement to
  * reconstruct correct state (deletion vectors, column mapping, type
  * widening) and which a WRITER must implement to commit safely. An
  * engine generation that does not know a required reader feature must
  * fail the read loudly — the alternative is silently wrong results
  * (e.g. resurrecting DV-deleted rows). This is also what makes
  * UNKNOWN log actions safe to skip: a future action type that
  * changes read semantics arrives together with a protocol bump, so
  * old readers stop at the protocol gate instead of mis-folding the
  * log. Latest protocol action wins on replay; normal commits only
  * GROW the feature set (via [[Protocol.union]]) — the one sanctioned
  * shrink is `VintageTable.dropFeature`, which commits a smaller
  * protocol only after proving nothing live depends on the feature.
  */
case class Protocol(
    readerFeatures: Seq[String] = Nil,
    writerFeatures: Seq[String] = Nil) extends Action {
  def union(other: Protocol): Protocol = Protocol(
    (readerFeatures ++ other.readerFeatures).distinct.sorted,
    (writerFeatures ++ other.writerFeatures).distinct.sorted)
}

object Protocol {
  val DeletionVectors = "deletionVectors"
  val ColumnMappingFeature = "columnMapping"
  val TypeWideningFeature = "typeWidening"
  val GeneratedColumnsFeature = "generatedColumns"
  val IdentityColumnsFeature = "identityColumns"
  val DefaultColumnsFeature = "defaultColumns"
  val RowTrackingFeature = "rowTracking"
  val BucketingFeature = "bucketing"

  /** Reader features this engine generation implements. */
  val SupportedReader: Set[String] =
    Set(DeletionVectors, ColumnMappingFeature, TypeWideningFeature)

  /** Writer features this engine generation implements (every reader
    * feature is implicitly writer-relevant too).
    */
  val SupportedWriter: Set[String] = SupportedReader ++
    Set(GeneratedColumnsFeature, IdentityColumnsFeature,
      DefaultColumnsFeature, RowTrackingFeature, BucketingFeature)

  val base: Protocol = Protocol(Nil, Nil)

  /** Explicit feature-activation property (Delta's
    * `delta.feature.<name> = supported` convention) for features not
    * derivable from metadata alone — type widening is activated by the
    * ALTER that widened, because the schema cannot show that old files
    * are narrower.
    */
  val FeaturePropPrefix = "vintage.feature."

  /** The minimum protocol required by a table's current metadata.
    * Callers union this with the existing protocol — features never
    * retract (files written under a feature outlive the property that
    * enabled it).
    */
  def required(schema: StructType, properties: Map[String, String]): Protocol = {
    val reader = scala.collection.mutable.Buffer[String]()
    val writer = scala.collection.mutable.Buffer[String]()
    if (properties.get(DeletionVectorsEnabledProp).exists(_.toBoolean))
      reader += DeletionVectors
    if (properties.get(ColumnMappingModeProp).exists(_.nonEmpty))
      reader += ColumnMappingFeature
    properties.collect {
      case (k, v) if k.startsWith(FeaturePropPrefix) &&
          v.equalsIgnoreCase("supported") => k.stripPrefix(FeaturePropPrefix)
    }.foreach { f =>
      // reject unknown names AT ACTIVATION: features never retract, so
      // accepting a typo ('typewidening') would put an unsatisfiable
      // entry in writerFeatures and permanently brick every commit —
      // including the one trying to unset the property
      require(SupportedWriter(f),
        s"unknown table feature '$f' ($FeaturePropPrefix$f=supported); " +
        s"supported: ${SupportedWriter.toSeq.sorted.mkString(", ")}")
      if (SupportedReader(f)) reader += f else writer += f
    }
    if (properties.keys.exists(_.startsWith("vintage.generated.")))
      writer += GeneratedColumnsFeature
    if (properties.keys.exists(_.startsWith("vintage.identity.")))
      writer += IdentityColumnsFeature
    if (properties.get("vintage.rowTracking.enabled").exists(_.toBoolean))
      writer += RowTrackingFeature
    // a writer unaware of bucketing would append unaligned files and
    // silently invalidate every bucketed-join plan — gate it
    if (properties.contains("vintage.bucketing.columns"))
      writer += BucketingFeature
    if (schema.fields.exists(f => f.metadata.contains("CURRENT_DEFAULT") ||
        f.metadata.contains("EXISTS_DEFAULT")))
      writer += DefaultColumnsFeature
    Protocol(reader.distinct.sorted.toSeq,
      (writer ++ reader).distinct.sorted.toSeq)
  }

  // property names duplicated here (not referenced from their owning
  // objects) so this file stays dependency-light in the action layer
  private val DeletionVectorsEnabledProp = "vintage.deletionVectors.enabled"
  private val ColumnMappingModeProp = "vintage.columnMapping.mode"
}

/** Application-level transaction watermark (Delta's SetTransaction):
  * records that writer `appId` has applied its transaction number
  * `version`. A writer that commits with a Txn skips the write when the
  * snapshot already carries `appId` at >= `version` — the idempotence
  * primitive that makes streaming-sink batch replays and retried jobs
  * exactly-once.
  */
case class Txn(appId: String, version: Long) extends Action

/** Row-id high-water mark (Delta's row-tracking domain metadata): the
  * NEXT fresh row id to allocate. Folded max on replay; carried by the
  * commit that assigned ids past it, like every allocation watermark.
  * Deliberately NOT a [[Metadata]] property: appends to a row-tracked
  * table must stay concurrent, and the commit loop's re-read gives the
  * race loser the winner's mark to re-assign from.
  */
case class RowIdHighWaterMark(next: Long) extends Action

/** Marker that an external source file has been ingested by COPY INTO:
  * committed atomically with the data it produced, so a re-run (or a
  * crashed-and-retried job) skips the file instead of duplicating its
  * rows. Carried through checkpoints like every other snapshot fact.
  */
case class IngestedFile(source: String) extends Action

/** Operation descriptor surfaced by `history()`; field names mirror the
  * history rows shown at /root/reference/README.md:307-319.
  */
case class CommitInfo(
    version: Long,
    timestamp: Long,
    operation: String,
    operationParameters: Map[String, String] = Map.empty) extends Action

object Action {
  private implicit val formats: Formats = DefaultFormats

  def toJsonLine(a: Action): String = {
    val j: JObject = a match {
      case f: AddFile =>
        "add" -> (
          ("path" -> f.path) ~ ("size" -> f.size) ~
          ("modificationTime" -> f.modificationTime) ~
          ("dataChange" -> f.dataChange) ~
          ("numRecords" -> f.numRecords) ~
          ("stats" -> f.stats.map { case (c, s) =>
            c -> (("min" -> s.min) ~ ("max" -> s.max) ~
              ("nullCount" -> s.nullCount) ~ ("bloom" -> s.bloom))
          }) ~
          ("partitionValues" -> f.partitionValues) ~
          // omitted when empty: the common no-deletions case costs zero
          // bytes, and pre-DV readers of such logs see identical lines
          ("dv" -> (if (f.dv.isEmpty) JNothing else JArray(
            f.dv.map(JLong(_)).toList))) ~
          ("dvFile" -> f.dvRef.map(r =>
            ("path" -> r.path) ~ ("count" -> r.count))) ~
          ("baseRowId" -> f.baseRowId))
      case f: RemoveFile =>
        "remove" -> (
          ("path" -> f.path) ~ ("deletionTimestamp" -> f.deletionTimestamp) ~
          ("dataChange" -> f.dataChange))
      case m: Metadata =>
        "metaData" -> (
          ("schemaJson" -> m.schemaJson) ~ ("properties" -> m.properties) ~
          ("partitionColumns" -> m.partitionColumns))
      case c: CommitInfo =>
        "commitInfo" -> (
          ("version" -> c.version) ~ ("timestamp" -> c.timestamp) ~
          ("operation" -> c.operation) ~
          ("operationParameters" -> c.operationParameters))
      case t: Txn =>
        "txn" -> (("appId" -> t.appId) ~ ("version" -> t.version))
      case i: IngestedFile =>
        "ingest" -> JObject("source" -> JString(i.source))
      case p: Protocol =>
        "protocol" -> (
          ("readerFeatures" -> p.readerFeatures) ~
          ("writerFeatures" -> p.writerFeatures))
      case h: RowIdHighWaterMark =>
        "rowIdHwm" -> JObject("next" -> JLong(h.next))
    }
    JsonMethods.compact(JsonMethods.render(j))
  }

  /** Lenient parse for LOG REPLAY: an unrecognized action type yields
    * None and is skipped — safe because any future action that changes
    * read semantics ships with a [[Protocol]] bump, and the replay's
    * reader-feature gate fires before the skipped line could matter
    * (Delta's unknown-action tolerance, by the same argument).
    */
  def fromJsonLineLenient(line: String): Option[Action] =
    try Some(fromJsonLine(line))
    catch { case _: IllegalArgumentException => None }

  def fromJsonLine(line: String): Action = {
    val j = JsonMethods.parse(line)
    (j \ "txn") match {
      case t: JObject =>
        return Txn((t \ "appId").extract[String], (t \ "version").extract[Long])
      case _ => ()
    }
    (j \ "ingest") match {
      case i: JObject => return IngestedFile((i \ "source").extract[String])
      case _ => ()
    }
    (j \ "protocol") match {
      case p: JObject =>
        return Protocol(
          (p \ "readerFeatures").extractOpt[Seq[String]].getOrElse(Nil),
          (p \ "writerFeatures").extractOpt[Seq[String]].getOrElse(Nil))
      case _ => ()
    }
    (j \ "rowIdHwm") match {
      case h: JObject => return RowIdHighWaterMark((h \ "next").extract[Long])
      case _ => ()
    }
    (j \ "add", j \ "remove", j \ "metaData", j \ "commitInfo") match {
      case (a: JObject, _, _, _) =>
        AddFile(
          path = (a \ "path").extract[String],
          size = (a \ "size").extract[Long],
          modificationTime = (a \ "modificationTime").extract[Long],
          dataChange = (a \ "dataChange").extract[Boolean],
          numRecords = (a \ "numRecords").extractOpt[Long],
          stats = (a \ "stats") match {
            case o: JObject => o.obj.map { case (c, s) =>
              c -> ColStats((s \ "min").extractOpt[String],
                            (s \ "max").extractOpt[String],
                            (s \ "nullCount").extractOpt[Long],
                            (s \ "bloom").extractOpt[String])
            }.toMap
            case _ => Map.empty
          },
          partitionValues = (a \ "partitionValues") match {
            case o: JObject => o.obj.map { case (k, v) => k -> v.extract[String] }.toMap
            case _ => Map.empty
          },
          dv = (a \ "dv") match {
            case JArray(xs) => xs.map(_.extract[Long])
            case _ => Nil
          },
          dvRef = (a \ "dvFile") match {
            case r: JObject => Some(DvRef(
              (r \ "path").extract[String], (r \ "count").extract[Long]))
            case _ => None
          },
          baseRowId = (a \ "baseRowId").extractOpt[Long])
      case (_, r: JObject, _, _) =>
        RemoveFile(
          path = (r \ "path").extract[String],
          deletionTimestamp = (r \ "deletionTimestamp").extract[Long],
          dataChange = (r \ "dataChange").extract[Boolean])
      case (_, _, m: JObject, _) =>
        Metadata(
          schemaJson = (m \ "schemaJson").extract[String],
          properties = (m \ "properties") match {
            case o: JObject => o.obj.map { case (k, v) => k -> v.extract[String] }.toMap
            case _ => Map.empty
          },
          partitionColumns = (m \ "partitionColumns").extract[Seq[String]])
      case (_, _, _, c: JObject) =>
        CommitInfo(
          version = (c \ "version").extract[Long],
          timestamp = (c \ "timestamp").extract[Long],
          operation = (c \ "operation").extract[String],
          operationParameters = (c \ "operationParameters") match {
            case o: JObject => o.obj.map { case (k, v) => k -> v.extract[String] }.toMap
            case _ => Map.empty
          })
      case _ => throw new IllegalArgumentException(s"unrecognized log line: $line")
    }
  }
}
