package graft.vintage

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.graftshim.{ColumnExpr, VintageRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** A versioned Parquet table with Delta-style semantics, built purely
  * on public Spark APIs: every row-level operation is a declarative
  * DataFrame program plus one atomic commit to [[VintageLog]].
  *
  * Capability parity target: the table operations narrated in
  * /root/reference/README.md — create/overwrite (92, 195), merge
  * (124-131), delete (281), update (290), history (304-319), time
  * travel (169, 202), schema evolution (327-388), compaction (403-412),
  * vacuum (415).
  *
  * Scale design: row-level ops are file-granular copy-on-write — phase
  * 1 discovers the touched files with a semi join (broadcast when the
  * submission is small, which is the common case for merge messages),
  * phase 2 rewrites only those files. Untouched files are never read
  * twice nor rewritten, so merge cost is proportional to the touched
  * data, not the table size.
  */
class VintageTable private (
    val spark: SparkSession,
    val path: String,
    private val targetAlias: Option[String])
    extends org.apache.spark.internal.Logging {

  import VintageTable._

  /** Alias the table for merge conditions, mirroring
    * `DeltaTable.as("master")` (README.md:126).
    */
  def as(alias: String): VintageTable = new VintageTable(spark, path, Some(alias))
  def alias(a: String): VintageTable = as(a)

  def snapshot: Snapshot = VintageLog.replay(path)
  def snapshotAt(version: Long): Snapshot = VintageLog.replay(path, Some(version))
  def version: Long = VintageLog.latestVersion(path)

  /** Current state as a DataFrame (README.md:136 `exrTable.toDF`), in
    * the declared column order. A filter on it (the paper's confirm read
    * `toDF.filter(CURRENCY = ...)`) opens only the files whose log stats
    * may match.
    */
  def toDF: DataFrame = dfForRead(snapshot)

  /** State as of a past version (README.md:169 `versionAsOf`). */
  def toDFAsOf(version: Long): DataFrame = dfForRead(snapshotAt(version))

  /** State as of a timestamp (README.md:166,321 `timestampAsOf`). */
  def toDFAsOfTimestamp(ts: Long): DataFrame =
    dfForRead(snapshotAt(VintageLog.versionAtTimestamp(path, ts)))

  /** The `format("vintage")` relation, which prunes files by stats at
    * plan time, unless the snapshot may carry deletion vectors (those
    * read through the DV anti-join plan). The relation puts partition
    * columns last; the select restores the declared order.
    */
  private def dfForRead(s: Snapshot): DataFrame =
    if (DeletionVectors.mayHave(s)) dfForSnapshot(s)
    else {
      val df = spark.baseRelationToDataFrame(VintageRelation(spark, path, s))
      if (s.partitionColumns.isEmpty) df
      else df.select(s.schema.fieldNames.toIndexedSeq
        .map(n => df.col(QuotingUtils.quoteIdentifier(n))): _*)
    }

  private[graft] def dfForSnapshot(s: Snapshot): DataFrame =
    dfForFiles(s, s.files)

  /** [[dfForSnapshot]] over an explicit (log-stats-PRUNED) file
    * subset: the `format("vintage")` DV fallback passes the
    * [[candidateFiles]] of its pushed filters, so a predicate scan
    * of a DV-carrying 100 TB table opens the files whose stat range
    * may match — not every footer in the table. The DV anti-join set
    * is built from the same subset.
    */
  private[vintage] def dfForFiles(s: Snapshot, files: Seq[AddFile]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s.schema)
    else
      // the select restores the declared column order, which partition
      // discovery moves to the end, and maps physical file columns back
      // to their logical names under column mapping; files carrying
      // deletion vectors lose their deleted positions via the broadcast
      // anti-join in [[DeletionVectors.applyTo]] (no-op wrapper when no
      // file has one)
      DeletionVectors.applyTo(
        readerFor(s).parquet(files.map(_.absolutePath(path)): _*),
        path, files, logicalCols(s))

  /** Version history, newest first — reproduces the operation log shape
    * at README.md:307-319.
    */
  def history(): DataFrame = {
    import spark.implicits._
    snapshot.commits.sortBy(-_.version)
      .map(c => (c.version, new java.sql.Timestamp(c.timestamp), c.operation,
                 c.operationParameters))
      .toDF("version", "timestamp", "operation", "operationParameters")
  }

  // ----------------------------------------------------------------- merge

  /** Fluent upsert mirroring the Delta merge API used at
    * README.md:124-131.
    */
  def merge(source: DataFrame, condition: String): VintageMergeBuilder =
    merge(source, expr(condition))

  def merge(source: DataFrame, condition: Column): VintageMergeBuilder =
    new VintageMergeBuilder(this, targetAlias, source, condition)

  // -------------------------------------------------------- delete/update

  /** Logical delete of rows matching the predicate
    * (README.md:281 `exrTable.delete("CURRENCY = 'RUB'")`).
    */
  def delete(condition: String): Unit = delete(expr(condition))

  def delete(condition: Column): Unit = {
    val snap = snapshot
    if (DeletionVectors.enabled(snap.properties)) {
      deleteWithDvs(snap, condition)
      return
    }
    val touched = touchedFiles(snap, condition)
    val scope = PredicateRead(ColumnExpr.expr(condition))
    if (touched.isEmpty) {
      commitOp(snap, "DELETE", Map("predicate" -> condition.toString),
        Nil, Nil, None, scope)
      return
    }
    val (delSrc, delIdCols) = rewriteSource(snap, touched)
    val remaining = delSrc.filter(!coalesce(condition, lit(false)))
      .select(snap.schema.fieldNames.toIndexedSeq.map(col) ++ delIdCols: _*)
    val adds = writeFiles(spark, remaining, path, dataChange = true,
      snap.partitionColumns)
    commitOp(snap, "DELETE", Map("predicate" -> condition.toString),
      adds, removesFor(snap, touched), None, scope)
  }

  /** Merge-on-read delete (`vintage.deletionVectors.enabled`): instead
    * of rewriting every touched file, record the matching rows' file
    * positions as deletion vectors — commit cost is O(deleted rows),
    * not O(touched bytes), the decisive difference for sparse deletes
    * at 100 TB. Per-file three-tier hybrid, graded by cardinality:
    * vectors within `vintage.deletionVectors.maxInline` inline in the
    * log; wider-but-sparse vectors go to a parquet SIDECAR under
    * `_vintage_dv/` (written distributed — positions never touch the
    * driver); files with >= `maxDeletedFraction` of their rows dead
    * rewrite copy-on-write (when most of a file dies, rewriting the
    * survivors is the cheaper plan AND keeps the table small). Reads
    * subtract DVs via [[DeletionVectors.applyTo]]; OPTIMIZE/compaction
    * rewrites purge them.
    */
  /** Shared planning of a merge-on-read row-level op: find the LIVE
    * rows matching `condition` in the stats-pruned candidate files,
    * then split the touched files into the three tiers — inline
    * DV-marked AddFiles (`marked`), sidecar-referencing AddFiles
    * (`sidecarMarked`, whose shared sidecar this writes), and
    * copy-on-write rewrites (`rewriteFiles`). `None` = nothing
    * matched. The matches frame is persisted for the jobs that reuse
    * it (counts, inline positions, sidecar write) so candidates are
    * scanned once, and unpersisted before returning.
    */
  private case class MorPlan(marked: Seq[AddFile], sidecarMarked: Seq[AddFile],
      dvFiles: Seq[AddFile], rewriteFiles: Seq[AddFile]) {
    def touchedPaths: Set[String] = (dvFiles ++ rewriteFiles).map(_.path).toSet
  }

  private def planMergeOnRead(
      snap: Snapshot, cands: Seq[AddFile], condition: Column): Option[MorPlan] = {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val fileCol = s"__mor_file_$tag"; val posCol = s"__mor_pos_$tag"
    // (fileKey, position) of LIVE rows matching the predicate — rows
    // already in a DV are excluded so positions never double-count
    val matches = DeletionVectors.livePositionsMatching(
        readerFor(snap).parquet(cands.map(_.absolutePath(path)): _*),
        path, cands, logicalCols(snap), coalesce(condition, lit(false)),
        fileCol, posCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = matches.groupBy(col(fileCol))
        .agg(count(lit(1)).as("__n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      if (counts.isEmpty) return None
      val byKey = cands.map(f =>
        DeletionVectors.fileKey(f.absolutePath(path)) -> f).toMap
      val cap = DeletionVectors.maxInline(snap.properties)
      val frac = DeletionVectors.maxDeletedFraction(snap.properties)
      // three-tier split on the GROWN vector size: inline under the
      // cap; past the cap, rewrite only when the file is dense-dead
      // (fraction known and reached), else sidecar
      val grown = counts.keys.toSeq
        .map(k => k -> (byKey(k).dvCount + counts(k))).toMap
      // sidecar is sticky: a file whose vector already lives in a
      // sidecar stays on that tier even when grown <= cap (its prior
      // positions exist only distributed; inlining would mean reading
      // the sidecar onto the driver)
      val (inlineCandidates, overCap) = counts.keys.toSeq
        .partition(k => grown(k) <= cap && byKey(k).dvRef.isEmpty)
      val (rewriteKeys, overCapSidecar) = overCap.partition { k =>
        byKey(k).numRecords.exists(n => grown(k) >= frac * n)
      }
      // global budget: per-file-cap survivors still demote to the
      // distributed sidecar tier when the TABLE-WIDE inline total
      // would flood the driver
      val (inlineKeys, demoted) = DeletionVectors.applyInlineBudget(
        inlineCandidates, grown,
        DeletionVectors.remainingInlineBudget(snap, counts.keys, byKey))
      val sidecarKeys = overCapSidecar ++ demoted
      val marked =
        if (inlineKeys.isEmpty) Nil
        else {
          val dvKeySet = inlineKeys.toSet
          val newPositions = matches
            .filter(col(fileCol).isInCollection(dvKeySet))
            .collect()
            .map(r => (r.getString(0), r.getLong(1)))
            .groupBy(_._1).map { case (k, ps) => k -> ps.map(_._2) }
          inlineKeys.map { k =>
            val f = byKey(k)
            f.copy(dataChange = true,
              dv = (f.dv ++ newPositions(k)).distinct.sorted)
          }
        }
      val sidecarMarked =
        if (sidecarKeys.isEmpty) Nil
        else {
          val scSet = sidecarKeys.toSet
          val scFiles = sidecarKeys.map(byKey)
          // full grown vector per file = prior positions (inline or
          // sidecar — disjoint from the new matches by construction of
          // livePositionsMatching) ++ new matches, written distributed
          val newPos = matches
            .filter(col(fileCol).isInCollection(scSet))
            .select(col(fileCol).as("file_key"), col(posCol).as("pos"))
          val oldPos = DeletionVectors.dvLookup(
            spark, path, scFiles, "file_key", "pos")
          val rel = DeletionVectors.writeSidecar(
            newPos.unionByName(oldPos), path)
          sidecarKeys.map { k =>
            byKey(k).copy(dataChange = true, dv = Nil,
              dvRef = Some(DvRef(rel, grown(k))))
          }
        }
      Some(MorPlan(marked, sidecarMarked,
        (inlineKeys ++ sidecarKeys).map(byKey), rewriteKeys.map(byKey)))
    } finally matches.unpersist(blocking = false)
  }

  private def deleteWithDvs(snap: Snapshot, condition: Column): Unit = {
    val scope = PredicateRead(ColumnExpr.expr(condition))
    val params = Map("predicate" -> condition.toString, "mode" -> "merge-on-read")
    val cands = candidateFiles(snap, condition)
    val plan = if (cands.isEmpty) None else planMergeOnRead(snap, cands, condition)
    plan match {
      case None => commitOp(snap, "DELETE", params, Nil, Nil, None, scope): Unit
      case Some(p) =>
        // over-cap side: classic copy-on-write rewrite of the survivors
        // (row ids materialize through it — stability)
        val rewriteAdds =
          if (p.rewriteFiles.isEmpty) Nil
          else {
            val (src, idCols) = rewriteSourceExact(snap, p.rewriteFiles)
            writeFiles(spark,
              src.filter(!coalesce(condition, lit(false)))
                .select(snap.schema.fieldNames.toIndexedSeq.map(col) ++
                  idCols: _*),
              path, dataChange = true, snap.partitionColumns)
          }
        commitOp(snap, "DELETE",
          params + ("deletionVectors" -> p.dvFiles.size.toString,
                    "rewrittenFiles" -> p.rewriteFiles.size.toString),
          p.marked ++ p.sidecarMarked ++ rewriteAdds,
          removesForFiles(p.dvFiles ++ p.rewriteFiles), None, scope)
    }
  }

  /** Conditional column update (README.md:290
    * `exrTable.update(col("CURRENCY") === "CHF", Map("DECIMALS" -> lit(5)))`).
    */
  def update(condition: Column, set: Map[String, Column]): Unit = {
    val snap = snapshot
    val bad = set.keySet.filterNot(snap.schema.fieldNames.contains)
    require(bad.isEmpty, s"update of unknown columns: $bad")
    IdentityColumns.validateAssignments(set.keys, snap.properties)
    if (DeletionVectors.enabled(snap.properties)) {
      updateWithDvs(snap, condition, set)
      return
    }
    val touched = touchedFiles(snap, condition)
    val scope = PredicateRead(ColumnExpr.expr(condition))
    if (touched.isEmpty) {
      commitOp(snap, "UPDATE", Map("predicate" -> condition.toString),
        Nil, Nil, None, scope)
      return
    }
    val (updSrc, updIdCols) = rewriteSource(snap, touched)
    val updated = updSrc.select(
      updateProjection(snap, condition, set) ++ updIdCols: _*)
    val adds = writeFiles(spark, updated, path, dataChange = true,
      snap.partitionColumns)
    commitOp(snap, "UPDATE", Map("predicate" -> condition.toString),
      adds, removesFor(snap, touched), None, scope)
  }

  /** `when(cond, set).otherwise(col)` per column, in declared order. */
  private def updateProjection(snap: Snapshot, condition: Column,
      set: Map[String, Column]): IndexedSeq[Column] =
    snap.schema.fieldNames.toIndexedSeq.map { c =>
      set.get(c) match {
        case Some(e) =>
          when(coalesce(condition, lit(false)), e.cast(snap.schema(c).dataType))
            .otherwise(col(c)).as(c)
        case None => col(c)
      }
    }

  /** Merge-on-read UPDATE (`vintage.deletionVectors.enabled`): DV-mark
    * the matched rows' positions and append their updated copies as new
    * files — write cost O(matched rows), never O(touched bytes). The
    * same per-file inline cap as [[deleteWithDvs]] sends densely-
    * matched files down the classic whole-file rewrite instead.
    */
  private def updateWithDvs(snap: Snapshot, condition: Column,
      set: Map[String, Column]): Unit = {
    val scope = PredicateRead(ColumnExpr.expr(condition))
    val params = Map("predicate" -> condition.toString, "mode" -> "merge-on-read")
    val cands = candidateFiles(snap, condition)
    val plan = if (cands.isEmpty) None else planMergeOnRead(snap, cands, condition)
    plan match {
      case None => commitOp(snap, "UPDATE", params, Nil, Nil, None, scope): Unit
      case Some(p) =>
        // DV side: old positions are marked deleted (p.marked); append
        // the matched LIVE rows with the SET applied as new files
        // (row ids materialize through the rewrite — stability)
        val updatedAdds =
          if (p.dvFiles.isEmpty) Nil
          else {
            val (src, idCols) = rewriteSourceExact(snap, p.dvFiles)
            writeFiles(spark,
              src.filter(coalesce(condition, lit(false)))
                .select(snap.schema.fieldNames.toIndexedSeq.map { c =>
                  set.get(c) match {
                    case Some(e) => e.cast(snap.schema(c).dataType).as(c)
                    case None => col(c)
                  }
                } ++ idCols: _*),
              path, dataChange = true, snap.partitionColumns)
          }
        // dense side: classic whole-file rewrite
        val rewriteAdds =
          if (p.rewriteFiles.isEmpty) Nil
          else {
            val (src, idCols) = rewriteSourceExact(snap, p.rewriteFiles)
            writeFiles(spark,
              src.select(updateProjection(snap, condition, set) ++ idCols: _*),
              path, dataChange = true, snap.partitionColumns)
          }
        commitOp(snap, "UPDATE",
          params + ("deletionVectors" -> p.dvFiles.size.toString,
                    "rewrittenFiles" -> p.rewriteFiles.size.toString),
          p.marked ++ p.sidecarMarked ++ updatedAdds ++ rewriteAdds,
          removesForFiles(p.dvFiles ++ p.rewriteFiles), None, scope)
    }
  }

  // ------------------------------------------------------------ overwrite

  /** Full replacement retaining history (README.md:192-196): every live
    * file is logically removed, new data added, prior versions stay
    * readable (README.md:199-204).
    */
  def overwrite(df: DataFrame): Unit = overwrite(df, dataChange = true)

  /** Overwrite with `dataChange=false` is the compaction contract
    * (README.md:403-412): same logical rows, different file layout.
    */
  def overwrite(df: DataFrame, dataChange: Boolean): Unit =
    overwrite(df, dataChange, None)

  /** Overwrite carrying an application transaction watermark — see
    * [[append(df:org\.apache\.spark\.sql\.DataFrame,txn:Option[(String,Long)])*]].
    */
  def overwrite(df0: DataFrame, dataChange: Boolean,
      txn: Option[(String, Long)]): Unit = {
    // bounded re-allocation loop for identity tables, as in [[append]]
    // (the mark stays MONOTONIC across overwrites, Delta's semantics:
    // replaced rows never free their ids — time travel still shows them)
    var attempt = 0
    while (true) {
      val snap = snapshot
      val t = txn.map { case (a, v) => Txn(a, v) }
      if (t.exists(x => snap.txns.get(x.appId).exists(_ >= x.version))) return
      // ingest-side completion of generated columns the writer omitted
      val df1 = GeneratedColumns.complete(df0, snap.properties, Some(snap.schema))
      val (df, genIds) =
        if (dataChange) IdentityColumns.complete(df1, snap.properties)
        else (df1, Nil) // layout-only rewrite: rows already carry ids
      // overwrite replaces the schema with the frame's; under column
      // mapping, same-named fields keep their physical names and new
      // fields get fresh ones, so history stays readable
      val newSchema = ColumnMapping.evolve(snap.schema, df.schema,
        ColumnMapping.active(snap.properties))
      val adds = writeFiles(spark, df, path, dataChange, snap.partitionColumns,
        tableSchema = newSchema)
      val idProps =
        if (dataChange) IdentityColumns.advance(spark, path, newSchema,
          snap.properties, adds, genIds)
        else Map.empty[String, String]
      val meta = Metadata(newSchema.json, snap.properties ++ idProps,
        snap.partitionColumns)
      val params = Map("mode" -> "Overwrite",
        "partitionBy" -> snap.partitionColumns.mkString("[", ",", "]")) ++
        (if (dataChange) Map.empty else Map("dataChange" -> "false"))
      val now = System.currentTimeMillis()
      try {
        // a dataChange=false overwrite is compaction: layout-only, so a
        // concurrent append survives it; a real overwrite conflicts with one
        commitOp(snap, "WRITE", params, adds,
          snap.files.map(f => RemoveFile(f.path, now, dataChange)), Some(meta),
          if (dataChange) FullRead else LayoutOnly, txn = t)
        return
      } catch {
        // METADATA conflicts only (the identity-mark race): a
        // concurrent data add is a genuine overwrite conflict and
        // must surface — silently retrying would remove the other
        // writer's just-committed files
        case e: VintageTable.MetadataConflictException
            if (genIds.nonEmpty || idProps.nonEmpty) && attempt < 5 =>
          attempt += 1
          logWarning(s"identity overwrite re-allocating after commit " +
            s"conflict (attempt $attempt): ${e.getMessage}")
      }
    }
  }

  /** Append without touching existing files. */
  def append(df: DataFrame): Unit = append(df, None)

  /** Append carrying an application transaction watermark (Delta's
    * `txnAppId`/`txnVersion`): when the table has already recorded
    * `appId` at a version >= `version`, the append is SKIPPED — the
    * idempotence contract that makes replayed streaming micro-batches
    * and retried jobs exactly-once. The watermark is checked again
    * inside the commit retry loop, so two racing attempts of the same
    * (appId, version) commit the data exactly once. Files written by a
    * skipped attempt are never committed; vacuum reclaims them by age.
    */
  def append(df: DataFrame, txn: Option[(String, Long)]): Unit =
    append(df, txn, mergeSchema = false)

  /** Append with optional write-time schema evolution (Delta's
    * `mergeSchema` option): source-only columns widen the table schema
    * as nullable fields in the same commit; existing files read the
    * new columns as null. Columns the TABLE has but the source lacks
    * are still an error — silently null-filling a forgotten column is
    * the bug this check exists to catch.
    */
  def append(df0: DataFrame, txn: Option[(String, Long)],
      mergeSchema: Boolean): Unit = {
    // identity allocation reads the high-water mark from the snapshot
    // this attempt plans against; losing the commit race to a writer
    // that moved any table property (the mark included) surfaces as
    // the commit loop's metadata conflict, and the fix is to re-plan —
    // re-allocate from the fresh mark and rewrite. Bounded: identity
    // contention costs rewrites, never wrong ids. Non-identity appends
    // keep the single-attempt behavior (their conflict is real).
    var attempt = 0
    // explicit-identity retries carry (adds, planning schema, final
    // schema, params) — the written files are correct as-is, only the
    // mark advance raced. Reuse is valid ONLY while the table schema
    // still equals the one the attempt planned against: a concurrent
    // ALTER means recommitting the carried Metadata would silently
    // revert it, so such a retry falls back to a full re-plan.
    var carried: Option[(Seq[AddFile], StructType, StructType,
      Map[String, String])] = None
    while (true) {
      val snap = snapshot
      val t = txn.map { case (a, v) => Txn(a, v) }
      if (t.exists(x => snap.txns.get(x.appId).exists(_ >= x.version))) return
      carried match {
        case Some((_, plannedSchema, _, _))
            if plannedSchema != snap.schema =>
          carried = None // schema moved underneath: full re-plan
        case Some((adds, _, finalSchema, params)) =>
          val idProps = IdentityColumns.advance(spark, path, finalSchema,
            snap.properties, adds, generated = Nil)
          val meta =
            if (finalSchema == snap.schema && idProps.isEmpty) None
            else Some(Metadata(finalSchema.json, snap.properties ++ idProps,
              snap.partitionColumns))
          try {
            commitOp(snap, "WRITE", params, adds, Nil, meta, NoRead,
              txn = t, freshAdds = true)
            maybeAutoCompact()
            return
          } catch {
            case e: java.util.ConcurrentModificationException
                if idProps.nonEmpty && attempt < 5 =>
              attempt += 1
              logWarning(s"identity append recommitting after mark race " +
                s"(attempt $attempt): ${e.getMessage}")
          }
        case None =>
          // ingest-side completion of generated columns the writer omitted
          val df1 = GeneratedColumns.complete(df0, snap.properties, Some(snap.schema))
          val (df, genIds) = IdentityColumns.complete(df1, snap.properties)
          val missing = snap.schema.fieldNames
            .filterNot(c => df.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
          val extra = df.schema.fields
            .filterNot(f => snap.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
          require(missing.isEmpty && (extra.isEmpty || mergeSchema),
            s"append schema mismatch: missing=${missing.mkString(",")} " +
            s"extra=${extra.map(_.name).mkString(",")}" +
            (if (extra.nonEmpty) " (set mergeSchema=true to widen the table)" else ""))
          val finalSchema =
            if (extra.isEmpty) snap.schema
            else ColumnMapping.evolve(snap.schema,
              StructType(snap.schema.fields ++ extra.map(_.copy(nullable = true))),
              ColumnMapping.active(snap.properties))
          val adds = writeFiles(spark,
            df.select(finalSchema.fieldNames.map(col).toIndexedSeq: _*),
            path, dataChange = true, snap.partitionColumns,
            tableSchema = finalSchema)
          val idProps = IdentityColumns.advance(spark, path, finalSchema,
            snap.properties, adds, genIds)
          val params =
            Map("mode" -> "Append",
                "partitionBy" -> snap.partitionColumns.mkString("[", ",", "]")) ++
              (if (extra.isEmpty) Map.empty
               else Map("newColumns" -> extra.map(_.name).mkString(",")))
          val meta =
            if (extra.isEmpty && idProps.isEmpty) None
            else Some(Metadata(finalSchema.json, snap.properties ++ idProps,
              snap.partitionColumns))
          try {
            commitOp(snap, "WRITE", params, adds, Nil, meta, NoRead,
              txn = t, freshAdds = true)
            maybeAutoCompact()
            return
          } catch {
            case e: java.util.ConcurrentModificationException
                if (genIds.nonEmpty || idProps.nonEmpty) && attempt < 5 =>
              attempt += 1
              logWarning(s"identity append re-planning after commit " +
                s"conflict (attempt $attempt): ${e.getMessage}")
              // GENERATED values came from the stale mark: re-allocate
              // and rewrite (the attempt's files become vacuum-pending
              // orphans). EXPLICIT values are mark-independent: keep
              // the files, recommit with a freshly computed advance.
              if (genIds.isEmpty)
                carried = Some((adds, snap.schema, finalSchema, params))
          }
      }
    }
  }

  /** Opt-in post-write auto-compaction (Delta's autoCompact contract):
    * when `vintage.autoCompact.enabled` is true and some PARTITION has
    * accumulated at least `vintage.autoCompact.minNumFiles` (default
    * 50) files below the bin-packing threshold, the write that tipped
    * the count pays for an [[optimize]] pass — steady-state streaming
    * ingestion stops growing a small-file tail without an external
    * maintenance scheduler. The trigger counts per partition (the
    * whole table is one "partition" when unpartitioned) because
    * packing cannot reduce below one file per hive directory — a
    * table-wide count would re-fire forever on a table with many
    * one-small-file partitions, rewriting everything for zero gain.
    * Layout-only, so it never changes what readers see; and
    * best-effort — a lost race against a concurrent writer (or a
    * malformed property) must not fail the write that already
    * committed, so failures log and fall through.
    */
  private def maybeAutoCompact(): Unit = {
    try {
      val snap = snapshot
      if (!snap.properties.get("vintage.autoCompact.enabled")
          .exists(_.toBoolean)) return
      val minFiles = snap.properties.get("vintage.autoCompact.minNumFiles")
        .map(_.toInt).getOrElse(50)
      val target = 128L * 1024 * 1024
      val tail = snap.files.filter(f => f.size < target / 2 || f.hasDv)
      if (tail.groupBy(_.partitionValues).exists(_._2.size >= minFiles))
        optimize(target): Unit
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"auto-compact skipped: ${e.getMessage}")
    }
  }

  /** Latest transaction number recorded for `appId`, if any. */
  def txnVersion(appId: String): Option[Long] = snapshot.txns.get(appId)

  /** Incremental, idempotent file ingestion (Delta's `COPY INTO`):
    * load every file under `sourceDir` that has NOT been ingested
    * before, append its rows, and record per-file ingest markers in
    * the SAME commit — a re-run (cron job, crashed-and-retried
    * pipeline) skips already-loaded files instead of duplicating rows.
    * Returns the number of files ingested.
    *
    * `format` is any Spark batch reader (`parquet`, `csv`, `json`);
    * non-parquet sources read with the TABLE's schema enforced (plus
    * `options`, e.g. `header -> true` for CSV). Ingestion goes through
    * the normal write path: stats, bloom filters, and CHECK
    * constraints all apply. Two concurrent COPY INTO runs of the same
    * source serialize on the commit version — the loser detects the
    * overlap and fails with a retryable conflict (the re-run then
    * skips what the winner loaded).
    */
  def copyInto(sourceDir: String, format: String = "parquet",
      options: Map[String, String] = Map.empty): Long = {
    val snap = snapshot
    val srcAbs = VintageTable.absolutize(sourceDir)
    val src = new HPath(srcAbs)
    val fs = src.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(src), s"COPY INTO source not found: $srcAbs")
    // flat landing layout only: a hive k=v subdirectory encodes column
    // values in PATHS, which per-file loading would silently drop
    // (nulls for csv/json) — reject rather than corrupt; partitioned
    // layouts are CONVERT TO VINTAGE territory
    val found =
      if (fs.getFileStatus(src).isFile) Seq(fs.makeQualified(src).toString)
      else fs.listStatus(src).toSeq.flatMap {
        case s if s.isDirectory && s.getPath.getName.contains("=") =>
          throw new IllegalArgumentException(
            s"COPY INTO source $srcAbs has a hive-partitioned layout " +
            s"(${s.getPath.getName}/) — path-encoded values would be lost; " +
            "use CONVERT TO VINTAGE or read+append for partitioned sources")
        case s if s.isFile && !s.getPath.getName.startsWith("_") &&
                  !s.getPath.getName.startsWith(".") =>
          Seq(fs.makeQualified(s.getPath).toString)
        case _ => Nil
      }
    val fresh = found.filterNot(f =>
      snap.ingested.contains(VintageTable.canonicalKey(f)))
    if (fresh.isEmpty) return 0L

    val reader = spark.read.format(format).options(options)
    val df =
      if (format == "parquet") reader.load(fresh: _*)
      else reader.schema(snap.schema).load(fresh: _*)
    // cast to the TABLE's types, not just reorder: a landing file with
    // e.g. int32 ids in a bigint table would otherwise commit files the
    // vectorized reader can no longer decode under the table schema
    val aligned = df.select(snap.schema.fields.toIndexedSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    val adds = writeFiles(spark, aligned, path, dataChange = true,
      snap.partitionColumns)
    val markers = fresh.map(f => IngestedFile(VintageTable.canonicalKey(f)))
    commitOp(snap, "COPY INTO",
      Map("source" -> srcAbs, "numFiles" -> fresh.size.toString,
          "format" -> format),
      adds, Nil, None, NoRead, extra = markers)
    fresh.size.toLong
  }

  /** Row-level change feed for versions in `(fromVersion, toVersion]`
    * (the Delta CHANGE DATA FEED capability, computed from the log
    * rather than persisted change files): the result carries every
    * table column plus `_change_type` and `_commit_version`.
    *
    * Change types: "insert" | "delete", and on ROW-TRACKED tables
    * (see [[RowTracking]]) "update_preimage" | "update_postimage" —
    * a row whose stable id survives a commit with a different value
    * is an update, reported as its before and after images exactly
    * like Delta CDF. Without row tracking there is no cross-rewrite
    * row identity, so an update degrades to delete + insert of the
    * changed rows (documented, and exact as a multiset).
    *
    * Under copy-on-write a rewritten file mostly re-adds unchanged
    * rows, so per commit the feed is the MULTISET difference between
    * rows of added and removed `dataChange` files (`exceptAll` both
    * ways — exact, and layout-only commits like OPTIMIZE/CLUSTER
    * contribute nothing by construction). Cost per commit is
    * proportional to its touched files, never the table; the common
    * pure-append commit reads only the appended files and diffs
    * nothing. Schema evolution is handled by aligning each commit's
    * frame by column name (missing columns null).
    */
  def changes(fromVersion: Long, toVersion: Long = -1L): DataFrame = {
    val to = if (toVersion < 0) version else toVersion
    // fromVersion = -1 includes version 0 (the creating write) itself
    require(fromVersion >= -1 && fromVersion <= to && to <= version,
      s"change range ($fromVersion, $to] out of bounds for version $version")
    val frames = ((fromVersion + 1) to to).flatMap { v =>
      val actions = VintageLog.readVersion(path, v)
      val adds = actions.collect { case a: AddFile if a.dataChange => a }
      val removedPaths =
        actions.collect { case r: RemoveFile if r.dataChange => r.path }.toSet
      if (adds.isEmpty && removedPaths.isEmpty) None
      else {
        val snapV = snapshotAt(v)
        // the "before" side: explicitly removed files, PLUS the prior
        // state of any re-added still-live path whose entry changed —
        // a RESTORE that flips a file's deletion-vector state commits
        // only the AddFile (replay replaces by path, no RemoveFile),
        // and without the prior state here the whole file's live rows
        // would read as inserts and DV re-deletions would never be
        // reported as deletes
        // pure appends (the common case) never re-add a live path, so
        // only commits with removes — or a RESTORE, the one op that
        // replaces entries without removing — pay the v-1 replay
        val op = actions.collect { case c: CommitInfo => c.operation }
          .headOption.getOrElse("")
        val prevByPath =
          if (removedPaths.isEmpty && op != "RESTORE") Map.empty[String, AddFile]
          else snapshotAt(v - 1).files.map(f => f.path -> f).toMap
        val readdedOld = adds.flatMap(a =>
          prevByPath.get(a.path).filterNot(_ == a))
        val removedFiles =
          prevByPath.values.filter(f => removedPaths.contains(f.path)).toSeq ++
            readdedOld.filterNot(f => removedPaths.contains(f.path))
        // exact AddFiles, not just paths: a deletion-vector commit
        // re-adds the SAME path with a larger DV, and the diff below is
        // only position-exact if each side reads with ITS dv state
        def readOrEmpty(files: Seq[AddFile]): DataFrame =
          if (files.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snapV.schema)
          else readFilesExact(snapV, files)
        def tag(df: DataFrame, kind: String): DataFrame =
          df.withColumn("_change_type", lit(kind))
            .withColumn("_commit_version", lit(v))
        val tracked = RowTracking.enabled(snapV.properties)
        if (adds.isEmpty || removedFiles.isEmpty || !tracked) {
          val a = readOrEmpty(adds)
          val r = readOrEmpty(removedFiles)
          val ins = if (removedFiles.isEmpty) a else a.exceptAll(r)
          val del = if (adds.isEmpty) r else r.exceptAll(a)
          Some(tag(ins, "insert").unionByName(tag(del, "delete")))
        } else {
          // ROW-TRACKED commit with both sides: classify UPDATES. The
          // stable id IS the row identity across the rewrite, so a
          // full-outer join on it splits the commit exactly: id on
          // both sides with a different value -> update (pre+post
          // image); only-after -> insert; only-before -> delete;
          // both sides identical -> an unchanged rewritten survivor,
          // no change row. Rows from files written before tracking
          // was enabled carry a NULL id and no cross-rewrite
          // identity — they keep the multiset delete+insert tier.
          // Join width is the commit's touched files, never the table.
          val rt = "__cdf_row_id"
          val a = dfWithRowIds(snapV, adds, rt)
          val r = dfWithRowIds(snapV, removedFiles, rt)
          val dataCols = snapV.schema.fieldNames.toIndexedSeq
          def packed(df: DataFrame, side: String): DataFrame =
            df.filter(col(rt).isNotNull)
              .select(col(rt), struct(dataCols.map(col): _*).as(side))
          def nullIds(df: DataFrame): DataFrame =
            df.filter(col(rt).isNull).drop(rt)
          val j = packed(a, "__after")
            .join(packed(r, "__before"), Seq(rt), "full_outer")
          def unpack(s: String): Seq[Column] =
            dataCols.map(c => col(s"$s.$c").as(c))
          val ins = j.filter(col("__before").isNull)
            .select(unpack("__after"): _*)
            .unionByName(nullIds(a).exceptAll(nullIds(r)))
          val del = j.filter(col("__after").isNull)
            .select(unpack("__before"): _*)
            .unionByName(nullIds(r).exceptAll(nullIds(a)))
          val upd = j.filter(col("__after").isNotNull &&
            col("__before").isNotNull &&
            !(col("__after") <=> col("__before")))
          Some(tag(ins, "insert")
            .unionByName(tag(del, "delete"))
            .unionByName(tag(upd.select(unpack("__before"): _*),
              "update_preimage"))
            .unionByName(tag(upd.select(unpack("__after"): _*),
              "update_postimage")))
        }
      }
    }
    frames.reduceOption(_.unionByName(_, allowMissingColumns = true)).getOrElse {
      val empty = StructType(snapshot.schema.fields ++ Seq(
        StructField("_change_type", org.apache.spark.sql.types.StringType),
        StructField("_commit_version", org.apache.spark.sql.types.LongType)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty)
    }
  }

  /** SHALLOW CLONE: create an independent table at `destPath` whose
    * version 0 references THIS table's current data files by absolute
    * path — a metadata-only copy (no data movement, cost O(files) log
    * records; Delta's `CREATE TABLE ... SHALLOW CLONE` semantics).
    * The clone then evolves independently: its row-level operations
    * rewrite into its own directory, and its vacuum never touches
    * files outside its root. CAVEAT (same as Delta): vacuuming the
    * SOURCE can remove files the clone still references once the
    * source itself no longer lists them — keep source retention above
    * the clone's lifetime, or deep-copy with
    * `create(spark, dest, source.toDF)`.
    */
  def shallowClone(destPath: String): VintageTable = {
    val snap = snapshot
    // hive-partitioned sources would need partition values resolved
    // from the log instead of path inference under the clone's
    // basePath — unsupported rather than subtly broken
    require(snap.partitionColumns.isEmpty,
      "shallow clone of hive-partitioned tables is not supported; " +
      "deep-copy with create(spark, dest, source.toDF, partitionBy = ...)")
    val abs = absolutize(destPath)
    require(VintageLog.latestVersion(abs) < 0, s"table already exists: $abs")
    val dir = new HPath(abs)
    dir.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(dir)
    VintageLog.invalidate(abs)
    val now = System.currentTimeMillis()
    // dataChange=true regardless of the source flag: this IS the
    // clone's creating write — cloning a freshly-compacted source
    // (whose live files are dataChange=false) must still emit every
    // row to the clone's change feed and streaming readers
    // dvRef paths absolutize like data paths: the clone's reads must
    // find the SOURCE's sidecars (same lifetime caveat as the data)
    val adds = snap.files.map(f =>
      f.copy(path = f.absolutePath(path), dataChange = true,
        dvRef = f.dvRef.map(r => r.copy(path = AddFile.resolve(path, r.path)))))
    val info = CommitInfo(0L, now, "CLONE",
      Map("source" -> path, "sourceVersion" -> snap.version.toString,
          "mode" -> "shallow"))
    // the clone reads the source's files (DVs, mapping, …) — it needs
    // the source's protocol, not just what its metadata would imply.
    // The row-id high watermark carries over too: cloned files keep
    // their baseRowId, so a fresh-starting watermark would hand the
    // clone's first append ids the cloned rows already own.
    VintageLog.commit(abs, 0L,
      Seq(info,
        snap.protocol.union(Protocol.required(snap.schema, snap.properties)),
        Metadata(snap.schema.json, snap.properties,
          snap.partitionColumns)) ++
      (if (snap.rowIdHwm > 0) Seq(RowIdHighWaterMark(snap.rowIdHwm)) else Nil) ++
      adds)
    VintageTable.forPath(spark, abs)
  }

  /** DEEP CLONE: create an independent table at `destPath` with its own
    * COPY of this table's current data (Delta's `CREATE TABLE … CLONE`
    * semantics, no SHALLOW). Data files copy DISTRIBUTED — one task
    * wave over the file list, never through the driver — and sidecar
    * deletion vectors are consolidated into one clone-local sidecar
    * re-keyed to the clone's file identities (stale rows a later
    * commit superseded are dropped by the same valid-pair semi-join
    * the read path applies). Unlike [[shallowClone]] the result shares
    * NO storage with the source: vacuuming or dropping the source
    * cannot invalidate the clone, and hive-partitioned sources are
    * supported (relative paths, partition layout included, carry over
    * verbatim).
    */
  def deepClone(destPath: String): VintageTable = {
    val snap = snapshot
    val abs = absolutize(destPath)
    require(VintageLog.latestVersion(abs) < 0, s"table already exists: $abs")
    val dir = new HPath(abs)
    dir.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(dir)
    VintageLog.invalidate(abs)
    // dest-relative name per file: relative names keep their layout
    // (partition dirs included); absolute paths — inherited through a
    // SHALLOW clone — get fresh names, which is exactly the repair
    // that decouples the deep clone from the shallow source's storage
    val named: Seq[(AddFile, String)] = snap.files.map { f =>
      val rel =
        if (f.absolutePath(path) == f.path)
          s"part-clone-${java.util.UUID.randomUUID().toString}.parquet"
        else f.path
      (f, rel)
    }
    if (named.nonEmpty) {
      val confBc = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          spark.sessionState.newHadoopConf()))
      val destStr = abs
      val copies = named.map { case (f, rel) => (f.absolutePath(path), rel) }
      spark.sparkContext
        .parallelize(copies, math.min(copies.size, 256))
        .foreach { case (src, rel) =>
          val conf = confBc.value.value
          val sp = new HPath(src)
          val tp = new HPath(destStr, rel)
          val dfs = tp.getFileSystem(conf)
          if (rel.contains('/')) dfs.mkdirs(tp.getParent)
          if (!org.apache.hadoop.fs.FileUtil.copy(
              sp.getFileSystem(conf), sp, dfs, tp,
              false, true, conf))
            throw new java.io.IOException(s"copy $sp -> $tp failed")
        }
    }
    // sidecar vectors: one distributed rewrite into the clone's own
    // _vintage_dv dir, old file keys mapped to the clone's
    val withRef = named.filter(_._1.dvRef.isDefined)
    val dvRel: Option[String] = if (withRef.isEmpty) None else {
      import spark.implicits._
      val mapping = withRef.map { case (f, rel) =>
        (DeletionVectors.fileKey(AddFile.resolve(path, f.dvRef.get.path)),
         DeletionVectors.fileKey(f.absolutePath(path)),
         DeletionVectors.fileKey(s"$abs/$rel"))
      }
      val scSchema = StructType(Seq(
        StructField("file_key", org.apache.spark.sql.types.StringType,
          nullable = false),
        StructField("pos", org.apache.spark.sql.types.LongType),
        StructField("pos_start", org.apache.spark.sql.types.LongType),
        StructField("pos_end", org.apache.spark.sql.types.LongType)))
      val rel =
        s"${DeletionVectors.SidecarDirName}/${java.util.UUID.randomUUID()}"
      spark.read.schema(scSchema).parquet(mapping.map(_._1).distinct: _*)
        .select(
          DeletionVectors.fileKeyExpr(
            regexp_replace(col("_metadata.file_path"), "/[^/]+$", ""))
            .as("__sc"),
          col("file_key").as("__old"),
          coalesce(col("pos_start"), col("pos")).as("pos_start"),
          coalesce(col("pos_end"), col("pos")).as("pos_end"))
        .join(broadcast(mapping.toDF("__sc", "__old", "__new")),
          Seq("__sc", "__old"))
        .select(col("__new").as("file_key"),
          col("pos_start"), col("pos_end"))
        .write.parquet(s"$abs/$rel")
      Some(rel)
    }
    val now = System.currentTimeMillis()
    val adds = named.map { case (f, rel) =>
      f.copy(path = rel, dataChange = true,
        dvRef = f.dvRef.map(r => DvRef(dvRel.get, r.count)))
    }
    val info = CommitInfo(0L, now, "CLONE",
      Map("source" -> path, "sourceVersion" -> snap.version.toString,
          "mode" -> "deep"))
    VintageLog.commit(abs, 0L,
      Seq(info,
        snap.protocol.union(Protocol.required(snap.schema, snap.properties)),
        Metadata(snap.schema.json, snap.properties,
          snap.partitionColumns)) ++
      (if (snap.rowIdHwm > 0) Seq(RowIdHighWaterMark(snap.rowIdHwm)) else Nil) ++
      adds)
    VintageTable.forPath(spark, abs)
  }

  /** Commit files that executors already wrote into the table
    * directory (the native DSv2 write path): one optimistic log
    * commit, no data movement. Mirrors [[append]]/[[overwrite]]
    * semantics — an overwrite removes every current file and conflicts
    * with concurrent writers (FullRead); an append commits blind
    * (NoRead).
    *
    * `txn` is the idempotence watermark (`appId`, `version`) the
    * streaming sink rides: a replayed epoch whose version the log
    * already recorded is SKIPPED — and because the native path wrote
    * the replay's data files before the commit decision, the skip
    * deletes them so no orphans await vacuum.
    */
  def commitFiles(adds: Seq[AddFile], overwrite: Boolean,
      txn: Option[(String, Long)] = None,
      idFilledBases: Map[String, Long] = Map.empty): Unit = {
    val snap = snapshot
    val t = txn.map { case (a, v) => Txn(a, v) }
    if (t.exists(x => snap.txns.get(x.appId).exists(_ >= x.version))) {
      val conf = spark.sessionState.newHadoopConf()
      adds.foreach { a =>
        val p = new HPath(path, a.path)
        try p.getFileSystem(conf).delete(p, false)
        catch { case _: java.io.IOException => () }
      }
      return
    }
    // native SQL writes always carry the full schema, so identity
    // values here are writer-supplied: legal only under BY DEFAULT
    // (the write builder rejects GENERATED ALWAYS earlier), and the
    // high-water mark must advance past them in the same commit. The
    // mark is a table property, so two concurrent explicit-id INSERTs
    // race on metadata — the loser RE-PLANS from the fresh snapshot
    // and recommits the SAME files (they are correct as written; only
    // the property advance was stale), instead of failing the user.
    var attempt = 0
    var s = snap
    while (true) {
      val partParam = Map(
        "partitionBy" -> s.partitionColumns.mkString("[", ",", "]"))
      val idProps = IdentityColumns.advance(spark, path, s.schema,
        s.properties, adds, generated = Nil)
      val meta =
        if (idProps.isEmpty) None
        else Some(Metadata(s.schema.json, s.properties ++ idProps,
          s.partitionColumns))
      try {
        if (overwrite) {
          val now = System.currentTimeMillis()
          commitOp(s, "WRITE", Map("mode" -> "Overwrite") ++ partParam, adds,
            s.files.map(f => RemoveFile(f.path, now, dataChange = true)),
            meta, FullRead, txn = t, freshAdds = true)
        } else {
          commitOp(s, "WRITE", Map("mode" -> "Append") ++ partParam, adds,
            Nil, meta, NoRead, txn = t, freshAdds = true)
        }
        maybeAutoCompact()
        return
      } catch {
        // append (NoRead) cannot data-conflict, so any CME there is a
        // version/metadata race and re-planning is safe; an OVERWRITE
        // retries only on the metadata race — its add conflicts are
        // genuine and must surface, not remove the other writer's files
        case e: java.util.ConcurrentModificationException
            if idProps.nonEmpty && attempt < 5 &&
              (!overwrite || e.isInstanceOf[VintageTable.MetadataConflictException]) =>
          attempt += 1
          logWarning(s"identity-marked native write re-planning after " +
            s"commit conflict (attempt $attempt): ${e.getMessage}")
          s = snapshot
          // EXPLICIT identity values are correct as written — only the
          // mark bookkeeping raced, and recommitting the same files is
          // safe. ALLOCATED values (task-side NULL fill) are not: a
          // racing writer that advanced the mark across this write's
          // allocation base may own the same ids, and silently
          // recommitting would record the collision. Fail loudly; a
          // re-run replans from the fresh mark.
          val raced = idFilledBases.filter { case (c, base) =>
            IdentityColumns.specs(s.properties).get(c).exists { spec =>
              IdentityColumns.hwm(s.properties, c)
                .exists(h => !spec.beyond(base, h)) // fresh mark reached base
            }
          }
          if (raced.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"identity allocation for ${raced.keys.mkString(",")} raced a " +
              s"concurrent writer past this write's base — allocated ids may " +
              s"collide; re-run the statement (caused by: ${e.getMessage})")
      }
    }
  }

  /** Commit one native row-level (delta-based) operation: grow
    * deletion vectors from the executor-written position files and add
    * the executor-written insert files — the driver side of
    * [[connector.VintageDeltaBatchWrite]]. Positions tier like every
    * DV write: inline under the cap, sidecar past it (never a rewrite
    * — the delta protocol already consumed the rows, and OPTIMIZE
    * bin-packing reclaims dense-dead files later). Based on the
    * SCAN-TIME snapshot so the optimistic retry sees exactly what the
    * operation read (FullRead: a row-level SQL plan scans the table).
    */
  private[vintage] def commitDeltaRowLevel(
      scanVersion: Long, op: String, insertAdds: Seq[AddFile],
      positionFiles: Seq[String], countsByKey: Map[String, Long]): Unit = {
    val snap = snapshotAt(scanVersion)
    val params = Map("mode" -> "merge-on-read", "planner" -> "row-level")
    if (countsByKey.isEmpty && insertAdds.isEmpty) {
      commitOp(snap, op, params, Nil, Nil, None, FullRead): Unit
      return
    }
    val byKey = snap.files.map(f =>
      DeletionVectors.fileKey(f.absolutePath(path)) -> f).toMap
    val unknown = countsByKey.keySet.filterNot(byKey.contains)
    require(unknown.isEmpty,
      s"row-level delta references files not in snapshot v$scanVersion: " +
      unknown.take(3).mkString(","))
    val cap = DeletionVectors.maxInline(snap.properties)
    val grown = countsByKey.map { case (k, c) => k -> (byKey(k).dvCount + c) }
    // sidecar is sticky here too (see planMergeOnRead)
    val (inlineCandidates, overCap) = countsByKey.keys.toSeq
      .partition(k => grown(k) <= cap && byKey(k).dvRef.isEmpty)
    // same TABLE-WIDE global budget as the fluent path (planMergeOnRead)
    val (inlineKeys, demoted) = DeletionVectors.applyInlineBudget(
      inlineCandidates, grown,
      DeletionVectors.remainingInlineBudget(snap, countsByKey.keys, byKey))
    val sidecarKeys = overCap ++ demoted
    def positions: DataFrame = spark.read
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("file_key",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.LongType, nullable = false))))
      .parquet(positionFiles: _*)
    val marked =
      if (inlineKeys.isEmpty) Nil
      else {
        val set = inlineKeys.toSet
        // bounded collect: <= cap positions per inline file
        val perKey = positions.filter(col("file_key").isInCollection(set))
          .collect().map(r => (r.getString(0), r.getLong(1)))
          .groupBy(_._1).map { case (k, ps) => k -> ps.map(_._2) }
        inlineKeys.map { k =>
          val f = byKey(k)
          f.copy(dataChange = true,
            dv = (f.dv ++ perKey.getOrElse(k, Array.empty[Long])).distinct.sorted)
        }
      }
    val sidecarMarked =
      if (sidecarKeys.isEmpty) Nil
      else {
        val set = sidecarKeys.toSet
        val newPos = positions.filter(col("file_key").isInCollection(set))
          .select(col("file_key"), col("pos"))
        val oldPos = DeletionVectors.dvLookup(
          spark, path, sidecarKeys.map(byKey), "file_key", "pos")
        val rel = DeletionVectors.writeSidecar(newPos.unionByName(oldPos), path)
        sidecarKeys.map { k =>
          byKey(k).copy(dataChange = true, dv = Nil,
            dvRef = Some(DvRef(rel, grown(k))))
        }
      }
    val dvPaths = (inlineKeys ++ sidecarKeys).map(byKey(_).path).toSet
    // SQL UPDATE/MERGE re-inserted rows may carry identity values past
    // the high-water mark (BY DEFAULT explicit inserts ride this path
    // too) — advance it in the same commit or later allocation collides
    val idProps = IdentityColumns.advance(spark, path, snap.schema,
      snap.properties, insertAdds, generated = Nil)
    val meta =
      if (idProps.isEmpty) None
      else Some(Metadata(snap.schema.json, snap.properties ++ idProps,
        snap.partitionColumns))
    commitOp(snap, op,
      params + ("deletionVectors" -> dvPaths.size.toString,
                "insertedFiles" -> insertAdds.size.toString),
      marked ++ sidecarMarked ++ insertAdds,
      removesFor(snap, dvPaths), meta, FullRead): Unit
  }

  // --------------------------------------------------- maintenance utils

  /** Rewrite the table into `numFiles` files without changing the
    * logical row set (`dataChange=false`, README.md:403-412): past and
    * current versions keep identical row sets.
    */
  def compact(numFiles: Int): Unit = {
    val snap = snapshot
    // bucketed tables: writeFiles re-buckets unconditionally (the
    // bucket count IS the file count), so the caller's repartition
    // would only add a dead shuffle
    val rows = layoutRows(snap, None)
    val arranged =
      if (Bucketing.spec(snap.properties).isDefined) rows
      else rows.repartition(numFiles)
    val adds = writeFiles(spark, arranged,
      path, dataChange = false, snap.partitionColumns)
    commitOp(snap, "WRITE",
      Map("mode" -> "Overwrite", "dataChange" -> "false"),
      adds, snap.files.map(f =>
        RemoveFile(f.path, System.currentTimeMillis(), dataChange = false)),
      None, LayoutOnly)
  }

  /** Bin-packing compaction — Delta's actual OPTIMIZE semantics:
    * rewrite ONLY the files below `minFileBytes` (default: half the
    * target) into ~`targetFileBytes` outputs, plus any file carrying a
    * deletion vector (rewriting materializes the deletions and returns
    * the file to the native scan path). Well-sized clean files are
    * NEVER touched — on a 100 TB table the maintenance job pays for
    * the small-file tail of recent ingestion, not for petabytes that
    * are already laid out right (`compact` rewrites everything and
    * remains the reference-choreography primitive). Layout-only
    * (`dataChange=false`); returns the number of files rewritten.
    */
  def optimize(targetFileBytes: Long = 128L * 1024 * 1024,
               minFileBytes: Long = -1L): Long = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive")
    val minBytes = if (minFileBytes >= 0) minFileBytes else targetFileBytes / 2
    val snap = snapshot
    val selected = snap.files.filter(f => f.size < minBytes || f.hasDv)
    // one small clean file alone cannot be packed any better
    if (selected.size < 2 && !selected.exists(_.hasDv)) return 0L
    val sel = selected.map(_.path).toSet
    val numFiles = math.max(1,
      math.ceil(selected.map(_.size).sum.toDouble / targetFileBytes).toInt)
    val rows = layoutRows(snap, Some(sel))
    // bucketed: skip the pre-shuffle, writeFiles re-buckets anyway
    val arranged =
      if (Bucketing.spec(snap.properties).isDefined) rows
      else if (snap.partitionColumns.isEmpty) rows.repartition(numFiles)
      else rows.repartition(numFiles, snap.partitionColumns.map(col): _*)
    val adds = writeFiles(spark, arranged, path,
      dataChange = false, snap.partitionColumns)
    commitOp(snap, "OPTIMIZE",
      Map("dataChange" -> "false", "filesRewritten" -> selected.size.toString,
          "targetFileBytes" -> targetFileBytes.toString),
      adds, selected.map(f =>
        RemoveFile(f.path, System.currentTimeMillis(), dataChange = false)),
      None, LayoutOnly)
    selected.size.toLong
  }

  /** Scoped compaction: rewrite ONLY the files whose stat/partition
    * range may match `condition` (`OPTIMIZE t WHERE part = x`). At
    * 100 TB a maintenance job compacts one partition's small files per
    * run — a whole-table `compact` there would rewrite petabytes to fix
    * one hot partition's fragmentation. The predicate selects FILES,
    * not rows: every selected file is rewritten whole, so the logical
    * row set never changes (`dataChange=false`).
    */
  def compactWhere(condition: Column, targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    val snap = snapshot
    // fail fast on unresolvable predicates: FileSkipping degrades an
    // unknown column to "matches everything", which would silently turn
    // a typo'd WHERE into a whole-table rewrite
    toDF.filter(condition).queryExecution.analyzed
    val selected = candidateFiles(snap, condition)
    if (selected.isEmpty) return 0L
    val sel = selected.map(_.path).toSet
    val numFiles = math.max(1,
      math.ceil(selected.map(_.size).sum.toDouble / targetFileBytes).toInt)
    // partitioned tables cluster by the partition columns, so each
    // selected hive partition's rows land in ONE task and the write
    // emits one file per partition value — a round-robin repartition
    // would spread every partition over every task and emit up to
    // numFiles × partitions files, fragmenting what it set out to fix
    val rows = layoutRows(snap, Some(sel))
    // bucketed: skip the pre-shuffle, writeFiles re-buckets anyway
    val arranged =
      if (Bucketing.spec(snap.properties).isDefined) rows
      else if (snap.partitionColumns.isEmpty) rows.repartition(numFiles)
      else rows.repartition(numFiles, snap.partitionColumns.map(col): _*)
    val adds = writeFiles(spark, arranged, path,
      dataChange = false, snap.partitionColumns)
    commitOp(snap, "WRITE",
      Map("mode" -> "Overwrite", "dataChange" -> "false",
          "predicate" -> condition.toString),
      adds, selected.map(f =>
        RemoveFile(f.path, System.currentTimeMillis(), dataChange = false)),
      None, LayoutOnly)
    selected.size.toLong
  }

  /** Z-order clustering: rewrite the table laid out along a
    * space-filling curve over `cols` without changing the logical row
    * set (`dataChange=false`, like compaction). A single column
    * range-partitions + sorts directly (disjoint min/max ranges →
    * point predicates prune to one file); multiple columns sort by a
    * TRUE bit-interleaved z-value ([[graft.functions.ZOrder]]), so
    * every file covers a compact hyper-box and min/max stats stay
    * tight on EVERY clustered dimension — a predicate on the second
    * clustering column alone still prunes, which the old
    * lexicographic layout could not do. This is the 100 TB answer to
    * "where does data skipping get its selectivity".
    */
  def cluster(numFiles: Int, cols: String*): Unit = {
    require(cols.nonEmpty, "cluster needs at least one column")
    val snap = snapshot
    val df = layoutRows(snap, None)
    val clustered =
      if (cols.size == 1)
        df.repartitionByRange(numFiles, col(cols.head))
          .sortWithinPartitions(col(cols.head))
      else {
        val z = graft.functions.ZOrder.zValueColumn(df, cols)
        val zName = graft.functions.ZOrder.tempName("__zval")
        df.withColumn(zName, z)
          .repartitionByRange(numFiles, col(zName))
          .sortWithinPartitions(col(zName))
          .drop(zName)
      }
    val adds = writeFiles(spark, clustered, path, dataChange = false,
      snap.partitionColumns)
    commitOp(snap, "CLUSTER",
      Map("by" -> cols.mkString(","), "dataChange" -> "false"),
      adds, snap.files.map(f =>
        RemoveFile(f.path, System.currentTimeMillis(), dataChange = false)),
      None, LayoutOnly)
  }

  /** Re-establish a past version as the current state
    * (README.md:321 "use it to replace the current state").
    */
  def restoreToVersion(v: Long): Unit = {
    val snap = snapshot
    val old = snapshotAt(v)
    // identity compare: a path present in both versions may still need
    // re-adding when its deletion vector differs (re-add replaces the
    // entry on replay, restoring the old DV state)
    val current = snap.files.map(f => f.path -> f).toMap
    val wanted = old.files.map(_.path).toSet
    val adds = old.files.filterNot(f => current.get(f.path).contains(f))
    val removes = snap.files.filterNot(f => wanted.contains(f.path))
      .map(f => RemoveFile(f.path, System.currentTimeMillis(), dataChange = true))
    val meta = Metadata(old.schema.json, old.properties, old.partitionColumns)
    commitOp(snap, "RESTORE", Map("version" -> v.toString),
      adds, removes, Some(meta), FullRead)
  }

  /** `[CREATE OR] REPLACE TABLE [AS SELECT]`, Delta-style: ONE commit
    * swaps schema, properties, partitioning, and the full file set —
    * atomic for readers, and HISTORY SURVIVES (time travel and RESTORE
    * still reach pre-replace versions through their own per-version
    * Metadata; the non-staged drop-and-recreate fallback would destroy
    * the log). The data files arrive pre-written by the staged write
    * ([[connector.VintageStagedTable]]); a plain REPLACE TABLE passes
    * none. FullRead: replacing the table conflicts with any concurrent
    * data change — same rule as a full overwrite.
    */
  private[graft] def replaceWith(schema: StructType,
      properties: Map[String, String], partitionBy: Seq[String],
      adds: Seq[AddFile]): Unit = {
    val snap = snapshot
    val now = System.currentTimeMillis()
    commitOp(snap, "REPLACE TABLE",
      Map("partitionBy" -> partitionBy.mkString("[", ",", "]")),
      adds, snap.files.map(f => RemoveFile(f.path, now, dataChange = true)),
      Some(Metadata(schema.json, properties, partitionBy)), FullRead): Unit
  }

  /** Add a CHECK constraint: existing rows are validated (one scan,
    * stats-pruned like any filter), then the predicate is stored as the
    * `vintage.constraints.<name>` table property and enforced inline on
    * every subsequent data-changing write (fluent, SQL INSERT/MERGE,
    * and the native DSv2 path alike). A concurrent write that adds
    * violating rows conflicts via the FullRead commit scope — the
    * validation read covers the whole table.
    */
  def addConstraint(name: String, predicateSql: String): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"invalid constraint name '$name'")
    val snap = snapshot
    val key = Constraints.Prefix + name
    require(!snap.properties.contains(key), s"constraint $name already exists")
    val violating = toDF.filter(!Constraints.passes(predicateSql)).limit(1)
    require(violating.isEmpty,
      s"cannot add CHECK constraint $name ($predicateSql): existing rows violate it, " +
      s"e.g. ${violating.collect().headOption.getOrElse("")}")
    commitOp(snap, "ADD CONSTRAINT",
      Map("name" -> name, "expr" -> predicateSql), Nil, Nil,
      Some(Metadata(snap.schema.json, snap.properties + (key -> predicateSql),
        snap.partitionColumns)),
      FullRead)
  }

  /** Drop a CHECK constraint by name (no-op commit if absent and
    * `ifExists`).
    */
  def dropConstraint(name: String, ifExists: Boolean = false): Unit = {
    val snap = snapshot
    val key = Constraints.Prefix + name
    if (!snap.properties.contains(key)) {
      if (ifExists) return
      throw new IllegalArgumentException(s"no such constraint: $name")
    }
    commitOp(snap, "DROP CONSTRAINT", Map("name" -> name), Nil, Nil,
      Some(Metadata(snap.schema.json, snap.properties - key,
        snap.partitionColumns)),
      NoRead)
  }

  /** `ALTER TABLE … ALTER COLUMN c SYNC IDENTITY` (Delta's surface):
    * ADVANCE the high-water mark past the data — max of the column for
    * a positive step, min for a negative one. The repair tool for a
    * mark left BEHIND the data by out-of-band file surgery (CONVERT,
    * manual log edits). Strictly one-directional, like Delta's: a mark
    * ahead of the data (rows deleted) never lowers — those ids still
    * exist in time travel and the change feed, and recycling them
    * would hand a CDC consumer an unrelated insert under a
    * previously-deleted id. One stats-prunable scan; FullRead scope,
    * so a concurrent write invalidates the sync rather than racing it.
    * Returns the mark after the sync.
    */
  def syncIdentity(column: String): Option[Long] = {
    val snap = snapshot
    val (c, spec) = IdentityColumns.specs(snap.properties)
      .find(_._1.equalsIgnoreCase(column))
      .getOrElse(throw new IllegalArgumentException(
        s"$column is not an identity column"))
    val edgeAgg = if (spec.step > 0) max(col(c)) else min(col(c))
    val row = toDF.agg(edgeAgg).head()
    val current = IdentityColumns.hwm(snap.properties, c)
    val observed = if (row.isNullAt(0)) None else Some(row.getLong(0))
    val newMark = observed.filter(o => current.forall(h => spec.beyond(o, h)))
    newMark.foreach { m =>
      commitOp(snap, "SYNC IDENTITY",
        Map("column" -> c, "highWaterMark" -> m.toString),
        Nil, Nil,
        Some(Metadata(snap.schema.json,
          snap.properties + (IdentityColumns.hwmKey(c) -> m.toString),
          snap.partitionColumns)),
        FullRead): Unit
    }
    newMark.orElse(current)
  }

  /** Merge table properties as a metadata-only commit (the fluent
    * `ALTER TABLE … SET TBLPROPERTIES`). Feature-activating properties
    * (deletion vectors, …) grow the protocol in the same commit via
    * [[commitOp]]'s metadata path. Column mapping must go through
    * [[enableColumnMapping]] — it needs the schema stamped, not just
    * the property set.
    */
  def setProperties(props: Map[String, String]): Unit = {
    require(!props.contains(ColumnMapping.ModeProp),
      s"set ${ColumnMapping.ModeProp} via enableColumnMapping() — the " +
      "schema must be stamped with physical names in the same commit")
    // bucketing is a physical-layout contract over files that already
    // exist — it can only be declared at CREATE, when there are none
    require(!props.keys.exists(_.startsWith("vintage.bucketing.")),
      "bucketing is fixed at table creation; existing files would not " +
      "carry the claimed bucket layout")
    val snap = snapshot
    commitOp(snap, "SET TBLPROPERTIES",
      Map("properties" -> props.keys.toSeq.sorted.mkString(",")),
      Nil, Nil,
      Some(Metadata(snap.schema.json, snap.properties ++ props,
        snap.partitionColumns)),
      NoRead): Unit
  }

  /** `ALTER TABLE … DROP FEATURE`: shrink the protocol by `name` once
    * the table no longer depends on it — the downgrade path for a
    * table that turned a feature on, stopped using it, and wants plain
    * readers/writers back at the gate. One commit carries BOTH the
    * cleaned metadata (activating properties removed) and the shrunken
    * [[Protocol]]; replay takes the latest protocol action, and time
    * travel to pre-drop versions still sees (and gets gated by) the
    * old protocol, so history stays exactly as committed.
    *
    * Dropping is refused while anything live still needs the feature:
    *   - metadata that re-derives it (identity/generated/default
    *     columns, an activating property this call doesn't own);
    *   - live deletion vectors (run [[optimize]] first — it rewrites
    *     every DV-carrying file);
    *   - `columnMapping` / `typeWidening` ever: files on disk store
    *     physical names / narrower types that only the feature's
    *     metadata can read correctly. No purge short of rewriting and
    *     re-creating the table removes that dependency.
    *
    * Row tracking IS droppable: `baseRowId`s on files and the
    * high-water mark become inert metadata no reader consults once
    * the property is gone.
    *
    * The DV liveness check reads the file list ([[Snapshot.files]] —
    * the compatibility tier on spilled snapshots): a rare one-shot
    * maintenance command, same cost class as vacuum/restore.
    */
  def dropFeature(name: String): Unit = {
    val snap = snapshot
    val p = snap.protocol
    require(p.readerFeatures.contains(name) || p.writerFeatures.contains(name),
      s"feature '$name' is not active on $path (reader=" +
      s"${p.readerFeatures.mkString(",")}; writer=${p.writerFeatures.mkString(",")})")
    require(name != Protocol.ColumnMappingFeature,
      "columnMapping cannot be dropped: files store physical column names " +
      "that only the mapping metadata can resolve")
    require(name != Protocol.TypeWideningFeature,
      "typeWidening cannot be dropped: files written before a widening " +
      "store the narrower type and need the feature to read correctly")
    // the activating properties leave in the SAME commit
    val cleaned = snap.properties.filterNot { case (k, _) =>
      k == s"${Protocol.FeaturePropPrefix}$name" ||
      (name == Protocol.DeletionVectors && k == DeletionVectors.EnabledProp) ||
      (name == Protocol.RowTrackingFeature && k == RowTracking.EnabledProp)
    }
    val still = Protocol.required(snap.schema, cleaned)
    require(!(still.readerFeatures ++ still.writerFeatures).contains(name),
      s"feature '$name' is still required by the table metadata " +
      "(identity/generated/default columns or another activating property); " +
      "remove the dependent metadata first")
    if (name == Protocol.DeletionVectors) {
      val dvFiles = snap.files.count(_.hasDv)
      require(dvFiles == 0,
        s"$dvFiles live files still carry deletion vectors; run optimize() " +
        "to purge them, then drop the feature")
    }
    val shrunk = Protocol(
      p.readerFeatures.filterNot(_ == name),
      p.writerFeatures.filterNot(_ == name))
    commitOp(snap, "DROP FEATURE", Map("feature" -> name), Nil, Nil,
      Some(Metadata(snap.schema.json, cleaned, snap.partitionColumns)),
      NoRead, extra = Seq(shrunk)): Unit
  }

  /** Enable column mapping ("name" mode): stamps `physical = current
    * logical` on every field so all existing files stay readable, and
    * unlocks [[renameColumn]]/[[dropColumn]] as metadata-only commits.
    * Idempotent. See [[ColumnMapping]] for the design.
    */
  def enableColumnMapping(): Unit = {
    val snap = snapshot
    if (ColumnMapping.active(snap.properties)) return
    commitOp(snap, "SET COLUMN MAPPING", Map("mode" -> "name"), Nil, Nil,
      Some(Metadata(ColumnMapping.stamp(snap.schema).json,
        snap.properties + (ColumnMapping.ModeProp -> "name"),
        snap.partitionColumns)),
      NoRead): Unit
  }

  /** RENAME COLUMN as a metadata-only commit (requires column
    * mapping): the logical name changes, the physical name inside
    * every file stays — zero data rewritten at any table size. Blocked
    * when a CHECK constraint references the column (the stored
    * predicate text would silently stop matching).
    */
  def renameColumn(existing: String, newName: String): Unit = {
    val snap = snapshot
    require(ColumnMapping.active(snap.properties),
      "RENAME COLUMN requires column mapping: run enableColumnMapping() or " +
      s"ALTER TABLE … SET TBLPROPERTIES('${ColumnMapping.ModeProp}'='name') first")
    val resolved = ColumnMapping.resolveName(snap.schema, existing)
    requireNotInConstraints(snap, resolved, "rename")
    val schema2 = ColumnMapping.renameColumnIn(snap.schema, existing, newName)
    val parts2 = snap.partitionColumns.map(c =>
      if (c.equalsIgnoreCase(resolved)) newName else c)
    val props2 = IdentityColumns.rewriteProps(
      rewriteBloomProp(snap.properties, resolved, Some(newName)),
      resolved, Some(newName))
    commitOp(snap, "RENAME COLUMN", Map("from" -> resolved, "to" -> newName),
      Nil, Nil, Some(Metadata(schema2.json, props2, parts2)), NoRead): Unit
  }

  /** DROP COLUMN as a metadata-only commit (requires column mapping —
    * without the physical-name indirection a later re-add of the same
    * name would resurrect the old values from surviving files). The
    * orphaned physical column ages out as files are rewritten.
    */
  def dropColumn(name: String): Unit = {
    val snap = snapshot
    require(ColumnMapping.active(snap.properties),
      "DROP COLUMN requires column mapping: run enableColumnMapping() or " +
      s"ALTER TABLE … SET TBLPROPERTIES('${ColumnMapping.ModeProp}'='name') first")
    val resolved = ColumnMapping.resolveName(snap.schema, name)
    require(!snap.partitionColumns.exists(_.equalsIgnoreCase(resolved)),
      s"cannot drop partition column $resolved")
    requireNotInConstraints(snap, resolved, "drop")
    val schema2 = ColumnMapping.dropColumnIn(snap.schema, resolved)
    val props2 = IdentityColumns.rewriteProps(
      rewriteBloomProp(snap.properties, resolved, None), resolved, None)
    commitOp(snap, "DROP COLUMNS", Map("columns" -> resolved),
      Nil, Nil, Some(Metadata(schema2.json, props2, snap.partitionColumns)),
      NoRead): Unit
  }

  /** Reject rename/drop of a column a stored CHECK-constraint
    * predicate references by name.
    */
  private[vintage] def requireNotInConstraints(snap: Snapshot, colName: String,
      verb: String): Unit =
    Constraints.fromProperties(snap.properties).foreach { case (n, sql) =>
      val refs = spark.sessionState.sqlParser.parseExpression(sql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.last
      }
      require(!refs.exists(_.equalsIgnoreCase(colName)),
        s"cannot $verb column $colName: CHECK constraint $n references it ($sql)")
    }

  /** Keep `vintage.bloom.columns` aligned across rename (Some) or drop
    * (None) of a column.
    */
  private[vintage] def rewriteBloomProp(props: Map[String, String], from: String,
      to: Option[String]): Map[String, String] =
    props.get("vintage.bloom.columns") match {
      case None => props
      case Some(v) =>
        val cols = v.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val updated = cols.flatMap(c =>
          if (c.equalsIgnoreCase(from)) to.toSeq else Seq(c))
        if (updated == cols) props
        else if (updated.isEmpty) props - "vintage.bloom.columns"
        else props + ("vintage.bloom.columns" -> updated.mkString(","))
    }

  /** Physically delete files that are no longer referenced by the
    * current snapshot and were removed more than `retentionHours` ago
    * (README.md:415). Past versions older than the retention window
    * become unreadable — same contract as the reference's vacuum.
    *
    * The log scan is BOUNDED: only commits after the newest checkpoint
    * that predates the retention cutoff are replayed for removal
    * timestamps (at 100k commits an unbounded replay is O(versions)
    * driver JSON parsing). Files removed before that horizon have no
    * tail entry; they are identified as non-live part-files whose FS
    * modification time also predates the cutoff — the same
    * age-based guard Delta's vacuum uses, which additionally lets
    * retention reclaim orphaned files from crashed writes.
    *
    * SAFETY: a retention window shorter than the longest concurrent
    * write is unsafe — a native DSv2 write's files are at final paths
    * (mod-time ≈ now) before their log commit, and a near-zero cutoff
    * would reclaim them mid-write, corrupting the committed version.
    * Retentions below [[VintageTable.MinSafeRetentionHours]] therefore
    * require `spark.vintage.retentionDurationCheck.enabled=false`
    * (Delta's contract for the identical hazard).
    */
  def vacuum(retentionHours: Double = 168.0): Long =
    vacuum(retentionHours, dryRun = false)

  /** As [[vacuum]]; with `dryRun = true` only COUNTS the files the
    * retention policy would delete, touching nothing.
    */
  def vacuum(retentionHours: Double, dryRun: Boolean): Long = {
    // NaN would skip the < comparison below AND compute a cutoff of
    // "now" — the exact hazard the duration check exists to stop
    require(!retentionHours.isNaN && retentionHours >= 0.0,
      s"retentionHours must be a non-negative number, got $retentionHours")
    if (retentionHours < MinSafeRetentionHours) {
      val checkEnabled = spark.conf
        .getOption("spark.vintage.retentionDurationCheck.enabled")
        .forall(_.toBoolean)
      require(!checkEnabled,
        s"retentionHours=$retentionHours is below the safe minimum " +
        s"($MinSafeRetentionHours h): files of in-flight writes could be " +
        "reclaimed mid-write. Set " +
        "spark.vintage.retentionDurationCheck.enabled=false to override.")
    }
    val snap = snapshot
    val live = snap.files.map(_.path).toSet
    val cutoff = System.currentTimeMillis() - (retentionHours * 3600 * 1000).toLong
    // newest checkpoint whose commit predates the cutoff: removals at
    // or before it are strictly older than the cutoff, so the tail
    // replay below is the only part of the log that can PROTECT a file
    val horizon = horizonCheckpoint(snap, cutoff).getOrElse(-1L)
    // latest removal timestamp per path across the tail commits. A
    // prior cleanupLog may have truncated commit JSONs below its own
    // base — start at the oldest one still on disk; truncated versions'
    // removals fall back to the mod-time guard, same as pre-horizon.
    val tailStart = math.max(horizon + 1,
      VintageLog.oldestVersionFile(path).getOrElse(0L))
    val removedAt = scala.collection.mutable.Map[String, Long]()
    // DV sidecars get the same lifetime contract as data files: a
    // sidecar referenced by the live snapshot always survives; one
    // whose reference was SUPERSEDED (the data file re-added with a
    // different vector, rewritten, or removed) is reclaimable once the
    // superseding commit predates the cutoff — mirroring removedAt.
    // References only in pre-horizon versions fall to the mod-time
    // guard, like pre-horizon data files.
    val liveDv = snap.files.flatMap(_.dvRef.map(_.path)).toSet
    // data-file path -> its sidecar in force during the tail replay
    val curRef = scala.collection.mutable.Map[String, String]()
    if (horizon >= 0)
      snapshotAt(horizon).files.foreach(f =>
        f.dvRef.foreach(r => curRef(f.path) = r.path))
    val supersededAt = scala.collection.mutable.Map[String, Long]()
    (tailStart to snap.version).foreach { v =>
      val acts = VintageLog.readVersion(path, v)
      val commitTs = acts.collectFirst { case c: CommitInfo => c.timestamp }
        .getOrElse(Long.MaxValue) // unknown timestamp must protect, not expire
      def supersede(dataPath: String, unless: Option[String]): Unit =
        curRef.remove(dataPath).filterNot(unless.contains).foreach { sc =>
          supersededAt(sc) = math.max(commitTs, supersededAt.getOrElse(sc, 0L))
        }
      acts.foreach {
        case r: RemoveFile =>
          removedAt(r.path) =
            math.max(r.deletionTimestamp, removedAt.getOrElse(r.path, 0L))
          supersede(r.path, unless = None)
        case a: AddFile =>
          supersede(a.path, unless = a.dvRef.map(_.path))
          a.dvRef.foreach { r =>
            curRef(a.path) = r.path
            supersededAt.remove(r.path) // a restore re-arms the reference
          }
        case _ => ()
      }
    }
    val dir = new HPath(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val dirUri = fs.makeQualified(dir).toUri
    // walk recursively: partitioned tables keep data files in
    // p1=v1/... subdirectories (the log dir and tmp dirs are skipped)
    val toDelete = Seq.newBuilder[String]
    val dvDirsToDelete = Seq.newBuilder[String]
    // Directory reclamation cannot trust the directory's OWN mod time:
    // object stores (S3A and friends) often report it as 0/epoch, which
    // would make a freshly staged in-flight dir look ancient and get a
    // concurrent vacuum to corrupt the commit. Grade a directory by the
    // NEWEST timestamp observable anywhere under it, and when even that
    // is 0 (no usable timestamps at all) PROTECT rather than expire.
    def newestTs(p: HPath): Long = {
      val st = try fs.listStatus(p)
        catch { case _: java.io.FileNotFoundException =>
          Array.empty[org.apache.hadoop.fs.FileStatus] }
      st.foldLeft(0L) { (acc, s) =>
        val own = math.max(acc, s.getModificationTime)
        if (s.isDirectory) math.max(own, newestTs(s.getPath)) else own
      }
    }
    def dirExpired(s: org.apache.hadoop.fs.FileStatus): Boolean = {
      val t = math.max(s.getModificationTime, newestTs(s.getPath))
      t > 0 && t < cutoff
    }
    def walk(d: HPath): Unit = fs.listStatus(d).foreach { s =>
      val name = s.getPath.getName
      if (s.isDirectory) {
        if (name == DeletionVectors.SidecarDirName) {
          // sidecar dirs reclaim WHOLE (they are single-commit units):
          // unreferenced by any retained version + past the mod-time
          // guard (covers both superseded vectors and orphans of
          // failed commits)
          fs.listStatus(s.getPath).foreach { sc =>
            if (sc.isDirectory) {
              val rel = dirUri.relativize(
                fs.makeQualified(sc.getPath).toUri).getPath
              val expired = supersededAt.get(rel) match {
                case Some(t) => t < cutoff // superseded in the tail
                case None => dirExpired(sc) // pre-horizon or orphan
              }
              if (!liveDv.contains(rel) && !curRef.values.exists(_ == rel) &&
                  expired)
                dvDirsToDelete += sc.getPath.toString
            }
          }
        } else if (name.startsWith(".tmp-")) {
          // staging litter from crashed writes (data staging,
          // row-level position files): reclaimable whole once older
          // than the cutoff — an in-flight write is protected by the
          // same retention guard as everything else
          if (dirExpired(s))
            dvDirsToDelete += s.getPath.toString
        } else if (name != VintageLog.LogDirName)
          walk(s.getPath)
      } else if (name.endsWith(".parquet") && !name.startsWith("_") &&
                 !name.startsWith(".")) {
        // any parquet data file is reclaimable — CONVERT TO VINTAGE
        // imports externally-named files (data_0001.parquet etc.) that
        // must not survive vacuum once rewritten out of the snapshot
        val rel = dirUri.relativize(fs.makeQualified(s.getPath).toUri).getPath
        val expired = removedAt.get(rel) match {
          case Some(t) => t < cutoff // removed in the tail
          case None => s.getModificationTime < cutoff // pre-horizon or orphan
        }
        if (!live.contains(rel) && expired) toDelete += s.getPath.toString
      }
    }
    walk(dir)
    val dvVictims = dvDirsToDelete.result()
    if (!dryRun)
      dvVictims.foreach(p => fs.delete(new HPath(p), true))
    val victims = toDelete.result()
    if (!dryRun && victims.nonEmpty) {
      // deletes fan out as one task wave — a serial driver loop over
      // 100k reclaimable files (months of churn on a large table) is
      // the classic vacuum bottleneck; small sets skip the job overhead
      if (victims.size < 64) victims.foreach(p => fs.delete(new HPath(p), false))
      else {
        val confBc = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(
            spark.sessionState.newHadoopConf()))
        spark.sparkContext
          .parallelize(victims, math.min(victims.size, 256))
          .foreach { p =>
            val hp = new HPath(p)
            hp.getFileSystem(confBc.value.value).delete(hp, false): Unit
          }
      }
    }
    victims.size.toLong + dvVictims.size
  }

  /** Delete log segments no longer needed to reconstruct any
    * retained version: commit JSONs and checkpoints strictly OLDER than
    * the newest checkpoint whose commit predates the retention cutoff.
    * That checkpoint stays as the replay base, and since checkpoints
    * carry the full commit history, `history()` and timestamp
    * resolution keep working across the truncation. Replay of versions
    * older than the base becomes impossible — the same contract as
    * [[vacuum]], which makes their data unreadable anyway (Delta's
    * logRetentionDuration). At one checkpoint per 10 commits a
    * never-cleaned log directory grows unboundedly; this keeps it
    * O(retention window).
    */
  def cleanupLog(retentionHours: Double = 168.0): Long = {
    require(!retentionHours.isNaN && retentionHours >= 0.0,
      s"retentionHours must be a non-negative number, got $retentionHours")
    // same duration check as vacuum: truncating recent log segments can
    // fail a concurrent reader mid-tail-replay or a streaming query's
    // next batch — short retention needs the explicit opt-out
    if (retentionHours < MinSafeRetentionHours) {
      val checkEnabled = spark.conf
        .getOption("spark.vintage.retentionDurationCheck.enabled")
        .forall(_.toBoolean)
      require(!checkEnabled,
        s"retentionHours=$retentionHours is below the safe minimum " +
        s"($MinSafeRetentionHours h): concurrent readers replaying the " +
        "tail could lose their commit files mid-read. Set " +
        "spark.vintage.retentionDurationCheck.enabled=false to override.")
    }
    val snap = snapshot
    val cutoff = System.currentTimeMillis() - (retentionHours * 3600 * 1000).toLong
    val base = horizonCheckpoint(snap, cutoff).getOrElse(return 0L)
    VintageLog.deleteSegmentsBefore(path, base)
  }

  /** Newest checkpoint whose commit predates `cutoff` — the shared
    * retention horizon of [[vacuum]] and [[cleanupLog]] (their
    * contracts must agree: vacuum makes pre-horizon DATA unreadable,
    * cleanupLog drops the matching log segments).
    */
  private def horizonCheckpoint(snap: Snapshot, cutoff: Long): Option[Long] = {
    val commitTs = snap.commits.map(c => c.version -> c.timestamp).toMap
    VintageLog.checkpointVersions(path)
      .filter(v => commitTs.get(v).exists(_ < cutoff))
      .maxOption
  }

  // ------------------------------------------------------------ internals

  /** Files whose min/max stat range may contain predicate matches —
    * the stats-pruned candidate set consulted before any scan runs.
    */
  private[graft] def candidateFiles(snap: Snapshot, condition: Column): Seq[AddFile] =
    // spilled snapshots prune DISTRIBUTED (SnapshotPruning routes);
    // statFiles carry synthetic partition-column stats, so partition
    // predicates prune here exactly like data-column stats
    SnapshotPruning.candidates(spark, snap, ColumnExpr.expr(condition))

  /** Files containing at least one row matching `condition` — the
    * copy-on-write touch set. Stats pruning narrows the scan first, so
    * a 1-key delete against a large table reads only the files whose
    * stat range contains the key.
    */
  private[vintage] def touchedFiles(snap: Snapshot, condition: Column): Set[String] = {
    val cands = candidateFiles(snap, condition)
    if (cands.isEmpty) Set.empty
    else {
      readerFor(snap)
        .parquet(cands.map(_.absolutePath(path)): _*)
        .select(col("_metadata.file_path").as(FileCol) +: logicalCols(snap): _*)
        .where(condition)
        .select(col(FileCol))
        .distinct()
        .collect()
        .map(r => relativize(r.getString(0)))
        .toSet
    }
  }

  /** Live files of `snap` named by `rel` — matching both the raw path
    * and its canonical form (cloned absolute-path files meet scan
    * `_metadata` paths on canonical terms). The ONE membership rule
    * every touched-file consumer shares.
    */
  private[vintage] def filesIn(snap: Snapshot, rel: Set[String]): Seq[AddFile] =
    snap.files.filter(isIn(rel))

  private[vintage] def isIn(rel: Set[String])(f: AddFile): Boolean =
    rel.contains(f.path) || rel.contains(VintageTable.canonicalKey(f.path))

  private[vintage] def readFiles(snap: Snapshot, rel: Set[String]): DataFrame =
    readFilesExact(snap, filesIn(snap, rel))

  /** Current rows plus their stable row ids as `_row_id` (row
    * tracking; see [[RowTracking]] for the stability contract). Rows
    * from files written BEFORE tracking was enabled have a NULL id —
    * rewrites preserve existing ids, they never invent missing ones,
    * so enable tracking at CREATE.
    */
  def toDFWithRowIds: DataFrame = {
    val snap = snapshot
    dfWithRowIds(snap, snap.files, RowTracking.RowIdCol)
  }

  /** DV-subtracted rows of `files` with their row ids in `outName`:
    * the materialized `_vintage_row_id` column when the file carries
    * one (it was produced by a layout rewrite), else `baseRowId +
    * parquet row_index`. The per-file base map rides a broadcast join
    * — file METADATA, bounded, never data-sized.
    */
  private def dfWithRowIds(snap: Snapshot, files: Seq[AddFile],
      outName: String): DataFrame = {
    require(RowTracking.enabled(snap.properties),
      s"row tracking is not enabled on $path (set ${RowTracking.EnabledProp})")
    val outSchema = StructType(snap.schema.fields :+
      StructField(outName, org.apache.spark.sql.types.LongType))
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val readSchema = ColumnMapping.physicalSchema(snap.schema)
      .add(RowTracking.MaterializedCol,
        org.apache.spark.sql.types.LongType, nullable = true)
    val rd = spark.read.schema(readSchema)
    val raw = (if (snap.partitionColumns.nonEmpty) rd.option("basePath", path)
               else rd)
      .parquet(files.map(_.absolutePath(path)): _*)
    val keyC = "__rt_key"; val idxC = "__rt_idx"
    val matC = "__rt_mat"; val baseC = "__rt_base"
    val outputCols = logicalCols(snap) ++ Seq(
      col(RowTracking.MaterializedCol).as(matC),
      DeletionVectors.fileKeyExpr(col("_metadata.file_path")).as(keyC),
      col("_metadata.row_index").as(idxC))
    val live = DeletionVectors.applyTo(raw, path, files, outputCols)
    import spark.implicits._
    val bases = files
      .map(f => (DeletionVectors.fileKey(f.absolutePath(path)), f.baseRowId))
      .toDF(keyC, baseC)
    live.join(broadcast(bases), Seq(keyC), "left")
      .withColumn(outName, coalesce(col(matC), col(baseC) + col(idxC)))
      .drop(keyC, idxC, matC, baseC)
  }

  /** Source rows of a DML REWRITE (update/delete/merge touched files),
    * carrying the materialized row-id column when row tracking is on —
    * Delta's stability contract: a rewritten survivor keeps its id, so
    * the rewrite must write it physically (the new file's base range
    * covers every row, but the read path prefers the materialized
    * column; rows the rewrite INSERTS carry null there and fall back
    * to base + index — disjoint from every materialized id because
    * base ranges never overlap). Returns the frame plus the
    * passthrough column to append to the rewrite projection.
    */
  private[vintage] def rewriteSourceExact(snap: Snapshot,
      files: Seq[AddFile]): (DataFrame, Seq[Column]) =
    if (!RowTracking.enabled(snap.properties)) (readFilesExact(snap, files), Nil)
    else (dfWithRowIds(snap, files, RowTracking.MaterializedCol),
      Seq(col(RowTracking.MaterializedCol)))

  private[vintage] def rewriteSource(snap: Snapshot,
      rel: Set[String]): (DataFrame, Seq[Column]) =
    rewriteSourceExact(snap, filesIn(snap, rel))

  /** Source frame for LAYOUT rewrites (compact / OPTIMIZE / cluster):
    * on a row-tracked table the rewritten files must physically CARRY
    * their rows' ids — new file boundaries invalidate base+index — so
    * the read appends the materialized column; readers never see it
    * (it is not in the table schema they request).
    */
  private def layoutRows(snap: Snapshot, rel: Option[Set[String]]): DataFrame =
    if (!RowTracking.enabled(snap.properties))
      rel.fold(dfForSnapshot(snap))(readFiles(snap, _))
    else dfWithRowIds(snap, rel.fold(snap.files)(filesIn(snap, _)),
      RowTracking.MaterializedCol)

  /** Read exactly these AddFiles (which need not be live in `snap` —
    * the change feed reads a REMOVED file with the deletion vector it
    * had before removal), applying each file's DV.
    */
  private[vintage] def readFilesExact(snap: Snapshot, files: Seq[AddFile]): DataFrame =
    DeletionVectors.applyTo(
      readerFor(snap).parquet(files.map(_.absolutePath(path)): _*),
      path, files, logicalCols(snap))

  /** Declared-order projection restoring LOGICAL names over a frame
    * read with the snapshot's physical schema (identity rename when
    * column mapping is off).
    */
  private[vintage] def logicalCols(snap: Snapshot): IndexedSeq[Column] =
    snap.schema.fields.toIndexedSeq.map(f =>
      col(ColumnMapping.physicalName(f)).as(f.name))

  /** Parquet reader for this table's files — requests the PHYSICAL
    * schema (what is actually inside the files under column mapping;
    * identical to the logical one otherwise). `basePath` (hive
    * partition inference) is set only for partitioned tables: a
    * shallow clone's files live OUTSIDE the table root, which basePath
    * would reject — and partitioned tables never hold cloned absolute
    * files (shallowClone rejects them).
    */
  private[vintage] def readerFor(snap: Snapshot): org.apache.spark.sql.DataFrameReader = {
    val rd = spark.read.schema(ColumnMapping.physicalSchema(snap.schema))
    if (snap.partitionColumns.nonEmpty) rd.option("basePath", path) else rd
  }

  /** Removes for AddFiles the caller already holds (pruned DML plans)
    * — never walks the snapshot file list, so merge-on-read DML on a
    * SPILLED snapshot stays materialization-free.
    */
  private[vintage] def removesForFiles(files: Seq[AddFile]): Seq[RemoveFile] = {
    val now = System.currentTimeMillis()
    files.map(f => RemoveFile(f.path, now, dataChange = true))
  }

  private[vintage] def removesFor(snap: Snapshot, rel: Set[String]): Seq[RemoveFile] = {
    val now = System.currentTimeMillis()
    // canonicalKey bridges representations: a cloned AddFile may carry
    // file:/abs while the scan's _metadata path relativized to /abs
    filesIn(snap, rel).map(f => RemoveFile(f.path, now, dataChange = true))
  }

  private[vintage] def relativize(filePath: String): String = {
    // _metadata.file_path yields a URI like file:/tmp/table/p=1/part-x.parquet;
    // keep partition subdirectories in the relative path
    val abs =
      if (filePath.contains(":")) new java.net.URI(filePath).getPath
      else filePath
    val tableAbs = Option(new java.net.URI(path).getPath).getOrElse(path)
    if (abs != null && abs.startsWith(tableAbs))
      abs.substring(tableAbs.length).stripPrefix("/")
    // outside the table root: a shallow-cloned file — produce the same
    // canonical form removesFor/readFiles compare AddFile keys in
    else VintageTable.canonicalKey(filePath)
  }

  /** Commit with optimistic-concurrency retry: when another writer
    * wins the version race, re-read the log and re-commit at the next
    * version iff the transactions are logically disjoint:
    *
    *  - none of the files this commit removes were already removed
    *    (write/write conflict);
    *  - no concurrent commit CHANGED the table metadata — schema,
    *    properties, or partitioning (Delta's ConcurrentMetadata class
    *    of conflicts). This covers every scope including NoRead: a
    *    blind append planned before `ALTER TABLE ADD CONSTRAINT`
    *    committed was not constraint-checked and must fail rather than
    *    slip violating rows past the new constraint; and a
    *    metadata-carrying commit built from a stale snapshot would
    *    silently undo the other writer's property change (lost
    *    update). A concurrent commit whose Metadata equals the
    *    snapshot's (a plain overwrite re-stamping identical metadata)
    *    does NOT conflict.
    *  - no file was concurrently ADDED that this operation should have
    *    read (read/write conflict, Delta's ConcurrentAppendException):
    *    an overwrite/restore conflicts with any concurrent data add, a
    *    predicate op (delete/update/merge) conflicts when the added
    *    files' stats may contain matching rows, a blind append or a
    *    layout-only rewrite (compact/cluster) never conflicts on adds.
    */
  private[vintage] def commitOp(
      snap: Snapshot, op: String, params: Map[String, String],
      adds: Seq[AddFile], removes: Seq[RemoveFile],
      meta: Option[Metadata], scope: ReadScope = FullRead,
      maxRetries: Int = 20, txn: Option[Txn] = None,
      extra: Seq[Action] = Nil, freshAdds: Boolean = false): Long = {
    // WRITER-FEATURE GATE: committing to a table whose protocol
    // demands features this generation does not implement would
    // corrupt invariants those features maintain
    val unwritable = snap.protocol.writerFeatures
      .filterNot(Protocol.SupportedWriter)
    if (unwritable.nonEmpty)
      throw new UnsupportedOperationException(
        s"table $path requires writer features ${unwritable.mkString(", ")} " +
        s"this engine does not support")
    // metadata changes may ACTIVATE features (DV property set, column
    // mapping enabled, first identity column…): grow the protocol in
    // the same commit so a lesser reader/writer stops at the gate
    val protoGrown: Seq[Action] = meta.toSeq.flatMap { m =>
      val req = snap.protocol.union(Protocol.required(m.schema, m.properties))
      if (req == snap.protocol) Nil else Seq(req)
    }
    var readVersion = snap.version
    var attempt = 0
    // in-commit-timestamp monotonicity (Delta's ICT semantics):
    // commit timestamps must STRICTLY increase with version, or
    // TIMESTAMP AS OF resolution is ambiguous — two commits inside
    // one clock millisecond tie, and a backwards clock step would
    // interleave. Clamp each commit past its predecessor.
    var prevTs = snap.commits.lastOption.map(_.timestamp).getOrElse(0L)
    // row tracking: fresh data files take contiguous baseRowId ranges
    // from the high-water mark. Assigned INSIDE the loop from the most
    // recently observed mark — a lost version race re-reads the
    // winner's mark and re-assigns, so ranges never overlap without
    // serializing appends (see [[RowTracking]]). Files that already
    // carry a base (DV re-adds, restore) and layout rewrites
    // (dataChange=false: ids are materialized in the files) pass
    // through untouched.
    // RESTORE re-adds historical files as they were — stamping a
    // pre-tracking file there would invent ids the contract says are
    // never invented; same for a DV commit re-adding a live path
    val trackRows = op != "RESTORE" && RowTracking.enabled(
      meta.map(_.properties).getOrElse(snap.properties))
    // `freshAdds` (appends, native writes): every add is a newly
    // written file, so the liveness check — which exists to keep a
    // re-ADDED pre-tracking file from being stamped with invented
    // ids — is skipped, and a blind append on a SPILLED snapshot
    // commits without materializing the file list at all
    lazy val livePaths = snap.files.map(_.path).toSet
    var rowIdBase = snap.rowIdHwm
    // a NoRead commit (blind append) can lose a version race but can
    // never semantically conflict, so pure races get a much higher
    // budget than genuinely conflict-prone scopes — a fleet of
    // concurrent appenders must not fail spuriously on contention
    val attemptCap = if (scope == NoRead) maxRetries * 10 else maxRetries
    while (true) {
      val v = readVersion + 1
      val info = CommitInfo(v,
        math.max(System.currentTimeMillis(), prevTs + 1), op, params)
      val (finalAdds, hwmAction) =
        if (!trackRows) (adds, Nil)
        else {
          var next = rowIdBase
          val assigned = adds.map { a =>
            if (a.dataChange && a.baseRowId.isEmpty &&
                a.numRecords.isDefined && (freshAdds || !livePaths(a.path))) {
              val w = a.copy(baseRowId = Some(next))
              next += a.numRecords.get
              w
            } else a
          }
          (assigned,
            if (next != rowIdBase) Seq(RowIdHighWaterMark(next)) else Nil)
        }
      try {
        VintageLog.commit(path, v,
          Seq(info) ++ txn.toSeq ++ protoGrown ++ hwmAction ++ extra ++
            meta.toSeq ++ removes ++ finalAdds)
        return v
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > attemptCap) throw e
          // jittered backoff de-synchronizes racing writers (bounded:
          // contention cost, not liveness risk)
          Thread.sleep(
            scala.util.Random.nextInt(math.min(10 * attempt, 200)).toLong)
          val current = VintageLog.replay(path)
          // same-app race: another attempt of this very transaction won
          // the version — the data is committed, so this attempt just
          // succeeds without writing (idempotent, never an error)
          txn.foreach { t =>
            if (current.txns.get(t.appId).exists(_ >= t.version))
              return current.version
          }
          // COPY INTO overlap: a concurrent run ingested (some of) the
          // same source files — committing would duplicate their rows.
          // Fail retryably: the caller's re-run skips what's ingested.
          val ingestOverlap = extra.collect {
            case i: IngestedFile if current.ingested.contains(i.source) => i.source
          }
          if (ingestOverlap.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"source files were concurrently ingested into $path: " +
              s"${ingestOverlap.take(3).mkString(",")} — re-run COPY INTO " +
              s"(already-ingested files are skipped) (caused by: $e)")
          // IDENTITY compare, not path membership: a deletion-vector
          // commit re-adds the same path with a new DV, so two racing
          // DV deletes of one file would both see the path "live" —
          // the second must fail (its DV union was computed from the
          // stale vector: committing it would silently UNDELETE the
          // winner's rows). Only computed when this commit removes
          // anything — a raced blind append on a spilled snapshot must
          // not force both file lists.
          val removedConcurrently = removes.nonEmpty && {
            val liveNow = current.files.map(f => f.path -> f).toMap
            val snapByPath = snap.files.map(f => f.path -> f).toMap
            removes.exists(r => liveNow.get(r.path) != snapByPath.get(r.path))
          }
          // metadata conflicts are judged from the replayed snapshot
          // (no extra per-version file reads — a NoRead append's retry
          // must not race readers against a commit file mid-publish)
          val metaChanged = current.schema != snap.schema ||
            current.properties != snap.properties ||
            current.partitionColumns != snap.partitionColumns
          val addConflict = conflictingAdds(snap.version, current.version,
            snap.schema, scope)
          if (removedConcurrently || addConflict.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"conflicting concurrent update to $path: " +
              (if (removedConcurrently) "files this commit rewrites were already rewritten"
               else s"files were concurrently added that this ${op.toLowerCase} " +
                 s"should have read: ${addConflict.take(3).mkString(",")}") +
              s" (caused by: $e)")
          if (metaChanged)
            // typed so property-race retry loops (identity marks) can
            // re-plan on METADATA conflicts without also swallowing
            // genuine data conflicts like the two branches above
            throw new VintageTable.MetadataConflictException(
              s"conflicting concurrent update to $path: table metadata " +
              s"(schema, properties, or partitioning) changed " +
              s"concurrently (caused by: $e)")
          readVersion = current.version
          prevTs = math.max(prevTs,
            current.commits.lastOption.map(_.timestamp).getOrElse(0L))
          rowIdBase = math.max(rowIdBase, current.rowIdHwm)
      }
    }
    -1L // unreachable
  }

  /** Paths of files added with dataChange=true in (readVersion,
    * currentVersion] that the given read scope should have seen.
    * Stats-based: a predicate op conflicts only when an added file's
    * min/max range may contain matching rows (degrades to conflict when
    * stats are missing — sound, never silently non-serializable).
    */
  private def conflictingAdds(
      readVersion: Long, currentVersion: Long,
      schema: StructType, scope: ReadScope): Seq[String] = scope match {
    case NoRead | LayoutOnly => Nil
    case _ =>
      val added = ((readVersion + 1) to currentVersion)
        .flatMap(v => VintageLog.readVersion(path, v))
        .collect { case a: AddFile if a.dataChange => a }
      scope match {
        case FullRead => added.map(_.path)
        case PredicateRead(cond) =>
          FileSkipping.candidates(schema, added, cond).map(_.path)
        case _ => Nil // unreachable (NoRead/LayoutOnly handled above)
      }
  }
}

object VintageTable {
  /** Concurrent-commit conflict caused ONLY by a metadata change —
    * retry loops that re-plan around property races (identity
    * high-water marks) catch this subtype so they never swallow
    * genuine data conflicts (concurrent adds/removes).
    */
  private[graft] class MetadataConflictException(msg: String)
      extends java.util.ConcurrentModificationException(msg)

  private[vintage] val FileCol = "__vintage_file"

  /** Staged-file count at or below which a commit finalizes its
    * renames + footer-stat reads on the DRIVER instead of a Spark job
    * (see writeFiles): the distributed wave exists for corpus-scale
    * commits staging hundreds of files, where per-file footer reads
    * dominate; below this the job fixed cost (schedule + conf
    * broadcast + collect) exceeds the work by an order of magnitude.
    */
  private[vintage] val DriverCommitFiles = 8

  /** Open an existing table (README.md:125 `DeltaTable.forPath`). */
  def forPath(spark: SparkSession, path: String): VintageTable = {
    require(VintageLog.exists(path), s"not a vintage table: $path")
    new VintageTable(spark, absolutize(path), None)
  }

  /** Qualify a possibly-relative path against the default FS (keeps
    * scheme-qualified hdfs://, s3a:// etc. untouched).
    */
  private[vintage] def absolutize(path: String): String = {
    val p = new HPath(path)
    if (p.isAbsoluteAndSchemeAuthorityNull)
      p.toString
    else if (p.toUri.getScheme != null) p.toString
    else new HPath(new java.io.File(path).getAbsolutePath).toString
  }

  def isVintageTable(path: String): Boolean = VintageLog.exists(path)

  /** Minimum vacuum retention (hours) the duration check allows —
    * Delta's default week.
    */
  val MinSafeRetentionHours: Double = 168.0

  /** Canonical comparison form of a log file path: local-FS URIs
    * (`file:/…`) reduce to their plain path so keys match whichever
    * form the writer recorded; non-local schemes (s3a, hdfs) keep the
    * full URI — stripping would lose bucket/authority.
    */
  private[vintage] def canonicalKey(p: String): String =
    if (!p.contains(":")) p
    else {
      val u = try new java.net.URI(p) catch { case _: Exception => null }
      if (u != null && (u.getScheme == null || u.getScheme == "file") &&
          u.getPath != null) u.getPath
      else p
    }

  /** Columns listed in the `vintage.bloom.columns` table property. */
  def bloomColumns(props: Map[String, String]): Seq[String] =
    props.getOrElse("vintage.bloom.columns", "")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** Create a new table at `path` from `df` (README.md:92 initial
    * `mode("overwrite")` write). `partitionBy` columns become
    * hive-style directories; the read path prunes them via synthetic
    * min=max stats (see [[PartitionPaths]]).
    */
  def create(spark: SparkSession, path: String, df: DataFrame,
             properties: Map[String, String] = Map.empty,
             partitionBy: Seq[String] = Nil,
             txn: Option[(String, Long)] = None): VintageTable = {
    val abs = absolutize(path)
    val dir = new HPath(abs)
    dir.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(dir)
    require(VintageLog.latestVersion(abs) < 0, s"table already exists: $abs")
    // a previous table at this path may have been removed with raw FS
    // calls (not DROP TABLE); its cached (dir, version) snapshots must
    // not be served for the new table
    VintageLog.invalidate(abs)
    // generated columns missing from the input are computed here
    // (their consistency constraints then validate every later write)
    val df1 = GeneratedColumns.complete(df, properties)
    val missing = partitionBy.filterNot(c =>
      df1.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty, s"partition columns not in schema: $missing")
    Bucketing.validate(properties, df1.schema, partitionBy)
    // creating directly in column-mapping mode: stamp physical names up
    // front so the first files are already written under them
    val schema0 =
      if (ColumnMapping.active(properties)) ColumnMapping.stamp(df1.schema)
      else df1.schema
    val adds0 = writeFiles(spark, df1, abs, dataChange = true, partitionBy,
      tableProps = properties, tableSchema = schema0)
    val (adds, hwm) = assignRowIds(adds0, properties, from = 0L)
    val info = CommitInfo(0L, System.currentTimeMillis(), "WRITE",
      Map("mode" -> "Overwrite",
          "partitionBy" -> partitionBy.mkString("[", ",", "]")))
    VintageLog.commit(abs, 0L,
      Seq(info, Protocol.required(schema0, properties),
        Metadata(schema0.json, properties, partitionBy)) ++ hwm ++
        txn.map { case (a, v) => Txn(a, v) }.toSeq ++ adds)
    new VintageTable(spark, abs, None)
  }

  /** Initial row-id assignment for v0 commits (single writer by
    * construction — the create wins or fails, no retry re-read needed).
    */
  private def assignRowIds(adds: Seq[AddFile], props: Map[String, String],
      from: Long): (Seq[AddFile], Seq[Action]) =
    if (!RowTracking.enabled(props)) (adds, Nil)
    else {
      var next = from
      val assigned = adds.map { a =>
        if (a.dataChange && a.baseRowId.isEmpty && a.numRecords.isDefined) {
          val w = a.copy(baseRowId = Some(next)); next += a.numRecords.get; w
        } else a
      }
      (assigned, if (next != from) Seq(RowIdHighWaterMark(next)) else Nil)
    }

  /** Create version 0 from ALREADY-WRITTEN data files (the staged-CTAS
    * path: executors streamed the query result into the table
    * directory first, this publishes it in one atomic commit — until
    * then no log exists and the files are invisible).
    */
  private[graft] def createWithFiles(
      spark: SparkSession, path: String, schema: StructType,
      properties: Map[String, String], partitionBy: Seq[String],
      adds: Seq[AddFile]): VintageTable = {
    val abs = absolutize(path)
    require(VintageLog.latestVersion(abs) < 0, s"table already exists: $abs")
    VintageLog.invalidate(abs)
    val info = CommitInfo(0L, System.currentTimeMillis(), "CREATE TABLE AS SELECT",
      Map("partitionBy" -> partitionBy.mkString("[", ",", "]")))
    val (assigned, hwm) = assignRowIds(adds, properties, from = 0L)
    VintageLog.commit(abs, 0L,
      Seq(info, Protocol.required(schema, properties),
        Metadata(schema.json, properties, partitionBy)) ++ hwm ++ assigned)
    new VintageTable(spark, abs, None)
  }

  /** In-place conversion of an existing Parquet directory into a
    * vintage table (Delta's `CONVERT TO DELTA`): commits AddFiles that
    * reference the files WHERE THEY ARE — no row is read or rewritten,
    * so a 100 TB directory converts in one distributed footer-stat task
    * wave plus a single commit. Hive-partitioned layouts
    * (`p=v/part-*.parquet`) are detected from the paths; partition
    * column types come from Spark's partition inference unless
    * overridden via `partitionSchema` (values are stored as path
    * strings in the log either way, so an override only changes the
    * read-side cast).
    */
  def convert(spark: SparkSession, path: String,
              partitionSchema: StructType = new StructType(),
              properties: Map[String, String] = Map.empty): VintageTable = {
    val abs = absolutize(path)
    require(!VintageLog.exists(abs), s"already a vintage table: $abs")
    VintageLog.invalidate(abs)
    val dir = new HPath(abs)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(dir) && fs.getFileStatus(dir).isDirectory,
      s"not a directory: $abs")

    // discover data files; descend only into hive `k=v` partition dirs
    // (same convention as the write path) and skip hidden/metadata files
    def discover(d: HPath): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(d).toSeq.flatMap {
        case s if s.isDirectory && s.getPath.getName.contains("=") =>
          discover(s.getPath)
        case s if s.isFile && s.getPath.getName.endsWith(".parquet") &&
                  !s.getPath.getName.startsWith("_") &&
                  !s.getPath.getName.startsWith(".") => Seq(s)
        case _ => Nil
      }
    val found = discover(dir)
    require(found.nonEmpty, s"no parquet files to convert under $abs")
    val dirUri = fs.makeQualified(dir).toUri
    val rels = found.map { s =>
      val rel = dirUri.relativize(fs.makeQualified(s.getPath).toUri).getPath
      (rel, s.getLen, s.getModificationTime)
    }

    // schema: Spark's reader gives data columns + inferred partition
    // columns (from the hive dirs); caller-provided partitionSchema
    // overrides inferred partition types
    val inferred = spark.read.parquet(abs).schema
    val schema = StructType(inferred.map { f =>
      partitionSchema.fields.find(_.name.equalsIgnoreCase(f.name))
        .map(p => f.copy(dataType = p.dataType)).getOrElse(f)
    })
    val partCols = {
      val fromPaths = PartitionPaths.parsePartitionValues(rels.head._1).keySet
      schema.fieldNames.filter(n => fromPaths.exists(_.equalsIgnoreCase(n))).toSeq
    }
    val badOverride = partitionSchema.fieldNames.filterNot(n =>
      partCols.exists(_.equalsIgnoreCase(n)))
    require(badOverride.isEmpty,
      s"partitionSchema columns not found in the directory layout: " +
      badOverride.mkString(","))
    rels.foreach { case (rel, _, _) =>
      val keys = PartitionPaths.parsePartitionValues(rel).keySet
      require(partCols.forall(c => keys.exists(_.equalsIgnoreCase(c))),
        s"inconsistent partition layout at $rel (expected ${partCols.mkString(",")})")
    }

    // distributed footer-stat read — the only per-file work, never a
    // row scan and never a driver loop
    val statCols = ParquetStats.statsColumns(schema)
    val absStr = abs
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    val adds = spark.sparkContext
      .parallelize(rels, math.min(rels.size, 256))
      .map { case (rel, size, modTime) =>
        val conf = confBc.value.value
        val (numRecords, stats) =
          ParquetStats.read(new HPath(absStr, rel), conf, statCols)
        AddFile(rel, size, modTime, dataChange = true, Some(numRecords),
          stats, PartitionPaths.parsePartitionValues(rel))
      }.collect().toSeq

    val info = CommitInfo(0L, System.currentTimeMillis(), "CONVERT",
      Map("numFiles" -> adds.size.toString,
          "partitionBy" -> partCols.mkString("[", ",", "]")))
    val (assigned, hwm) = assignRowIds(adds, properties, from = 0L)
    VintageLog.commit(abs, 0L,
      Seq(info, Protocol.required(schema, properties),
        Metadata(schema.json, properties, partCols)) ++ hwm ++ assigned)
    new VintageTable(spark, abs, None)
  }

  /** Create if absent, else overwrite as a new version. */
  def createOrOverwrite(spark: SparkSession, path: String, df: DataFrame): VintageTable =
    if (isVintageTable(path)) {
      val t = forPath(spark, path); t.overwrite(df); t
    } else create(spark, path, df)

  /** Write `df`'s partitions as Parquet files into the table directory
    * and return their AddFile actions with per-column min/max/null-count
    * stats from the Parquet footers. Files are staged in a temp subdir,
    * then a distributed job renames each into place and reads its
    * footer — the driver never serializes per-file IO, so a
    * thousand-file commit costs one task wave, not a driver loop.
    *
    * With `partitionBy` set the stage writes hive-style
    * `p1=v1/.../part-*.parquet` layout; each file keeps its partition
    * subpath when renamed into the table and records its
    * partitionValues in the AddFile.
    */
  private[vintage] def writeFiles(
      spark: SparkSession, df: DataFrame, tableDir: String,
      dataChange: Boolean, partitionBy: Seq[String] = Nil,
      tableProps: Map[String, String] = null,
      tableSchema: StructType = null): Seq[AddFile] = {
    val dir = new HPath(tableDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new HPath(tableDir, s".tmp-${UUID.randomUUID().toString.take(8)}")
    val props =
      if (tableProps != null) tableProps
      else if (VintageLog.exists(tableDir)) VintageLog.replay(tableDir).properties
      else Map.empty[String, String]
    // column mapping: the incoming frame is in LOGICAL names (that is
    // what constraints and callers speak); the files must store
    // PHYSICAL names. The mapping source is the table schema — passed
    // by schema-evolving callers, replayed otherwise.
    val mapSchema =
      if (tableSchema != null) tableSchema
      else if (VintageLog.exists(tableDir)) VintageLog.replay(tableDir).schema
      else null
    val mappingOn = mapSchema != null && ColumnMapping.mapped(mapSchema)
    def phys(c: String): String =
      if (mappingOn) ColumnMapping.toPhysical(mapSchema, c) else c
    // CHECK constraints ride inside the write plan (codegen'd filter
    // that raises on violation) — layout-only rewrites (compaction,
    // clustering) skip the check: their rows were validated when first
    // written
    val checked = if (dataChange) Constraints.enforce(df, props) else df
    val physDf0 =
      if (!mappingOn) checked
      else checked.select(checked.schema.fieldNames.toIndexedSeq
        .map(c => col(c).as(phys(c))): _*)
    // bucketed table: hash-repartition so the task partition index IS
    // the bucket id (repartition's HashPartitioning is the identical
    // pmod(murmur3, n) the bucketed-scan planner assumes); the rename
    // below then stamps that id into the committed file name. Applies
    // to EVERY write path — appends, CoW rewrites, compaction — so the
    // layout invariant survives arbitrary DML (see [[Bucketing]]).
    val bucketing = Bucketing.spec(props)
    val physDf = bucketing match {
      case Some((cols, n)) =>
        val parted = physDf0.repartition(n, cols.map(c => col(phys(c))): _*)
        // declared in-bucket sort order: written sorted so a fresh
        // (one-file-per-bucket) layout serves merge joins with no Sort
        Bucketing.sortCols(props) match {
          case Nil => parted
          case sorts => parted.sortWithinPartitions(
            sorts.map(c => col(phys(c))): _*)
        }
      case None => physDf0
    }
    val physPartitionBy = partitionBy.map(phys)
    var writer = physDf.write.mode("overwrite")
    // `vintage.bloom.columns` table property: write parquet bloom
    // filters for the listed columns — at 100 TB min/max stats cannot
    // prune point lookups on high-cardinality unsorted keys, but the
    // parquet reader's row-group bloom check can (applied automatically
    // under pushed equality filters)
    bloomColumns(props).foreach { c =>
      writer = writer.option(s"parquet.bloom.filter.enabled#${phys(c)}", "true")
    }
    // on ANY staging failure (constraint violation is a routine one)
    // the tmp dir must go: vacuum deliberately skips .tmp- dirs, so a
    // leak here would never be reclaimed
    try {
      (if (physPartitionBy.nonEmpty) writer.partitionBy(physPartitionBy: _*) else writer)
        .parquet(tmp.toString)
    } catch { case e: Throwable =>
      try fs.delete(tmp, true) catch { case _: java.io.IOException => () }
      throw e
    }
    // collect staged files (recursively under partition dirs), keeping
    // each file's partition subpath
    val tmpUri = fs.makeQualified(tmp).toUri
    def staged(d: HPath): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(d).toSeq.flatMap {
        case s if s.isDirectory && s.getPath.getName.contains("=") => staged(s.getPath)
        case s if s.isFile && s.getPath.getName.startsWith("part-") &&
                  s.getPath.getName.endsWith(".parquet") => Seq(s)
        case _ => Nil
      }
    val moves: Seq[(String, String)] = staged(tmp).map { s =>
      val relDir = tmpUri.relativize(fs.makeQualified(s.getPath.getParent).toUri)
        .getPath.stripSuffix("/")
      val prefix = if (relDir.isEmpty) "" else s"$relDir/"
      // bucketed: carry the staged task index (== bucket id under the
      // repartition above) into the committed name as the `_NNNNN`
      // suffix Spark's BucketingUtils parses on the scan side
      val bucketSuffix = bucketing.flatMap { _ =>
        Bucketing.stagedTaskId(s.getPath.getName)
      }.map(id => f"_$id%05d").getOrElse("")
      (s.getPath.toString,
       s"${prefix}part-${UUID.randomUUID().toString}$bucketSuffix.snappy.parquet")
    }
    val statCols = ParquetStats.statsColumns(physDf.schema)
    // log-level per-file blooms for the opted-in columns (PHYSICAL
    // names — stats are keyed physical in the log, remapped to logical
    // on read like min/max)
    val bloomPhysCols = bloomColumns(props).map(phys)
    val bloomBits = props.getOrElse("vintage.bloom.bits",
      StatsBloom.DefaultBits.toString).toInt
    val tableDirStr = tableDir
    // rename one staged file into place and read back its footer
    // stats; runs on the driver or in an executor task with the same
    // (session) Hadoop conf — object stores and custom filesystems are
    // configured there (credentials, fs.* impls), so a default
    // Configuration() would break either path
    def commitOne(conf: Configuration)(move: (String, String)): AddFile = {
      val (src, name) = move
      val srcPath = new HPath(src)
      val efs = srcPath.getFileSystem(conf)
      val target = new HPath(tableDirStr, name)
      if (name.contains('/')) efs.mkdirs(target.getParent)
      if (!efs.rename(srcPath, target))
        throw new java.io.IOException(s"rename $srcPath -> $target failed")
      val (numRecords, stats) = ParquetStats.read(target, conf, statCols)
      val blooms =
        if (bloomPhysCols.isEmpty) Map.empty[String, String]
        else ParquetStats.bloomStats(target, conf, bloomPhysCols, bloomBits)
      val withBlooms = blooms.foldLeft(stats) { case (m, (c, b)) =>
        m.updated(c, m.getOrElse(c, ColStats(None, None, None))
          .copy(bloom = Some(b)))
      }
      val st = efs.getFileStatus(target)
      AddFile(name, st.getLen, st.getModificationTime, dataChange,
        Some(numRecords), withBlooms,
        PartitionPaths.parsePartitionValues(name))
    }
    try {
      if (moves.isEmpty) Nil
      // a one-digit file count as a distributed job is pure fixed cost
      // (schedule + conf broadcast + collect, ~100-300 ms, for a few
      // sub-ms renames and footer reads): finalize on the driver. The
      // threshold is per-COMMIT file count, not cluster size — a
      // corpus-scale rewrite stages hundreds+ of files and keeps the
      // parallel wave below; a 3-row MERGE or streaming epoch commits
      // in driver time on any cluster.
      else if (moves.size <= VintageTable.DriverCommitFiles)
        moves.map(commitOne(spark.sessionState.newHadoopConf()))
      else {
        val confBc = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(
            spark.sessionState.newHadoopConf()))
        spark.sparkContext
          .parallelize(moves, math.min(moves.size, 256))
          .map(m => commitOne(confBc.value.value)(m))
          .collect().toSeq
      }
      // a failure mid-rename-wave leaves already-renamed files at final
      // part-* paths: never committed → vacuum reclaims them by age
    } finally fs.delete(tmp, true)
  }
}
