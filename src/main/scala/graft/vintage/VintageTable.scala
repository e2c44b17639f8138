package graft.vintage

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.AppendData
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftshim.{ColumnExpr, DatasetOps, VintageFileSink, VintageRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.vintage.connector.VintageRowLevel.{FileCol, PosCol, TrackIdCol}
import graft.vintage.connector.VintageSqlTable

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
  * Scale design: row-level ops are file-granular — phase 1 discovers
  * the touched files (a semi join for merge, broadcast when the
  * submission is small, which is the common case for merge messages),
  * phase 2 rewrites only those files, or for DELETE/UPDATE on a
  * deletion-vector table grows their vectors. Untouched files are never
  * read twice nor rewritten, so merge cost is proportional to the
  * touched data, not the table size.
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
    * plan time, unless the snapshot may carry deletion vectors: those
    * read through [[nativeFrame]], which prunes by the same stats from
    * the filters Spark pushes into it. The relation puts partition
    * columns last; the select restores the declared order.
    */
  private def dfForRead(s: Snapshot): DataFrame =
    if (DeletionVectors.mayHave(s)) nativeFrame(s)
    else {
      val df = spark.baseRelationToDataFrame(VintageRelation(spark, path, s))
      if (s.partitionColumns.isEmpty) df
      else df.select(s.schema.fieldNames.toIndexedSeq
        .map(n => df.col(QuotingUtils.quoteIdentifier(n))): _*)
    }

  private[graft] def dfForSnapshot(s: Snapshot): DataFrame =
    readFiles(s, s.files)

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

  def delete(condition: Column): Unit = rowLevel(snapshot, "DELETE", condition, None)

  /** Conditional column update (README.md:290
    * `exrTable.update(col("CURRENCY") === "CHF", Map("DECIMALS" -> lit(5)))`).
    */
  def update(condition: Column, set: Map[String, Column]): Unit = {
    val snap = snapshot
    val bad = set.keySet.filterNot(snap.schema.fieldNames.contains)
    require(bad.isEmpty, s"update of unknown columns: $bad")
    IdentityColumns.validateAssignments(set.keys, snap.properties)
    rowLevel(snap, "UPDATE", condition, Some(set))
  }

  /** The touched files of a fluent row-level op, split by how each
    * changes: `dvFiles` keep their data and are re-added as `grown`,
    * with deletion vectors over their matched rows; `rewriteFiles` are
    * rewritten whole. Copy-on-write is the plan in which every touched
    * file rewrites; `mergeOnRead` records which policy planned it.
    */
  private case class RowLevelPlan(mergeOnRead: Boolean, grown: Seq[AddFile],
      dvFiles: Seq[AddFile], rewriteFiles: Seq[AddFile]) {
    def touched: Seq[AddFile] = dvFiles ++ rewriteFiles
  }

  /** Plan a fluent row-level op over the stats-pruned candidates of
    * `condition`. Without `vintage.deletionVectors.enabled` every file
    * holding a live match rewrites, and touch discovery reads only
    * [[FileCol]], so its scan stays columnar. With it, touch discovery
    * reads the LIVE matches' positions (the native scan drops rows
    * already in a DV, so positions never double-count) and
    * [[DeletionVectors.grow]] tiers each touched file: an inline or
    * sidecar vector, or a copy-on-write rewrite once a file leaving the
    * inline tier is dense-dead (`maxDeletedFraction` of its rows, when
    * its row count is known). The matches frame is persisted for the
    * jobs that reuse it (counts, inline positions, sidecar write) so
    * the candidates are scanned once.
    */
  private def planRowLevel(snap: Snapshot, condition: Column): RowLevelPlan = {
    val mergeOnRead = DeletionVectors.enabled(snap.properties)
    val cands = candidateFiles(snap, condition)
    if (cands.isEmpty) RowLevelPlan(mergeOnRead, Nil, Nil, Nil)
    else if (!mergeOnRead) {
      val keys = touchedKeys(snap, cands)(_.where(condition))
      RowLevelPlan(mergeOnRead, Nil, Nil, cands.filter(f => keys(keyOf(f))))
    } else {
      val matches = readFiles(snap, cands, Seq(FileCol, PosCol))
        .filter(coalesce(condition, lit(false)))
        .select(col(FileCol).as("file_key"), col(PosCol).as("pos"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val counts = matches.groupBy(col("file_key"))
          .agg(count(lit(1)).as("__n")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val byKey = cands.map(f => keyOf(f) -> f).toMap
        val cap = DeletionVectors.maxInline(snap.properties)
        val frac = DeletionVectors.maxDeletedFraction(snap.properties)
        val rewriteKeys = counts.keySet.filter { k =>
          val f = byKey(k)
          val n = f.dvCount + counts(k)
          (n > cap || f.dvRef.nonEmpty) && f.numRecords.exists(rows => n >= frac * rows)
        }
        val grown =
          if (counts.isEmpty) Nil
          else DeletionVectors.grow(snap, path,
            counts.keys.map(k => k -> byKey(k)).toMap, matches, counts -- rewriteKeys)
        RowLevelPlan(mergeOnRead, grown, grown.map(f => byKey(keyOf(f))),
          rewriteKeys.toSeq.map(byKey))
      } finally matches.unpersist(blocking = false)
    }
  }

  /** The one executor of fluent DELETE (`set` = None) and UPDATE: plan
    * ([[planRowLevel]]), write, commit. A rewritten file keeps its
    * unmatched rows (DELETE) or all its rows under the SET projection
    * (UPDATE); an UPDATE also writes the SET projection of the matched
    * rows of its DV files, whose old positions the grown vectors
    * delete. Row ids pass through the rewrite ([[rewriteSourceExact]]).
    * One commit, whose parameters name the merge-on-read mode and, when
    * a file was touched, its DV and rewrite counts.
    */
  private def rowLevel(snap: Snapshot, op: String, condition: Column,
      set: Option[Map[String, Column]]): Unit = {
    val plan = planRowLevel(snap, condition)
    val matched = coalesce(condition, lit(false))
    val projection = snap.schema.fieldNames.toIndexedSeq.map { c =>
      set.flatMap(_.get(c)) match {
        case Some(e) =>
          when(matched, e.cast(snap.schema(c).dataType)).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }
    def write(files: Seq[AddFile])(rows: DataFrame => DataFrame): (Seq[AddFile], Map[String, Long]) =
      if (files.isEmpty) (Nil, Map.empty)
      else {
        val (src, idCols) = rewriteSourceExact(snap, files)
        writeFiles(spark, rows(src).select(projection ++ idCols: _*), path,
          dataChange = true, snap.partitionColumns, snap.properties)
      }
    // an UPDATE may SET a BY DEFAULT identity column to NULL, which the
    // writer fills
    val (updatedAdds, updatedBases) =
      if (set.isEmpty) (Nil, Map.empty[String, Long]) else write(plan.dvFiles)(_.filter(matched))
    val (rewriteAdds, rewriteBases) =
      write(plan.rewriteFiles)(src => if (set.isEmpty) src.filter(!matched) else src)
    val params = Map("predicate" -> condition.toString) ++
      (if (!plan.mergeOnRead) Nil
       else Seq("mode" -> "merge-on-read") ++
         (if (plan.touched.isEmpty) Nil
          else Seq("deletionVectors" -> plan.dvFiles.size.toString,
                   "rewrittenFiles" -> plan.rewriteFiles.size.toString)))
    commitOp(snap, op, params, plan.grown ++ updatedAdds ++ rewriteAdds,
      removesForFiles(plan.touched), None, PredicateRead(ColumnExpr.expr(condition)),
      idBases = updatedBases ++ rewriteBases): Unit
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
      txn: Option[(String, Long)]): Unit = reallocating("overwrite") {
    val snap = snapshot
    val t = txn.map { case (a, v) => Txn(a, v) }
    if (!t.exists(x => snap.txns.get(x.appId).exists(_ >= x.version))) {
      // ingest-side completion of generated columns the writer omitted;
      // a layout-only rewrite's rows already carry their ids
      val df1 = GeneratedColumns.complete(df0, snap.properties, Some(snap.schema))
      val df = if (dataChange) withIdentity(snap, df1) else df1
      // overwrite replaces the schema with the frame's; under column
      // mapping, same-named fields keep their physical names and new
      // fields get fresh ones, so history stays readable
      val newSchema = ColumnMapping.evolve(snap.schema, df.schema,
        ColumnMapping.active(snap.properties))
      val (adds, idBases) = writeFiles(spark, df, path, dataChange,
        snap.partitionColumns, snap.properties, newSchema)
      val params = Map("mode" -> "Overwrite",
        "partitionBy" -> snap.partitionColumns.mkString("[", ",", "]")) ++
        (if (dataChange) Map.empty else Map("dataChange" -> "false"))
      val now = System.currentTimeMillis()
      // a dataChange=false overwrite is compaction: layout-only, so a
      // concurrent append survives it; a real overwrite conflicts with one
      commitOp(snap, "WRITE", params, adds,
        snap.files.map(f => RemoveFile(f.path, now, dataChange)),
        Some(Metadata(newSchema.json, snap.properties, snap.partitionColumns)),
        if (dataChange) FullRead else LayoutOnly, txn = t, idBases = idBases): Unit
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
    * the bug this check exists to catch. Identity columns are the
    * exception: the writer fills one the frame lacks (see
    * [[withIdentity]]), and the append re-runs if a racing commit
    * reached the ids it allocated ([[reallocating]]).
    */
  def append(df0: DataFrame, txn: Option[(String, Long)],
      mergeSchema: Boolean): Unit = reallocating("append") {
    val snap = snapshot
    val t = txn.map { case (a, v) => Txn(a, v) }
    if (!t.exists(x => snap.txns.get(x.appId).exists(_ >= x.version))) {
      // ingest-side completion of generated columns the writer omitted
      val df = withIdentity(snap,
        GeneratedColumns.complete(df0, snap.properties, Some(snap.schema)))
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
      val (adds, idBases) = writeFiles(spark,
        df.select(finalSchema.fieldNames.map(col).toIndexedSeq: _*),
        path, dataChange = true, snap.partitionColumns, snap.properties, finalSchema)
      val params =
        Map("mode" -> "Append",
            "partitionBy" -> snap.partitionColumns.mkString("[", ",", "]")) ++
          (if (extra.isEmpty) Map.empty
           else Map("newColumns" -> extra.map(_.name).mkString(",")))
      val meta =
        if (extra.isEmpty) None
        else Some(Metadata(finalSchema.json, snap.properties, snap.partitionColumns))
      commitOp(snap, "WRITE", params, adds, Nil, meta, NoRead,
        txn = t, freshAdds = true, idBases = idBases)
      maybeAutoCompact()
    }
  }

  /** `df` with each identity column of `snap` it lacks added as NULL,
    * which the writer fills. A frame may carry a GENERATED BY DEFAULT
    * identity column, never a GENERATED ALWAYS one.
    */
  private def withIdentity(snap: Snapshot, df: DataFrame): DataFrame = {
    val ids = IdentityColumns.specs(snap.properties)
    def carried(c: String) = df.schema.fieldNames.exists(_.equalsIgnoreCase(c))
    val always = ids.collect { case (c, s) if !s.allowExplicit && carried(c) => c }
    require(always.isEmpty,
      s"identity column ${always.mkString(",")} is GENERATED ALWAYS — writers cannot " +
      s"supply it (declare it GENERATED BY DEFAULT to allow explicit values)")
    ids.keys.filterNot(carried).foldLeft(df)((d, c) => d.withColumn(c, lit(null).cast(LongType)))
  }

  /** Run a fluent write (plan, write, commit) again when its commit
    * fails with [[VintageTable.IdentityConflictException]]: the ids it
    * allocated may collide with a racing writer's, so it re-allocates
    * from the fresh mark (the failed attempt's files become
    * vacuum-pending orphans). At most 5 re-runs.
    */
  private def reallocating(op: String)(write: => Unit): Unit = {
    var attempt = 0
    while (true) {
      try { write; return }
      catch {
        case e: VintageTable.IdentityConflictException if attempt < 5 =>
          attempt += 1
          logWarning(s"identity $op re-allocating after commit conflict " +
            s"(attempt $attempt): ${e.getMessage}")
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
    val (adds, idBases) = writeFiles(spark, aligned, path, dataChange = true,
      snap.partitionColumns, snap.properties)
    val markers = fresh.map(f => IngestedFile(VintageTable.canonicalKey(f)))
    commitOp(snap, "COPY INTO",
      Map("source" -> srcAbs, "numFiles" -> fresh.size.toString,
          "format" -> format),
      adds, Nil, None, NoRead, extra = markers, idBases = idBases)
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
        def tag(df: DataFrame, kind: String): DataFrame =
          df.withColumn("_change_type", lit(kind))
            .withColumn("_commit_version", lit(v))
        val tracked = RowTracking.enabled(snapV.properties)
        if (adds.isEmpty || removedFiles.isEmpty || !tracked) {
          val a = readFiles(snapV, adds)
          val r = readFiles(snapV, removedFiles)
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
    // dataChange=true regardless of the source flag: this IS the
    // clone's creating write — cloning a freshly-compacted source
    // (whose live files are dataChange=false) must still emit every
    // row to the clone's change feed and streaming readers
    // dvRef paths absolutize like data paths: the clone's reads must
    // find the SOURCE's sidecars (same lifetime caveat as the data).
    // The clone reads the source's files (DVs, mapping, …), so it takes
    // the source's protocol and row-id mark (see [[createTable]]).
    createTable(spark, destPath, "CLONE",
      Map("source" -> path, "sourceVersion" -> snap.version.toString,
          "mode" -> "shallow"),
      Metadata(snap.schema.json, snap.properties, snap.partitionColumns),
      cloneOf = Some(snap)) { _ =>
      snap.files.map(f =>
        f.copy(path = f.absolutePath(path), dataChange = true,
          dvRef = f.dvRef.map(r => r.copy(path = AddFile.resolve(path, r.path)))))
    }
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
    createTable(spark, destPath, "CLONE",
      Map("source" -> path, "sourceVersion" -> snap.version.toString,
          "mode" -> "deep"),
      Metadata(snap.schema.json, snap.properties, snap.partitionColumns),
      cloneOf = Some(snap)) { abs =>
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
      // _vintage_dv dir, each file's vector re-keyed to the clone's file
      val withRef = named.filter(_._1.dvRef.isDefined)
      val dvRel: Option[String] = if (withRef.isEmpty) None else {
        import spark.implicits._
        Some(DeletionVectors.writeSidecar(spark.emptyDataset[(String, Long)]
            .toDF("file_key", "pos"), abs,
          withRef.map { case (f, rel) =>
            DeletionVectors.PriorVector(path, f)
              .copy(key = DeletionVectors.fileKey(s"$abs/$rel"))
          }))
      }
      named.map { case (f, rel) =>
        f.copy(path = rel, dataChange = true,
          dvRef = f.dvRef.map(r => DvRef(dvRel.get, r.count)))
      }
    }
  }

  /** Commit files that executors already wrote into the table
    * directory (the native DSv2 write path: SQL INSERT [OVERWRITE] and
    * streaming epochs): one optimistic log commit, no data movement.
    * Mirrors [[append]]/[[overwrite]] semantics — an overwrite removes
    * every current file and conflicts with concurrent writers
    * (FullRead); an append commits blind (NoRead). `idBases` are the
    * identity bases the writer filled from; a race that reached one
    * surfaces as [[VintageTable.IdentityConflictException]] (see
    * [[commitOp]]), and the statement re-runs.
    *
    * `txn` is the idempotence watermark (`appId`, `version`) the
    * streaming sink rides: a replayed epoch whose version the log
    * already recorded is SKIPPED — and because the native path wrote
    * the replay's data files before the commit decision, the skip
    * deletes them so no orphans await vacuum.
    */
  def commitFiles(adds: Seq[AddFile], overwrite: Boolean,
      txn: Option[(String, Long)] = None,
      idBases: Map[String, Long] = Map.empty): Unit = {
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
    val (mode, removes, scope) =
      if (!overwrite) ("Append", Nil, NoRead)
      else {
        val now = System.currentTimeMillis()
        ("Overwrite", snap.files.map(f => RemoveFile(f.path, now, dataChange = true)), FullRead)
      }
    commitOp(snap, "WRITE",
      Map("mode" -> mode, "partitionBy" -> snap.partitionColumns.mkString("[", ",", "]")),
      adds, removes, None, scope, txn = t, freshAdds = true, idBases = idBases)
    maybeAutoCompact()
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
      positionFiles: Seq[String], countsByKey: Map[String, Long],
      idBases: Map[String, Long]): Unit = {
    val snap = snapshotAt(scanVersion)
    val params = Map("mode" -> "merge-on-read", "planner" -> "row-level")
    if (countsByKey.isEmpty && insertAdds.isEmpty) {
      commitOp(snap, op, params, Nil, Nil, None, FullRead): Unit
      return
    }
    val byKey = snap.files.map(f => keyOf(f) -> f).toMap
    val unknown = countsByKey.keySet.filterNot(byKey.contains)
    require(unknown.isEmpty,
      s"row-level delta references files not in snapshot v$scanVersion: " +
      unknown.take(3).mkString(","))
    def positions = spark.read
      .schema(StructType(Seq(StructField("file_key", StringType, nullable = false),
        StructField("pos", LongType, nullable = false))))
      .parquet(positionFiles: _*)
    val grown = DeletionVectors.grow(snap, path,
      countsByKey.keys.map(k => k -> byKey(k)).toMap, positions, countsByKey)
    commitOp(snap, op,
      params + ("deletionVectors" -> grown.size.toString,
                "insertedFiles" -> insertAdds.size.toString),
      grown ++ insertAdds,
      removesForFiles(grown), None, FullRead, idBases = idBases): Unit
  }

  // --------------------------------------------------- maintenance utils

  /** Rewrite the table into `numFiles` files without changing the
    * logical row set (`dataChange=false`, README.md:403-412): past and
    * current versions keep identical row sets.
    */
  def compact(numFiles: Int): Unit = {
    val snap = snapshot
    rewriteLayout(snap, snap.files, "WRITE",
      Map("mode" -> "Overwrite", "dataChange" -> "false"))(_.repartition(numFiles))
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
    rewriteLayout(snap, selected, "OPTIMIZE",
      Map("dataChange" -> "false", "filesRewritten" -> selected.size.toString,
          "targetFileBytes" -> targetFileBytes.toString))(
      packed(snap, selected, targetFileBytes))
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
    rewriteLayout(snap, selected, "WRITE",
      Map("mode" -> "Overwrite", "dataChange" -> "false",
          "predicate" -> condition.toString))(
      packed(snap, selected, targetFileBytes))
    selected.size.toLong
  }

  /** Bin-packing arrangement of `files`' rows into ~`targetFileBytes`
    * outputs. Partitioned tables cluster by the partition columns, so
    * each hive partition's rows land in ONE task and the write emits
    * one file per partition value — a round-robin repartition would
    * spread every partition over every task and emit up to numFiles ×
    * partitions files, fragmenting what it set out to fix.
    */
  private def packed(snap: Snapshot, files: Seq[AddFile],
      targetFileBytes: Long)(rows: DataFrame): DataFrame = {
    val numFiles = math.max(1,
      math.ceil(files.map(_.size).sum.toDouble / targetFileBytes).toInt)
    if (snap.partitionColumns.isEmpty) rows.repartition(numFiles)
    else rows.repartition(numFiles, snap.partitionColumns.map(col): _*)
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
    rewriteLayout(snap, snap.files, "CLUSTER",
      Map("by" -> cols.mkString(","), "dataChange" -> "false")) { df =>
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
    }
  }

  /** The tail of every layout-only rewrite (compact, OPTIMIZE, scoped
    * compaction, cluster): the live rows of `files` with their row ids,
    * laid out by `arrange`, written with `dataChange = false` and
    * committed as `op` in place of `files`. Bucketed tables skip
    * `arrange`: the writer re-buckets every write (the bucket count IS
    * the file count), so a pre-shuffle would be dead work.
    */
  private def rewriteLayout(snap: Snapshot, files: Seq[AddFile], op: String,
      params: Map[String, String])(arrange: DataFrame => DataFrame): Unit = {
    val rows = rewriteSourceExact(snap, files)._1
    val arranged =
      if (Bucketing.spec(snap.properties).isDefined) rows else arrange(rows)
    val (adds, _) = writeFiles(spark, arranged, path, dataChange = false,
      snap.partitionColumns)
    val now = System.currentTimeMillis()
    commitOp(snap, op, params, adds,
      files.map(f => RemoveFile(f.path, now, dataChange = false)), None, LayoutOnly)
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
          // staging litter from crashed writes (row-level position
          // files; data staging dirs of earlier writers): reclaimable
          // whole once older than the cutoff — an in-flight write is
          // protected by the same retention guard as everything else
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
    * the stats-pruned candidate set consulted before any scan runs —
    * as the log holds them (physical column names), so they can be
    * read, re-added and removed.
    */
  private[graft] def candidateFiles(snap: Snapshot, condition: Column): Seq[AddFile] =
    // spilled snapshots prune DISTRIBUTED (SnapshotPruning routes);
    // statFiles carry synthetic partition-column stats, so partition
    // predicates prune here exactly like data-column stats
    ColumnMapping.statsToPhysical(snap.schema,
      SnapshotPruning.candidates(spark, snap, ColumnExpr.expr(condition)))

  /** Canonical keys of the files among `files` holding a live row that
    * `matching` keeps (a filter or a semi join over the rows of
    * [[readFiles]]): the distinct [[FileCol]] values of the matching
    * rows, which the native scan serves as the log's key of each file.
    */
  private[vintage] def touchedKeys(snap: Snapshot, files: Seq[AddFile])(
      matching: DataFrame => DataFrame): Set[String] =
    if (files.isEmpty) Set.empty
    else matching(readFiles(snap, files, Seq(FileCol)))
      .select(FileCol).distinct().collect().map(_.getString(0)).toSet

  /** Canonical key of a file of this table: its `_vintage_file` value. */
  private[vintage] def keyOf(f: AddFile): String =
    DeletionVectors.fileKey(f.absolutePath(path))

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

  /** Live rows of `files` with their row ids in `outName`: the native
    * scan's `_vintage_row_id` (the materialized id, else the file's
    * `baseRowId` + row index), whose `-1` for rows written before
    * tracking was enabled reads as NULL here.
    */
  private def dfWithRowIds(snap: Snapshot, files: Seq[AddFile],
      outName: String): DataFrame = {
    require(RowTracking.enabled(snap.properties),
      s"row tracking is not enabled on $path (set ${RowTracking.EnabledProp})")
    val id = col(TrackIdCol)
    readFiles(snap, files, Seq(TrackIdCol))
      .select(snap.schema.fieldNames.toIndexedSeq.map(quoted) :+
        when(id >= 0, id).as(outName): _*)
  }

  /** Source rows of a REWRITE — DML (update/delete/merge touched files)
    * and layout (compact / OPTIMIZE / cluster) alike — carrying the
    * materialized row-id column when row tracking is on: Delta's
    * stability contract. A rewritten survivor keeps its id, so the
    * rewrite must write it physically (new file boundaries invalidate
    * base + index; rows a DML rewrite INSERTS carry null there and fall
    * back to base + index — disjoint from every materialized id because
    * base ranges never overlap). Readers never see the column: it is
    * not in the table schema they request. Returns the frame plus the
    * passthrough column to append to the rewrite projection.
    */
  private[vintage] def rewriteSourceExact(snap: Snapshot,
      files: Seq[AddFile]): (DataFrame, Seq[Column]) =
    if (!RowTracking.enabled(snap.properties)) (readFiles(snap, files), Nil)
    else (dfWithRowIds(snap, files, RowTracking.MaterializedCol),
      Seq(col(RowTracking.MaterializedCol)))

  /** Live rows of exactly these AddFiles (which need not be live in
    * `snap` — the change feed reads a REMOVED file with the deletion
    * vector it had before removal) in declared column order, plus the
    * requested row-id columns ([[FileCol]], [[PosCol]], [[TrackIdCol]]):
    * the one internal read of a file set, through [[nativeFrame]].
    */
  private[vintage] def readFiles(snap: Snapshot, files: Seq[AddFile],
      rowIds: Seq[String] = Nil): DataFrame =
    nativeFrame(snap.copy(files = files, spilled = None), rowIds)

  /** Live rows of `s` through [[connector.VintageNativeScan]], the only
    * code that applies deletion vectors and derives row positions and
    * row ids: it drops deleted positions inside the task and serves
    * `rowIds` as metadata columns. [[FileCol]] is the log's key of each
    * file ([[keyOf]]), a per-file constant that keeps a scan without a
    * DV or a position columnar. Filters on the frame push into the
    * scan, which opens only their stats-pruned candidate files.
    */
  private[vintage] def nativeFrame(s: Snapshot, rowIds: Seq[String] = Nil): DataFrame =
    DatasetOps.ofRows(spark, DataSourceV2Relation.create(
        new VintageSqlTable(path, path, s, timeTravel = true), None, None))
      .select((s.schema.fieldNames.toIndexedSeq ++ rowIds).map(quoted): _*)

  /** Removes for AddFiles the caller already holds (pruned DML plans)
    * — never walks the snapshot file list, so merge-on-read DML on a
    * SPILLED snapshot stays materialization-free.
    */
  private[vintage] def removesForFiles(files: Seq[AddFile]): Seq[RemoveFile] = {
    val now = System.currentTimeMillis()
    files.map(f => RemoveFile(f.path, now, dataChange = true))
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
    *    does NOT conflict, nor does one that moved only identity
    *    marks: those this commit re-reads, like the row-id mark;
    *  - no concurrent commit moved an identity mark to a base this
    *    commit's writer allocated from (`idBases`, column -> base):
    *    its ids may collide, which fails with
    *    [[VintageTable.IdentityConflictException]].
    *
    * Identity marks are recorded here: each attempt moves the mark of
    * every identity column past the values of this commit's new data
    * files, and never behind the mark of the snapshot it commits over —
    * so no commit, metadata-carrying ones included, lowers a mark
    * another commit recorded.
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
      extra: Seq[Action] = Nil, freshAdds: Boolean = false,
      idBases: Map[String, Long] = Map.empty): Long = {
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
    // mapping enabled, first identity column…), and so may the adds:
    // a deletion vector needs its feature whatever the properties say
    // (SQL row-level DML always commits DVs). Grow the protocol in the
    // same commit so a lesser reader/writer stops at the gate
    val protoGrown: Seq[Action] = {
      val fromMeta = meta.map(m => Protocol.required(m.schema, m.properties))
      val fromAdds =
        if (adds.exists(_.hasDv)) Some(Protocol(Seq(Protocol.DeletionVectors),
          Seq(Protocol.DeletionVectors)))
        else None
      val req = (fromMeta ++ fromAdds).foldLeft(snap.protocol)(_ union _)
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
    // identity marks: the edges of this commit's new values, observed
    // once; `seen` is the snapshot the attempt commits over, whose
    // marks are the floor
    val idEdges = identityEdges(spark, path, meta.fold(snap.schema)(_.schema),
      meta.fold(snap.properties)(_.properties), adds, removes)
    var seen = snap
    def marked: Option[Metadata] = meta match {
      case Some(m) =>
        Some(m.copy(properties = IdentityColumns.marked(m.properties, idEdges, seen.properties)))
      case None =>
        val props = IdentityColumns.marked(seen.properties, idEdges, Map.empty)
        if (props == seen.properties) None
        else Some(Metadata(seen.schema.json, props, seen.partitionColumns))
    }
    def requireUnreached(): Unit = {
      val raced = IdentityColumns.reached(idBases, seen.properties)
      if (raced.nonEmpty)
        throw new VintageTable.IdentityConflictException(
          s"identity allocation for ${raced.mkString(",")} raced a concurrent " +
          s"writer past this write's base on $path — allocated ids may collide; " +
          "re-run the write")
    }
    requireUnreached()
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
            marked.toSeq ++ removes ++ finalAdds)
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
            IdentityColumns.unmarked(current.properties) !=
              IdentityColumns.unmarked(snap.properties) ||
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
          seen = current
          requireUnreached()
          if (metaChanged)
            throw new java.util.ConcurrentModificationException(
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
  /** A racing commit moved an identity mark to a base this commit's
    * writer allocated from, so its ids may collide: fluent writes
    * re-run and re-allocate, SQL statements and streaming epochs fail
    * and re-run.
    */
  class IdentityConflictException(msg: String)
      extends java.util.ConcurrentModificationException(msg)

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

  private def quoted(name: String): Column = col(QuotingUtils.quoteIdentifier(name))

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
    createTable(spark, path, "WRITE",
      Map("mode" -> "Overwrite", "partitionBy" -> partitionBy.mkString("[", ",", "]")),
      Metadata(schema0.json, properties, partitionBy),
      txn = txn.map { case (a, v) => Txn(a, v) }) { abs =>
      writeFiles(spark, df1, abs, dataChange = true, partitionBy, properties, schema0)._1
    }
  }

  /** Version 0 of the table at `path`, the one creation commit of
    * [[create]], [[createWithFiles]], [[convert]] and both clones. Fails
    * when a table exists there, and forgets cached snapshots of one
    * removed from that path with raw FS calls; then `write` makes the
    * data files into the absolute path, and one commit records `op`,
    * the protocol `meta` requires, `meta` with its identity marks moved
    * past the files' values, the row-id mark and the files. New files
    * take row-id ranges from 0; a clone's files keep theirs, under
    * `cloneOf`'s protocol and row-id mark.
    */
  private def createTable(spark: SparkSession, path: String, op: String,
      params: Map[String, String], meta: Metadata,
      cloneOf: Option[Snapshot] = None, txn: Option[Txn] = None)(
      write: String => Seq[AddFile]): VintageTable = {
    val abs = absolutize(path)
    require(VintageLog.latestVersion(abs) < 0, s"table already exists: $abs")
    val dir = new HPath(abs)
    dir.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(dir)
    VintageLog.invalidate(abs)
    val written = write(abs)
    var next = cloneOf.fold(0L)(_.rowIdHwm)
    val adds =
      if (cloneOf.nonEmpty || !RowTracking.enabled(meta.properties)) written
      else written.map { a =>
        if (a.dataChange && a.baseRowId.isEmpty && a.numRecords.isDefined) {
          val w = a.copy(baseRowId = Some(next)); next += a.numRecords.get; w
        } else a
      }
    val required = Protocol.required(meta.schema, meta.properties)
    val props = IdentityColumns.marked(meta.properties,
      identityEdges(spark, abs, meta.schema, meta.properties, adds, Nil), Map.empty)
    VintageLog.commit(abs, 0L,
      Seq(CommitInfo(0L, System.currentTimeMillis(), op, params),
        cloneOf.fold(required)(_.protocol.union(required)),
        meta.copy(properties = props)) ++
      (if (next > 0) Seq(RowIdHighWaterMark(next)) else Nil) ++ txn.toSeq ++ adds)
    new VintageTable(spark, abs, None)
  }

  /** The edge of each identity column's values in a commit's new data
    * files ([[IdentityColumns.advance]]), what its marks move past: its
    * data-changing adds, less re-adds of a path it also removes (a
    * deletion vector grown over old ids).
    */
  private def identityEdges(spark: SparkSession, path: String, schema: => StructType,
      props: Map[String, String], adds: Seq[AddFile],
      removes: Seq[RemoveFile]): Map[String, Long] =
    if (IdentityColumns.specs(props).isEmpty) Map.empty
    else {
      val removed = removes.map(_.path).toSet
      IdentityColumns.advance(spark, path, schema, props,
        adds.filter(a => a.dataChange && !removed(a.path)))
    }

  /** Create version 0 from ALREADY-WRITTEN data files (the staged-CTAS
    * path: executors streamed the query result into the table
    * directory first, this publishes it in one atomic commit — until
    * then no log exists and the files are invisible).
    */
  private[graft] def createWithFiles(
      spark: SparkSession, path: String, schema: StructType,
      properties: Map[String, String], partitionBy: Seq[String],
      adds: Seq[AddFile]): VintageTable =
    createTable(spark, path, "CREATE TABLE AS SELECT",
      Map("partitionBy" -> partitionBy.mkString("[", ",", "]")),
      Metadata(schema.json, properties, partitionBy))(_ => adds)

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

    createTable(spark, abs, "CONVERT",
      Map("numFiles" -> rels.size.toString,
          "partitionBy" -> partCols.mkString("[", ",", "]")),
      Metadata(schema.json, properties, partCols)) { _ =>
      // distributed footer-stat read — the only per-file work, never a
      // row scan and never a driver loop
      val statCols = ParquetStats.statsColumns(schema)
      val absStr = abs
      val confBc = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          spark.sessionState.newHadoopConf()))
      spark.sparkContext
        .parallelize(rels, math.min(rels.size, 256))
        .map { case (rel, size, modTime) =>
          val conf = confBc.value.value
          val (numRecords, stats) =
            ParquetStats.read(new HPath(absStr, rel), conf, statCols)
          AddFile(rel, size, modTime, dataChange = true, Some(numRecords),
            stats, PartitionPaths.parsePartitionValues(rel))
        }.collect().toSeq
    }
  }

  /** Create if absent, else overwrite as a new version. */
  def createOrOverwrite(spark: SparkSession, path: String, df: DataFrame): VintageTable =
    if (isVintageTable(path)) {
      val t = forPath(spark, path); t.overwrite(df); t
    } else create(spark, path, df)

  /** Write `df` as data files of the table at `tableDir` and return
    * their AddFiles, uncommitted, with the identity bases the writer
    * filled NULL slots from (column -> base, for [[commitOp]]'s race
    * check). The frame is planned as Spark's `AppendData` into a
    * [[VintageFileSink]], so executors write final parquet files
    * through the table's one writer,
    * [[org.apache.spark.sql.graftshim.VintageWrite]] (bucket clustering
    * and in-bucket sort, hive partition directories, physical column
    * names, CHECK constraints, bloom filters, identity allocation from
    * the marks in the properties), and each task reports its files with
    * their footer stats. Columns resolve by name against the table
    * schema (`tableSchema`, else the log's), plus `_vintage_row_id` when
    * a row-tracked table's frame carries it; types and nullability stay
    * the frame's. The properties are `tableProps`, else the log's;
    * layout-only rewrites (`dataChange = false`) skip the constraint
    * check: their rows were validated when first written.
    */
  private[vintage] def writeFiles(
      spark: SparkSession, df: DataFrame, tableDir: String,
      dataChange: Boolean, partitionBy: Seq[String] = Nil,
      tableProps: Map[String, String] = null,
      tableSchema: StructType = null): (Seq[AddFile], Map[String, Long]) = {
    lazy val logged = VintageLog.replay(tableDir)
    val props =
      if (tableProps != null) tableProps
      else if (VintageLog.exists(tableDir)) logged.properties
      else Map.empty[String, String]
    val schema =
      if (tableSchema != null) tableSchema
      else if (VintageLog.exists(tableDir)) logged.schema
      else df.schema
    // row-tracked rewrites carry each row's preserved id in a trailing
    // `_vintage_row_id`, the shape the row-level delta write writes
    val target = schema.fields ++ df.schema.find(_.name ==
      RowTracking.MaterializedCol).filter(_ => RowTracking.enabled(props))
    val frame = df.select(target.toIndexedSeq.map(f => quoted(f.name)): _*)
    val writeSchema = StructType(target.zip(frame.schema.fields).map {
      case (t, f) => f.copy(name = t.name, metadata = t.metadata)
    })
    val writeProps =
      if (dataChange) props else props.filterNot(_._1.startsWith(Constraints.Prefix))
    val parts = partitionBy.map(c =>
      schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(c))
    var adds = Seq.empty[AddFile]
    var idBases = Map.empty[String, Long]
    val sink = new VintageFileSink(tableDir, writeSchema, parts, writeProps,
      (written, bases) => { adds = written; idBases = bases })
    DatasetOps.ofRows(spark, AppendData.byName(
      DataSourceV2Relation.create(sink, None, None), frame.queryExecution.analyzed))
    (adds.map(_.copy(dataChange = dataChange)), idBases)
  }
}
