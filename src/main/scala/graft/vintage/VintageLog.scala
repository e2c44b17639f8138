package graft.vintage

import java.io.IOException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StructType

/** Reconstructed table state as of a version: live files + schema.
  * Produced by log replay, or by the commit that published the version
  * in this process; the read path scans exactly `files`.
  */
case class Snapshot(
    version: Long,
    schema: StructType,
    files: Seq[AddFile],
    properties: Map[String, String],
    commits: Seq[CommitInfo],
    partitionColumns: Seq[String] = Nil,
    txns: Map[String, Long] = Map.empty,
    ingested: Set[String] = Set.empty,
    protocol: Protocol = Protocol.base,
    rowIdHwm: Long = 0L,
    spilled: Option[SpilledIndex] = None) {
  def filePaths(tableDir: String): Seq[String] =
    files.map(_.absolutePath(tableDir))

  /** Files with synthetic min=max=value stats for partition columns —
    * feed THESE to [[FileSkipping]] so partition predicates prune with
    * the same machinery as data stats.
    */
  lazy val statFiles: Seq[AddFile] = statView(files)

  /** `fs`, files of this table, as [[statFiles]] presents them. */
  def statView(fs: Seq[AddFile]): Seq[AddFile] = {
    // under column mapping, file stats and partition values are keyed
    // by PHYSICAL names — remap to logical once here so every pruning
    // consumer (file skipping, partition pruning, metadata aggregates)
    // keeps operating in logical space
    val logical = ColumnMapping.statsToLogical(schema, fs)
    if (partitionColumns.isEmpty) logical
    else logical.map(PartitionPaths.augment(schema, _))
  }
}

/** The transaction log: ordered JSON commit files under
  * `<table>/_vintage_log/`. Commit N is `%020d.json`; every
  * [[checkpointInterval]] commits a checkpoint file
  * `%020d.checkpoint.json` captures the whole snapshot (live files,
  * schema, commit history) so replay reads checkpoint + tail instead of
  * O(versions) commits — the log stays readable at 100k commits.
  *
  * All IO goes through [[LogStore]] (Hadoop FileSystem/FileContext), so
  * the log works on `file://`, HDFS, or any FS with atomic
  * no-overwrite rename; a raw object store plugs in a conditional-put
  * LogStore. Concurrent writers targeting the same version race on the
  * exclusive publish — the loser gets
  * `ConcurrentModificationException` (optimistic concurrency, same
  * protocol core as Delta).
  */
object VintageLog {
  val LogDirName = "_vintage_log"
  val checkpointInterval: Long = 10L

  /** Checkpoint row count past which replay stops folding the file
    * list into driver memory and serves a [[SpilledIndex]] instead
    * (see [[SnapshotSpill]]) — the driver-memory bound for
    * million-file tables. Tests lower it to exercise the tier.
    */
  @volatile var spillThreshold: Long = 100000L

  /** Actions per checkpoint PART: a checkpoint whose action count
    * exceeds this splits into `v.checkpoint.<part>.<of>.parquet` files
    * (Delta's multi-part naming) so no single metadata file grows
    * unboundedly with the table and parallel readers can fan out over
    * parts. Tests lower it to exercise the tier.
    */
  @volatile var multiPartThreshold: Long = 1000000L

  private val VersionFileRe = """(\d{20})\.json""".r
  private val CheckpointFileRe =
    """(\d{20})\.checkpoint(?:\.\d{10}\.\d{10})?\.(?:json|parquet)""".r
  private val MultiPartRe =
    """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r

  /** The pluggable storage seam (see README "Storage contract"): swap
    * in a conditional-put implementation for object stores whose
    * rename is not an atomic no-overwrite operation. Process-wide by
    * design — a log's atomicity guarantee must not vary by call site.
    */
  @volatile var store: LogStore = LogStore.default

  def logDir(tableDir: String): Path = new Path(tableDir, LogDirName)

  private def versionFile(tableDir: String, v: Long): Path =
    new Path(logDir(tableDir), f"$v%020d.json")

  private def checkpointFile(tableDir: String, v: Long): Path =
    new Path(logDir(tableDir), f"$v%020d.checkpoint.parquet")

  private def checkpointPartFile(tableDir: String, v: Long,
      part: Int, of: Int): Path =
    new Path(logDir(tableDir), f"$v%020d.checkpoint.$part%010d.$of%010d.parquet")

  /** Pre-parquet checkpoints (line-per-action JSON) stay readable. */
  private def legacyCheckpointFile(tableDir: String, v: Long): Path =
    new Path(logDir(tableDir), f"$v%020d.checkpoint.json")

  /** The parquet files of the version-`v` checkpoint in read order:
    * the single file if present, else a COMPLETE multi-part set
    * (part 1..of all on disk — an in-progress or partially-deleted
    * set reads as absent, and replay falls back to an older
    * checkpoint or full commit replay; a stale same-version set with
    * a different `of` is ignored the same way, which is safe because
    * a version's checkpoint content is immutable). Empty for
    * legacy-JSON-only checkpoints.
    */
  private[vintage] def checkpointParquetParts(tableDir: String, v: Long): Seq[Path] = {
    val single = checkpointFile(tableDir, v)
    if (store.exists(single)) Seq(single)
    else {
      val parts = store.list(logDir(tableDir)).iterator.map(_.getPath)
        .flatMap(p => p.getName match {
          case MultiPartRe(vv, part, of) if vv.toLong == v =>
            Some((of.toInt, part.toInt, p))
          case _ => None
        }).toSeq
      parts.groupBy(_._1).toSeq.sortBy(-_._1).collectFirst {
        case (of, ps) if ps.map(_._2).distinct.size == of =>
          ps.sortBy(_._2).map(_._3)
      }.getOrElse(Nil)
    }
  }

  private def checkpointExists(tableDir: String, v: Long): Boolean =
    checkpointParquetParts(tableDir, v).nonEmpty ||
      store.exists(legacyCheckpointFile(tableDir, v))

  /** All actions of the version-`v` checkpoint, whichever format it
    * was written in.
    */
  private[vintage] def readCheckpointActions(tableDir: String, v: Long): Seq[Action] = {
    val parts = checkpointParquetParts(tableDir, v)
    if (parts.nonEmpty)
      parts.flatMap(CheckpointCodec.read(_, store.hadoopConf))
    else
      store.readLines(legacyCheckpointFile(tableDir, v))
        .filter(_.nonEmpty).flatMap(Action.fromJsonLineLenient)
  }

  private def lastCheckpointFile(tableDir: String): Path =
    new Path(logDir(tableDir), "_last_checkpoint")

  def exists(tableDir: String): Boolean = store.isDirectory(logDir(tableDir))

  /** Latest committed version, or -1 for an empty/absent log. */
  def latestVersion(tableDir: String): Long =
    store.list(logDir(tableDir)).iterator
      .map(_.getPath.getName)
      .collect { case VersionFileRe(v) => v.toLong }
      .foldLeft(-1L)(math.max)

  /** Smallest commit JSON still on disk (None for an empty log) —
    * versions below it were truncated by [[VintageTable.cleanupLog]].
    */
  private[vintage] def oldestVersionFile(tableDir: String): Option[Long] =
    store.list(logDir(tableDir)).iterator
      .map(_.getPath.getName)
      .collect { case VersionFileRe(v) => v.toLong }
      .minOption

  /** Atomically publish version `v`; fails if `v` already exists.
    * Caches the published snapshot for the next reader ([[handOff]]),
    * then writes a checkpoint when `v` crosses the checkpoint interval.
    */
  def commit(tableDir: String, v: Long, actions: Seq[Action]): Unit = {
    store.writeExclusive(versionFile(tableDir, v), actions.map(Action.toJsonLine))
    handOff(tableDir, v, actions)
    if (v > 0 && v % checkpointInterval == 0) checkpoint(tableDir, v)
  }

  /** Cache version `v`, just published by this process, as its own
    * `actions` folded onto the cached `v - 1` (onto the empty table at
    * version 0) — Delta's post-commit snapshot — so the first reader of
    * `v` replays nothing. A spilled or uncached base caches nothing:
    * the next reader replays as before.
    */
  private def handOff(tableDir: String, v: Long, actions: Seq[Action]): Unit = {
    val base =
      if (v == 0) Some(new SnapshotState)
      else snapshotCache.synchronized(Option(snapshotCache.get((tableDir, v - 1))))
        .filter(_.spilled.isEmpty).map(SnapshotState.of)
    base.foreach { state =>
      actions.foreach(state.fold(_, checkpoint = false))
      if (state.problem(tableDir).isEmpty)
        snapshotCache.synchronized(snapshotCache.put((tableDir, v), state.snapshot(tableDir, v)))
    }
  }

  /** Write the full-snapshot checkpoint for version `v` as Parquet
    * ([[CheckpointCodec]]; idempotent — losing a race or crashing here
    * only costs replay speed, never correctness, so it overwrites).
    */
  def checkpoint(tableDir: String, v: Long): Unit = {
    val snap = replay(tableDir, Some(v))
    val metaActions: Seq[Action] =
      Seq(snap.protocol,
        Metadata(snap.schema.json, snap.properties, snap.partitionColumns)) ++
        (if (snap.rowIdHwm > 0) Seq(RowIdHighWaterMark(snap.rowIdHwm)) else Nil) ++
        snap.txns.toSeq.sortBy(_._1).map { case (a, tv) => Txn(a, tv) } ++
        snap.ingested.toSeq.sorted.map(IngestedFile(_)) ++
        snap.commits.sortBy(_.version)
    def nameFor(part: Int, of: Int): Path =
      if (of == 1) checkpointFile(tableDir, v)
      else checkpointPartFile(tableDir, v, part, of)
    val parts = snap.spilled match {
      case Some(ix) =>
        // spilled snapshot: STREAM the previous checkpoint's add rows
        // into the new one (minus superseded paths) — the whole point
        // of spilling is that this list never materializes on the
        // driver, including at its own next checkpoint
        CheckpointCodec.writeStreamedParts(nameFor,
          metaActions, ix.checkpointPaths.map(new Path(_)),
          ix.supersededPaths, ix.tailAdds, multiPartThreshold,
          store.hadoopConf)
      case None =>
        val adds: Seq[Action] = snap.files
        // a reader of `v` now loads this checkpoint spilled: drop the
        // in-memory snapshot so the cache serves what a replay would
        if (metaActions.size + adds.size >= spillThreshold)
          snapshotCache.synchronized(snapshotCache.remove((tableDir, v)))
        if (metaActions.size + adds.size <= multiPartThreshold) {
          CheckpointCodec.write(checkpointFile(tableDir, v),
            metaActions ++ adds, store.hadoopConf)
          1
        } else {
          // part 1 = ALL meta + a fill of adds (the reader contract:
          // a spilled load takes metadata from part 1 alone); the
          // rest of the adds chunk into ~threshold-sized parts
          val fill = (multiPartThreshold - metaActions.size).max(1L).toInt
          val chunks = (metaActions ++ adds.take(fill)) +:
            adds.drop(fill).grouped(multiPartThreshold.toInt).toSeq
          chunks.zipWithIndex.foreach { case (c, i) =>
            CheckpointCodec.write(nameFor(i + 1, chunks.size), c,
              store.hadoopConf)
          }
          chunks.size
        }
    }
    store.writeReplace(lastCheckpointFile(tableDir),
      Seq(s"""{"version":$v,"format":"parquet","parts":$parts}"""))
  }

  /** Newest checkpoint version <= `until`, if any. Prefers the
    * `_last_checkpoint` pointer; falls back to listing (covers time
    * travel to versions before the latest checkpoint).
    */
  private def checkpointVersionFor(tableDir: String, until: Long): Option[Long] = {
    val hinted =
      try {
        if (!store.exists(lastCheckpointFile(tableDir))) None
        else store.readLines(lastCheckpointFile(tableDir)).headOption
          .flatMap(l => """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(l))
          .map(_.group(1).toLong)
          .filter(v => v <= until && checkpointExists(tableDir, v))
      } catch { case _: IOException => None }
    hinted.orElse {
      store.list(logDir(tableDir)).iterator
        .map(_.getPath.getName)
        .collect { case CheckpointFileRe(v) => v.toLong }
        .filter(_ <= until)
        .maxOption
        .filter(v => checkpointExists(tableDir, v))
    }
  }

  /** All checkpoint versions present in the log, ascending. */
  private[vintage] def checkpointVersions(tableDir: String): Seq[Long] =
    store.list(logDir(tableDir)).iterator
      .map(_.getPath.getName)
      .collect { case CheckpointFileRe(v) => v.toLong }
      .toSeq.distinct.sorted

  /** Delete commit JSONs and checkpoints strictly below `base` (which
    * must itself be a checkpoint version — it becomes the oldest replay
    * base). Returns the number of log files removed. Cached snapshots
    * of truncated versions are dropped.
    */
  private[vintage] def deleteSegmentsBefore(tableDir: String, base: Long): Long = {
    require(checkpointExists(tableDir, base),
      s"log truncation base $base has no checkpoint in $tableDir")
    var removed = 0L
    store.list(logDir(tableDir)).foreach { s =>
      val keep = s.getPath.getName match {
        case VersionFileRe(v) => v.toLong >= base
        case CheckpointFileRe(v) => v.toLong >= base
        case _ => true // _last_checkpoint and unknown files stay
      }
      if (!keep) { store.delete(s.getPath); removed += 1 }
    }
    snapshotCache.synchronized {
      snapshotCache.keySet.removeIf(k => k._1 == tableDir && k._2 < base)
    }
    removed
  }

  def readVersion(tableDir: String, v: Long): Seq[Action] = {
    val f = versionFile(tableDir, v)
    if (!store.exists(f))
      throw new IOException(s"version $v not found for table $tableDir")
    // a commit file is immutable once published, but on checksum-backed
    // local filesystems the data/.crc pair is renamed non-atomically —
    // a reader racing the publish can see a transient ChecksumException;
    // the retry reads the settled file
    var attempt = 0
    while (true) {
      // lenient: unknown action types are skipped — the protocol gate
      // in replay() catches the cases where skipping would be unsafe
      try return store.readLines(f).filter(_.nonEmpty)
        .flatMap(Action.fromJsonLineLenient)
      catch {
        case e: org.apache.hadoop.fs.ChecksumException =>
          attempt += 1
          if (attempt > 5) throw e
          Thread.sleep(10L * attempt)
      }
    }
    Nil // unreachable
  }

  /** Process-wide snapshot cache. A (tableDir, version) pair
    * immutably identifies a snapshot — committed versions are never
    * rewritten — so entries cannot go stale; what keeps concurrent
    * writers visible is that [[replay]] still resolves the LATEST
    * version from the log listing on every call. Entries come from
    * two places: a replay caches what it read, and [[commit]] caches
    * the version it published ([[handOff]]), so the reader that
    * follows a commit in this process hits. A version another process
    * committed misses and replays. Keys are path strings: one table
    * under two spellings is two sets of entries. LRU-bounded small:
    * at scale a snapshot's file list is the dominant driver-memory
    * cost, so hold only a handful of hot (table, version) states.
    */
  private val snapshotCacheSize = 16
  private val snapshotCache =
    new java.util.LinkedHashMap[(String, Long), Snapshot](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), Snapshot]): Boolean =
        size() > snapshotCacheSize
    }

  private[graft] def clearSnapshotCache(): Unit =
    snapshotCache.synchronized(snapshotCache.clear())

  /** Drop all cached snapshots of one table. Needed when the table
    * directory itself is deleted or renamed (DROP/RENAME TABLE): a
    * re-created table restarts at version 0, and without this a stale
    * (dir, 0) entry would serve the old table's state.
    */
  private[vintage] def invalidate(tableDir: String): Unit =
    snapshotCache.synchronized {
      snapshotCache.keySet.removeIf(_._1 == tableDir)
    }

  /** Replay the log up to (and including) `untilVersion`
    * (None = latest): load the newest checkpoint at or before it, then
    * apply only the tail commits. Hits the snapshot cache first.
    */
  def replay(tableDir: String, untilVersion: Option[Long] = None): Snapshot = {
    val latest = latestVersion(tableDir)
    require(latest >= 0, s"not a vintage table (no $LogDirName): $tableDir")
    val until = untilVersion.getOrElse(latest)
    require(until >= 0 && until <= latest,
      s"version $until out of range [0, $latest] for $tableDir")
    val key = (tableDir, until)
    snapshotCache.synchronized(Option(snapshotCache.get(key))) match {
      case Some(cached) => cached
      case None =>
        val snap = doReplay(tableDir, until)
        snapshotCache.synchronized(snapshotCache.put(key, snap))
        snap
    }
  }

  private def doReplay(tableDir: String, until: Long): Snapshot = {
    val state = new SnapshotState
    val start: Long = checkpointVersionFor(tableDir, until) match {
      case Some(cp) =>
        val parts = checkpointParquetParts(tableDir, cp)
        val spill = parts.nonEmpty && parts.iterator
          .map(CheckpointCodec.recordCount(_, store.hadoopConf))
          .sum >= spillThreshold
        if (spill) {
          state.spillBase = Some(parts)
          // writer contract: every non-add action lives in part 1
          CheckpointCodec.readMeta(parts.head, store.hadoopConf)
            .foreach(state.fold(_, checkpoint = true))
        } else
          readCheckpointActions(tableDir, cp).foreach(state.fold(_, checkpoint = true))
        cp + 1
      case None => 0L
    }
    (start to until).foreach { v =>
      readVersion(tableDir, v).foreach(state.fold(_, checkpoint = false))
    }
    state.snapshot(tableDir, until)
  }

  /** Table state folded from a base — the empty table, a checkpoint's
    * actions or a cached non-spilled [[Snapshot]] — plus commits in
    * version order: the one fold behind [[replay]] and [[handOff]], so
    * a replayed and a handed-off snapshot of a version cannot differ.
    */
  private final class SnapshotState {
    val files = scala.collection.mutable.LinkedHashMap[String, AddFile]()
    var schema: Option[StructType] = None
    var properties = Map.empty[String, String]
    var partitionColumns = Seq.empty[String]
    var proto: Protocol = Protocol.base
    var rowIdHwm = 0L
    val commits = scala.collection.mutable.ArrayBuffer[CommitInfo]()
    val txns = scala.collection.mutable.Map[String, Long]()
    val ingested = scala.collection.mutable.Set[String]()
    // SPILLED mode (huge checkpoint): the checkpoint's adds never
    // enter `files` — only the tail's do, with every tail remove
    // recorded so the index can subtract it from the checkpoint rows
    var spillBase: Option[Seq[Path]] = None
    val tailRemoves = scala.collection.mutable.LinkedHashSet[String]()

    def fold(a: Action, checkpoint: Boolean): Unit = a match {
      case a: AddFile    => files(a.path) = a
      case r: RemoveFile => if (!checkpoint) {
        files.remove(r.path)
        if (spillBase.isDefined) tailRemoves += r.path
      }
      case m: Metadata   =>
        schema = Some(m.schema); properties = m.properties
        partitionColumns = m.partitionColumns
      case c: CommitInfo => commits += c
      case t: Txn        =>
        txns(t.appId) = math.max(t.version, txns.getOrElse(t.appId, Long.MinValue))
      case i: IngestedFile => ingested += i.source
      case p: Protocol   => proto = p
      case h: RowIdHighWaterMark => rowIdHwm = math.max(rowIdHwm, h.next)
    }

    /** Why this state is no snapshot a reader may use, if it is not.
      * The READER-FEATURE GATE: refusing here is what keeps both
      * unknown features and skipped unknown actions from producing
      * silently wrong reads (e.g. a DV format this generation cannot
      * subtract).
      */
    def problem(tableDir: String): Option[String] = {
      val unreadable = proto.readerFeatures.filterNot(Protocol.SupportedReader)
      if (unreadable.nonEmpty)
        Some(s"table $tableDir requires reader features ${unreadable.mkString(", ")} " +
          s"this engine does not support (supported: " +
          s"${Protocol.SupportedReader.toSeq.sorted.mkString(", ")})")
      else if (schema.isEmpty) Some(s"no metaData action in log of $tableDir")
      else None
    }

    def snapshot(tableDir: String, version: Long): Snapshot = {
      problem(tableDir).foreach(p => throw new IOException(p))
      spillBase match {
        case None =>
          Snapshot(version, schema.get, files.values.toSeq, properties,
            commits.toSeq, partitionColumns, txns.toMap, ingested.toSet,
            proto, rowIdHwm)
        case Some(cpPaths) =>
          val idx = SpilledIndex(cpPaths.map(_.toString), files.values.toSeq,
            tailRemoves.toSet)
          val conf = store.hadoopConf
          Snapshot(version, schema.get, new LazyFileList(() => idx.materialize(conf)),
            properties, commits.toSeq, partitionColumns, txns.toMap,
            ingested.toSet, proto, rowIdHwm, Some(idx))
      }
    }
  }

  private object SnapshotState {
    /** The state of non-spilled `s`, ready to fold its successor onto. */
    def of(s: Snapshot): SnapshotState = {
      val st = new SnapshotState
      s.files.foreach(st.fold(_, checkpoint = true))
      st.schema = Some(s.schema); st.properties = s.properties
      st.partitionColumns = s.partitionColumns
      st.proto = s.protocol; st.rowIdHwm = s.rowIdHwm
      st.commits ++= s.commits; st.txns ++= s.txns; st.ingested ++= s.ingested
      st
    }
  }

  /** Version whose commit timestamp is the latest <= `ts` (time travel
    * by timestamp, README.md:166,321). Uses the commit history already
    * carried by the snapshot, so it reads checkpoint + tail too.
    */
  def versionAtTimestamp(tableDir: String, ts: Long): Long =
    versionAtOrBefore(tableDir, ts, inclusive = true).getOrElse(
      throw new IllegalArgumentException(
        s"no version at or before timestamp $ts for $tableDir"))

  /** Newest version with commit timestamp <= `ts` (inclusive) or < `ts`
    * (exclusive), if any — the shared primitive behind batch time
    * travel and the streaming `startingTimestamp` option.
    */
  private[graft] def versionAtOrBefore(
      tableDir: String, ts: Long, inclusive: Boolean): Option[Long] = {
    val commits = replay(tableDir).commits.sortBy(_.version)
    commits.filter(c => if (inclusive) c.timestamp <= ts else c.timestamp < ts)
      .map(_.version).lastOption
  }
}
