package graft.vintage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.util.SerializableConfiguration
import org.roaringbitmap.longlong.Roaring64Bitmap

/** Merge-on-read deletion vectors: subtract per-file deleted row
  * positions ([[AddFile.dv]] / [[AddFile.dvRef]]) from a scan WITHOUT
  * rewriting data files.
  *
  * Read-side mechanics (the whole trick): Spark's parquet reader
  * exposes each row's index — its physical position inside its file,
  * kept correct under file splits and row-group/page skipping. A
  * table's deletion state is therefore the (file, position) set from
  * the log, subtracted in ONE place: [[connector.VintageNativeScan]]
  * holds each file's vector in its task and drops the rows whose index
  * is in it, reading a sidecar itself ([[sidecarPositions]]). Every
  * read of a file with a DV goes through it — SQL, fluent, V1
  * `format("vintage")`, streaming, change feed and the DML scans (every
  * internal read of a file set is `VintageTable.readFiles`, which always
  * plans it) — and it is also the only source of row positions and
  * row ids. Commits grow vectors through one tier policy ([[grow]]).
  *
  * DV storage is three-tier per file, graded by cardinality:
  *   - INLINE (<= `maxInline` positions AND within the commit-wide
  *     `maxInlineTotal` budget): positions live in the log line and
  *     ride the scan's task description. Both caps guard the
  *     driver: the per-file cap bounds any one vector, the global
  *     budget bounds the sum a wide sweep could otherwise collect
  *     (overflow demotes to the sidecar tier, smallest vectors kept).
  *     A file whose vector already lives in a sidecar never returns
  *     to the inline tier (sidecar is sticky — its prior positions
  *     exist only distributed).
  *   - SIDECAR (> cap but sparse relative to the file): positions live
  *     in a parquet sidecar under `_vintage_dv/`, read only by the
  *     tasks that scan or re-vector that file and never materialized on
  *     the driver — the wide-but-sparse GDPR sweep (1% of every file of
  *     a 100 TB table) costs one small sidecar per commit, not a
  *     rewrite of everything.
  *   - REWRITE (>= `maxDeletedFraction` of the file's rows dead):
  *     copy-on-write — when most of a file dies, rewriting the
  *     survivors is the cheaper plan AND keeps the table small.
  *
  * Capability parity note: the reference's own delete
  * (/root/reference/README.md:281) is copy-on-write via Delta 0.6.1;
  * deletion vectors are the scale path modern Delta added for the
  * identical operation (Delta stores RoaringBitmap sidecars; parquet
  * position-lists here keep the sidecar scannable by the same engine
  * that reads everything else).
  */
object DeletionVectors {

  /** Table property choosing how the fluent row-level ops change the
    * files they touch: fluent DELETE and UPDATE, and a SQL DELETE whose
    * predicate translates to source filters (it runs the fluent
    * delete), grow deletion vectors when it is true and rewrite every
    * touched file copy-on-write when it is not. SQL UPDATE, SQL MERGE
    * and other SQL DELETE always commit deletion vectors, and the
    * fluent MERGE always rewrites. Read once, by the fluent row-level
    * planner (`VintageTable.planRowLevel`).
    */
  val EnabledProp = "vintage.deletionVectors.enabled"

  /** Table property bounding the inline DV size per file; a vector
    * past this cap moves to a sidecar file (or a rewrite, when dense
    * enough — see [[MaxDeletedFractionProp]]).
    */
  val MaxInlineProp = "vintage.deletionVectors.maxInline"
  val DefaultMaxInline = 10000

  /** Table property: a row-level op whose total deleted fraction of a
    * file would reach this threshold rewrites the file copy-on-write
    * instead of growing its DV (files with unknown footer counts never
    * rewrite — they take the sidecar path).
    */
  val MaxDeletedFractionProp = "vintage.deletionVectors.maxDeletedFraction"
  val DefaultMaxDeletedFraction = 0.5

  /** Table property bounding the TABLE-WIDE total of inline DV
    * positions. The per-file cap ([[MaxInlineProp]]) bounds each
    * vector, but a wide sparse delete — the GDPR sweep touching 1% of
    * every file — lands every file under the per-file cap while the
    * sum is `nFiles × cap`: at 100k files that is 10⁹ positions on
    * the driver, both at commit time (the inline tier collects new
    * positions) and at every snapshot replay (the log materializes
    * all inline vectors). The budget check therefore counts the
    * UNTOUCHED files' existing inline positions too: when the
    * table-wide total would exceed it, overflow files demote to the
    * sidecar tier, whose write is fully distributed; smallest vectors
    * keep the cheap inline/broadcast path. (Racing commits can
    * transiently overshoot by at most one commit's budget each —
    * bounded, and corrected by the next demotion.)
    */
  val MaxInlineTotalProp = "vintage.deletionVectors.maxInlineTotal"
  val DefaultMaxInlineTotal = 1000000L

  /** Sidecar directory name under the table root. */
  val SidecarDirName = "_vintage_dv"

  def enabled(props: Map[String, String]): Boolean =
    props.get(EnabledProp).exists(_.toBoolean)

  def maxInline(props: Map[String, String]): Int =
    props.get(MaxInlineProp).map(_.toInt).getOrElse(DefaultMaxInline)

  def maxDeletedFraction(props: Map[String, String]): Double =
    props.get(MaxDeletedFractionProp).map(_.toDouble)
      .getOrElse(DefaultMaxDeletedFraction)

  def maxInlineTotal(props: Map[String, String]): Long =
    props.get(MaxInlineTotalProp).map(_.toLong)
      .getOrElse(DefaultMaxInlineTotal)

  /** Split per-file-cap-passing inline candidates into (kept inline,
    * demoted to sidecar) under the global [[MaxInlineTotalProp]]
    * budget. Smallest grown vectors are kept first (ties broken on the
    * key for determinism), maximizing the number of files whose vector
    * rides the log for a given driver-memory budget; the
    * demoted remainder rides the distributed sidecar writer, so driver
    * memory stays bounded regardless of how many files a sweep grazes.
    */
  def applyInlineBudget(inlineKeys: Seq[String], grown: Map[String, Long],
      budget: Long): (Seq[String], Seq[String]) = {
    val sorted = inlineKeys.sortBy(k => (grown(k), k))
    var total = 0L
    val keep = Seq.newBuilder[String]
    val demote = Seq.newBuilder[String]
    sorted.foreach { k =>
      if (total + grown(k) <= budget) { total += grown(k); keep += k }
      else demote += k
    }
    (keep.result(), demote.result())
  }

  /** Remaining table-wide inline budget for one commit: the cap minus
    * the UNTOUCHED files' existing inline positions — snapshot replay
    * materializes every inline vector, so the bound is table-wide, not
    * per-commit.
    */
  private def remainingInlineBudget(snap: Snapshot,
      touched: Iterable[AddFile]): Long = {
    // spilled snapshots sum the table-wide inline total DISTRIBUTED
    // over the checkpoint rows instead of walking a driver file list
    val tableInline = snap.spilled match {
      case Some(ix) =>
        ix.inlineDvTotal(org.apache.spark.sql.SparkSession.active)
      case None => snap.files.iterator.map(_.dv.size.toLong).sum
    }
    val untouchedInline = tableInline - touched.iterator.map(_.dv.size.toLong).sum
    math.max(0L, maxInlineTotal(snap.properties) - untouchedInline)
  }

  /** The grown AddFiles of one row-level commit that marks `positions`
    * (rows `(file_key, pos)` of live rows, so disjoint from each file's
    * prior vector) deleted, `counts` of them per file key — the one
    * tier policy of the fluent and SQL row-level paths. `touched` holds
    * every file the commit replaces by key: those of `counts` plus any
    * the caller rewrites instead, which leave the table-wide budget.
    * `positions` is read only where a vector grows. A grown vector
    * stays inline when it is within the per-file cap and
    * its file has no sidecar (sidecar is sticky: the prior positions of
    * a sidecar exist only distributed, and inlining would read them
    * onto the driver), unless the global budget demotes it; every other
    * grown vector goes to one new sidecar.
    */
  private[vintage] def grow(snap: Snapshot, tablePath: String,
      touched: Map[String, AddFile], positions: => DataFrame,
      counts: Map[String, Long]): Seq[AddFile] = {
    val grown = counts.map { case (k, c) => k -> (touched(k).dvCount + c) }
    val cap = maxInline(snap.properties)
    val (inlineCandidates, overCap) = counts.keys.toSeq
      .partition(k => grown(k) <= cap && touched(k).dvRef.isEmpty)
    val (inlineKeys, demoted) = applyInlineBudget(inlineCandidates, grown,
      remainingInlineBudget(snap, touched.values))
    val sidecarKeys = overCap ++ demoted
    def of(keys: Seq[String]) = positions.filter(col("file_key").isInCollection(keys.toSet))
    // bounded collect: <= cap positions per inline file
    val inline =
      if (inlineKeys.isEmpty) Map.empty[String, Array[Long]]
      else of(inlineKeys).collect().map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, ps) => k -> ps.map(_._2) }
    val marked = inlineKeys.map { k =>
      val f = touched(k)
      f.copy(dataChange = true,
        dv = (f.dv ++ inline.getOrElse(k, Array.empty[Long])).distinct.sorted)
    }
    val sidecarMarked =
      if (sidecarKeys.isEmpty) Nil
      else {
        val rel = writeSidecar(of(sidecarKeys), tablePath,
          sidecarKeys.map(k => PriorVector(tablePath, touched(k))))
        sidecarKeys.map { k =>
          touched(k).copy(dataChange = true, dv = Nil, dvRef = Some(DvRef(rel, grown(k))))
        }
      }
    marked ++ sidecarMarked
  }

  /** Canonical file key — the `_vintage_file` value, and the key a
    * sidecar's rows carry: [[VintageTable.canonicalKey]] of the file's
    * absolute path.
    */
  private[vintage] def fileKey(absPath: String): String =
    VintageTable.canonicalKey(absPath)

  /** Add the deleted positions `sidecarDir` holds for the file keyed
    * `key` to `into` — the one sidecar reader. Runs in a task (the scan
    * reading that file, or the writer growing its vector): the
    * parquet reader skips row groups whose `file_key` range excludes
    * the key, and the driver never sees the positions. Reads both the
    * run-length rows `(pos_start, pos_end)` and the single-position
    * rows `(pos)` of sidecars written before the run-length format.
    */
  private[vintage] def sidecarPositions(sidecarDir: String, key: String,
      conf: org.apache.hadoop.conf.Configuration, into: Roaring64Bitmap): Unit = {
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.io.api.Binary
    val dir = new org.apache.hadoop.fs.Path(sidecarDir)
    val filter = FilterCompat.get(FilterApi.eq(
      FilterApi.binaryColumn("file_key"), Binary.fromString(key)))
    dir.getFileSystem(conf).listStatus(dir)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .foreach { st =>
        val reader = ParquetReader.builder(new GroupReadSupport, st.getPath)
          .withConf(conf).withFilter(filter).build()
        try Iterator.continually(reader.read()).takeWhile(_ != null).foreach { g =>
          def get(c: String) =
            if (g.getType.containsField(c) && g.getFieldRepetitionCount(c) > 0)
              Some(g.getLong(c, 0)) else None
          val start = get("pos").orElse(get("pos_start")).get
          into.addRange(start, get("pos_end").getOrElse(start) + 1)
        } finally reader.close()
      }
  }

  /** A file's deletion vector as a commit finds it: the key the new
    * sidecar's rows carry, its inline positions, and the (sidecar dir,
    * key) its sidecar positions are read from.
    */
  private[vintage] final case class PriorVector(key: String, inline: Array[Long],
      sidecar: Option[(String, String)])

  private[vintage] object PriorVector {
    def apply(tablePath: String, f: AddFile): PriorVector = {
      val key = fileKey(f.absolutePath(tablePath))
      PriorVector(key, f.dv.toArray,
        f.dvRef.map(r => (AddFile.resolve(tablePath, r.path), key)))
    }
  }

  /** Write the full deletion vector of each of `files` as ONE parquet
    * sidecar dir per commit, returning its table-relative path. A
    * file's vector is its prior positions plus its rows of `positions`
    * (schema: (file_key, pos)); the task that writes the file's rows
    * reads the prior ones itself ([[sidecarPositions]]), so a sidecar
    * position never reaches the driver. Positions are RUN-LENGTH
    * encoded: each row is a contiguous `[pos_start, pos_end]` run, so
    * a clustered delete (a dropped partition's rows, a contiguous
    * ingest batch) costs one row per run instead of one per position —
    * the roaring-bitmap trade expressed in plain parquet. Sparse
    * vectors degrade gracefully to single-position runs.
    *
    * One shuffle clusters the positions by file; each task then holds
    * one file's vector at a time. Rows stay clustered by file for
    * row-group skipping on the read side.
    */
  private[vintage] def writeSidecar(positions: DataFrame, tablePath: String,
      files: Seq[PriorVector]): String = {
    val spark = positions.sparkSession
    import spark.implicits._
    val rel = s"$SidecarDirName/${java.util.UUID.randomUUID().toString}"
    val prior = files.map(p => p.key -> p).toMap
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(
      spark.sessionState.newHadoopConf()))
    positions
      .select(col("file_key"), col("pos"))
      .as[(String, Long)]
      // one -1 marker per file: a file with no new position keeps its
      // prior vector (the clone re-keys sidecars this way)
      .union(files.map(_.key -> -1L).toDS())
      .repartition(col("file_key"))
      .sortWithinPartitions("file_key")
      .mapPartitions { it =>
        val rows = it.buffered
        Iterator.continually(rows).takeWhile(_.hasNext).flatMap { r =>
          val key = r.head._1
          val vector = new Roaring64Bitmap
          prior.get(key).foreach { p =>
            vector.add(p.inline: _*)
            p.sidecar.foreach { case (dir, k) =>
              sidecarPositions(dir, k, conf.value.value, vector)
            }
          }
          while (r.hasNext && r.head._1 == key) {
            val pos = r.next()._2
            if (pos >= 0) vector.addLong(pos)
          }
          runs(vector).map { case (start, end) => (key, start, end) }
        }
      }
      .toDF("file_key", "pos_start", "pos_end")
      .write.parquet(s"$tablePath/$rel")
    rel
  }

  /** The maximal `[start, end]` runs of `vector`, in order. */
  private def runs(vector: Roaring64Bitmap): Iterator[(Long, Long)] = {
    val it = vector.getLongIterator
    var next = if (it.hasNext) it.next() else -1L
    Iterator.continually(next).takeWhile(_ >= 0).map { start =>
      var end = start
      next = -1L
      while (next < 0 && it.hasNext) {
        val p = it.next()
        if (p == end + 1) end = p else next = p
      }
      (start, end)
    }
  }
}
