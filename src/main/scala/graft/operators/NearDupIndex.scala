package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.vintage.VintageTable

/** The STORED LSH index as a first-class table: creation with a
  * prune-friendly physical layout, and an O(touched-files) refresh
  * lookup — the scale piece [[Dedup.nearDupAgainstIndex]] alone does
  * not give you.
  *
  * Why layout matters: the signature index of a 100 TB corpus is
  * `bands × docs` rows (hundreds of billions). A refresh batch of a
  * few thousand pages carries `bands × batch` distinct bucket keys —
  * tens of thousands — and must read ONLY the index files that can
  * contain those keys, not the whole index. Two physical properties
  * make that pruning real:
  *
  *  1. files are RANGE-CLUSTERED on `bucket`
  *     (`repartitionByRange(bucket).sortWithinPartitions(bucket)` at
  *     create), so each file's min/max covers a narrow slice of the
  *     64-bit bucket space and a sorted probe set intersects few of
  *     them;
  *  2. every file carries a BLOOM on `bucket`
  *     (`vintage.bloom.columns`), so files whose range a stray key
  *     does hit are still skipped unless the key is plausibly present
  *     — the point-lookup guard range stats cannot give on a hashed
  *     column.
  *
  * [[refresh]] then probes with one `bucket IN (keys…)` predicate.
  * [[graft.vintage.FileSkipping]]'s sorted large-IN path evaluates
  * that probe in O(files · log keys + keys) driver work, and the
  * pruned scan feeds the exact same join/verify core as the full-scan
  * path ([[Dedup.verifyAgainstIndex]]) — including the EXACT
  * oversized-bucket cap: skipping is a superset filter, so the pruned
  * frame holds every index row of every probed key, and per-key
  * counts over it equal the full-index counts. That is also why no
  * separately-maintained "oversized buckets" side table is needed:
  * the per-batch counts are derived exactly from the rows the batch
  * must read anyway, at O(touched) cost, and can never go stale
  * against compaction/vacuum rewrites the way a materialized side
  * table could.
  *
  * MERGE maintenance (the q126 cadence — update matched `(id, band)`
  * rows, insert new ones) appends files that are NOT range-clustered;
  * they have wide min/max and are touched by every probe until
  * re-clustering. Plain `OPTIMIZE`/compaction bin-packs WITHOUT
  * sorting — it cannot narrow the ranges; the restore operation is
  * `table.cluster(numFiles, "bucket")` (SQL: `OPTIMIZE t ZORDER BY
  * (bucket)` — single-column z-order IS a range sort), run on the
  * index at the same cadence you compact the corpus
  * (IndexedNearDupSpec pins the widen-then-restore cycle). The
  * per-file bloom still applies to unclustered files meanwhile.
  */
object NearDupIndex {

  /** Table properties every signature index table carries. */
  val IndexProps: Map[String, String] = Map("vintage.bloom.columns" -> "bucket")

  /** Create the persisted LSH index of `corpus` at `path`:
    * [[Dedup.signatureBuckets]] rows `(idCol, band, bucket)`,
    * range-clustered and in-file-sorted on `bucket`, with a per-file
    * bucket bloom. `clusterFiles` caps the file count (0 = the
    * session's shuffle parallelism); at a real corpus size pick it so
    * files land near the table's target file size — more files =
    * finer pruning, bounded by the driver's file-list handling (the
    * spilled-snapshot tier takes over past the threshold).
    */
  def createIndex(spark: SparkSession, path: String, corpus: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 5,
      numHashes: Int = 128, bands: Int = 16,
      clusterFiles: Int = 0, bloomBits: Int = 0): VintageTable = {
    val sig = Dedup.signatureBuckets(corpus, idCol, textCol,
      shingleSize, numHashes, bands)
    val n = if (clusterFiles > 0) clusterFiles
      else spark.sessionState.conf.numShufflePartitions
    // bloom sizing is per FILE: ~10 bits per expected distinct bucket
    // value in a file keeps the fpp useful; an undersized bloom
    // saturates and degrades to range-only pruning (still sound).
    // 0 keeps the table default — right for small indexes; size it
    // explicitly when files carry 100k+ rows.
    val props = if (bloomBits > 0)
      IndexProps + ("vintage.bloom.bits" -> bloomBits.toString)
    else IndexProps
    VintageTable.create(spark, path,
      sig.repartitionByRange(n, col("bucket")).sortWithinPartitions("bucket"),
      props)
  }

  /** Probe-key ceiling for the pruned path: above it [[refresh]]
    * falls back to the full-scan join. The collect is `bands ×
    * batch` distinct longs — at the default, ~8 MB of driver memory
    * for a ~65k-doc batch. A batch bigger than that is no longer a
    * "small refresh against a huge corpus": it amortizes a full index
    * scan on its own, which is exactly what the fallback does.
    */
  val DefaultMaxProbeKeys: Int = 1 << 20

  /** Incremental near-dup lookup of a refresh batch against a STORED
    * index table, reading only the index files that can contain the
    * batch's bucket keys. Same contract as
    * [[Dedup.nearDupAgainstIndex]] — returns `(new_id, stored_id,
    * jaccard >= threshold)`, batch side window-capped, index side
    * exact-count-capped, verification candidate-bounded — plus the
    * pruning:
    *
    *  1. shingle+sign the batch once (persisted);
    *  2. collect its distinct bucket keys (`bands × batch` longs —
    *     bounded by `maxProbeKeys`, NOT by the corpus);
    *  3. scan the index through `bucket IN (keys…)` — stats+bloom
    *     file skipping prunes to the touched files;
    *  4. run the shared join/verify core on the pruned slice.
    *
    * `indexVersion` pins the lookup to a snapshot (pass the version
    * your decisions must be consistent with — e.g. the pre-merge
    * version inside a refresh transaction, the q126 idiom).
    */
  def refresh(newDocs: DataFrame, idCol: String, textCol: String,
      sigTable: VintageTable, indexIdCol: String, storedDocs: DataFrame,
      storedTextCol: String,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 16,
      threshold: Double = 0.8, maxBucketSize: Int = 10000,
      indexVersion: Option[Long] = None,
      maxProbeKeys: Int = DefaultMaxProbeKeys): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // the NATIVE scan, not `toDF`: only the connector path routes
    // pushed filters through SnapshotPruning/FileSkipping, which is
    // where the probe-set file pruning actually happens
    val spark = newDocs.sparkSession
    val reader = spark.read.format("vintage")
    val idx0 = indexVersion
      .map(v => reader.option("versionAsOf", v.toString))
      .getOrElse(reader)
      .load(sigTable.path)
    // path decision BEFORE any persist: the corpus-scale branch must
    // never pin a batch-sized signature cache or materialize the
    // exploded band frame (the r18 50M soak's first run OOM'd on
    // exactly that — ScaleSoak's proven legs hold NO corpus-sized
    // persists). `bands × docs` bounds the probe-key count from one
    // cheap count job, no signature work.
    val nDocs = newDocs.count()
    if (bands.toLong * nDocs > maxProbeKeys.toLong)
      // full-scan join, disk-spilled signatures, band frame streamed
      return Dedup.nearDupAgainstIndex(newDocs, idCol, textCol,
        idx0, indexIdCol, storedDocs, storedTextCol,
        shingleSize, numHashes, bands, threshold, maxBucketSize,
        materialize = true, signatureStorage = StorageLevel.DISK_ONLY)
    val r = numHashes / bands
    val nSh = Dedup.signatures(newDocs, idCol, textCol, shingleSize,
      numHashes).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nB = Dedup.checkpoint(
        Dedup.bandedBuckets(nSh, bands, r, minSize = 1, maxBucketSize))
      val keys = nB.select(col("__bucket")).distinct()
        .collect().map(_.getLong(0))
      val idx =
        if (keys.isEmpty) idx0.limit(0) // empty batch: schema-only
        else idx0.filter(col("bucket").isin(keys.map(java.lang.Long.valueOf)
          .toIndexedSeq: _*))
      Dedup.checkpoint(
        Dedup.verifyAgainstIndex(nSh, nB, idx, indexIdCol, storedDocs,
          storedTextCol, shingleSize, threshold, maxBucketSize,
          materialize = true))
    } finally nSh.unpersist(blocking = false)
  }

  /** How "wide" the index's physical layout currently is: the expected
    * number of FILES whose `[min, max]` bucket range contains a
    * uniformly-random point key. Computed from log stats only (no data
    * read): `Σ_file rangeWidth / globalWidth`. A freshly
    * range-clustered table scores ~1 (disjoint slices that tile the
    * domain); every wide merge-appended file adds ~1 (its range spans
    * the domain, so every probe touches it). Files with no `bucket`
    * stats count as full-width — they genuinely cannot be range-pruned.
    * BigInt arithmetic: bucket is a 64-bit hash, so widths overflow
    * Long.
    */
  def rangeOverlapFactor(snap: graft.vintage.Snapshot): Double = {
    // statFiles, not files: under column mapping the stats are keyed by
    // physical names; statFiles remaps once to logical space
    val ranges = snap.statFiles.map { f =>
      f.stats.get("bucket").flatMap(s => for (mn <- s.min; mx <- s.max)
        yield (BigInt(mn.toLong), BigInt(mx.toLong)))
    }
    if (ranges.isEmpty) return 0.0
    val present = ranges.flatten
    val full = (BigInt(Long.MaxValue) - BigInt(Long.MinValue),
      ranges.size - present.size)
    val globalWidth =
      if (present.isEmpty) full._1
      else (present.map(_._2).max - present.map(_._1).min) + 1
    val covered = present.map { case (mn, mx) => mx - mn + 1 }.sum +
      full._1 * full._2 // statless files span the whole domain
    (BigDecimal(covered) / BigDecimal(globalWidth max 1)).toDouble
  }

  /** Turnkey maintenance for the q126/q130 MERGE cadence: when enough
    * wide-range merge files have accumulated that a point probe is
    * expected to touch more than `maxOverlapFactor` files
    * ([[rangeOverlapFactor]]), restore the range clustering with
    * `cluster(bucket)` (plain compaction bin-packs without sorting and
    * cannot narrow ranges — see the class doc). Returns true when a
    * re-cluster ran. The default threshold 2.0 fires after roughly one
    * domain-spanning file's worth of appends — each probe key was
    * reading ~2× the files it needs; below it, the per-file bloom
    * keeps unclustered files cheap enough to leave alone.
    *
    * Run it after the refresh MERGE commits, at whatever cadence you
    * compact the corpus; the check itself is O(files) driver work on
    * log stats, so calling it every batch is fine.
    */
  def maintain(sigTable: VintageTable, maxOverlapFactor: Double = 2.0,
      clusterFiles: Int = 0): Boolean = {
    val snap = sigTable.snapshot
    if (snap.files.isEmpty || rangeOverlapFactor(snap) <= maxOverlapFactor)
      return false
    val n = if (clusterFiles > 0) clusterFiles else snap.files.size
    sigTable.cluster(n, "bucket")
    true
  }
}
