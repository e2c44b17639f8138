package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The persisted-LSH-index tier ([[Dedup.signatureBuckets]] +
  * [[Dedup.nearDupAgainstIndex]], q126): the index a corpus stores
  * today must produce exactly the candidates the in-memory banding
  * would, and the incremental join must find new-batch near-dups
  * without re-shingling the stored corpus.
  */
class IndexedNearDupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val stored = Seq(
    (10L, "the quick brown fox jumps over the lazy dog again and again today"),
    (20L, "completely different content about spark query engines and columnar io"),
    (30L, "a third document that talks about minhash signatures and lsh banding"))
    .toDF("id", "text")

  test("signatureBuckets rows are bit-identical to bandedBuckets' keys") {
    // the persistence contract: an index written today joins candidates
    // tomorrow — so the stored (band, bucket) pairs must equal what the
    // in-memory pipeline computes, uncapped
    val fromIndex = Dedup.signatureBuckets(stored, "id", "text",
        shingleSize = 5, numHashes = 128, bands = 16)
      .select(col("id"), col("band"), col("bucket"))
      .as[(Long, Int, Long)].collect().toSet
    val fromPipeline = Dedup.bandedBuckets(
        Dedup.signatures(stored, "id", "text", 5, 128),
        bands = 16, rowsPerBand = 8, minSize = 1, maxBucketSize = 1000000)
      .select(col("__id"), col("__band"), col("__bucket"))
      .as[(Long, Int, Long)].collect().toSet
    assert(fromIndex == fromPipeline)
    assert(fromIndex.size == 3 * 16, "bands rows per stored doc")
  }

  test("nearDupAgainstIndex finds the planted near-dup through the stored index only") {
    val index = Dedup.signatureBuckets(stored, "id", "text")
    val batch = Seq(
      // near-dup of stored 10 (one trailing token perturbed)
      (101L, "the quick brown fox jumps over the lazy dog again and again todaX"),
      // unrelated new page
      (102L, "entirely novel text about watermark semantics in stream processing"))
      .toDF("id", "text")
    val hits = Dedup.nearDupAgainstIndex(
        batch, "id", "text", index, "id", stored, "text", threshold = 0.8)
      .select("new_id", "stored_id").as[(Long, Long)].collect().toSet
    assert(hits == Set((101L, 10L)), s"expected exactly the planted hit, got $hits")
  }

  test("degenerate index buckets are dropped by the cap before any pair forms") {
    // 50 stored docs with IDENTICAL text: every band bucket holds 50
    // rows; cap 10 must drop them all, so even an exact copy in the
    // batch yields no candidates (and the unrelated doc never pairs)
    val degen = spark.range(0, 50)
      .select(col("id"),
        lit("the same degenerate boilerplate text repeated across the corpus here").as("text"))
    val index = Dedup.signatureBuckets(degen.toDF(), "id", "text")
    val batch = Seq(
      (900L, "the same degenerate boilerplate text repeated across the corpus here"))
      .toDF("id", "text")
    val hits = Dedup.nearDupAgainstIndex(
      batch, "id", "text", index, "id", degen.toDF(), "text",
      threshold = 0.8, maxBucketSize = 10)
    assert(hits.count() == 0L)
  }

  // ------------------------------------------------ stored-table tier

  /** A corpus of `n` distinct synthetic docs — id'd, content varied
    * enough that LSH buckets are essentially unique per (doc, band).
    */
  private def corpus(n: Int) = spark.range(0, n.toLong)
    .select(col("id"), concat(lit("document number "), col("id"),
      lit(" carries its own entirely distinct narrative payload about topic "),
      col("id") * 7919, lit(" with sufficient length for shingling ")).as("text"))

  test("refresh against the stored table finds exactly the full-scan path's hits") {
    val dir = java.nio.file.Files.createTempDirectory("ndidx").toString
    val c = corpus(400).toDF()
    val t = NearDupIndex.createIndex(spark, dir + "/sig", c, "id", "text",
      clusterFiles = 64)
    val batch = Seq(
      // near-dup of stored 123 (tail perturbed)
      (9001L, "document number 123 carries its own entirely distinct narrative payload about topic 974037 with sufficient length for shinglinX "),
      // unrelated
      (9002L, "no stored page shares anything with this novel streaming text"))
      .toDF("id", "text")
    val viaPruned = NearDupIndex.refresh(batch, "id", "text", t, "id",
      c, "text").select("new_id", "stored_id")
      .as[(Long, Long)].collect().toSet
    val viaFull = Dedup.nearDupAgainstIndex(batch, "id", "text",
      t.toDF, "id", c, "text").select("new_id", "stored_id")
      .as[(Long, Long)].collect().toSet
    assert(viaPruned == viaFull)
    assert(viaPruned == Set((9001L, 123L)))
  }

  test("the probe scan touches O(batch-keys) files, not O(index)") {
    val dir = java.nio.file.Files.createTempDirectory("ndidx").toString
    val c = corpus(500).toDF()
    val t = NearDupIndex.createIndex(spark, dir + "/sig", c, "id", "text",
      clusterFiles = 64)
    val snap = t.snapshot
    assert(snap.files.size >= 48, "range clustering must spread the index over many files")
    // one probe doc = 16 band keys; each key lives in exactly one
    // range-clustered file, so the candidate set is bounded by the KEY
    // count — a fixed fraction of the index would scale with the corpus
    val oneDoc = corpus(500).filter(col("id") === 250L).toDF()
    val keys = Dedup.signatureBuckets(oneDoc, "id", "text")
      .select("bucket").as[Long].collect().toIndexedSeq
    assert(keys.size == 16)
    val pruned = t.candidateFiles(snap,
      col("bucket").isin(keys.map(java.lang.Long.valueOf): _*))
    assert(pruned.size <= keys.size,
      s"range-clustered probe must touch <= ${keys.size} files, touched ${pruned.size}")
    assert(pruned.size < snap.files.size / 2,
      s"probe touched ${pruned.size} of ${snap.files.size} files — not pruned")
    // and END TO END: the executed scan (which receives the probe set
    // as an optimizer-converted InSet) must open only the pruned files
    val q = spark.read.format("vintage").load(t.path)
      .filter(col("bucket").isin(keys.map(java.lang.Long.valueOf): _*))
    q.collect()
    val scan = q.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if s.scan.isInstanceOf[graft.vintage.connector.VintageNativeScan] => s
    }.getOrElse(fail("expected a BatchScanExec over VintageNativeScan"))
    val numFiles = scan.metrics(graft.vintage.connector.VintageNativeScan.FilesCandidate).value
    assert(numFiles <= keys.size.toLong,
      s"executed scan opened $numFiles files for ${keys.size} probe keys")
    assert(numFiles < snap.files.size / 2,
      s"executed scan opened $numFiles of ${snap.files.size} files — InSet not pruned")
  }

  test("degenerate-bucket caps are exact through the pruned scan") {
    // pruning is a superset filter, so per-key counts over the pruned
    // frame equal full-index counts: a 50-copy boilerplate bucket is
    // dropped by the cap even when probed through the stored table
    val dir = java.nio.file.Files.createTempDirectory("ndidx").toString
    val degen = spark.range(0, 50)
      .select(col("id"),
        lit("the same degenerate boilerplate text repeated across the corpus here").as("text"))
      .toDF()
    val t = NearDupIndex.createIndex(spark, dir + "/sig", degen, "id", "text",
      clusterFiles = 8)
    val batch = Seq(
      (900L, "the same degenerate boilerplate text repeated across the corpus here"))
      .toDF("id", "text")
    val hits = NearDupIndex.refresh(batch, "id", "text", t, "id",
      degen, "text", threshold = 0.8, maxBucketSize = 10)
    assert(hits.count() == 0L)
    // with a cap that admits the bucket, the same probe must pair
    val hits2 = NearDupIndex.refresh(batch, "id", "text", t, "id",
      degen, "text", threshold = 0.8, maxBucketSize = 100)
    assert(hits2.count() == 50L)
  }

  test("merge-appended files widen the probe; cluster(bucket) restores O(keys) pruning") {
    val dir = java.nio.file.Files.createTempDirectory("ndidx").toString
    val c = corpus(500).toDF()
    val t = NearDupIndex.createIndex(spark, dir + "/sig", c, "id", "text",
      clusterFiles = 64)
    val oneDoc = corpus(500).filter(col("id") === 123L).toDF()
    val keys = Dedup.signatureBuckets(oneDoc, "id", "text")
      .select("bucket").as[Long].collect().toIndexedSeq
    def touched(): Int = t.candidateFiles(t.snapshot,
      col("bucket").isin(keys.map(java.lang.Long.valueOf): _*)).size
    val before = touched()
    assert(before <= keys.size)
    // a freshly range-clustered index tiles the bucket domain with
    // disjoint slices: expected files-per-point-probe ~1
    val freshFactor = NearDupIndex.rangeOverlapFactor(t.snapshot)
    assert(freshFactor < 1.5, s"fresh clustered index overlap $freshFactor")
    assert(!NearDupIndex.maintain(t, maxOverlapFactor = 1.5),
      "maintain must be a no-op on a freshly clustered index")
    // the q126/q130 maintenance cadence: a refresh batch's signature
    // rows MERGE in — the insert lands in UNCLUSTERED file(s) whose
    // bucket range spans the whole domain, so every probe now touches
    // them too. (The appended batch must be big enough to saturate
    // the wide files' 1024-bit blooms — a 20-doc append was measured
    // bloom-invisible to a 16-key probe, which is itself the layout
    // working as designed.)
    val extra = corpus(2500).filter(col("id") >= 500).toDF()
    val sigExtra = Dedup.signatureBuckets(extra, "id", "text")
    t.as("t").merge(sigExtra.as("s"), "t.id = s.id AND t.band = s.band")
      .whenMatched().updateAll().whenNotMatched().insertAll()
      .execute()
    val widened = touched()
    assert(widened > before,
      s"the wide-range merge file must be probed too ($before -> $widened)")
    // the log-stats drift detector sees the domain-spanning insert
    // file(s) — each adds ~1 to the expected files-per-probe
    val widenedFactor = NearDupIndex.rangeOverlapFactor(t.snapshot)
    assert(widenedFactor > 1.5,
      s"wide merge files must raise the overlap factor, got $widenedFactor")
    // restore via the maintenance hook: single-column range clustering
    // (the ZORDER BY (bucket) path); plain bin-pack compaction cannot
    // narrow ranges
    assert(NearDupIndex.maintain(t, maxOverlapFactor = 1.5,
      clusterFiles = 64), "maintain must re-cluster past the threshold")
    val restoredFactor = NearDupIndex.rangeOverlapFactor(t.snapshot)
    assert(restoredFactor < 1.5,
      s"re-cluster must restore ~1 file per probe, got $restoredFactor")
    val restored = touched()
    assert(restored <= keys.size,
      s"after cluster(bucket) the probe must touch <= ${keys.size} files, got $restored")
    // and the planted near-dup still resolves through the maintained index
    val batch = Seq((9001L,
      "document number 123 carries its own entirely distinct narrative payload about topic 974037 with sufficient length for shinglinX "))
      .toDF("id", "text")
    // threshold 0.9: at 2500 template docs, id-prefix cousins (1230,
    // 1233, …) sit just over 0.8 against the probe — real matches of
    // the template fixture, not index errors; the planted copy is ~1.0
    val hits = NearDupIndex.refresh(batch, "id", "text", t, "id",
      corpus(2500).toDF(), "text", threshold = 0.9)
      .select("new_id", "stored_id")
      .as[(Long, Long)].collect().toSet
    assert(hits == Set((9001L, 123L)))
  }

  test("corpus-scale verification joins are pinned to sort-merge, never broadcast") {
    // the planner's estimate of a signature frame misses the ~KB
    // per-row shingle arrays (it derives from the SOURCE's stats), so
    // on nearDupAgainstIndex's corpus-scale contract it would broadcast
    // gigabytes — the r18 50M soak OOM. The merge hint must hold even
    // though this fixture is tiny and broadcast-eligible.
    val c = corpus(200).toDF()
    val index = Dedup.signatureBuckets(c, "id", "text")
    val batch = Seq((9001L,
      "document number 123 carries its own entirely distinct narrative payload about topic 974037 with sufficient length for shinglinX "))
      .toDF("id", "text")
    val out = Dedup.nearDupAgainstIndex(batch, "id", "text", index, "id",
      c, "text", materialize = false)
    out.collect()
    val plan = out.queryExecution.executedPlan
    def joins(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }.map(_.verboseString(3))
    val shingleBroadcasts = joins(plan).filter(s =>
      s.contains("__sh_a") || s.contains("__sh_b"))
    assert(shingleBroadcasts.isEmpty,
      s"shingle-bearing side must not be broadcast:\n${shingleBroadcasts.mkString}")
    assert(plan.toString.contains("SortMergeJoin"),
      "verification joins must be sort-merge under the corpus-scale contract")
  }

  test("an empty refresh batch yields an empty, schema-correct result") {
    val dir = java.nio.file.Files.createTempDirectory("ndidx").toString
    val c = corpus(20).toDF()
    val t = NearDupIndex.createIndex(spark, dir + "/sig", c, "id", "text")
    val out = NearDupIndex.refresh(c.filter(col("id") < 0), "id", "text",
      t, "id", c, "text")
    assert(out.columns.toSeq == Seq("new_id", "stored_id", "jaccard"))
    assert(out.count() == 0L)
  }
}
