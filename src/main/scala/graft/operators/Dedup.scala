package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for large text corpora: exact (content
  * hash), MinHash-LSH near-dup (banded — candidate pairs only ever form
  * inside a (band, bucket) group, never via an all-pairs product),
  * SimHash (64-bit, pigeonhole-banded), and exact n-gram Jaccard
  * verification.
  *
  * 100 TB design notes:
  *   - every stage is a declarative DataFrame program: shingling and
  *     signatures are per-row expressions (codegen'd, no UDFs); the
  *     only shuffles are the (band, bucket) groupBy and the final
  *     candidate verification join, both on bounded keys.
  *   - bucket skew (a degenerate bucket with millions of members) is
  *     capped with `maxBucketSize` — oversized buckets are dropped and
  *     reported rather than exploded into O(n²) pairs, the standard
  *     guard in web-scale dedup pipelines.
  *   - signatures use 2-universal permutations a*h+b mod p over 32-bit
  *     base hashes (constants sized so a*h+b never overflows a long).
  */
object Dedup {

  /** Mersenne-ish prime > 2^32 for the minhash permutation ring. */
  private val P = 4294967311L

  /** Materialize `df` with its lineage truncated: a result set, so
    * heavyweight upstream persists can be freed immediately, or the
    * input or state of an iterative loop (PageRank, label propagation),
    * so its plan stays bounded. Uses a RELIABLE checkpoint when the
    * session has a checkpoint dir configured — localCheckpoint blocks
    * live only on executor-local storage with lineage truncated, so an
    * executor loss (dynamic allocation, spot nodes) would make the
    * result unrecoverable; with `spark.sparkContext.setCheckpointDir`
    * pointed at durable storage the materialized set survives executor
    * churn. Falls back to localCheckpoint otherwise.
    */
  private[operators] def checkpoint(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
  }

  /** Distinct character k-shingles of `textCol` as an array column.
    * Backed by the codegen'd [[graft.functions.CharShingles]] — one
    * codepoint walk instead of the O(len²) interpreted
    * substring-per-window form [[shinglesRegex]], which it matches
    * bit-for-bit (CharShinglesSpec).
    */
  def shingles(textCol: String, k: Int): Column =
    org.apache.spark.sql.graftshim.ColumnExpr.column(
      graft.functions.CharShingles(
        org.apache.spark.sql.graftshim.ColumnExpr.expr(col(textCol)), k))

  /** The declarative formulation of [[shingles]] — kept as the
    * reference semantics (the oracle SQL mirrors it) and compared
    * bit-for-bit in CharShinglesSpec.
    */
  def shinglesRegex(textCol: String, k: Int): Column = expr(
    s"array_distinct(transform(sequence(1, greatest(length($textCol) - ${k - 1}, 1)), " +
    s"i -> substring($textCol, i, $k)))")

  /** MinHash signature (array of `numHashes` longs) over the distinct
    * shingle array in `shCol`: sig_j = min over shingles of
    * (a_j * h32(s) + b_j) mod p, with a_j/b_j derived from j by
    * hashing — deterministic across runs and engines. Computed by the
    * codegen'd [[graft.functions.MinHashSignature]] expression (one
    * compiled pass; the equivalent SQL higher-order functions would be
    * interpreted per element).
    */
  def minHashSignature(shCol: String, numHashes: Int): Column =
    org.apache.spark.sql.graftshim.ColumnExpr.column(
      graft.functions.MinHashSignature(
        org.apache.spark.sql.graftshim.ColumnExpr.expr(col(shCol)), numHashes))

  /** Exact dedup: one row per distinct value of `hashCol` expression,
    * keeping the row with the smallest `idCol` (deterministic greedy
    * survivor). Single hash-groupBy — the map-side partial aggregation
    * makes this the cheapest possible full-corpus dedup.
    */
  def exactDedup(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val keep = df
      .groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol))
      .drop("content_hash")
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Candidate near-dup pairs via banded MinHash-LSH, verified with
    * exact shingle-set Jaccard. Returns (id_a, id_b, jaccard) with
    * id_a < id_b and jaccard >= threshold.
    *
    * Banding: `bands` bands of numHashes/bands rows; two docs become a
    * candidate pair iff some band of their signatures is identical —
    * the classic S-curve selectivity. All joins are equi-joins on
    * (band, bucketHash); there is no cross product anywhere.
    *
    * The signature/bucket DAG references the expensive shingle+128-hash
    * stage from five places (band explode, bucket sizing, both sides of
    * the pair self-join, verification); with `materialize` (the
    * default) those intermediates are persisted, the verified pair set
    * — small relative to the corpus — is materialized via
    * `localCheckpoint`, and the intermediates are freed before
    * returning. At 100 TB you would persist the signature table anyway;
    * recomputing it 5× is strictly worse. Pass `materialize = false` to
    * get the pure lazy plan (used by plan-shape tests).
    *
    * SIZING AT SCALE (both rules measured at the 50M soak under a
    * 2 GB heap — see ScaleSoak's partition comment):
    *  - the band explode makes the banded frame `bands`× the input
    *    rows, so shuffle partitions must be sized to the EXPLODED
    *    volume, not the input — otherwise each window-sort task
    *    buffers bands× its intended share and its sort pointer array
    *    alone reaches O(100 MB);
    *  - the candidate-pair frames are ultra-narrow (two longs), and
    *    AQE partition COALESCING targets compressed BYTES — a "16 MB"
    *    coalesced partition of delta-compressed sorted ids holds
    *    millions of rows, re-creating the same giant-sort failure.
    *    Under tightly-capped executors either disable
    *    `spark.sql.adaptive.coalescePartitions.enabled` for this
    *    pipeline or budget ~16 B of sort memory per ROW, not per
    *    shuffle byte, when choosing the advisory partition size.
    */
  /** (`__id`, `__sh`, `__sig`) projection — the shared expensive stage
    * of every MinHash pipeline (shingling + signature); callers persist
    * it when they reference it more than once.
    */
  private[graft] def signatures(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int): DataFrame =
    df.select(col(idCol).as("__id"), shingles(textCol, shingleSize).as("__sh"))
      .withColumn("__sig", minHashSignature("__sh", numHashes))

  /** Banded bucket rows (`__id`, `__band`, `__bucket`) of a signature
    * frame, keeping only buckets whose size is in [minSize,
    * maxBucketSize] — oversized (degenerate-content) buckets are
    * dropped BEFORE any pair can form, the skew guard of every
    * LSH join here. `minSize` is 2 for self-joins (a singleton bucket
    * cannot pair) and 1 for cross-corpus joins (the partner comes from
    * the other side).
    */
  private[graft] def bandedBuckets(
      withSh: DataFrame, bands: Int, rowsPerBand: Int,
      minSize: Int, maxBucketSize: Int): DataFrame = {
    val b = withSh.select(col("__id"), posexplode(expr(
      s"transform(sequence(0, ${bands - 1}), b -> " +
      s"xxhash64(concat_ws(',', b, slice(__sig, b * $rowsPerBand + 1, $rowsPerBand))))"))
      .as(Seq("__band", "__bucket")))
    // size-filter via ONE window over the bucket key instead of
    // groupBy-sizes + join-back: the join form shuffles the exploded
    // frame twice and — when the caller runs lazily — recomputes the
    // signature stage once per side (measured at the 1M soak: the
    // bucket stage cost ~2 signature passes + 2 shuffles). The window
    // shuffles b once; a degenerate mega-bucket group spills through
    // WindowExec's external row buffer rather than OOMing.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__band", "__bucket")
    b.withColumn("__n", count(lit(1)).over(w))
      .filter(col("__n").between(minSize, maxBucketSize))
      .select("__id", "__band", "__bucket")
  }

  /** Exact shingle-set Jaccard of the `__sh_a`/`__sh_b` columns. */
  private val exactJaccard =
    expr("size(array_intersect(__sh_a, __sh_b)) / " +
         "cast(size(__sh_a) + size(__sh_b) - size(array_intersect(__sh_a, __sh_b)) as double)")

  def nearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 16,
      threshold: Double = 0.8, maxBucketSize: Int = 10000,
      materialize: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands

    val withSh0 = signatures(df, idCol, textCol, shingleSize, numHashes)
    val withSh =
      if (materialize) withSh0.persist(StorageLevel.MEMORY_AND_DISK)
      else withSh0

    // candidate pairs: a bucket-key SELF-JOIN, so pair generation
    // distributes across tasks — materializing each bucket's pair list
    // as one in-row array would put O(cap²) structs in a single row
    // (multi-GB at the default cap). bandedBuckets drops degenerate
    // buckets before any pair forms via a window count over the
    // band/bucket partition — one pass, no separate count table.
    val eligible0 = bandedBuckets(withSh, bands, r, minSize = 2, maxBucketSize)
    val eligible =
      if (materialize) eligible0.persist(StorageLevel.MEMORY_AND_DISK)
      else eligible0
    val pairs = eligible.as("l")
      .join(eligible.as("r"),
        col("l.__band") === col("r.__band") &&
        col("l.__bucket") === col("r.__bucket") &&
        col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
      .distinct()

    // exact verification on the candidate set only
    val sets = withSh.select(col("__id"), col("__sh"))
    val verified = pairs
      .join(sets.select(col("__id").as("id_a"), col("__sh").as("__sh_a")), "id_a")
      .join(sets.select(col("__id").as("id_b"), col("__sh").as("__sh_b")), "id_b")
      .withColumn("jaccard", exactJaccard)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    if (!materialize) verified
    else {
      // checkpoint runs the job now and keeps the (small) pair set
      // around, so the heavyweight intermediates can be dropped
      // immediately instead of lingering for the caller's action.
      // NOTE: materialize=true executes the whole job EAGERLY at call
      // time — failures surface here, not at the caller's first action.
      val out = checkpoint(verified)
      withSh.unpersist(blocking = false)
      eligible.unpersist(blocking = false)
      out
    }
  }

  /** Transitive near-duplicate GROUPS: LSH pairs (see [[nearDupPairs]])
    * closed under connectivity by [[Components.connectedComponents]] —
    * a ~ b, b ~ c puts a, b, c in one group even when a and c do not
    * match directly. Returns `(idCol, group)` for every doc that is in
    * at least one pair; `group` is the smallest id of the cluster.
    */
  def nearDupGroups(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 16,
      threshold: Double = 0.8, maxBucketSize: Int = 10000): DataFrame =
    Components.connectedComponents(
      nearDupPairs(df, idCol, textCol, shingleSize, numHashes, bands,
        threshold, maxBucketSize), "id_a", "id_b")
      .select(col("id").as(idCol), col("component").as("group"))

  /** Cluster-aware near-dup removal: keeps exactly ONE doc (the
    * smallest id) per transitive duplicate cluster, plus all docs in no
    * cluster. Unlike the greedy [[dropNearDuplicates]], a chain
    * a ~ b ~ c keeps only a (greedy would also keep c, whose only match
    * b was itself dropped).
    */
  def dropNearDuplicatesTransitive(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val losers = nearDupGroups(df, idCol, textCol, shingleSize, numHashes,
        bands, threshold)
      .filter(col(idCol) =!= col("group"))
      .select(col(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Greedy near-dup removal: drops every doc that near-matches a doc
    * with a smaller id. Cheaper than the transitive variant (no
    * component iteration) but over-keeps on chains — see
    * [[dropNearDuplicatesTransitive]].
    */
  def dropNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val losers = nearDupPairs(df, idCol, textCol, shingleSize, numHashes,
        bands, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** 64-bit SimHash over whitespace tokens: bit i is set iff the sum of
    * (+1 / −1) contributions of token-hash bit i over all tokens is
    * positive. Backed by the codegen'd [[graft.functions.SimHash64]] —
    * one fused pass per row; bit-identical to the interpreted SQL
    * higher-order-function reference form [[simHashRegex]]
    * (SimHash64Spec pins the equality).
    */
  def simHash(textCol: String): Column =
    org.apache.spark.sql.graftshim.ColumnExpr.column(
      graft.functions.SimHash64(
        org.apache.spark.sql.graftshim.ColumnExpr.expr(col(textCol))))

  /** The declarative HOF formulation of [[simHash]] — kept as the
    * reference semantics and compared bit-for-bit in SimHash64Spec.
    */
  def simHashRegex(textCol: String): Column = expr(
    s"""aggregate(
       |  transform(sequence(0, 63), i ->
       |    IF(aggregate(split(lower($textCol), '\\\\s+'), 0L, (acc, t) ->
       |         acc + IF((shiftright(xxhash64(t), i) & 1) = 1, 1L, -1L)) > 0,
       |       shiftleft(1L, i), 0L)),
       |  0L, (a, b) -> a | b)""".stripMargin)

  /** Near-dup pairs by SimHash hamming distance <= maxHamming (<= 3 for
    * the default 4-chunk banding: pigeonhole guarantees any pair within
    * hamming 3 shares at least one identical 16-bit chunk).
    */
  def simHashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 10000,
      materialize: Boolean = true): DataFrame = {
    val withSig = df.select(col(idCol).as("__id"), simHash(textCol).as("__sim"))
    val chunked0 = withSig.select(col("__id"), col("__sim"), posexplode(expr(
      "transform(sequence(0, 3), c -> shiftright(__sim, c * 16) & 65535)"))
      .as(Seq("__chunk", "__ckey")))
    // persist/localCheckpoint discipline: see nearDupPairs — the 64-bit
    // fingerprint aggregate is the expensive stage here
    val chunked =
      if (materialize) chunked0.persist(StorageLevel.MEMORY_AND_DISK)
      else chunked0
    // distributed bucket self-join (see nearDupPairs): no in-row pair
    // arrays, degenerate buckets dropped before any pair forms
    val sizes = chunked.groupBy("__chunk", "__ckey")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n").between(2, maxBucketSize))
      .select("__chunk", "__ckey")
    val eligible0 = chunked.join(sizes, Seq("__chunk", "__ckey"))
    val eligible =
      if (materialize) eligible0.persist(StorageLevel.MEMORY_AND_DISK)
      else eligible0
    val result = eligible.as("l")
      .join(eligible.as("r"),
        col("l.__chunk") === col("r.__chunk") &&
        col("l.__ckey") === col("r.__ckey") &&
        col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"),
        bit_count(col("l.__sim").bitwiseXOR(col("r.__sim"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    if (!materialize) result
    else {
      val out = checkpoint(result)
      chunked.unpersist(blocking = false)
      eligible.unpersist(blocking = false)
      out
    }
  }

  /** PORTABLE SimHash near-dup pairs: same pigeonhole-banded pipeline
    * as [[simHashPairs]], but the signature is `bands × bandBits` bits
    * over the first-48-bits-of-md5 token hash instead of xxhash64 —
    * every stage (hash, bit-majority vote, banding, hamming) is
    * reproducible by any engine with md5 and bit ops, which puts the
    * simhash ALGORITHM CLASS on the exact DuckDB hash gate (q60) where
    * the xxhash64 variant could only ever self-certify (q29).
    *
    * The majority vote runs as ONE codegen'd aggregation pass: per
    * document, `bands*bandBits` conditional bit-sums + a token count
    * (map-side combine, no per-bit re-scan — the HOF formulation
    * re-walks the token array per bit). Banding is exact, not
    * approximate, for `maxHamming < bands`: a pair within hamming h
    * flips at most h bands, so with h < bands at least one band
    * matches verbatim (pigeonhole) and the pair is found.
    *
    * Returns (id_a, id_b, hamming), id_a < id_b, hamming <= maxHamming.
    * Documents with zero tokens carry no signature and never pair.
    */
  def simHashPortablePairs(
      df: DataFrame, idCol: String, textCol: String,
      bands: Int = 8, bandBits: Int = 6, maxHamming: Int = 2,
      maxBucketSize: Int = 10000, materialize: Boolean = true): DataFrame = {
    val bits = bands * bandBits
    require(bits <= 62, s"signature of $bits bits does not fit a Long")
    require(maxHamming < bands,
      s"banding is only exact for maxHamming < bands ($maxHamming >= $bands)")
    val tok = df
      .select(col(idCol).as("__id"),
        explode(TextAnalysis.tokens(col(textCol))).as("__t"))
      .select(col("__id"),
        conv(substring(md5(col("__t")), 1, 12), 16, 10).cast("long").as("__h"))
    val bitSums = (0 until bits).map(i =>
      sum(shiftright(col("__h"), i).bitwiseAND(lit(1L))).as(s"__b$i"))
    val agg = tok.groupBy("__id")
      .agg(count(lit(1)).as("__n"), bitSums: _*)
    val sig = (0 until bits).map(i =>
      when(col(s"__b$i") * 2 > col("__n"), lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    val withSig = agg.select(col("__id"), sig.as("__sim"))
    val mask = (1L << bandBits) - 1
    val chunked0 = withSig.select(col("__id"), col("__sim"), posexplode(expr(
      s"transform(sequence(0, ${bands - 1}), c -> shiftright(__sim, c * $bandBits) & $mask)"))
      .as(Seq("__chunk", "__ckey")))
    val chunked =
      if (materialize) chunked0.persist(StorageLevel.MEMORY_AND_DISK)
      else chunked0
    val sizes = chunked.groupBy("__chunk", "__ckey")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n").between(2, maxBucketSize))
      .select("__chunk", "__ckey")
    val eligible0 = chunked.join(sizes, Seq("__chunk", "__ckey"))
    val eligible =
      if (materialize) eligible0.persist(StorageLevel.MEMORY_AND_DISK)
      else eligible0
    val result = eligible.as("l")
      .join(eligible.as("r"),
        col("l.__chunk") === col("r.__chunk") &&
        col("l.__ckey") === col("r.__ckey") &&
        col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"),
        bit_count(col("l.__sim").bitwiseXOR(col("r.__sim"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    if (!materialize) result
    else {
      val out = checkpoint(result)
      chunked.unpersist(blocking = false)
      eligible.unpersist(blocking = false)
      out
    }
  }

  /** Cross-corpus near-duplicates: corpus docs that near-match ANY
    * document of `reference` — the fuzzy-decontamination primitive of a
    * pretraining pipeline (drop training docs that near-duplicate an
    * eval/benchmark set, or a previously-trained corpus). Same banded
    * MinHash-LSH as [[nearDupPairs]], but the bucket join runs BETWEEN
    * the two corpora (never within either), so cost is driven by the
    * bucket co-occurrence of the two sets — with a small reference set
    * (the common case: benchmarks) the grouped reference side is tiny
    * and broadcasts. Candidates are verified with exact shingle-set
    * Jaccard. Returns (corpus_id, ref_id, jaccard).
    *
    * Buckets larger than `maxBucketSize` on EITHER side are dropped on
    * that side before any pair forms (degenerate-content skew guard, as
    * in [[nearDupPairs]]).
    */
  def nearDupAgainst(
      corpus: DataFrame, reference: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 16,
      threshold: Double = 0.8, maxBucketSize: Int = 10000,
      materialize: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands

    def prep(df: DataFrame): DataFrame = {
      val withSh = signatures(df, idCol, textCol, shingleSize, numHashes)
      if (materialize) withSh.persist(StorageLevel.MEMORY_AND_DISK) else withSh
    }
    val cSh = prep(corpus); val rSh = prep(reference)
    // minSize = 1: a singleton bucket can still pair with the OTHER side
    val pairs = bandedBuckets(cSh, bands, r, minSize = 1, maxBucketSize).as("c")
      .join(bandedBuckets(rSh, bands, r, minSize = 1, maxBucketSize).as("r"),
        col("c.__band") === col("r.__band") &&
        col("c.__bucket") === col("r.__bucket"))
      .select(col("c.__id").as("corpus_id"), col("r.__id").as("ref_id"))
      .distinct()
    val verified = pairs
      .join(cSh.select(col("__id").as("corpus_id"), col("__sh").as("__sh_a")),
        "corpus_id")
      .join(rSh.select(col("__id").as("ref_id"), col("__sh").as("__sh_b")),
        "ref_id")
      .withColumn("jaccard", exactJaccard)
      .filter(col("jaccard") >= threshold)
      .select(col("corpus_id"), col("ref_id"), col("jaccard"))
    if (!materialize) verified
    else {
      val out = checkpoint(verified)
      cSh.unpersist(blocking = false)
      rSh.unpersist(blocking = false)
      out
    }
  }

  /** Banded MinHash signature rows for PERSISTENCE: `(idCol, band,
    * bucket)` for EVERY band of every doc — the LSH index of a corpus,
    * stored alongside it (as a versioned table in the incremental
    * crawl-refresh composition, q126) and joined against by
    * [[nearDupAgainstIndex]] without ever re-reading the corpus text.
    * The bucket hash is bit-identical to [[bandedBuckets]]'s
    * (IndexedNearDupSpec pins the equality), so an index built today
    * joins candidates tomorrow. No size filter here — persistence
    * wants every row; the degenerate-bucket caps apply at JOIN time,
    * where the corpus actually pays for them.
    */
  def signatureBuckets(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, numHashes: Int = 128,
      bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    signatures(df, idCol, textCol, shingleSize, numHashes)
      .select(col("__id").as(idCol), posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> " +
        s"xxhash64(concat_ws(',', b, slice(__sig, b * $r + 1, $r))))"))
        .as(Seq("band", "bucket")))
  }

  /** Incremental cross-corpus near-duplicates: new docs vs a STORED
    * LSH index — the refresh-time sibling of [[nearDupAgainst]], for
    * the standing pipeline where the reference corpus is too large to
    * re-shingle per batch. `index` is a [[signatureBuckets]] table
    * (`indexIdCol, band, bucket`); `storedDocs` maps `indexIdCol` to
    * `storedTextCol` and is consulted ONLY for candidate verification
    * (a candidate-bounded semi-join, never a full re-shingle).
    * Returns `(new_id, stored_id, jaccard)` with jaccard >= threshold.
    *
    * Skew guards at 100 TB, one per side:
    *  - the NEW side caps through [[bandedBuckets]]'s window count —
    *    batch-sized, cheap;
    *  - the INDEX side must NOT be pushed through a window (that
    *    shuffles the whole corpus-sized index): oversized buckets are
    *    found with one map-side-combinable groupBy — the result is
    *    TINY (only degenerate keys) — and removed with a broadcast
    *    anti-join, so the index scan itself stays shuffle-free.
    *
    * This entry point SCANS the whole `index` frame per batch (no
    * shuffle, but a full read) — right when the batch is a sizable
    * fraction of the corpus. For the standing-refresh shape (a small
    * batch against a 100 TB corpus) use [[NearDupIndex.refresh]],
    * which prunes the stored index to the files carrying the batch's
    * bucket keys before this same join runs.
    */
  def nearDupAgainstIndex(
      newDocs: DataFrame, idCol: String, textCol: String,
      index: DataFrame, indexIdCol: String, storedDocs: DataFrame,
      storedTextCol: String,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 16,
      threshold: Double = 0.8, maxBucketSize: Int = 10000,
      materialize: Boolean = true,
      signatureStorage: StorageLevel = StorageLevel.MEMORY_AND_DISK)
      : DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val nSh0 = signatures(newDocs, idCol, textCol, shingleSize, numHashes)
    // `signatureStorage`: the signature frame carries the full shingle
    // array per doc — columnar-cached it PINS the storage pool, and at
    // a 1M-doc batch under a 2 GB heap that sustained pressure is a
    // GC-overhead OOM (measured: the r18 50M IndexSoak's first run
    // died exactly there). Corpus-scale batches pass DISK_ONLY —
    // transient unroll buffers only, reads stream back from disk.
    val nSh =
      if (materialize) nSh0.persist(signatureStorage) else nSh0
    val nB = bandedBuckets(nSh, bands, r, minSize = 1, maxBucketSize)
    // corpusScaleBatch: this entry point's contract is a batch that is
    // a sizable fraction of the corpus, where a planner-chosen
    // broadcast of a shingle-bearing join side is catastrophic —
    // Catalyst estimates the signature frame from its source stats
    // (e.g. spark.range → a few MB) and cannot see the ~KB-per-row
    // shingle arrays, so a 1M-doc batch "estimated 8 MB, actually
    // 3+ GB" gets broadcast and OOMs the driver/executors (measured:
    // the r18 50M IndexSoak, leg 3 — heap full of serialized
    // signature-row chunks mid-broadcast-build). Small standing
    // refreshes go through [[NearDupIndex.refresh]], which keeps the
    // planner's broadcast freedom on its pruned path.
    val verified = verifyAgainstIndex(nSh, nB, index, indexIdCol,
      storedDocs, storedTextCol, shingleSize, threshold, maxBucketSize,
      materialize, corpusScaleBatch = true)
    if (!materialize) verified
    else {
      val out = checkpoint(verified)
      nSh.unpersist(blocking = false)
      out
    }
  }

  /** Shared core of the index-join tier: batch band-buckets `nB`
    * (already window-capped) against an `index` frame — the FULL
    * signature table for [[nearDupAgainstIndex]], a probe-key-PRUNED
    * slice of it for [[NearDupIndex.refresh]]. Exactness under
    * pruning: stats/bloom skipping is a superset filter, so every
    * index row whose bucket is in the probe set survives into the
    * pruned frame — the oversized-bucket groupBy here therefore sees
    * the exact full-index count for every key the batch can touch,
    * and the cap decision is identical to the full-scan path's.
    *
    * Verification is candidate-bounded on BOTH sides: the stored text
    * is semi-joined down to the candidate ids (broadcast — candidates
    * are batch-sized) BEFORE the shingle projection runs, so a
    * refresh batch never re-shingles the stored corpus.
    *
    * `corpusScaleBatch` pins the two shingle-bearing verification
    * joins to sort-merge (spillable, no driver-side materialization):
    * the planner's size estimate for a signature frame comes from its
    * SOURCE's stats and misses the per-row shingle arrays, so on a
    * corpus-scale batch it happily broadcasts gigabytes. False (the
    * pruned small-refresh path) leaves the planner free — there a
    * broadcast of the batch-sized side is exactly right.
    */
  private[operators] def verifyAgainstIndex(nSh: DataFrame, nB: DataFrame,
      index: DataFrame, indexIdCol: String, storedDocs: DataFrame,
      storedTextCol: String, shingleSize: Int, threshold: Double,
      maxBucketSize: Int, materialize: Boolean,
      corpusScaleBatch: Boolean = false): DataFrame = {
    val oversized = index.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketSize)
      .select("band", "bucket")
    val sB = index
      .join(broadcast(oversized), Seq("band", "bucket"), "left_anti")
      .select(col(indexIdCol).as("stored_id"), col("band"), col("bucket"))
    val cands0 = nB
      .join(sB, nB("__band") === sB("band") && nB("__bucket") === sB("bucket"))
      .select(col("__id").as("new_id"), col("stored_id"))
      .distinct()
    // referenced twice below (candidate ids + verification rows):
    // batch-bounded, so materialize instead of re-running the index join
    val cands = if (materialize) checkpoint(cands0) else cands0
    val candIds = cands.select(col("stored_id").as("__cand_id")).distinct()
    val storedCand = storedDocs
      .join(broadcast(candIds), col(indexIdCol) === col("__cand_id"),
        "left_semi")
    val nSide = nSh.select(col("__id").as("new_id"), col("__sh").as("__sh_a"))
    val sSide = storedCand.select(col(indexIdCol).as("stored_id"),
      shingles(storedTextCol, shingleSize).as("__sh_b"))
    cands
      .join(if (corpusScaleBatch) nSide.hint("merge") else nSide, "new_id")
      .join(if (corpusScaleBatch) sSide.hint("merge") else sSide, "stored_id")
      .withColumn("jaccard", exactJaccard)
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("stored_id"), col("jaccard"))
  }

  /** Decontaminate: corpus minus every doc that near-duplicates any
    * reference doc (anti-join on [[nearDupAgainst]] hits).
    */
  def removeNearDuplicatesOf(
      corpus: DataFrame, reference: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val hits = nearDupAgainst(corpus, reference, idCol, textCol,
        shingleSize, numHashes, bands, threshold)
      .select(col("corpus_id").as(idCol)).distinct()
    corpus.join(hits, Seq(idCol), "left_anti")
  }

  /** Distinct word n-grams of a text column (Scala lambda variant of
    * `transform` — still a codegen'd expression, no UDF).
    */
  def wordNGrams(c: Column, n: Int): Column = {
    val toks = split(lower(c), "\\s+")
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
  }

  /** Exact word n-gram Jaccard similarity between two text columns —
    * the verification primitive for near-dup scoring.
    */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val ga = wordNGrams(a, n); val gb = wordNGrams(b, n)
    val inter = size(array_intersect(ga, gb))
    inter / (size(ga) + size(gb) - inter).cast("double")
  }

  /** Blocked edit-distance fuzzy matching — the entity-resolution
    * pairing primitive (record linkage, catalog/title dedup): emit
    * every unordered pair of rows sharing a caller-chosen blocking key
    * whose strings sit within `maxDist` Levenshtein edits.
    *
    * Scale shape: the self-join is a plain shuffled equi-join on the
    * blocking key — candidate pairs only ever form inside one block,
    * never via a cross product (an un-blocked fuzzy join is O(n²) and
    * unrunnable at corpus scale). `levenshtein` is Spark's built-in
    * codegen'd dynamic-programming kernel, evaluated only on in-block
    * pairs, with the threshold passed down so the DP row can abandon
    * early once the edit budget is exceeded. Block sizing is the
    * caller's lever (prefix, length band, phonetic key, …); blocks
    * larger than `maxBlock` are dropped whole rather than silently
    * exploded into quadratic work — the same deterministic guard as
    * the LSH `maxBucketSize` caps, and at 100 TB the dropped-block
    * report is the signal to refine the blocking key.
    */
  def fuzzyBlockedPairs(df: DataFrame, idCol: String, strCol: String,
      blockKey: Column, maxDist: Int, maxBlock: Int = 10000): DataFrame = {
    val keyed = df.select(col(idCol), col(strCol), blockKey.as("__blk"))
    val sized = keyed.groupBy("__blk").count()
      .filter(col("count") <= maxBlock).select("__blk")
    val inCap = keyed.join(sized, "__blk")
    val a = inCap.select(col("__blk"), col(idCol).as("a_id"),
      col(strCol).as("a_str"))
    val b = inCap.select(col("__blk"), col(idCol).as("b_id"),
      col(strCol).as("b_str"))
    a.join(b, "__blk")
      .filter(col("a_id") < col("b_id"))
      .withColumn("dist", levenshtein(col("a_str"), col("b_str"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select("a_id", "b_id", "dist")
  }
}
