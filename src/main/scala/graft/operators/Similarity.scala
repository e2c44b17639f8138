package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH-bucketed variant as the scale path.
  *
  * 100 TB design notes:
  *   - the exact variant broadcasts the (small) query set and streams
  *     the corpus once — no corpus shuffle; top-k is a per-query
  *     window over the scored pairs (scored rows ≈ |corpus| × |queries|,
  *     so keep |queries| bounded — that is inherent to exact search).
  *   - the LSH variant buckets both sides by sign-bit sketches of
  *     `planes` random hyperplanes with multiprobe (flip one bit), so
  *     the join touches only same/adjacent-bucket candidates; recall
  *     is tunable via planes/probes and verified in tests (>= 0.9 vs
  *     exact at the default setting).
  *   - dot products run in double precision inside whole-stage codegen
  *     via native Catalyst expressions (graft.functions.VectorOps) —
  *     no UDFs, no interpreted lambdas in the hot loop.
  */
object Similarity {

  import org.apache.spark.sql.graftshim.ColumnExpr

  /** Cosine similarity of two float-array columns, accumulated in
    * double in element order (bit-reproducible across engines that sum
    * sequentially). Backed by the codegen'd
    * [[graft.functions.CosineSimilarity]] expression — one compiled
    * fused loop; the equivalent zip_with/aggregate higher-order
    * functions evaluate interpreted per element, which made the exact
    * top-k 6× slower (VectorOpsSpec pins bit-equality to the HOF form).
    */
  def cosine(a: Column, b: Column): Column =
    ColumnExpr.column(graft.functions.CosineSimilarity(
      ColumnExpr.expr(a), ColumnExpr.expr(b)))

  /** Exact top-k neighbors for each query vector: returns
    * (queryIdCol, neighborIdCol, rk, cosine_sim), rk 1..k by descending
    * similarity, ties broken by neighbor id. Self-matches excluded.
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_sim", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rk"), col("cosine_sim"))
  }

  /** Symmetric per-vector int8 quantization of an embedding column
    * ([[graft.functions.Quantize8]]): 4× smaller vectors; cosine over
    * the byte arrays needs no dequantization (scales cancel).
    */
  def quantize8(vecCol: Column): Column =
    ColumnExpr.column(graft.functions.Quantize8(ColumnExpr.expr(vecCol)))

  /** Exact-shape top-k over int8-quantized vectors with full-precision
    * rescoring — the memory-bandwidth scale path for exact search: the
    * corpus-wide scoring pass streams 4×-smaller byte vectors, then only
    * the `k × rescoreFactor` survivors per query are re-ranked with the
    * original floats (a broadcast semi-join back to the corpus — rows
    * touched are |queries| × k × rescoreFactor, never the corpus).
    * Same output shape as [[bruteForceTopK]]; recall is governed by
    * `rescoreFactor` (int8 cosine error is ~1e-3, so the true top-k
    * almost always sit inside the top 4k quantized candidates).
    */
  def bruteForceTopKQuantized(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      rescoreFactor: Int = 4): DataFrame = {
    require(k > 0 && rescoreFactor >= 1)
    val c8 = corpus.select(col(idCol).as("neighbor_id"),
      quantize8(col(vecCol)).as("__c8"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), quantize8(col(vecCol)).as("__q8"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("__qsim").desc, col("neighbor_id").asc)
    val candidates = c8.join(broadcast(q.select(col("query_id"), col("__q8"))),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("__qsim", cosine(col("__q8"), col("__c8")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k.toLong * rescoreFactor)
      .select(col("query_id"), col("neighbor_id"))
    // rescore survivors with the full-precision vectors
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val rescored = cv.join(broadcast(candidates), Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("__qv"))), Seq("query_id"))
      .withColumn("cosine_sim", cosine(col("__qv"), col("__cv")))
    val wf = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col("neighbor_id").asc)
    rescored.withColumn("rk", row_number().over(wf))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rk"), col("cosine_sim"))
  }

  /** Sign-bit sketch of `planes` random hyperplanes (hash table
    * `salt`): bit j is set iff the dot product with hyperplane j is
    * positive. Hyperplane components are deterministic pseudo-random
    * ±1 weights derived by hashing (salt, plane, dimension index) —
    * reproducible, engine-neutral.
    */
  def hyperplaneSketch(vecCol: String, planes: Int, salt: Int = 0): Column =
    ColumnExpr.column(graft.functions.HyperplaneSketch(
      ColumnExpr.expr(col(vecCol)), planes, salt))

  /** All `tables` sketches as an array of (table, bucket) structs. */
  private def sketchTables(vecCol: String, planes: Int, tables: Int): Column =
    array((0 until tables).map(l =>
      struct(lit(l).as("__table"), hyperplaneSketch(vecCol, planes, l).as("__bucket"))): _*)

  /** Approximate top-k via multi-table random-hyperplane LSH
    * (OR-amplification): `tables` independent hash tables of `planes`
    * sign bits each; candidates are pairs sharing a bucket in ANY
    * table, then exact cosine ranks them. Same output shape as
    * [[bruteForceTopK]].
    *
    * Defaults are tuned for near-uniform embeddings (the hard case —
    * 10th-neighbor cosine ≈ 0.26 on the test corpus gives per-table
    * collision ≈ 0.2, so 14 tables put recall ≈ 0.95); denser real
    * corpora should raise `planes` to keep buckets selective.
    */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      planes: Int = 3, tables: Int = 14): DataFrame = {
    val keys = sketchTables(vecCol, planes, tables)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      explode(keys).as("__k"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      explode(keys).as("__k"))
    val scored = c.join(broadcast(q), Seq("__k"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("__qv"), col("__cv"))
      .distinct() // a pair colliding in several tables scores once
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("cosine_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rk"), col("cosine_sim"))
  }

  /** IVF (inverted-file) approximate top-k: a KMeans coarse quantizer
    * partitions the corpus into `numCells` cells; each query probes its
    * `nprobe` nearest cells and ranks candidates by exact cosine. The
    * classic billion-scale ANN layout: the corpus is scanned
    * cell-locally (cells ~ files/partitions at scale), and recall is a
    * direct function of nprobe.
    *
    * Centroids are tiny (numCells × dim) and broadcast; the only
    * corpus-wide work is one assignment pass — the KMeans quantizer is
    * fit on a bounded SAMPLE (`maxFitRows`, default 100k), so the fit
    * cost is constant in corpus size. A coarse quantizer needs only
    * enough points to place numCells centroids; fitting on the full
    * corpus would make the index build itself a multi-pass 100 TB job.
    *
    * Fit-sample policy (`fitFraction`):
    *   - `0.0` (the DEFAULT — "auto"): one `count()` over the corpus,
    *     then a corpus-wide uniform `sample(2 × maxFitRows / n)` capped
    *     at `maxFitRows`. Safe on any physical layout — the sample
    *     spans the whole scan even when files are ordered by embedding
    *     content (date, source, topic) — at the cost of one extra
    *     (cheap, column-pruned) counting job at index-build time.
    *   - `(0, 1)`: skip the count; `sample(fitFraction).limit(
    *     maxFitRows)` terminates the scan after ~maxFitRows/fitFraction
    *     rows. Use when the caller knows the corpus size well enough to
    *     pick a fraction with rows × fraction ≥ maxFitRows.
    *   - `1.0`: fast-but-biased — fit on the corpus HEAD
    *     (`limit(maxFitRows)`, no sampling). Only safe when file order
    *     is content-neutral.
    */
  /** Fit a coarse KMeans quantizer on a bounded sample of `corpusVec`
    * (which must carry a `__feat` vector column). Fit-sample policy —
    * `fitFraction`:
    *   - `0.0` ("auto", the safe default): one `count()`, then a
    *     corpus-wide uniform sample capped at `maxFitRows` — unbiased
    *     on any physical layout;
    *   - `(0, 1)`: skip the count, `sample(f).limit(maxFitRows)`;
    *   - `1.0`: fast-but-biased head fit (`limit` only).
    * A coarse quantizer only needs roughly-placed centroids — recall
    * comes from probing/verification, not KMeans convergence, so 10
    * iterations is the training budget.
    */
  private def fitQuantizer(
      corpusVec: DataFrame, numCells: Int, seed: Long,
      maxFitRows: Long, fitFraction: Double,
      predictionCol: String): org.apache.spark.ml.clustering.KMeansModel = {
    import org.apache.spark.ml.clustering.KMeans
    require(maxFitRows > 0 && maxFitRows <= Int.MaxValue,
      s"maxFitRows must be in (0, ${Int.MaxValue}], got $maxFitRows")
    require(fitFraction >= 0.0 && fitFraction <= 1.0,
      s"fitFraction must be in [0, 1] (0 = auto), got $fitFraction")
    val fitInput =
      if (fitFraction == 0.0) {
        val n = corpusVec.count()
        if (n <= maxFitRows) corpusVec
        else corpusVec
          .sample(withReplacement = false,
            math.min(1.0, 2.0 * maxFitRows / n), seed)
          .limit(maxFitRows.toInt)
      } else if (fitFraction >= 1.0) corpusVec.limit(maxFitRows.toInt)
      else corpusVec.sample(withReplacement = false, fitFraction, seed)
        .limit(maxFitRows.toInt)
    new KMeans().setK(numCells).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("__feat").setPredictionCol(predictionCol)
      .fit(fitInput)
  }

  /** Fit the IVF coarse quantizer once for reuse across several
    * [[ivfTopK]] searches (different `nprobe`/`k` settings probe the
    * SAME cell structure — q28 runs a full-probe exactness check and a
    * partial-probe recall check against one index; refitting KMeans
    * per search would double the training passes for bit-identical
    * centers, since the fit is fully determined by (corpus, numCells,
    * seed, sample bounds)).
    */
  def ivfQuantizer(corpus: DataFrame, idCol: String, vecCol: String,
      numCells: Int = 16, seed: Long = 42L, maxFitRows: Long = 100000L,
      fitFraction: Double = 0.0): org.apache.spark.ml.clustering.KMeansModel = {
    import org.apache.spark.ml.functions.array_to_vector
    val corpusVec = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), array_to_vector(col(vecCol)).as("__feat"))
    fitQuantizer(corpusVec, numCells, seed, maxFitRows, fitFraction, "__cell")
  }

  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      numCells: Int = 16, nprobe: Int = 6, seed: Long = 42L,
      maxFitRows: Long = 100000L, fitFraction: Double = 0.0,
      quantizer: Option[org.apache.spark.ml.clustering.KMeansModel] = None)
      : DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    require(k > 0, s"k must be positive, got $k")
    require(numCells > 0 && nprobe > 0 && nprobe <= numCells,
      s"need 0 < nprobe <= numCells, got nprobe=$nprobe numCells=$numCells")
    val spark = corpus.sparkSession

    val corpusVec = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), array_to_vector(col(vecCol)).as("__feat"))
    val model = quantizer.getOrElse(fitQuantizer(corpusVec, numCells, seed,
      maxFitRows, fitFraction, "__cell"))
    val assigned = model.transform(corpusVec)
      .select(col("neighbor_id"), col("__cv"), col("__cell"))

    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("__cell", "__centroid")

    // nprobe nearest cells per query (distance to each of the few
    // centroids; centroid table broadcast)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val dist2 = aggregate(
      zip_with(col("__qv"), col("__centroid"),
        (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
      lit(0.0), (acc, v) => acc + v)
    val wCells = Window.partitionBy("query_id").orderBy(col("__d2").asc, col("__cell").asc)
    val probed = q.crossJoin(broadcast(centroids))
      .withColumn("__d2", dist2)
      .withColumn("__rn", row_number().over(wCells))
      .filter(col("__rn") <= nprobe)
      .select(col("query_id"), col("__qv"), col("__cell"))

    val scored = assigned.join(broadcast(probed), Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("cosine_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rk"), col("cosine_sim"))
  }

  /** Embedding-cosine near-duplicate pairs: vectors whose cosine
    * similarity >= threshold, found via shared LSH buckets (id_a <
    * id_b). `tables` independent hash tables OR-amplify recall (a pair
    * is a candidate if it collides in ANY table — one table of `planes`
    * sign bits misses ~ (1 - (1-θ/π)^planes) of true pairs);
    * `maxBucketSize` drops degenerate buckets (an all-similar corpus
    * region would otherwise self-join O(n²) inside one bucket), and
    * pair generation is a distributed bucket self-join — no in-row
    * pair arrays.
    */
  def cosineNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 8, tables: Int = 4,
      maxBucketSize: Int = 10000, materialize: Boolean = true): DataFrame = {
    // persist/localCheckpoint discipline: see Dedup.nearDupPairs — the
    // sketch explode feeds bucket sizing AND both self-join sides
    val withB0 = df.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      explode(sketchTables(vecCol, planes, tables)).as("__k"))
    val withB =
      if (materialize) withB0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else withB0
    val sizes = withB.groupBy("__k")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n").between(2, maxBucketSize))
      .select("__k")
    val eligible0 = withB.join(sizes, Seq("__k"))
    val eligible =
      if (materialize) eligible0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else eligible0
    val result = eligible.as("l")
      .join(eligible.as("r"),
        col("l.__k") === col("r.__k") && col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"),
        cosine(col("l.__v"), col("r.__v")).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
      .distinct() // a pair colliding in several tables reports once
    if (!materialize) result
    else {
      val out = graft.operators.Dedup.checkpoint(result)
      withB.unpersist(blocking = false)
      eligible.unpersist(blocking = false)
      out
    }
  }

  /** SemDeDup-style semantic near-duplicate pairs: a KMeans coarse
    * quantizer partitions the corpus into `numClusters` cells, and
    * exact cosine runs only WITHIN each cell — the published recipe
    * for web-scale semantic dedup (cluster first, compare locally).
    * Returns (id_a, id_b, cosine_sim) with id_a < id_b and
    * cosine_sim >= threshold.
    *
    * Versus [[cosineNearDupPairs]] (LSH buckets): clustering adapts to
    * the corpus' own density — a topically-clumped corpus lands clumps
    * in dedicated cells instead of overflowing generic hash buckets —
    * at the cost of the quantizer fit and of missing pairs that
    * straddle a cell boundary (inherent to the method; raise
    * `numClusters` resolution or fall back to LSH when recall
    * dominates). Cells larger than `maxClusterSize` are dropped with
    * the same skew guard as every bucket join here.
    *
    * Scale shape: fit on a bounded sample ([[fitQuantizer]]), one
    * assignment pass, then a self-join shuffled on the cell id — no
    * cartesian anywhere, and per-cell cost is bounded by the cap.
    */
  def semanticDedupPairs(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      numClusters: Int = 64, seed: Long = 42L,
      maxFitRows: Long = 100000L, fitFraction: Double = 0.0,
      maxClusterSize: Int = 10000, materialize: Boolean = true): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    require(numClusters > 0, s"numClusters must be positive, got $numClusters")
    val corpusVec = df.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      array_to_vector(col(vecCol)).as("__feat"))
    val model = fitQuantizer(corpusVec, numClusters, seed, maxFitRows,
      fitFraction, "__cell")
    val assigned0 = model.transform(corpusVec)
      .select(col("__id"), col("__v"), col("__cell"))
    val assigned =
      if (materialize)
        assigned0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else assigned0
    val sizes = assigned.groupBy("__cell")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n").between(2, maxClusterSize))
      .select("__cell")
    val eligible0 = assigned.join(sizes, Seq("__cell"))
    // persisted like the other pair pipelines: both self-join sides
    // read it, and recomputing would redo the cell-size join twice
    val eligible =
      if (materialize)
        eligible0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else eligible0
    val result = eligible.as("l")
      .join(eligible.as("r"),
        col("l.__cell") === col("r.__cell") && col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"),
        cosine(col("l.__v"), col("r.__v")).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
    if (!materialize) result
    else {
      val out = graft.operators.Dedup.checkpoint(result)
      eligible.unpersist(blocking = false)
      assigned.unpersist(blocking = false)
      out
    }
  }

  /** Semantic dedup: keep ONE representative (smallest id) per
    * transitive cluster of semantic near-duplicates
    * ([[semanticDedupPairs]] closed under connectivity), plus every
    * unpaired document.
    */
  def dropSemanticDuplicates(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      numClusters: Int = 64, seed: Long = 42L): DataFrame = {
    val losers = Components.connectedComponents(
        semanticDedupPairs(df, idCol, vecCol, threshold, numClusters, seed),
        "id_a", "id_b")
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** PORTABLE semantic near-dup pairs — the embedding-cosine dedup
    * class on EXACT integer arithmetic end to end, so an external
    * engine replays it verbatim (gate q62; [[semanticDedupPairs]]'s
    * KMeans cells are Spark-ML-specific and can only self-certify).
    *
    *   1. int8-style quantization `floor(v_d * scale)` — floor of an
    *      exactly-shared double product, never round (half-way floats
    *      are engine-fragile);
    *   2. banded sign-LSH cells: plane components are ±1 from an
    *      integer hash parity (`(plane*2654435761 + dim*40503) >> 16
    *      & 1`), so a cell key is a pure integer function of the
    *      quantized vector;
    *   3. candidates = within-cell pairs per band (equi-join on
    *      (band, key), bucket-capped, no cartesian), deduped;
    *   4. verify with the EXACT rational cosine test
    *      `num > 0 && num² · den ≥ thr² · na · nb` on BIGINTs —
    *      no float ever crosses an engine boundary.
    *
    * `thresholdNumSq / thresholdDenSq` is the SQUARED cosine threshold
    * as an exact rational (cos ≥ 0.4 → 4/25). Returns
    * (id_a, id_b, num) with `num` the quantized dot product.
    */
  def semanticPairsPortable(
      df: DataFrame, idCol: String, vecCol: String,
      bands: Int = 6, bandBits: Int = 4,
      thresholdNumSq: Long = 4, thresholdDenSq: Long = 25,
      scale: Int = 256, maxBucketSize: Int = 10000): DataFrame = {
    require(bands > 0 && bandBits > 0 && bandBits < 31)
    val qv = transform(col(vecCol),
      x => floor(x.cast("double") * scale).cast("long"))
    // all plane dots in ONE compiled pass per row (codegen'd
    // expression; the per-plane HOF form re-walks the vector
    // interpreted, planes× slower — see PlaneDots)
    val dots = org.apache.spark.sql.graftshim.ColumnExpr.column(
      graft.functions.PlaneDots(
        org.apache.spark.sql.graftshim.ColumnExpr.expr(col("__qv")),
        bands * bandBits))
    def bandKey(b: Int): Column =
      (0 until bandBits).map { p =>
        when(element_at(col("__dots"), b * bandBits + p + 1) > 0,
          lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    val cells = df.select(col(idCol).as("__id"), qv.as("__qv"))
      .withColumn("__dots", dots)
      .select(col("__id"), col("__qv"),
        posexplode(array((0 until bands).map(bandKey): _*))
          .as(Seq("__band", "__key")))
    val sizes = cells.groupBy("__band", "__key")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n").between(2, maxBucketSize))
      .select("__band", "__key")
    val eligible = cells.join(sizes, Seq("__band", "__key"))
    val cand = eligible.as("l")
      .join(eligible.as("r"),
        col("l.__band") === col("r.__band") &&
        col("l.__key") === col("r.__key") &&
        col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
      .distinct()
    // exact verify: the pair dot runs as a codegen'd integer loop
    // ([[graft.functions.LongDotProduct]] — the HOF form pays dim
    // interpreted lambda calls per PAIR), and self-norms are computed
    // once per VECTOR here rather than once per pair after the join
    def longDot(a: Column, b: Column): Column =
      org.apache.spark.sql.graftshim.ColumnExpr.column(
        graft.functions.LongDotProduct(
          org.apache.spark.sql.graftshim.ColumnExpr.expr(a),
          org.apache.spark.sql.graftshim.ColumnExpr.expr(b)))
    val q = df.select(col(idCol).as("__id"), qv.as("__qv"))
      .withColumn("__norm", longDot(col("__qv"), col("__qv")))
    cand
      .join(q.select(col("__id").as("id_a"), col("__qv").as("__qa"),
        col("__norm").as("__na")), Seq("id_a"))
      .join(q.select(col("__id").as("id_b"), col("__qv").as("__qb"),
        col("__norm").as("__nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        longDot(col("__qa"), col("__qb")).as("num"),
        col("__na"), col("__nb"))
      .filter(col("num") > 0 &&
        col("num") * col("num") * lit(thresholdDenSq) >=
          lit(thresholdNumSq) * col("__na") * col("__nb"))
      .select("id_a", "id_b", "num")
  }

  /** PORTABLE IVF approximate-nearest-neighbor — the IVF SHAPE
    * (coarse cells, nprobe probing, exact rescore of the probed
    * candidates) of [[annIvf]] with every Spark-ML-specific piece
    * replaced by engine-reproducible arithmetic, so the whole index
    * sits on the exact hash gate (q63; KMeans-cell q28 self-certifies):
    *
    *   - pivots: the `numPivots` corpus vectors with the smallest
    *     Knuth unit-hash of their id — deterministic, content-
    *     addressed, and as uniformly spread over the corpus as a
    *     random draw (ids carry no geometry);
    *   - geometry: int8-style quantization (`floor(v·256)`), ALL
    *     distances exact integer L2 (`na + nb − 2·dot`) — ranking
    *     ties broken by id, so only integers ever cross engines;
    *   - assignment = nearest pivot; probing = each query's `nprobe`
    *     nearest cells; rescore = exact quantized L2 over the probed
    *     cells only.
    *
    * The pivot set is driver-bounded (`orderBy.limit`, numPivots
    * rows) and broadcast; assignment is the standard IVF
    * corpus × pivots pass. Output: (query_id, neighbor_id, rk),
    * rk ≤ k — integer ranks, the q14 portability shape.
    */
  def annIvfPortable(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      numPivots: Int = 16, nprobe: Int = 2, k: Int = 5,
      scale: Int = 256): DataFrame = {
    require(numPivots > 0 && nprobe > 0 && k > 0)
    val qv = transform(col(vecCol),
      x => floor(x.cast("double") * scale).cast("long"))
    // codegen'd integer dots (LongDotProduct) — the corpus×pivots
    // assignment pass is numPivots·3 dots per corpus row, the hot loop
    def dot(a: Column, b: Column): Column =
      org.apache.spark.sql.graftshim.ColumnExpr.column(
        graft.functions.LongDotProduct(
          org.apache.spark.sql.graftshim.ColumnExpr.expr(a),
          org.apache.spark.sql.graftshim.ColumnExpr.expr(b)))
    def dist(a: Column, b: Column): Column =
      dot(a, a) + dot(b, b) - lit(2L) * dot(a, b)
    val c = corpus.select(col(idCol).as("__id"), qv.as("__qv"))
    val pivots = c
      .withColumn("__h", Sampling.unitHash(col("__id")))
      .orderBy(col("__h"), col("__id"))
      .limit(numPivots)
      .select(col("__id").as("__pid"), col("__qv").as("__pv"))
    // cell routing fused into ONE corpus projection (guide §2.3/§2.4;
    // the annIvfPqPortable idiom): pivots ride as a broadcast 1-row
    // array and `array_min` over (dist, pid) structs replaces the old
    // corpus × numPivots explode + row_number window (a full shuffle
    // of the exploded frame) — and because __qv rides along, the later
    // re-join of the corpus by __id to fetch vectors is gone too.
    val pivArr = pivots
      .agg(collect_list(struct(col("__pid").as("pid"), col("__pv").as("pv")))
        .as("__ps"))
    val cellExpr = array_min(transform(col("__ps"), p =>
      struct(dist(col("__qv"), p.getField("pv")).as("d"),
        p.getField("pid").as("pid")))).getField("pid")
    val cellOf = c.crossJoin(broadcast(pivArr))
      .select(col("__id"), col("__qv"), cellExpr.as("__cell"))
    val probes = queries.select(col(idCol).as("__qid"), qv.as("__qqv"))
      .crossJoin(broadcast(pivots))
      .select(col("__qid"), col("__qqv"), col("__pid"),
        dist(col("__qqv"), col("__pv")).as("__dist"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__qid")).orderBy(col("__dist"), col("__pid"))))
      .filter(col("__rn") <= nprobe)
      .select(col("__qid"), col("__qqv"), col("__pid").as("__cell"))
    val scored = cellOf
      .join(broadcast(probes), Seq("__cell"))
      .filter(col("__id") =!= col("__qid"))
      .select(col("__qid"), col("__id"),
        dist(col("__qqv"), col("__qv")).as("__dist"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("__qid")).orderBy(col("__dist"), col("__id"))))
      .filter(col("rk") <= k)
      .select(col("__qid").as("query_id"), col("__id").as("neighbor_id"),
        col("rk").cast("long").as("rk"))
  }

  // ── Product quantization (IVF-PQ's compression half) ─────────────
  //
  // PQ is the standard memory-scale path for embedding search: split
  // each d-dim vector into m subvectors, learn `numCodes` centroids
  // per subspace, store each vector as m small codes (m bytes at
  // numCodes ≤ 256 — a 32× compression of a 64-dim float vector), and
  // score queries against codes via an m-lookup ADC (asymmetric
  // distance computation) table instead of a d-mult dot product. At
  // 100 TB the win is the scoring pass streaming m-byte codes instead
  // of 4d-byte floats; the codebook is kilobytes and broadcasts.

  /** Trained PQ codebooks: `codebooks(sub)(code)` is a centroid of
    * length `dsub = dim / m`. Kilobyte-sized (m·numCodes·dsub doubles)
    * — embeds in plans as a literal, no join needed.
    */
  case class PqModel(m: Int, numCodes: Int, dsub: Int,
                     codebooks: Array[Array[Array[Double]]])

  /** Train per-subspace KMeans codebooks on a bounded corpus sample
    * (same fit-sample policy as [[fitQuantizer]]). Training state is
    * bounded by the sample and the m·numCodes·dsub model — never the
    * corpus.
    *
    * The sub-fits run as ONE driver-local Lloyd's pass over the
    * COLLECTED sample — deliberately, not as m distributed KMeans
    * fits: the sample is driver-bounded BY DESIGN (maxFitRows × dim
    * doubles ≈ 50 MB at the ceiling), while m distributed fits ×
    * ~10 iterations × ~2 jobs cost ~100+ scheduler round-trips to
    * crunch kilobytes per task (measured: 13.7 s for 8 MLlib fits on a
    * 2k-row sample vs 0.1 s locally — and FAISS trains PQ codebooks
    * exactly this way). The corpus-sized passes (encode, ADC scoring)
    * stay fully distributed. The sample sorts lexicographically before
    * training so the codebooks are deterministic in the sample SET,
    * not in partition/scan order.
    */
  def pqTrain(corpus: DataFrame, vecCol: String, m: Int = 8,
              numCodes: Int = 16, seed: Long = 42L,
              maxFitRows: Long = 100000L,
              fitFraction: Double = 0.0): PqModel = {
    require(m > 0 && numCodes > 1)
    val base = corpus.select(col(vecCol).as("__v"))
    val dim = base.select(size(col("__v"))).first().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val sample = collectFitSample(base, maxFitRows, fitFraction, seed)
    pqTrainFromSample(sample, m, numCodes, dsub, seed)
  }

  /** The bounded, lexicographically-sorted fit sample as driver-local
    * vectors — the shared front half of every local codebook fit.
    */
  private def collectFitSample(base: DataFrame, maxFitRows: Long,
      fitFraction: Double, seed: Long): Array[Array[Double]] = {
    // bounds guard EVERY caller (ADVICE r12, generalized here): a
    // negative fitFraction reaches DataFrame.sample with an obscure
    // error, and maxFitRows > Int.MaxValue overflows .toInt into a
    // negative limit
    require(maxFitRows > 0 && maxFitRows <= Int.MaxValue,
      s"maxFitRows must be in (0, ${Int.MaxValue}], got $maxFitRows")
    require(fitFraction >= 0.0 && fitFraction <= 1.0,
      s"fitFraction must be in [0, 1] (0 = auto), got $fitFraction")
    val fitInput = (if (fitFraction == 0.0) {
      val n = base.count()
      if (n <= maxFitRows) base
      else base.sample(withReplacement = false,
        math.min(1.0, 2.0 * maxFitRows / n), seed).limit(maxFitRows.toInt)
    } else if (fitFraction >= 1.0) base.limit(maxFitRows.toInt)
    else base.sample(withReplacement = false, fitFraction, seed)
      .limit(maxFitRows.toInt))
    val sample: Array[Array[Double]] = fitInput
      .select(expr("transform(__v, x -> CAST(x AS DOUBLE))").as("__v"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty fit sample")
    // a ragged or non-finite sample would otherwise surface as an
    // ArrayIndexOutOfBounds inside stableSort (ragged) or silently
    // violate the comparator's ordering contract (NaN) — fail with the
    // offending vector named instead (ADVICE r13)
    val d0 = sample(0).length
    var vi = 0
    while (vi < sample.length) {
      val v = sample(vi)
      require(v.length == d0,
        s"ragged fit sample: vector $vi has dim ${v.length}, expected $d0")
      var j = 0
      while (j < v.length) {
        require(!java.lang.Double.isNaN(v(j)) && !java.lang.Double.isInfinite(v(j)),
          s"non-finite fit-sample element: vector $vi dim $j = ${v(j)}")
        j += 1
      }
      vi += 1
    }
    scala.util.Sorting.stableSort(sample,
      (a: Array[Double], b: Array[Double]) => {
        var i = 0
        while (i < a.length && a(i) == b(i)) i += 1
        i < a.length && a(i) < b(i)
      })
    sample
  }

  private def pqTrainFromSample(sample: Array[Array[Double]], m: Int,
      numCodes: Int, dsub: Int, seed: Long): PqModel = {
    val codebooks = Array.tabulate(m) { sub =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(
        v, sub * dsub, (sub + 1) * dsub))
      localLloyd(pts, numCodes, seed + sub, iters = 10)
    }
    PqModel(m, numCodes, dsub, codebooks)
  }

  // ── OPQ: learned rotation before PQ (Ge et al. 2013) ─────────────

  private[operators] def matVec(r: Array[Array[Double]],
      v: Array[Double]): Array[Double] = {
    val d = r.length
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      var s = 0.0
      var j = 0
      while (j < d) { s += r(i)(j) * v(j); j += 1 }
      out(i) = s
      i += 1
    }
    out
  }

  /** Nearest-codeword reconstruction of one (already-rotated) vector
    * under `pq` — the driver-side twin of encode→decode, used by the
    * OPQ alternation and by SimilaritySpec's error A/B.
    */
  private[operators] def pqReconstruct(v: Array[Double],
      pq: PqModel): Array[Double] = {
    val out = new Array[Double](pq.m * pq.dsub)
    var sub = 0
    while (sub < pq.m) {
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < pq.numCodes) {
        var s = 0.0
        var j = 0
        while (j < pq.dsub) {
          val d = v(sub * pq.dsub + j) - pq.codebooks(sub)(c)(j)
          s += d * d
          j += 1
        }
        if (s < bestD) { bestD = s; best = c }
        c += 1
      }
      System.arraycopy(pq.codebooks(sub)(best), 0, out, sub * pq.dsub, pq.dsub)
      sub += 1
    }
    out
  }

  /** Orthogonal polar factor of a square matrix via Newton–Schulz
    * iteration on the Frobenius-scaled input (X ← ½·X·(3I − XᵀX)) —
    * the orthogonal-Procrustes solve `argmin_R ||R·X − Q||` is
    * `polar(Q·Xᵀ)`, and the polar factor equals the U·Vᵀ an SVD would
    * give, computed here with plain matrix products (no linalg
    * dependency; quadratic convergence once σ ∈ (0, √3), which the
    * Frobenius scaling guarantees for σmax). Returns None when the
    * iteration has not converged in `maxIters` (a rank-deficient
    * input — callers keep their previous rotation).
    */
  private[operators] def polarFactor(mIn: Array[Array[Double]],
      maxIters: Int = 100): Option[Array[Array[Double]]] = {
    val d = mIn.length
    var fro = 0.0
    mIn.foreach(_.foreach(x => fro += x * x))
    if (fro == 0.0) return None
    val scale = 1.0 / math.sqrt(fro)
    var x = mIn.map(_.map(_ * scale))
    def matMul(a: Array[Array[Double]], b: Array[Array[Double]]) =
      Array.tabulate(d, d) { (i, j) =>
        var s = 0.0
        var k = 0
        while (k < d) { s += a(i)(k) * b(k)(j); k += 1 }
        s
      }
    def orthoDev(a: Array[Array[Double]]): Double = {
      // max |AᵀA − I|
      var dev = 0.0
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) {
          var s = 0.0
          var k = 0
          while (k < d) { s += a(k)(i) * a(k)(j); k += 1 }
          val e = math.abs(s - (if (i == j) 1.0 else 0.0))
          if (e > dev) dev = e
          j += 1
        }
        i += 1
      }
      dev
    }
    var it = 0
    while (it < maxIters) {
      if (orthoDev(x) < 1e-12) return Some(x)
      val xtx = matMul(x.transpose, x)
      val corr = Array.tabulate(d, d) { (i, j) =>
        (if (i == j) 3.0 else 0.0) - xtx(i)(j)
      }
      x = matMul(x, corr).map(_.map(_ * 0.5))
      it += 1
    }
    if (orthoDev(x) < 1e-9) Some(x) else None
  }

  /** Seeded random orthonormal matrix: modified Gram-Schmidt over a
    * Gaussian d×d draw (rows independent a.s.) — the OPQ paper's
    * non-parametric initialization. Identity is a FIXED POINT of the
    * alternation on axis-aligned data (the Procrustes matrix is then
    * ≈ the diagonal covariance, whose polar factor is I), so starting
    * there can never re-balance variance across subspaces; a random
    * start already mixes every direction into every subspace and the
    * alternation refines from strictly inside the search space.
    */
  private def randomOrthonormal(d: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val a = Array.fill(d, d)(rnd.nextGaussian())
    var i = 0
    while (i < d) {
      var k = 0
      while (k < i) {
        var dot = 0.0
        var j = 0
        while (j < d) { dot += a(i)(j) * a(k)(j); j += 1 }
        j = 0
        while (j < d) { a(i)(j) -= dot * a(k)(j); j += 1 }
        k += 1
      }
      var nrm = 0.0
      var j = 0
      while (j < d) { nrm += a(i)(j) * a(i)(j); j += 1 }
      require(nrm > 1e-24, "degenerate random draw")
      val inv = 1.0 / math.sqrt(nrm)
      j = 0
      while (j < d) { a(i)(j) *= inv; j += 1 }
      i += 1
    }
    a
  }

  /** OPQ rotation fit (Ge et al. 2013, the non-parametric alternation;
    * FAISS OPQMatrix): start at a seeded RANDOM rotation (see
    * [[randomOrthonormal]] — identity is a fixed point and cannot
    * escape axis-aligned data), alternate (1) PQ codebook fit on the
    * ROTATED sample with (2) the orthogonal-Procrustes update
    * R = polar(Σᵢ reconstruct(R·xᵢ)·xᵢᵀ), which re-aims the rotation
    * at whatever structure the current codebooks capture — balancing
    * variance across subspaces, the failure mode plain PQ has on
    * correlated / variance-skewed embeddings. The learned rotation is
    * kept only if it beats IDENTITY on the fit-sample reconstruction
    * error — OPQ degrades to plain PQ, never below it, on data that is
    * already axis-optimal. Deterministic in (sample order, seed); a
    * non-converged Procrustes step keeps the previous rotation.
    */
  private[operators] def opqTrainRotation(sample: Array[Array[Double]],
      m: Int, numCodes: Int, dsub: Int, seed: Long,
      iters: Int): Array[Array[Double]] = {
    require(iters >= 1, s"opq iterations must be >= 1, got $iters")
    val d = m * dsub
    def sampleMse(vs: Array[Array[Double]]): Double = {
      val pq = pqTrainFromSample(vs, m, numCodes, dsub, seed)
      var s = 0.0
      var n = 0
      while (n < vs.length) {
        val q = pqReconstruct(vs(n), pq)
        var j = 0
        while (j < d) { val e = vs(n)(j) - q(j); s += e * e; j += 1 }
        n += 1
      }
      s / vs.length
    }
    var r = randomOrthonormal(d, seed ^ 0x9e3779b97f4a7c15L)
    var it = 0
    while (it < iters) {
      val rotated = sample.map(matVec(r, _))
      val pq = pqTrainFromSample(rotated, m, numCodes, dsub, seed)
      val mAcc = Array.ofDim[Double](d, d)
      var n = 0
      while (n < sample.length) {
        val q = pqReconstruct(matVec(r, sample(n)), pq)
        val x = sample(n)
        var i = 0
        while (i < d) {
          val qi = q(i)
          var j = 0
          while (j < d) { mAcc(i)(j) += qi * x(j); j += 1 }
          i += 1
        }
        n += 1
      }
      polarFactor(mAcc).foreach(r = _)
      it += 1
    }
    val identity: Array[Array[Double]] =
      Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    if (sampleMse(sample.map(matVec(r, _))) <= sampleMse(sample)) r
    else identity
  }

  /** Seeded Lloyd's iterations on an in-driver point set: random
    * distinct-index init, nearest-center assignment (ties to the lower
    * center), mean update, empty clusters keep their previous center.
    * Deterministic in (points order, seed).
    */
  private[operators] def localLloyd(points: Array[Array[Double]], k: Int,
      seed: Long, iters: Int): Array[Array[Double]] = {
    val n = points.length
    val d = points(0).length
    val rnd = new scala.util.Random(seed)
    val initIdx = rnd.shuffle((0 until n).toVector).take(math.min(k, n))
    val centers = Array.tabulate(k)(c =>
      points(initIdx(c % initIdx.size)).clone())
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var s = 0.0; var j = 0
          while (j < d) {
            val diff = points(i)(j) - centers(c)(j); s += diff * diff; j += 1
          }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.ofDim[Double](k, d)
      val cnts = new Array[Long](k)
      i = 0
      while (i < n) {
        val c = assign(i); cnts(c) += 1
        var j = 0
        while (j < d) { sums(c)(j) += points(i)(j); j += 1 }
        i += 1
      }
      var c = 0
      while (c < k) {
        if (cnts(c) > 0) {
          var j = 0
          while (j < d) { centers(c)(j) = sums(c)(j) / cnts(c); j += 1 }
        }
        c += 1
      }
      it += 1
    }
    centers
  }

  private def pqCodebookLit(model: PqModel): Column =
    typedlit(model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)

  /** The m nearest-subcentroid codes of `vecCol` (L2 per subspace,
    * ties to the lowest code) as a column expression — the codegen'd
    * [[graft.functions.PqEncodeCodes]] kernel (the index-BUILD hot
    * loop: m·numCodes·dsub multiply-adds per corpus row stays inside
    * whole-stage codegen; the interpreted HOF reference form
    * [[pqCodesHof]] is bit-equality-pinned in PqOpsSpec).
    */
  def pqCodes(vecCol: Column, model: PqModel): Column =
    org.apache.spark.sql.graftshim.ColumnExpr.column(
      graft.functions.PqEncodeCodes(
        org.apache.spark.sql.graftshim.ColumnExpr.expr(vecCol),
        model.codebooks))

  /** The declarative HOF formulation of [[pqCodes]] — kept as the
    * reference semantics (PqOpsSpec pins bit-equality to the codegen'd
    * kernel on real embeddings).
    */
  def pqCodesHof(vecCol: Column, model: PqModel): Column = {
    val cb = pqCodebookLit(model)
    transform(sequence(lit(0), lit(model.m - 1)), sub => {
      val dists = transform(element_at(cb, sub + 1), cent =>
        aggregate(sequence(lit(0), lit(model.dsub - 1)), lit(0.0d),
          (acc, j) => {
            val d = element_at(vecCol,
              (sub * model.dsub + j + 1).cast("int")).cast("double") -
              element_at(cent, j + 1)
            acc + d * d
          }))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    })
  }

  /** Encode every vector to its PQ codes: (idCol, `codes` array<int>
    * of length m) via [[pqCodes]].
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               model: PqModel): DataFrame =
    df.select(col(idCol), pqCodes(col(vecCol), model).as("codes"))

  /** ADC top-k: per query build the m×numCodes dot-product lookup
    * table ONCE (a HOF over the literal codebook on the tiny query
    * side), broadcast it, and score each corpus row with m array
    * lookups; the approximate top k·rescoreFactor then re-rank with
    * full-precision cosine (the [[bruteForceTopKQuantized]] shape).
    * Output (query_id, neighbor_id, rk, cosine_sim), rk ≤ k.
    *
    * BOUNDED-QUERIES CONTRACT (the [[bruteForceTopK]] rule): this is
    * FLAT ADC — every query scores EVERY corpus code, so the
    * broadcast-nested-loop candidate stage is |queries|×|corpus| BY
    * DESIGN. `queries` must be a bounded batch (it is broadcast);
    * unbounded or corpus-sized query sets belong on [[ivfPqQuery]],
    * which prunes the scored set to nprobe cells.
    */
  def pqAdcTopK(queries: DataFrame, corpus: DataFrame,
                idCol: String, vecCol: String, model: PqModel,
                k: Int, rescoreFactor: Int = 4): DataFrame = {
    require(k > 0 && rescoreFactor >= 1)
    val cb = pqCodebookLit(model)
    val enc = pqEncode(corpus, idCol, vecCol, model)
      .withColumnRenamed(idCol, "neighbor_id")
    val lut = flatten(transform(sequence(lit(0), lit(model.m - 1)), sub =>
      transform(element_at(cb, sub + 1), cent =>
        aggregate(sequence(lit(0), lit(model.dsub - 1)), lit(0.0d),
          (acc, j) => acc + element_at(col(vecCol),
            (sub * model.dsub + j + 1).cast("int")).cast("double") *
            element_at(cent, j + 1)))))
    val q = queries.select(col(idCol).as("query_id"), lut.as("__lut"))
    // codegen'd m-lookup scoring — the index-QUERY hot loop
    val adc = org.apache.spark.sql.graftshim.ColumnExpr.column(
      graft.functions.PqAdcScore(
        org.apache.spark.sql.graftshim.ColumnExpr.expr(col("__lut")),
        org.apache.spark.sql.graftshim.ColumnExpr.expr(col("codes")),
        model.numCodes))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("__adc").desc, col("neighbor_id").asc)
    val candidates = enc.join(broadcast(q),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("__adc", adc)
      .withColumn("__rn", row_number().over(wAdc))
      .filter(col("__rn") <= k.toLong * rescoreFactor)
      .select("query_id", "neighbor_id")
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val rescored = cv.join(broadcast(candidates), Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine_sim", cosine(col("__qv"), col("__cv")))
    val wf = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col("neighbor_id").asc)
    rescored.withColumn("rk", row_number().over(wf))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rk"), col("cosine_sim"))
  }

  /** IVF×PQ composed index — the standard billion-vector layout both
    * halves were built for (IVF cells: [[ivfTopK]]; PQ codes:
    * [[pqTrain]]/[[pqAdcTopK]]): the coarse quantizer routes each query
    * to its `nprobe` nearest cells, ADC scores ONLY the probed cells'
    * m-byte codes via the per-query lookup table, and the approximate
    * top k·rescoreFactor re-rank with full-precision cosine.
    *
    * 100 TB shape: the scoring pass streams nprobe/numCells of the
    * corpus as m-BYTE CODES (≈ 32× smaller than the float vectors at
    * the defaults, on ≈ nprobe/numCells of the rows — a ~85×
    * byte-reduction of the dominant pass); the coarse centroids, the
    * PQ codebook, the probe table and the candidate list are all
    * kilobytes and broadcast; the rescore touches
    * |queries|·k·rescoreFactor corpus rows, never the corpus. Training
    * state is bounded by the fit sample (both fits share the policy of
    * [[fitQuantizer]]).
    *
    * Output (query_id, neighbor_id, rk, cosine_sim), rk ≤ k. Recall is
    * governed by nprobe (cell misses) × rescoreFactor (ADC ranking
    * noise); SimilaritySpec pins the floor against exact brute force.
    *
    * Split as BUILD ([[ivfPqBuild]] — run once, persist the index) and
    * QUERY ([[ivfPqQuery]] — run per batch against the stored index);
    * [[ivfPqTopK]] composes the two for one-shot use.
    */
  /** The persistent half of an IVF×PQ deployment: the trained models
    * (kilobytes — embed in plans as literals) plus the corpus index
    * frame `(id, cell, codes)` (m+~8 bytes per vector — THE thing a
    * billion-vector deployment writes to a table and reuses across
    * every query batch).
    *
    * `residual` is REQUIRED (no default, ADVICE r14): the stored codes
    * are meaningless without knowing which encoding produced them, and
    * a caller rehydrating a pre-residual (raw-encoded) persisted index
    * must state so explicitly — a silently-defaulted `true` would add
    * the per-probe dot(q, center) offset to raw-encoded scores and
    * bias cross-cell candidate selection with no error anywhere.
    * `rotation` is required for the same reason (r15): cells and codes
    * of an OPQ index live in ROTATED space, and querying them with
    * unrotated vectors silently mis-probes; None = no pre-transform.
    */
  case class IvfPqIndex(model: PqModel, centers: Array[Array[Double]],
                        index: DataFrame, residual: Boolean,
                        rotation: Option[Array[Array[Double]]])

  /** Index of the L2-nearest center (ties to the lowest index) — the
    * driver-side twin of the [[graft.functions.IvfPqEncode]] cell
    * argmin, used to residualize the fit sample.
    */
  private def nearestCenterIdx(v: Array[Double],
      centers: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < centers.length) {
      var s = 0.0
      var j = 0
      while (j < v.length) {
        val d = v(j) - centers(c)(j)
        s += d * d
        j += 1
      }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** Build the IVF×PQ index: both fits (coarse cells + PQ codebooks)
    * from ONE collected bounded sample, trained driver-locally (see
    * pqTrain's rationale — the FAISS layout), then the corpus index as
    * ONE compiled projection pass — the fused
    * [[graft.functions.IvfPqEncode]] kernel emits (cell, codes)
    * together. Cells and codes must never meet through a corpus-sized
    * self-join. Persist (or write) `index` once and run [[ivfPqQuery]]
    * per batch.
    *
    * `residual = true` (default) is the published IVF-PQ design
    * (Jégou et al. 2011; FAISS IndexIVFPQ): the codebooks are trained
    * on and the codes quantize v − centers(cell), so the m·log₂
    * (numCodes) bits describe the within-cell offset rather than
    * re-encoding the cell position the index already stores — at real
    * cell counts this is what keeps ADC recall up (SimilaritySpec A/Bs
    * residual ≥ raw on clustered data). `residual = false` keeps the
    * raw-vector encode — the A/B reference, and the algebra the q104
    * portable twin pins.
    */
  def ivfPqBuild(corpus: DataFrame, idCol: String, vecCol: String,
      numCells: Int = 16, m: Int = 8, numCodes: Int = 16,
      seed: Long = 42L, maxFitRows: Long = 100000L,
      fitFraction: Double = 0.0, residual: Boolean = true,
      opqIters: Int = 0): IvfPqIndex = {
    require(numCells > 0, s"numCells must be positive, got $numCells")
    require(opqIters >= 0, s"opqIters must be >= 0, got $opqIters")
    val base = corpus.select(col(vecCol).as("__v"))
    val dim = base.select(size(col("__v"))).first().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val rawSample = collectFitSample(base, maxFitRows, fitFraction, seed)
    // opqIters > 0: learn the OPQ rotation on the raw sample FIRST
    // (the FAISS OPQMatrix-pretransform + IndexIVFPQ chain), then fit
    // cells and codebooks in rotated space and encode R·v per row
    val rotation =
      if (opqIters == 0) None
      else Some(opqTrainRotation(rawSample, m, numCodes, dim / m, seed,
        opqIters))
    val sample = rotation match {
      case Some(r) => rawSample.map(matVec(r, _))
      case None => rawSample
    }
    val ivfCenters = localLloyd(sample, numCells, seed - 1, iters = 10)
    val pqSample =
      if (!residual) sample
      else sample.map { v =>
        val c = ivfCenters(nearestCenterIdx(v, ivfCenters))
        Array.tabulate(v.length)(j => v(j) - c(j))
      }
    val pq = pqTrainFromSample(pqSample, m, numCodes, dim / m, seed)
    val encInput = rotation match {
      case Some(r) => org.apache.spark.sql.graftshim.ColumnExpr.column(
        graft.functions.RotateVec(
          org.apache.spark.sql.graftshim.ColumnExpr.expr(col(vecCol)), r))
      case None => col(vecCol)
    }
    val index = corpus.select(col(idCol).as("neighbor_id"),
        org.apache.spark.sql.graftshim.ColumnExpr.column(
          graft.functions.IvfPqEncode(
            org.apache.spark.sql.graftshim.ColumnExpr.expr(encInput),
            ivfCenters, pq.codebooks, residual)).as("__e"))
      .select(col("neighbor_id"), col("__e.codes").as("codes"),
        col("__e.cell").as("__cell"))
    IvfPqIndex(pq, ivfCenters, index, residual, rotation)
  }

  /** Query a built [[IvfPqIndex]]: route each query to its `nprobe`
    * nearest cells, ADC-score ONLY the probed cells' codes via the
    * broadcast per-query lookup table, cosine-rescore the approximate
    * top k·rescoreFactor against the full vectors in `corpus`. Output
    * (query_id, neighbor_id, rk, cosine_sim), rk ≤ k.
    *
    * On a residual index the ADC total for a candidate in cell c is
    * dot(q, centers(c)) + Σ_sub lut[codes[sub]] — because v ≈
    * centers(c) + decode(codes), dot(q, v) decomposes into the
    * per-(query, probed-cell) scalar offset plus the SAME per-query
    * residual-codebook LUT. The offset rides the probe rows (nprobe
    * scalars per query — still kilobytes broadcast), so the scoring
    * pass over the corpus codes is unchanged.
    */
  def ivfPqQuery(idx: IvfPqIndex, queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 6,
      rescoreFactor: Int = 4): DataFrame = {
    require(k > 0 && rescoreFactor >= 1,
      s"need k > 0 and rescoreFactor >= 1, got k=$k rescoreFactor=$rescoreFactor")
    val numCells = idx.centers.length
    require(nprobe > 0 && nprobe <= numCells,
      s"need 0 < nprobe <= numCells, got nprobe=$nprobe numCells=$numCells")
    val pq = idx.model
    val dim = pq.m * pq.dsub
    val enc = idx.index
    // an OPQ index lives in rotated space: probes and the ADC LUT use
    // R·q; the final cosine rescore below keeps the ORIGINAL vectors
    // (rotation preserves the scores, the originals skip a transform)
    val qIdx = idx.rotation match {
      case Some(r) => queries.withColumn(vecCol,
        org.apache.spark.sql.graftshim.ColumnExpr.column(
          graft.functions.RotateVec(
            org.apache.spark.sql.graftshim.ColumnExpr.expr(col(vecCol)), r)))
      case None => queries
    }
    val cLit = typedlit(idx.centers.map(_.toSeq).toSeq)
    // query-to-centroid distances + dot products (tiny side —
    // interpreted HOF is fine; the dot is the residual ADC offset)
    def centerStats(vec: Column): Column = transform(cLit, cent =>
      struct(
        aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0d),
          (acc, j) => {
            val dd = element_at(vec, j + 1).cast("double") - element_at(cent, j + 1)
            acc + dd * dd
          }).as("d2"),
        aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0d),
          (acc, j) => acc + element_at(vec, j + 1).cast("double") *
            element_at(cent, j + 1)).as("dot")))
    val probes = qIdx
      .select(col(idCol).as("query_id"),
        posexplode(centerStats(col(vecCol))).as(Seq("__cell0", "__cs")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("__cs.d2").asc, col("__cell0").asc)))
      .filter(col("__rn") <= nprobe)
      .select(col("query_id"), col("__cell0").as("__cell"),
        (if (idx.residual) col("__cs.dot") else lit(0.0d)).as("__coff"))
    val cb = pqCodebookLit(pq)
    val lut = flatten(transform(sequence(lit(0), lit(pq.m - 1)), sub =>
      transform(element_at(cb, sub + 1), cent =>
        aggregate(sequence(lit(0), lit(pq.dsub - 1)), lit(0.0d),
          (acc, j) => acc + element_at(col(vecCol),
            (sub * pq.dsub + j + 1).cast("int")).cast("double") *
            element_at(cent, j + 1)))))
    val qlut = qIdx.select(col(idCol).as("query_id"), lut.as("__lut"))
    val probedQ = probes.join(qlut, "query_id")
    // codegen'd m-lookup scoring (see pqAdcTopK)
    val adc = org.apache.spark.sql.graftshim.ColumnExpr.column(
      graft.functions.PqAdcScore(
        org.apache.spark.sql.graftshim.ColumnExpr.expr(col("__lut")),
        org.apache.spark.sql.graftshim.ColumnExpr.expr(col("codes")),
        pq.numCodes))
    val candidates = enc.join(broadcast(probedQ), Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__adc", col("__coff") + adc)
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("__adc").desc, col("neighbor_id").asc)))
      .filter(col("__rn") <= k.toLong * rescoreFactor)
      .select("query_id", "neighbor_id")
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val rescored = cv.join(broadcast(candidates), Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine_sim", cosine(col("__qv"), col("__cv")))
    val wf = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col("neighbor_id").asc)
    rescored.withColumn("rk", row_number().over(wf))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rk"), col("cosine_sim"))
  }

  /** One-shot compose of [[ivfPqBuild]] + [[ivfPqQuery]] (see the
    * composed-index doc above).
    */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, numCells: Int = 16, nprobe: Int = 6, m: Int = 8,
      numCodes: Int = 16, rescoreFactor: Int = 4, seed: Long = 42L,
      maxFitRows: Long = 100000L, fitFraction: Double = 0.0,
      residual: Boolean = true, opqIters: Int = 0): DataFrame =
    ivfPqQuery(
      ivfPqBuild(corpus, idCol, vecCol, numCells, m, numCodes, seed,
        maxFitRows, fitFraction, residual, opqIters),
      queries, corpus, idCol, vecCol, k, nprobe, rescoreFactor)

  /** The md5-derived integer codebook of the PORTABLE PQ twin:
    * `w(sub, code, j) = md5int("sub-code-j") % 513 − 256` ∈
    * [−256, 256] — deterministic, content-free, replayable verbatim
    * by any engine with md5 (the q60/q62/q63 portability idiom).
    */
  def pqPortableCodebook(m: Int, numCodes: Int,
                         dsub: Int): Array[Array[Array[Long]]] =
    Array.tabulate(m, numCodes, dsub) { (sub, code, j) =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$sub-$code-$j".getBytes("UTF-8"))
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      h % 513L - 256L
    }

  /** PORTABLE product quantization: the full PQ pipeline — encode
    * (integer L2 argmin per subspace), ADC lookup table, m-lookup
    * scoring, top-k ranking — on EXACT INTEGER arithmetic with the
    * md5 codebook, so every stage sits on the DuckDB hash gate —
    * gated as q103 (the KMeans-trained path self-certifies via recall
    * in the same gate row, like q28's IVF). Vectors quantize as
    * `floor(v·scale)`; all
    * intermediates fit comfortably in BIGINT (|qv| ≲ scale, |w| ≤
    * 256 ⇒ |ADC| ≤ m·dsub·scale·256 ≈ 2²⁴ at the defaults). Output
    * (query_id, neighbor_id, rk, adc_score), rk ≤ topK by descending
    * ADC dot product, ties to the lower neighbor id.
    */
  def pqPortable(corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String,
                 m: Int = 8, numCodes: Int = 16, topK: Int = 5,
                 scale: Int = 256): DataFrame = {
    val dim = corpus.select(size(col(vecCol))).first().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val cbInts = pqPortableCodebook(m, numCodes, dsub)
    val cb = typedlit(cbInts.map(_.map(_.toSeq).toSeq).toSeq)
    val qv = transform(col(vecCol),
      x => floor(x.cast("double") * scale).cast("long"))
    val enc = corpus.select(col(idCol).as("neighbor_id"), qv.as("__qv"))
      .withColumn("__codes", portableCodes(cb, m, dsub, col("__qv")))
      .select("neighbor_id", "__codes")
    val q = queries.select(col(idCol).as("query_id"), qv.as("__qv"))
      .withColumn("__lut", portableLut(cb, m, dsub, col("__qv")))
      .select("query_id", "__lut")
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_score").desc, col("neighbor_id").asc)
    enc.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_score",
        portableAdc(m, numCodes, col("__lut"), col("__codes")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("rk"), col("adc_score"))
  }

  // the three exact-integer expression builders shared by pqPortable
  // (q103) and annIvfPqPortable (q104) — ONE definition, so a fix to
  // tie-breaking or index arithmetic cannot drift between the two gates

  /** Integer argmin PQ codes of a quantized vector against the literal
    * codebook (ties to the lowest code).
    */
  private def portableCodes(cb: Column, m: Int, dsub: Int,
      vec: Column): Column =
    transform(sequence(lit(0), lit(m - 1)), sub => {
      val dists = transform(element_at(cb, sub + 1), cent =>
        aggregate(sequence(lit(0), lit(dsub - 1)), lit(0L),
          (acc, j) => {
            val d = element_at(vec, (sub * dsub + j + 1).cast("int")) -
              element_at(cent, j + 1)
            acc + d * d
          }))
      array_position(dists, array_min(dists)) - 1
    })

  /** Flattened m×numCodes integer ADC lookup table of a quantized
    * query vector (entry sub·numCodes+code = subvector · centroid).
    */
  private def portableLut(cb: Column, m: Int, dsub: Int,
      vec: Column): Column =
    flatten(transform(sequence(lit(0), lit(m - 1)), sub =>
      transform(element_at(cb, sub + 1), cent =>
        aggregate(sequence(lit(0), lit(dsub - 1)), lit(0L),
          (acc, j) => acc + element_at(vec,
            (sub * dsub + j + 1).cast("int")) * element_at(cent, j + 1)))))

  /** m-lookup ADC score: Σ_sub lut[sub·numCodes + codes[sub]]. */
  private def portableAdc(m: Int, numCodes: Int, lut: Column,
      codes: Column): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0L),
      (acc, sub) => acc + element_at(lut,
        (sub * numCodes).cast("int") +
          element_at(codes, sub + 1).cast("int") + 1))

  /** PORTABLE IVF×PQ — the composed index ([[ivfPqTopK]]) with every
    * trained component replaced by its exact-integer twin, so the FULL
    * composition sits on the DuckDB hash gate: hash-chosen pivots +
    * integer-L2 cell routing from [[annIvfPortable]] (q63), md5-derived
    * codebook + integer argmin encode + integer ADC from [[pqPortable]]
    * (q103), and the ADC pass restricted to the `nprobe` probed cells —
    * the defining IVF×PQ property (score codes, and only in probed
    * cells) replayed verbatim by any engine with md5 and BIGINT math.
    * Output (query_id, neighbor_id, rk, adc_score), rk ≤ topK by
    * descending ADC, ties to the lower neighbor id.
    */
  def annIvfPqPortable(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      numPivots: Int = 16, nprobe: Int = 4, m: Int = 8, numCodes: Int = 16,
      topK: Int = 5, scale: Int = 256): DataFrame = {
    require(numPivots > 0 && nprobe > 0 && nprobe <= numPivots && topK > 0,
      s"need 0 < nprobe <= numPivots and topK > 0")
    val dim = corpus.select(size(col(vecCol))).first().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val cbInts = pqPortableCodebook(m, numCodes, dsub)
    val cb = typedlit(cbInts.map(_.map(_.toSeq).toSeq).toSeq)
    val qv = transform(col(vecCol),
      x => floor(x.cast("double") * scale).cast("long"))
    def dot(a: Column, b: Column): Column =
      org.apache.spark.sql.graftshim.ColumnExpr.column(
        graft.functions.LongDotProduct(
          org.apache.spark.sql.graftshim.ColumnExpr.expr(a),
          org.apache.spark.sql.graftshim.ColumnExpr.expr(b)))
    def dist(a: Column, b: Column): Column =
      dot(a, a) + dot(b, b) - lit(2L) * dot(a, b)
    val c = corpus.select(col(idCol).as("__id"), qv.as("__qv"))
    val pivots = c
      .withColumn("__h", Sampling.unitHash(col("__id")))
      .orderBy(col("__h"), col("__id"))
      .limit(numPivots)
      .select(col("__id").as("__pid"), col("__qv").as("__pv"))
    // cell routing + codes in ONE corpus projection (guide §2.3/§2.4):
    // the pivots ride along as a broadcast 1-row array and the argmin
    // is an expression — `array_min` over (dist, pid) structs is
    // exactly the old window's ORDER BY (__dist, __pid) rn=1 (ties to
    // the lower pivot id). The previous shape exploded the corpus ×
    // numPivots through a row_number window (a full shuffle of the
    // exploded frame) and then equi-joined the cell table back to the
    // codes table corpus-wide — two corpus shuffles and an extra
    // corpus pass that this projection simply doesn't have.
    val pivArr = pivots
      .agg(collect_list(struct(col("__pid").as("pid"), col("__pv").as("pv")))
        .as("__ps"))
    val cellExpr = array_min(transform(col("__ps"), p =>
      struct(dist(col("__qv"), p.getField("pv")).as("d"),
        p.getField("pid").as("pid")))).getField("pid")
    val enc = c.crossJoin(broadcast(pivArr))
      .select(col("__id").as("neighbor_id"),
        portableCodes(cb, m, dsub, col("__qv")).as("__codes"),
        cellExpr.as("__cell"))
    val probes = queries.select(col(idCol).as("__qid"), qv.as("__qqv"))
      .crossJoin(broadcast(pivots))
      .select(col("__qid"), col("__qqv"), col("__pid"),
        dist(col("__qqv"), col("__pv")).as("__dist"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__qid").orderBy(col("__dist"), col("__pid"))))
      .filter(col("__rn") <= nprobe)
      .select(col("__qid"), col("__qqv"), col("__pid").as("__cell"))
    val probedQ = probes
      .withColumn("__lut", portableLut(cb, m, dsub, col("__qqv")))
      .select(col("__qid").as("query_id"), col("__cell"), col("__lut"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_score").desc, col("neighbor_id").asc)
    enc.join(broadcast(probedQ), Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_score",
        portableAdc(m, numCodes, col("__lut"), col("__codes")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("rk"), col("adc_score"))
  }
}
