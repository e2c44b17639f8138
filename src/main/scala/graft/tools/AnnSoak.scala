package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale validation for the ANN/PQ tier (AnnSoakSpec forks
  * this under a 2 GB heap, the ScaleSoak discipline): synthesizes an
  * n-vector 64-dim corpus from pure codegen arithmetic with PLANTED
  * nearest neighbors — query ids 0..99 are duplicated at id + n/2 with
  * a one-dimension ε-perturbation (cosine ≈ 0.9999), so ground truth
  * exists at ANY n with O(1) verification and no brute-force pass —
  * then times the three index stages a real deployment runs:
  *
  *   1. TRAIN: codebook + coarse-cell fit from the bounded collected
  *      sample (driver-local Lloyd's — fit COMPUTE is bounded by the
  *      sample, but the default fitFraction=0 auto mode first runs a
  *      count() and a corpus-wide sample() scan, so TRAIN retains two
  *      cheap O(n) scan passes; ADVICE r13);
  *   2. BUILD: the (id, cell, codes) index — ONE compiled pass over
  *      the corpus (PqEncodeCodes for codes + single-subspace reuse
  *      for the cell), no shuffle, no join;
  *   3. QUERY: ivfPqTopK end-to-end for the 100 planted queries
  *      (probe → ADC over probed cells → cosine rescore), reporting
  *      recall@1 of the planted neighbor.
  *
  * The planted pairs sit ~touching in space, so the only recall-loss
  * modes are a Voronoi boundary straddle (rare) or a broken
  * encode/probe/score stage (recall collapses toward 0) — the spec's
  * floor is 0.9. A hidden corpus-sized collect, a persist sized to
  * the corpus, or an accidental cartesian all fail loudly at 20M
  * rows under the 2 GB cap.
  *
  * Prints one `ANNSOAK {json}` line. Args: nRows.
  */
object AnnSoak {
  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def corpus(spark: SparkSession, n: Long): DataFrame = {
    require(n % 2 == 0 && n >= 1000, s"n must be even and >= 1000, got $n")
    val half = n / 2
    // gid folds the 100 planted twins onto their base vector; the twin
    // branch perturbs dimension 0 by +0.001 (cosine ~ 0.9999)
    spark.range(0L, n, 1L,
        math.max(spark.sparkContext.defaultParallelism.toLong, n / 250000L).toInt)
      .withColumn("gid", expr(
        s"case when id >= $half and id - $half < 100 then id - $half else id end"))
      .withColumn("embedding", expr(
        "transform(sequence(0, 63), j -> " +
        "cast(pmod(xxhash64(gid, j), 1000) as float) / 500.0f - 1.0f + " +
        s"(case when j = 0 and id >= $half and id - $half < 100 " +
        "then 0.001f else 0.0f end))"))
      .select(col("id"), col("embedding"))
  }

  def main(args: Array[String]): Unit = {
    val n = args(0).toLong
    val spark = graft.GraftSession(s"graft-ann-soak-$n", ScaleSoak.master,
      Map("spark.sql.shuffle.partitions" -> 64))
    def r1s(v: Double): Double = math.rint(v * 10) / 10

    val emb = corpus(spark, n)
    val queries = emb.filter(col("id") < 100)

    // deployment shape: BUILD once (fits + one compiled index pass,
    // persisted exactly as a real deployment stores (id, cell, codes)
    // in a table), then QUERY the hot index — so sec_query prices the
    // probe→ADC→rescore path, not a rebuild
    // GRAFT_SOAK_OPQ=<iters> additionally trains the OPQ pre-rotation
    // (q115 path): every index row then pays the RotateVec d² madds at
    // encode, and every probe/LUT pays them at query — the knob prices
    // the rotation at soak scale instead of gate scale
    val opqIters = sys.env.get("GRAFT_SOAK_OPQ").map { v =>
      v.toIntOption.filter(_ >= 0).getOrElse(sys.error(
        s"GRAFT_SOAK_OPQ must be a non-negative integer, got '$v'"))
    }.getOrElse(0)
    val (idx0, secTrain) = timed {
      graft.operators.Similarity.ivfPqBuild(emb, "id", "embedding",
        numCells = 16, m = 8, numCodes = 16, opqIters = opqIters)
    }
    val persisted = idx0.index
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (_, secBuild) = timed { persisted.count() }
    val idx = idx0.copy(index = persisted)
    val (hits, secQuery) = timed {
      graft.operators.Similarity.ivfPqQuery(idx, queries, emb, "id",
          "embedding", k = 1, nprobe = 4, rescoreFactor = 8)
        .filter(col("neighbor_id") === col("query_id") + lit(n / 2))
        .count()
    }
    val json =
      s"""{"rows":$n,"planted":100,"planted_hits":$hits,""" +
      s""""sec_train":${r1s(secTrain)},"sec_build":${r1s(secBuild)},""" +
      s""""sec_query":${r1s(secQuery)},"opq_iters":$opqIters,""" +
      s""""rotated":${if (idx.rotation.nonEmpty) 1 else 0},""" +
      s""""heap_max_bytes":${Runtime.getRuntime.maxMemory()}}"""
    println(s"ANNSOAK $json")
    spark.stop()
  }
}
