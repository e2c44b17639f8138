package graft.tools

import org.apache.spark.sql.functions._

/** Scale soak for the STORED-LSH-INDEX refresh tier
  * ([[graft.operators.NearDupIndex]], q126's engine path) — the piece
  * the main [[ScaleSoak]] legs do not touch: they run the ONE-SHOT
  * banding pipeline; this builds the persisted signature index of an
  * n-doc corpus and refreshes batches against the STORED table, the
  * standing-pipeline shape.
  *
  * Three legs, every count asserted EXACT (identical-text plants give
  * jaccard 1.0 and identical signatures, so banding recall is 1 by
  * construction and the exact-Jaccard verify removes any hash-collision
  * candidate — no LSH slack anywhere):
  *
  *  1. INDEX BUILD: [[graft.operators.NearDupIndex.createIndex]] over
  *     the [[ScaleSoak.corpus]] generator — one signature pass plus a
  *     range-clustered write; the table must hold exactly `bands × n`
  *     rows.
  *  2. PRUNED SMALL REFRESH (the O(touched) path): a 32-doc probe
  *     batch (30 exact copies of stored singletons + 2 novel docs).
  *     Asserts hits == 30 AND the probe's file-skipping candidate set
  *     is bounded by the KEY count (bands × 32), independent of the
  *     index's file count — the invariant that makes hourly refreshes
  *     O(touched) at a 100 TB corpus.
  *  3. BIG-BATCH REFRESH (the fallback path at n/50 docs — 1M at 50M):
  *     probe keys exceed `maxProbeKeys`, so [[NearDupIndex.refresh]]
  *     falls back to the full-scan join — exercising the index-side
  *     exact-count skew caps and the candidate-bounded verification
  *     semi-join at corpus scale. Hits exactly 9/10 of the batch (the
  *     other tenth is novel text).
  *
  * Run forked with the ScaleSoak JVM discipline (2 GB heap,
  * ParallelGC, raised GCLocker retries) and [[ScaleSoak.conf]]'s
  * session (partitions sized to the exploded band frame, AQE
  * coalescing off, zstd shuffle, row-bounded force-spill, broadcast
  * joins off).
  */
object IndexSoak {

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def peakHeapBytes(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum
  }

  /** Exact replica of the stored doc whose id is in `__gid` — the
    * plant mechanism: batch docs synthesize the identical token
    * stream [[ScaleSoak.corpus]] gave the stored `%100==3` singleton,
    * so the near-dup is certain (jaccard 1.0), not probabilistic.
    */
  private def textOfGid = expr(
    "array_join(transform(sequence(0, 29), j -> " +
    "concat('w', pmod(xxhash64(__gid, j), 50000))), ' ')")

  def main(args: Array[String]): Unit = {
    val n = args(0).toLong
    require(n % 100 == 0 && n >= 10000, s"n must be a multiple of 100 >= 10000, got $n")
    val warehouse =
      java.nio.file.Files.createTempDirectory("graft-idxsoak").toString
    val partitions = ScaleSoak.partitions(n)
    val spark = graft.GraftSession(s"graft-index-soak-$n", ScaleSoak.master,
      ScaleSoak.conf(partitions) + ("spark.sql.warehouse.dir" -> warehouse))
    def r1s(v: Double): Double = math.rint(v * 10) / 10
    val groups = n / 100L

    // ---- leg 1: build the stored index ------------------------------
    val sigPath = warehouse + "/sig_index"
    val (t, secBuild) = timed {
      graft.operators.NearDupIndex.createIndex(spark, sigPath,
        ScaleSoak.corpus(spark, n), "id", "text",
        clusterFiles = partitions)
    }
    val snap = t.snapshot
    val idxFiles = snap.files.size
    val (idxRows, secCount) = timed { t.toDF.count() }
    require(idxRows == 16L * n, s"index rows $idxRows != ${16L * n}")
    // per-leg progress: a failed later leg must still leave evidence
    // of what passed (run 1 died in leg 3 and left nothing)
    println(s"INDEXSOAK_LEG build rows=$idxRows files=$idxFiles sec=${r1s(secBuild)}")

    // the stored corpus frame the verification tier reads text from
    val stored = ScaleSoak.corpus(spark, n)

    // ---- leg 2: pruned small refresh --------------------------------
    // 32 docs: j < 30 copy stored singleton 3 + 100·(j·16381 mod groups)
    // (spread across the id space); j >= 30 are novel
    val smallN = 32L
    val small = spark.range(0L, smallN)
      .withColumn("__gid", expr(s"3 + 100 * ((id * 16381) % $groups)"))
      .select((col("id") + (2L * n)).as("id"),
        when(col("id") < 30L, textOfGid)
          .otherwise(concat(lit("z entirely novel probe text "),
            col("id"), lit(" zz"))).as("text"))
    val smallKeys = graft.operators.Dedup
      .signatureBuckets(small.toDF(), "id", "text")
      .select("bucket").distinct().collect().map(_.getLong(0))
    val touched = t.candidateFiles(snap,
      col("bucket").isin(smallKeys.map(java.lang.Long.valueOf)
        .toIndexedSeq: _*)).size
    require(touched <= smallKeys.length,
      s"pruned probe touched $touched files for ${smallKeys.length} keys")
    val (smallHits, secSmall) = timed {
      graft.operators.NearDupIndex.refresh(small.toDF(), "id", "text",
        t, "id", stored, "text").count()
    }
    require(smallHits == 30L, s"small refresh hits $smallHits != 30")
    println(s"INDEXSOAK_LEG small keys=${smallKeys.length} touched=$touched " +
      s"hits=$smallHits sec=${r1s(secSmall)}")

    // ---- leg 3: big-batch refresh (fallback full-scan join) ---------
    val bigN = math.max(10000L, n / 50L)
    val bslices = math.max(spark.sparkContext.defaultParallelism.toLong,
      bigN / 250000L).toInt
    val big = spark.range(0L, bigN, 1L, bslices)
      .withColumn("__gid", expr(s"3 + 100 * (id % $groups)"))
      .select((col("id") + (4L * n)).as("id"),
        when(col("id") % 10L < 9L, textOfGid)
          .otherwise(concat(lit("z novel big-batch text "),
            col("id"), lit(" zz"))).as("text"))
    val (bigHits, secBig) = timed {
      graft.operators.NearDupIndex.refresh(big.toDF(), "id", "text",
        t, "id", stored, "text").count()
    }
    require(bigHits == bigN * 9L / 10L,
      s"big refresh hits $bigHits != ${bigN * 9L / 10L}")
    println(s"INDEXSOAK_LEG big batch=$bigN hits=$bigHits sec=${r1s(secBig)}")

    val json =
      s"""{"rows":$n,"partitions":$partitions,"index_rows":$idxRows,""" +
      s""""index_files":$idxFiles,"sec_index_build":${r1s(secBuild)},""" +
      s""""sec_index_count":${r1s(secCount)},""" +
      s""""small_keys":${smallKeys.length},"small_files_touched":$touched,""" +
      s""""small_hits":$smallHits,"sec_small_refresh":${r1s(secSmall)},""" +
      s""""big_batch":$bigN,"big_hits":$bigHits,""" +
      s""""sec_big_refresh":${r1s(secBig)},""" +
      s""""heap_max_bytes":${Runtime.getRuntime.maxMemory()},""" +
      s""""heap_peak_bytes":${peakHeapBytes()}}"""
    println(s"INDEXSOAK $json")
    spark.stop()
  }
}
