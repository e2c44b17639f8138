package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.vintage._

/** Log-tier scale stress (LogStressSpec forks this as a REAL JVM with
  * a capped heap): builds a vintage table whose transaction log holds
  * `nFiles` AddFile actions — synthetic log only, no data files; every
  * operation measured here is pure log/planning tier — then measures
  * the operations a 100 TB table's driver actually pays:
  *
  *   1. `sec_replay`        cold spilled replay (checkpoint past
  *                          [[VintageLog.spillThreshold]] stays a
  *                          distributed index, never driver objects),
  *   2. `sec_plan`          predicate scan planning via the
  *                          distributed stats prune
  *                          ([[SpilledIndex.candidates]]) — asserts the
  *                          prune narrows `nFiles` to ONE candidate,
  *   3. `sec_append`        a blind append commit (no file-list read),
  *   4. `sec_checkpoint`    the NEXT checkpoint, which must STREAM the
  *                          previous checkpoint's add rows
  *                          ([[CheckpointCodec.writeStreamedParts]]),
  *   5. `sec_replay2`       cold replay over the streamed checkpoint,
  *   6. `sec_vacuum_dry`    vacuum DRY RUN — the documented
  *                          compatibility tier that DOES hold the live
  *                          path set (strings, not AddFiles) on the
  *                          driver.
  *
  * The build phase itself exercises the chunked multi-part checkpoint
  * writer at `nFiles` rows (`sec_build_checkpoint`) — its in-memory
  * replay of the pre-checkpoint commits is the one deliberate
  * full-list cost, paid once when a table first crosses the spill
  * threshold, and it must also fit the capped heap.
  *
  * Prints one `LOGSTRESS {json}` line. Args: nFiles.
  */
object LogStress {
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

  def main(args: Array[String]): Unit = {
    val n = args(0).toLong
    // the checkpoint must spill, or the spilled-tier steps measure nothing
    require(n >= VintageLog.spillThreshold,
      s"need at least VintageLog.spillThreshold = ${VintageLog.spillThreshold} " +
      s"files, got $n")
    val root = java.nio.file.Files.createTempDirectory("graft-logstress")
    val dir = root.resolve("t").toString
    val spark = graft.GraftSession(s"graft-log-stress-$n",
      Some(sys.env.getOrElse("GRAFT_LOGSTRESS_MASTER", "local[8]")),
      Map("spark.sql.shuffle.partitions" -> 32,
        "spark.sql.warehouse.dir" -> root.resolve("wh").toString))

    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))

    // ---- build: v0 metadata, v1..v5 batched adds, checkpoint at v5.
    // Each synthetic file carries real stats striping k into disjoint
    // [i*10, i*10+9] ranges so an equality predicate prunes to exactly
    // one file — planning over the log is identical whether or not the
    // data files exist, which keeps the build O(log) instead of
    // writing a million parquet files.
    def addFor(i: Long): AddFile = AddFile(
      path = f"part-$i%09d.parquet", size = 1L << 20,
      modificationTime = 1700000000000L, dataChange = true,
      numRecords = Some(10L),
      stats = Map("k" -> ColStats(
        Some((i * 10).toString), Some((i * 10 + 9).toString), Some(0L))))
    val batches = 5
    val (_, secBuildCommits) = timed {
      VintageLog.commit(dir, 0L, Seq(
        Protocol.base, Metadata(schema.json),
        CommitInfo(0L, 1700000000000L, "CREATE")))
      (1 to batches).foreach { b =>
        val lo = (b - 1) * (n / batches)
        val hi = if (b == batches) n else b * (n / batches)
        VintageLog.commit(dir, b.toLong,
          (lo until hi).map(addFor) :+
            CommitInfo(b.toLong, 1700000000000L + b, "WRITE"))
      }
    }
    val (_, secBuildCheckpoint) = timed {
      VintageLog.checkpoint(dir, batches.toLong)
    }
    VintageLog.clearSnapshotCache()

    // ---- 1. cold spilled replay
    val (snap, secReplay) = timed { VintageLog.replay(dir) }
    require(snap.spilled.isDefined,
      s"$n-file checkpoint must load SPILLED at threshold " +
        s"${VintageLog.spillThreshold}")

    // ---- 2. distributed predicate planning
    val t = VintageTable.forPath(spark, dir)
    val probe = (n / 2) * 10 + 3 // inside file n/2's stripe
    val (cands, secPlan) = timed {
      t.candidateFiles(snap, col("k") === probe)
    }
    require(cands.size == 1,
      s"stats prune must narrow $n files to 1, got ${cands.size}")

    // ---- 3. blind append (log commit only — the freshAdds path)
    val (_, secAppend) = timed {
      VintageLog.commit(dir, batches + 1L,
        Seq(addFor(n), CommitInfo(batches + 1L, 1700000100000L, "WRITE")))
    }

    // ---- 4. next checkpoint: must stream the previous one
    val before = SnapshotSpill.materializations.get()
    val (_, secCheckpoint) = timed {
      VintageLog.checkpoint(dir, batches + 1L)
    }
    require(SnapshotSpill.materializations.get() == before,
      "streamed checkpoint materialized the spilled file list")

    // ---- 5. cold replay over the streamed checkpoint
    VintageLog.clearSnapshotCache()
    val (snap2, secReplay2) = timed { VintageLog.replay(dir) }
    require(snap2.spilled.isDefined && snap2.version == batches + 1L)

    // ---- 6. vacuum DRY RUN (compatibility tier: holds live PATHS)
    val (orphans, secVacuumDry) = timed { t.vacuum(168.0, dryRun = true) }

    def r1(v: Double): Double = math.rint(v * 10) / 10
    val json =
      s"""{"files":$n,"sec_build_commits":${r1(secBuildCommits)},""" +
      s""""sec_build_checkpoint":${r1(secBuildCheckpoint)},""" +
      s""""sec_replay":${r1(secReplay)},"sec_plan":${r1(secPlan)},""" +
      s""""candidates":${cands.size},"sec_append":${r1(secAppend)},""" +
      s""""sec_checkpoint":${r1(secCheckpoint)},""" +
      s""""sec_replay2":${r1(secReplay2)},""" +
      s""""sec_vacuum_dry":${r1(secVacuumDry)},"vacuum_orphans":$orphans,""" +
      s""""heap_max_bytes":${Runtime.getRuntime.maxMemory()},""" +
      s""""heap_peak_bytes":${peakHeapBytes()}}"""
    println(s"LOGSTRESS $json")
    spark.stop()
  }
}
