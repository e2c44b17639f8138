package graft.vintage

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Spilled snapshots (SnapshotSpill): past the threshold, replay keeps
  * the checkpoint parquet as a distributed file index instead of
  * folding the file list into driver objects. The spy counter proves
  * the driver-memory bound: predicate scans, merge-on-read DML, blind
  * appends, and the NEXT checkpoint all run with ZERO full
  * materializations of the spilled list.
  */
class SnapshotSpillSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def newDir(): String =
    Files.createTempDirectory("vintage-spill").toString + "/t"

  private def withThreshold[A](n: Long)(body: => A): A = {
    val prev = VintageLog.spillThreshold
    VintageLog.spillThreshold = n
    try body
    finally {
      VintageLog.spillThreshold = prev
      VintageLog.clearSnapshotCache()
    }
  }

  /** Build a table with enough files+commits to cross a checkpoint:
    * v0 create (8 files) + 10 appends (8 files each) = 88 files,
    * checkpoint at v10.
    */
  private def buildManyFiles(dir: String,
      props: Map[String, String] = Map.empty): VintageTable = {
    val t = VintageTable.create(spark, dir,
      (0 until 64).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartition(8), props)
    (1 to 10).foreach { c =>
      t.append((0 until 8).map(i => (c * 1000L + i, s"a$c"))
        .toDF("k", "v").repartition(8))
    }
    t
  }

  test("past the threshold, scans prune and appends commit without materializing") {
    withThreshold(60) {
      val dir = newDir()
      val t = buildManyFiles(dir,
        Map(DeletionVectors.EnabledProp -> "true"))
      VintageLog.clearSnapshotCache()
      val before = SnapshotSpill.materializations.get()
      SnapshotSpill.traceMaterializations = true

      val snap = t.snapshot
      assert(snap.spilled.isDefined,
        s"88-file checkpoint must spill at threshold 60 (v${snap.version})")

      // distributed predicate prune: only candidate files reach the driver
      val cands = t.candidateFiles(snap, col("k") === 3000L)
      assert(cands.nonEmpty && cands.size < 88,
        s"stats pruning must narrow the candidate set, got ${cands.size}")

      // pruned read through the V1 relation path (format("vintage"))
      val rows = spark.read.format("vintage").load(dir)
        .filter(col("k") === 3000L).collect()
      assert(rows.length == 1 && rows(0).getString(1) == "a3")

      // merge-on-read DELETE: pruned plan, DV commit, removes from the
      // held candidate files
      t.delete(col("k") === 1001L)
      assert(spark.read.format("vintage").load(dir)
        .filter(col("k") === 1001L).count() == 0)

      // one-key fluent upsert: candidates prune distributed, and the
      // rewrite's key clustering reads the touched files' own stats
      t.as("t").merge(Seq((2003L, "up")).toDF("k", "v").as("s"), "t.k = s.k")
        .whenMatched().updateAll().whenNotMatched().insertAll().execute()
      assert(spark.read.format("vintage").load(dir)
        .filter(col("k") === 2003L).as[(Long, String)].collect().toSeq == Seq((2003L, "up")))

      // blind append on the spilled snapshot
      t.append(Seq((99999L, "fresh")).toDF("k", "v").coalesce(1))
      assert(spark.read.format("vintage").load(dir)
        .filter(col("k") === 99999L).count() == 1)

      val after = SnapshotSpill.materializations.get()
      SnapshotSpill.traceMaterializations = false
      assert(after == before,
        s"spilled file list was materialized ${after - before} times " +
        "during prune/scan/delete/append")

      // the full (unpruned) read is the compatibility tier: correct,
      // and it is ALLOWED to materialize
      assert(spark.read.format("vintage").load(dir).count() == 64 + 80)
    }
  }

  test("the next checkpoint streams from the previous one") {
    withThreshold(60) {
      val dir = newDir()
      val t = buildManyFiles(dir)
      VintageLog.clearSnapshotCache()
      val before = SnapshotSpill.materializations.get()
      // 10 more appends cross the next checkpoint interval (v20): its
      // write must stream the v10 checkpoint's adds, not materialize
      (11 to 20).foreach { c =>
        t.append(Seq((c * 1000L, s"b$c")).toDF("k", "v").coalesce(1))
      }
      val after = SnapshotSpill.materializations.get()
      assert(after == before,
        s"checkpoint write materialized the spilled list ${after - before} times")
      // the streamed checkpoint replays identically
      VintageLog.clearSnapshotCache()
      val snap = t.snapshot
      assert(snap.version == 20L && snap.spilled.isDefined)
      assert(spark.read.format("vintage").load(dir).count() == 64 + 80 + 10)
    }
  }

  test("spilled replay equals in-memory replay exactly") {
    val dir = newDir()
    val t = buildManyFiles(dir,
      Map(DeletionVectors.EnabledProp -> "true"))
    t.delete(col("k") < 8L)   // DVs across several files
    t.append(Seq((7L, "re")).toDF("k", "v").coalesce(1))

    VintageLog.clearSnapshotCache()
    val inMem = t.snapshot
    assert(inMem.spilled.isEmpty)
    val memFiles = inMem.files.map(f => f.path -> f).toMap
    val memRows = spark.read.format("vintage").load(dir)
      .orderBy("k", "v").collect().map(_.toString).toSeq

    withThreshold(10) {
      VintageLog.clearSnapshotCache()
      val sp = t.snapshot
      assert(sp.spilled.isDefined)
      val spFiles = sp.files.map(f => f.path -> f).toMap
      assert(spFiles == memFiles,
        "materialized spilled list must equal the in-memory replay")
      val spRows = spark.read.format("vintage").load(dir)
        .orderBy("k", "v").collect().map(_.toString).toSeq
      assert(spRows == memRows)
      // time travel still works in spilled mode
      assert(spark.read.format("vintage").option("versionAsOf", 0)
        .load(dir).count() == 64)
    }
  }

  test("row-tracked appends assign disjoint ranges without the liveness walk") {
    withThreshold(60) {
      val dir = newDir()
      val t = buildManyFiles(dir,
        Map(RowTracking.EnabledProp -> "true"))
      VintageLog.clearSnapshotCache()
      val before = SnapshotSpill.materializations.get()
      assert(t.snapshot.spilled.isDefined)
      t.append(Seq((555L, "x"), (556L, "y")).toDF("k", "v").coalesce(1))
      assert(SnapshotSpill.materializations.get() == before,
        "freshAdds append must skip the livePaths materialization")
      val hwm = t.snapshot.rowIdHwm
      assert(hwm == (64 + 80 + 2).toLong,
        s"contiguous ranges across the spill boundary, mark=$hwm")
      // ids of the fresh rows sit at the top of the range
      val ids = t.toDFWithRowIds.filter(col("k").isin(555L, 556L))
        .select("_row_id").as[Long].collect().toSet
      assert(ids == Set(hwm - 2, hwm - 1))
    }
  }
}
