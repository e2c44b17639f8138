package graft.vintage

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.vintage.connector.VintageNativeScan

/** The fluent read path: `toDF`, `toDFAsOf` and `toDFAsOfTimestamp`
  * read a snapshot without deletion vectors through the same file index
  * as `format("vintage")`, and one with them through the native scan;
  * either way filters on the frame prune files by log stats. The rows
  * and the declared column order are those of the snapshot's file read
  * ([[VintageTable.dfForSnapshot]], a native scan of every file), or,
  * for deletion-vector tables, of the generator's rows minus the
  * deleted ones.
  */
class FluentReadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def newDir(): String =
    Files.createTempDirectory("vintage-fluent").toString + "/t"

  private def sameAsSnapshotRead(t: VintageTable, df: DataFrame, snap: Snapshot): Unit = {
    val want = t.dfForSnapshot(snap)
    assert(df.columns.toSeq == want.columns.toSeq, "declared column order")
    assert(df.schema.map(_.dataType) == want.schema.map(_.dataType))
    def rows(d: DataFrame) = d.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(df) == rows(want))
  }

  private def checkBoth(t: VintageTable, asOf: Long): Unit = {
    sameAsSnapshotRead(t, t.toDF, t.snapshot)
    sameAsSnapshotRead(t, t.toDFAsOf(asOf), t.snapshotAt(asOf))
  }

  test("a filter on toDF scans only the stats-pruned candidate files") {
    val t = VintageTable.create(spark, newDir(),
      (0L until 80L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    val cond = col("k") >= 25 && col("k") <= 35
    val expected = t.candidateFiles(t.snapshot, cond).size
    assert(expected == 1)

    val q = t.toDF.filter(cond)
    assert(q.collect().length == 11) // executes q's own plan → metrics populated
    val scans = q.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, "expected one native parquet scan")
    assert(scans.head.metrics("numFiles").value == expected,
      s"scan must open the $expected candidate file(s), " +
      s"got ${scans.head.metrics("numFiles").value} of 4")
    val asOf = t.toDFAsOf(0).filter(cond)
    assert(asOf.collect().length == 11)
    assert(asOf.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    } == Seq(expected.toLong))
  }

  test("deletion-vector table: same rows and columns as the snapshot read") {
    val t = VintageTable.create(spark, newDir(),
      (0L until 40L).map(i => (i, s"v$i", i % 3)).toDF("k", "v", "g").repartition(2),
      Map(DeletionVectors.EnabledProp -> "true"))
    t.delete(col("g") === 1)
    assert(DeletionVectors.hasDvs(t.snapshot.files))
    assert(t.toDF.count() == 27)
    // oracle: the generator's rows, minus the deleted predicate
    def generated(keep: Long => Boolean): Seq[String] =
      (0L until 40L).filter(keep).map(i => s"$i|v$i|${i % 3}").sorted
    def same(df: DataFrame, want: Seq[String]): Unit = {
      assert(df.columns.toSeq == Seq("k", "v", "g"), "declared column order")
      assert(df.schema.map(_.dataType) == Seq(LongType, StringType, LongType))
      assert(df.collect().map(_.toSeq.mkString("|")).sorted.toSeq == want)
    }
    same(t.toDF, generated(_ % 3 != 1))
    same(t.toDFAsOf(0), generated(_ => true))
    val ts = t.snapshot.commits.maxBy(_.version).timestamp
    same(t.toDFAsOfTimestamp(ts), generated(_ % 3 != 1))
  }

  test("a filter on toDF of a deletion-vector table scans only the candidate files") {
    val t = VintageTable.create(spark, newDir(),
      (0L until 80L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      Map(DeletionVectors.EnabledProp -> "true"))
    t.delete(col("k") % 10 === 0) // a deletion vector on every file
    assert(t.snapshot.files.size == 4 && t.snapshot.files.forall(_.hasDv))
    val cond = col("k") >= 25 && col("k") <= 35
    assert(t.candidateFiles(t.snapshot, cond).size == 1)

    val q = t.toDF.filter(cond)
    // executes q's own plan → metrics populated
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == (25L to 35L).filterNot(_ == 30L))
    val scans = q.queryExecution.executedPlan.collect {
      case s: BatchScanExec if s.scan.isInstanceOf[VintageNativeScan] => s
    }
    assert(scans.size == 1, "expected one native scan")
    def m(n: String) = scans.head.metrics(n).value
    assert(m(VintageNativeScan.FilesTotal) == 4)
    assert(m(VintageNativeScan.FilesCandidate) == 1,
      s"scan must open the 1 candidate file, got ${m(VintageNativeScan.FilesCandidate)} of 4")
  }

  test("column-mapped table: renamed column reads under its logical name") {
    val t = VintageTable.create(spark, newDir(),
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "amount"))
    t.enableColumnMapping()
    t.renameColumn("amount", "price")
    t.append(Seq((3L, "c", 30.0)).toDF("id", "name", "price"))
    assert(t.toDF.columns.toSeq == Seq("id", "name", "price"))
    assert(t.toDF.filter(col("price") > 15.0).count() == 2)
    checkBoth(t, 0)
  }

  test("partitioned table: the partition column keeps its declared position") {
    val t = VintageTable.create(spark, newDir(),
      (0L until 30L).map(i => (s"p${i % 3}", i, s"v$i")).toDF("p", "k", "v"),
      partitionBy = Seq("p"))
    t.append(Seq(("p9", 100L, "late")).toDF("p", "k", "v"))
    assert(t.toDF.columns.toSeq == Seq("p", "k", "v"))
    assert(t.toDF.filter(col("p") === "p9").as[(String, Long, String)].collect().toSeq ==
      Seq(("p9", 100L, "late")))
    checkBoth(t, 0)
  }

  test("spilled snapshot: same rows and columns as the snapshot read") {
    val prev = VintageLog.spillThreshold
    VintageLog.spillThreshold = 4
    try {
      val t = VintageTable.create(spark, newDir(),
        (0 until 16).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(2))
      (1 to 10).foreach(c => t.append(Seq((c * 100L, s"a$c")).toDF("k", "v")))
      VintageLog.clearSnapshotCache()
      assert(t.snapshot.spilled.isDefined, "expected a spilled snapshot")
      assert(t.toDF.filter(col("k") === 500L).count() == 1)
      checkBoth(t, 10)
    } finally {
      VintageLog.spillThreshold = prev
      VintageLog.clearSnapshotCache()
    }
  }
}
