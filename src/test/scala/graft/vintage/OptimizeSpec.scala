package graft.vintage

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Bin-packing OPTIMIZE: only small files (and DV-carrying files) are
  * rewritten; well-sized clean files are never touched.
  */
class OptimizeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("autoCompact: the write tipping the small-file count pays for the pack") {
    val dir = Files.createTempDirectory("vintage-autoc").toString + "/t"
    val t = VintageTable.create(spark, dir,
      Seq((1L, "a")).toDF("id", "s").coalesce(1),
      properties = Map(
        "vintage.autoCompact.enabled" -> "true",
        "vintage.autoCompact.minNumFiles" -> "4"))
    t.append(Seq((2L, "b")).toDF("id", "s").coalesce(1))
    t.append(Seq((3L, "c")).toDF("id", "s").coalesce(1))
    assert(t.snapshot.files.size == 3, "below the threshold nothing compacts")
    // the 4th small file tips the threshold: this append auto-packs
    t.append(Seq((4L, "d")).toDF("id", "s").coalesce(1))
    assert(t.snapshot.files.size == 1,
      s"auto-compact must bin-pack the tail, got ${t.snapshot.files.size}")
    assert(t.toDF.count() == 4)
    // layout-only: the change feed sees only the data appends
    assert(t.changes(0).select("id").collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L, 4L))
    // disabled table never auto-packs
    val dir2 = Files.createTempDirectory("vintage-autoc-off").toString + "/t"
    val t2 = VintageTable.create(spark, dir2,
      Seq((1L, "a")).toDF("id", "s").coalesce(1))
    (2 to 5).foreach(i =>
      t2.append(Seq((i.toLong, "x")).toDF("id", "s").coalesce(1)))
    assert(t2.snapshot.files.size == 5)
  }

  test("optimize packs the small-file tail and leaves big files alone") {
    val dir = Files.createTempDirectory("vintage-opt").toString + "/t"
    // one "big" file (10k rows) + three tiny single-row appends
    val t = VintageTable.create(spark, dir,
      (1L to 10000L).map(i => (i, s"payload-$i")).toDF("id", "s").coalesce(1))
    (1 to 3).foreach(i =>
      t.append(Seq((100000L + i, "x")).toDF("id", "s").coalesce(1)))
    val snap0 = t.snapshot
    assert(snap0.files.size == 4)
    val bigPath = snap0.files.maxBy(_.size).path
    val smallSizes = snap0.files.map(_.size).sorted.take(3)

    // threshold between the tiny files and the big one
    val minBytes = smallSizes.max + 1
    val rewritten = t.optimize(targetFileBytes = 8L * 1024 * 1024,
      minFileBytes = minBytes)
    assert(rewritten == 3)
    val snap1 = t.snapshot
    assert(snap1.files.map(_.path).contains(bigPath),
      "the well-sized file must survive untouched")
    assert(snap1.files.size == 2, "three small files pack into one")
    assert(t.toDF.count() == 10003)
    // layout-only: invisible to the change feed and to time travel
    assert(t.changes(3).count() == 0)
    assert(t.toDFAsOf(1).count() == 10001)

    // second run: nothing small left, no-op
    assert(t.optimize(targetFileBytes = 8L * 1024 * 1024,
      minFileBytes = minBytes) == 0)
  }

  test("optimize rewrites DV-carrying files regardless of size, purging DVs") {
    val dir = Files.createTempDirectory("vintage-opt").toString + "/dv"
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "s").coalesce(1),
      properties = Map(DeletionVectors.EnabledProp -> "true"))
    t.delete(col("id") <= 10)
    assert(t.snapshot.files.exists(_.dv.nonEmpty))
    // minFileBytes=0: nothing qualifies by size — only the DV rule fires
    val rewritten = t.optimize(targetFileBytes = 8L * 1024 * 1024,
      minFileBytes = 0L)
    assert(rewritten == 1)
    assert(t.snapshot.files.forall(_.dv.isEmpty),
      "optimize must materialize deletions and drop the vectors")
    assert(t.toDF.count() == 90)
    assert(t.toDFAsOf(1).count() == 90)
    // layout-only rewrites add their files with dataChange = false
    def added = VintageLog.readVersion(t.path, t.version).collect {
      case a: AddFile => a
    }
    assert(added.nonEmpty && added.forall(!_.dataChange), "OPTIMIZE adds")
    t.compact(2)
    assert(added.nonEmpty && added.forall(!_.dataChange), "compaction adds")
    assert(t.toDF.count() == 90)
  }
}
