package graft.vintage

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** File layout of copy-on-write MERGE rewrites: the rewrite is range-
  * partitioned on the partition columns and the equi-join keys into as
  * many files as the merge touched, so the rewritten files keep
  * disjoint key ranges and a later one-key message touches one file
  * instead of everything the previous merge rewrote.
  */
class MergeLayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def newDir(): String =
    Files.createTempDirectory("vintage-layout").toString + "/t"

  /** 80 rows in 4 files with disjoint k ranges (range partition + sort). */
  private def fourFiles(props: Map[String, String] = Map.empty): VintageTable = {
    val t = VintageTable.create(spark, newDir(),
      (0L until 80L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"), props)
    assert(t.snapshot.files.size == 4)
    t
  }

  private def upsert(t: VintageTable, rows: Seq[(Long, String)]): Unit =
    t.as("t").merge(rows.toDF("k", "v").as("s"), "t.k = s.k")
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()

  private def added(t: VintageTable): Seq[AddFile] =
    VintageLog.readVersion(t.path, t.version).collect { case a: AddFile => a }

  private def removed(t: VintageTable): Seq[RemoveFile] =
    VintageLog.readVersion(t.path, t.version).collect { case r: RemoveFile => r }

  private def keyRange(f: AddFile): (Long, Long) = {
    val s = f.stats("k")
    (s.min.get.toLong, s.max.get.toLong)
  }

  private def bucketOf(f: AddFile): Option[Int] =
    Bucketing.bucketId(new Path(f.path).getName)

  test("a merge touching every file writes at most that many key-disjoint files") {
    val t = fourFiles()
    upsert(t, Seq((5L, "u5"), (25L, "u25"), (45L, "u45"), (65L, "u65"), (90L, "new")))
    assert(removed(t).size == 4)
    val adds = added(t)
    assert(adds.size > 1 && adds.size <= 4,
      s"4 touched files must come back as 2 to 4 files, got ${adds.size}")
    val ranges = adds.map(keyRange).sortBy(_._1)
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo, _)) =>
      assert(hi < lo, s"rewritten key ranges overlap: $ranges")
    }
    assert(t.toDF.count() == 81)

    // the next one-key message touches one file, not the whole rewrite
    upsert(t, Seq((30L, "again")))
    assert(removed(t).size == 1)
    val rewrittenRows = added(t).flatMap(_.numRecords).sum
    assert(rewrittenRows < 81, s"a one-key merge rewrote $rewrittenRows of 81 rows")
    val m = t.toDF.as[(Long, String)].collect().toMap
    assert(m.size == 81 && m(30L) == "again" && m(25L) == "u25" && m(90L) == "new")
  }

  test("range bounds come from log stats in the column's own value space") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    // dates are stored as epoch days, timestamps as epoch micros
    assert(FileSkipping.statLiteral(DateType, "18262") == Some(Literal(18262, DateType)))
    assert(FileSkipping.statLiteral(TimestampType, "1577836800000000") ==
      Some(Literal(1577836800000000L, TimestampType)))
    assert(FileSkipping.statLiteral(LongType, "42") == Some(Literal(42L)))
    assert(FileSkipping.statLiteral(StringType, "M:CHF") == Some(Literal("M:CHF")))
    assert(FileSkipping.statLiteral(DecimalType(5, 2), "1.5").map(_.toString) == Some("1.50"))
    assert(FileSkipping.statLiteral(BinaryType, "00").isEmpty)

    // a date-keyed merge touching all 4 files writes 4 date-disjoint files
    val t = VintageTable.create(spark, newDir(),
      (0 until 80).map(i => (java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i)), s"v$i")).toDF("d", "v")
        .repartitionByRange(4, col("d")).sortWithinPartitions("d"))
    assert(t.snapshot.files.size == 4)
    t.as("t").merge(Seq(("2020-01-05", "a"), ("2020-01-25", "b"), ("2020-02-14", "c"),
        ("2020-03-10", "e")).toDF("d", "v").select(to_date(col("d")).as("d"), col("v")).as("s"),
        "t.d = s.d")
      .whenMatched().updateAll()
      .execute()
    assert(removed(t).size == 4)
    val ranges = added(t).map(f => (f.stats("d").min.get.toInt, f.stats("d").max.get.toInt))
      .sortBy(_._1)
    assert(ranges.size == 4, s"expected one file per touched file, got $ranges")
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo, _)) =>
      assert(hi < lo, s"rewritten date ranges overlap: $ranges")
    }
  }

  test("partitioned table: a one-partition merge keeps one file per partition") {
    val t = VintageTable.create(spark, newDir(),
      (0L until 80L).map(i => (s"p${i % 4}", i, s"v$i")).toDF("p", "k", "v").coalesce(1),
      partitionBy = Seq("p"))
    val perPartition = () => t.snapshot.files.groupBy(_.partitionValues("p")).map {
      case (p, fs) => p -> fs.size
    }
    assert(perPartition() == Map("p0" -> 1, "p1" -> 1, "p2" -> 1, "p3" -> 1))
    t.as("t").merge(Seq(("p1", 5L, "u5"), ("p1", 99L, "new")).toDF("p", "k", "v").as("s"),
        "t.p = s.p AND t.k = s.k")
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
    assert(removed(t).size == 1)
    assert(perPartition() == Map("p0" -> 1, "p1" -> 1, "p2" -> 1, "p3" -> 1))
    assert(t.toDF.filter(col("p") === "p1").count() == 21)
  }

  test("bucketed table: the rewrite keeps every row in its bucket") {
    val n = 4
    val t = VintageTable.create(spark, newDir(),
      (0L until 80L).map(i => (i, s"v$i")).toDF("k", "v"),
      Map(Bucketing.ColumnsProp -> "k", Bucketing.BucketsProp -> n.toString))
    upsert(t, Seq((5L, "u5"), (25L, "u25"), (45L, "u45"), (65L, "u65"), (90L, "new")))
    val files = t.snapshot.files
    assert(files.forall(bucketOf(_).isDefined),
      s"every file must carry a bucket id: ${files.map(_.path)}")
    files.foreach { f =>
      val ids = spark.read.parquet(f.absolutePath(t.path))
        .select(pmod(hash(col("k")), lit(n))).distinct().as[Int].collect().toSeq
      assert(ids == bucketOf(f).toSeq, s"${f.path} holds rows of buckets $ids")
    }
    assert(t.toDF.count() == 81)
  }

  test("row-tracked table: clustered rewrite keeps every surviving row id") {
    val t = fourFiles(Map(RowTracking.EnabledProp -> "true"))
    def ids() = t.toDFWithRowIds.select("k", "_row_id").as[(Long, Long)].collect().toMap
    val before = ids()
    upsert(t, Seq((5L, "u5"), (25L, "u25"), (45L, "u45"), (65L, "u65"), (90L, "new")))
    assert(removed(t).size == 4)
    val after = ids()
    assert(after.removed(90L) == before,
      s"row ids must survive the clustered rewrite: $before -> $after")
    assert(!before.values.toSet.contains(after(90L)), "an inserted row gets a fresh id")
  }
}
