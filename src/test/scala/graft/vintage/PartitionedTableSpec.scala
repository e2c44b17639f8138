package graft.vintage

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Hive-style partitioned vintage tables: directory layout, partition
  * values in the log, pruning in both the scan FileIndex and the
  * row-level-op touched-file discovery, and SQL DDL surface.
  */
class PartitionedTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def sampleDf = Seq(
    (1L, "2024-01-01", "a"), (2L, "2024-01-01", "b"),
    (3L, "2024-01-02", "c"), (4L, "2024-01-02", "d"),
    (5L, "2024-01-03", "e"))
    .toDF("id", "day", "payload")

  test("create partitioned: hive dirs, partitionValues in log, round-trip read") {
    val dir = Files.createTempDirectory("vintage-part").toString + "/t"
    val t = VintageTable.create(spark, dir, sampleDf, partitionBy = Seq("day"))

    val files = t.snapshot.files
    assert(files.nonEmpty)
    assert(files.forall(f => f.path.startsWith("day=") && f.path.contains("/")))
    assert(files.forall(f => f.partitionValues.keySet == Set("day")))
    assert(files.map(_.partitionValues("day")).toSet ==
      Set("2024-01-01", "2024-01-02", "2024-01-03"))
    assert(t.snapshot.partitionColumns == Seq("day"))

    // round trip preserves all columns including the partition column
    val back = t.toDF.orderBy("id").collect()
    assert(back.length == 5)
    assert(back.map(_.getString(1)).toSeq ==
      Seq("2024-01-01", "2024-01-01", "2024-01-02", "2024-01-02", "2024-01-03"))
  }

  test("scan prunes partitions: filtered read lists only that partition's files") {
    val dir = Files.createTempDirectory("vintage-part").toString + "/p"
    val t = VintageTable.create(spark, dir, sampleDf, partitionBy = Seq("day"))

    val df = spark.read.format("vintage").load(dir)
      .filter(col("day") === "2024-01-02")
    assert(df.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
    // plan-level: the executed scan must list only that partition's files
    df.collect()
    val scan = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val expected = t.snapshot.files.count(_.partitionValues("day") == "2024-01-02")
    assert(scan.metrics("numFiles").value == expected,
      s"scan read ${scan.metrics("numFiles").value} files, expected $expected")
  }

  test("compactWhere rewrites only the selected partition's files") {
    val dir = Files.createTempDirectory("vintage-part").toString + "/cw"
    val t = VintageTable.create(spark, dir, sampleDf, partitionBy = Seq("day"))
    // fragment one partition with extra single-row appends
    import spark.implicits._
    (10L to 13L).foreach { i =>
      t.append(Seq((i, "2024-01-01", s"p$i")).toDF("id", "day", "payload")
        .coalesce(1))
    }
    val before = t.snapshot.files
    val hotBefore = before.filter(_.partitionValues("day") == "2024-01-01")
    val coldBefore = before.filterNot(_.partitionValues("day") == "2024-01-01")
    assert(hotBefore.size >= 5)

    val rewritten = t.compactWhere(col("day") === "2024-01-01")
    assert(rewritten == hotBefore.size)
    val after = t.snapshot.files
    // untouched partitions keep their exact files
    assert(after.filterNot(_.partitionValues("day") == "2024-01-01")
      .map(_.path).toSet == coldBefore.map(_.path).toSet)
    // the hot partition is compacted into fewer files, rows intact
    val hotAfter = after.filter(_.partitionValues("day") == "2024-01-01")
    assert(hotAfter.size < hotBefore.size)
    assert(hotAfter.forall(!_.dataChange), "scoped compaction is layout-only")
    assert(t.toDF.count() == 9)

    // SQL surface
    spark.sql(s"OPTIMIZE '$dir' WHERE day = '2024-01-02'").collect()
    assert(t.toDF.count() == 9)
    // change feed sees nothing from either compaction
    assert(t.changes(t.version - 2, t.version).count() == 0)

    // a typo'd column must fail analysis, not rewrite the whole table
    val vBefore = t.version
    intercept[org.apache.spark.sql.AnalysisException] {
      t.compactWhere(col("dya") === "2024-01-01")
    }
    assert(t.version == vBefore)

    // multi-partition selection stays one-file-per-partition: a
    // round-robin shuffle would emit numFiles x partitions fragments
    t.compactWhere(col("day") >= "2024-01-01")
    val perPart = t.snapshot.files.groupBy(_.partitionValues("day"))
      .map { case (_, fs) => fs.size }
    assert(perPart.forall(_ == 1),
      s"whole-range compaction must not fragment partitions: $perPart")
  }

  test("delete/update/merge rewrite only the touched partition") {
    val dir = Files.createTempDirectory("vintage-part").toString + "/d"
    val t = VintageTable.create(spark, dir, sampleDf, partitionBy = Seq("day"))
    val before = t.snapshot.files.map(_.path).toSet

    t.delete(col("day") === "2024-01-01")
    val removes1 = VintageLog.readVersion(t.path, t.version)
      .collect { case r: RemoveFile => r }
    assert(removes1.map(_.path).forall(_.startsWith("day=2024-01-01")),
      "delete must not touch other partitions")
    assert(t.toDF.count() == 3)

    t.update(col("id") === 3L, Map("payload" -> lit("updated")))
    val removes2 = VintageLog.readVersion(t.path, t.version)
      .collect { case r: RemoveFile => r }
    assert(removes2.map(_.path).forall(_.startsWith("day=2024-01-02")))
    assert(t.toDF.filter(col("id") === 3).select("payload").head().getString(0)
      == "updated")

    // merge keyed on id: only the partition containing id=5 rewrites
    val src = Seq((5L, "2024-01-03", "merged"), (6L, "2024-01-04", "new"))
      .toDF("id", "day", "payload")
    t.as("t").merge(src.as("s"), "t.id = s.id")
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
    assert(t.toDF.count() == 4)
    assert(t.toDF.filter(col("id") === 6).select("day").head().getString(0)
      == "2024-01-04")
    // the new row landed in its own hive dir
    assert(t.snapshot.files.exists(_.path.startsWith("day=2024-01-04")))
    val removes3 = VintageLog.readVersion(t.path, t.version)
      .collect { case r: RemoveFile => r }
    assert(removes3.map(_.path).forall(_.startsWith("day=2024-01-03")))
  }

  test("scheme-qualified table path with a space in a partition dir: DML finds its files") {
    // the log keeps `file:/…/key=a b/part-…`, which Spark's parquet
    // reader would report URL-encoded as `file:/…/key=a%20b/part-…`.
    // Copy-on-write and deletion-vector tables both discover touched
    // files through the native scan, whose `_vintage_file` is the key.
    Seq(false, true).foreach { dvs =>
      val dir = "file:" + Files.createTempDirectory("vintage-part").toString + "/sp"
      val t = VintageTable.create(spark, dir, Seq(
          (1L, "a b", "x"), (2L, "a b", "y"), (3L, "a b", "z"), (4L, "plain", "w"))
        .toDF("id", "key", "payload"), partitionBy = Seq("key"),
        properties = Map(DeletionVectors.EnabledProp -> dvs.toString))
      def rows = t.toDF.select("id", "payload").as[(Long, String)].collect().sorted.toSeq
      def removed = VintageLog.readVersion(t.path, t.version)
        .collect { case r: RemoveFile => r }

      t.delete(col("id") === 1L)
      assert(rows == Seq((2L, "y"), (3L, "z"), (4L, "w")), s"dvs=$dvs")
      if (!dvs) assert(removed.nonEmpty && removed.forall(_.path.startsWith("key=a b/")))

      t.update(col("id") === 2L, Map("payload" -> lit("u")))
      assert(rows == Seq((2L, "u"), (3L, "z"), (4L, "w")), s"dvs=$dvs")

      // a matched key updates in place: no duplicate of the old row
      t.as("t").merge(Seq((3L, "a b", "m")).toDF("id", "key", "payload").as("s"),
          "t.id = s.id")
        .whenMatched().updateAll()
        .whenNotMatched().insertAll()
        .execute()
      assert(rows == Seq((2L, "u"), (3L, "m"), (4L, "w")), s"dvs=$dvs")
    }
  }

  test("SQL: CREATE TABLE PARTITIONED BY, INSERT, pruned SELECT, DESCRIBE shape") {
    val wh = Files.createTempDirectory("vintage-part-wh").toString
    spark.conf.set("spark.sql.catalog.vpart",
      "graft.vintage.connector.VintageCatalog")
    spark.conf.set("spark.sql.catalog.vpart.warehouse", wh)
    try {
      spark.sql("CREATE TABLE vpart.events (id BIGINT, day STRING, v DOUBLE) " +
        "PARTITIONED BY (day)")
      spark.sql("INSERT INTO vpart.events VALUES " +
        "(1, '2024-01-01', 1.0), (2, '2024-01-02', 2.0), (3, '2024-01-02', 3.0)")
      val rows = spark.sql(
        "SELECT id FROM vpart.events WHERE day = '2024-01-02' ORDER BY id")
        .as[Long].collect().toSeq
      assert(rows == Seq(2L, 3L))
      val t = VintageTable.forPath(spark, s"$wh/events")
      assert(t.snapshot.partitionColumns == Seq("day"))
      assert(t.snapshot.files.forall(_.path.startsWith("day=")))
      // time travel still sees the partitioned layout
      assert(spark.sql("SELECT * FROM vpart.events VERSION AS OF 1").count() == 3)
    } finally {
      spark.conf.unset("spark.sql.catalog.vpart")
      spark.conf.unset("spark.sql.catalog.vpart.warehouse")
    }
  }

  test("partition values survive checkpoint replay and special characters") {
    val dir = Files.createTempDirectory("vintage-part").toString + "/cp"
    val weird = Seq((1L, "a b/c:d", "x"), (2L, "plain", "y"))
      .toDF("id", "key", "payload")
    val t = VintageTable.create(spark, dir, weird, partitionBy = Seq("key"))
    // escaped on disk, unescaped in the log
    assert(t.snapshot.files.map(_.partitionValues("key")).toSet ==
      Set("a b/c:d", "plain"))
    // drive past a checkpoint boundary
    (1 to 10).foreach(i =>
      t.append(Seq((10L + i, "plain", "z")).toDF("id", "key", "payload")))
    assert(t.version >= 10)
    val replayed = VintageLog.replay(t.path)
    assert(replayed.partitionColumns == Seq("key"))
    assert(replayed.files.forall(_.partitionValues.contains("key")))
    assert(t.toDF.filter(col("key") === "a b/c:d").count() == 1)
  }

  test("typed partition column (int): pruning and value round-trip") {
    val dir = Files.createTempDirectory("vintage-part").toString + "/i"
    val df = Seq((1L, 10, "a"), (2L, 20, "b"), (3L, 30, "c")).toDF("id", "bucket", "v")
    val t = VintageTable.create(spark, dir, df, partitionBy = Seq("bucket"))
    val read = spark.read.format("vintage").load(dir)
    assert(read.schema("bucket").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val filtered = read.filter(col("bucket") >= 20)
    assert(filtered.select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    filtered.collect()
    val scan = filtered.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metrics("numFiles").value == 2,
      s"int range must prune to 2 partitions, read ${scan.metrics("numFiles").value}")
  }
}
