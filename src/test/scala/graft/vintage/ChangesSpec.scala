package graft.vintage

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Row-level change feed computed from the log (Delta CDF analog). */
class ChangesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def collectChanges(df: DataFrame): Set[(Long, String, Long)] =
    df.select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("append / delete / update / overwrite produce exact row-level changes") {
    val dir = Files.createTempDirectory("vintage-cdc").toString + "/t"
    val t = VintageTable.create(spark, dir,
      (1L to 6L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(2))

    t.append(Seq((7L, "n7"), (8L, "n8")).toDF("id", "name").coalesce(1)) // v1
    t.delete(col("id") <= 2)                                             // v2
    t.update(col("id") === 5, Map("name" -> lit("upd")))                 // v3

    // v1: pure append — only inserts
    assert(collectChanges(t.changes(0, 1)) ==
      Set((7L, "insert", 1L), (8L, "insert", 1L)))
    // v2: delete — removed rows only, not the survivors of the rewrite
    assert(collectChanges(t.changes(1, 2)) ==
      Set((1L, "delete", 2L), (2L, "delete", 2L)))
    // v3: update = delete of the old row + insert of the new one
    val v3 = t.changes(2, 3)
    assert(collectChanges(v3) == Set((5L, "delete", 3L), (5L, "insert", 3L)))
    val byType = v3.collect().map(r =>
      r.getString(r.fieldIndex("_change_type")) ->
        r.getString(r.fieldIndex("name"))).toMap
    assert(byType == Map("delete" -> "n5", "insert" -> "upd"))

    // whole range at once
    val all = collectChanges(t.changes(0))
    assert(all == Set((7L, "insert", 1L), (8L, "insert", 1L),
      (1L, "delete", 2L), (2L, "delete", 2L),
      (5L, "delete", 3L), (5L, "insert", 3L)))

    // v4 overwrite: every prior live row deletes, new rows insert
    t.overwrite(Seq((100L, "x")).toDF("id", "name").coalesce(1))
    val v4 = collectChanges(t.changes(3, 4))
    assert(v4 == Set((100L, "insert", 4L), (3L, "delete", 4L),
      (4L, "delete", 4L), (5L, "delete", 4L), (6L, "delete", 4L),
      (7L, "delete", 4L), (8L, "delete", 4L)))
  }

  test("row-tracked tables classify updates as update_preimage/postimage") {
    val dir = Files.createTempDirectory("vintage-cdc").toString + "/u"
    val t = VintageTable.create(spark, dir,
      (1L to 6L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(2),
      properties = Map(RowTracking.EnabledProp -> "true"))
    t.update(col("id") === 5, Map("name" -> lit("upd")))  // v1 copy-on-write
    val v1 = t.changes(0, 1)
    val got = v1.collect().map(r => (r.getLong(0),
      r.getString(r.fieldIndex("name")),
      r.getString(r.fieldIndex("_change_type")))).toSet
    assert(got == Set((5L, "n5", "update_preimage"),
      (5L, "upd", "update_postimage")),
      s"copy-on-write update must classify via row ids, got $got")

    // a delete in the same table stays a delete (no spurious updates
    // from the rewrite's unchanged survivors)
    t.delete(col("id") <= 2) // v2
    assert(collectChanges(t.changes(1, 2)) ==
      Set((1L, "delete", 2L), (2L, "delete", 2L)))

    // merge: matched rows update, unmatched insert — all three kinds
    // in one commit, attributed by the surviving row id
    t.as("tgt").merge(
        Seq((6L, "m6"), (99L, "new")).toDF("id", "name").coalesce(1).as("src"),
        "tgt.id = src.id")
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute() // v3
    val v3 = t.changes(2, 3).collect().map(r => (r.getLong(0),
      r.getString(r.fieldIndex("name")),
      r.getString(r.fieldIndex("_change_type")))).toSet
    assert(v3 == Set((6L, "n6", "update_preimage"),
      (6L, "m6", "update_postimage"), (99L, "new", "insert")))

    // DV merge-on-read update path classifies identically
    val dvDir = Files.createTempDirectory("vintage-cdc").toString + "/udv"
    val t2 = VintageTable.create(spark, dvDir,
      (1L to 6L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(2),
      properties = Map(RowTracking.EnabledProp -> "true",
        DeletionVectors.EnabledProp -> "true"))
    t2.update(col("id") === 3, Map("name" -> lit("dvu"))) // v1
    val dvGot = t2.changes(0, 1).collect().map(r => (r.getLong(0),
      r.getString(r.fieldIndex("name")),
      r.getString(r.fieldIndex("_change_type")))).toSet
    assert(dvGot == Set((3L, "n3", "update_preimage"),
      (3L, "dvu", "update_postimage")),
      s"DV update must classify via row ids, got $dvGot")

    // untracked tables keep the documented delete+insert degradation
    // (asserted by the base test above) — and the TVF surfaces the
    // new kinds
    val tvf = spark.sql(
      s"SELECT id, _change_type FROM table_changes('$dir', 1, 1)")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(tvf == Set((5L, "update_preimage"), (5L, "update_postimage")))
  }

  test("layout-only commits (compaction, cluster) contribute no changes") {
    val dir = Files.createTempDirectory("vintage-cdc").toString + "/c"
    val t = VintageTable.create(spark, dir,
      (1L to 50L).map(i => (i, i % 5)).toDF("id", "k").repartition(4))
    t.compact(1)         // v1, dataChange=false
    t.cluster(2, "id")   // v2, dataChange=false
    assert(t.version == 2)
    assert(t.changes(0).count() == 0,
      "compaction and clustering must be invisible to the change feed")
    // empty-range result still has the contract columns
    val cols = t.changes(0).columns.toSeq
    assert(cols.containsSlice(Seq("_change_type", "_commit_version")))
  }

  test("connector readChangeFeed option exposes the feed with Delta's surface") {
    val dir = Files.createTempDirectory("vintage-cdc").toString + "/r"
    val t = VintageTable.create(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1)) // v0
    t.append(Seq((3L, "c")).toDF("id", "name").coalesce(1))     // v1
    t.delete(col("id") === 1)                                   // v2

    // default: startingVersion=0 — v0's creating write reports as inserts
    val all = spark.read.format("vintage")
      .option("readChangeFeed", "true").load(dir)
    assert(collectChanges(all) == Set(
      (1L, "insert", 0L), (2L, "insert", 0L), (3L, "insert", 1L),
      (1L, "delete", 2L)))

    // bounded range, startingVersion inclusive
    val v1only = spark.read.format("vintage")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "1").load(dir)
    assert(collectChanges(v1only) == Set((3L, "insert", 1L)))
  }

  test("connector change feed plans the feed itself: no RDD bridge, pruned native scans") {
    val dir = Files.createTempDirectory("vintage-cdc").toString + "/p"
    val t = VintageTable.create(spark, dir,
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "amount").coalesce(1))
    t.append(Seq((3L, "c", 30.0)).toDF("id", "name", "amount").coalesce(1)) // v1
    t.delete(col("id") === 1)                                               // v2
    def load(ending: Long) = spark.read.format("vintage")
      .option("readChangeFeed", "true").option("endingVersion", ending.toString).load(dir)

    val feed = load(2)
    val want = t.changes(-1, 2)
    assert(feed.columns.toSeq == want.columns.toSeq)
    assert(feed.exceptAll(want).isEmpty && want.exceptAll(feed).isEmpty)
    val plan = feed.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD") && !plan.contains("Scan Vintage") &&
      plan.contains("VintageNativeScan"), s"change feed read through an RDD:\n$plan")

    // appends only: a one-column select prunes every native scan to it
    val ids = load(1).select("id")
    assert(ids.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    val scans = ids.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if s.scan.isInstanceOf[graft.vintage.connector.VintageNativeScan] => s.scan
    }
    assert(scans.size == 2 && scans.forall(_.readSchema().fieldNames.toSeq == Seq("id")),
      s"read schemas: ${scans.map(_.readSchema().simpleString)}")
  }

  test("table_changes TVF: SQL batch CDF by path and by catalog name") {
    val dir = Files.createTempDirectory("vintage-cdc").toString + "/tvf"
    val t = VintageTable.create(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1))
    t.append(Seq((3L, "c")).toDF("id", "name").coalesce(1)) // v1
    t.delete(col("id") === 1)                               // v2
    // by path, start inclusive
    val fromV1 = spark.sql(s"SELECT * FROM table_changes('$dir', 1)")
    assert(collectChanges(fromV1) == Set((3L, "insert", 1L), (1L, "delete", 2L)))
    // bounded range
    val v1only = spark.sql(s"SELECT * FROM table_changes('$dir', 1, 1)")
    assert(collectChanges(v1only) == Set((3L, "insert", 1L)))
    // composes with ordinary SQL
    assert(spark.sql(
      s"SELECT count(*) FROM table_changes('$dir', 0) WHERE _change_type = 'insert'")
      .head().getLong(0) == 3L)
    // by catalog-qualified name
    spark.conf.set("spark.sql.catalog.cdf", "graft.vintage.connector.VintageCatalog")
    spark.conf.set("spark.sql.catalog.cdf.warehouse",
      Files.createTempDirectory("vintage-cdf-wh").toString)
    spark.sql("CREATE TABLE cdf.ct AS SELECT 42 AS x")
    spark.sql("INSERT INTO cdf.ct VALUES (43)")
    val named = spark.sql("SELECT x, _change_type, _commit_version " +
      "FROM table_changes('cdf.ct', 1)").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(named == Set((43, "insert", 1L)))
  }

  test("changes across schema evolution align by name with nulls") {
    val dir = Files.createTempDirectory("vintage-cdc").toString + "/s"
    val t = VintageTable.create(spark, dir,
      Seq((1L, "a")).toDF("id", "name").coalesce(1))
    spark.conf.set("spark.databricks.delta.schema.autoMerge.enabled", "true")
    try {
      t.as("tgt").merge(
          Seq((2L, "b", 9.9)).toDF("id", "name", "score").coalesce(1).as("src"),
          "tgt.id = src.id")
        .whenNotMatched().insertAll()
        .execute() // v1: adds `score` column
    } finally spark.conf.unset("spark.databricks.delta.schema.autoMerge.enabled")
    val ch = t.changes(0)
    val rows = ch.select("id", "score", "_change_type").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getDouble(1), r.getString(2)))
    assert(rows.toSet == Set((2L, 9.9, "insert")))
  }
}
