package graft.vintage

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, TransformExpression}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.vintage.connector.VintageNativeScan

/** Bucketed vintage tables: hash-bucket layout declared at CREATE,
  * preserved by every write path, and reported by the native scan as a
  * key-grouped partitioning on `bucket(n, key)`, so joins and
  * aggregations on the bucket column plan without an Exchange.
  */
class BucketedVintageSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-bvint").toString

  private val bucketProps = Map(
    Bucketing.ColumnsProp -> "key", Bucketing.BucketsProp -> "8")

  private def fact(n: Long) =
    (1L to n).map(i => (i, i % 97, i * 3.0)).toDF("id", "key", "v")

  private def readV(p: String) = spark.read.format("vintage").load(p)

  private def nativeScans(df: DataFrame): Seq[BatchScanExec] =
    df.queryExecution.executedPlan.collect {
      case s: BatchScanExec if s.scan.isInstanceOf[VintageNativeScan] => s
    }

  /** (bucket count, column) of the key-grouped partitioning the native
    * scan of `df` reports, if any.
    */
  private def claimedBuckets(df: DataFrame): Option[(Int, String)] =
    nativeScans(df).headOption.flatMap(_.keyGroupedPartitioning).collect {
      case Seq(TransformExpression(_, Seq(a: Attribute), Some(n))) => (n, a.name)
    }

  /** Runs `body` with AQE off and, when `noBroadcast`, broadcast joins off. */
  private def planned[T](noBroadcast: Boolean)(body: => T): T = {
    val keys = Seq("spark.sql.adaptive.enabled") ++
      (if (noBroadcast) Seq("spark.sql.autoBroadcastJoinThreshold") else Nil)
    val prev = keys.map(k => k -> spark.conf.get(k))
    try {
      keys.foreach(k => spark.conf.set(k,
        if (k == "spark.sql.adaptive.enabled") "false" else "-1"))
      body
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("create writes bucket-suffixed files; scan reports the buckets") {
    val p = tmp()
    VintageTable.create(spark, p, fact(2000), bucketProps)
    val snap = VintageLog.replay(p)
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(f =>
      Bucketing.bucketId(new org.apache.hadoop.fs.Path(f.path).getName).isDefined),
      s"every file must carry a bucket id: ${snap.files.map(_.path)}")
    assert(snap.files.flatMap(f => Bucketing.bucketId(
      new org.apache.hadoop.fs.Path(f.path).getName)).forall(b => b >= 0 && b < 8))
    // protocol gates foreign writers
    assert(snap.protocol.writerFeatures.contains("bucketing"))
    // the read plans the native scan, keyed by bucket(8, key)
    assert(claimedBuckets(readV(p)) == Some((8, "key")))
    assert(claimedBuckets(VintageTable.forPath(spark, p).toDF) == Some((8, "key")))
  }

  test("bucketed vintage ⋈ bucketed vintage on the key: zero Exchange, right rows") {
    val pa = tmp(); val pb = tmp()
    VintageTable.create(spark, pa, fact(2000), bucketProps)
    VintageTable.create(spark, pb,
      (0L to 96L).map(k => (k, s"label_$k")).toDF("key", "label"), bucketProps)
    planned(noBroadcast = true) {
      val j = readV(pa).join(readV(pb), "key")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed vintage join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      // and the result matches the plain computation
      val plain = fact(2000).join(
        (0L to 96L).map(k => (k, s"label_$k")).toDF("key", "label"), "key")
      assert(j.count() == plain.count())
      assert(j.select("id", "v", "label")
        .exceptAll(plain.select("id", "v", "label")).isEmpty)
    }
  }

  test("append and DELETE keep every file bucket-aligned (plan still shuffle-free)") {
    val p = tmp()
    val t = VintageTable.create(spark, p, fact(1000), bucketProps)
    t.append(fact(200).withColumn("id", col("id") + 10000))
    t.delete("id % 5 = 0")
    val snap = VintageLog.replay(p)
    assert(snap.files.forall(f => Bucketing.bucketId(
      new org.apache.hadoop.fs.Path(f.path).getName).isDefined),
      s"post-DML files must stay bucketed: ${snap.files.map(_.path)}")
    // groupBy on the bucket key also plans without a shuffle
    planned(noBroadcast = false) {
      val agg = readV(p).groupBy("key").agg(sum("v"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"groupBy on bucket key must not shuffle:\n$plan")
    }
    // content check vs a locally-replayed model
    val expect = fact(1000).unionByName(
        fact(200).withColumn("id", col("id") + 10000))
      .filter(col("id") % 5 =!= 0)
    assert(readV(p).exceptAll(expect).isEmpty &&
      expect.exceptAll(readV(p)).isEmpty)
    // compaction and a fluent MERGE keep the layout too: every row of
    // every file hashes to the bucket id in the file's name
    t.compact(1)
    t.as("t").merge(fact(20).withColumn("v", lit(-1.0)).as("s"), "t.id = s.id")
      .whenMatched().updateAll().whenNotMatched().insertAll().execute()
    VintageLog.replay(p).files.foreach { f =>
      val id = Bucketing.bucketId(new org.apache.hadoop.fs.Path(f.path).getName)
      val hashed = spark.read.parquet(f.absolutePath(p))
        .select(pmod(hash(col("key")), lit(8))).distinct().as[Int].collect().toSeq
      assert(id.isDefined && hashed == id.toSeq, s"${f.path} holds buckets $hashed")
    }
    assert(readV(p).filter(col("v") === -1.0).count() == 20)
  }

  test("UPDATE that moves a row across buckets re-buckets it") {
    val p = tmp()
    val t = VintageTable.create(spark, p, fact(500), bucketProps)
    // key := key + 1 moves every row to a different hash cell
    t.update(col("id") <= 100, Map("key" -> (col("key") + 1)))
    val snap = VintageLog.replay(p)
    assert(snap.files.forall(f => Bucketing.bucketId(
      new org.apache.hadoop.fs.Path(f.path).getName).isDefined))
    // the moved rows are found by a bucket-pruned-style equality scan
    val got = readV(p).filter(col("id") <= 100)
      .agg(sum("key")).head.getLong(0)
    val want = (1L to 100L).map(i => i % 97 + 1).sum
    assert(got == want)
  }

  test("bucketing is fixed at creation: setProperties refuses, create validates") {
    val p = tmp()
    val t = VintageTable.create(spark, p, fact(100))
    intercept[IllegalArgumentException] {
      t.setProperties(Map(Bucketing.ColumnsProp -> "key",
        Bucketing.BucketsProp -> "4"))
    }
    intercept[IllegalArgumentException] {
      VintageTable.create(spark, tmp(), fact(100),
        Map(Bucketing.ColumnsProp -> "nope", Bucketing.BucketsProp -> "4"))
    }
    intercept[IllegalArgumentException] {
      VintageTable.create(spark, tmp(), fact(100),
        Map(Bucketing.ColumnsProp -> "key"))
    }
  }

  test("native SQL INSERT produces bucket-aligned files; row-level DML and streaming refuse") {
    spark.conf.set("spark.sql.catalog.bvint", "graft.vintage.connector.VintageCatalog")
    if (spark.conf.getOption("spark.sql.catalog.bvint.warehouse").isEmpty)
      spark.conf.set("spark.sql.catalog.bvint.warehouse",
        Files.createTempDirectory("graft-bvint-wh").toString)
    spark.sql("DROP TABLE IF EXISTS bvint.bt")
    spark.sql(
      """CREATE TABLE bvint.bt (id BIGINT, key BIGINT, v DOUBLE)
        |TBLPROPERTIES ('vintage.bucketing.columns'='key',
        |               'vintage.bucketing.buckets'='8')""".stripMargin)
    fact(500).createOrReplaceTempView("bvint_src")
    spark.sql("INSERT INTO bvint.bt SELECT id, key, v FROM bvint_src")
    val wh = spark.conf.get("spark.sql.catalog.bvint.warehouse")
    val p = s"$wh/bt"
    val snap = VintageLog.replay(p)
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(f => Bucketing.bucketId(
      new org.apache.hadoop.fs.Path(f.path).getName).isDefined),
      s"native INSERT must write bucket ids: ${snap.files.map(_.path)}")
    // the landed bucket assignment must be the SAME murmur3 pmod the
    // scan side assumes: a shuffle-free groupBy returns exact counts
    assert(spark.sql("SELECT count(*) FROM bvint.bt").head.getLong(0) == 500)
    assert(readV(p).groupBy("key").count()
      .exceptAll(fact(500).groupBy("key").count()).isEmpty)
    // the file-name bucket must match the content's recomputed bucket:
    // read each file's rows with their file name and re-hash the key
    val byFile = readV(p)
      .select(col("key"),
        element_at(split(col("_vintage_file"), "/"), -1).as("fname"))
      .collect()
    byFile.foreach { r =>
      val expect = Bucketing.bucketId(r.getString(1)).get
      val got = org.apache.spark.sql.catalyst.expressions.Pmod(
        new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(Seq(
          org.apache.spark.sql.catalyst.expressions.Literal(r.getLong(0)))),
        org.apache.spark.sql.catalyst.expressions.Literal(8))
        .eval(null).asInstanceOf[Int]
      assert(got == expect, s"key ${r.getLong(0)} in file ${r.getString(1)}")
    }
    // simple-predicate SQL DELETE routes through SupportsDeleteV2 →
    // the fluent delete → writeFiles, so it stays bucket-aligned
    spark.sql("DELETE FROM bvint.bt WHERE id <= 10")
    assert(spark.sql("SELECT count(*) FROM bvint.bt").head.getLong(0) == 490)
    val snap2 = VintageLog.replay(p)
    assert(snap2.files.forall(f => Bucketing.bucketId(
      new org.apache.hadoop.fs.Path(f.path).getName).isDefined))
    // UPDATE goes through the row-level WriteDelta plan, which now
    // requests the bucket clustering — its re-inserted rows must land
    // in aligned files with the CORRECT bucket for their key
    spark.sql("UPDATE bvint.bt SET v = v + 1 WHERE id % 7 = 0")
    val snap3 = VintageLog.replay(p)
    assert(snap3.files.forall(f => Bucketing.bucketId(
      new org.apache.hadoop.fs.Path(f.path).getName).isDefined),
      s"post-UPDATE files must stay bucketed: ${snap3.files.map(_.path)}")
    // per-file raw check: every key in every live file (deleted rows
    // included) must hash to the file's named bucket
    snap3.files.foreach { f =>
      val fname = new org.apache.hadoop.fs.Path(f.path).getName
      val expect = Bucketing.bucketId(fname).get
      spark.read.parquet(s"$p/${f.path}").select("key").collect().foreach { r =>
        val got = org.apache.spark.sql.catalyst.expressions.Pmod(
          new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(Seq(
            org.apache.spark.sql.catalyst.expressions.Literal(r.getLong(0)))),
          org.apache.spark.sql.catalyst.expressions.Literal(8))
          .eval(null).asInstanceOf[Int]
        assert(got == expect,
          s"post-UPDATE key ${r.getLong(0)} misbucketed in $fname")
      }
    }
    // and the content is right
    assert(spark.sql(
      "SELECT CAST(sum(v) AS BIGINT) FROM bvint.bt").head.getLong(0) ==
      fact(500).filter(col("id") > 10)
        .withColumn("v", when(col("id") % 7 === 0, col("v") + 1).otherwise(col("v")))
        .agg(sum("v").cast("long")).head.getLong(0))
  }

  test("sorted buckets: fresh tables merge-join with neither Exchange nor Sort") {
    val pa = tmp(); val pb = tmp()
    val sortedProps = bucketProps + (Bucketing.SortProp -> "key")
    VintageTable.create(spark, pa, fact(2000), sortedProps)
    VintageTable.create(spark, pb,
      (0L to 96L).map(k => (k, s"label_$k")).toDF("key", "label"), sortedProps)
    // the scan reports the in-bucket order while every bucket is one
    // file, which drops the SMJ's Sort
    planned(noBroadcast = true) {
      val j = readV(pa).join(readV(pb), "key")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"must not shuffle:\n$plan")
      assert(!plan.contains("Sort "), s"declared in-bucket order must serve the SMJ:\n$plan")
      assert(j.count() == fact(2000).join(
        (0L to 96L).map(k => (k, s"label_$k")).toDF("key", "label"), "key").count())
      // after an append a bucket holds two files: ordering is no longer
      // claimable, but the join stays Exchange-free and correct
      VintageTable.forPath(spark, pa)
        .append(fact(100).withColumn("id", col("id") + 9000))
      val j2 = readV(pa).join(readV(pb), "key")
      val plan2 = j2.queryExecution.executedPlan.toString
      assert(!plan2.contains("Exchange"), s"append must keep the layout:\n$plan2")
      assert(j2.count() == fact(2000).unionByName(
          fact(100).withColumn("id", col("id") + 9000))
        .join((0L to 96L).map(k => (k, s"label_$k")).toDF("key", "label"), "key")
        .count())
    }
  }

  test("OPTIMIZE purges DVs and restores the shuffle-free bucketed plan") {
    val p = tmp()
    val t = VintageTable.create(spark, p, fact(800),
      bucketProps + ("vintage.deletionVectors.enabled" -> "true"))
    t.delete("id % 3 = 0") // DV delete
    assert(t.optimize() > 0, "optimize must rewrite the DV-carrying files")
    val snap = VintageLog.replay(p)
    assert(snap.files.forall(f => Bucketing.bucketId(
      new org.apache.hadoop.fs.Path(f.path).getName).isDefined),
      s"post-OPTIMIZE files must stay bucketed: ${snap.files.map(_.path)}")
    planned(noBroadcast = false) {
      val agg = readV(p).groupBy("key").agg(sum("v"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"after DV purge the bucketed agg must not shuffle:\n$plan")
    }
    assert(readV(p).count() == fact(800).filter(col("id") % 3 =!= 0).count())
  }

  test("point lookup on the bucket key prunes to a single bucket") {
    val p = tmp()
    VintageTable.create(spark, p, fact(2000), bucketProps)
    assert(VintageLog.replay(p).files.size == 8, "one file per bucket")
    val q = readV(p).filter(col("key") === 41L)
    // executes q's own plan → metrics populated
    assert(q.collect().length == fact(2000).filter(col("key") === 41L).count())
    val scan = nativeScans(q).head
    assert(scan.metrics(VintageNativeScan.FilesCandidate).value == 1,
      s"equality on the bucket column must prune 7 of 8 buckets:\n${scan.scan.description()}")
    assert(scan.scan.description().contains("buckets=1/8"), scan.scan.description())
    // an IN list keeps the buckets of its values
    val in = readV(p).filter(col("key").isin(41L, 42L))
    assert(in.collect().length == fact(2000).filter(col("key").isin(41L, 42L)).count())
    assert(nativeScans(in).head.metrics(VintageNativeScan.FilesCandidate).value <= 2)
  }

  test("time travel on a bucketed table stays bucket-planned and version-exact") {
    val p = tmp()
    val t = VintageTable.create(spark, p, fact(300), bucketProps)
    t.append(fact(100).withColumn("id", col("id") + 5000))
    val v0 = spark.read.format("vintage").option("versionAsOf", "0").load(p)
    assert(v0.count() == 300)
    assert(claimedBuckets(v0) == Some((8, "key")))
    assert(claimedBuckets(t.toDFAsOf(0)) == Some((8, "key")))
  }

  test("SQL join of two bucketed catalog tables on the key plans no Exchange") {
    spark.conf.set("spark.sql.catalog.bvint", "graft.vintage.connector.VintageCatalog")
    if (spark.conf.getOption("spark.sql.catalog.bvint.warehouse").isEmpty)
      spark.conf.set("spark.sql.catalog.bvint.warehouse",
        Files.createTempDirectory("graft-bvint-wh").toString)
    val props =
      "TBLPROPERTIES ('vintage.bucketing.columns'='key', 'vintage.bucketing.buckets'='8')"
    spark.sql("DROP TABLE IF EXISTS bvint.ja")
    spark.sql("DROP TABLE IF EXISTS bvint.jb")
    spark.sql(s"CREATE TABLE bvint.ja (id BIGINT, key BIGINT, v DOUBLE) $props")
    spark.sql(s"CREATE TABLE bvint.jb (key BIGINT, label STRING) $props")
    fact(2000).createOrReplaceTempView("bvint_ja_src")
    (0L to 96L).map(k => (k, s"label_$k")).toDF("key", "label")
      .createOrReplaceTempView("bvint_jb_src")
    spark.sql("INSERT INTO bvint.ja SELECT id, key, v FROM bvint_ja_src")
    spark.sql("INSERT INTO bvint.jb SELECT key, label FROM bvint_jb_src")
    planned(noBroadcast = true) {
      val j = spark.sql("SELECT id, v, label FROM bvint.ja JOIN bvint.jb USING (key)")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed SQL join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      val plain = fact(2000).join(
        (0L to 96L).map(k => (k, s"label_$k")).toDF("key", "label"), "key")
        .select("id", "v", "label")
      assert(j.exceptAll(plain).isEmpty && plain.exceptAll(j).isEmpty)
    }
  }

  test("outstanding deletion vectors keep the shuffle-free bucketed aggregation") {
    val p = tmp()
    val t = VintageTable.create(spark, p, fact(800),
      bucketProps + ("vintage.deletionVectors.enabled" -> "true"))
    t.delete("id % 3 = 0")
    assert(VintageLog.replay(p).files.exists(_.hasDv), "expected deletion vectors")
    val expect = fact(800).filter(col("id") % 3 =!= 0).groupBy("key").agg(sum("v"))
    Seq(readV(p), t.toDF).foreach { df =>
      planned(noBroadcast = false) {
        val agg = df.groupBy("key").agg(sum("v"))
        val plan = agg.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"groupBy on the bucket key of a DV table must not shuffle:\n$plan")
        assert(agg.exceptAll(expect).isEmpty && expect.exceptAll(agg).isEmpty)
      }
    }
  }
}
