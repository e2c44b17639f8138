package graft.vintage

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Merge-on-read deletes via inline deletion vectors
  * (`vintage.deletionVectors.enabled`): a sparse DELETE records row
  * positions in the log instead of rewriting the touched files.
  */
class DeletionVectorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val DvProps = Map(DeletionVectors.EnabledProp -> "true")

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"vintage-dv-$tag").toString + "/t"

  test("DV delete removes rows without rewriting files") {
    val dir = newDir("basic")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").repartition(3),
      properties = DvProps)
    val filesBefore = t.snapshot.files.map(_.path).toSet

    t.delete(col("id") % 10 === 0) // 10 rows spread over all 3 files

    val snap = t.snapshot
    assert(snap.files.map(_.path).toSet == filesBefore,
      "a sparse DV delete must keep the same physical files")
    assert(snap.files.map(_.dv.size).sum == 10)
    assert(snap.files.forall(f => f.dv == f.dv.distinct.sorted))
    assert(t.toDF.count() == 90)
    assert(t.toDF.filter(col("id") % 10 === 0).count() == 0)

    // time travel to before the delete still sees every row
    assert(t.toDFAsOf(0).count() == 100)
    // history records the merge-on-read delete
    val h = t.history().filter(col("operation") === "DELETE").collect()
    assert(h.length == 1)
    assert(h(0).getAs[Map[String, String]]("operationParameters")
      .get("mode").contains("merge-on-read"))
  }

  test("stacked DV deletes union positions; re-delete is a no-op") {
    val dir = newDir("stack")
    val t = VintageTable.create(spark, dir,
      (1L to 50L).map(i => (i, i % 5)).toDF("id", "k").coalesce(1),
      properties = DvProps)
    t.delete(col("k") === 0) // 10 rows
    assert(t.toDF.count() == 40)
    t.delete(col("k") === 1) // 10 more
    assert(t.toDF.count() == 30)
    val dvSize = t.snapshot.files.head.dv.size
    assert(dvSize == 20)
    // deleting already-deleted rows adds no positions
    t.delete(col("k") === 0)
    assert(t.snapshot.files.head.dv.size == 20)
    assert(t.toDF.count() == 30)
  }

  test("per-file hybrid: dense file rewrites, sparse file keeps a DV") {
    val dir = newDir("hybrid")
    // two files via partition-ish repartition on a marker column:
    // file A holds k=0 (50 rows), file B holds k=1 (50 rows)
    val df = (1L to 100L).map(i => (i, i % 2)).toDF("id", "k")
      .repartitionByRange(2, col("k"))
    val t = VintageTable.create(spark, dir, df,
      properties = DvProps + (DeletionVectors.MaxInlineProp -> "10"))
    // delete 50 rows of one parity (dense: over the 10-position cap →
    // rewrite) and 1 row of the other (sparse: DV)
    t.delete(col("k") === 0 || col("id") === 1)
    assert(t.toDF.count() == 49)
    val snap = t.snapshot
    assert(snap.files.exists(_.dv.size == 1), "sparse side should carry a DV")
    assert(snap.files.filter(_.dv.nonEmpty).map(_.dv.size).sum == 1)
    val params = t.history().filter(col("operation") === "DELETE")
      .collect()(0).getAs[Map[String, String]]("operationParameters")
    assert(params.get("deletionVectors").contains("1"))
    assert(params.get("rewrittenFiles").contains("1"))
  }

  test("all read surfaces agree: toDF, format read, SQL catalog, time travel") {
    val dir = newDir("surfaces")
    val t = VintageTable.create(spark, dir,
      (1L to 60L).map(i => (i, s"v$i")).toDF("id", "name").repartition(2),
      properties = DvProps)
    t.delete(col("id") <= 5)

    assert(t.toDF.count() == 55)
    val viaFormat = spark.read.format("vintage").load(dir)
    assert(viaFormat.count() == 55)
    assert(viaFormat.filter(col("id") <= 5).count() == 0)
    // filter + projection through the fallback relation
    assert(viaFormat.filter(col("id") === 6).select("name")
      .as[String].collect().toSeq == Seq("v6"))
    // version pin: the pre-delete snapshot ignores the DV
    assert(spark.read.format("vintage").option("versionAsOf", 0)
      .load(dir).count() == 60)
  }

  test("DV rows vanish from SQL catalog reads; count(*) pushdown stays exact") {
    val dir = Files.createTempDirectory("vintage-dv-sql").toString
    spark.conf.set("spark.sql.catalog.dvcat",
      "graft.vintage.connector.VintageCatalog")
    spark.conf.set("spark.sql.catalog.dvcat.warehouse", dir)
    try {
      VintageTable.create(spark, s"$dir/t",
        (1L to 40L).map(i => (i, i % 4)).toDF("id", "k").coalesce(1),
        properties = DvProps)
      spark.sql("DELETE FROM dvcat.t WHERE k = 0") // 10 rows
      assert(spark.sql("SELECT count(*) FROM dvcat.t").as[Long].head() == 30,
        "metadata count(*) must subtract DV cardinality")
      assert(spark.sql("SELECT sum(id) FROM dvcat.t").as[Long].head() ==
        (1L to 40L).filter(_ % 4 != 0).sum)
      // min over a DV file must NOT be answered from (stale) stats
      assert(spark.sql("SELECT min(id) FROM dvcat.t").as[Long].head() == 1L)
      spark.sql("DELETE FROM dvcat.t WHERE id = 1")
      assert(spark.sql("SELECT min(id) FROM dvcat.t").as[Long].head() == 2L)
    } finally {
      spark.conf.unset("spark.sql.catalog.dvcat")
      spark.conf.unset("spark.sql.catalog.dvcat.warehouse")
    }
  }

  test("change feed reports exactly the DV-deleted rows") {
    val dir = newDir("cdf")
    val t = VintageTable.create(spark, dir,
      (1L to 20L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = DvProps)
    t.delete(col("id") === 3 || col("id") === 7) // v1
    t.delete(col("id") === 9)                    // v2 (stacked DV)
    val ch = t.changes(0)
      .select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(ch == Set((3L, "delete", 1L), (7L, "delete", 1L),
      (9L, "delete", 2L)))
  }

  test("change feed across RESTOREs that flip a file's DV state") {
    val dir = newDir("cdf-restore")
    val t = VintageTable.create(spark, dir,
      (1L to 25L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = DvProps)
    t.delete(col("id") > 20)  // v1: DV of 5 positions
    t.restoreToVersion(0)     // v2: re-adds the path with dv=[] (no remove)
    t.restoreToVersion(1)     // v3: re-adds the path with the DV again
    def ch(from: Long, to: Long): Set[(Long, String)] =
      t.changes(from, to).select("id", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    // v2 revives exactly the 5 deleted rows — not 25 phantom inserts
    assert(ch(1, 2) == (21L to 25L).map(i => (i, "insert")).toSet)
    // v3 re-deletes exactly those rows — and reports them as deletes
    assert(ch(2, 3) == (21L to 25L).map(i => (i, "delete")).toSet)
  }

  test("compaction purges DVs and restores full-file reads") {
    val dir = newDir("compact")
    val t = VintageTable.create(spark, dir,
      (1L to 30L).map(i => (i, i % 3)).toDF("id", "k").repartition(2),
      properties = DvProps)
    t.delete(col("k") === 0)
    assert(t.snapshot.files.exists(_.dv.nonEmpty))
    t.compact(1)
    val snap = t.snapshot
    assert(snap.files.forall(_.dv.isEmpty), "compaction must purge DVs")
    assert(t.toDF.count() == 20)
    // and time travel across the compaction still applies the old DV
    assert(t.toDFAsOf(1).count() == 20)
    assert(t.toDFAsOf(0).count() == 30)
  }

  test("restore to a pre-delete version revives DV-deleted rows") {
    val dir = newDir("restore")
    val t = VintageTable.create(spark, dir,
      (1L to 25L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = DvProps)
    t.delete(col("id") > 20) // v1: DV on the single file
    assert(t.toDF.count() == 20)
    t.restoreToVersion(0)    // v2: must re-add the DV-free AddFile
    assert(t.toDF.count() == 25)
    assert(t.snapshot.files.forall(_.dv.isEmpty))
    // and restore FORWARD to the deleted state works symmetrically
    t.restoreToVersion(1)
    assert(t.toDF.count() == 20)
  }

  test("racing DV deletes of the same file: loser fails instead of undeleting") {
    val dir = newDir("race")
    val t = VintageTable.create(spark, dir,
      (1L to 30L).map(i => (i, i % 3)).toDF("id", "k").coalesce(1),
      properties = DvProps)
    // simulate a stale-snapshot race: both writers read v0, writer A
    // commits a DV delete, then writer B (still on v0) tries its own
    val snapBefore = t.snapshot
    t.delete(col("k") === 0)
    val stale = new VintageTable2(spark, t.path) // helper view below
    intercept[java.util.ConcurrentModificationException] {
      stale.commitStaleDvDelete(snapBefore)
    }
    // the winner's deletions survive
    assert(t.toDF.count() == 20)
  }

  test("vacuum keeps DV-bearing data files alive") {
    val dir = newDir("vacuum")
    val t = VintageTable.create(spark, dir,
      (1L to 40L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = DvProps)
    t.delete(col("id") <= 3)
    spark.conf.set("spark.vintage.retentionDurationCheck.enabled", "false")
    try t.vacuum(0.0)
    finally spark.conf.unset("spark.vintage.retentionDurationCheck.enabled")
    // the (DV-carrying) file is still the live one — it must survive
    assert(t.toDF.count() == 37)
  }

  test("DVs survive parquet checkpoint replay") {
    val dir = newDir("checkpoint")
    val t = VintageTable.create(spark, dir,
      (1L to 30L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = DvProps)
    t.delete(col("id") <= 3) // v1: DV of 3 positions
    // push past the checkpoint interval (10) with blind appends
    import spark.implicits._
    (1 to 10).foreach(i =>
      t.append(Seq((100L + i, s"x$i")).toDF("id", "name").coalesce(1)))
    assert(t.version >= VintageLog.checkpointInterval)
    // force a cache-free replay: the snapshot must come from the
    // checkpoint + tail and still carry the inline vector
    VintageLog.clearSnapshotCache()
    val snap = t.snapshot
    assert(snap.files.exists(_.dv.size == 3),
      "checkpoint replay must preserve the deletion vector")
    assert(t.toDF.count() == 27 + 10)
  }

  test("merge and update on a DV table do not resurrect deleted rows") {
    val dir = newDir("merge")
    val t = VintageTable.create(spark, dir,
      (1L to 10L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = DvProps)
    t.delete(col("id") === 5)
    // update touches the file: rewrite must keep row 5 gone
    t.update(col("id") === 6, Map("name" -> lit("upd")))
    assert(t.toDF.count() == 9)
    assert(t.toDF.filter(col("id") === 5).count() == 0)
    assert(t.toDF.filter(col("name") === "upd").count() == 1)
    // merge-upsert over the survivors
    t.as("m").merge(Seq((5L, "back"), (7L, "upd7")).toDF("id", "name").as("s"),
        "m.id = s.id")
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
    val out = t.toDF.orderBy("id").as[(Long, String)].collect().toMap
    assert(out(5L) == "back" && out(7L) == "upd7")
    assert(t.toDF.count() == 10)
  }

  test("merge matching only a DV-deleted key rewrites no file") {
    val dir = newDir("merge-dead-key")
    // three files with disjoint key ranges
    val t = VintageTable.create(spark, dir,
      (1L to 30L).map(i => (i, s"n$i")).toDF("id", "name")
        .repartitionByRange(3, col("id")).sortWithinPartitions("id"),
      properties = DvProps)
    assert(t.snapshot.files.size == 3)
    t.delete(col("id") === 5)
    t.as("m").merge(Seq((5L, "back")).toDF("id", "name").as("s"), "m.id = s.id")
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
    // the deleted row is not a match: the merge only inserts
    val actions = VintageLog.readVersion(dir, t.version)
    assert(actions.collect { case r: RemoveFile => r }.isEmpty)
    assert(actions.collect { case a: AddFile => a }.size == 1)
    assert(t.toDF.filter(col("id") === 5).as[(Long, String)].collect().toSeq ==
      Seq((5L, "back")))
    assert(t.toDF.count() == 30)
  }

  test("DV delete on a hive-partitioned table prunes and reads correctly") {
    val dir = newDir("part")
    val t = VintageTable.create(spark, dir,
      (1L to 60L).map(i => (i, i % 3, s"n$i")).toDF("id", "p", "name"),
      properties = DvProps, partitionBy = Seq("p"))
    val filesBefore = t.snapshot.files.map(_.path).toSet
    // partition-scoped sparse delete: only p=1 files are candidates
    t.delete(col("p") === 1 && col("id") <= 10)
    val snap = t.snapshot
    assert(snap.files.map(_.path).toSet == filesBefore)
    assert(snap.files.filter(_.dv.nonEmpty)
      .forall(_.partitionValues.get("p").contains("1")),
      "only p=1 files may carry DVs")
    assert(t.toDF.count() == 60 - 4) // ids 1,4,7,10 have p=1 and id<=10
    assert(t.toDF.filter(col("p") === 1).count() == 20 - 4)
    // partition pruning still works through the DV read path
    assert(t.toDF.filter(col("p") === 2).count() == 20)
  }

  test("merge-on-read UPDATE: DV-marks old rows, appends updated copies") {
    val dir = newDir("mor-update")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").repartition(2),
      properties = DvProps)
    val filesBefore = t.snapshot.files.map(_.path).toSet
    t.update(col("id") % 25 === 0, Map("name" -> lit("upd"))) // 4 rows
    val snap = t.snapshot
    assert(filesBefore.subsetOf(snap.files.map(_.path).toSet),
      "original files must survive a sparse merge-on-read update")
    assert(snap.files.map(_.dv.size).sum == 4)
    assert(t.toDF.count() == 100)
    assert(t.toDF.filter(col("name") === "upd").count() == 4)
    assert(t.toDF.filter(col("id") === 25 && col("name") =!= "upd").count() == 0)
    val params = t.history().filter(col("operation") === "UPDATE")
      .collect()(0).getAs[Map[String, String]]("operationParameters")
    assert(params.get("mode").contains("merge-on-read"))
    // change feed: update = delete of old values + insert of new ones
    val ch = t.changes(0, 1)
      .select("id", "name", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(ch == (Set(25L, 50L, 75L, 100L).flatMap(i =>
      Set((i, s"n$i", "delete"), (i, "upd", "insert")))))
    // time travel to before the update
    assert(t.toDFAsOf(0).filter(col("name") === "upd").count() == 0)
  }

  test("merge-on-read UPDATE falls back to rewrite past the inline cap") {
    val dir = newDir("mor-update-cap")
    val t = VintageTable.create(spark, dir,
      (1L to 60L).map(i => (i, i % 2, "x")).toDF("id", "k", "v").coalesce(1),
      properties = DvProps + (DeletionVectors.MaxInlineProp -> "5"))
    t.update(col("k") === 0, Map("v" -> lit("y"))) // 30 matches > cap 5
    val snap = t.snapshot
    assert(snap.files.forall(_.dv.isEmpty), "dense update must rewrite, not DV")
    assert(t.toDF.filter(col("v") === "y").count() == 30)
    assert(t.toDF.count() == 60)
  }

  test("merge-on-read UPDATE: dense file rewrites, sparse file gains a DV, one commit") {
    val dir = newDir("mor-update-hybrid")
    // file A holds k=0 (50 rows), file B holds k=1 (50 rows)
    val df = (1L to 100L).map(i => (i, i % 2, "x")).toDF("id", "k", "v")
      .repartitionByRange(2, col("k"))
    val t = VintageTable.create(spark, dir, df,
      properties = DvProps + (DeletionVectors.MaxInlineProp -> "10"))
    val before = t.snapshot.files
    val dense = before.filter(_.stats("k").min.contains("0")).map(_.path)
    val sparse = before.filter(_.stats("k").min.contains("1")).map(_.path)
    assert(dense.size == 1 && sparse.size == 1)
    // 50 matches in file A (over the 10-position cap, all its rows:
    // rewrite) and 1 in file B (DV)
    t.update(col("k") === 0 || col("id") === 1, Map("v" -> lit("y")))
    assert(t.version == 1, "the update is one commit")
    val expected = (1L to 100L).map(i =>
      (i, i % 2, if (i % 2 == 0 || i == 1) "y" else "x")).toSet
    assert(t.toDF.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet == expected)
    assert(t.toDF.count() == 100)
    val snap = t.snapshot
    val paths = snap.files.map(_.path).toSet
    assert(!paths.contains(dense.head), "the dense file must be rewritten")
    val kept = snap.files.filter(_.path == sparse.head)
    assert(kept.size == 1 && kept.head.dv.size == 1,
      "the sparse file keeps its path and gains a one-position DV")
    val params = t.history().filter(col("operation") === "UPDATE")
      .collect()(0).getAs[Map[String, String]]("operationParameters")
    assert(params.get("deletionVectors").contains("1"))
    assert(params.get("rewrittenFiles").contains("1"))
  }

  // ------------------------------------------------ external DV sidecars

  private val SidecarProps =
    DvProps + (DeletionVectors.MaxInlineProp -> "5")

  test("delete past the inline cap but sparse writes a sidecar, not a rewrite") {
    val dir = newDir("sidecar")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = SidecarProps)
    val filesBefore = t.snapshot.files.map(_.path).toSet
    t.delete(col("id") <= 20) // 20% of the file: over cap 5, under maxDeletedFraction
    val snap = t.snapshot
    assert(snap.files.map(_.path).toSet == filesBefore,
      "a wide-but-sparse delete must NOT rewrite the file")
    val f = snap.files.head
    assert(f.dv.isEmpty && f.dvRef.nonEmpty, "vector must live in a sidecar")
    assert(f.dvRef.get.count == 20)
    assert(f.dvRef.get.path.startsWith(DeletionVectors.SidecarDirName + "/"))
    // the 20 contiguous positions run-length encode to ONE sidecar row
    val runs = spark.read.parquet(s"$dir/${f.dvRef.get.path}")
      .select("pos_start", "pos_end").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(runs.length == 1 && runs(0)._2 - runs(0)._1 == 19,
      s"contiguous delete must compress to one run, got ${runs.toList}")
    assert(t.toDF.count() == 80)
    assert(t.toDF.filter(col("id") <= 20).count() == 0)
    assert(t.toDFAsOf(0).count() == 100)
    val params = t.history().filter(col("operation") === "DELETE")
      .collect()(0).getAs[Map[String, String]]("operationParameters")
    assert(params.get("deletionVectors").contains("1"))
    assert(params.get("rewrittenFiles").contains("0"))
    // change feed reports exactly the sidecar-deleted rows
    val ch = t.changes(0, 1).select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ch == (1L to 20L).map(i => (i, "delete")).toSet)
  }

  test("wide sparse delete over the GLOBAL inline budget demotes to one sidecar") {
    // every file's vector fits the per-file cap, but the SUM does not:
    // the overflow must ride the distributed sidecar tier (one sidecar
    // per commit), never a driver-side collect of every position
    val dir = newDir("inline-budget")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, i % 4)).toDF("id", "bucket")
        .repartition(col("bucket")),
      properties = DvProps +
        (DeletionVectors.MaxInlineProp -> "100") + // per-file: never binds
        (DeletionVectors.MaxInlineTotalProp -> "15"),
      partitionBy = Seq("bucket")) // exactly 4 files, 25 rows each
    assert(t.snapshot.files.size == 4)
    val filesBefore = t.snapshot.files.map(_.path).toSet

    t.delete(col("id") % 10 < 4) // 10 rows in each of the 4 files

    val snap = t.snapshot
    assert(snap.files.map(_.path).toSet == filesBefore,
      "a sparse delete must not rewrite files in either tier")
    val (inline, sidecar) = snap.files.partition(_.dvRef.isEmpty)
    // budget 15 keeps exactly one 10-position vector inline
    assert(inline.count(_.dv.nonEmpty) == 1)
    assert(inline.filter(_.dv.nonEmpty).map(_.dv.size).sum == 10)
    assert(sidecar.size == 3, "overflow files must demote to the sidecar tier")
    assert(sidecar.forall(_.dv.isEmpty))
    assert(sidecar.forall(_.dvRef.get.count == 10))
    assert(sidecar.map(_.dvRef.get.path).distinct.size == 1,
      "one commit writes ONE shared sidecar for all demoted files")
    assert(t.toDF.count() == 60)
    assert(t.toDF.filter(col("id") % 10 < 4).count() == 0)
    assert(t.toDFAsOf(0).count() == 100)

    // a second sweep stacks: prior inline AND sidecar positions merge
    // (files reaching maxDeletedFraction legitimately rewrite instead)
    t.delete(col("id") % 10 === 4) // 10 more rows, buckets 0 and 2
    assert(t.toDF.count() == 50)
    assert(t.toDF.filter(col("id") % 10 === 4 || col("id") % 10 < 4).count() == 0)
    assert(t.toDFAsOf(1).count() == 60, "time travel must see the first sweep only")
  }

  test("sidecar vectors stack: a further delete supersedes with the union") {
    val dir = newDir("sidecar-stack")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = SidecarProps)
    t.delete(col("id") <= 20)
    val ref1 = t.snapshot.files.head.dvRef.get
    t.delete(col("id").between(21, 30)) // grown vector 30 — still sparse
    val f = t.snapshot.files.head
    assert(f.dvRef.nonEmpty && f.dvRef.get.count == 30)
    assert(f.dvRef.get.path != ref1.path,
      "a grown vector must land in a NEW sidecar (the old one stays for time travel)")
    assert(t.toDF.count() == 70)
    assert(t.toDF.filter(col("id") <= 30).count() == 0)
    // the superseded sidecar still serves the middle version
    assert(t.toDFAsOf(1).count() == 80)
    // re-deleting already-deleted rows adds nothing
    t.delete(col("id") <= 30)
    assert(t.snapshot.files.head.dvRef.get.count == 30)
  }

  test("inline vector grows past the cap into a sidecar") {
    val dir = newDir("sidecar-grow")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = SidecarProps)
    t.delete(col("id") <= 3) // inline: 3 <= cap
    assert(t.snapshot.files.head.dv.size == 3)
    assert(t.snapshot.files.head.dvRef.isEmpty)
    t.delete(col("id").between(4, 13)) // grown 13 > cap, sparse -> sidecar
    val f = t.snapshot.files.head
    assert(f.dv.isEmpty && f.dvRef.exists(_.count == 13),
      "the sidecar must absorb the prior inline positions")
    assert(t.toDF.count() == 87)
    assert(t.toDF.filter(col("id") <= 13).count() == 0)
  }

  test("compaction purges sidecar DVs; vacuum reclaims unreferenced sidecars") {
    val dir = newDir("sidecar-vacuum")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = SidecarProps)
    t.delete(col("id") <= 20) // v1: sidecar
    t.compact(1)              // v2: rewrite purges the vector
    assert(t.snapshot.files.forall(f => !f.hasDv))
    assert(t.toDF.count() == 80)
    // before vacuum, time travel still reads through the sidecar
    assert(t.toDFAsOf(1).count() == 80)
    val dvRoot = new java.io.File(dir, DeletionVectors.SidecarDirName)
    assert(dvRoot.isDirectory && dvRoot.listFiles().nonEmpty)
    spark.conf.set("spark.vintage.retentionDurationCheck.enabled", "false")
    try t.vacuum(0.0)
    finally spark.conf.unset("spark.vintage.retentionDurationCheck.enabled")
    // the now-unreferenced sidecar dir is gone, current reads unharmed
    assert(!dvRoot.isDirectory || dvRoot.listFiles().isEmpty)
    assert(t.toDF.count() == 80)
  }

  test("vacuum reclaims stale .tmp- staging litter but not fresh dirs") {
    val dir = newDir("tmp-litter")
    val t = VintageTable.create(spark, dir,
      (1L to 10L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1))
    // simulate crashed-write litter: an old staging dir and a fresh one
    val past = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    val old = new java.io.File(dir, ".tmp-delta")
    old.mkdirs()
    val f = new java.io.File(old, "stale.parquet")
    java.nio.file.Files.writeString(f.toPath, "x")
    f.setLastModified(past)
    old.setLastModified(past)
    val fresh = new java.io.File(dir, ".tmp-fresh")
    fresh.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(fresh, "inflight").toPath, "y")
    // the object-store trap: directory statuses reporting epoch/stale
    // mod times while the staged CONTENT is fresh — reclamation must
    // grade by the newest timestamp under the dir, not the dir's own
    val epochDir = new java.io.File(dir, ".tmp-epoch")
    epochDir.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(epochDir, "staged.parquet").toPath, "z")
    epochDir.setLastModified(0L)
    t.vacuum(168.0) // default retention: old litter dies, fresh survives
    assert(!old.exists(), "stale .tmp- staging dir must be reclaimed")
    assert(fresh.exists(), "a fresh (possibly in-flight) staging dir must survive")
    assert(epochDir.exists(),
      "an epoch-mod-time dir with fresh content must survive (S3A semantics)")
    assert(t.toDF.count() == 10)
  }

  test("vacuum keeps sidecars referenced by the live snapshot") {
    val dir = newDir("sidecar-live")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = SidecarProps)
    t.delete(col("id") <= 20)
    spark.conf.set("spark.vintage.retentionDurationCheck.enabled", "false")
    try t.vacuum(0.0)
    finally spark.conf.unset("spark.vintage.retentionDurationCheck.enabled")
    assert(t.toDF.count() == 80, "live sidecar must survive vacuum")
    assert(t.toDF.filter(col("id") <= 20).count() == 0)
  }

  test("restore flips sidecar DV state both ways") {
    val dir = newDir("sidecar-restore")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = SidecarProps)
    t.delete(col("id") <= 20) // v1
    t.restoreToVersion(0)     // v2: rows revive
    assert(t.toDF.count() == 100)
    assert(t.snapshot.files.forall(f => !f.hasDv))
    t.restoreToVersion(1)     // v3: sidecar applies again
    assert(t.toDF.count() == 80)
    assert(t.snapshot.files.head.dvRef.exists(_.count == 20))
  }

  test("sidecar DVs survive parquet checkpoint replay") {
    val dir = newDir("sidecar-checkpoint")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = SidecarProps)
    t.delete(col("id") <= 20)
    (1 to 10).foreach(i =>
      t.append(Seq((1000L + i, s"x$i")).toDF("id", "name").coalesce(1)))
    assert(t.version >= VintageLog.checkpointInterval)
    VintageLog.clearSnapshotCache()
    val snap = t.snapshot
    assert(snap.files.exists(_.dvRef.exists(_.count == 20)),
      "checkpoint replay must preserve the sidecar reference")
    assert(t.toDF.count() == 80 + 10)
  }

  /** Records read across all tasks while `body` runs — the observable
    * for file-level pruning through the V1 DV/row-level frames, whose
    * inner parquet scan is invisible to the OUTER executed plan.
    */
  private def recordsReadDuring(body: => Unit): Long = {
    val read = new java.util.concurrent.atomic.AtomicLong()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener events are async; give the bus a moment to drain
      val deadline = System.currentTimeMillis() + 10000
      var last = -1L
      while (System.currentTimeMillis() < deadline && read.get() != last) {
        last = read.get(); Thread.sleep(200)
      }
      read.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("predicate read of a DV table scans only stat-pruned candidate files") {
    val dir = newDir("prune-read")
    // three range-partitioned files with disjoint id stats
    val t = VintageTable.create(spark, dir,
      (1L to 300L).map(i => (i, s"n$i")).toDF("id", "name")
        .repartitionByRange(3, col("id")).sortWithinPartitions("id"),
      properties = DvProps)
    t.delete(col("id") === 5) // DV forces the V1 fallback read path
    assert(t.snapshot.files.exists(_.hasDv))
    val read = recordsReadDuring {
      assert(spark.read.format("vintage").load(dir)
        .filter(col("id") === 250).count() == 1)
    }
    // pruned: ~1 file of ~100 rows (+ tiny DV lookup); unpruned: 300
    assert(read < 200, s"DV fallback scan must stat-prune files, read $read rows")
  }

  test("row-level SQL UPDATE scans only stat-pruned candidate files") {
    val dir = Files.createTempDirectory("vintage-dv-prune-sql").toString
    spark.conf.set("spark.sql.catalog.dvpr",
      "graft.vintage.connector.VintageCatalog")
    spark.conf.set("spark.sql.catalog.dvpr.warehouse", dir)
    try {
      VintageTable.create(spark, s"$dir/t",
        (1L to 300L).map(i => (i, s"n$i")).toDF("id", "name")
          .repartitionByRange(3, col("id")).sortWithinPartitions("id"))
      val read = recordsReadDuring {
        // the modulo conjunct is untranslatable (forces the row-level
        // path); the range conjunct prunes files
        spark.sql("UPDATE dvpr.t SET name = 'x' WHERE id = 250 AND id % 2 = 0")
      }
      assert(spark.sql("SELECT count(*) FROM dvpr.t WHERE name = 'x'")
        .head().getLong(0) == 1)
      assert(read < 200,
        s"row-level scan must stat-prune files from pushed filters, read $read rows")
    } finally {
      spark.conf.unset("spark.sql.catalog.dvpr")
      spark.conf.unset("spark.sql.catalog.dvpr.warehouse")
    }
  }

  /** Test-only window into commitOp for the stale-race scenario. */
  private class VintageTable2(spark: org.apache.spark.sql.SparkSession,
      path: String) {
    def commitStaleDvDelete(stale: Snapshot): Unit = {
      val t = VintageTable.forPath(spark, path)
      val f = stale.files.head
      t.commitOp(stale, "DELETE", Map("predicate" -> "test-stale"),
        Seq(f.copy(dv = Seq(0L))),
        Seq(RemoveFile(f.path, System.currentTimeMillis(), dataChange = true)),
        None, PredicateRead(org.apache.spark.sql.graftshim.ColumnExpr.expr(lit(true))))
    }
  }
}
