package graft.vintage

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.vintage.connector.{VintageNativeScan, VintageRowLevel}

/** SQL reads of deletion-vector tables and of the row-id metadata
  * columns plan the native scan, which drops deleted positions per
  * file inside the task: the rows are the generator's rows minus the
  * deleted ones, and the row ids those of a driver-side oracle, for
  * inline, sidecar (run-length and single-position), partitioned,
  * column-mapped, spilled and split-file tables.
  */
class NativeDvScanSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val wh = Files.createTempDirectory("vintage-native-dv").toString
  private val DvProps = Map(DeletionVectors.EnabledProp -> "true")

  override def beforeAll(): Unit = {
    spark.conf.set("spark.sql.catalog.ndv", "graft.vintage.connector.VintageCatalog")
    spark.conf.set("spark.sql.catalog.ndv.warehouse", wh)
  }

  override def afterAll(): Unit = {
    spark.conf.unset("spark.sql.catalog.ndv")
    spark.conf.unset("spark.sql.catalog.ndv.warehouse")
  }

  private def rows(d: DataFrame): Seq[String] =
    d.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** The rows [[create]] writes, as [[rows]] formats them. */
  private val generated: Seq[(Long, String)] = (1L to 300L).map(i => (i, s"$i|n$i|${i % 4}"))

  /** The rows among `all` whose id `keep` accepts, as [[rows]] formats them. */
  private def expect(all: Seq[(Long, String)])(keep: Long => Boolean): Seq[String] =
    all.collect { case (i, r) if keep(i) => r }.sorted

  /** 300 rows over three files with disjoint id ranges. */
  private def create(name: String, props: Map[String, String] = DvProps,
      partitionBy: Seq[String] = Nil): VintageTable =
    VintageTable.create(spark, s"$wh/$name",
      (1L to 300L).map(i => (i, s"n$i", i % 4)).toDF("id", "name", "p")
        .repartitionByRange(3, col("id")).sortWithinPartitions("id"),
      properties = props, partitionBy = partitionBy)

  private def scanOf(d: DataFrame): BatchScanExec =
    collect(d.queryExecution.executedPlan) { case b: BatchScanExec => b }.head

  /** `SELECT *` returns `want` in the declared columns, and only the
    * native scan plans.
    */
  private def sameAsSnapshot(name: String, t: VintageTable, want: Seq[String]): Unit = {
    val q = spark.sql(s"SELECT * FROM ndv.$name")
    assert(q.columns.toSeq == t.snapshot.schema.fieldNames.toSeq)
    assert(rows(q) == want)
    val plan = spark.sql(s"EXPLAIN SELECT * FROM ndv.$name").head().getString(0)
    assert(plan.contains("VintageNativeScan"), plan)
    assert(!plan.contains("VintageDvScan") && !plan.contains("VintageRowIdScan"), plan)
  }

  /** Driver-side oracle of `_vintage_file, _vintage_pos, *` for a table
    * of [[create]]'s columns: each file read raw with parquet's row
    * index, minus the deleted positions collected from the log (inline)
    * and from the sidecars (run rows or single positions).
    */
  private def oldRowIdFrame(t: VintageTable): Seq[String] = {
    val s = t.snapshot
    s.files.flatMap { f =>
      val key = DeletionVectors.fileKey(f.absolutePath(t.path))
      val sidecar = f.dvRef.toSeq.flatMap { r =>
        val sc = spark.read.parquet(AddFile.resolve(t.path, r.path))
          .filter(col("file_key") === key)
        if (sc.columns.contains("pos_start"))
          sc.select("pos_start", "pos_end").as[(Long, Long)].collect().toSeq
            .flatMap { case (a, b) => a to b }
        else sc.select("pos").as[Long].collect().toSeq
      }
      val deleted = f.dv.toSet ++ sidecar
      spark.read.parquet(f.absolutePath(t.path))
        .select(col("_metadata.row_index"), col("id"), col("name"), col("p"))
        .as[(Long, Long, String, Long)].collect().toSeq
        .collect { case (pos, id, name, p) if !deleted(pos) => s"$key|$pos|$id|$name|$p" }
    }.sorted
  }

  test("inline DVs: same rows as the snapshot read, row ids as the old frame") {
    val t = create("inl")
    t.delete(col("id") % 7 === 0)
    assert(t.snapshot.files.forall(f => f.dv.nonEmpty && f.dvRef.isEmpty))
    sameAsSnapshot("inl", t, expect(generated)(_ % 7 != 0))
    assert(rows(spark.sql("SELECT _vintage_file, _vintage_pos, * FROM ndv.inl")) ==
      oldRowIdFrame(t))
    // row ids alone: the reader requests no data column at all
    assert(rows(spark.sql("SELECT _vintage_pos, _vintage_file FROM ndv.inl")) ==
      oldRowIdFrame(t).map { r =>
        val Array(file, pos) = r.split('|').take(2)
        s"$pos|$file"
      }.sorted)
  }

  test("sidecar DVs, run-length and single-position, read inside the task") {
    val t = create("sc", DvProps + (DeletionVectors.MaxInlineProp -> "5"))
    t.delete(col("id") <= 40 || col("id") % 9 === 0)
    val refs = t.snapshot.files.flatMap(_.dvRef)
    assert(refs.nonEmpty && t.snapshot.files.forall(_.dv.isEmpty))
    val live = expect(generated)(i => !(i <= 40 || i % 9 == 0))
    sameAsSnapshot("sc", t, live)
    assert(rows(spark.sql("SELECT _vintage_file, _vintage_pos, * FROM ndv.sc")) ==
      oldRowIdFrame(t))

    // rewrite each sidecar in the format before run-length encoding:
    // one (file_key, pos) row per deleted position
    val dirs = refs.map(r => AddFile.resolve(t.path, r.path)).distinct
    dirs.foreach { dir =>
      val single = spark.read.parquet(dir)
        .select(col("file_key"), explode(sequence(col("pos_start"), col("pos_end"))).as("pos"))
        .as[(String, Long)].collect().toSeq
      assert(single.nonEmpty)
      single.toDF("file_key", "pos").write.mode("overwrite").parquet(dir)
    }
    assert(!spark.read.parquet(dirs.head).columns.contains("pos_start"))
    sameAsSnapshot("sc", t, live)
    assert(rows(spark.sql("SELECT _vintage_file, _vintage_pos, * FROM ndv.sc")) ==
      oldRowIdFrame(t))
    assert(spark.sql("SELECT count(*) FROM ndv.sc WHERE id <= 40").head().getLong(0) == 0)
  }

  test("row-level SQL DELETE grows a sidecar vector, keeping its prior positions") {
    val t = create("scgrow", DvProps + (DeletionVectors.MaxInlineProp -> "5"))
    t.delete(col("id") <= 40) // a sidecar on the first file
    val first = t.snapshot.files.filter(_.dvRef.nonEmpty)
    assert(first.size == 1 && first.head.dvCount == 40)
    // the modulo is untranslatable: the row-level path commits
    spark.sql("DELETE FROM ndv.scgrow WHERE id % 7 = 0 AND id < 150")
    assert(t.history().head().getAs[Map[String, String]]("operationParameters")
      .get("planner").contains("row-level"))
    val grown = t.snapshot.files.filter(_.path == first.head.path)
    assert(grown.size == 1 && grown.head.dvRef.exists(_ != first.head.dvRef.get))
    val live = expect(generated)(i => i > 40 && !(i % 7 == 0 && i < 150))
    sameAsSnapshot("scgrow", t, live)
    assert(rows(spark.sql("SELECT _vintage_file, _vintage_pos, * FROM ndv.scgrow")) ==
      oldRowIdFrame(t))
    assert(t.snapshot.files.map(_.dvCount).sum == 300 - live.size)
  }

  test("partitioned and column-mapped DV tables") {
    val p = create("part", partitionBy = Seq("p"))
    p.delete(col("id") % 5 === 0)
    sameAsSnapshot("part", p, expect(generated)(_ % 5 != 0))
    assert(rows(spark.sql("SELECT id, p FROM ndv.part WHERE p = 2")) ==
      (1L to 300L).filter(i => i % 4 == 2 && i % 5 != 0).map(i => s"$i|2").sorted)

    val m = create("cm")
    m.enableColumnMapping()
    m.renameColumn("name", "label")
    m.delete(col("id") % 6 === 0)
    assert(ColumnMapping.mapped(m.snapshot.schema))
    sameAsSnapshot("cm", m, expect(generated)(_ % 6 != 0))
    assert(rows(spark.sql("SELECT label FROM ndv.cm WHERE id > 290")) ==
      (291L to 300L).filter(_ % 6 != 0).map(i => s"n$i").sorted)
  }

  test("spilled snapshot and a file split across partitions") {
    val prev = VintageLog.spillThreshold
    VintageLog.spillThreshold = 5
    try {
      val t = create("spill")
      (1 to 10).foreach(c => t.append(Seq((1000L + c, s"a$c", 0L)).toDF("id", "name", "p")))
      t.delete(col("id") % 3 === 0)
      VintageLog.clearSnapshotCache()
      assert(t.snapshot.spilled.isDefined)
      sameAsSnapshot("spill", t, expect(generated ++
        (1 to 10).map(c => (1000L + c, s"${1000 + c}|a$c|0")))(_ % 3 != 0))
    } finally {
      VintageLog.spillThreshold = prev
      VintageLog.clearSnapshotCache()
    }

    // small row groups, and splits small enough to cut every file
    spark.conf.set("parquet.block.size", "2048")
    val t = try VintageTable.create(spark, s"$wh/split",
        (1L to 20000L).map(i => (i, s"name-$i")).toDF("id", "name").coalesce(1),
        properties = DvProps)
      finally spark.conf.unset("parquet.block.size")
    t.delete(col("id") % 11 === 0)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try {
      val q = spark.sql("SELECT * FROM ndv.split")
      assert(rows(q) == (1L to 20000L).filter(_ % 11 != 0).map(i => s"$i|name-$i").sorted)
      assert(scanOf(q).inputPartitions.size > 1, "the file must be split")
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("scan metrics: files, candidates, DV files and rows dropped") {
    val t = create("met")
    t.delete(col("id") % 10 === 0) // 10 rows in each of the three files
    val all = spark.sql("SELECT * FROM ndv.met")
    assert(all.collect().length == 270)
    val s = scanOf(all)
    def m(n: String) = s.metrics(n).value
    assert(m(VintageNativeScan.FilesTotal) == 3)
    assert(m(VintageNativeScan.FilesCandidate) == 3)
    assert(m(VintageNativeScan.DvFiles) == 3)
    assert(m(VintageNativeScan.DvDroppedRows) == 30)
    assert(s.scan.description().contains("files=3/3 dvFiles=3"))

    val cands = t.candidateFiles(t.snapshot, col("id") > 250)
    val one = spark.sql("SELECT * FROM ndv.met WHERE id > 250")
    assert(one.collect().length == 45)
    val s1 = scanOf(one)
    assert(cands.size == 1 && s1.metrics(VintageNativeScan.FilesCandidate).value == 1)
    assert(s1.metrics(VintageNativeScan.DvDroppedRows).value == cands.head.dv.size)
    assert(s1.scan.description().contains("files=1/3 dvFiles=1"))

    // no DV and no row id: the columnar path, nothing dropped
    create("plain", Map.empty)
    val plain = spark.sql("SELECT * FROM ndv.plain")
    assert(plain.collect().length == 300)
    assert(scanOf(plain).supportsColumnar)
    assert(scanOf(plain).scan.description().contains("files=3/3 dvFiles=0"))
  }

  test("a scan of only _vintage_file over DV-free files stays columnar") {
    val plain = create("fkplain", Map.empty)
    val pcm = create("fkpcm", Map.empty, partitionBy = Seq("p"))
    pcm.enableColumnMapping()
    pcm.renameColumn("id", "ident")
    assert(ColumnMapping.mapped(pcm.snapshot.schema))
    Seq(plain -> "id", pcm -> "ident").foreach { case (t, id) =>
      val s = t.snapshot
      assert(s.files.size > 1 && !s.files.exists(_.hasDv))
      val idCol = ColumnMapping.physicalName(s.schema(id))
      // each file read on its own: (id, the log key of its file)
      val want = s.files.flatMap { f =>
        spark.read.parquet(f.absolutePath(t.path)).select(idCol).as[Long]
          .collect().map(i => s"$i|${t.keyOf(f)}")
      }.sorted
      val frame = t.nativeFrame(s, Seq(VintageRowLevel.FileCol))
      val only = frame.select(VintageRowLevel.FileCol)
      assert(scanOf(only).supportsColumnar, id)
      assert(rows(only) == want.map(_.split('|')(1)).sorted, id)
      val withId = frame.select(id, VintageRowLevel.FileCol)
      assert(scanOf(withId).supportsColumnar, id)
      assert(rows(withId) == want, id)
    }
  }

  test("row-tracked SQL UPDATE and MERGE keep _vintage_row_id") {
    // one file of six rows: ids come from its base range plus row index
    val t = VintageTable.create(spark, s"$wh/rt",
      (1L to 6L).map(k => (k, k * 10)).toDF("k", "v").coalesce(1),
      properties = DvProps + (RowTracking.EnabledProp -> "true"))
    assert(t.snapshot.files.size == 1)
    def ids(): Map[Long, Long] = spark.sql("SELECT k, _vintage_row_id FROM ndv.rt")
      .as[(Long, Long)].collect().toMap
    val before = ids()
    assert(before.size == 6 && before.values.toSet.size == 6)
    assert(before == t.toDFWithRowIds.select("k", RowTracking.RowIdCol)
      .as[(Long, Long)].collect().toMap)

    spark.sql("UPDATE ndv.rt SET v = v + 1 WHERE k <= 2")
    assert(ids() == before)
    spark.sql("""MERGE INTO ndv.rt t USING (
        SELECT * FROM VALUES (3L, 1000L), (99L, 990L) AS s(k, v)) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    val afterMerge = ids()
    assert(before.forall { case (k, id) => afterMerge(k) == id })
    assert(afterMerge.values.toSet.size == 7)
    // ids now materialized in rewritten files survive a second rewrite
    spark.sql("UPDATE ndv.rt SET v = v * 2 WHERE k IN (1, 3, 99)")
    assert(ids() == afterMerge)
    assert(spark.sql("SELECT sum(v) FROM ndv.rt").head().getLong(0) ==
      2 * 11 + 21 + 2 * 1000 + 40 + 50 + 60 + 2 * 990)
  }
}
