package graft.vintage

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sdmx.Sdmx

/** The commit handoff: `VintageLog.commit` caches the version it
  * published, folded from the cached previous version plus its own
  * actions, so the reader that follows a commit replays nothing. Every
  * check reads the served snapshot with the log store counting what it
  * opens, then compares it with a cold replay of the same version under
  * a path spelling the cache has never seen (extra slashes normalise
  * away in Hadoop paths).
  */
class SnapshotHandoffSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.hand", "graft.vintage.connector.VintageCatalog")
    s.conf.set("spark.sql.catalog.hand.warehouse",
      Files.createTempDirectory("vintage-handoff-wh").toString)
    s
  }
  import spark.implicits._

  private def wh = spark.conf.get("spark.sql.catalog.hand.warehouse")

  /** Delegates to `inner` and records (operation, path) of every call. */
  private class CountingLogStore(inner: LogStore) extends LogStore {
    val calls = new ConcurrentLinkedQueue[(String, String)]()
    private def rec[A](op: String, p: Path)(a: => A): A = {
      calls.add(op -> p.toString); a
    }
    override def readLines(path: Path): Seq[String] = rec("readLines", path)(inner.readLines(path))
    override def writeExclusive(path: Path, lines: Seq[String]): Unit =
      rec("writeExclusive", path)(inner.writeExclusive(path, lines))
    override def writeReplace(path: Path, lines: Seq[String]): Unit =
      rec("writeReplace", path)(inner.writeReplace(path, lines))
    override def list(dir: Path): Seq[FileStatus] = rec("list", dir)(inner.list(dir))
    override def exists(path: Path): Boolean = rec("exists", path)(inner.exists(path))
    override def isDirectory(path: Path): Boolean = rec("isDirectory", path)(inner.isDirectory(path))
    override def mkdirs(dir: Path): Unit = rec("mkdirs", dir)(inner.mkdirs(dir))
    override def delete(path: Path): Unit = rec("delete", path)(inner.delete(path))
    // checkpoint parts are opened by parquet through this configuration
    override def hadoopConf: Configuration = rec("hadoopConf", new Path("/"))(inner.hadoopConf)
  }

  /** The log-store calls `body` makes on `tableDir`, other than listing
    * the log directory: what a read served from the cache must not do.
    */
  private def logFileOps[A](tableDir: String)(body: => A): (A, Seq[(String, String)]) = {
    val counting = new CountingLogStore(VintageLog.store)
    val prev = VintageLog.store
    VintageLog.store = counting
    val out = try body finally VintageLog.store = prev
    (out, counting.calls.asScala.toSeq.filter { case (op, p) =>
      op == "hadoopConf" ||
        (p.startsWith(tableDir) && op != "list" && op != "isDirectory")
    })
  }

  private var alias = 0

  /** The snapshot `replay` serves for `tableDir`'s latest version came
    * from the commit handoff (no log file opened) and equals a cold
    * replay of that version.
    */
  private def assertHandedOff(tableDir: String): Snapshot = {
    val (served, opened) = logFileOps(tableDir)(VintageLog.replay(tableDir))
    assert(opened.isEmpty, s"reading v${served.version} of $tableDir opened $opened")
    alias += 1
    val cold = VintageLog.replay(tableDir + "/" * alias, Some(served.version))
    assert(served == cold, s"v${served.version}: handed-off snapshot differs from a replay")
    served
  }

  test("every choreography commit hands off what a replay builds, across a checkpoint") {
    val dir = Files.createTempDirectory("vintage-handoff").toString + "/exr"
    val inDir = GoldenSubmissions.generated
    def sub(i: Int, evolved: Boolean = false) =
      Sdmx.readSubmission(spark, s"$inDir/data.$i.csv", evolved)
    def merge(t: VintageTable, i: Int, evolved: Boolean = false): Unit =
      t.as("master")
        .merge(sub(i, evolved).as("submission"), "master.KEY = submission.KEY")
        .whenMatched().updateAll()
        .whenNotMatched().insertAll()
        .execute()
    val t = VintageTable.create(spark, dir, sub(0))
    assertHandedOff(t.path)
    merge(t, 1); assertHandedOff(t.path)
    merge(t, 2); assertHandedOff(t.path)
    t.overwrite(sub(3)); assertHandedOff(t.path)
    merge(t, 4); assertHandedOff(t.path)
    merge(t, 5); assertHandedOff(t.path)
    t.delete("CURRENCY = 'RUB'"); assertHandedOff(t.path)
    t.update(col("CURRENCY") === "CHF", Map("DECIMALS" -> lit(5))); assertHandedOff(t.path)
    spark.conf.set("spark.vintage.schema.autoMerge.enabled", "true")
    try merge(t, 6, evolved = true)
    finally spark.conf.unset("spark.vintage.schema.autoMerge.enabled")
    assert(assertHandedOff(t.path).schema.fieldNames.contains("OBS_COM"))
    t.compact(2); assertHandedOff(t.path)
    t.restoreToVersion(0)
    assert(assertHandedOff(t.path).version == 10)
    assert(VintageLog.checkpointVersions(t.path) == Seq(10L))
    merge(t, 1)
    assert(assertHandedOff(t.path).version == 11)
    assert(t.toDF.count() == 508)
  }

  test("SQL MERGE, UPDATE, DELETE and INSERT OVERWRITE on a deletion-vector table") {
    spark.sql("CREATE TABLE hand.dv (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('vintage.deletionVectors.enabled'='true')")
    val p = s"$wh/dv"
    assertHandedOff(p)
    spark.sql("INSERT INTO hand.dv SELECT id, concat('v', id) FROM range(200)")
    assertHandedOff(p)
    Seq((5L, "five"), (500L, "new")).toDF("k", "v").createOrReplaceTempView("hand_src")
    spark.sql("""MERGE INTO hand.dv t USING hand_src s ON t.k = s.k
      |WHEN MATCHED THEN UPDATE SET v = s.v
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(assertHandedOff(p).files.exists(_.hasDv))
    spark.sql("UPDATE hand.dv SET v = 'upd' WHERE k = 7"); assertHandedOff(p)
    spark.sql("DELETE FROM hand.dv WHERE k IN (1, 2, 3)"); assertHandedOff(p)
    spark.sql("INSERT OVERWRITE hand.dv VALUES (1, 'one')"); assertHandedOff(p)
    assert(spark.sql("SELECT * FROM hand.dv").count() == 1)
  }

  test("identity, row tracking, txn, COPY INTO, properties and column mapping commits") {
    spark.sql("CREATE TABLE hand.ids (id BIGINT GENERATED BY DEFAULT AS IDENTITY, name STRING)")
    val ids = s"$wh/ids"
    spark.sql("INSERT INTO hand.ids VALUES (NULL, 'a'), (7, 'b')")
    assert(IdentityColumns.hwm(assertHandedOff(ids).properties, "id").isDefined)
    spark.sql("ALTER TABLE hand.ids SET TBLPROPERTIES ('team'='stats')")
    assert(assertHandedOff(ids).properties.get("team").contains("stats"))
    spark.sql("ALTER TABLE hand.ids SET TBLPROPERTIES ('vintage.columnMapping.mode'='name')")
    assertHandedOff(ids)
    spark.sql("ALTER TABLE hand.ids RENAME COLUMN name TO label")
    assert(assertHandedOff(ids).schema.fieldNames.toSeq == Seq("id", "label"))

    val base = Files.createTempDirectory("vintage-handoff").toString
    val rt = VintageTable.create(spark, s"$base/rt",
      (1L to 4L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1),
      Map(RowTracking.EnabledProp -> "true"))
    rt.append(Seq((5L, "v5")).toDF("k", "v").coalesce(1))
    assert(assertHandedOff(rt.path).rowIdHwm == 5L)
    rt.compact(1)
    assertHandedOff(rt.path)
    rt.as("t").merge(Seq((2L, "B"), (9L, "i")).toDF("k", "v").as("s"), "t.k = s.k")
      .withTxn("loader", 3L)
      .whenMatched().updateAll().whenNotMatched().insertAll()
      .execute()
    assert(assertHandedOff(rt.path).txns == Map("loader" -> 3L))

    Seq((20L, "t")).toDF("k", "v").coalesce(1).write.parquet(s"$base/landing")
    assert(rt.copyInto(s"$base/landing") == 1)
    assert(assertHandedOff(rt.path).ingested.size == 1)
  }

  test("a checkpoint past the spill threshold is read spilled, as a replay reads it") {
    val prev = VintageLog.spillThreshold
    VintageLog.spillThreshold = 8
    try {
      val t = VintageTable.create(spark,
        Files.createTempDirectory("vintage-handoff").toString + "/spill",
        Seq((0L, "a")).toDF("k", "v").coalesce(1))
      (1 to 9).foreach(i => t.append(Seq((i.toLong, "a")).toDF("k", "v").coalesce(1)))
      assert(assertHandedOff(t.path).spilled.isEmpty)
      t.append(Seq((10L, "a")).toDF("k", "v").coalesce(1))
      val served = VintageLog.replay(t.path)
      assert(served.version == 10 && served.spilled.isDefined)
      // a spilled base hands off nothing: the next version reads spilled too
      t.append(Seq((11L, "a")).toDF("k", "v").coalesce(1))
      assert(VintageLog.replay(t.path).spilled.isDefined)
      assert(t.toDF.count() == 12)
    } finally {
      VintageLog.spillThreshold = prev
      VintageLog.clearSnapshotCache()
    }
  }

  test("a commit that lost the version race hands off its retried version") {
    val t = VintageTable.create(spark,
      Files.createTempDirectory("vintage-handoff").toString + "/race",
      Seq((1L, "a")).toDF("k", "v"))
    val stale = t.snapshot
    t.append(Seq((2L, "b")).toDF("k", "v"))
    val (adds, bases) = VintageTable.writeFiles(spark, Seq((3L, "c")).toDF("k", "v"),
      t.path, dataChange = true, Nil, stale.properties, stale.schema)
    // the loser tries version 1, finds the winner's, and commits 2
    assert(t.commitOp(stale, "WRITE", Map("mode" -> "Append"), adds, Nil, None, NoRead,
      freshAdds = true, idBases = bases) == 2L)
    assert(assertHandedOff(t.path).files.size == 3)
    assert(t.toDF.count() == 3)
  }

  test("the read after a MERGE opens no commit JSON and no checkpoint part") {
    val t = VintageTable.create(spark,
      Files.createTempDirectory("vintage-handoff").toString + "/io",
      (1L to 50L).map(k => (k, s"v$k")).toDF("k", "v"))
    t.as("t").merge(Seq((3L, "c"), (99L, "n")).toDF("k", "v").as("s"), "t.k = s.k")
      .whenMatched().updateAll().whenNotMatched().insertAll()
      .execute()
    val (n, opened) = logFileOps(t.path)(t.toDF.filter(col("k") < 10L).count())
    assert(n == 9L)
    assert(opened.isEmpty, s"the fluent read after MERGE opened $opened")

    spark.sql("CREATE TABLE hand.io (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('vintage.deletionVectors.enabled'='true')")
    spark.sql("INSERT INTO hand.io SELECT id, concat('v', id) FROM range(50)")
    Seq((3L, "c"), (99L, "n")).toDF("k", "v").createOrReplaceTempView("hand_io_src")
    spark.sql("""MERGE INTO hand.io t USING hand_io_src s ON t.k = s.k
      |WHEN MATCHED THEN UPDATE SET v = s.v
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val (rows, sqlOpened) = logFileOps(s"$wh/io")(
      spark.sql("SELECT count(*) FROM hand.io WHERE k < 10").head().getLong(0))
    assert(rows == 10L)
    assert(sqlOpened.isEmpty, s"the SQL read after MERGE opened $sqlOpened")
  }
}
