package graft.vintage

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Identity columns: SQL `GENERATED ALWAYS/BY DEFAULT AS IDENTITY`
  * DDL, write-time allocation, the transactional high-water mark, and
  * the explicit-insert rules on every write path.
  */
class IdentityColumnSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.idc", "graft.vintage.connector.VintageCatalog")
    s.conf.set("spark.sql.catalog.idc.warehouse",
      Files.createTempDirectory("vintage-idc-wh").toString)
    s
  }
  import spark.implicits._

  private def wh = spark.conf.get("spark.sql.catalog.idc.warehouse")

  /** Allocation invariants for `values` of a (start, step) identity
    * column: unique, on-grid, and on the correct side of start.
    */
  private def assertAllocated(values: Seq[Long], start: Long, step: Long): Unit = {
    assert(values.distinct.size == values.size, s"ids not unique: $values")
    values.foreach { v =>
      assert((v - start) % step == 0, s"id $v off the (start=$start, step=$step) grid")
      if (step > 0) assert(v >= start, s"id $v below start $start")
      else assert(v <= start, s"id $v above start $start")
    }
  }

  test("GENERATED ALWAYS: DDL lands in properties, appends allocate") {
    spark.sql("""CREATE TABLE idc.t (
      |  id BIGINT GENERATED ALWAYS AS IDENTITY,
      |  name STRING)""".stripMargin)
    val props = VintageLog.replay(s"$wh/t").properties
    assert(props.get("vintage.identity.id").contains("1,1,false"))
    val t = VintageTable.forPath(spark, s"$wh/t")
    t.append(Seq("a", "b", "c").toDF("name"))
    val ids1 = t.toDF.select("id").as[Long].collect().toSeq
    assertAllocated(ids1, start = 1, step = 1)
    assert(ids1.min == 1L, "first allocation starts at START WITH")
    // the mark rode the commit
    assert(IdentityColumns.hwm(t.snapshot.properties, "id").contains(ids1.max))
    // the next append continues strictly beyond the mark
    t.append(Seq("d", "e").toDF("name"))
    val ids2 = t.toDF.select("id").as[Long].collect().toSeq
    assertAllocated(ids2, start = 1, step = 1)
    assert(ids2.size == 5 && ids2.distinct.size == 5)
    assert((ids2.toSet -- ids1.toSet).forall(_ > ids1.max),
      "second append must allocate beyond the first append's mark")
  }

  test("START WITH / INCREMENT BY and negative steps") {
    spark.sql("""CREATE TABLE idc.s (
      |  id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100 INCREMENT BY 10),
      |  v INT)""".stripMargin)
    val t = VintageTable.forPath(spark, s"$wh/s")
    t.append(Seq(1, 2, 3).toDF("v"))
    assertAllocated(t.toDF.select("id").as[Long].collect().toSeq, 100, 10)

    spark.sql("""CREATE TABLE idc.n (
      |  id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 0 INCREMENT BY -5),
      |  v INT)""".stripMargin)
    val n = VintageTable.forPath(spark, s"$wh/n")
    n.append(Seq(1, 2).toDF("v"))
    val first = n.toDF.select("id").as[Long].collect().toSeq
    assertAllocated(first, 0, -5)
    n.append(Seq(3).toDF("v"))
    val second = n.toDF.select("id").as[Long].collect().toSeq
    assert(second.distinct.size == 3)
    assert(second.min < first.min, "negative step allocates downward past the mark")
  }

  test("GENERATED ALWAYS rejects explicit values on every path") {
    spark.sql("""CREATE TABLE idc.strict (
      |  id BIGINT GENERATED ALWAYS AS IDENTITY,
      |  name STRING)""".stripMargin)
    val t = VintageTable.forPath(spark, s"$wh/strict")
    // fluent append with the column present
    val e1 = intercept[IllegalArgumentException] {
      t.append(Seq((7L, "x")).toDF("id", "name"))
    }
    assert(e1.getMessage.contains("GENERATED ALWAYS"))
    // SQL INSERT (the native write always carries the full schema)
    val e2 = intercept[Exception] {
      spark.sql("INSERT INTO idc.strict VALUES (8, 'y')")
    }
    assert(e2.getMessage.contains("GENERATED ALWAYS") ||
      Option(e2.getCause).exists(_.getMessage.contains("GENERATED ALWAYS")))
    // UPDATE SET id
    t.append(Seq("a").toDF("name"))
    val e3 = intercept[IllegalArgumentException] {
      t.update(lit(true), Map("id" -> lit(99L)))
    }
    assert(e3.getMessage.contains("GENERATED ALWAYS"))
    // native SQL UPDATE rides WriteDelta, not the fluent validation —
    // the injected analyzer check must catch it
    val e4 = intercept[Exception] {
      spark.sql("UPDATE idc.strict SET id = 42 WHERE name = 'a'")
    }
    assert(e4.getMessage.contains("GENERATED ALWAYS") ||
      Option(e4.getCause).exists(_.getMessage.contains("GENERATED ALWAYS")),
      e4.getMessage)
    // ...while updating OTHER columns through SQL stays legal (aligned
    // self-assignments of the identity column must pass the check)
    spark.sql("UPDATE idc.strict SET name = 'a2' WHERE name = 'a'")
    assert(spark.sql("SELECT name FROM idc.strict").head().getString(0) == "a2")
    // SQL MERGE supplying the id in an INSERT is rejected too
    Seq((123L, "m")).toDF("id", "name").createOrReplaceTempView("idc_strict_src")
    val e5 = intercept[Exception] {
      spark.sql(
        """MERGE INTO idc.strict t USING idc_strict_src s ON t.name = s.name
          |WHEN NOT MATCHED THEN INSERT (id, name) VALUES (s.id, s.name)"""
          .stripMargin)
    }
    assert(e5.getMessage.contains("GENERATED ALWAYS") ||
      Option(e5.getCause).exists(_.getMessage.contains("GENERATED ALWAYS")),
      e5.getMessage)
  }

  test("RENAME/DROP COLUMN carries or removes the identity contract") {
    spark.sql("""CREATE TABLE idc.ren (
      |  id BIGINT GENERATED ALWAYS AS IDENTITY,
      |  name STRING)""".stripMargin)
    val t = VintageTable.forPath(spark, s"$wh/ren")
    t.append(Seq("a", "b").toDF("name"))
    t.enableColumnMapping()
    spark.sql("ALTER TABLE idc.ren RENAME COLUMN id TO uid")
    VintageLog.clearSnapshotCache()
    val props = t.snapshot.properties
    assert(IdentityColumns.specs(props).keySet == Set("uid"),
      s"identity contract must follow the rename: ${props.filter(_._1.startsWith("vintage.identity"))}")
    assert(IdentityColumns.hwm(props, "uid").nonEmpty,
      "the mark follows the rename too")
    // appends keep allocating under the new name (no phantom 'id')
    t.append(Seq("c").toDF("name"))
    val ids = t.toDF.select("uid").as[Long].collect().toSeq
    assert(ids.distinct.size == 3)
    // dropping the column removes the contract
    spark.sql("ALTER TABLE idc.ren DROP COLUMN uid")
    VintageLog.clearSnapshotCache()
    assert(IdentityColumns.specs(t.snapshot.properties).isEmpty)
    t.append(Seq("d").toDF("name")) // appends still work, no phantom col
    assert(t.toDF.count() == 4)
  }

  test("BY DEFAULT accepts explicit ids and allocates past them") {
    spark.sql("""CREATE TABLE idc.dflt (
      |  id BIGINT GENERATED BY DEFAULT AS IDENTITY,
      |  name STRING)""".stripMargin)
    val t = VintageTable.forPath(spark, s"$wh/dflt")
    // SQL INSERT with explicit ids advances the mark
    spark.sql("INSERT INTO idc.dflt VALUES (500, 'explicit')")
    assert(IdentityColumns.hwm(
      VintageTable.forPath(spark, s"$wh/dflt").snapshot.properties, "id")
      .contains(500L))
    // fluent generation continues beyond the explicit value
    t.append(Seq("gen1", "gen2").toDF("name"))
    val ids = t.toDF.select("id").as[Long].collect().toSeq
    assert(ids.distinct.size == 3)
    assert(ids.filter(_ != 500L).forall(_ > 500L),
      s"generated ids must clear the explicit mark: $ids")
    // explicit fluent append is also legal under BY DEFAULT
    t.append(Seq((10000L, "explicit2")).toDF("id", "name"))
    assert(t.toDF.count() == 4)
    assert(IdentityColumns.hwm(t.snapshot.properties, "id").contains(10000L))
  }

  test("BY DEFAULT: native SQL NULLs are allocated, not rejected") {
    spark.sql("""CREATE TABLE idc.nulls (
      |  id BIGINT GENERATED BY DEFAULT AS IDENTITY,
      |  name STRING)""".stripMargin)
    // an INSERT that leaves the identity column NULL is the
    // documented-legal omission — values must be allocated (the
    // reference's semantics), never written as NULL or failed late
    spark.sql("INSERT INTO idc.nulls VALUES (NULL, 'a'), (NULL, 'b')")
    val t = VintageTable.forPath(spark, s"$wh/nulls")
    val ids = t.toDF.select("id").as[Long].collect().toSeq
    assert(ids.size == 2 && ids.distinct.size == 2,
      s"NULL identity slots must be filled with unique values: $ids")
    assert(ids.forall(_ >= 1L))
    val mark = IdentityColumns.hwm(t.snapshot.properties, "id")
    assert(mark.contains(ids.max), s"mark must advance past fills: $mark")
    // mixed explicit + NULL in one statement: explicit kept, NULL filled
    spark.sql("INSERT INTO idc.nulls VALUES (777777, 'c'), (NULL, 'd')")
    val ids2 = t.toDF.select("id").as[Long].collect().toSeq
    assert(ids2.size == 4 && ids2.distinct.size == 4)
    assert(ids2.contains(777777L))
    // SQL MERGE whose insert clause omits the identity column
    Seq(("e", 5)).toDF("name", "x").createOrReplaceTempView("idc_nulls_src")
    spark.sql(
      """MERGE INTO idc.nulls t USING idc_nulls_src s ON t.name = s.name
        |WHEN NOT MATCHED THEN INSERT (name) VALUES (s.name)""".stripMargin)
    val ids3 = t.toDF.select("id").as[Long].collect().toSeq
    assert(ids3.size == 5 && ids3.distinct.size == 5,
      s"MERGE-inserted row must get an allocated id: $ids3")
    // a fluent append's explicit NULLs are allocated the same way
    t.append(Seq((None: Option[Long], "f"), (Some(888888L), "g")).toDF("id", "name"))
    val ids4 = t.toDF.select("id").as[Long].collect().toSeq
    assert(ids4.size == 7 && ids4.distinct.size == 7 && ids4.contains(888888L),
      s"a fluent NULL identity slot must be filled: $ids4")
  }

  test("MERGE allocates for inserted rows, keeps matched ids") {
    spark.sql("""CREATE TABLE idc.m (
      |  id BIGINT GENERATED ALWAYS AS IDENTITY,
      |  k STRING, v INT)""".stripMargin)
    val t = VintageTable.forPath(spark, s"$wh/m")
    t.append(Seq(("a", 1), ("b", 2)).toDF("k", "v"))
    val before = t.toDF.select("k", "id").as[(String, Long)].collect().toMap
    t.as("t").merge(
        Seq(("b", 20), ("c", 30)).toDF("k", "v").as("s"), "t.k = s.k")
      .whenMatched().update(Map("v" -> col("s.v")))
      .whenNotMatched().insert(Map("k" -> col("s.k"), "v" -> col("s.v")))
      .execute()
    val after = t.toDF.select("k", "id", "v").as[(String, Long, Int)].collect()
    assert(after.length == 3)
    val byK = after.map(r => r._1 -> r).toMap
    assert(byK("b")._2 == before("b"), "matched row keeps its identity value")
    assert(byK("b")._3 == 20)
    assert(byK("c")._2 > math.max(before("a"), before("b")),
      "inserted row gets a fresh id beyond the mark")
    assert(after.map(_._2).distinct.length == 3)
    // a SET on the identity column is rejected
    val e = intercept[IllegalArgumentException] {
      t.as("t").merge(Seq(("a", 0)).toDF("k", "v").as("s"), "t.k = s.k")
        .whenMatched().update(Map("id" -> lit(1L))).execute()
    }
    assert(e.getMessage.contains("GENERATED ALWAYS"))
  }

  test("racing appends re-allocate and never collide") {
    spark.sql("""CREATE TABLE idc.race (
      |  id BIGINT GENERATED ALWAYS AS IDENTITY,
      |  who STRING)""".stripMargin)
    val path = s"$wh/race"
    val threads = (1 to 3).map { i =>
      new Thread(() => {
        val t = VintageTable.forPath(spark, path)
        t.append(Seq(s"w$i-1", s"w$i-2").toDF("who"))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val ids = VintageTable.forPath(spark, path)
      .toDF.select("id").as[Long].collect().toSeq
    assert(ids.size == 6, s"all three appends must land: $ids")
    assert(ids.distinct.size == 6, s"racing allocation produced collisions: $ids")
    assertAllocated(ids, 1, 1)
  }

  test("overwrite keeps the mark monotonic; history keeps old ids") {
    spark.sql("""CREATE TABLE idc.ow (
      |  id BIGINT GENERATED ALWAYS AS IDENTITY,
      |  name STRING)""".stripMargin)
    val t = VintageTable.forPath(spark, s"$wh/ow")
    t.append(Seq("a", "b").toDF("name"))
    val oldMax = t.toDF.select(max("id")).as[Long].head()
    t.overwrite(Seq("c").toDF("name"))
    val newIds = t.toDF.select("id").as[Long].collect().toSeq
    assert(newIds.size == 1 && newIds.head > oldMax,
      "replaced rows never free their ids (time travel still shows them)")
    // identity contract survives in properties across the overwrite
    assert(IdentityColumns.specs(t.snapshot.properties).contains("id"))
  }

  test("SYNC IDENTITY advances a stale-low mark, never lowers it") {
    spark.sql("""CREATE TABLE idc.sync (
      |  id BIGINT GENERATED BY DEFAULT AS IDENTITY,
      |  name STRING)""".stripMargin)
    val t = VintageTable.forPath(spark, s"$wh/sync")
    t.append(Seq("a", "b", "c").toDF("name"))
    val mark0 = IdentityColumns.hwm(t.snapshot.properties, "id").get
    // simulate out-of-band surgery leaving the mark BEHIND the data
    t.setProperties(Map(IdentityColumns.hwmKey("id") -> "1"))
    val out = spark.sql("ALTER TABLE idc.sync ALTER COLUMN id SYNC IDENTITY")
      .collect()
    assert(out.length == 1 && out.head.getString(0) == "id")
    assert(out.head.getLong(1) == mark0,
      "sync must raise the mark back to the observed max")
    assert(IdentityColumns.hwm(t.snapshot.properties, "id").contains(mark0))
    // a mark AHEAD of the data (rows deleted) never lowers — deleted
    // ids live on in time travel and the change feed
    t.delete(col("id") > t.toDF.select(min("id")).as[Long].head())
    spark.sql("ALTER TABLE idc.sync ALTER COLUMN id SYNC IDENTITY").collect()
    assert(IdentityColumns.hwm(t.snapshot.properties, "id").contains(mark0),
      "sync is one-directional: ids are never recycled")
    // generation continues uniquely past the mark
    t.append(Seq("d").toDF("name"))
    val ids = t.toDF.select("id").as[Long].collect().toSeq
    assert(ids.distinct.size == ids.size && ids.max > mark0)
    // non-identity column errors
    val e = intercept[IllegalArgumentException] {
      spark.sql("ALTER TABLE idc.sync ALTER COLUMN name SYNC IDENTITY").collect()
    }
    assert(e.getMessage.contains("not an identity column"))
  }

  /** Every message in `e`'s cause chain. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString(" | ")

  test("allocation past BIGINT fails the write and commits nothing") {
    spark.sql("""CREATE TABLE idc.top (
      |  id BIGINT GENERATED BY DEFAULT AS IDENTITY (START WITH 9223372036854775806),
      |  name STRING)""".stripMargin)
    val t = VintageTable.forPath(spark, s"$wh/top")
    val v0 = t.version
    def mark = IdentityColumns.hwm(t.snapshot.properties, "id")
    val mark0 = mark
    val e1 = intercept[Exception] {
      spark.sql("INSERT INTO idc.top VALUES (NULL, 'a'), (NULL, 'b'), (NULL, 'c')")
    }
    assert(messages(e1).contains("overflowed BIGINT"), messages(e1))
    assert(t.version == v0 && mark == mark0)
    val e2 = intercept[Exception](t.append(Seq("a", "b", "c").toDF("name")))
    assert(messages(e2).contains("overflowed BIGINT"), messages(e2))
    assert(t.version == v0 && mark == mark0)
  }

  test("an explicit last BIGINT id exhausts the column: fills fail once, nothing commits") {
    spark.sql("""CREATE TABLE idc.last (
      |  id BIGINT GENERATED BY DEFAULT AS IDENTITY,
      |  name STRING)""".stripMargin)
    val t = VintageTable.forPath(spark, s"$wh/last")
    spark.sql("INSERT INTO idc.last VALUES (9223372036854775807, 'a')")
    assert(IdentityColumns.hwm(t.snapshot.properties, "id").contains(Long.MaxValue))
    val v = t.version
    val exhausted = "identity column id exhausted its BIGINT range"
    val e1 = intercept[Exception](spark.sql("INSERT INTO idc.last VALUES (NULL, 'b')"))
    assert(messages(e1).contains(exhausted), messages(e1))
    assert(!e1.isInstanceOf[VintageTable.IdentityConflictException])
    assert(t.version == v)
    // the fluent append fails on its first run: no re-run on a conflict
    val e2 = intercept[Exception](
      t.append(Seq((None: Option[Long], "c")).toDF("id", "name")))
    assert(messages(e2).contains(exhausted), messages(e2))
    assert(!e2.isInstanceOf[VintageTable.IdentityConflictException])
    assert(t.version == v)
    // writes that fill no id still pass
    spark.sql("INSERT INTO idc.last VALUES (-5, 'd')")
    assert(t.version == v + 1 && t.toDF.count() == 2)
  }

  test("the commit records the mark: races on a stale snapshot") {
    spark.sql("""CREATE TABLE idc.marks (
      |  id BIGINT GENERATED BY DEFAULT AS IDENTITY,
      |  name STRING)""".stripMargin)
    val t = VintageTable.forPath(spark, s"$wh/marks")
    def mark = IdentityColumns.hwm(t.snapshot.properties, "id")
    t.append(Seq("a").toDF("name"))
    def written(stale: Snapshot, df: org.apache.spark.sql.DataFrame) =
      VintageTable.writeFiles(spark, df, t.path, dataChange = true, Nil,
        stale.properties, stale.schema)
    def commit(stale: Snapshot, w: (Seq[AddFile], Map[String, Long])): Long =
      t.commitOp(stale, "WRITE", Map("mode" -> "Append"), w._1, Nil, None, NoRead,
        freshAdds = true, idBases = w._2)

    // explicit ids committed after another append moved the mark: the
    // commit retries over the winner's mark and records the max
    val stale1 = t.snapshot
    t.append(Seq("b", "c").toDF("name"))
    val winner = mark.get
    val explicit = written(stale1, Seq((5L << 40, "x")).toDF("id", "name"))
    assert(explicit._2.isEmpty, "explicit ids allocate nothing")
    commit(stale1, explicit)
    assert(mark.contains(math.max(winner, 5L << 40)))
    assert(t.toDF.count() == 4)

    // filled ids whose base the winner's mark reached: the typed
    // conflict, and nothing committed
    val stale2 = t.snapshot
    val filled = written(stale2,
      Seq("y").toDF("name").withColumn("id", lit(null).cast("bigint")))
    assert(filled._2 == Map("id" -> (IdentityColumns.hwm(stale2.properties, "id").get + 1L)))
    t.append(Seq("d").toDF("name"))
    val v = t.version
    intercept[VintageTable.IdentityConflictException](commit(stale2, filled))
    assert(t.version == v && t.toDF.count() == 5)

    // a SET TBLPROPERTIES built on a snapshot older than an identity
    // append keeps the winner's mark
    val stale3 = t.snapshot
    t.append(Seq("e").toDF("name"))
    val winner3 = mark.get
    t.commitOp(stale3, "SET TBLPROPERTIES", Map("properties" -> "k"), Nil, Nil,
      Some(Metadata(stale3.schema.json, stale3.properties + ("k" -> "v"),
        stale3.partitionColumns)), NoRead)
    assert(mark.contains(winner3) && t.snapshot.properties.get("k").contains("v"))
    // ...and one that sets a lower mark on the fresh snapshot cannot
    // lower it either; only out-of-band log edits can, which SYNC
    // IDENTITY repairs
    t.setProperties(Map(IdentityColumns.hwmKey("id") -> "1"))
    assert(mark.contains(winner3))
    val s = t.snapshot
    VintageLog.commit(t.path, s.version + 1, Seq(
      CommitInfo(s.version + 1, System.currentTimeMillis(), "SURGERY", Map.empty),
      Metadata(s.schema.json, s.properties + (IdentityColumns.hwmKey("id") -> "1"),
        s.partitionColumns)))
    assert(mark.contains(1L))
    assert(t.syncIdentity("id").contains(winner3))
  }

  test("writeStream.toTable epochs allocate past the previous epoch") {
    // the streaming write is planned once per query; each epoch's fills
    // must still start past the mark the last epoch committed
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql("""CREATE TABLE idc.stream (
      |  id BIGINT GENERATED BY DEFAULT AS IDENTITY,
      |  name STRING)""".stripMargin)
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val q = src.toDF().selectExpr("CAST(NULL AS BIGINT) AS id", "value AS name")
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("idc-stream-cp").toString)
      .toTable("idc.stream")
    try {
      src.addData("a", "b"); q.processAllAvailable()
      src.addData("c"); q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("idc.stream").select("id").as[Long].collect().toSeq
    assert(ids.size == 3 && ids.distinct.size == 3, s"epochs reused ids: $ids")
  }

  test("identity columns must be BIGINT") {
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE idc.bad (id INT GENERATED ALWAYS AS IDENTITY, v INT)")
    }
    assert(e.getMessage.contains("BIGINT") ||
      Option(e.getCause).exists(_.getMessage.contains("BIGINT")))
  }
}
