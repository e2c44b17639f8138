package graft.vintage

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Column mapping ("name" mode): RENAME/DROP COLUMN as metadata-only
  * commits — physical file columns stay untouched, logical names move
  * in the schema only. Covers read-back across renames, no-resurrection
  * on drop+re-add, row-level ops and skipping on renamed columns,
  * partition-column renames, and the DDL guard rails.
  */
class ColumnMappingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def dir(prefix: String): String =
    Files.createTempDirectory("vintage-colmap").toString + s"/$prefix"

  test("enable + rename: data and new writes keep working; time travel keeps the old name") {
    val t = VintageTable.create(spark, dir("ren"),
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "amount"))
    t.enableColumnMapping()
    val preRename = t.version
    t.renameColumn("amount", "price")

    assert(t.snapshot.schema.fieldNames.toSeq == Seq("id", "name", "price"))
    val rows = t.toDF.orderBy("id").collect()
    assert(rows.map(_.getDouble(2)).toSeq == Seq(10.0, 20.0),
      "renamed column must still read the old files' values")

    // appends AFTER the rename speak the new logical name; both file
    // generations (old physical name inside) read back as one column
    t.append(Seq((3L, "c", 30.0)).toDF("id", "name", "price"))
    assert(t.toDF.orderBy("id").collect().map(_.getDouble(2)).toSeq ==
      Seq(10.0, 20.0, 30.0))

    // filters on the renamed column prune via the remapped stats
    assert(t.toDF.filter(col("price") > 25.0).count() == 1)

    // time travel to before the rename shows the ORIGINAL schema
    assert(t.toDFAsOf(preRename).schema.fieldNames.toSeq ==
      Seq("id", "name", "amount"))
    assert(t.toDFAsOf(preRename).orderBy("id").collect()
      .map(_.getDouble(2)).toSeq == Seq(10.0, 20.0))
  }

  test("drop + re-add same name never resurrects old values") {
    val t = VintageTable.create(spark, dir("drop"),
      Seq((1L, "secret1"), (2L, "secret2")).toDF("id", "payload"))
    t.enableColumnMapping()
    t.dropColumn("payload")
    assert(t.snapshot.schema.fieldNames.toSeq == Seq("id"))
    assert(t.toDF.columns.toSeq == Seq("id"))

    // re-add the SAME logical name via mergeSchema append: the new
    // field gets a fresh physical name, so rows from the old files MUST
    // read null — not the dropped values
    t.append(Seq((3L, "fresh")).toDF("id", "payload"), None, mergeSchema = true)
    val back = t.toDF.orderBy("id").collect()
    assert(back(0).isNullAt(1) && back(1).isNullAt(1),
      "dropped data must not resurrect under the re-added name")
    assert(back(2).getString(1) == "fresh")
  }

  test("row-level ops and compaction on a renamed column") {
    val t = VintageTable.create(spark, dir("ops"),
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "amount"))
    t.enableColumnMapping()
    t.renameColumn("amount", "price")

    t.update(col("price") > 25.0, Map("price" -> (col("price") + 1.0)))
    t.delete("price = 10.0")
    assert(t.toDF.orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq == Seq((2L, 20.0), (3L, 31.0)))

    t.compact(1)
    assert(t.toDF.orderBy("id").collect().map(_.getDouble(1)).toSeq ==
      Seq(20.0, 31.0))
    assert(t.snapshot.files.size == 1)
    // the rewritten file stores the physical name, not the logical one
    val stored = spark.read.parquet(t.snapshot.files.head.absolutePath(t.path))
      .schema.fieldNames.toSeq
    assert(stored.contains(ColumnMapping.toPhysical(t.snapshot.schema, "price")) &&
      !stored.contains("price"), s"file columns: $stored")
  }

  test("merge on a renamed key column") {
    val t = VintageTable.create(spark, dir("merge"),
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
    t.enableColumnMapping()
    t.renameColumn("k", "key")
    t.as("t").merge(
        Seq((2L, 99.0), (4L, 40.0)).toDF("key", "v").as("s"),
        "t.key = s.key")
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
    assert(t.toDF.orderBy("key").collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq == Seq((1L, 10.0), (2L, 99.0), (4L, 40.0)))
  }

  test("partition column rename keeps pruning and layout") {
    val t = VintageTable.create(spark, dir("part"),
      Seq((1L, "eu", 1.0), (2L, "us", 2.0), (3L, "eu", 3.0)).toDF("id", "ctry", "v"),
      partitionBy = Seq("ctry"))
    t.enableColumnMapping()
    t.renameColumn("ctry", "region")
    assert(t.snapshot.partitionColumns == Seq("region"))

    val eu = t.toDF.filter(col("region") === "eu")
    assert(eu.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // stats-level partition pruning still narrows the candidate set
    assert(t.candidateFiles(t.snapshot, col("region") === "eu")
      .forall(_.partitionValues.values.toSeq == Seq("eu")))

    // writes after the rename land in the ORIGINAL physical directory
    // scheme and read back merged
    t.append(Seq((4L, "eu", 4.0)).toDF("id", "region", "v"))
    assert(t.toDF.filter(col("region") === "eu").count() == 3)
  }

  test("format(\"vintage\") read path translates physical names (filter + pruned projection)") {
    val d = dir("conn")
    val t = VintageTable.create(spark, d,
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "name", "amount"))
    t.enableColumnMapping()
    t.renameColumn("amount", "price")
    t.append(Seq((4L, "d", 40.0)).toDF("id", "name", "price"))

    val df = spark.read.format("vintage").load(d)
    assert(df.schema.fieldNames.toSeq == Seq("id", "name", "price"))
    assert(df.filter(col("price") > 15.0).count() == 3)
    assert(df.select("price").orderBy("price").collect().map(_.getDouble(0)).toSeq ==
      Seq(10.0, 20.0, 30.0, 40.0))
    // time travel through the connector keeps the pre-rename schema
    assert(spark.read.format("vintage").option("versionAsOf", 0).load(d)
      .schema.fieldNames.toSeq == Seq("id", "name", "amount"))
  }

  test("SQL catalog: ALTER TABLE RENAME/DROP COLUMN, reads and INSERT after rename") {
    val s = spark
    s.conf.set("spark.sql.catalog.vmap", "graft.vintage.connector.VintageCatalog")
    s.conf.set("spark.sql.catalog.vmap.warehouse",
      Files.createTempDirectory("vintage-colmap-wh").toString)

    s.sql("CREATE TABLE vmap.t (id BIGINT, name STRING, amount DOUBLE)")
    s.sql("INSERT INTO vmap.t VALUES (1, 'a', 10.0), (2, 'b', 20.0)")

    val e = intercept[Exception] {
      s.sql("ALTER TABLE vmap.t RENAME COLUMN amount TO price") }
    assert(e.getMessage.contains("columnMapping"))

    s.sql("ALTER TABLE vmap.t SET TBLPROPERTIES" +
      "('vintage.columnMapping.mode'='name')")
    s.sql("ALTER TABLE vmap.t RENAME COLUMN amount TO price")

    assert(s.sql("SELECT * FROM vmap.t").schema.fieldNames.toSeq ==
      Seq("id", "name", "price"))
    // native columnar scan reads the physical column under the new name
    assert(s.sql("SELECT price FROM vmap.t WHERE price > 15.0").collect()
      .map(_.getDouble(0)).toSeq == Seq(20.0))
    // native DSv2 write speaks logical names, stores physical
    s.sql("INSERT INTO vmap.t VALUES (3, 'c', 30.0)")
    assert(s.sql("SELECT sum(price) FROM vmap.t").head().getDouble(0) == 60.0)

    // metadata-only aggregate over the remapped stats
    assert(s.sql("SELECT count(*), min(price), max(price) FROM vmap.t").head()
      .toSeq == Seq(3L, 10.0, 30.0))

    s.sql("ALTER TABLE vmap.t DROP COLUMN name")
    assert(s.sql("SELECT * FROM vmap.t").schema.fieldNames.toSeq ==
      Seq("id", "price"))
    // re-added name starts from null, not the dropped values
    s.sql("ALTER TABLE vmap.t ADD COLUMN name STRING")
    assert(s.sql("SELECT name FROM vmap.t WHERE name IS NOT NULL").count() == 0)

    // mapping cannot be disabled once on
    assert(intercept[Exception] {
      s.sql("ALTER TABLE vmap.t UNSET TBLPROPERTIES" +
        "('vintage.columnMapping.mode')") }
      .getMessage.contains("disable"))
  }

  test("native row-level UPDATE and MERGE work on a column-mapped table") {
    val s = spark
    s.conf.set("spark.sql.catalog.vmap2", "graft.vintage.connector.VintageCatalog")
    s.conf.set("spark.sql.catalog.vmap2.warehouse",
      Files.createTempDirectory("vintage-colmap-rl").toString)
    s.sql("CREATE TABLE vmap2.t (id BIGINT, name STRING, amount DOUBLE) " +
      "TBLPROPERTIES ('vintage.columnMapping.mode'='name')")
    s.sql("INSERT INTO vmap2.t VALUES (1, 'a', 10.0), (2, 'b', 20.0)")
    s.sql("ALTER TABLE vmap2.t RENAME COLUMN amount TO price")
    // row-level UPDATE under the RENAMED logical name: the delta
    // writer's insert side must store the physical column
    s.sql("UPDATE vmap2.t SET price = price + 1.0 WHERE id = 1")
    assert(s.sql("SELECT price FROM vmap2.t ORDER BY id").collect()
      .map(_.getDouble(0)).toSeq == Seq(11.0, 20.0))
    s.sql(
      """MERGE INTO vmap2.t t
        |USING (SELECT 2L AS id, 'bb' AS name, 200.0 AS price) s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(s.sql("SELECT name, price FROM vmap2.t WHERE id = 2").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq == Seq(("bb", 200.0)))
    // the DV-carrying mapped table still reads whole
    assert(s.sql("SELECT count(*) FROM vmap2.t").head().getLong(0) == 2)
  }

  test("guard rails: mapping required, duplicate names, partition drop, constraint refs") {
    val t = VintageTable.create(spark, dir("guard"),
      Seq((1L, "x", 5.0)).toDF("id", "name", "amount"))

    val e1 = intercept[IllegalArgumentException] { t.renameColumn("name", "n2") }
    assert(e1.getMessage.contains("columnMapping"))

    t.enableColumnMapping()
    t.enableColumnMapping() // idempotent
    assert(intercept[IllegalArgumentException] {
      t.renameColumn("name", "AMOUNT") }.getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException] {
      t.renameColumn("nope", "x") }.getMessage.contains("no such column"))

    t.addConstraint("amount_pos", "amount > 0")
    assert(intercept[IllegalArgumentException] {
      t.renameColumn("amount", "price") }.getMessage.contains("amount_pos"))
    assert(intercept[IllegalArgumentException] {
      t.dropColumn("amount") }.getMessage.contains("amount_pos"))
    t.dropConstraint("amount_pos")
    t.renameColumn("amount", "price") // now fine

    val tp = VintageTable.create(spark, dir("guard2"),
      Seq((1L, "eu")).toDF("id", "p"), partitionBy = Seq("p"))
    tp.enableColumnMapping()
    assert(intercept[IllegalArgumentException] { tp.dropColumn("p") }
      .getMessage.contains("partition"))
  }
}
