package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.vintage.VintageTable

class VintageStreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming merge sink: upserts per micro-batch, one commit each") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("vintage-stream").toString + "/t"
    val cp = Files.createTempDirectory("vintage-stream-cp").toString

    val mem = MemoryStream[(String, Double)]
    val stream = mem.toDF().toDF("key", "value")

    val q = VintageStreaming.mergeSink(stream, dir, "key")
      .option("checkpointLocation", cp)
      .start()
    try {
      mem.addData(("a", 1.0), ("b", 2.0))
      q.processAllAvailable()
      val t = VintageTable.forPath(spark, dir)
      assert(t.toDF.count() == 2)

      mem.addData(("b", 20.0), ("c", 3.0)) // update b, insert c
      q.processAllAvailable()
      assert(t.toDF.count() == 3)
      assert(t.toDF.filter(col("key") === "b").select("value").head().getDouble(0) == 20.0)

      // each batch = one atomic commit; history shows WRITE then MERGE
      val ops = t.history().orderBy("version")
        .select("operation").collect().map(_.getString(0)).toSeq
      assert(ops == Seq("WRITE", "MERGE"))

      // time travel to the first batch's state
      assert(t.toDFAsOf(0).count() == 2)
    } finally q.stop()
  }

  test("upsertBatch is deterministic: replaying a batch leaves state identical") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vintage-stream").toString + "/det"

    // duplicate keys within the batch, deliberately shuffled: the pick
    // must not depend on partition/arrival order
    val rows = Seq(("k1", 5.0), ("k1", 9.0), ("k1", 1.0), ("k2", 2.0))
    val batchA = rows.toDF("key", "value").repartition(4)
    val batchB = scala.util.Random.shuffle(rows).toDF("key", "value").repartition(2)

    VintageStreaming.upsertBatch(spark, batchA, dir, "key")
    val after1 = VintageTable.forPath(spark, dir).toDF
      .orderBy("key").as[(String, Double)].collect().toSeq

    // replay the same logical batch (different physical order)
    VintageStreaming.upsertBatch(spark, batchB, dir, "key")
    val after2 = VintageTable.forPath(spark, dir).toDF
      .orderBy("key").as[(String, Double)].collect().toSeq

    assert(after1 == after2, "replayed batch must upsert the identical rows")
    assert(after1 == Seq(("k1", 9.0), ("k2", 2.0)),
      "deterministic pick = lexicographically greatest row per key")
  }

  test("streaming append sink accumulates batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("vintage-stream").toString + "/a"
    val cp = Files.createTempDirectory("vintage-stream-cp").toString

    val mem = MemoryStream[Int]
    val q = VintageStreaming.appendSink(mem.toDF().toDF("n"), dir)
      .option("checkpointLocation", cp)
      .start()
    try {
      mem.addData(1, 2, 3)
      q.processAllAvailable()
      mem.addData(4, 5)
      q.processAllAvailable()
      assert(VintageTable.forPath(spark, dir).toDF.count() == 5)
    } finally q.stop()
  }

  test("streaming source: initial snapshot, incremental appends, compaction invisible") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vintage-src").toString + "/t"
    val cp = Files.createTempDirectory("vintage-src-cp").toString

    VintageTable.create(spark, dir, Seq((1, "a"), (2, "b")).toDF("id", "s"))
    val t = VintageTable.forPath(spark, dir)

    val q = spark.readStream.format("vintage").load(dir)
      .writeStream.format("memory").queryName("vsrc")
      .option("checkpointLocation", cp)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("vsrc").count() == 2) // initial snapshot

      t.append(Seq((3, "c")).toDF("id", "s"))
      q.processAllAvailable()
      assert(spark.table("vsrc").count() == 3) // only the new commit's rows

      // compaction is dataChange=false: nothing re-emitted
      t.compact(1)
      q.processAllAvailable()
      assert(spark.table("vsrc").count() == 3)

      t.append(Seq((4, "d")).toDF("id", "s"))
      q.processAllAvailable()
      assert(spark.table("vsrc").as[(Int, String)].collect().toSet ==
        Set((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    } finally q.stop()
  }

  test("vintage source composes with watermarks and windowed aggregation") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vintage-src").toString + "/win"
    val cp = Files.createTempDirectory("vintage-src-cp").toString
    def ev(sec: Int, u: String) =
      (new java.sql.Timestamp(1700000000000L + sec * 1000L), u)

    VintageTable.create(spark, dir,
      Seq(ev(1, "a"), ev(3, "b"), ev(8, "a")).toDF("ts", "user"))
    val t = VintageTable.forPath(spark, dir)

    // event-time tumbling windows with a watermark: append mode emits a
    // window only once the watermark passes its end — the standard
    // Structured Streaming pattern, running on our source unchanged
    val q = spark.readStream.format("vintage").load(dir)
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "10 seconds"))
      .count()
      .writeStream.format("memory").queryName("vwin")
      .outputMode("append")
      .option("checkpointLocation", cp)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("vwin").count() == 0) // nothing finalized yet

      // events at t=21s push the watermark past the first window's end
      t.append(Seq(ev(21, "c"), ev(22, "d")).toDF("ts", "user"))
      q.processAllAvailable()
      // one more batch so the new watermark finalizes [0,10)
      t.append(Seq(ev(25, "e")).toDF("ts", "user"))
      q.processAllAvailable()
      val done = spark.table("vwin")
        .select(col("window.start").cast("long"), col("count")).collect()
        .map(r => (r.getLong(0) - 1700000000L, r.getLong(1))).toMap
      assert(done.get(0L).contains(3L),
        s"window [0,10) must finalize with 3 events, got $done")
    } finally q.stop()
  }

  test("Trigger.AvailableNow: rate-limited backfill, self-stop, exactly-once resume") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vintage-src").toString + "/anow"
    val cp = Files.createTempDirectory("vintage-src-cp").toString

    // 3 commits x 2 files = 6 files; maxFilesPerTrigger=2 must split
    // the backfill into >= 3 non-empty micro-batches before stopping.
    // Each commit writes ids a and a+1 from two one-row partitions, so
    // each of its two files holds one row
    def twoFiles(a: Int) =
      spark.range(a, a + 2, 1, 2).select(col("id").cast("int").as("id"))
    VintageTable.create(spark, dir, twoFiles(1))
    val t = VintageTable.forPath(spark, dir)
    t.append(twoFiles(3))
    t.append(twoFiles(5))

    // foreachBatch, not the memory sink: the memory sink refuses to
    // recover from an existing checkpoint, and the RESUME half is the
    // point of this test
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    def drain(): Seq[Long] = {
      val batchSizes = scala.collection.mutable.ArrayBuffer[Long]()
      val q = spark.readStream.format("vintage")
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "2")
        .load(dir)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.select("id").collect().map(_.getInt(0))
          batchSizes.synchronized { batchSizes += rows.length.toLong }
          rows.foreach(delivered.add)
          ()
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000),
        "AvailableNow must process the backlog and stop on its own")
      batchSizes.toSeq
    }

    val p1 = drain()
    assert(delivered.toArray(Array.empty[Integer]).map(_.toInt).sorted.toSeq
        == (1 to 6),
      "the full backlog must arrive, each row exactly once")
    val nonEmpty = p1.count(_ > 0)
    assert(nonEmpty >= 3,
      s"6 files at maxFilesPerTrigger=2 must take >= 3 batches, got " +
        s"$nonEmpty (${p1.mkString(",")})")

    // resume from the checkpoint: a second AvailableNow run sees ONLY
    // the post-checkpoint commit (exactly-once across the stop — the
    // standard backfill-then-stop deployment shape)
    delivered.clear()
    t.append(twoFiles(7))
    val p2 = drain()
    assert(delivered.toArray(Array.empty[Integer]).map(_.toInt).sorted.toSeq
        == Seq(7, 8),
      "the resumed run must deliver only the new commit, exactly once")
    assert(p2.sum == 2)
  }

  test("streaming source: maxFilesPerTrigger bounds each micro-batch") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vintage-src").toString + "/rate"
    VintageTable.create(spark, dir,
      Seq((0, "z")).toDF("id", "s").coalesce(1))
    val t = VintageTable.forPath(spark, dir)
    // 4 single-file append commits beyond the initial snapshot
    (1 to 4).foreach(i =>
      t.append(Seq((i, s"v$i")).toDF("id", "s").coalesce(1)))

    // startingVersion=0 → all 5 commits are change batches; with a
    // 2-file budget the planner must split them across >= 3 batches
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val source = new graft.vintage.connector.VintageStreamSource(
      spark, t.path, Map("startingVersion" -> "0", "maxFilesPerTrigger" -> "2"))
    def ver(o: org.apache.spark.sql.execution.streaming.Offset): Long =
      o.asInstanceOf[LongOffset].offset
    def filesIn(lo: Long, hi: Long): Long = (lo to hi).map(v =>
      graft.vintage.VintageLog.readVersion(t.path, v)
        .count { case a: graft.vintage.AddFile => a.dataChange; case _ => false }
        .toLong).sum
    // drive the planner like the engine would: each getOffset is one
    // micro-batch boundary; every batch's commit span must respect the
    // 2-file budget, and the spans must drain the whole log
    var spans = Seq.empty[(Long, Long)]
    var last = -1L
    var off = source.getOffset
    while (off.isDefined && ver(off.get) != last) {
      spans :+= (last + 1, ver(off.get))
      last = ver(off.get)
      off = source.getOffset
    }
    assert(last == 4, s"planner must drain all commits, stopped at $last")
    assert(spans.size >= 3,
      s"2-file budget over 5 single-file commits needs >= 3 batches, got $spans")
    spans.foreach { case (lo, hi) =>
      assert(filesIn(lo, hi) <= 2, s"batch ($lo,$hi) exceeds the file budget")
    }

    // RESTART: a fresh source instance first replays the recovered
    // batch via getBatch — the planner must clamp forward to the
    // recovered offset, never hand out an offset below it (which would
    // re-emit already-delivered versions)
    val restarted = new graft.vintage.connector.VintageStreamSource(
      spark, t.path, Map("startingVersion" -> "0", "maxFilesPerTrigger" -> "2"))
    restarted.getBatch(Some(LongOffset(3L)), LongOffset(4L))
    assert(ver(restarted.getOffset.get) >= 4L,
      "restarted planner must not regress below the recovered offset")
  }

  test("streaming source: maxBytesPerTrigger bounds each micro-batch") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vintage-src").toString + "/brate"
    VintageTable.create(spark, dir,
      Seq((0, "z")).toDF("id", "s").coalesce(1))
    val t = VintageTable.forPath(spark, dir)
    (1 to 4).foreach(i =>
      t.append(Seq((i, s"v$i")).toDF("id", "s").coalesce(1)))
    // single-row parquet files run ~900 B: a 2 KB budget admits at
    // most two commits per batch, and always at least one
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val source = new graft.vintage.connector.VintageStreamSource(
      spark, t.path, Map("startingVersion" -> "0", "maxBytesPerTrigger" -> "2048"))
    def ver(o: org.apache.spark.sql.execution.streaming.Offset): Long =
      o.asInstanceOf[LongOffset].offset
    def bytesIn(lo: Long, hi: Long): Long = (lo to hi).map(v =>
      graft.vintage.VintageLog.readVersion(t.path, v)
        .collect { case a: graft.vintage.AddFile if a.dataChange => a.size }
        .sum).sum
    var spans = Seq.empty[(Long, Long)]
    var last = -1L
    var off = source.getOffset
    while (off.isDefined && ver(off.get) != last) {
      spans :+= (last + 1, ver(off.get))
      last = ver(off.get)
      off = source.getOffset
    }
    assert(last == 4, s"planner must drain all commits, stopped at $last")
    assert(spans.size >= 2,
      s"a 2 KB budget over 5 single-file commits must split, got $spans")
    spans.foreach { case (lo, hi) =>
      assert(bytesIn(lo, hi) <= 2048 || lo == hi,
        s"batch ($lo,$hi) exceeds the byte budget without being a " +
        s"single oversized commit")
    }
  }

  test("streaming sink into an identity table allocates per epoch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("vintage-sink-id").toString + "/t"
    VintageTable.create(spark, dir,
      Seq.empty[(Long, String)].toDF("id", "name"),
      properties = Map("vintage.identity.id" -> "1,1,false"))
    // drop the placeholder id column from the stream: the table layer
    // allocates it (GENERATED ALWAYS rejects a supplied one)
    val src = MemoryStream[String]
    val q = src.toDF.toDF("name").writeStream
      .format("vintage")
      .option("path", dir)
      .option("checkpointLocation",
        Files.createTempDirectory("vintage-sink-id-cp").toString)
      .start()
    try {
      src.addData("a", "b"); q.processAllAvailable()
      src.addData("c"); q.processAllAvailable()
    } finally q.stop()
    val out = VintageTable.forPath(spark, dir).toDF
      .select("id", "name").as[(Long, String)].collect().toMap
    assert(out.size == 3 && out.keySet.size == 3,
      s"each streamed row gets a unique allocated id: $out")
    assert(out.values.toSet == Set("a", "b", "c"))
  }

  test("streaming source: delete commit fails without ignoreDeletes, passes with it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vintage-src").toString + "/d"

    VintageTable.create(spark, dir, Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s"))
    val t = VintageTable.forPath(spark, dir)

    val cp1 = Files.createTempDirectory("vintage-src-cp").toString
    val q1 = spark.readStream.format("vintage").load(dir)
      .writeStream.format("memory").queryName("vdel1")
      .option("checkpointLocation", cp1).start()
    try {
      q1.processAllAvailable()
      t.delete("id = 2")
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
      val messages = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
      assert(messages.exists(_.contains("ignoreDeletes")))
    } finally q1.stop()

    val cp2 = Files.createTempDirectory("vintage-src-cp").toString
    val q2 = spark.readStream.format("vintage")
      .option("ignoreDeletes", "true").load(dir)
      .writeStream.format("memory").queryName("vdel2")
      .option("checkpointLocation", cp2).start()
    try {
      q2.processAllAvailable() // snapshot post-delete: 2 rows
      assert(spark.table("vdel2").count() == 2)
      t.append(Seq((4, "d")).toDF("id", "s"))
      q2.processAllAvailable()
      assert(spark.table("vdel2").count() == 3)
    } finally q2.stop()
  }

  test("streaming source: deletion-vector table snapshot excludes deleted rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vintage-src").toString + "/dv"
    VintageTable.create(spark, dir,
      (1L to 20L).map(i => (i, s"n$i")).toDF("id", "s").coalesce(1),
      properties = Map(graft.vintage.DeletionVectors.EnabledProp -> "true"))
    val t = VintageTable.forPath(spark, dir)
    t.delete(col("id") <= 5) // merge-on-read: same file, DV of 5 positions
    assert(t.snapshot.files.exists(_.dv.nonEmpty))

    val cp = Files.createTempDirectory("vintage-src-cp").toString
    val q = spark.readStream.format("vintage").load(dir)
      .writeStream.format("memory").queryName("vdvsnap")
      .option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      assert(spark.table("vdvsnap").count() == 15,
        "initial snapshot must subtract DV positions")
      assert(spark.table("vdvsnap").filter(col("id") <= 5).count() == 0)
      // post-start appends still flow
      t.append(Seq((21L, "n21")).toDF("id", "s"))
      q.processAllAvailable()
      assert(spark.table("vdvsnap").count() == 16)
    } finally q.stop()
  }

  test("streaming source: a RESTORE flipping DV state needs ignoreChanges") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vintage-src").toString + "/dvr"
    VintageTable.create(spark, dir,
      (1L to 10L).map(i => (i, s"n$i")).toDF("id", "s").coalesce(1),
      properties = Map(graft.vintage.DeletionVectors.EnabledProp -> "true"))
    val t = VintageTable.forPath(spark, dir)

    val cp = Files.createTempDirectory("vintage-src-cp").toString
    val q = spark.readStream.format("vintage")
      .option("ignoreDeletes", "true").load(dir)
      .writeStream.format("memory").queryName("vdvrestore")
      .option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      assert(spark.table("vdvrestore").count() == 10)
      t.delete(col("id") > 8)  // v1: DV commit — tolerated by ignoreDeletes
      t.restoreToVersion(0)    // v2: adds-only re-add of a live path
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val messages = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
      assert(messages.exists(_.contains("ignoreChanges")),
        s"a DV-state restore must demand ignoreChanges, got: $messages")
    } finally q.stop()
  }

  test("streaming CDF: row-level deltas with change types and versions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vintage-stream").toString + "/cdf"
    val cp = Files.createTempDirectory("vintage-stream-cdf-cp").toString
    val t = VintageTable.create(spark, dir,
      (1L to 10L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = Map(graft.vintage.DeletionVectors.EnabledProp -> "true"))

    val q = spark.readStream.format("vintage")
      .option("readChangeFeed", "true")
      .load(dir)
      .writeStream.format("memory").queryName("cdf_stream")
      .option("checkpointLocation", cp)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // initial batch: snapshot as inserts at version 0
      val initial = spark.table("cdf_stream")
        .select("id", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(initial == (1L to 10L).map(i => (i, "insert", 0L)).toSet)

      t.delete(org.apache.spark.sql.functions.col("id") <= 2) // v1: DV delete
      q.processAllAvailable()
      val afterDelete = spark.table("cdf_stream")
        .select("id", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(afterDelete == initial ++ Set((1L, "delete", 1L), (2L, "delete", 1L)),
        "a delete commit must stream as delete changes, not fail the query")

      t.update(org.apache.spark.sql.functions.col("id") === 5,
        Map("name" -> org.apache.spark.sql.functions.lit("upd"))) // v2
      q.processAllAvailable()
      val afterUpdate = spark.table("cdf_stream")
        .filter(org.apache.spark.sql.functions.col("_commit_version") === 2)
        .select("id", "name", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(afterUpdate == Set((5L, "n5", "delete"), (5L, "upd", "insert")),
        "an update must stream as a retract/emit pair")
    } finally q.stop()
  }

  test("streaming CDF with startingVersion emits no initial snapshot") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vintage-stream").toString + "/cdfsv"
    val t = VintageTable.create(spark, dir,
      (1L to 5L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1))
    t.append(Seq((6L, "n6")).toDF("id", "name").coalesce(1)) // v1

    val q = spark.readStream.format("vintage")
      .option("readChangeFeed", "true")
      .option("startingVersion", 1)
      .load(dir)
      .writeStream.format("memory").queryName("cdf_sv")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("cdf_sv")
        .select("id", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(rows == Set((6L, "insert", 1L)),
        "startingVersion=1 must emit only v1's changes, no snapshot")
    } finally q.stop()
  }

  test("streaming source: startingVersion=latest emits only post-start commits") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vintage-src").toString + "/l"
    val cp = Files.createTempDirectory("vintage-src-cp").toString

    VintageTable.create(spark, dir, Seq((1, "old")).toDF("id", "s"))
    val t = VintageTable.forPath(spark, dir)

    val q = spark.readStream.format("vintage")
      .option("startingVersion", "latest").load(dir)
      .writeStream.format("memory").queryName("vlatest")
      .option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      assert(spark.table("vlatest").count() == 0) // pre-start rows skipped
      t.append(Seq((2, "new")).toDF("id", "s"))
      q.processAllAvailable()
      assert(spark.table("vlatest").as[(Int, String)].collect().toSeq ==
        Seq((2, "new")))
    } finally q.stop()
  }

  test("streaming source: startingTimestamp resolves to the first later commit") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vintage-src").toString + "/ts"
    val cp = Files.createTempDirectory("vintage-src-cp").toString
    val t0 = VintageTable.create(spark, dir, Seq((1, "a")).toDF("id", "s")) // v0
    Thread.sleep(5)
    val between = System.currentTimeMillis()
    Thread.sleep(5)
    t0.append(Seq((2, "b")).toDF("id", "s")) // v1, after `between`
    t0.append(Seq((3, "c")).toDF("id", "s")) // v2

    val q = spark.readStream.format("vintage")
      .option("startingTimestamp", between.toString).load(dir)
      .writeStream.format("memory").queryName("vts")
      .option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      // v0 predates the timestamp: only v1+v2 rows, no initial snapshot
      assert(spark.table("vts").as[(Int, String)].collect().toSet ==
        Set((2, "b"), (3, "c")))
    } finally q.stop()
    // both start options together is an error
    intercept[IllegalArgumentException] {
      new graft.vintage.connector.VintageStreamSource(spark, t0.path,
        Map("startingVersion" -> "1", "startingTimestamp" -> "0"))
    }
  }

  test("CDF-driven incremental aggregate tracks the base table through DML") {
    import spark.implicits._
    // The materialized-view maintenance pattern: a per-key SUM/COUNT
    // aggregate kept current from the change feed alone — inserts and
    // update postimages add, deletes and update preimages retract —
    // applied by a fluent MERGE per micro-batch. The aggregate never
    // rescans the base table; after every drain it must equal a fresh
    // batch groupBy.
    val base = Files.createTempDirectory("vintage-cdf-agg").toString + "/b"
    val aggDir = Files.createTempDirectory("vintage-cdf-agg").toString + "/a"
    val cp = Files.createTempDirectory("vintage-cdf-agg-cp").toString
    val t = VintageTable.create(spark, base,
      Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("k", "v"))
    val aggT = VintageTable.create(spark, aggDir,
      Seq.empty[(String, Long, Long)].toDF("k", "sum_v", "cnt"))

    def drain(): Unit = {
      val q = spark.readStream.format("vintage")
        .option("readChangeFeed", "true").load(base)
        .writeStream
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val sign = when(col("_change_type").isin("insert", "update_postimage"),
            lit(1L)).otherwise(lit(-1L))
          val deltas = batch
            .select(col("k"), (sign * col("v")).as("dv"), sign.as("dc"))
            .groupBy("k")
            .agg(sum("dv").as("dv"), sum("dc").as("dc"))
          aggT.as("t").merge(deltas.as("s"), "t.k = s.k")
            .whenMatched().update(Map(
              "sum_v" -> (col("t.sum_v") + col("s.dv")),
              "cnt" -> (col("t.cnt") + col("s.dc"))))
            .whenNotMatched().insert(Map(
              "k" -> col("s.k"), "sum_v" -> col("s.dv"), "cnt" -> col("s.dc")))
            .execute()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def assertMirrors(): Unit = {
      val live = aggT.toDF.filter(col("cnt") > 0)
        .select("k", "sum_v", "cnt").as[(String, Long, Long)].collect().toSet
      val batch = t.toDF.groupBy("k")
        .agg(sum("v").as("sum_v"), count(lit(1)).as("cnt"))
        .as[(String, Long, Long)].collect().toSet
      assert(live == batch, s"aggregate drifted: $live vs $batch")
    }

    drain(); assertMirrors()                       // initial snapshot as inserts
    t.append(Seq(("b", 20L), ("c", 5L)).toDF("k", "v"))
    drain(); assertMirrors()                       // plain inserts
    t.update(col("k") === "a" && col("v") === 2L, Map("v" -> lit(7L)))
    drain(); assertMirrors()                       // retract/emit pair nets +5
    t.delete(col("k") === "b")
    drain(); assertMirrors()                       // retractions drive cnt to 0
    assert(aggT.toDF.filter(col("k") === "b").select("cnt")
      .head().getLong(0) == 0L, "b fully retracted")
  }
}
