package graft.vintage

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Per-file min/max stats must be written at commit time and consulted
  * before any scan: a point delete/update/merge against a multi-file
  * table may only rewrite (and only scan) the files whose stat range
  * contains the key.
  */
class StatsSkippingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Three files with disjoint id ranges: [1,100], [101,200], [201,300]. */
  private def threeFileTable(): VintageTable = {
    val dir = Files.createTempDirectory("vintage-skip").toString + "/t"
    val t = VintageTable.create(spark, dir,
      (1 to 100).map(i => (i.toLong, s"name_$i")).toDF("id", "name").coalesce(1))
    t.append((101 to 200).map(i => (i.toLong, s"name_$i")).toDF("id", "name").coalesce(1))
    t.append((201 to 300).map(i => (i.toLong, s"name_$i")).toDF("id", "name").coalesce(1))
    t
  }

  test("writeFiles populates min/max/nullCount stats") {
    val t = threeFileTable()
    val files = t.snapshot.files
    assert(files.size == 3)
    files.foreach { f =>
      assert(f.numRecords.contains(100L))
      val id = f.stats("id")
      assert(id.min.isDefined && id.max.isDefined && id.nullCount.contains(0L))
      val name = f.stats("name")
      assert(name.min.exists(_.startsWith("name_")))
    }
    val ranges = files.map(f => (BigDecimal(f.stats("id").min.get),
                                 BigDecimal(f.stats("id").max.get))).sorted
    assert(ranges == Seq((BigDecimal(1), BigDecimal(100)),
                         (BigDecimal(101), BigDecimal(200)),
                         (BigDecimal(201), BigDecimal(300))))
  }

  test("candidateFiles prunes by numeric range, string range, and IN") {
    val t = threeFileTable()
    val snap = t.snapshot
    assert(t.candidateFiles(snap, col("id") === 150).size == 1)
    assert(t.candidateFiles(snap, expr("id = 150")).size == 1)
    assert(t.candidateFiles(snap, col("id") < 50).size == 1)
    assert(t.candidateFiles(snap, col("id") >= 200).size == 2)
    assert(t.candidateFiles(snap, col("id").isin(5, 205)).size == 2)
    assert(t.candidateFiles(snap, col("id") === 9999).isEmpty)
    // string equality: name_150 only falls in file 2's [name_101,name_99] range;
    // lexicographic ranges overlap across files, so expect <= 3 but >= 1
    val byName = t.candidateFiles(snap, col("name") === "zzz")
    assert(byName.isEmpty, "name stats should exclude out-of-range strings")
    // conjunction narrows, disjunction unions
    assert(t.candidateFiles(snap, col("id") > 50 && col("id") < 60).size == 1)
    assert(t.candidateFiles(snap, col("id") === 50 || col("id") === 250).size == 2)
    // unknown shapes never prune
    assert(t.candidateFiles(snap, length(col("name")) > 3).size == 3)
  }

  test("point delete rewrites only the file containing the key") {
    val t = threeFileTable()
    t.delete(expr("id = 150"))
    assert(t.toDF.count() == 299)
    val actions = VintageLog.readVersion(t.path, t.version)
    val removes = actions.collect { case r: RemoveFile => r }
    assert(removes.size == 1, s"expected 1 rewritten file, got ${removes.size}")
    // the untouched files' stats survive in the snapshot
    val post = t.snapshot.files
    assert(post.exists(f => f.stats("id").min.contains("1")))
    assert(post.exists(f => f.stats("id").min.contains("201")))
    // a delete that removes every row of its touched files adds no file
    t.delete(col("id") >= 0)
    assert(t.toDF.count() == 0)
    val left = t.snapshot.files
    assert(left.isEmpty, s"0-row files committed: ${left.map(_.numRecords)}")
  }

  test("small merge touches only the file intersecting the source key range") {
    val t = threeFileTable()
    val src = Seq((250L, "updated_250"), (301L, "name_301"))
      .toDF("id", "name")
    t.as("tgt").merge(src.as("src"), "tgt.id = src.id")
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
    assert(t.toDF.count() == 301)
    assert(t.toDF.filter(col("id") === 250).select("name").head().getString(0)
      == "updated_250")
    val actions = VintageLog.readVersion(t.path, t.version)
    val removes = actions.collect { case r: RemoveFile => r }
    assert(removes.size == 1,
      s"merge with keys in [250,301] must rewrite only file 3, got ${removes.size}")
  }

  test("cluster makes point queries single-file; row sets invariant") {
    val dir = Files.createTempDirectory("vintage-skip").toString + "/z"
    // interleaved keys: every file spans the whole range -> no skipping
    val t = VintageTable.create(spark, dir,
      (1 to 300).map(i => (i.toLong, s"n$i")).toDF("id", "name").repartition(3))
    val before = t.candidateFiles(t.snapshot, col("id") === 150).size
    assert(before == 3, s"interleaved files must not prune (got $before)")

    t.cluster(3, "id")
    val after = t.candidateFiles(t.snapshot, col("id") === 150)
    assert(after.size == 1, s"clustered table must prune to 1 file, got ${after.size}")
    // dataChange=false: logical state invariant, history intact
    assert(t.toDF.count() == 300)
    assert(t.toDFAsOf(0).count() == 300)
  }

  test("z-order cluster: predicate on the SECOND clustering column prunes files") {
    val dir = Files.createTempDirectory("vintage-skip").toString + "/z2"
    // 64x64 grid, shuffled across 8 files: no stats locality anywhere
    val t = VintageTable.create(spark, dir,
      (for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong))
        .toDF("x", "y").repartition(8))
    val before = t.candidateFiles(t.snapshot, col("y") === 7).size
    assert(before == 8, s"shuffled files must not prune (got $before)")

    t.cluster(16, "x", "y")
    assert(t.snapshot.files.size == 16)
    // a lexicographic (x, y) sort keeps every file's y range at
    // [0, 63]; the interleaved z-curve gives each file a compact
    // hyper-box, so a y-only predicate prunes to a strict subset
    val afterY = t.candidateFiles(t.snapshot, col("y") === 7).size
    assert(afterY < 16, s"y-only predicate must prune z-ordered files, got $afterY/16")
    assert(afterY >= 1)
    // and the first column still prunes too
    val afterX = t.candidateFiles(t.snapshot, col("x") === 9).size
    assert(afterX < 16, s"x-only predicate must prune z-ordered files, got $afterX/16")
    // row set and history invariant (dataChange=false)
    assert(t.toDF.count() == 4096)
    assert(t.toDF.filter(col("y") === 7).count() == 64)
    assert(t.toDFAsOf(0).count() == 4096)
  }

  test("long string stats truncate to bounded, still-sound min/max") {
    // unit bounds
    assert(ParquetStats.truncateMinString("ab") == "ab")
    val long = "m" * 500 + "zz"
    val mn = ParquetStats.truncateMinString(long)
    val mx = ParquetStats.truncateMaxString(long).get
    assert(mn.length == 32 && mx.length <= 33)
    assert(ParquetStats.cpCompare(mn, long) <= 0)
    assert(ParquetStats.cpCompare(mx, long) > 0)
    // increment skips the surrogate gap
    val edge = ("x" * 31) + "퟿" + "tail-beyond-cap"
    val mxe = ParquetStats.truncateMaxString(edge).get
    assert(mxe.codePointAt(31) == 0xE000)

    // end to end: a table with kilobyte strings keeps a small log and
    // still prunes correctly
    val dir = Files.createTempDirectory("vintage-skip").toString + "/long"
    val mk = (c: Char) => c.toString * 1000
    val t = VintageTable.create(spark,
      dir, Seq((1L, mk('a')), (2L, mk('b'))).toDF("id", "txt").coalesce(1))
    t.append(Seq((3L, mk('x')), (4L, mk('y'))).toDF("id", "txt").coalesce(1))
    val st = t.snapshot.files.flatMap(_.stats.get("txt"))
    assert(st.nonEmpty && st.forall(s =>
      s.min.get.length <= 33 && s.max.get.length <= 33), st)
    // point lookups on the long values prune to the right file
    assert(t.candidateFiles(t.snapshot, col("txt") === mk('b')).size == 1)
    assert(t.candidateFiles(t.snapshot, col("txt") === mk('y')).size == 1)
    assert(t.candidateFiles(t.snapshot, col("txt") === mk('q')).isEmpty)
    assert(t.toDF.filter(col("txt") === mk('x')).count() == 1)
  }

  test("concurrent commits to the same version: loser gets a conflict") {
    val dir = Files.createTempDirectory("vintage-skip").toString + "/cc"
    val t = VintageTable.create(spark, dir,
      Seq((1L, "a")).toDF("id", "name").coalesce(1))
    val v1 = Seq(CommitInfo(1L, 1L, "WRITE"))
    VintageLog.commit(t.path, 1L, v1)
    intercept[java.util.ConcurrentModificationException] {
      VintageLog.commit(t.path, 1L, v1)
    }
  }

  test("commit retry: disjoint concurrent txns succeed, overlapping conflict") {
    val dir = Files.createTempDirectory("vintage-skip").toString + "/rt"
    val t = VintageTable.create(spark, dir,
      Seq((1L, "a")).toDF("id", "name").coalesce(1))
    val stale = t.snapshot

    // another writer lands version 1 first
    VintageLog.commit(t.path, 1L, Seq(CommitInfo(1L, 1L, "WRITE")))

    // a blind append from the stale snapshot retries onto version 2
    val v = t.commitOp(stale, "WRITE", Map("mode" -> "Append"), Nil, Nil, None)
    assert(v == 2L)

    // a rewrite of a file the winner already removed must conflict
    val file = stale.files.head.path
    VintageLog.commit(t.path, 3L, Seq(
      CommitInfo(3L, 3L, "DELETE"),
      RemoveFile(file, 3L, dataChange = true)))
    intercept[java.util.ConcurrentModificationException] {
      t.commitOp(stale, "DELETE", Map.empty, Nil,
        Seq(RemoveFile(file, 4L, dataChange = true)), None)
    }
  }

  test("commit retry: concurrent adds conflict by read scope") {
    import org.apache.spark.sql.graftshim.ColumnExpr
    def freshTable(suffix: String): (VintageTable, Snapshot) = {
      val dir = Files.createTempDirectory("vintage-skip").toString + s"/$suffix"
      val t = VintageTable.create(spark, dir,
        Seq((1L, "a")).toDF("id", "name").coalesce(1))
      (t, t.snapshot)
    }
    def landConcurrentAdd(t: VintageTable, lo: Long, hi: Long): Unit =
      VintageLog.commit(t.path, 1L, Seq(
        CommitInfo(1L, 1L, "WRITE"),
        AddFile(s"part-concurrent-$lo.parquet", 1L, 1L, dataChange = true,
          Some(hi - lo + 1),
          Map("id" -> ColStats(Some(lo.toString), Some(hi.toString), Some(0L))))))

    // blind append past a concurrent append: no conflict
    val (t1, s1) = freshTable("a")
    landConcurrentAdd(t1, 100, 200)
    assert(t1.commitOp(s1, "WRITE", Map("mode" -> "Append"), Nil, Nil, None,
      NoRead) == 2L)

    // overwrite past a concurrent append: conflict (the appended file
    // would survive the "overwrite" — no serial order produces that)
    val (t2, s2) = freshTable("b")
    landConcurrentAdd(t2, 100, 200)
    intercept[java.util.ConcurrentModificationException] {
      t2.commitOp(s2, "WRITE", Map("mode" -> "Overwrite"), Nil, Nil, None,
        FullRead)
    }

    // predicate op: conflicts iff the added file's stats may match
    val (t3, s3) = freshTable("c")
    landConcurrentAdd(t3, 100, 200)
    intercept[java.util.ConcurrentModificationException] {
      t3.commitOp(s3, "DELETE", Map.empty, Nil, Nil, None,
        PredicateRead(ColumnExpr.expr(col("id") === 150)))
    }
    val (t4, s4) = freshTable("d")
    landConcurrentAdd(t4, 100, 200)
    assert(t4.commitOp(s4, "DELETE", Map.empty, Nil, Nil, None,
      PredicateRead(ColumnExpr.expr(col("id") === 999))) == 2L)

    // layout-only rewrite past a concurrent append: no conflict
    val (t5, s5) = freshTable("e")
    landConcurrentAdd(t5, 100, 200)
    assert(t5.commitOp(s5, "WRITE", Map("dataChange" -> "false"), Nil, Nil,
      None, LayoutOnly) == 2L)
  }

  test("datetime stats: matched units prune, mismatched units never prune") {
    val dir = Files.createTempDirectory("vintage-skip").toString + "/dt"
    val jan = (1 to 10).map(i => (i.toLong, java.sql.Date.valueOf(f"2020-01-$i%02d")))
    val feb = (1 to 10).map(i => (i.toLong, java.sql.Date.valueOf(f"2020-02-$i%02d")))
    val t = VintageTable.create(spark, dir, jan.toDF("id", "d").coalesce(1))
    t.append(feb.toDF("id", "d").coalesce(1))
    val snap = t.snapshot

    // same unit (date vs date, both epoch days): prunes to 1 file
    assert(t.candidateFiles(snap,
      col("d") === java.sql.Date.valueOf("2020-02-05")).size == 1)
    // date column (days) vs TIMESTAMP literal (micros, session-tz):
    // incomparable units -> must NOT prune (a blind numeric compare
    // would drop every file and make delete/update silently miss rows)
    assert(t.candidateFiles(snap,
      col("d") === java.sql.Timestamp.valueOf("2020-02-05 00:00:00")).size == 2)
    // date column vs TIMESTAMP_NTZ literal: tz-free, days are converted
    // to micros, so pruning applies
    assert(t.candidateFiles(snap,
      col("d") === java.time.LocalDateTime.of(2020, 2, 5, 0, 0)).size == 1)
    assert(t.candidateFiles(snap,
      col("d") < java.time.LocalDateTime.of(2019, 1, 1, 0, 0)).isEmpty)
  }

  test("large IN lists prune through the sorted fast path, identically to small ones") {
    val t = threeFileTable()
    val snap = t.snapshot
    // 100 keys (>= the fast-path threshold of 64), all inside file 2's
    // range plus a stretch of non-existent ids — must touch exactly the
    // file whose [min,max] intersects the key set
    val midOnly = (101L to 150L) ++ (5001L to 5050L)
    assert(t.candidateFiles(snap, col("id").isin(midOnly: _*)).size == 1)
    // keys spanning files 1 and 3 but not 2
    val outer = (1L to 40L) ++ (251L to 290L)
    assert(t.candidateFiles(snap, col("id").isin(outer: _*)).size == 2)
    // entirely outside every range: zero files
    val none = (9000L to 9100L)
    assert(t.candidateFiles(snap, col("id").isin(none: _*)).isEmpty)
    // fast path must agree with the linear path on a mixed probe set
    val mixed = (90L to 120L) ++ (195L to 210L) ++ (7000L to 7050L)
    val small = t.candidateFiles(snap, col("id").isin(90L, 120L, 195L, 210L))
      .map(_.path).toSet
    val large = t.candidateFiles(snap, col("id").isin(mixed: _*))
      .map(_.path).toSet
    assert(small == large, "sorted fast path diverged from the linear check")
    // string columns take the cpCompare-sorted branch
    val names = (101 to 180).map(i => s"name_$i")
    assert(t.candidateFiles(snap, col("name").isin(names: _*)).nonEmpty)
    val absent = (1 to 80).map(i => s"zzz_$i")
    assert(t.candidateFiles(snap, col("name").isin(absent: _*)).isEmpty)
  }

  test("large IN pruning composes with per-file blooms") {
    // two files with OVERLAPPING id ranges (evens vs odds): ranges
    // alone cannot prune, the bloom must — including through a
    // 100-key probe list that takes the sorted fast path
    val dir = Files.createTempDirectory("vintage-skip").toString + "/b"
    val t = VintageTable.create(spark, dir,
      (1 to 200 by 2).map(i => (i.toLong, s"v$i")).toDF("id", "name").coalesce(1),
      Map("vintage.bloom.columns" -> "id"))
    t.append((2 to 200 by 2).map(i => (i.toLong, s"v$i")).toDF("id", "name").coalesce(1))
    val snap = t.snapshot
    assert(snap.files.size == 2)
    // 64 even keys: the odd file's range [1,199] contains them all,
    // but its bloom holds none — expect (at most) the even file; the
    // bloom is probabilistic so only assert the sound direction plus
    // agreement with the linear path
    val evens = (2L to 128L by 2L)
    val fast = t.candidateFiles(snap, col("id").isin(evens: _*)).map(_.path).toSet
    val linearUnion = evens.map(k =>
      t.candidateFiles(snap, col("id") === k).map(_.path).toSet)
      .reduce(_ union _)
    assert(fast == linearUnion,
      "fast IN bloom pruning must equal the union of per-key equality prunes")
  }

  test("update prunes: only the CHF-range file is rewritten") {
    val dir = Files.createTempDirectory("vintage-skip").toString + "/c"
    val t = VintageTable.create(spark, dir,
      Seq(("CHF", 1.0), ("CHF", 2.0)).toDF("ccy", "v").coalesce(1))
    t.append(Seq(("NOK", 3.0), ("RUB", 4.0)).toDF("ccy", "v").coalesce(1))
    t.update(col("ccy") === "CHF", Map("v" -> lit(9.0)))
    val removes = VintageLog.readVersion(t.path, t.version)
      .collect { case r: RemoveFile => r }
    assert(removes.size == 1)
    assert(t.toDF.filter(col("ccy") === "CHF").agg(sum("v")).head().getDouble(0) == 18.0)
    assert(t.toDF.filter(col("ccy") === "NOK").head().getDouble(1) == 3.0)
  }
}
