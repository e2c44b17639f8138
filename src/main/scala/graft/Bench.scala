package graft
/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR
  * and prints one JSON line. Failures are recorded explicitly (negative
  * time + "failed" list) — a broken query must never read as a fast
  * green number.
  *
  * Self-evidencing harness (round-6): each query runs TWICE and the
  * reported number is the MIN of the two — a single-shot time can't
  * distinguish a plan regression from a JIT/GC/sandbox hiccup, a
  * best-of-2 mostly can (a real regression reproduces in both runs).
  * Both raw runs land in the file output for post-hoc inspection. The
  * printed line keeps values at millisecond precision so it stays well
  * under log-tail truncation caps.
  *
  * Comparability note: rounds 1-5 reported single-shot times; round 6
  * onward reports best-of-2 (the `mode` field names the harness).
  * Cross-round comparisons are only like-for-like from round 6 → 7
  * onward — BENCH_r06.json (23.2 s total at sf0.1) is the operative
  * best-of-2 baseline.
  */
object Bench {
  /** The scale-factor dir of the bench and the query tool:
    * `SPARK_GRAFT_SF_DIR`, else sf0.1.
    */
  def defaultSfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  private def r3(v: Double): Double = math.rint(v * 1000) / 1000

  private def deleteTreeQuiet(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTreeQuiet))
    f.delete(): Unit
  }

  /** Host-contention evidence: 1/5/15-min loadavg + available memory
    * (GiB), captured before and after the timed suite. Bench totals on
    * a shared box vary ±30% run-to-run (BASELINE.md documents 67.6 to
    * 96.8 s for identical code); a run whose loadavg was already high
    * BEFORE the first query is adjudicable as contaminated from the
    * artifact alone, with no re-measure needed.
    */
  private def hostEvidence(): String = {
    def read(p: String): Option[String] =
      try Some(java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
      catch { case _: java.io.IOException => None }
    val load = read("/proc/loadavg").map(_.trim.split("\\s+").take(3).toSeq)
      .getOrElse(Seq("-1", "-1", "-1"))
    val availKb = read("/proc/meminfo")
      .flatMap(_.linesIterator.find(_.startsWith("MemAvailable:")))
      .flatMap(_.split("\\s+").lift(1)).map(_.toLong).getOrElse(-1L)
    s"""{"loadavg":[${load.mkString(",")}],"mem_avail_gib":${r3(availKb / 1048576.0)}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = defaultSfDir
    val spark = GraftSession("graft-bench")
    val envBefore = hostEvidence()
    // JVM/codegen warmup outside the timed region so the first queries
    // don't absorb classloading + codegen compilation costs. Half the
    // suite is regex/array/text-dominated, so the warmup must touch
    // those code paths too, not just integer aggregation.
    spark.range(1000000).selectExpr("sum(id % 7)", "count(distinct id % 13)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
      .selectExpr(
        "sum(size(filter(split(lower(trim(text)), '\\\\s+'), t -> t != '')))",
        "sum(size(regexp_extract_all(text, '[A-Za-z]+', 0)))",
        "count(distinct md5(text))")
      .collect()
    // the vintage write/commit/scan path (r18): a third of the suite
    // creates or mutates vintage tables, and without this the FIRST
    // such query absorbs the connector's classloading + codegen
    // (attributed to whichever name sorts first, q100). 3 rows in a
    // temp dir — same spirit as the lines above: warm the CODE PATHS,
    // never precompute any query's data.
    try {
      val warmDir = java.nio.file.Files.createTempDirectory("graft-bench-warm")
      val t = graft.vintage.VintageTable.create(spark, s"$warmDir/t",
        spark.range(3).selectExpr("id", "cast(id as string) as v"))
      t.as("t").merge(
          spark.range(2, 5).selectExpr("id", "'m' as v").as("s"), "t.id = s.id")
        .whenMatched().updateAll().whenNotMatched().insertAll().execute()
      t.toDF.count()
      deleteTreeQuiet(warmDir.toFile)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] vintage warmup skipped: ${e.getMessage}")
    }
    // Targeted re-measure: SPARK_GRAFT_BENCH_ONLY=q68,q82 times just the
    // queries whose name starts with a listed prefix — the adjudication
    // loop for a single out-of-band number shouldn't pay the full suite.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.startsWith))
    }
    val results = selected.map { case (name, fn) =>
      def once(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
          }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      val (t1, ok1) = once()
      // don't pay a second multi-second run for a query that failed
      val (t2, ok2) = if (ok1) once() else (t1, ok1)
      (name, math.min(t1, t2), Seq(t1, t2), ok1 && ok2)
    }
    val qs = results.map { case (k, v, _, ok) =>
      s"\"" + k + "\":" + (if (ok) r3(v) else -r3(v))
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, _, false) => s"\"$k\"" }
      .mkString("[", ",", "]")
    val total = r3(results.collect { case (_, v, _, true) => v }.sum)
    // a filtered run self-identifies in the JSON: metric "partial" plus
    // the prefix list, so no consumer can adjudicate a partial sum as
    // the full-suite total (ADVICE r11)
    val metric = if (only.isEmpty) "total" else "partial"
    val onlyField = only
      .map(_.map("\"" + _ + "\"").mkString(""","only":[""", ",", "]"))
      .getOrElse("")
    val json = s"""{"metric":"$metric","value":$total,"unit":"sec","mode":"best_of_2"$onlyField,"queries":$qs,"failed":$failed,"sf":"$sfDir"}"""
    println(json)
    // The full artifact (both raw runs per query + host evidence) goes
    // to files: the driver tails stdout through sbt's [info] prefixing,
    // which caps the tail at ~2000 chars and silently dropped the first
    // ~25 per-query times from the round-9 record. bench/last_run.json
    // lives IN THE REPO so every round's full numbers are committed and
    // adjudicable without re-running anything.
    val envAfter = hostEvidence()
    val runs = results.map { case (k, _, rs, _) =>
      s"\"" + k + "\":" + rs.map(r3).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val fileJson = json.dropRight(1) +
      s""","runs":$runs,"env_before":$envBefore,"env_after":$envAfter}"""
    // a filtered (ONLY) run is a scratch measurement — never let it
    // clobber the committed full-suite record OR the default stdout
    // mirror a driver might read as the suite total: it lands at
    // graft_bench_only.json unless an explicit OUT says otherwise
    val defaultOut =
      if (only.isEmpty) "/tmp/graft_bench.json" else "/tmp/graft_bench_only.json"
    (Seq(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)) ++
        (if (only.isEmpty) Seq("bench/last_run.json") else Nil)).foreach { out =>
      try {
        val p = java.nio.file.Paths.get(out)
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        // atomic write (temp + rename): a reader polling the file mid-run
        // must never see a half-written JSON (VERDICT r18 #7)
        val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
        java.nio.file.Files.writeString(tmp, fileJson + "\n")
        try java.nio.file.Files.move(tmp, p,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        catch { case _: java.lang.UnsupportedOperationException =>
          java.nio.file.Files.move(tmp, p,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      } catch { case _: java.io.IOException => () }
    }
    // Every BENCH_rN.json to date had `parsed: null`: the big JSON line
    // above carries the total at the FRONT and the driver's tail capture
    // truncates it away. This compact LAST line always lands inside any
    // tail window, so the driver can parse the total (VERDICT r11 #3).
    println(s"""BENCHTOTAL {"metric":"$metric","value":$total,"unit":"sec","failed":${results.count(!_._4)},"queries_run":${results.length}}""")
    if (results.exists(!_._4)) { spark.stop(); sys.exit(1) }
    spark.stop()
  }
}
