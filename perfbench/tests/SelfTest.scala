package perfbench

/** Self-tests of the benchmark's own code (no Spark session needed):
  * seeded generation is reproducible, golden mode matches FIXTURES.md's
  * per-file table, the model follows the stream, and every workload
  * and metric name is well formed. Prints the names for the caller to
  * compare with BENCHMARK.json; exits non-zero on the first failure.
  */
object SelfTest {
  private var failures = 0
  private def check(what: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception => System.err.println(e); false }
    if (!ok) failures += 1
    System.err.println(s"${if (ok) "ok  " else "FAIL"} $what")
  }

  private def streamOps(seed: Long, n: Int): Seq[Op] = {
    val st = new Stream(seed, 20, 24)
    st.initial() +: (1 to n).map(_ => st.next())
  }

  def main(args: Array[String]): Unit = {
    check("same seed gives identical golden submissions") {
      Golden.submissions(7) == Golden.submissions(7)
    }
    check("another seed gives other golden values") {
      Golden.submissions(7) != Golden.submissions(8)
    }
    check("same seed gives identical scale streams") {
      streamOps(7, 40) == streamOps(7, 40)
    }
    check("another seed gives another scale stream") {
      streamOps(7, 40) != streamOps(8, 40)
    }

    val g = Golden.submissions(42)
    def cur(r: org.apache.spark.sql.Row) = r.getString(1)
    def per(r: org.apache.spark.sql.Row) = r.getString(5)
    def status(r: org.apache.spark.sql.Row) =
      r.getString(7)
    check("golden row counts 504, 4, 254, 474, 3, 3, 1") {
      g.map(_.size) == Seq(504, 4, 254, 474, 3, 3, 1)
    }
    check("data.0: NOK and RUB 252 each, 1999-01..2019-12, all A") {
      g(0).groupBy(cur).map { case (c, rs) => c -> rs.size } == Map("NOK" -> 252, "RUB" -> 252) &&
        g(0).map(per).min == "1999-01" && g(0).map(per).max == "2019-12" &&
        g(0).forall(status(_) == "A")
    }
    check("data.1: NOK and RUB, 2020-01..2020-02") {
      g(1).map(r => (cur(r), per(r))).toSet ==
        Set(("NOK", "2020-01"), ("NOK", "2020-02"), ("RUB", "2020-01"), ("RUB", "2020-02"))
    }
    check("data.2: CHF 254, 1999-01..2020-02") {
      g(2).forall(cur(_) == "CHF") && g(2).map(per).min == "1999-01" &&
        g(2).map(per).max == "2020-02"
    }
    check("data.3: CHF/NOK/RUB 158 each, 2007-01..2020-02") {
      g(3).groupBy(cur).map { case (c, rs) => c -> rs.size } ==
        Map("CHF" -> 158, "NOK" -> 158, "RUB" -> 158) &&
        g(3).map(per).min == "2007-01" && g(3).map(per).max == "2020-02"
    }
    check("data.4: forecasts F for 2020-03") {
      g(4).forall(r => per(r) == "2020-03" && status(r) == "F") &&
        g(4).map(cur).toSet == Set("CHF", "NOK", "RUB")
    }
    check("data.5: finals A; NOK equals the forecast, CHF and RUB change") {
      val f = g(4).map(r => cur(r) -> r.getDouble(6)).toMap
      val a = g(5).map(r => cur(r) -> r.getDouble(6)).toMap
      g(5).forall(status(_) == "A") && a("NOK") == f("NOK") &&
        a("CHF") != f("CHF") && a("RUB") != f("RUB")
    }
    check("data.6: CHF 2020-03 with OBS_COM Improved precision") {
      g(6).size == 1 && cur(g(6).head) == "CHF" && per(g(6).head) == "2020-03" &&
        g(6).head.getString(8) == "Improved precision" &&
        g(6).head.length == graft.sdmx.Sdmx.schemaEvolved.length
    }
    check("keys are unique in every golden submission") {
      g.forall(rs => rs.map(r => (cur(r), per(r))).distinct.size == rs.size)
    }

    check("model counts follow the stream's messages") {
      val st = new Stream(3, 20, 24)
      val init = st.initial()
      val ok0 = st.tableAt(0)._1 == init.rows.size
      val ops = (1 to 24).map(_ => st.next())
      val replaced = ops.zipWithIndex.collect { case (r: Replace, i) => (r, i + 1L) }
      ok0 && replaced.nonEmpty &&
        replaced.forall { case (r, v) => st.tableAt(v)._1 == r.rows.size } &&
        ops.map(_.kind).take(Stream.Round.size) == Stream.Round &&
        st.liveRows == st.tableAt(st.latestVersion)._1
    }
    check("model checksum is the sum of per-row checksums") {
      val st = new Stream(5, 20, 24)
      val init = st.initial()
      st.tableAt(0)._2 == init.rows.map(r =>
        SdmxRows.rowCrc(SdmxRows.key(r.getString(1), r.getString(5)), r.getDouble(6),
          r.getString(7), r.getInt(9))).sum
    }
    check("a deleted series is empty at its version and intact before") {
      val st = new Stream(9, 20, 24)
      st.initial()
      var op = st.next()
      while (!op.isInstanceOf[DeleteSeries]) op = st.next()
      val s = op.asInstanceOf[DeleteSeries].series
      val v = st.latestVersion
      st.seriesAt(s, v)._1 == 0 && st.seriesAt(s, v - 1)._1 > 0
    }
    check("merges of forecasts and corrections stay within 1% of 60k rows") {
      val st = new Stream(1, Main.Series, Main.Periods)
      st.initial()
      val small = Seq(st.next(), st.next(), st.next()).collect { case m: Merge => m.rows.size }
      small.size == 3 && small.forall(_ <= Main.Series * Main.Periods / 100)
    }

    val name = "[A-Za-z0-9_.-]+"
    val names = Main.Workloads ++ Main.EndToEnd.map(_._1) ++ Main.PerLayer.map(_._1)
    check("every workload and metric name matches [A-Za-z0-9_.-]+") {
      names.forall(_.matches(name)) && names.distinct.size == names.size
    }

    Main.Workloads.foreach(w => println(s"workload $w"))
    Main.EndToEnd.foreach { case (n, u) => println(s"end_to_end $n $u") }
    Main.PerLayer.foreach { case (n, u) => println(s"per_layer $n $u") }
    if (failures > 0) {
      System.err.println(s"$failures self-test(s) failed")
      sys.exit(1)
    }
  }
}
