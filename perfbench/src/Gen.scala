package perfbench

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.zip.CRC32

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row

/** Seeded SDMX exchange-rate submissions, in the shape of the paper's
  * seven CSV messages: six string dimensions, OBS_VALUE, five
  * attributes and the series-level DECIMALS. Rows follow
  * `graft.sdmx.Sdmx.schema` (and `schemaEvolved` when OBS_COM is set).
  */
object SdmxRows {
  def key(cur: String, period: String): String = s"M:$cur:EUR:SP00:A:$period"

  def period(year: Int, month: Int): String = f"$year%04d-$month%02d"

  def row(cur: String, period: String, value: Double, status: String,
          decimals: Int, title: String): Row =
    Row("M", cur, "EUR", "SP00", "A", period, value, status, "A", decimals,
      title, cur, "0")

  def rowWithComment(cur: String, period: String, value: Double,
                     status: String, comment: String, decimals: Int,
                     title: String): Row =
    Row("M", cur, "EUR", "SP00", "A", period, value, status, comment, "A",
      decimals, title, cur, "0")

  /** Value with exactly four decimals, so `round(OBS_VALUE * 10000)` is
    * the same integer on the JVM and in Spark SQL.
    */
  def fourDecimals(x: Double): Double = math.round(x * 10000.0) / 10000.0

  /** Per-row checksum term over KEY, OBS_VALUE, OBS_STATUS and DECIMALS;
    * [[ChecksumSql]] computes the same term in Spark SQL.
    */
  def rowCrc(key: String, value: Double, status: String, decimals: Int): Long = {
    val c = new CRC32()
    c.update(s"$key|${math.round(value * 10000.0)}|$status|$decimals"
      .getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  val ChecksumSql: String =
    "crc32(concat_ws('|', KEY, CAST(CAST(round(OBS_VALUE * 10000) AS BIGINT) AS STRING), " +
      "OBS_STATUS, CAST(DECIMALS AS STRING)))"
}

/** Golden mode: the seven reference submissions with FIXTURES.md's
  * per-file keys, row counts and statuses. Values are seeded; the
  * relations the choreography relies on hold for every seed: data.5
  * repeats data.4's NOK forecast and changes CHF and RUB, and data.6
  * carries `OBS_COM = Improved precision` for CHF 2020-03.
  */
object Golden {
  val Titles: Map[String, String] = Map(
    "NOK" -> "Norwegian krone/Euro",
    "RUB" -> "Russian rouble/Euro",
    "CHF" -> "Swiss franc/Euro")
  private val Base = Map("NOK" -> 9.0, "RUB" -> 60.0, "CHF" -> 1.5)

  private def months(from: (Int, Int), to: (Int, Int)): Seq[String] =
    Iterator.iterate(from) { case (y, m) => if (m == 12) (y + 1, 1) else (y, m + 1) }
      .takeWhile { case (y, m) => y < to._1 || (y == to._1 && m <= to._2) }
      .map { case (y, m) => SdmxRows.period(y, m) }.toSeq

  /** The seven submissions, data.0 to data.6. */
  def submissions(seed: Long): IndexedSeq[Seq[Row]] = {
    val rng = new SplittableRandom(seed)
    def value(cur: String): Double =
      SdmxRows.fourDecimals(Base(cur) * (0.8 + 0.4 * rng.nextDouble()))
    def rows(curs: Seq[String], periods: Seq[String], status: String): Seq[Row] =
      for (c <- curs; p <- periods)
        yield SdmxRows.row(c, p, value(c), status, 4, Titles(c))
    val d0 = rows(Seq("NOK", "RUB"), months((1999, 1), (2019, 12)), "A")
    val d1 = rows(Seq("NOK", "RUB"), months((2020, 1), (2020, 2)), "A")
    val d2 = rows(Seq("CHF"), months((1999, 1), (2020, 2)), "A")
    val d3 = rows(Seq("CHF", "NOK", "RUB"), months((2007, 1), (2020, 2)), "A")
    val mar = SdmxRows.period(2020, 3)
    val forecast = Seq("CHF", "NOK", "RUB").map(c => c -> value(c)).toMap
    val d4 = Seq("CHF", "NOK", "RUB").map(c =>
      SdmxRows.row(c, mar, forecast(c), "F", 4, Titles(c)))
    val d5 = Seq("CHF", "NOK", "RUB").map { c =>
      val v = if (c == "NOK") forecast(c)
              else SdmxRows.fourDecimals(forecast(c) + 0.0001 + 0.01 * rng.nextDouble())
      SdmxRows.row(c, mar, v, "A", 4, Titles(c))
    }
    val chfFinal = d5.head.getDouble(6)
    val d6 = Seq(SdmxRows.rowWithComment("CHF", mar, chfFinal, "A",
      "Improved precision", 4, Titles("CHF")))
    IndexedSeq(d0, d1, d2, d3, d4, d5, d6)
  }
}

/** One message of the scale stream. */
sealed trait Op { def kind: String }
/** Upsert by KEY. `kind` is forecast, final, correction or revision. */
final case class Merge(kind: String, rows: Seq[Row], touched: Seq[Int]) extends Op
final case class DeleteSeries(series: Int) extends Op { def kind = "delete" }
final case class UpdateDecimals(series: Int, decimals: Int) extends Op { def kind = "update" }
/** Full replacement; also the initial load when `initial`. */
final case class Replace(rows: Seq[Row], initial: Boolean) extends Op {
  def kind: String = if (initial) "load" else "replace"
}

/** Scale mode: `series` exchange-rate series over a sliding window of
  * monthly periods, and the generator's own model of the table at
  * every version it has produced.
  *
  * Each round is one reporting month, in the order a statistics office
  * sends it: new-month forecasts (`OBS_STATUS=F`), final values, four
  * single-observation corrections, a revision of at least 10% of the
  * series (plus one earlier-deleted series sent again), a DECIMALS
  * update of one series, one series delete and a full replacement that
  * drops the oldest month, which keeps the table size steady.
  */
final class Stream(seed: Long, val series: Int, val periods: Int) {
  require(series >= 10 && series <= 17576, "series must fit a 3-letter code")
  private val rng = new SplittableRandom(seed)
  private val maxPeriods = periods + 4096
  private var lo = 0                   // oldest period in the window
  private var hi = periods - 1         // newest period in the window
  private val present = new Array[Boolean](series * maxPeriods)
  private val value = new Array[Double](series * maxPeriods)
  private val forecast = new Array[Boolean](series * maxPeriods)
  private val decimals = Array.fill(series)(4)
  private val live = Array.fill(series)(true)
  private val count = new Array[Int](series)
  private val sum = new Array[Long](series)
  private val versions = ArrayBuffer.empty[Stream.Version]
  private var step = 0

  def currency(s: Int): String = Stream.currency(s)
  def period(p: Int): String = SdmxRows.period(1990 + p / 12, p % 12 + 1)
  def key(s: Int, p: Int): String = SdmxRows.key(currency(s), period(p))
  private def title(s: Int): String = s"Currency ${currency(s)}/Euro"
  private def idx(s: Int, p: Int): Int = s * maxPeriods + p
  private def status(i: Int): String = if (forecast(i)) "F" else "A"
  private def crc(s: Int, p: Int): Long = {
    val i = idx(s, p)
    SdmxRows.rowCrc(key(s, p), value(i), status(i), decimals(s))
  }
  private def freshValue(s: Int): Double =
    SdmxRows.fourDecimals(0.5 + (s % 97) + rng.nextDouble())
  private def rowOf(s: Int, p: Int): Row = {
    val i = idx(s, p)
    SdmxRows.row(currency(s), period(p), value(i), status(i), decimals(s), title(s))
  }
  private def liveSeries: IndexedSeq[Int] = (0 until series).filter(live(_))
  private def pick(xs: IndexedSeq[Int]): Int = xs(rng.nextInt(xs.length))

  /** Latest committed version, or -1 before the initial load. */
  def latestVersion: Long = versions.length - 1L
  def opAt(v: Long): String = versions(v.toInt).op
  def liveRows: Long = count.iterator.map(_.toLong).sum
  def seriesAt(s: Int, v: Long): (Long, Long) = {
    val ver = versions(v.toInt)
    (ver.count(s).toLong, ver.sum(s))
  }
  def tableAt(v: Long): (Long, Long) = {
    val ver = versions(v.toInt)
    (ver.count.iterator.map(_.toLong).sum, ver.sum.sum)
  }

  // ------------------------------------------------------------- writes

  private def put(s: Int, p: Int, v: Double, isForecast: Boolean): Unit = {
    val i = idx(s, p)
    if (present(i)) { sum(s) -= crc(s, p); count(s) -= 1 }
    present(i) = true; value(i) = v; forecast(i) = isForecast
    sum(s) += crc(s, p); count(s) += 1
  }
  private def dropSeries(s: Int): Unit = {
    (lo to hi).foreach(p => present(idx(s, p)) = false)
    count(s) = 0; sum(s) = 0L
  }
  private def resum(s: Int): Unit = {
    val ps = (lo to hi).filter(p => present(idx(s, p)))
    count(s) = ps.length
    sum(s) = ps.iterator.map(crc(s, _)).sum
  }
  private def commit(op: Op): Op = {
    versions += Stream.Version(op.kind, count.clone(), sum.clone())
    op
  }
  private def rows(touched: Seq[Int], ps: Range): Seq[Row] =
    for (s <- touched; p <- ps if present(idx(s, p))) yield rowOf(s, p)

  /** Version 0: every series over the initial window. */
  def initial(): Replace = {
    require(versions.isEmpty)
    for (s <- 0 until series; p <- lo to hi) put(s, p, freshValue(s), isForecast = false)
    commit(Replace(rows(0 until series, lo to hi), initial = true)).asInstanceOf[Replace]
  }

  /** True when the next message starts a round. */
  def atRoundStart: Boolean = step % Stream.Round.length == 0

  /** The next message of the round schedule. */
  def next(): Op = {
    val kind = Stream.Round(step % Stream.Round.length)
    step += 1
    next(kind)
  }

  /** The next message, of the given kind. */
  def next(kind: String): Op = {
    val op: Op = kind match {
      case "forecast" =>
        hi += 1
        require(hi < maxPeriods, "stream ran past its period capacity")
        val ls = liveSeries
        ls.foreach(s => put(s, hi, freshValue(s), isForecast = true))
        Merge(kind, rows(ls, hi to hi), ls)
      case "final" =>
        val ls = liveSeries.filter(s => present(idx(s, hi)))
        ls.foreach { s =>
          val old = value(idx(s, hi))
          // a third of the finals confirm the forecast unchanged
          val v = if (rng.nextInt(3) == 0) old else freshValue(s)
          put(s, hi, v, isForecast = false)
        }
        Merge(kind, rows(ls, hi to hi), ls)
      case "correction" =>
        val s = pick(liveSeries)
        val ps = (lo to hi).filter(p => present(idx(s, p)))
        val p = ps(rng.nextInt(ps.length))
        put(s, p, freshValue(s), isForecast = false)
        Merge(kind, Seq(rowOf(s, p)), Seq(s))
      case "revision" =>
        val ls = liveSeries
        val n = math.max(1, (ls.length + 9) / 10)
        val revised = ls.map(s => (rng.nextLong(), s)).sortBy(_._1).take(n).map(_._2)
        revised.foreach(s => (lo to hi).filter(p => present(idx(s, p)))
          .foreach(p => put(s, p, freshValue(s), isForecast = false)))
        val back = (0 until series).filterNot(live(_))
        val again = if (back.isEmpty) Nil else Seq(pick(back))
        again.foreach { s =>
          live(s) = true
          (lo to hi).foreach(p => put(s, p, freshValue(s), isForecast = false))
        }
        val touched = (revised ++ again).sorted
        Merge(kind, rows(touched, lo to hi), touched)
      case "update" =>
        val s = pick(liveSeries)
        decimals(s) = if (decimals(s) == 4) 5 else 4
        resum(s)
        UpdateDecimals(s, decimals(s))
      case "delete" =>
        val s = pick(liveSeries)
        live(s) = false
        dropSeries(s)
        DeleteSeries(s)
      case "replace" =>
        (0 until series).foreach(s => present(idx(s, lo)) = false)
        lo += 1
        val ls = liveSeries
        val revised = ls.filter(_ => rng.nextInt(20) == 0).toSet
        for (s <- ls; p <- lo to hi if present(idx(s, p)) && revised(s))
          put(s, p, freshValue(s), isForecast = false)
        (0 until series).foreach(resum)
        Replace(rows(ls, lo to hi), initial = false)
    }
    commit(op)
  }

  // -------------------------------------------------------------- reads

  def randomLiveSeries(): Int = pick(liveSeries)
  def nextInt(n: Int): Int = rng.nextInt(n)
}

object Stream {
  final case class Version(op: String, count: Array[Int], sum: Array[Long])

  val Round: IndexedSeq[String] = IndexedSeq("forecast", "final", "correction",
    "revision", "correction", "update", "correction", "delete", "correction",
    "replace")

  def currency(s: Int): String = {
    val a = ('A' + s / 676).toChar
    val b = ('A' + s / 26 % 26).toChar
    val c = ('A' + s % 26).toChar
    s"$a$b$c"
  }
}
