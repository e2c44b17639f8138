package graft.vintage

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

/** The seven submissions of the paper's golden choreography as CSV
  * files, for hosts without the reference inputs. Each file has the
  * reference file's keys, row count and OBS_STATUS (FIXTURES.md §1):
  *
  *  - data.0: NOK and RUB, 1999-01..2019-12, 504 rows, status A
  *  - data.1: NOK and RUB, 2020-01..2020-02, 4 rows, status A
  *  - data.2: CHF, 1999-01..2020-02, 254 rows, status A
  *  - data.3: CHF, NOK and RUB, 2007-01..2020-02, 474 rows, status A
  *  - data.4: CHF, NOK and RUB, 2020-03, 3 forecasts, status F
  *  - data.5: the same keys as final values, status A; NOK repeats its
  *    forecast, CHF and RUB change
  *  - data.6: CHF 2020-03 with OBS_COM `Improved precision`, the only
  *    file with that column (ordered after OBS_STATUS)
  *
  * Values are seeded and fixed; DECIMALS is 4 everywhere.
  */
object GoldenSubmissions {
  private val Titles = Map(
    "NOK" -> "Norwegian krone/Euro",
    "RUB" -> "Russian rouble/Euro",
    "CHF" -> "Swiss franc/Euro")
  private val Base = Map("NOK" -> 9.0, "RUB" -> 60.0, "CHF" -> 1.5)
  private val Header = "FREQ,CURRENCY,CURRENCY_DENOM,EXR_TYPE,EXR_SUFFIX," +
    "TIME_PERIOD,OBS_VALUE,OBS_STATUS,COLLECTION,DECIMALS,TITLE,UNIT,UNIT_MULT"
  private val HeaderEvolved = Header.replace("OBS_STATUS,", "OBS_STATUS,OBS_COM,")

  /** `dir` when it holds the reference CSVs, else a temp directory with
    * the generated ones (written once per JVM).
    */
  def dirOr(dir: String): String =
    if (Files.isRegularFile(Paths.get(dir, "data.0.csv"))) dir else generated

  private lazy val generated: String = {
    val d = Files.createTempDirectory("golden-submissions")
    files.zipWithIndex.foreach { case (lines, i) => write(d.resolve(s"data.$i.csv"), lines) }
    d.toString
  }

  private def write(p: Path, lines: Seq[String]): Unit =
    Files.write(p, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))

  private def months(from: (Int, Int), to: (Int, Int)): Seq[String] =
    Iterator.iterate(from) { case (y, m) => if (m == 12) (y + 1, 1) else (y, m + 1) }
      .takeWhile { case (y, m) => y < to._1 || (y == to._1 && m <= to._2) }
      .map { case (y, m) => f"$y%04d-$m%02d" }.toSeq

  private def row(cur: String, period: String, value: Double, status: String,
      comment: Option[String] = None): String =
    (Seq("M", cur, "EUR", "SP00", "A", period, value.toString, status) ++
      comment.toSeq ++ Seq("A", "4", Titles(cur), cur, "0")).mkString(",")

  /** data.0 to data.6, header line first. */
  private def files: Seq[Seq[String]] = {
    val rng = new SplittableRandom(20200331L)
    def fourDecimals(x: Double): Double = math.round(x * 10000.0) / 10000.0
    def value(cur: String): Double = fourDecimals(Base(cur) * (0.8 + 0.4 * rng.nextDouble()))
    def rows(curs: Seq[String], periods: Seq[String]): Seq[String] =
      Header +: (for (c <- curs; p <- periods) yield row(c, p, value(c), "A"))
    val all = Seq("CHF", "NOK", "RUB")
    val d0 = rows(Seq("NOK", "RUB"), months((1999, 1), (2019, 12)))
    val d1 = rows(Seq("NOK", "RUB"), months((2020, 1), (2020, 2)))
    val d2 = rows(Seq("CHF"), months((1999, 1), (2020, 2)))
    val d3 = rows(all, months((2007, 1), (2020, 2)))
    val forecast = all.map(c => c -> value(c)).toMap
    val fin = all.map { c =>
      c -> (if (c == "NOK") forecast(c)
            else fourDecimals(forecast(c) + 0.0001 + 0.01 * rng.nextDouble()))
    }.toMap
    val d4 = Header +: all.map(c => row(c, "2020-03", forecast(c), "F"))
    val d5 = Header +: all.map(c => row(c, "2020-03", fin(c), "A"))
    val d6 = Seq(HeaderEvolved,
      row("CHF", "2020-03", fin("CHF"), "A", Some("Improved precision")))
    Seq(d0, d1, d2, d3, d4, d5, d6)
  }
}
