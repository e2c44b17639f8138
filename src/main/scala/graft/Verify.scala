package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each `SparkEntry.queries` result → parquet
  * (`<outDir>/<name>`), plus `oracle_sql.json`, for the DuckDB compare
  * of `scripts/check_oracle.py`.
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir>`. To dump a few
  * queries, name them: `GRAFT_VERIFY_ONLY=q1_pricing_summary,q28_ann_ivf
  * runMain graft.Verify <sfDir> <outDir>` writes only their parquet and
  * oracle entries, and then `python3 scripts/check_oracle.py <outDir>
  * <sfDir>` compares just those. An unknown name fails before any query
  * runs.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession("graft-verify")
    val selected = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(v => SparkEntry.named(v.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
      .getOrElse(SparkEntry.queries.toSeq)
    new java.io.File(outDir).mkdirs()
    val keep = selected.map(_._1).toSet
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A throwing query must leave a loud in-repo trace, not just a line
    // on stderr: its row would otherwise be silently ABSENT from the
    // correctness JSON and the cause lost (the round-8 forensics
    // problem). _failed.json maps query → exception summary.
    if (failed.nonEmpty) {
      val fj = failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/_failed.json"), fj)
      System.err.println(s"[verify] ${failed.size} queries failed -> $outDir/_failed.json")
    }
    spark.stop()
  }
}
