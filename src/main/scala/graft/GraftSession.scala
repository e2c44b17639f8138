package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of every entry point (Bench, Verify,
  * the tools, the test session), so their configurations cannot drift
  * apart: master `local[n]` and `n` shuffle partitions, where `n` is
  * `SPARK_GRAFT_CPUS` or else 4; UTC session time zone; the vintage SQL
  * extension; no UI; WARN logging. `conf` adds to or overrides these.
  * Build one session per JVM: a second `getOrCreate` returns the first
  * session, overwrites its runtime confs and drops the static ones
  * (master, extensions).
  */
object GraftSession {
  private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def apply(appName: String, master: Option[String] = None,
      conf: Map[String, Any] = Map.empty): SparkSession = {
    val defaults = Map[String, Any](
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.vintage.connector.VintageSqlExtension",
      "spark.ui.enabled" -> "false")
    val spark = (defaults ++ conf).foldLeft(
        SparkSession.builder().appName(appName).master(master.getOrElse(s"local[$cpus]"))) {
      case (b, (k, v)) => b.config(k, v.toString)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
