package graft.tools

/** Prints the physical plan of the soak's lazy LSH count under the
  * soak's session ([[ScaleSoak.conf]], partitions sized for 50M rows)
  * — the "which SMJ sorts what, above which exchange" diagnostic
  * behind the 50M heap forensics. Row count is irrelevant to plan
  * SHAPE, so this runs in seconds.
  */
object PlanPeek {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession("plan-peek", Some("local[2]"),
      ScaleSoak.conf(ScaleSoak.partitions(50000000L)))
    val verified = graft.operators.Dedup.nearDupPairs(
      ScaleSoak.corpus(spark, 5000L), "id", "text",
      shingleSize = 5, numHashes = 128, bands = 16, threshold = 0.8,
      maxBucketSize = 10000, materialize = false)
    verified.groupBy().count().explain("formatted")
    spark.stop()
  }
}
