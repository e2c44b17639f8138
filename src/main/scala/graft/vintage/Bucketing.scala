package graft.vintage

import org.apache.spark.sql.types.StructType

/** Hash-bucketed vintage tables — the shuffle-free-join layout.
  *
  * A table created with
  * `vintage.bucketing.columns = "k"` and `vintage.bucketing.buckets = "8"`
  * has every data file pinned to one of 8 hash buckets of `k`: the
  * table writer ([[org.apache.spark.sql.graftshim.VintageWrite]])
  * requires a clustered distribution on `k` with exactly 8 partitions,
  * which Spark plans as its own `HashPartitioning` (so the task
  * partition index IS the bucket id — the identical
  * `pmod(murmur3(k), n)` Spark's planner assumes for bucketed
  * relations), and names each file with the `_NNNNN` suffix
  * `BucketingUtils` parses. The read path
  * ([[connector.VintageNativeScan]]) then reports the layout as Spark's
  * key-grouped partitioning on `bucket(n, k)`, and Spark plans
  * joins/aggregations on the bucket column WITHOUT an Exchange on the
  * table's side — at 100 TB this converts every fact⋈fact join on the
  * bucket key from two full shuffles into zero. Spark groups scan
  * partitions by a single-column transform only, so a table bucketed
  * on several columns keeps the aligned files but reads unclaimed.
  *
  * Invariants:
  *  - Bucketing is fixed at CREATE (see [[VintageTable.setProperties]]):
  *    flipping it on later would claim a layout the existing files
  *    don't have.
  *  - EVERY batch write goes through that writer, which re-buckets
  *    unconditionally — fluent appends, overwrites, MERGE / UPDATE /
  *    DELETE rewrites and compaction, SQL INSERT/CTAS, and the
  *    row-level WriteDelta (UPDATE/MERGE), which requests the same
  *    distribution, all emit bucket-aligned files (an UPDATE that
  *    changes a bucket column simply re-buckets the row). Z-order
  *    clustering degrades to bucket-partitioned layout (the bucket
  *    hash overrides the range partitioning; correctness unaffected).
  *    Only the STREAMING sink refuses (epochs honor no distribution
  *    requirement).
  *  - The `bucketing` WRITER feature gates foreign writers that would
  *    break the alignment; readers ignoring the layout stay correct.
  *  - Deletion vectors do not change the layout: the scan drops deleted
  *    positions inside each file's task, so a table with deletion
  *    vectors outstanding claims its buckets like any other.
  */
object Bucketing {

  val ColumnsProp = "vintage.bucketing.columns"
  val BucketsProp = "vintage.bucketing.buckets"
  val SortProp = "vintage.bucketing.sortColumns"

  /** (bucket columns, bucket count) when the table is bucketed. */
  def spec(properties: Map[String, String]): Option[(Seq[String], Int)] =
    properties.get(ColumnsProp).map { cs =>
      val cols = cs.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val n = properties.getOrElse(BucketsProp,
        throw new IllegalArgumentException(
          s"$ColumnsProp is set but $BucketsProp is not")).toInt
      require(cols.nonEmpty, s"$ColumnsProp must name at least one column")
      require(n > 0, s"$BucketsProp must be positive, got $n")
      (cols, n)
    }

  /** In-bucket sort columns (optional): files are written sorted by
    * these within each bucket and the scan reports them as its
    * ordering — a merge join on a freshly written (one-file-per-bucket)
    * table then needs neither Exchange NOR Sort. After appends a
    * bucket holds several files and Spark correctly stops claiming
    * the ordering (compaction restores it).
    */
  def sortCols(properties: Map[String, String]): Seq[String] =
    properties.get(SortProp).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))

  /** Create-time validation: columns exist and are not partition
    * columns (a hive-partitioned column never reaches the data files,
    * so it cannot carry a file-level bucket hash).
    */
  def validate(properties: Map[String, String], schema: StructType,
      partitionBy: Seq[String]): Unit = {
    spec(properties).foreach { case (cols, _) =>
      cols.foreach { c =>
        require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"bucketing column '$c' not in schema ${schema.fieldNames.mkString(", ")}")
        require(!partitionBy.exists(_.equalsIgnoreCase(c)),
          s"bucketing column '$c' cannot also be a partition column")
      }
    }
    val sorts = sortCols(properties)
    require(sorts.isEmpty || spec(properties).isDefined,
      s"$SortProp requires $ColumnsProp/$BucketsProp")
    sorts.foreach(c => require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"bucket sort column '$c' not in schema"))
  }

  private val CommittedName = """.*_(\d+)(?:\..*)?$""".r

  /** Bucket id of a committed file name (the same pattern Spark's
    * `BucketingUtils.getBucketId` applies on the scan side).
    */
  def bucketId(name: String): Option[Int] = name match {
    case CommittedName(id) => Some(id.toInt)
    case _ => None
  }
}
