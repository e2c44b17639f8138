package graft.vintage

import java.util.concurrent.atomic.AtomicLong

import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Driver-memory bound for HUGE tables (the 100 TB wall): past
  * [[VintageLog.spillThreshold]] checkpoint rows, log replay stops
  * folding the checkpoint's AddFile list into driver objects and keeps
  * a [[SpilledIndex]] instead — the checkpoint PARQUET file (already
  * one row per action with the canonical action JSON) plus the bounded
  * tail of post-checkpoint adds/removes. Consumers then split:
  *
  *  - Predicate scans and DML planning prune DISTRIBUTED:
  *    [[SpilledIndex.candidates]] maps the checkpoint rows to AddFiles
  *    on executors, applies the exact same [[FileSkipping]] logic
  *    there, and collects only the surviving (pruned) file list — the
  *    driver never holds the full million-file state.
  *  - Blind appends commit without reading the file list at all
  *    (`freshAdds` in [[VintageTable.commitOp]]).
  *  - Checkpoint writes STREAM: the new checkpoint copies the previous
  *    checkpoint's add rows row-by-row (O(1) driver memory), drops
  *    removed paths, appends the tail — never materializing the list
  *    to serialize it.
  *  - Everything else (vacuum, restore, unpruned full scans, DV
  *    planning) still works through [[Snapshot.files]], which is a
  *    [[LazyFileList]]: it materializes ON DEMAND from the index — the
  *    compatibility tier, correct at any size, driver-bounded only by
  *    what actually asks for the whole list. (An unpruned scan needs
  *    every file path on the driver to plan anyway — the same cost
  *    Spark's own InMemoryFileIndex and Delta's snapshot pay.)
  *
  * This mirrors Delta's DataFrame-backed snapshot state: checkpoint
  * state lives in a distributed-readable file, and the driver holds
  * only pruned views.
  */
final case class SpilledIndex(
    checkpointPaths: Seq[String],
    tailAdds: Seq[AddFile],
    tailRemoves: Set[String]) {

  private def tailAddPaths: Set[String] = tailAdds.map(_.path).toSet

  /** Paths whose checkpoint row is superseded by the tail (removed, or
    * re-added with a newer AddFile).
    */
  def supersededPaths: Set[String] = tailRemoves ++ tailAddPaths

  /** The logical-stats view [[Snapshot.statFiles]] exposes, applied
    * per file (column-mapping remap + synthetic partition stats).
    */
  private def statView(schema: StructType, partitionCols: Seq[String],
      files: Seq[AddFile]): Seq[AddFile] = {
    val logical = ColumnMapping.statsToLogical(schema, files)
    if (partitionCols.isEmpty) logical
    else logical.map(PartitionPaths.augment(schema, _))
  }

  /** Stats-pruned candidate files for `cond`, evaluated DISTRIBUTED
    * over the checkpoint parquet: executors parse each add row,
    * apply the same [[FileSkipping]] predicate the in-memory path
    * uses, and only survivors reach the driver. The bounded tail is
    * pruned driver-side and unioned.
    */
  def candidates(spark: SparkSession, schema: StructType,
      partitionCols: Seq[String], cond: Expression): Seq[AddFile] = {
    // locals only: the task closure must not capture this index
    val schemaB = schema
    val partsB = partitionCols
    val condB = cond
    val fromCheckpoint = spark.read.parquet(checkpointPaths: _*)
      .filter(col("action_type") === "add").select("json")
      .rdd.mapPartitions { it =>
        val adds = it.flatMap(r => Action.fromJsonLineLenient(r.getString(0)))
          .collect { case a: AddFile => a }.toSeq
        val logical = ColumnMapping.statsToLogical(schemaB, adds)
        val st = if (partsB.isEmpty) logical
                 else logical.map(PartitionPaths.augment(schemaB, _))
        FileSkipping.candidates(schemaB, st, condB).iterator
      }.collect().toSeq
    val dead = supersededPaths
    fromCheckpoint.filterNot(f => dead(f.path)) ++
      FileSkipping.candidates(schema, statView(schema, partitionCols, tailAdds),
        cond)
  }

  /** `f` folded with `op` over the live checkpoint adds, one value per
    * partition, computed distributed. Superseded rows are excluded.
    */
  private def foldCheckpointAdds[T: ClassTag](spark: SparkSession, zero: T)(
      f: Iterator[AddFile] => T, op: (T, T) => T): T = {
    val dead = supersededPaths
    spark.read.parquet(checkpointPaths: _*)
      .filter(col("action_type") === "add").select("json", "path")
      .rdd.mapPartitions { it =>
        Iterator.single(f(
          it.filter(r => !dead(r.getString(1)))
            .flatMap(r => Action.fromJsonLineLenient(r.getString(0)))
            .collect { case a: AddFile => a }))
      }.fold(zero)(op)
  }

  /** Table-wide INLINE deletion-vector position total, computed
    * distributed (feeds the global inline budget without a driver
    * walk). The bounded tail adds its own.
    */
  def inlineDvTotal(spark: SparkSession): Long =
    foldCheckpointAdds(spark, 0L)(_.map(_.dv.size.toLong).sum, _ + _) +
      tailAdds.iterator.map(_.dv.size.toLong).sum

  /** Full materialization (the compatibility tier): reproduce exactly
    * what the in-memory replay would have built. Driver-side streaming
    * read of the checkpoint — O(list) memory only here, and only for
    * consumers that genuinely need the whole list.
    */
  def materialize(conf: Configuration): Seq[AddFile] = {
    val m = scala.collection.mutable.LinkedHashMap[String, AddFile]()
    checkpointPaths.foreach(p => CheckpointCodec.read(new Path(p), conf).foreach {
      case a: AddFile => m(a.path) = a
      case _ => ()
    })
    tailRemoves.foreach(m.remove)
    tailAdds.foreach(a => m(a.path) = a)
    m.values.toSeq
  }
}

object SnapshotSpill {
  /** Test spy: counts full materializations of spilled file lists. */
  val materializations = new AtomicLong(0L)

  /** Test aid: record the call stack of each materialization. */
  @volatile var traceMaterializations: Boolean = false
}

/** A `Seq[AddFile]` that loads on first access — what keeps
  * [[Snapshot.files]] source-compatible for every consumer while the
  * spilled fast paths avoid touching it.
  */
final class LazyFileList(load: () => Seq[AddFile])
    extends scala.collection.immutable.Seq[AddFile] {
  private lazy val mat: Seq[AddFile] = {
    SnapshotSpill.materializations.incrementAndGet()
    if (SnapshotSpill.traceMaterializations)
      new Exception("spilled file list materialized here").printStackTrace()
    load()
  }
  override def apply(i: Int): AddFile = mat(i)
  override def length: Int = mat.length
  override def iterator: Iterator[AddFile] = mat.iterator
}

/** One prune entry point for every scan/DML planner: distributed over
  * the spilled index when present, the in-memory stats view otherwise.
  */
object SnapshotPruning {
  def candidates(spark: SparkSession, snap: Snapshot,
      cond: Expression): Seq[AddFile] =
    snap.spilled match {
      case Some(ix) =>
        ix.candidates(spark, snap.schema, snap.partitionColumns, cond)
      case None => FileSkipping.candidates(snap.schema, snap.statFiles, cond)
    }
}
