package graft.vintage

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, Metadata => FieldMetadata, MetadataBuilder, StructType}

/** Identity columns, Delta-style: `id BIGINT GENERATED ALWAYS AS
  * IDENTITY (START WITH s INCREMENT BY k)` in SQL DDL (via
  * `TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS`),
  * stored as table properties:
  *
  *  - `vintage.identity.<col>` = `start,step,allowExplicitInsert`
  *  - `vintage.identity.<col>.hwm` = the HIGH WATER MARK: the most
  *    extreme value ever allocated or accepted, carried in the commit
  *    that wrote past it.
  *
  * Allocation contract (Delta's documented semantics): values are
  * UNIQUE and move strictly away from `start` in the direction of
  * `step`, but are NOT guaranteed consecutive — parallel writers and
  * per-partition allocation leave gaps. Two owners keep it:
  *
  *  - the table writer (`graftshim.VintageDataWriter`) fills every
  *    NULL identity slot of every write — fluent writes add a missing
  *    identity column as NULL — with `base + step * (partition +
  *    partitions * row)`, where `base` is one step past the mark when
  *    the write's tasks are planned (each streaming epoch anew), so
  *    uniqueness needs no coordination inside the write, and fails the
  *    task when a value would leave BIGINT;
  *  - `VintageTable.commitOp` moves the mark past the values its adds
  *    hold ([[advance]], [[marked]]). A racing commit that moved only
  *    the mark is retried over the winner's mark, unless the winner's
  *    mark reached a base this commit allocated from ([[reached]]):
  *    that fails with `VintageTable.IdentityConflictException`, and
  *    fluent writes re-run from the fresh mark.
  *
  * GENERATED ALWAYS rejects writer-supplied values; BY DEFAULT
  * (`allowExplicitInsert`) accepts them and advances the mark past
  * them, so later generated values never collide.
  */
object IdentityColumns {

  val Prefix = "vintage.identity."
  private val HwmSuffix = ".hwm"

  case class IdentitySpec(start: Long, step: Long, allowExplicit: Boolean) {
    require(step != 0, "identity INCREMENT must be non-zero")
    /** First value to allocate when the mark is `hwm`; None once the
      * mark is the last BIGINT value in step direction.
      */
    def nextBase(hwm: Option[Long]): Option[Long] =
      hwm.fold(Option(start))(stepPast(_, step))
    /** True when `a` is strictly beyond `b` in step direction. */
    def beyond(a: Long, b: Long): Boolean = if (step > 0) a > b else a < b
  }

  /** The value one `step` past `mark`, or None when that leaves
    * BIGINT: the column's id space is exhausted.
    */
  def stepPast(mark: Long, step: Long): Option[Long] =
    try Some(Math.addExact(mark, step))
    catch { case _: ArithmeticException => None }

  /** (col -> spec) of every identity column in the table properties. */
  def specs(props: Map[String, String]): Map[String, IdentitySpec] =
    props.collect {
      case (k, v) if k.startsWith(Prefix) && !k.endsWith(HwmSuffix) =>
        // hand-set properties reach here unvalidated — fail with the
        // property name, not a MatchError in the middle of a DML op
        v.split(",", 3) match {
          case Array(s, i, a) =>
            try k.stripPrefix(Prefix) -> IdentitySpec(s.toLong, i.toLong, a.toBoolean)
            catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"malformed identity property $k = '$v' " +
                s"(expected 'start,step,allowExplicitInsert')")
            }
          case _ => throw new IllegalArgumentException(
            s"malformed identity property $k = '$v' " +
            s"(expected 'start,step,allowExplicitInsert')")
        }
    }

  /** Property key of `col`'s high water mark. */
  def hwmKey(col: String): String = s"$Prefix$col$HwmSuffix"

  /** Recorded high water mark for `col`, absent until first allocation. */
  def hwm(props: Map[String, String], col: String): Option[Long] =
    props.get(hwmKey(col)).map(_.toLong)

  /** Table properties recording the given specs. */
  def properties(id: Map[String, IdentitySpec]): Map[String, String] =
    id.map { case (c, s) =>
      s"$Prefix$c" -> s"${s.start},${s.step},${s.allowExplicit}"
    }

  /** Extract identity specs Spark's DDL path ships in field metadata
    * (`IdentityColumn.getIdentityInfo`) and return the schema with
    * that metadata stripped — like [[GeneratedColumns]], the log
    * stores the contract as table properties, not field metadata.
    */
  def fromCreateSchema(schema: StructType): (StructType, Map[String, IdentitySpec]) = {
    val ic = org.apache.spark.sql.catalyst.util.IdentityColumn
    val out = scala.collection.mutable.Map[String, IdentitySpec]()
    val stripped = StructType(schema.fields.map { f =>
      ic.getIdentityInfo(f) match {
        case Some(s) =>
          require(f.dataType == LongType,
            s"identity column ${f.name} must be BIGINT, got ${f.dataType.sql}")
          out(f.name) = IdentitySpec(s.getStart, s.getStep, s.isAllowExplicitInsert)
          f.copy(metadata = dropKeys(f.metadata, Seq(
            ic.IDENTITY_INFO_START, ic.IDENTITY_INFO_STEP,
            ic.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT)))
        case None => f
      }
    })
    (stripped, out.toMap)
  }

  private def dropKeys(m: FieldMetadata, keys: Seq[String]): FieldMetadata = {
    val b = new MetadataBuilder().withMetadata(m)
    keys.foreach(b.remove)
    b.build()
  }

  /** Observed (min, max, nullCount) of `col` across the written files:
    * from log stats when every non-empty file carries them, else one
    * bounded scan of exactly the written files (stats cap wide tables
    * at 32 columns, and soundness must not depend on column position).
    */
  private def observedRange(
      spark: SparkSession, tableDir: String, adds: Seq[AddFile],
      physCol: String): Option[(Long, Long, Long)] = {
    val nonEmpty = adds.filterNot(_.numRecords.contains(0L))
    if (nonEmpty.isEmpty) return None
    val fromStats = nonEmpty.flatMap { a =>
      a.stats.get(physCol) match {
        case Some(ColStats(Some(mn), Some(mx), nulls, _)) =>
          Some((mn.toLong, mx.toLong, nulls.getOrElse(0L)))
        case _ => None
      }
    }
    if (fromStats.size == nonEmpty.size)
      Some((fromStats.map(_._1).min, fromStats.map(_._2).max,
        fromStats.map(_._3).sum))
    else {
      val paths = nonEmpty.map(_.absolutePath(tableDir))
      val r = spark.read.parquet(paths: _*)
        .agg(min(col(physCol)), max(col(physCol)),
          sum(when(col(physCol).isNull, 1L).otherwise(0L)))
        .head()
      if (r.isNullAt(0)) Some((0L, 0L, r.getLong(2)))
      else Some((r.getLong(0), r.getLong(1), r.getLong(2)))
    }
  }

  /** The value each identity column's mark must reach to cover the
    * written files `adds`: their most extreme value in step direction
    * (no entry when they hold none). The writer fills every NULL slot,
    * so a NULL here means a file bypassed it and is rejected.
    */
  def advance(
      spark: SparkSession, tableDir: String, tableSchema: StructType,
      props: Map[String, String], adds: Seq[AddFile]): Map[String, Long] =
    specs(props).flatMap { case (c, spec) =>
      val phys = if (ColumnMapping.mapped(tableSchema))
        ColumnMapping.toPhysical(tableSchema, c) else c
      observedRange(spark, tableDir, adds, phys).map { case (mn, mx, nulls) =>
        require(nulls == 0,
          s"identity column $c contains $nulls NULLs — identity values " +
          s"must be allocated or explicitly supplied, never null")
        c -> (if (spec.step > 0) mx else mn)
      }
    }

  /** `props` with each identity column's mark at the most extreme of
    * its own, `floor`'s and the observed `edges` — a mark only moves
    * away from `start`. A first edge short of `start` (an explicit
    * value behind the allocation range) sets no mark.
    */
  def marked(props: Map[String, String], edges: Map[String, Long],
      floor: Map[String, String]): Map[String, String] =
    props ++ specs(props).flatMap { case (c, spec) =>
      val candidates = hwm(props, c) ++ hwm(floor, c) ++ edges.get(c).filter(e =>
        !spec.beyond(spec.start, e))
      candidates.reduceOption((a, b) => if (spec.beyond(b, a)) b else a)
        .map(hwmKey(c) -> _.toString)
    }

  /** `props` without the marks: what two commits compare to tell a
    * mark-only race from a real metadata change.
    */
  def unmarked(props: Map[String, String]): Map[String, String] =
    props.filterNot { case (k, _) => k.startsWith(Prefix) && k.endsWith(HwmSuffix) }

  /** The columns of `bases` (column -> first value a write allocated)
    * whose mark in `props` already reached that base: their allocated
    * ids may collide with ids another commit recorded.
    */
  def reached(bases: Map[String, Long], props: Map[String, String]): Seq[String] =
    bases.toSeq.collect { case (c, base) if specs(props).get(c).exists(spec =>
      hwm(props, c).exists(h => !spec.beyond(base, h))) => c }

  /** Carry identity properties through RENAME COLUMN (`to = Some`) or
    * remove them on DROP COLUMN (`to = None`) — orphaned
    * `vintage.identity.<old>` entries would make fluent writes add a
    * phantom column under the old name and brick every append.
    */
  def rewriteProps(props: Map[String, String], from: String,
      to: Option[String]): Map[String, String] = {
    val specKey = props.keys.find(k => k.startsWith(Prefix) &&
      !k.endsWith(HwmSuffix) && k.stripPrefix(Prefix).equalsIgnoreCase(from))
    specKey match {
      case None => props
      case Some(k) =>
        val old = k.stripPrefix(Prefix)
        val stripped = props - k - hwmKey(old)
        to match {
          case None => stripped
          case Some(n) =>
            stripped ++ Seq(s"$Prefix$n" -> props(k)) ++
              props.get(hwmKey(old)).map(hwmKey(n) -> _)
        }
    }
  }

  /** Reject row-level assignments to GENERATED ALWAYS identity columns
    * (UPDATE/MERGE SET id = …): explicit values there break the
    * allocation contract exactly like explicit INSERTs do.
    */
  def validateAssignments(setCols: Iterable[String],
      props: Map[String, String]): Unit = {
    val id = specs(props)
    if (id.isEmpty) return
    setCols.foreach { c =>
      id.find(_._1.equalsIgnoreCase(c)).foreach { case (_, s) =>
        require(s.allowExplicit,
          s"cannot assign identity column $c: it is GENERATED ALWAYS")
      }
    }
  }
}
