package graft.vintage

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Stats-based file skipping: decide from `AddFile.stats` whether a
  * file can possibly contain a row matching a predicate. This is the
  * piece the reference gets from Delta's data skipping (SURVEY.md §4
  * "file skipping") — it turns a merge/delete/update against a 100 TB
  * table into a scan of only the files whose min/max range intersects
  * the predicate.
  *
  * Soundness contract: `mayMatch` may return true spuriously (file is
  * then scanned and the scan finds nothing) but must never return false
  * for a file that contains a matching row. Anything unrecognized —
  * casts, functions, missing stats, exotic types — degrades to true.
  */
object FileSkipping {

  /** Files that may contain rows matching `cond`. */
  def candidates(schema: StructType, files: Seq[AddFile], cond: Expression): Seq[AddFile] = {
    val n = normalize(cond)
    val memo = buildInMemo(schema, n)
    files.filter(f => mayMatch(schema, f, n, memo))
  }

  // ------------------------------------------------- large-IN fast path

  /** Probe-set pruning is the hot driver loop of the indexed-lookup
    * tier (a refresh batch's tens of thousands of LSH bucket keys
    * against a corpus-sized file list): the naive `In` check is
    * O(keys) range tests PER FILE. Lists past this size are pre-sorted
    * once per [[candidates]] call so each file pays one binary search
    * plus blooms for only the keys inside its [min, max] range.
    */
  private val FastInThreshold = 64

  /** Per-file bloom probes are capped: a file whose range admits more
    * candidate keys than this is simply scanned (returning true is
    * always sound) — keeps the driver's prune pass O(keys), not
    * O(keys × files), even for wide-range (uncompacted) files.
    */
  private val BloomProbeCap = 4096

  /** One pre-sorted `In` literal list: `longs` for integral columns
    * (natural order — the order [[cmp]]'s BigDecimal path induces on
    * same-unit integrals), `strs` for string columns (cpCompare
    * order). Exactly one of the two arrays is non-null.
    */
  private final class SortedInLits(val colType: DataType,
      val litType: DataType, val longs: Array[Long],
      val strs: Array[String])

  private val cpOrdering: Ordering[String] =
    (a: String, b: String) => ParquetStats.cpCompare(a, b)

  /** Collect the large all-literal `In` nodes of a normalized
    * predicate into an identity-keyed memo of pre-sorted value
    * arrays. Only the shapes the indexed-lookup probes take — an
    * integral or string column against same-typed literals — get the
    * fast path; everything else keeps the linear check.
    */
  private def buildInMemo(schema: StructType, e: Expression)
      : java.util.IdentityHashMap[Expression, SortedInLits] = {
    var memo: java.util.IdentityHashMap[Expression, SortedInLits] = null
    def integral(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    def visit(x: Expression): Unit = x match {
      case i @ In(a, list) if list.length >= FastInThreshold &&
          list.forall(_.isInstanceOf[Literal]) =>
        for (c <- attr(a);
             ct <- schema.fields.collectFirst {
               case f if f.name.equalsIgnoreCase(c) => f.dataType
             }) {
          val lits = list.asInstanceOf[Seq[Literal]].filter(_.value != null)
          val litTypes = lits.map(_.dataType).distinct
          if (litTypes.length == 1) {
            val lt = litTypes.head
            val prepared =
              if (integral(ct) && integral(lt)) {
                val arr = lits.map(_.value.asInstanceOf[Number].longValue())
                  .toArray
                java.util.Arrays.sort(arr)
                Some(new SortedInLits(ct, lt, arr, null))
              } else if (ct == StringType && lt == StringType) {
                val arr = lits.map(_.value.toString).toArray
                java.util.Arrays.sort(arr, cpOrdering)
                Some(new SortedInLits(ct, lt, null, arr))
              } else None
            prepared.foreach { p =>
              if (memo == null)
                memo = new java.util.IdentityHashMap[Expression, SortedInLits]
              memo.put(i, p)
            }
          }
        }
      case _ => x.children.foreach(visit)
    }
    visit(e)
    memo
  }

  /** Fast `attr IN (sorted keys)` file test: binary-search the range
    * overlap, then bloom-probe only the in-range keys (capped). Same
    * soundness contract as the linear path — missing stats, unparsable
    * stat strings, or an over-cap range degrade to true (scan).
    */
  private def fastInMayMatch(f: AddFile, c: String,
      s: SortedInLits): Boolean = {
    val st = stats(f, c) match {
      case Some(v) => v
      case None => return true
    }
    // mirror rangeContains' missing-range semantics: min/max absent
    // means "match unless the file is provably relevant-stat-free of
    // non-null rows" — i.e. only the nullCount-known all-null shape
    // can never satisfy an equality
    def inRangeCount: Int =
      if (s.longs != null) {
        (st.min, st.max) match {
          case (Some(mnS), Some(mxS)) =>
            val (mn, mx) =
              try ((BigDecimal(mnS), BigDecimal(mxS)))
              catch { case _: NumberFormatException => return -1 }
            // lowest index with v >= mn, first index with v > mx
            var lo = lowerBoundLong(s.longs, mn)
            val hi = upperBoundLong(s.longs, mx)
            hi - lo
          case _ => if (st.nullCount.isEmpty) -1 else 0
        }
      } else {
        (st.min, st.max) match {
          case (Some(mn), Some(mx)) =>
            val lo = lowerBoundStr(s.strs, mn)
            val hi = upperBoundStr(s.strs, mx)
            hi - lo
          case _ => if (st.nullCount.isEmpty) -1 else 0
        }
      }
    val n = inRangeCount
    if (n == 0) return false // no key inside the file's range: prune
    if (n < 0) return true   // range unknowable: scan
    st.bloom match {
      case Some(b) if n <= BloomProbeCap =>
        if (s.longs != null) {
          val mn = BigDecimal(st.min.get)
          var i = lowerBoundLong(s.longs, mn)
          val end = i + n
          while (i < end) {
            StatsBloom.renderLiteral(s.colType,
                java.lang.Long.valueOf(s.longs(i)), LongType) match {
              case Some(r) => if (StatsBloom.mightContain(b, r)) return true
              case None => return true // unrenderable: cannot prune
            }
            i += 1
          }
          false
        } else {
          val mn = st.min.get
          var i = lowerBoundStr(s.strs, mn)
          val end = i + n
          while (i < end) {
            StatsBloom.renderLiteral(s.colType, s.strs(i), StringType) match {
              case Some(r) => if (StatsBloom.mightContain(b, r)) return true
              case None => return true
            }
            i += 1
          }
          false
        }
      case _ => true // no bloom (or too many probes): the range says scan
    }
  }

  /** First index with arr(i) >= bound. */
  private def lowerBoundLong(arr: Array[Long], bound: BigDecimal): Int = {
    var lo = 0; var hi = arr.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (BigDecimal(arr(mid)) < bound) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** First index with arr(i) > bound. */
  private def upperBoundLong(arr: Array[Long], bound: BigDecimal): Int = {
    var lo = 0; var hi = arr.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (BigDecimal(arr(mid)) <= bound) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def lowerBoundStr(arr: Array[String], bound: String): Int = {
    var lo = 0; var hi = arr.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ParquetStats.cpCompare(arr(mid), bound) < 0) lo = mid + 1
      else hi = mid
    }
    lo
  }

  private def upperBoundStr(arr: Array[String], bound: String): Int = {
    var lo = 0; var hi = arr.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ParquetStats.cpCompare(arr(mid), bound) <= 0) lo = mid + 1
      else hi = mid
    }
    lo
  }

  /** The Column DSL reaches Catalyst as `UnresolvedFunction("=",…)`
    * nodes (SPARK-46057 ColumnNode conversion); parsed SQL arrives as
    * typed comparisons. Rewrite the well-known operator names into the
    * typed forms so both surfaces prune identically. Unknown functions
    * stay opaque (no pruning).
    */
  private[vintage] def normalize(e: Expression): Expression = e match {
    case f: UnresolvedFunction =>
      val a = f.arguments.map(normalize)
      (f.nameParts.last.toLowerCase, a) match {
        case ("=" | "==" | "equalto", Seq(l, r)) => EqualTo(l, r)
        case ("<=>" | "equalnullsafe", Seq(l, r)) => EqualNullSafe(l, r)
        case ("<" | "lessthan", Seq(l, r)) => LessThan(l, r)
        case ("<=" | "lessthanorequal", Seq(l, r)) => LessThanOrEqual(l, r)
        case (">" | "greaterthan", Seq(l, r)) => GreaterThan(l, r)
        case (">=" | "greaterthanorequal", Seq(l, r)) => GreaterThanOrEqual(l, r)
        case ("and", Seq(l, r)) => And(l, r)
        case ("or", Seq(l, r)) => Or(l, r)
        case ("not" | "!", Seq(c)) => Not(c)
        case ("in", l +: rest) if rest.nonEmpty => In(l, rest)
        case ("isnull", Seq(c)) => IsNull(c)
        case ("isnotnull", Seq(c)) => IsNotNull(c)
        case ("startswith", Seq(l, r)) => StartsWith(l, r)
        case _ => f.copy(arguments = a)
      }
    // the optimizer rewrites `In` past the inSetConversionThreshold
    // (default 10) into `InSet` over internal values — exactly the
    // shape a large probe-set lookup reaches the scan as. Rewrite it
    // back to the literal-list `In` this module prunes with (internal
    // values are valid `Literal(v, dt)` payloads).
    case s: InSet if s.child.resolved =>
      In(normalize(s.child), s.hset.toSeq.map(Literal(_, s.child.dataType)))
    case _ => e.mapChildren(normalize)
  }

  /** Equi-join column pairs (targetCol, sourceCol) extracted from a
    * merge condition like `master.key = submission.key`, used to prune
    * target files against the source's key range before the touched-file
    * join runs. Conjuncts that aren't attribute-equalities are ignored
    * (they can only narrow the match set further — still sound).
    */
  def equiJoinKeys(
      cond: Expression,
      targetAlias: Option[String], sourceAlias: Option[String],
      targetCols: Seq[String], sourceCols: Seq[String]): Seq[(String, String)] = {

    def side(parts: Seq[String]): Option[(Boolean, String)] = {
      val col = parts.last
      val prefix = if (parts.length > 1) Some(parts.dropRight(1).mkString(".")) else None
      val inT = targetCols.exists(_.equalsIgnoreCase(col))
      val inS = sourceCols.exists(_.equalsIgnoreCase(col))
      prefix match {
        case Some(p) if targetAlias.exists(_.equalsIgnoreCase(p)) =>
          if (inT) Some((true, col)) else None
        case Some(p) if sourceAlias.exists(_.equalsIgnoreCase(p)) =>
          if (inS) Some((false, col)) else None
        case Some(_) => None
        case None =>
          // unqualified: unambiguous only if it exists on exactly one side
          if (inT && !inS) Some((true, col))
          else if (inS && !inT) Some((false, col))
          else None
      }
    }

    def parts(e: Expression): Option[Seq[String]] = e match {
      case u: UnresolvedAttribute => Some(u.nameParts)
      case a: AttributeReference => Some(Seq(a.name))
      case _ => None
    }

    splitConjuncts(normalize(cond)).flatMap {
      case EqualTo(l, r) =>
        (parts(l).flatMap(side), parts(r).flatMap(side)) match {
          case (Some((true, t)), Some((false, s))) => Some((t, s))
          case (Some((false, s)), Some((true, t))) => Some((t, s))
          case _ => None
        }
      case _ => None
    }
  }

  def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  // ------------------------------------------------------------------ core

  private def mayMatch(schema: StructType, f: AddFile, e: Expression,
      memo: java.util.IdentityHashMap[Expression, SortedInLits] = null)
      : Boolean = e match {
    case And(l, r) =>
      mayMatch(schema, f, l, memo) && mayMatch(schema, f, r, memo)
    case Or(l, r) =>
      mayMatch(schema, f, l, memo) || mayMatch(schema, f, r, memo)
    case EqualTo(a, Literal(v, t)) => attr(a).forall(c => rangeContains(schema, f, c, v, t))
    case EqualTo(Literal(v, t), a) => attr(a).forall(c => rangeContains(schema, f, c, v, t))
    case EqualNullSafe(a, Literal(v, t)) =>
      if (v == null) attr(a).forall(c => mayHaveNull(f, c))
      else attr(a).forall(c => rangeContains(schema, f, c, v, t))
    case EqualNullSafe(Literal(v, t), a) =>
      if (v == null) attr(a).forall(c => mayHaveNull(f, c))
      else attr(a).forall(c => rangeContains(schema, f, c, v, t))
    case LessThan(a, Literal(v, t)) => attr(a).forall(c => minBelow(schema, f, c, v, t, strict = true))
    case LessThanOrEqual(a, Literal(v, t)) => attr(a).forall(c => minBelow(schema, f, c, v, t, strict = false))
    case GreaterThan(a, Literal(v, t)) => attr(a).forall(c => maxAbove(schema, f, c, v, t, strict = true))
    case GreaterThanOrEqual(a, Literal(v, t)) => attr(a).forall(c => maxAbove(schema, f, c, v, t, strict = false))
    // literal-on-left comparisons: flip
    case LessThan(Literal(v, t), a) => attr(a).forall(c => maxAbove(schema, f, c, v, t, strict = true))
    case LessThanOrEqual(Literal(v, t), a) => attr(a).forall(c => maxAbove(schema, f, c, v, t, strict = false))
    case GreaterThan(Literal(v, t), a) => attr(a).forall(c => minBelow(schema, f, c, v, t, strict = true))
    case GreaterThanOrEqual(Literal(v, t), a) => attr(a).forall(c => minBelow(schema, f, c, v, t, strict = false))
    case i @ In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
      val fast = if (memo == null) null else memo.get(i)
      if (fast != null) attr(a).forall(c => fastInMayMatch(f, c, fast))
      else attr(a).forall(c =>
        list.exists { case Literal(v, t) => rangeContains(schema, f, c, v, t) })
    case IsNull(a) => attr(a).forall(c => mayHaveNull(f, c))
    case IsNotNull(a) => attr(a).forall(c => mayHaveNotNull(f, c))
    case StartsWith(a, Literal(v, StringType)) if v != null =>
      attr(a).forall { c =>
        val p = v.toString
        stats(f, c).forall { s =>
          s.min.forall(m => ParquetStats.cpCompare(m.take(p.length), p) <= 0) &&
          s.max.forall(m => ParquetStats.cpCompare(m.take(p.length), p) >= 0)
        }
      }
    case Not(IsNull(a)) => attr(a).forall(c => mayHaveNotNull(f, c))
    case Not(IsNotNull(a)) => attr(a).forall(c => mayHaveNull(f, c))
    case _ => true // unknown shapes never prune
  }

  /** Column name if `e` is a plain (possibly qualified) attribute. */
  private def attr(e: Expression): Option[String] = e match {
    case u: UnresolvedAttribute => Some(u.nameParts.last)
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  private def stats(f: AddFile, col: String): Option[ColStats] =
    f.stats.collectFirst { case (k, v) if k.equalsIgnoreCase(col) => v }

  private def mayHaveNull(f: AddFile, col: String): Boolean =
    stats(f, col).flatMap(_.nullCount).forall(_ > 0)

  private def mayHaveNotNull(f: AddFile, col: String): Boolean =
    (stats(f, col).flatMap(_.nullCount), f.numRecords) match {
      case (Some(nulls), Some(n)) => nulls < n
      case _ => true
    }

  /** Whether the file could contain value `v` of type `t`: the [min,
    * max] range test, AND the per-file bloom when one was written —
    * the range cannot prune point lookups on high-cardinality
    * unsorted columns (every file spans the domain); the bloom can.
    * `renderLiteral` declines type pairings whose rendering isn't
    * provably the writer's, so the bloom never produces a false
    * negative.
    */
  private def rangeContains(schema: StructType, f: AddFile, col: String,
                            v: Any, t: DataType): Boolean =
    if (v == null) false // `col = null` matches no rows
    else stats(f, col).forall { s =>
      val rangeOk = (s.min, s.max) match {
        case (Some(mn), Some(mx)) =>
          cmp(schema, col, mn, v, t).forall(_ <= 0) &&
          cmp(schema, col, mx, v, t).forall(_ >= 0)
        case _ => s.nullCount.isEmpty // all-null file matches no equality
      }
      rangeOk && s.bloom.forall { b =>
        val colType = schema.fields.collectFirst {
          case fd if fd.name.equalsIgnoreCase(col) => fd.dataType
        }
        colType.flatMap(ct => StatsBloom.renderLiteral(ct, v, t)) match {
          case Some(r) => StatsBloom.mightContain(b, r)
          case None => true
        }
      }
    }

  /** Whether some value in the file could be < (or <=) `v`. */
  private def minBelow(schema: StructType, f: AddFile, col: String,
                       v: Any, t: DataType, strict: Boolean): Boolean =
    if (v == null) true
    else stats(f, col).forall { s =>
      s.min match {
        case Some(mn) => cmp(schema, col, mn, v, t).forall(c => if (strict) c < 0 else c <= 0)
        case None => s.nullCount.isEmpty
      }
    }

  /** Whether some value in the file could be > (or >=) `v`. */
  private def maxAbove(schema: StructType, f: AddFile, col: String,
                       v: Any, t: DataType, strict: Boolean): Boolean =
    if (v == null) true
    else stats(f, col).forall { s =>
      s.max match {
        case Some(mx) => cmp(schema, col, mx, v, t).forall(c => if (strict) c > 0 else c >= 0)
        case None => s.nullCount.isEmpty
      }
    }

  /** Compare a string-encoded stat value against literal `v:t` in the
    * value space of schema column `col`. None = incomparable (no prune).
    */
  private def cmp(schema: StructType, col: String, stat: String,
                  v: Any, t: DataType): Option[Int] = {
    val colType = schema.fields.collectFirst {
      case f if f.name.equalsIgnoreCase(col) => f.dataType
    }
    colType.flatMap { ct =>
      (ct, t) match {
        case (StringType, StringType) => Some(ParquetStats.cpCompare(stat, v.toString))
        case (BooleanType, BooleanType) =>
          Some(stat.toBoolean.compareTo(v.asInstanceOf[Boolean]))
        case _ =>
          // Stats and literals for datetime types live in different
          // value units (dates: epoch DAYS; timestamps: epoch MICROS),
          // so a blind numeric compare of a date column's stats against
          // a timestamp literal would prune files that actually contain
          // matching rows after Spark's date→timestamp coercion.
          (datetimeKind(ct), datetimeKind(t)) match {
            case (None, None) => // plain numerics: same unit by construction
              for (a <- numeric(ct, stat); b <- literalNumeric(t, v)) yield a.compare(b)
            case (Some(a), Some(b)) if a == b => // same datetime unit
              for (x <- numeric(ct, stat); y <- literalNumeric(t, v)) yield x.compare(y)
            case (Some(DateKind), Some(NtzKind)) =>
              // date column vs timestamp_ntz literal: Spark coerces the
              // date to midnight tz-free, i.e. days * 86_400_000_000
              for (x <- numeric(ct, stat); y <- literalNumeric(t, v))
                yield (x * MicrosPerDay).compare(y)
            case (Some(NtzKind), Some(DateKind)) =>
              for (x <- numeric(ct, stat); y <- literalNumeric(t, v))
                yield x.compare(y * MicrosPerDay)
            case _ =>
              // any pairing involving TimestampType (LTZ) and a different
              // datetime kind depends on the session time zone, and a
              // datetime vs plain-numeric pairing has no defined unit —
              // incomparable, so no prune (sound)
              None
          }
      }
    }
  }

  private val MicrosPerDay = BigDecimal(86400000000L)
  private val DateKind = 0
  private val TsKind = 1
  private val NtzKind = 2

  /** Datetime unit family, None for non-datetime types. */
  private def datetimeKind(dt: DataType): Option[Int] = dt match {
    case DateType => Some(DateKind)
    case TimestampType => Some(TsKind)
    case TimestampNTZType => Some(NtzKind)
    case _ => None
  }

  /** Stat string → Catalyst literal of column type `dt` (dates are
    * stored as epoch days, timestamps as epoch micros); None for types
    * the stats do not order or a string that does not parse.
    */
  private[vintage] def statLiteral(dt: DataType, s: String): Option[Literal] = dt match {
    case StringType => Some(Literal(UTF8String.fromString(s), dt))
    case DateType => s.toIntOption.map(Literal(_, dt))
    case TimestampType | TimestampNTZType => s.toLongOption.map(Literal(_, dt))
    case _: NumericType | BooleanType =>
      Option(Cast(Literal(s), dt, None, EvalMode.TRY).eval()).map(Literal(_, dt))
    case _ => None
  }

  /** Stat string → BigDecimal for numeric-ish column types. */
  private def numeric(dt: DataType, s: String): Option[BigDecimal] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | _: DecimalType =>
      try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }
    case FloatType | DoubleType =>
      val d = s.toDouble
      if (d.isNaN) None
      else if (d.isPosInfinity) Some(BigDecimal(Double.MaxValue) * 2)
      else if (d.isNegInfinity) Some(BigDecimal(Double.MinValue) * 2)
      else Some(BigDecimal(d))
    case _ => None
  }

  /** Catalyst literal value → BigDecimal (internal reps: UTF8String for
    * strings, Int days for dates, Long micros for timestamps).
    */
  private def literalNumeric(t: DataType, v: Any): Option[BigDecimal] = (t, v) match {
    case (_, null) => None
    case (ByteType, x: Byte) => Some(BigDecimal(x.toInt))
    case (ShortType, x: Short) => Some(BigDecimal(x.toInt))
    case (IntegerType | DateType, x: Int) => Some(BigDecimal(x))
    case (LongType | TimestampType | TimestampNTZType, x: Long) => Some(BigDecimal(x))
    case (FloatType, x: Float) => if (x.isNaN) None else Some(BigDecimal(x.toDouble))
    case (DoubleType, x: Double) => if (x.isNaN) None else Some(BigDecimal(x))
    case (_: DecimalType, x: org.apache.spark.sql.types.Decimal) =>
      Some(x.toBigDecimal)
    case _ => None
  }
}
