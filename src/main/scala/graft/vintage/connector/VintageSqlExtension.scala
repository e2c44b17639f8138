package graft.vintage.connector

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Session extension for vintage tables. SQL DML (`DELETE` /
  * `UPDATE` / `MERGE INTO`) needs NO extension rule: [[VintageSqlTable]]
  * implements `SupportsRowLevelOperations`, so Spark's own analyzer
  * rewrites plan them natively ([[VintageRowLevelOperation]]). What
  * remains here:
  *
  *  - `format("vintage")` batch reads resolve to their plan
  *    ([[VintageReads]]);
  *  - maintenance statements (OPTIMIZE / VACUUM / RESTORE / DESCRIBE
  *    HISTORY) are not Spark grammar — a delegating parser adds them;
  *  - SQL registrations of the codegen'd pipeline expressions.
  *
  * Register with
  * `spark.sql.extensions=graft.vintage.connector.VintageSqlExtension`.
  */
class VintageSqlExtension extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(_ => VintageReads)
    ext.injectParser((session, delegate) =>
      new VintageMaintenanceParser(session, delegate))
    VintageFunctions.registrations.foreach(ext.injectFunction)
    ext.injectTableFunction(VintageTableFunctions.tableChanges)
    // SQL UPDATE/MERGE plan natively (SupportsRowLevelOperations), so
    // the fluent paths' GENERATED ALWAYS identity validation never
    // runs for them — this closes that gap at the analyzer
    ext.injectCheckRule(_ => VintageIdentityCheck.check)
  }
}

/** Puts the plan of a `format("vintage")` read in place of its
  * [[VintagePlanRelation]], under the relation's own output attributes:
  * the snapshot's V2 relation takes them as its output, and the change
  * feed's plan is projected onto them.
  */
object VintageReads extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case l: LogicalRelation if l.relation.isInstanceOf[VintagePlanRelation] =>
      l.relation.asInstanceOf[VintagePlanRelation].plan match {
        case v2: DataSourceV2Relation => v2.copy(output = l.output)
        case p => Project(p.output.zip(l.output).map { case (a, o) =>
          Alias(a, o.name)(exprId = o.exprId) }, p)
      }
  }
}

/** Rejects SQL row-level writes that supply GENERATED ALWAYS identity
  * values (UPDATE SET id = …, MERGE UPDATE/INSERT carrying id) — the
  * same contract the fluent builders and the INSERT write builder
  * enforce. The analyzer rewrites UpdateTable/MergeIntoTable into
  * [[org.apache.spark.sql.catalyst.plans.logical.WriteDelta]] before
  * ANY injectable rule sees the original command (verified
  * empirically), so the validation reads the REWRITTEN plan: an
  * identity output column whose expression is anything but the
  * target's own attribute flowing through is an explicit value.
  * DELETE instructions are exempt — they write no data values.
  */
object VintageIdentityCheck {
  import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression}
  import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, MergeRows, Project, WriteDelta}
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  def check(plan: LogicalPlan): Unit = plan.foreach {
    case w: WriteDelta =>
      val props = w.originalTable.collectFirst {
        case r: DataSourceV2Relation =>
          r.table match {
            case v: VintageSqlTable => v.snapshot.properties
            case _ => Map.empty[String, String]
          }
      }.getOrElse(Map.empty)
      val always = graft.vintage.IdentityColumns.specs(props)
        .collect { case (c, s) if !s.allowExplicit => c.toLowerCase }.toSet
      if (always.nonEmpty) {
        val targetIds = w.originalTable.output
          .filter(a => always(a.name.toLowerCase)).map(_.exprId).toSet
        def ok(e: Expression): Boolean = e match {
          case a: AttributeReference => targetIds(a.exprId)
          case Alias(child, _) => ok(child)
          case _ => false
        }
        def reject(colName: String): Nothing =
          throw new IllegalArgumentException(
            s"cannot assign identity column $colName: it is GENERATED " +
            s"ALWAYS (write through the vintage API for allocation, or " +
            s"declare it GENERATED BY DEFAULT)")
        // skip benign single-child wrappers (sorts/exchanges the
        // planner may insert) so a plan-shape change cannot silently
        // reopen the gap this rule closes; stop at the first node
        // that actually produces the rows
        def unwrap(p: LogicalPlan): LogicalPlan = p match {
          case _: Project | _: MergeRows => p
          case u: org.apache.spark.sql.catalyst.plans.logical.UnaryNode =>
            unwrap(u.child)
          case other => other
        }
        unwrap(w.query) match {
          case p: Project =>
            p.projectList.foreach {
              case a: Alias if always(a.name.toLowerCase) && !ok(a.child) =>
                reject(a.name)
              case _ => ()
            }
          case m: MergeRows =>
            val idOrdinals = m.output.zipWithIndex
              .filter { case (a, _) => always(a.name.toLowerCase) }
            (m.matchedInstructions ++ m.notMatchedInstructions ++
                m.notMatchedBySourceInstructions).foreach {
              // Delete/Discard write no data values (the instruction
              // types are not publicly referenceable — match by name)
              case ins if ins.getClass.getSimpleName == "Delete" ||
                  ins.getClass.getSimpleName == "Discard" => ()
              case ins => ins.outputs.foreach { row =>
                idOrdinals.foreach { case (attr, i) =>
                  if (i < row.length && !ok(row(i))) reject(attr.name)
                }
              }
            }
          case _ => ()
        }
      }
    case _ => ()
  }
}

/** Table-valued functions. `table_changes` is Delta's batch
  * change-data-feed SQL surface:
  *
  * {{{
  * SELECT * FROM table_changes('cat.db.tbl', 2)        -- versions >= 2
  * SELECT * FROM table_changes('cat.db.tbl', 2, 5)     -- 2..5 inclusive
  * SELECT * FROM table_changes('/path/to/table', 0)    -- by path
  * }}}
  *
  * Rows carry every table column plus `_change_type` and
  * `_commit_version` — computed from the log like the DataFrame
  * option surface (`readChangeFeed`), not persisted change files.
  */
object VintageTableFunctions {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.connector.catalog.Identifier

  private def strLit(e: Expression, what: String): String = e match {
    case Literal(v, org.apache.spark.sql.types.StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Resolve a `table_changes` name argument to a table path: a string
    * containing `/` is a path; otherwise `[catalog.][ns.]table`
    * resolved against registered VintageCatalogs (current catalog when
    * unqualified).
    */
  private def resolvePath(spark: SparkSession, name: String): String = {
    if (name.contains("/")) return name
    val cm = spark.sessionState.catalogManager
    val parts = name.split('.')
    val (cat, rest) =
      if (parts.length > 1 && cm.isCatalogRegistered(parts.head))
        (cm.catalog(parts.head), parts.tail)
      else (cm.currentCatalog, parts)
    cat match {
      case v: VintageCatalog =>
        v.tablePath(Identifier.of(rest.init, rest.last))
      case other => throw new IllegalArgumentException(
        s"table_changes target $name resolves to non-vintage catalog " +
        s"${other.name()} — pass a path or a vintage catalog table")
    }
  }

  val tableChanges: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("table_changes"),
    new ExpressionInfo(VintageTableFunctions.getClass.getName, "table_changes"),
    (args: Seq[Expression]) => {
      require(args.length == 2 || args.length == 3,
        "table_changes(table, startingVersion[, endingVersion])")
      val spark = SparkSession.active
      val start = longLit(args(1), "startingVersion")
      val end = if (args.length == 3) longLit(args(2), "endingVersion") else -1L
      val path = resolvePath(spark, strLit(args(0), "table"))
      // TVF contract is INCLUSIVE start; changes() is exclusive-start
      graft.vintage.VintageTable.forPath(spark, path)
        .changes(start - 1L, end)
        .queryExecution.logical
    })
}

/** SQL registrations for the engine's codegen'd expressions, so the
  * pipeline primitives compose from plain SQL:
  *
  * {{{
  * SELECT cosine_similarity(a.embedding, b.embedding) FROM …
  * SELECT hyperplane_sketch(embedding, 8, 0) AS bucket FROM …
  * SELECT minhash_signature(shingles, 128) FROM …
  * }}}
  */
object VintageFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, IntegerLiteral}

  private def intArg(e: Expression, what: String): Int = e match {
    case IntegerLiteral(v) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    (FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[graft.functions.CosineSimilarity].getName,
        "cosine_similarity"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cosine_similarity(vec, vec)")
        graft.functions.CosineSimilarity(args(0), args(1))
      }),
    (FunctionIdentifier("hyperplane_sketch"),
      new ExpressionInfo(classOf[graft.functions.HyperplaneSketch].getName,
        "hyperplane_sketch"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "hyperplane_sketch(vec, planes, salt)")
        graft.functions.HyperplaneSketch(args(0),
          intArg(args(1), "planes"), intArg(args(2), "salt"))
      }),
    (FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[graft.functions.MinHashSignature].getName,
        "minhash_signature"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "minhash_signature(shingles, numHashes)")
        graft.functions.MinHashSignature(args(0), intArg(args(1), "numHashes"))
      }),
    (FunctionIdentifier("quantize8"),
      new ExpressionInfo(classOf[graft.functions.Quantize8].getName,
        "quantize8"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "quantize8(vec)")
        graft.functions.Quantize8(args(0))
      }),
    (FunctionIdentifier("whitespace_tokens"),
      new ExpressionInfo(classOf[graft.functions.WhitespaceTokens].getName,
        "whitespace_tokens"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "whitespace_tokens(text)")
        graft.functions.WhitespaceTokens(args(0))
      }),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[graft.functions.SimHash64].getName,
        "simhash64"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash64(text)")
        graft.functions.SimHash64(args(0))
      }),
    (FunctionIdentifier("kmv_mink"),
      new ExpressionInfo(classOf[graft.functions.KMinValues].getName,
        "kmv_mink"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "kmv_mink(hash, k)")
        graft.functions.KMinValues(args(0), intArg(args(1), "k"))
      }))
}
