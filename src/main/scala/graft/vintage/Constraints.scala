package graft.vintage

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** CHECK constraints, Delta-style: stored as table properties
  * (`vintage.constraints.<name> = <sql predicate>`), validated against
  * existing data when added, and enforced INLINE on every data-changing
  * write — a compiled per-row predicate in the table writer's tasks
  * ([[org.apache.spark.sql.graftshim.VintageWrite]]), never a separate
  * validation pass over the data (at 100 TB a second pass would double
  * every ingest).
  *
  * Null semantics follow the SQL standard for CHECK: a row violates
  * only when the predicate evaluates to FALSE; NULL passes.
  */
object Constraints {

  val Prefix = "vintage.constraints."

  /** (name -> predicate SQL) of every constraint in `props`. */
  def fromProperties(props: Map[String, String]): Map[String, String] =
    props.collect {
      case (k, v) if k.startsWith(Prefix) => k.stripPrefix(Prefix) -> v
    }

  /** The row-keeps condition of one constraint (null-safe). */
  def passes(predicateSql: String): Column =
    coalesce(expr(predicateSql), lit(true))
}
