package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** How a declared key's result is checked. */
sealed trait Check

/** Equal rows to this DuckDB SQL over the same parquet tables, with the
  * same column names and a total ORDER BY on both sides. */
final case class Oracle(sql: String) extends Check

/** No SQL equivalent: the result is dumped and its rows checked only;
  * SURVEY.md §2.2.1 marks the key rows-only. */
case object RowsOnly extends Check

/** A physical operator the plan sweep in PlanAuditSpec rejects in every
  * batch plan, unless the key's semantics need it. */
sealed abstract class PlanAllowance(val operator: String)
object PlanAllowance {
  case object Cartesian extends PlanAllowance("CartesianProduct")
  case object SortMergeJoin extends PlanAllowance("SortMergeJoin")
}

/** One query key: its Spark body, how its result is checked, and the
  * plan operator it may use that the sweep otherwise rejects. */
final class Query private (val key: String, val check: Check,
                           val allow: Option[PlanAllowance], val body: Query.Q)

object Query {
  type Q = (SparkSession, String) => DataFrame

  def apply(key: String, check: Check, allow: Option[PlanAllowance] = None)(body: Q): Query =
    new Query(key, check, allow, body)

  /** Fixture table `name` under `dir`, the loader every body uses. */
  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)
}
