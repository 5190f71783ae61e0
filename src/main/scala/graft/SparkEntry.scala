package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Extended, LayerC, Oracle, Query, RowsOnly, Relational, Relational2, Relational3, Relational4, Relational5, Relational6}

/** Driver contract — see SURVEY.md §7.
  *
  * Each query key is declared once, in one family of `graft.queries`,
  * with its body and its check. `queries` is the full operator inventory
  * (SURVEY.md §2); each key declared with an `Oracle` also has its DuckDB
  * SQL in `oracleSql`, with identical column names and a total ORDER BY
  * on both sides. Both maps are built once, here.
  */
object SparkEntry {

  /** Every declaration, family by family. */
  val declared: Seq[Query] =
    Relational.declared ++ Relational2.declared ++ Relational3.declared ++
      Relational4.declared ++ Relational5.declared ++ Relational6.declared ++
      LayerC.declared ++ Extended.declared

  private val bodies: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(d => d.key -> d.body).toMap

  private val oracles: Map[String, String] =
    declared.flatMap(d => d.check match {
      case Oracle(sql) => Some(d.key -> sql)
      case RowsOnly    => None
    }).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = bodies

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = oracles
}
