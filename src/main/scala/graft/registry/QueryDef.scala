package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query, defined once next to its tier: its name, the plan
  * `run(session, sfDir)`, and how its result is checked.
  * [[SparkEntry.queries]] and [[SparkEntry.oracleSql]] are derived from
  * these definitions. */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    check: QueryDef.Check)

object QueryDef {

  /** How a query's result is checked: exactly one of the three cases. */
  sealed trait Check

  /** Compared against this DuckDB SQL over the same parquet tables. */
  final case class Oracle(sql: String) extends Check

  /** Compared against the oracle of query `name`, verbatim — for a query
    * that computes the same result another way (the SQL-surface mirrors, a
    * second engine, a payload variant that decodes to the same pixels).
    * `name` must hold an `Oracle`. */
  final case class SameAs(name: String) extends Check

  /** Not SQL-expressible: checked rows-only, its laws pinned by the test
    * class `spec` (fully qualified). */
  final case class RowsOnly(spec: String) extends Check
}
