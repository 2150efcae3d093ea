package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle SQL.
  * Column names/aliases MUST match between the two — the driver sorts
  * columns by name before hashing.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    benchmarked: Boolean = true)

object QueryDef {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))

  /** A CORRECTNESS pin whose body is a CRUD/lifecycle side-effect
    * sequence rather than a data-path query: verified every round by the
    * oracle gate, but excluded from `graft.Bench` timing — its cost is
    * publish round-trips on a row-sized store, which would add constant
    * driver-side noise to the query throughput total without measuring
    * any operator. */
  def lifecyclePin(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle), benchmarked = false)
}
