package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the closure that builds its result
  * over an sf directory, and how that result is checked. Each family
  * object under `graft.queries` declares its rows; the maps
  * [[graft.SparkEntry.queries]] and [[graft.SparkEntry.oracleSql]] are
  * derived from them. */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
    oracle: Oracle)

sealed trait Oracle

object Oracle {

  /** DuckDB SQL the result is hash-compared against at sf0.01; column
    * names and types must match the Spark side. */
  final case class Sql(text: String) extends Oracle

  /** No SQL twin (engine-specific hashing, sampling, approximate
    * sketches): only the rows are checked, and `anchor` is the fully
    * qualified name of the spec that checks the query's recall or
    * exactness. */
  final case class RowsOnly(anchor: String) extends Oracle
}
