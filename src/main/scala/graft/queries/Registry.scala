package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One family of queries: each query by name, and the DuckDB-equivalent
  * SQL of those that SQL can express (the hash-compare oracle).
  * [[graft.SparkEntry]] lists every registry once. */
trait Registry {
  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q]
  def oracles: Map[String, String]
}
