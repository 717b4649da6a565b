package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator's query entry; `oracleSql` holds
  * the DuckDB-equivalent SQL for the hash-compare gate. Sub-registries
  * live under [[graft.queries]] so each operator family is testable on
  * its own.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every query family, each listed once. A `def`, so registries
    * whose `oracles` is a `def` are still evaluated on every call. */
  private def registries: Seq[graft.queries.Registry] = {
    import graft.queries._
    Seq(Relational, Pipeline, Pipeline2, Pipeline3, Pipeline4, Pipeline5,
      Pipeline6, Pipeline7, Pipeline8, Pipeline9, Pipeline10, Pipeline11,
      Pipeline12, Pipeline13, OsmAnalog, GenQueries)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    merged("query", registries.map(_.queries))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    merged("oracle", registries.map(_.oracles))

  /** Restricts `m` (keyed by query name) to the queries that
    * `SPARK_GRAFT_ONLY` names, a comma-separated list; `m` whole when
    * that is unset. A name that is no query is refused, not skipped. */
  def selected[V](m: Map[String, V]): Map[String, V] =
    sys.env.get("SPARK_GRAFT_ONLY").fold(m) { list =>
      val names = list.split(",").map(_.trim).toSet
      val unknown = names.filterNot(queries.contains)
      require(unknown.isEmpty, "SPARK_GRAFT_ONLY names no query: " +
        unknown.toSeq.sorted.map(n => s"'$n'").mkString(", "))
      m.filter { case (n, _) => names(n) }
    }

  /** The union of the registries' maps; a name defined by two
    * registries fails here instead of one silently replacing the
    * other. */
  private def merged[V](what: String, maps: Seq[Map[String, V]])
      : Map[String, V] = {
    val twice = maps.flatMap(_.keys).groupBy(identity)
      .collect { case (name, seen) if seen.size > 1 => name }
    require(twice.isEmpty, s"$what defined in more than one registry: " +
      twice.toSeq.sorted.mkString(", "))
    maps.reduce(_ ++ _)
  }
}
