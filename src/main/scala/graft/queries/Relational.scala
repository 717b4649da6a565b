package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import Exact._

/** Core relational query surface over the synthetic star schema.
  *
  * These exercise the engine fundamentals every higher-level operator
  * builds on: scan + filter pushdown, hash aggregation with map-side
  * partials, broadcast vs shuffle joins, semi/anti joins, and window
  * functions. Each entry has a DuckDB oracle; aggregated doubles go
  * through the [[Exact]] decimal pattern so hashes match cross-engine.
  */
object Relational extends Registry {

  /** TPC-H Q1-style pricing summary. Filter is pushed to the parquet
    * scan; aggregation is a two-phase hash agg (partial + final). */
  def q1PricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" <= lit("1997-12-01").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        count(lit(1)).as("count_order"),
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsumProd($"l_extendedprice", lit(1.0) - $"l_discount").as("sum_disc_price"),
        davg($"l_discount", 18, 6).as("avg_disc"))
  }

  val q1Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       | count(*) AS count_order,
       | ${dsumSql("l_quantity")} AS sum_qty,
       | ${dsumSql("l_extendedprice")} AS sum_base_price,
       | ${dsumProdSql("l_extendedprice", "1.0 - l_discount")} AS sum_disc_price,
       | ${davgSql("l_discount", 18, 6)} AS avg_disc
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1997-12-01'
       |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Revenue by region: three-level dimension join. region/nation are
    * tiny → broadcast; orders⋈customer shuffles on custkey. */
  def q2RegionRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy($"r_name")
      .agg(
        count(lit(1)).as("n_orders"),
        dsum($"o_totalprice").as("revenue"))
  }

  val q2Sql: String =
    s"""SELECT r_name,
       | count(*) AS n_orders,
       | ${dsumSql("o_totalprice")} AS revenue
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name""".stripMargin

  /** Revenue by order priority: fact-fact join on orderkey. */
  def q3PriorityRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, sfDir)
    val l = Tables.lineitem(spark, sfDir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        dsumProd($"l_extendedprice", lit(1.0) - $"l_discount").as("revenue"))
  }

  val q3Sql: String =
    s"""SELECT o_orderpriority,
       | count(*) AS n_lines,
       | ${dsumProdSql("l_extendedprice", "1.0 - l_discount")} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority""".stripMargin

  /** Orders having at least one heavy line: LEFT SEMI join (EXISTS). */
  def q4SemiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, sfDir)
    val heavy = Tables.lineitem(spark, sfDir)
      .filter($"l_quantity" > 45.0)
      .select($"l_orderkey".as("o_orderkey"))
    o.join(heavy, Seq("o_orderkey"), "left_semi")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
  }

  val q4Sql: String =
    s"""SELECT o_orderstatus,
       | count(*) AS n_orders,
       | ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders
       |WHERE EXISTS (SELECT 1 FROM lineitem
       |              WHERE l_orderkey = o_orderkey AND l_quantity > 45.0)
       |GROUP BY o_orderstatus""".stripMargin

  /** Customers without any order: LEFT ANTI join (NOT EXISTS). */
  def q5AntiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir).select($"o_custkey".as("c_custkey"))
    c.join(o, Seq("c_custkey"), "left_anti")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"), dsum($"c_acctbal").as("sum_bal"))
  }

  val q5Sql: String =
    s"""SELECT c_mktsegment,
       | count(*) AS n_customers,
       | ${dsumSql("c_acctbal")} AS sum_bal
       |FROM customer
       |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
       |GROUP BY c_mktsegment""".stripMargin

  /** Top-3 orders per customer: ranking window with deterministic
    * tie-break on the unique orderkey. */
  def q6TopOrdersPerCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn")
  }

  val q6Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        row_number() OVER (PARTITION BY o_custkey
      |                           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |      FROM orders)
      |WHERE rn <= 3""".stripMargin

  /** Daily event rollup — string day key for cross-engine stability
    * (DATE round-trips differently through pandas/pyarrow). */
  def q7EventsDaily(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy(date_format($"ts", "yyyy-MM-dd").as("day"), $"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        dsum($"value").as("sum_value"))
  }

  val q7Sql: String =
    s"""SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       | count(*) AS n_events,
       | count(DISTINCT user_id) AS n_users,
       | ${dsumSql("value")} AS sum_value
       |FROM events
       |GROUP BY 1, 2""".stripMargin

  /** First/last event per user via ranking windows ordered by the unique
    * event_id (timestamps are unreliable cross-engine at ns precision). */
  def q8UserFirstLast(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val asc = Window.partitionBy($"user_id").orderBy($"event_id".asc)
    val desc = Window.partitionBy($"user_id").orderBy($"event_id".desc)
    Tables.events(spark, sfDir)
      .withColumn("rn_a", row_number().over(asc))
      .withColumn("rn_d", row_number().over(desc))
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n_events"),
        max(when($"rn_a" === 1, $"event_type")).as("first_type"),
        max(when($"rn_d" === 1, $"event_type")).as("last_type"),
        dsum($"value").as("sum_value"))
  }

  val q8Sql: String =
    s"""SELECT user_id,
       | count(*) AS n_events,
       | max(CASE WHEN rn_a = 1 THEN event_type END) AS first_type,
       | max(CASE WHEN rn_d = 1 THEN event_type END) AS last_type,
       | ${dsumSql("value")} AS sum_value
       |FROM (SELECT *,
       |        row_number() OVER (PARTITION BY user_id ORDER BY event_id ASC) AS rn_a,
       |        row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn_d
       |      FROM events)
       |GROUP BY user_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q1_pricing_summary"  -> (q1PricingSummary _),
    "q2_region_revenue"   -> (q2RegionRevenue _),
    "q3_priority_revenue" -> (q3PriorityRevenue _),
    "q4_semi_join"        -> (q4SemiJoin _),
    "q5_anti_join"        -> (q5AntiJoin _),
    "q6_top_orders"       -> (q6TopOrdersPerCustomer _),
    "q7_events_daily"     -> (q7EventsDaily _),
    "q8_user_first_last"  -> (q8UserFirstLast _))

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary"  -> q1Sql,
    "q2_region_revenue"   -> q2Sql,
    "q3_priority_revenue" -> q3Sql,
    "q4_semi_join"        -> q4Sql,
    "q5_anti_join"        -> q5Sql,
    "q6_top_orders"       -> q6Sql,
    "q7_events_daily"     -> q7Sql,
    "q8_user_first_last"  -> q8Sql)
}
