package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Input validation + multi-file merge (reference: src/input.cpp).
  */
object Validate {

  /** Ordering check (check_input, src/input.cpp:24-60): ids must be
    * non-negative, strictly ascending in *input order*. Returns the ids
    * that violate — empty means valid. The reference throws on first
    * violation while streaming; set-at-a-time we report all of them.
    * `posCol`: a column giving the original input position; when None, a
    * monotonically increasing id is attached (correct per input file
    * split, which is the granularity the reference checks too). */
  def orderingViolations(df: DataFrame, idCol: String = "id",
      posCol: Option[String] = None): DataFrame = {
    val withPos = posCol.map(p => df.select(col(idCol), col(p).as("__pos")))
      .getOrElse(df.select(col(idCol),
        monotonically_increasing_id().as("__pos")))
    val w = Window.orderBy(col("__pos").asc)
    // negative ids rejected outright (src/input.cpp:26-29); duplicates
    // violate strict ascending
    withPos.withColumn("__prev", lag(col(idCol), 1).over(w))
      .where(col(idCol) < 0 ||
        (col("__prev").isNotNull && col(idCol) <= col("__prev")))
      .select(col(idCol))
  }

  /** K-way multi-file merge (process_multiple_files,
    * src/input.cpp:261-303): union N inputs, drop duplicate ids keeping
    * the highest (version, file-priority) — Spark's sort/aggregate
    * replaces the reference's priority queue. `priorityCol` breaks ties
    * between files carrying the same (id, version). */
  def mergeFiles(dfs: Seq[DataFrame], idCol: String, versionCol: String,
      priorityCol: String): DataFrame = {
    val unioned = dfs.reduce(_ unionByName _)
    val w = Window.partitionBy(col(idCol))
      .orderBy(col(versionCol).desc, col(priorityCol).desc)
    unioned.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Oversize-relation guard (src/osmdata.cpp:151-156,
    * input.feature "Overly large relations are ignored"): relations
    * with more than 32767 members are dropped at ingest — the
    * reference's int16 member-index limit. Pure filter; pushes to the
    * scan where the members column is shredded. */
  def dropOversizeRelations(rels: DataFrame,
      membersCol: String = "members",
      max: Int = graft.model.OsmSchema.MaxRelationMembers): DataFrame =
    // null members pass: delete tombstones in the append flow carry
    // no payload (delete-callbacks.feature) and must reach the
    // process_deleted_relation dispatch
    rels.where(col(membersCol).isNull || size(col(membersCol)) <= max)

  /** Node bbox source filter (src/osmdata.cpp:48-50): pushed to the
    * scan by Catalyst. */
  def bboxFilter(nodes: DataFrame, minLon: Double, minLat: Double,
      maxLon: Double, maxLat: Double): DataFrame =
    nodes.where(col("lon").between(minLon, maxLon) &&
      col("lat").between(minLat, maxLat))

  /** Invalid-location node drop (src/osmdata.cpp:42-47). */
  def dropInvalidLocations(nodes: DataFrame): DataFrame =
    nodes.where(!isnan(col("lon")) && !isnan(col("lat")) &&
      col("lon").between(-180.0, 180.0) && col("lat").between(-90.0, 90.0))
}
