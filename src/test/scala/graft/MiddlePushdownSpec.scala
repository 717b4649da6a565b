package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.classic.ClassicUpdate
import graft.operators.Middle
import graft.sources.OsmXml.OsmDataFrames

/** Pins the algebraic pushdowns q32/q38/q50 rely on (round 16): for
  * middle tables REBUILT from flat edge rows, the operator
  * compositions over assembled refs arrays equal the direct
  * semi/anti-join forms on the flat rows — so the queries may skip
  * the collect_list exchanges whose output the downstream explode
  * immediately flattens again. Randomized edges with duplicate
  * (way, pos) pairs, duplicate refs within a way, all-missing and
  * none-missing ways. */
class MiddlePushdownSpec extends SparkSpecBase {
  import spark.implicits._

  // deterministic pseudo-random edge list: 40 ways × ≤9 positions,
  // ref space overlapping the "store"/"changed" sets only partially;
  // includes repeated (way, pos) rows (array_sort tie-break paths)
  private lazy val edges: DataFrame = spark.range(0, 360)
    .select(
      (col("id") % 40).as("w"),
      ((col("id") * 7) % 9).cast("int").as("pos"),
      ((col("id") * 2654435761L) % 50).as("ref"))
    .union(Seq((0L, 3, 7L), (0L, 3, 7L), (1L, 0, 13L))
      .toDF("w", "pos", "ref"))

  private lazy val ways: DataFrame =
    Middle.waysFromEdges(edges, "w", "pos", "ref")

  test("parentsOfNodes ∘ waysFromEdges == edge semi-join (q32/q38 form)") {
    val changed = Seq(7L, 13L, 21L, 49L).toDF("id")
    val viaOperator = Middle.parentsOfNodes(ways, "w", "refs", changed, "id")
      .as[Long].collect().toSet
    val direct = edges.join(changed, edges("ref") === col("id"), "left_semi")
      .select(col("w")).distinct().as[Long].collect().toSet
    assert(viaOperator == direct)
    assert(viaOperator.nonEmpty) // the fixture must actually exercise it
  }

  test("dependencyClosure ∘ rebuilt middles == flat semi-join chain (q38)") {
    val changed = Seq(7L, 13L, 21L).toDF("id")
    // "orders": rel o owns ways o*3, o*3+1 (all members type "w")
    val orders = spark.range(0, 40)
      .select((col("id") / 3).cast("long").as("rel"), col("id").as("way"))
    val rels = orders.groupBy(col("rel").as("id"))
      .agg(collect_list(struct(lit("w").as("mtype"),
        col("way").as("ref"))).as("members"))
    // the append's closure, on a change that holds nodes only
    val none = Seq.empty[Long].toDF("id")
    val viaOperator = ClassicUpdate.closure(
      OsmDataFrames(changed, ways.toDF("id", "nodes"), rels),
      OsmDataFrames(changed, none, none))
      .where(col("kind") === "r").select(col("id"))
    val pendingWays = edges
      .join(changed, edges("ref") === col("id"), "left_semi")
      .select(col("w")).distinct()
    val direct = orders
      .join(pendingWays, orders("way") === col("w"), "left_semi")
      .select(col("rel").as("id")).distinct()
    assert(viaOperator.as[Long].collect().toSet ==
      direct.as[Long].collect().toSet)
  }

  test("missingWayNodes ∘ waysFromEdges == flat anti-join + assemble (q50)") {
    val store = spark.range(0, 50).where(col("id") % 3 =!= 0)
      .select(col("id").as("nid")) // refs % 3 == 0 are "missing"
    val viaOperator = Middle.missingWayNodes(ways, "w", "refs", store, "nid")
      .select(col("w"), col("missing"))
      .as[(Long, Seq[Long])].collect().toMap
    val direct = edges
      .join(store, edges("ref") === col("nid"), "left_anti")
      .groupBy(col("w"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("ref")))),
        p => p.getField("ref")).as("missing"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaOperator == direct) // same ways AND same element ORDER
    assert(viaOperator.values.exists(_.size > 1))
  }
}
