package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The middle — the reference's node/way/relation store and its five
  * point-lookup APIs (reference: src/middle.hpp:41-172), re-expressed as
  * set-at-a-time joins over exploded reference arrays.
  *
  * This is the biggest architectural win over the reference: where the
  * C++ engine does per-way prepared-statement lookups with a hand-built
  * bucket index (src/middle-pgsql.cpp:1112-1121), a shuffle equi-join
  * resolves *all* ways of an import at once, scales with cluster width,
  * and gets AQE skew handling for free. An append's lookups are keyed by
  * the change instead: the parent queries and [[resolveWayCoordsFor]]
  * broadcast their change-sized id side and stream the stored middle
  * past it, so nothing of the middle is shuffled — the reference's
  * in-memory pending-id lists (src/middle-pgsql.cpp:590-630). Neither
  * needs the reference's way-node bucket index
  * (array_agg(distinct id>>5)).
  */
object Middle {

  /** nodes_get_list (src/middle.hpp:41-51): attach per-node payloads to
    * each way's ordered node list.
    *
    * `ways`: (wayIdCol, refsCol: array<long>) — node refs in way order.
    * `nodes`: (nodeIdCol, payload columns).
    * Returns (wayIdCol, resolved: array<struct(pos, payload...)>) with
    * `resolved` sorted by position. Missing nodes are dropped, matching
    * the reference's skip-invalid-location semantics
    * (src/geom-from-osm.cpp:88-101).
    */
  def resolveWayNodes(ways: DataFrame, wayIdCol: String, refsCol: String,
      nodes: DataFrame, nodeIdCol: String, payloadCols: Seq[String]): DataFrame = {
    val exploded = ways.select(col(wayIdCol),
      posexplode(col(refsCol)).as(Seq("pos", "ref")))
    exploded.join(nodes, exploded("ref") === nodes(nodeIdCol))
      .groupBy(col(wayIdCol))
      .agg(array_sort(collect_list(
        struct(col("pos") +: payloadCols.map(col): _*))).as("resolved"))
  }

  /** All ways (tagged or not — the middle stores everything) with
    * resolved ordered coordinates (src/middle-pgsql.cpp:1112-1121's
    * way-node fetch, set-at-a-time). Ways with <2 resolved points are
    * dropped, matching the reference's invalid-way skip
    * (src/geom-from-osm.cpp:88-101).
    * Returns (rwid, wlons: array<double>, wlats: array<double>). */
  def resolveAllWayCoords(osm: graft.sources.OsmXml.OsmDataFrames): DataFrame = {
    val locs = osm.nodes.select(col("id").as("nid"), col("lon"), col("lat"))
    resolveWayNodes(osm.ways.select("id", "nodes"), "id", "nodes",
      locs, "nid", Seq("lon", "lat"))
      .where(size(col("resolved")) >= 2)
      .select(col("id").as("rwid"),
        transform(col("resolved"), r => r.getField("lon")).as("wlons"),
        transform(col("resolved"), r => r.getField("lat")).as("wlats"))
  }

  /** [[resolveAllWayCoords]] for the ways whose ids are in `wayIds`'s
    * first column only, a change-sized set: it is broadcast to the
    * semi-join, and the refs of the ways it keeps are broadcast to the
    * node join, so neither the ways nor the nodes are shuffled. */
  def resolveWayCoordsFor(osm: graft.sources.OsmXml.OsmDataFrames,
      wayIds: DataFrame): DataFrame = {
    val ids = wayIds.select(col(wayIds.columns.head).as("__wid"))
    // the hint reaches the node join through the refs' explode
    resolveAllWayCoords(osm.copy(ways = broadcast(
      osm.ways.join(broadcast(ids), col("id") === col("__wid"), "left_semi"))))
  }

  /** rel_members_get (src/middle-pgsql.cpp:814-863): resolve a
    * relation's members against an entity table, keeping member order
    * and counting found vs referenced (missing members are OK).
    * `rels`: (relIdCol, membersCol: array<struct(type, ref, role)>).
    */
  def resolveRelationMembers(rels: DataFrame, relIdCol: String,
      membersCol: String, memberType: String,
      entities: DataFrame, entIdCol: String, payloadCols: Seq[String],
      typeField: String = "type", refField: String = "ref"): DataFrame = {
    val exploded = rels
      .select(col(relIdCol), posexplode(col(membersCol)).as(Seq("pos", "m")))
      .where(col(s"m.$typeField") === memberType)
    exploded.join(entities,
        exploded(s"m.$refField") === entities(entIdCol), "left")
      .groupBy(col(relIdCol))
      .agg(
        count(lit(1)).as("n_referenced"),
        count(col(entIdCol)).as("n_found"),
        array_sort(collect_list(
          struct(col("pos") +: payloadCols.map(col): _*))).as("resolved"))
  }

  /** The "Missing nodes in way N: a,b" debug report
    * (src/middle.cpp's location-check while building way geometries):
    * per way, the refs that did not resolve to a known node location,
    * in ref order. Ways with no missing refs are omitted. */
  def missingWayNodes(ways: DataFrame, wayIdCol: String, refsCol: String,
      nodes: DataFrame, nodeIdCol: String): DataFrame = {
    val exploded = ways.select(col(wayIdCol),
      posexplode(col(refsCol)).as(Seq("pos", "ref")))
    exploded.join(nodes.select(col(nodeIdCol).as("__nid")),
        exploded("ref") === col("__nid"), "left_anti")
      .groupBy(col(wayIdCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("ref")))),
        s => s.getField("ref")).as("missing"))
  }

  /** get_node_parents (src/middle-pgsql.cpp:590-630): which ways contain
    * any of the changed nodes. A semi-join over the exploded refs — the
    * reference's temp-table + `&&` overlap query, minus the hand-rolled
    * bucket pruning. The changed ids are the change-sized side: they are
    * broadcast, so the ways stream past them without a shuffle. Returns
    * one way id per matching ref, not distinct: callers take one
    * `distinct` over their whole closure.
    */
  def parentsOfNodes(ways: DataFrame, wayIdCol: String, refsCol: String,
      changedNodeIds: DataFrame, changedIdCol: String): DataFrame =
    parentsOf(ways.select(col(wayIdCol), explode(col(refsCol)).as("ref")),
      changedNodeIds, changedIdCol)

  /** get_way_parents (src/middle-pgsql.cpp:656-700): which relations
    * reference any of the changed members of `memberType`; broadcast
    * and not distinct, like [[parentsOfNodes]]. */
  def parentsOfMembers(rels: DataFrame, relIdCol: String, membersCol: String,
      memberType: String,
      changedIds: DataFrame, changedIdCol: String,
      typeField: String = "type", refField: String = "ref"): DataFrame =
    parentsOf(rels
      .select(col(relIdCol), explode(col(membersCol)).as("m"))
      .where(col(s"m.$typeField") === memberType)
      .select(col(relIdCol), col(s"m.$refField").as("ref")),
      changedIds, changedIdCol)

  /** The parent ids (first column of `refs`) whose `ref` is one of the
    * changed ids. */
  private def parentsOf(refs: DataFrame, changedIds: DataFrame,
      changedIdCol: String): DataFrame =
    refs.join(broadcast(changedIds.select(col(changedIdCol).as("__cid"))),
        col("ref") === col("__cid"), "left_semi")
      .select(col(refs.columns.head))

  /** Build way rows (id + ordered refs array) from an edge-list table —
    * the inverse of posexplode; used by tests and the analog queries.
    * Sorted by (posCol, refCol): ties on position are broken by ref, so
    * the array is deterministic even when positions repeat. */
  def waysFromEdges(edges: DataFrame, wayIdCol: String, posCol: String,
      refCol: String): DataFrame =
    edges.groupBy(col(wayIdCol))
      .agg(transform(
        array_sort(collect_list(struct(col(posCol), col(refCol)))),
        s => s.getField(refCol)).as("refs"))
}
