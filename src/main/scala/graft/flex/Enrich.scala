package graft.flex

import org.apache.spark.sql.functions._

import graft.sources.OsmXml.OsmDataFrames

/** Entity-frame enrichment for flex configs: resolve way node
  * coordinates (`__lons`/`__lats` + the pre-built `__geom` 3857
  * linestring) and relation member coordinates (`__mlons`/`__mlats`
  * member-way arrays, `__mnlons`/`__mnlats` member-node arrays), plus
  * the `__mode` column configs read as `osm2pgsql.mode`.
  *
  * This is the set-at-a-time analog of the middle's nodes_get_list /
  * rel_members_get resolution (reference: src/middle-pgsql.cpp:
  * 693-727, 822-836): one shuffle join per resolution level instead
  * of per-object lookups; member-way dedup keeps the reference's
  * id-SET semantics (a way listed twice contributes once).
  */
object Enrich {

  def forFlex(osm: OsmDataFrames, mode: String): OsmDataFrames = {
    build(osm, mode)
  }

  /** Append-path enrichment restricted to the dependency closure:
    * resolve coordinates ONLY for the touched ways plus the member
    * ways of touched relations, and member arrays ONLY for touched
    * relations, instead of re-enriching the whole middle.
    *
    * The node-location probe still joins against the FULL nodes frame
    * (a changed way's unchanged nodes need their stored locations —
    * the reference's flat-nodes random reads, src/middle-pgsql.cpp:
    * 693-727). Everything else is proportional to the change closure,
    * not the planet — the reference's append does per-object lookups
    * for exactly this touched set (src/osmdata.cpp:75-147).
    *
    * `touchedW`/`touchedR` are single-column id frames.
    */
  def forFlexTouched(osm: OsmDataFrames, mode: String,
      touchedW: org.apache.spark.sql.DataFrame,
      touchedR: org.apache.spark.sql.DataFrame): OsmDataFrames = {
    val rels = osm.relations.join(
      touchedR.toDF("__tid"), col("id") === col("__tid"), "left_semi")
    val memberWids = rels
      .select(explode(col("members")).as("m"))
      .where(col("m.mtype") === "w")
      .select(col("m.ref").as("id")).distinct()
    val needW = touchedW.toDF("id").unionByName(memberWids).distinct()
    val ways = osm.ways.join(
      needW.toDF("__twid"), col("id") === col("__twid"), "left_semi")
    val restricted = osm.copy(ways = ways, relations = rels)
    // nodes stay full: the pass itself restricts them afterwards and
    // nothing heavy happens on the node frame during enrichment
    build(restricted, mode)
  }

  private def build(osm: OsmDataFrames, mode: String): OsmDataFrames = {
    val lineGeom = udf((lons: Seq[Double], lats: Seq[Double]) =>
      if (lons == null) null // way with zero resolvable nodes
      else graft.geom.FromOsm.createLineString(
        lons.zip(lats).map { case (x, y) => graft.geom.Pt(x, y) }) match {
        case _: graft.geom.NullGeom => null
        case g => graft.geom.Ewkb.encode(
          graft.geom.GeomOps.transform(g, graft.geom.Srid.WebMercator))
      })
    val resolved = graft.operators.Middle.resolveAllWayCoords(osm)
    val ways = osm.ways
      .join(resolved, col("id") === col("rwid"), "left")
      .withColumn("__geom", lineGeom(col("wlons"), col("wlats")))
      .withColumnRenamed("wlons", "__lons")
      .withColumnRenamed("wlats", "__lats")
      .drop("rwid")
    val memberRefs = osm.relations
      .select(col("id").as("rid"),
        posexplode(col("members")).as(Seq("mpos", "m")))
      .where(col("m.mtype") === "w")
      .select(col("rid"), col("mpos"), col("m.ref").as("wid"))
      .groupBy(col("rid"), col("wid"))
      .agg(min(col("mpos")).as("mpos"))
    // one sorted member list (mpos unique per rid — min over the
    // positions of a dedup'd member set), half the aggregate state
    val memberWays = memberRefs
      .join(resolved, col("wid") === col("rwid"))
      .groupBy(col("rid"))
      .agg(array_sort(collect_list(
        struct(col("mpos"), col("wlons"), col("wlats")))).as("__mw"))
      .select(col("rid"),
        transform(col("__mw"), s => s.getField("wlons")).as("__mlons"),
        transform(col("__mw"), s => s.getField("wlats")).as("__mlats"))
    val memberNodes = osm.relations
      .select(col("id").as("nrid"),
        posexplode(col("members")).as(Seq("npos", "nm")))
      .where(col("nm.mtype") === "n")
      .join(osm.nodes.select(col("id").as("mnid"),
        col("lon").as("mnlon"), col("lat").as("mnlat")),
        col("nm.ref") === col("mnid"))
      .groupBy(col("nrid"))
      // one sorted member list (npos unique per relation)
      .agg(array_sort(collect_list(
        struct(col("npos"), col("mnlon"), col("mnlat")))).as("__mn"))
      .select(col("nrid"),
        transform(col("__mn"), s => s.getField("mnlon")).as("__mnlons"),
        transform(col("__mn"), s => s.getField("mnlat")).as("__mnlats"))
    val rels = osm.relations
      .join(memberWays, col("id") === col("rid"), "left")
      .join(memberNodes, col("id") === col("nrid"), "left")
      .drop("rid", "nrid")
    osm.copy(
      nodes = osm.nodes.withColumn("__mode", lit(mode)),
      ways = ways.withColumn("__mode", lit(mode)),
      relations = rels.withColumn("__mode", lit(mode)))
  }
}
