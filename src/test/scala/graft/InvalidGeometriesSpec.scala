package graft

import org.apache.spark.sql.functions._

import graft.operators.Middle
import graft.sources.{OsmSource, OsmText, OsmXml}

/** Port of tests/bdd/flex/invalid-geometries.feature: ways and
  * relations whose geometry cannot be built are dropped silently
  * (the not_null soft-error path), while *partially* resolvable ways
  * keep going — unknown node refs are skipped, not fatal
  * (src/geom-from-osm.cpp:88-101 builds from the locations that
  * resolved). Coordinates are spelled out explicitly; the feature's
  * grid places its bottom row at the origin, which is what makes
  * scenario 1's w25 (two nodes at the same location) collapse.
  */
class InvalidGeometriesSpec extends SparkSpecBase {

  import spark.implicits._

  /** line table: ways with a buildable linestring from the resolved
    * refs (the feature's not_null linestring column). */
  private def lineTable(osm: OsmXml.OsmDataFrames): Map[Long, Int] = {
    val lineUdf = udf((lons: Seq[Double], lats: Seq[Double]) =>
      graft.geom.FromOsm.createLineString(
        lons.zip(lats).map { case (x, y) => graft.geom.Pt(x, y) }) match {
        case _: graft.geom.NullGeom       => -1
        case l: graft.geom.LineString     => l.pts.size
        case _                            => -1
      })
    osm.ways.join(Middle.resolveAllWayCoords(osm), $"id" === $"rwid")
      .select($"id", lineUdf($"wlons", $"wlats").as("npts"))
      .where($"npts" > 0)
      .as[(Long, Int)].collect().toMap
  }

  /** polygon table: ways with a buildable area (as_polygon). */
  private def polyTable(osm: OsmXml.OsmDataFrames): Map[Long, Double] = {
    val areaUdf = udf((lons: Seq[Double], lats: Seq[Double]) =>
      graft.geom.FromOsm.createPolygon(
        lons.zip(lats).map { case (x, y) => graft.geom.Pt(x, y) }) match {
        case _: graft.geom.NullGeom => Double.NaN
        case g                      => graft.geom.GeomOps.area(g)
      })
    osm.ways.join(Middle.resolveAllWayCoords(osm), $"id" === $"rwid")
      .select($"id", areaUdf($"wlons", $"wlats").as("area"))
      .where(!isnan($"area"))
      .as[(Long, Double)].collect().toMap
  }

  /** area table rows from relations: assembled multipolygons, negative
    * ids; missing member ways are simply absent from the assembly. */
  private def relAreaIds(osm: OsmXml.OsmDataFrames): Seq[Long] = {
    val members = osm.relations
      .select($"id".as("rid"), posexplode($"members").as(Seq("mpos", "m")))
      .where($"m.mtype" === "w")
    val assembled = members
      .join(Middle.resolveAllWayCoords(osm), col("m.ref") === col("rwid"))
      .groupBy($"rid")
      .agg(
        transform(array_sort(collect_list(struct($"mpos", $"wlons"))),
          s => s.getField("wlons")).as("mlons"),
        transform(array_sort(collect_list(struct($"mpos", $"wlats"))),
          s => s.getField("wlats")).as("mlats"))
    val ok = udf((lons: Seq[Seq[Double]], lats: Seq[Seq[Double]]) =>
      !graft.geom.FromOsm.createMultiPolygon(
        lons.zip(lats).map { case (lo, la) =>
          lo.zip(la).map { case (x, y) => graft.geom.Pt(x, y) }
        }).isNull)
    assembled.where(ok($"mlons", $"mlats"))
      .select(-$"rid").as[Long].collect().toSeq.sorted
  }

  test("invalid way geometry is ignored; unknown refs are skipped") {
    // grid origin (10,10), bottom row at the origin:
    // n10=(10.0,10.0) n11=(10.1,10.0) n12=(10.1,10.1); n14 == n10
    val osm = OsmText.toFrames(spark, """
      n10 v1 dV x10.0 y10.0
      n11 v1 dV x10.1 y10.0
      n12 v1 dV x10.1 y10.1
      n14 v1 dV x10.0 y10.0
      w20 v1 dV Thighway=primary,state=okay Nn10,n12
      w21 v1 dV Thighway=primary,state=unknown_node Nn10,n12,n13
      w22 v1 dV Thighway=primary,state=unknown_node_single Nn10,n13
      w23 v1 dV Thighway=primary,state=single_node Nn10
      w24 v1 dV Thighway=primary,state=double_node Nn10,n10
      w25 v1 dV Thighway=primary,state=double_location Nn10,n14
    """)
    // golden: only 20 and 21 survive, both as the 2-point line 10→12;
    // w22/w23 resolve to one point, w24 dedups to one, w25's two nodes
    // share a location and dedup to one
    assert(lineTable(osm) == Map(20L -> 2, 21L -> 2))
  }

  test("invalid area geometry from way is ignored") {
    // n10=(20.0,19.9) n11=(20.1,19.9) n12=(20.1,20.0)
    val osm = OsmText.toFrames(spark, """
      n10 v1 dV x20.0 y19.9
      n11 v1 dV x20.1 y19.9
      n12 v1 dV x20.1 y20.0
      w20 v1 dV Tnatural=wood,state=okay Nn10,n11,n12,n10
      w21 v1 dV Tnatural=wood,state=unknown_node Nn10,n11,n12,n13,n10
      w22 v1 dV Tnatural=wood,state=duplicate_segment Nn10,n11,n12,n10,n11
      w23 v1 dV Tnatural=wood,state=unclosed_ring Nn10,n11,n12
    """)
    // w21 re-closes once the unknown ref is skipped; w22 ends on a
    // dangling revisit (ring not closed), w23 never closes
    val polys = polyTable(osm)
    assert(polys.keySet == Set(20L, 21L))
    // both are the same triangle: area 0.005 square degrees
    assert(polys.values.forall(a => math.abs(a - 0.005) < 1e-12))
  }

  test("self-intersecting area from way is ignored") {
    // bow-tie: 10=(20.0,19.9) 11=(20.0,20.0) 12=(20.1,19.9) 13=(20.1,20.0)
    val osm = OsmText.toFrames(spark, """
      n10 v1 dV x20.0 y19.9
      n11 v1 dV x20.0 y20.0
      n12 v1 dV x20.1 y19.9
      n13 v1 dV x20.1 y20.0
      w20 v1 dV Tnatural=wood Nn10,n11,n12,n13,n10
    """)
    assert(polyTable(osm).isEmpty)
  }

  test("invalid area geometry from relation is ignored") {
    // square: 13=(20.0,20.0) 12=(20.1,20.0) 10=(20.0,19.9) 11=(20.1,19.9)
    val osm = OsmText.toFrames(spark, """
      n10 v1 dV x20.0 y19.9
      n11 v1 dV x20.1 y19.9
      n12 v1 dV x20.1 y20.0
      n13 v1 dV x20.0 y20.0
      w20 v1 dV Nn10,n11,n12
      w21 v1 dV Nn12,n13,n10
      r30 v1 dV Ttype=multipolygon,landuse=forest,state=okay Mw20@,w21@
      r31 v1 dV Ttype=multipolygon,landuse=forest,state=not_closed Mw20@
      r32 v1 dV Ttype=multipolygon,landuse=forest,state=missing_way Mw20@,w22@
    """)
    // r30's two ways close a ring; r31 stays open; r32's missing
    // member leaves the assembly open as well → only -30 lands
    assert(relAreaIds(osm) == Seq(-30L))
  }

  test("validgeom fixture: 12 valid, non-empty polygons " +
      "(test-output-pgsql-validgeom.cpp)") {
    val osm = OsmSource.read(spark, Seq(
      "/root/reference/tests/data/test_output_pgsql_validgeom.osm"))
    val t = graft.classic.ClassicPipeline.run(osm,
      graft.classic.StyleFile.defaultStyle)
    val geoms = t.polygon.select("geom").collect()
      .map(r => graft.geom.Ewkb.decode(r.getAs[Array[Byte]](0)))
    assert(geoms.length == 12)
    // ST_IsValid/ST_IsEmpty analog: every landed polygon decodes with
    // positive area and closed rings (the engine constructs-or-drops,
    // so a landed row IS the validity claim — verify it anyway)
    geoms.foreach { g =>
      assert(graft.geom.GeomOps.area(g) > 0.0)
      g match {
        case p: graft.geom.Polygon =>
          assert(p.outer.pts.head == p.outer.pts.last)
          p.inners.foreach(r => assert(r.pts.head == r.pts.last))
        case mp: graft.geom.MultiPolygon =>
          mp.polys.foreach(p => assert(p.outer.pts.head == p.outer.pts.last))
        case other => fail(s"unexpected geometry: $other")
      }
    }
  }
}
