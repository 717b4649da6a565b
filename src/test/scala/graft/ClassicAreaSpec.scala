package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.classic.{ClassicPipeline, StyleFile}
import graft.geom.Srid
import graft.sources.OsmSource

/** way_area across projections — the reference's own goldens from
  * tests/test-output-pgsql-area.cpp over test_output_pgsql_area.osm —
  * plus the -G/--multi-geometry and -K/--keep-coastlines semantics
  * (src/output-pgsql.cpp:45-56, 302-304; src/tagtransform-c.cpp:182-190).
  */
class ClassicAreaSpec extends SparkSpecBase {

  private lazy val areaOsm = OsmSource.read(spark,
    Seq("/root/reference/tests/data/test_output_pgsql_area.osm"))

  private def areasByName(polygon: DataFrame): Map[String, Double] =
    polygon.selectExpr("tags['name']", "cast(way_area as double)")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  private def approx(got: Double, want: Double): Unit =
    assert(math.abs(got - want) / math.abs(want) < 1e-5, s"$got != $want")

  test("default projection: way_area in 3857") {
    val t = ClassicPipeline.run(areaOsm, StyleFile.defaultStyle)
    assert(t.polygon.count() == 2)
    val a = areasByName(t.polygon)
    approx(a("poly"), 1.23927e10)
    approx(a("multi"), 9.91828e10)
  }

  test("latlon projection: way_area in degrees²") {
    val t = ClassicPipeline.run(areaOsm, StyleFile.defaultStyle,
      ClassicPipeline.Settings(srid = Srid.WGS84))
    assert(t.polygon.count() == 2)
    val a = areasByName(t.polygon)
    approx(a("poly"), 1.0)
    approx(a("multi"), 8.0) // 3x3 outer minus 1x1 hole
  }

  test("latlon + --reproject-area: way_area back in 3857") {
    val t = ClassicPipeline.run(areaOsm, StyleFile.defaultStyle,
      ClassicPipeline.Settings(srid = Srid.WGS84, reprojectArea = true))
    assert(t.polygon.count() == 2)
    val a = areasByName(t.polygon)
    approx(a("poly"), 1.23927e10)
    approx(a("multi"), 9.91828e10)
    // the geometry itself stays 4326 — only the area is reprojected
    val g = t.polygon.where("tags['name'] = 'poly'")
      .select("geom").collect().head.getAs[Array[Byte]](0)
    val bbox = graft.geom.FromOsm.getBbox(graft.geom.Ewkb.decode(g)).get
    assert(bbox.maxX <= 1.01 && bbox.maxY <= 1.01)
  }

  test("arbitrary TM projection: -E 32632 runs end to end") {
    // test-options-projection.cpp "Arbitrary projection with -E"
    // (there only under HAVE_GENERIC_PROJ): the whole classic
    // pipeline with output SRID 32632 — geometry lands tagged with
    // the SRID, in UTM meters, and way_area is in m² (the test
    // polygons live near lon/lat 0/0, far west of zone 32: easting
    // is large-negative of the 500 km false easting)
    val t = ClassicPipeline.run(areaOsm, StyleFile.defaultStyle,
      ClassicPipeline.Settings(srid = 32632))
    assert(t.polygon.count() == 2)
    val g = t.polygon.where("tags['name'] = 'poly'")
      .select("geom").collect().head.getAs[Array[Byte]](0)
    val geom = graft.geom.Ewkb.decode(g)
    assert(geom.srid == 32632)
    val bbox = graft.geom.FromOsm.getBbox(geom).get
    assert(bbox.minX < -400000 && bbox.maxY < 120000)
    // 1°×1° at the equator ≈ 1.24e10 m² — way_area must be meters²,
    // not degrees² (loose bound: the pipeline multiplies real areas)
    val a = areasByName(t.polygon)
    assert(a("poly") > 1e9 && a("poly") < 1e11)
  }

  private def twoOuterXml: String =
    """<?xml version='1.0' encoding='UTF-8'?>
      |<osm version="0.6">
      |  <node id="1" version="1" lat="0" lon="0"/>
      |  <node id="2" version="1" lat="0" lon="1"/>
      |  <node id="3" version="1" lat="1" lon="1"/>
      |  <node id="4" version="1" lat="1" lon="0"/>
      |  <node id="5" version="1" lat="0" lon="5"/>
      |  <node id="6" version="1" lat="0" lon="7"/>
      |  <node id="7" version="1" lat="2" lon="7"/>
      |  <node id="8" version="1" lat="2" lon="5"/>
      |  <way id="1" version="1">
      |    <nd ref="1"/><nd ref="2"/><nd ref="3"/><nd ref="4"/><nd ref="1"/>
      |  </way>
      |  <way id="2" version="1">
      |    <nd ref="5"/><nd ref="6"/><nd ref="7"/><nd ref="8"/><nd ref="5"/>
      |  </way>
      |  <relation id='9' version='1'>
      |    <member type="way" ref="1" role="outer"/>
      |    <member type="way" ref="2" role="outer"/>
      |    <tag k="type" v="multipolygon"/>
      |    <tag k="natural" v="water"/>
      |  </relation>
      |</osm>""".stripMargin

  test("-G/--multi-geometry: one MultiPolygon row instead of split parts") {
    val dir = Files.createTempDirectory("multigeom")
    val f = dir.resolve("two_outer.osm")
    Files.writeString(f, twoOuterXml)
    val osm = OsmSource.read(spark, Seq(f.toString))

    val split = ClassicPipeline.run(osm, StyleFile.defaultStyle,
      ClassicPipeline.Settings(srid = Srid.WGS84))
    assert(split.polygon.count() == 2) // default: one row per part
    val splitAreas = split.polygon.selectExpr("cast(way_area as double)")
      .collect().map(_.getDouble(0)).sorted
    assert(splitAreas sameElements Array(1.0, 4.0))

    val merged = ClassicPipeline.run(osm, StyleFile.defaultStyle,
      ClassicPipeline.Settings(srid = Srid.WGS84, multiGeometry = true))
    assert(merged.polygon.count() == 1)
    val row = merged.polygon
      .selectExpr("geom", "cast(way_area as double)").collect().head
    approx(row.getDouble(1), 5.0) // area of the WHOLE collection
    val g = graft.geom.Ewkb.decode(row.getAs[Array[Byte]](0))
    assert(g.numGeometries == 2)
  }

  test("-K/--keep-coastlines keeps natural=coastline objects") {
    val dir = Files.createTempDirectory("coast")
    val f = dir.resolve("coast.osm")
    Files.writeString(f,
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osm version="0.6">
        |  <node id="1" version="1" lat="0" lon="0"/>
        |  <node id="2" version="1" lat="0" lon="0.1"/>
        |  <node id="3" version="1" lat="0.1" lon="0.1"/>
        |  <way id="1" version="1">
        |    <nd ref="1"/><nd ref="2"/><nd ref="3"/>
        |    <tag k="natural" v="coastline"/>
        |  </way>
        |</osm>""".stripMargin)
    val osm = OsmSource.read(spark, Seq(f.toString))

    // default: the coastline tag is skipped before the keep check →
    // no export hit → dropped (filter_tags' `continue` runs before
    // check_key, src/tagtransform-c.cpp:181-190)
    val dropped = ClassicPipeline.run(osm, StyleFile.defaultStyle)
    assert(dropped.line.count() == 0)
    assert(dropped.polygon.count() == 0)

    // -K: the tag survives AND add_area_tag appends area=yes (it is
    // set regardless of keep_coastlines, tagtransform-c.cpp:200-204);
    // the way is open so it lands in the line table
    val kept = ClassicPipeline.run(osm, StyleFile.defaultStyle,
      ClassicPipeline.Settings(keepCoastlines = true))
    assert(kept.line.count() == 1)
    val tags = kept.line.select("tags").collect().head
      .getMap[String, String](0)
    assert(tags == Map("natural" -> "coastline", "area" -> "yes"))
  }

  test("z_order ranking goldens (test-output-pgsql-z_order.cpp)") {
    val osm = OsmSource.read(spark,
      Seq("/root/reference/tests/data/test_output_pgsql_z_order.osm"))
    val t = ClassicPipeline.run(osm, StyleFile.defaultStyle)
    // among layer-less ways the class order is the road hierarchy
    val noLayer = t.line.where("tags['layer'] IS NULL")
      .orderBy(org.apache.spark.sql.functions.col("z_order").desc)
      .selectExpr("tags['highway']").collect().map(_.getString(0))
    assert(noLayer.take(5).toSeq ==
      Seq("motorway", "trunk", "primary", "secondary", "tertiary"))
    // the layer=5 residential way outranks everything overall
    val top = t.line
      .orderBy(org.apache.spark.sql.functions.col("z_order").desc)
      .selectExpr("tags['highway']").collect().head.getString(0)
    assert(top == "residential")
  }

  test("coastline + another export tag: kept, area=yes, forced polygon") {
    val dir = Files.createTempDirectory("coast2")
    val f = dir.resolve("coast2.osm")
    Files.writeString(f,
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osm version="0.6">
        |  <node id="1" version="1" lat="0" lon="0"/>
        |  <node id="2" version="1" lat="0" lon="0.1"/>
        |  <node id="3" version="1" lat="0.1" lon="0.1"/>
        |  <way id="1" version="1">
        |    <nd ref="1"/><nd ref="2"/><nd ref="3"/><nd ref="1"/>
        |    <tag k="natural" v="coastline"/>
        |    <tag k="place" v="island"/>
        |  </way>
        |  <node id="9" version="1" lat="0.5" lon="0.5">
        |    <tag k="natural" v="coastline"/>
        |  </node>
        |</osm>""".stripMargin)
    val osm = OsmSource.read(spark, Seq(f.toString))
    val t = ClassicPipeline.run(osm, StyleFile.defaultStyle)
    // the closed way keeps place=island, is forced polygon by the
    // coastline, and the coastline tag itself is still discarded
    assert(t.polygon.count() == 1)
    val tags = t.polygon.select("tags").collect().head
      .getMap[String, String](0)
    assert(tags == Map("place" -> "island", "area" -> "yes"))
    // nodes never get the area append and an only-coastline node drops
    assert(t.point.count() == 0)
  }
}
