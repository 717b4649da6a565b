package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Middle
import graft.sources.{OsmSource, OsmXml, Validate}
import graft.functions.GeomUdfs

/** End-to-end slice (SURVEY.md §7.2): the reference's
  * tests/bdd/flex/area.feature scenario — grid-placed nodes, a closed
  * way and a multipolygon relation with a hole — through XML source →
  * middle joins → polygon assembly → transform(3857) → area, asserting
  * the feature's golden areas within its own 1% tolerance.
  */
class OsmPipelineSpec extends SparkSpecBase {

  /** the "0.1 grid with origin 9.0 50.3": col → lon east, row → lat
    * south (matches the BDD grid DSL: golden 3857 areas reproduce to
    * 0.0002% only under this convention). */
  private def grid(col: Int, row: Int): (Double, Double) =
    (9.0 + 0.1 * col, 50.3 - 0.1 * row)

  private val nodeGrid: Map[Int, (Int, Int)] = Map(
    7 -> (2, 0), 8 -> (5, 0),
    11 -> (3, 1), 12 -> (4, 1),
    3 -> (0, 2), 4 -> (1, 2), 9 -> (3, 2), 10 -> (4, 2),
    1 -> (0, 3), 2 -> (1, 3), 5 -> (2, 3), 6 -> (5, 3))

  private def fixtureXml: String = {
    val nodes = nodeGrid.toSeq.sortBy(_._1).map { case (id, (c, r)) =>
      val (lon, lat) = grid(c, r)
      s"""<node id="$id" lon="$lon" lat="$lat"/>"""
    }.mkString("\n")
    s"""<?xml version="1.0"?>
       |<osm version="0.6">
       |$nodes
       |<way id="1"><nd ref="1"/><nd ref="2"/><nd ref="4"/><nd ref="3"/><nd ref="1"/>
       |  <tag k="natural" v="water"/><tag k="name" v="poly"/></way>
       |<way id="2"><nd ref="5"/><nd ref="6"/><nd ref="8"/><nd ref="7"/><nd ref="5"/></way>
       |<way id="3"><nd ref="9"/><nd ref="10"/><nd ref="12"/><nd ref="11"/><nd ref="9"/></way>
       |<relation id="1">
       |  <member type="way" ref="2" role=""/><member type="way" ref="3" role=""/>
       |  <tag k="natural" v="water"/><tag k="name" v="multi"/>
       |</relation>
       |</osm>""".stripMargin
  }

  test("area.feature slice: XML -> middle join -> polygon -> 3857 area") {
    import spark.implicits._
    GeomUdfs.register(spark)
    val dir = Files.createTempDirectory("osm-fixture")
    val file = dir.resolve("area.osm")
    Files.writeString(file, fixtureXml)

    val osm = OsmSource.read(spark, Seq(file.toString))
    assert(Validate.orderingViolations(osm.nodes).isEmpty)
    assert(osm.nodes.count() == 12)

    // middle join: resolve way nodes to coordinates, in order
    val resolved = Middle.resolveWayNodes(
      osm.ways, "id", "nodes", osm.nodes.select($"id".as("nid"), $"lon", $"lat"),
      "nid", Seq("lon", "lat"))
    val withGeom = resolved.select(
      col("id"),
      callUDF("st_make_polygon",
        transform(col("resolved"), r => r.getField("lon")),
        transform(col("resolved"), r => r.getField("lat"))).as("geom4326"))
    val areas = withGeom
      .where(col("geom4326").isNotNull)
      .select(col("id"),
        callUDF("st_area",
          callUDF("st_transform", col("geom4326"), lit(3857))).as("area"))
      .as[(Long, Double)].collect().toMap

    // way 1 = "poly": golden 192987010 ±1% (area.feature examples)
    assert(math.abs(areas(1L) - 192987010.0) / 192987010.0 < 0.01)

    // relation 1 = "multi": assemble multipolygon from member ways 2+3
    val memberWays = osm.ways.where($"id".isin(2, 3))
    val memberResolved = Middle.resolveWayNodes(
      memberWays, "id", "nodes",
      osm.nodes.select($"id".as("nid"), $"lon", $"lat"), "nid",
      Seq("lon", "lat"))
      .select(
        transform(col("resolved"), r => r.getField("lon")).as("lons"),
        transform(col("resolved"), r => r.getField("lat")).as("lats"))
      .as[(Seq[Double], Seq[Double])].collect()
    val ways = memberResolved.map { case (lons, lats) =>
      lons.zip(lats).map { case (x, y) => graft.geom.Pt(x, y) }
    }.toSeq
    val multi = graft.geom.FromOsm.createMultiPolygon(ways)
    val area3857 = graft.geom.GeomOps.area(
      graft.geom.GeomOps.transform(multi, 3857))
    assert(math.abs(area3857 - 1547130000.0) / 1547130000.0 < 0.01)

    // 4326 areas from the same feature: 0.01 and 0.08 (±1%)
    val a4326 = graft.geom.GeomOps.area(multi)
    assert(math.abs(a4326 - 0.08) / 0.08 < 0.01)
  }

  test("osc change file: actions surfaced, delete -> invisible") {
    val osc =
      """<?xml version="1.0"?>
        |<osmChange version="0.6">
        |<modify><node id="5" lon="1.0" lat="2.0" version="2"/></modify>
        |<delete><node id="6" version="3"/></delete>
        |<create><node id="7" lon="3.0" lat="4.0" version="1"/></create>
        |</osmChange>""".stripMargin
    val parsed = OsmXml.parseString(osc)
    val byId = parsed.nodes.map { case (a, n) => n.id -> ((a, n.visible)) }.toMap
    assert(byId(5L) == (("modify", true)))
    assert(byId(6L) == (("delete", false)))
    assert(byId(7L) == (("create", true)))
  }

  test("readSequenced accepts relative input paths (ADVICE r5)") {
    // the broadcast file index must be keyed by the QUALIFIED path,
    // matching the absolute URIs wholeTextFiles hands to executors
    val dir = new java.io.File("target/tmp-relseq")
    dir.mkdirs()
    val f1 = new java.io.File(dir, "a.osm")
    val f2 = new java.io.File(dir, "b.osm")
    Files.write(f1.toPath,
      """<osm version="0.6"><node id="1" lon="1" lat="1"/></osm>"""
        .getBytes("UTF-8"))
    Files.write(f2.toPath,
      """<osm version="0.6"><node id="2" lon="2" lat="2"/></osm>"""
        .getBytes("UTF-8"))
    try {
      val osm = OsmXml.readSequenced(spark,
        Seq("target/tmp-relseq/a.osm", "target/tmp-relseq/b.osm"))
      val rows = osm.nodes.select(col("seq"), col("id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // sorted path order: a.osm → file 0, b.osm → file 1
      assert(rows == Map(0L -> 1L, (1L << 32) -> 2L))
      osm.unpersistBacking()
    } finally {
      f1.delete(); f2.delete(); dir.delete()
    }
  }

  test("ordering validator flags descending and negative ids") {
    import spark.implicits._
    val bad = Seq(1L, 3L, 2L, -5L).toDF("id")
    val v = Validate.orderingViolations(bad).as[Long].collect().toSet
    assert(v.contains(2L) && v.contains(-5L))
    val good = Seq(1L, 2L, 10L).toDF("id")
    assert(Validate.orderingViolations(good).isEmpty)
  }
}
