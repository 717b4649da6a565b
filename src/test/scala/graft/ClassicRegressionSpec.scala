package graft

import graft.classic.{ClassicPipeline, StyleFile}
import graft.sources.OsmPbf

/** The reference's own regression: importing the Liechtenstein extract
  * with the default style must produce the golden table counts from
  * tests/bdd/regression/import.feature:
  *   point=1342, polygon=4130, line=3231, roads=375 (3857).
  * All four counts are asserted EXACTLY.
  */
class ClassicRegressionSpec extends SparkSpecBase {

  private val path = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"

  test("liechtenstein regression counts vs reference goldens") {
    val osm = OsmPbf.read(spark, path)
    val t = ClassicPipeline.run(osm, StyleFile.defaultStyle)
    val nPoint = t.point.count()
    val nPoly = t.polygon.count()
    val nLine = t.line.count()
    val nRoads = t.roads.count()
    info(s"point=$nPoint polygon=$nPoly line=$nLine roads=$nRoads")
    assert(nPoint == 1342L)
    assert(nPoly == 4130L)
    assert(nLine == 3231L)
    assert(nRoads == 375L)

    // geometry-sum goldens from the same feature:
    //   sum(ST_Area(way))::int = 1247245186, sum(way_area)::int =
    //   1247243136 (real-typed column), sum(ST_Length) line = 4211350,
    //   roads = 2032023
    import org.apache.spark.sql.functions._
    import graft.expressions.GeomExpressions.{stAreaN, stLengthN}
    import spark.implicits._
    val sumArea = t.polygon.agg(sum(stAreaN($"geom"))).as[Double].head()
    assert(math.abs(sumArea - 1247245186.0) / 1247245186.0 < 1e-4,
      s"sum(ST_Area)=$sumArea")
    // way_area golden reflects PG's float4-accumulating SUM (order-
    // dependent low bits) — reproducible only to ~2e-6 relative
    val sumWayArea = t.polygon.agg(sum($"way_area".cast("double")))
      .as[Double].head()
    assert(math.abs(sumWayArea - 1247243136.0) / 1247243136.0 < 1e-4,
      s"sum(way_area)=$sumWayArea")
    val sumLine = t.line.agg(sum(stLengthN($"geom"))).as[Double].head()
    assert(math.abs(sumLine - 4211350.0) / 4211350.0 < 1e-4,
      s"sum(line length)=$sumLine")
    val sumRoads = t.roads.agg(sum(stLengthN($"geom"))).as[Double].head()
    assert(math.abs(sumRoads - 2032023.0) / 2032023.0 < 1e-4,
      s"sum(roads length)=$sumRoads")
  }

  test("liechtenstein latlon regression (test-output-pgsql.cpp:66-102)") {
    import org.apache.spark.sql.functions._
    import graft.expressions.GeomExpressions.{stAreaN, stLengthN}
    import spark.implicits._
    val osm = OsmPbf.read(spark, path)
    val t = ClassicPipeline.run(osm, StyleFile.defaultStyle,
      ClassicPipeline.Settings(srid = graft.geom.Srid.WGS84))
    // -l counts differ from 3857: the 1° split threshold merges
    // differently than the 100km one
    assert(t.point.count() == 1342L)
    assert(t.line.count() == 3229L)
    assert(t.roads.count() == 374L)
    assert(t.polygon.count() == 4130L)
    // scalar goldens in degrees
    val len = t.line.where($"osm_id" === 1101L)
      .select(stLengthN($"geom")).as[Double].head()
    assert(math.abs(len - 0.0105343) / 0.0105343 < 1e-4, s"len=$len")
    val area = t.polygon.where($"osm_id" === 3265L)
      .select($"way_area".cast("double")).as[Double].head()
    assert(math.abs(area - 1.70718e-8) / 1.70718e-8 < 1e-4, s"area=$area")
    val areaG = t.polygon.where($"osm_id" === 3265L)
      .select(stAreaN($"geom")).as[Double].head()
    assert(math.abs(areaG - 1.70718e-8) / 1.70718e-8 < 1e-4)
    // the point location golden: one point within 1e-5 degrees
    val near = t.point.where(
      abs($"lon" - 9.5459035) < 1e-5 && abs($"lat" - 47.1866494) < 1e-5)
    assert(near.count() == 1L)
  }

  test("way-area + route-relation fixtures (test-output-pgsql.cpp:103-130)") {
    val wa = ClassicPipeline.run(graft.sources.OsmXml.read(spark,
      Seq("/root/reference/tests/data/test_output_pgsql_way_area.osm")),
      StyleFile.defaultStyle)
    assert(wa.point.count() == 0 && wa.line.count() == 0 &&
      wa.roads.count() == 0)
    assert(wa.polygon.count() == 1)
    val rr = ClassicPipeline.run(graft.sources.OsmXml.read(spark,
      Seq("/root/reference/tests/data/test_output_pgsql_route_rel.osm")),
      StyleFile.defaultStyle)
    // the way AND the route relation land in line; only the way is a
    // road (route=road adds no roads row for the relation itself)
    assert(rr.point.count() == 0 && rr.polygon.count() == 0)
    assert(rr.line.count() == 2)
    assert(rr.roads.count() == 1)
  }

  test("hstore-match-only regression vs reference goldens") {
    // tests/test-output-pgsql-hstore-match-only.cpp: with the all-
    // nocolumn style + --hstore --hstore-match-only, the fixture file
    // must yield point=6, polygon=7, line=12, roads=3
    val osm = graft.sources.OsmXml.read(spark,
      Seq("/root/reference/tests/data/hstore-match-only.osm"))
    val style = StyleFile.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        "/root/reference/tests/data/hstore-match-only.style")), "UTF-8"))
    val t = ClassicPipeline.run(osm, style,
      ClassicPipeline.Settings(hstore = true, hstoreMatchOnly = true))
    assert(t.point.count() == 6L)
    assert(t.polygon.count() == 7L)
    assert(t.line.count() == 12L)
    assert(t.roads.count() == 3L)
    // without match-only, hstore mode keeps everything tagged:
    // strictly more objects
    val all = ClassicPipeline.run(osm, style,
      ClassicPipeline.Settings(hstore = true))
    assert(all.point.count() > 6L)
  }

  test("invalid-location fixture: the node contributes nothing") {
    // tests/test-osm-file-parsing.cpp "invalid location": lat=200 →
    // the node is skipped entirely (src/osmdata.cpp:42-47)
    val osm = graft.sources.OsmXml.read(spark,
      Seq("/root/reference/tests/data/test_invalid_location.osm"))
    assert(osm.nodes.count() == 1L) // parsed ...
    assert(graft.sources.Validate.dropInvalidLocations(osm.nodes)
      .count() == 0L) // ... but dropped before any processing
  }

  test("int4 conversion fixture: first-number/range-mean parse, " +
      "overflow → NULL (test-output-pgsql-int4.cpp verbatim)") {
    val osm = graft.sources.OsmXml.read(spark, Seq(
      "/root/reference/tests/data/test_output_pgsql_int4.osm"))
    val style = StyleFile.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        "/root/reference/tests/data/test_output_pgsql_int4.style")), "UTF-8"))
    val t = ClassicPipeline.run(osm, style)
    val pointTable = graft.sinks.PgClassic
      .tables("planet_osm", style, hstore = false)
      .find(_.name == "planet_osm_point").get
    val rows = graft.sinks.PgClassic.copyFrame(t.point, pointTable)
      .select("osm_id", "population").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // the 23 escape_type(INT) pins of test-output-pgsql-int4.cpp:29-76
    val expected: Map[Long, Option[Long]] = Map(
      1L -> None, 2L -> None, 3L -> None, // beyond int4 (incl. >long)
      4L -> Some(2147483647L), 5L -> Some(10000L),
      6L -> Some(-10000L), 7L -> Some(-2147483648L),
      8L -> None, 9L -> None, 10L -> None, // below int4 min
      11L -> None, 12L -> None,            // range means out of int4
      13L -> Some(2147483647L),            // range mean IS int4 max
      14L -> Some(15000L), 15L -> Some(-15000L),
      16L -> Some(-2147483648L),           // range mean IS int4 min
      17L -> None, 18L -> None,
      19L -> None, 20L -> None, 21L -> None, 22L -> None, // invalid
      23L -> Some(0L))
    assert(rows == expected)
  }

  test("bz2 XML extract matches the PBF reader (same Liechtenstein)") {
    // liechtenstein .osm.bz2 is the SAME extract as the .pbf — the
    // bz2+XML path must agree with the binary reader on entity counts
    val bz2 = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.bz2"
    assert(graft.sources.OsmSource.sniffPath(bz2) == "xml")
    val xml = graft.sources.OsmXml.read(spark, Seq(bz2))
    assert(xml.nodes.count() == 65733L)
    val pbf = OsmPbf.read(spark, path)
    assert(xml.ways.count() == pbf.ways.count())
    assert(xml.relations.count() == pbf.relations.count())
  }
}
