package graft

import org.apache.spark.sql.functions._

import graft.classic.{ClassicPipeline, ClassicUpdate, StyleFile}
import graft.expressions.GeomExpressions.stAreaN
import graft.geom.{Ewkb, Polygon}
import graft.sources.OsmSource

/** The multipolygon acceptance corpus (SURVEY §7.4 "known-hard"):
  * tests/data/test_multipolygon.osm through the classic pipeline,
  * asserting the per-relation goldens of
  * tests/bdd/regression/multipolygon.feature — old-style
  * multipolygons, multiple outers, holes, touching rings, invalid
  * assemblies that must produce nothing — plus the diff update.
  */
class MultipolygonRegressionSpec extends SparkSpecBase {
  import spark.implicits._

  private val osmPath = "/root/reference/tests/data/test_multipolygon.osm"
  private val oscPath = "/root/reference/tests/data/test_multipolygon_diff.osc"

  private def areasById(t: ClassicPipeline.Tables4): Map[Long, Long] =
    t.polygon.groupBy($"osm_id")
      .agg(sum(stAreaN($"geom")).as("a"))
      .as[(Long, Double)].collect()
      .map { case (id, a) => id -> math.round(a) }.toMap

  test("multipolygon corpus import goldens") {
    val osm = OsmSource.read(spark, Seq(osmPath))
    val t = ClassicPipeline.run(osm, StyleFile.defaultStyle)
    val areas = areasById(t)

    // per-object ST_Area goldens (multipolygon.feature:25-41)
    val expected = Map(
      -1L -> 12895L, 4L -> 3144L, -8L -> 12894L, 5L -> 3144L,
      -14L -> 12894L, -11L -> 11529L, -3L -> 9286L, 83L -> 24859L,
      -24L -> 18501L, 102L -> 12994L,
      // grouped sums (rows may be split into multiple polygons)
      -13L -> 17581L, -7L -> 16169L, -29L -> 68494L, -40L -> 12397L)
    expected.foreach { case (id, a) =>
      assert(areas.contains(id), s"osm_id $id missing")
      assert(math.abs(areas(id) - a) <= 1, s"osm_id $id: ${areas(id)} vs $a")
    }
    // -39 is the touching-rings case: the reference's own two goldens
    // disagree by 1 (area 10377 vs way_area 10378) and our assembly
    // lands 2e-4 away — accept ±2
    assert(math.abs(areas(-39L) - 10377.5) <= 2.0, s"-39: ${areas(-39L)}")

    // invalid assemblies must produce nothing (feature:66-73)
    assert(!areas.contains(109L) && !areas.contains(104L))
    assert(!areas.contains(-33L))

    // split multipolygons: -13 and -7 produce 2 polygon rows each
    val counts = t.polygon.groupBy($"osm_id").count()
      .as[(Long, Long)].collect().toMap
    assert(counts(-13L) == 2L && counts(-7L) == 2L)
    // these stay single rows
    Seq(-25L, 113L, 118L, 114L, 107L, 102L, 138L, 140L).foreach(id =>
      assert(counts(id) == 1L, s"count($id)=${counts.get(id)}"))

    // relation -3 keeps its two interior rings
    val ring3 = t.polygon.where($"osm_id" === -3L)
      .select($"geom").as[Array[Byte]].head()
    assert(Ewkb.decode(ring3).asInstanceOf[Polygon].inners.size == 2)

    // way 6 routes to the line table with the golden length
    val len6 = t.line.where($"osm_id" === 6L)
      .agg(sum(graft.expressions.GeomExpressions.stLengthN($"geom")))
      .as[Double].head()
    assert(math.round(len6) == 228L, s"line 6 length $len6")
  }

  test("multipolygon corpus diff update goldens") {
    val osm = OsmSource.read(spark, Seq(osmPath))
    val prev = ClassicPipeline.run(osm, StyleFile.defaultStyle)
    val changes = OsmSource.read(spark, Seq(oscPath))
    val t = ClassicUpdate.incrementalUpdate(osm, changes, prev,
      StyleFile.defaultStyle)
    val areas = areasById(t)
    // post-diff goldens (feature:96-110): -1 changes, the rest hold
    val expected = Map(
      -1L -> 13949L, 4L -> 3144L, -8L -> 12894L, 5L -> 3144L,
      -14L -> 12894L, -11L -> 11529L, -3L -> 9286L, 83L -> 24859L,
      -24L -> 18501L, 102L -> 12994L)
    expected.foreach { case (id, a) =>
      assert(math.abs(areas(id) - a) <= 1, s"osm_id $id: ${areas.get(id)} vs $a")
    }
  }
}
