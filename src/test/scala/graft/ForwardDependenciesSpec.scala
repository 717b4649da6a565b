package graft

import graft.classic.{ClassicPipeline, ClassicUpdate, StyleFile}
import graft.geom.Srid
import graft.sources.OsmText

/** Port of tests/bdd/regression/forward_dependencies.feature: a moved
  * node must re-derive its ways, a changed way must re-derive its
  * relations — the forward-propagation (dependency closure) path,
  * asserted on exact table contents as the feature does. Runs in
  * --latlong (4326) like the scenario. */
class ForwardDependenciesSpec extends SparkSpecBase {

  import spark.implicits._

  private val base = """
    n10 v1 x1.0 y1.0
    n11 v1 x1.0 y2.0
    n12 v1 x2.0 y2.0 Tnatural=tree
    n13 v1 x3.0 y3.0
    n14 v1 x3.1 y3.1
    n15 v1 x0.0 y0.0
    n16 v1 x0.0 y0.1
    n17 v1 x0.1 y0.1
    w20 v1 Nn10,n11,n12,n10 Tlanduse=forest
    w21 v1 Nn13,n14 Thighway=primary
    w22 v1 Nn15,n16
    w23 v1 Nn16,n17,n15
    r30 v1 Mw22@,w23@ Ttype=multipolygon,natural=water
  """
  private val diff = """
    n13 v2 x3.1 y3.0
    w23 v2 Nn16,n17
  """

  test("node and way changes propagate to ways and relations") {
    val style = StyleFile.defaultStyle
    val before = OsmText.toFrames(spark, base)
    val prev = ClassicPipeline.run(before, style,
      ClassicPipeline.Settings(srid = Srid.WGS84))

    // initial state sanity: r30's ring (w22+w23) assembles → polygon
    assert(prev.polygon.select($"osm_id").as[Long].collect().toSet ==
      Set(20L, -30L))
    assert(prev.point.select($"osm_id").as[Long].collect().toSet == Set(12L))

    val startX = org.apache.spark.sql.functions.udf((b: Array[Byte]) =>
      graft.geom.Ewkb.decode(b) match {
        case graft.geom.LineString(pts, _) => pts.head.x
        case _                             => Double.NaN
      })
    val changes = OsmText.toFrames(spark, diff, change = true)
    val after = ClassicUpdate.applyChanges(before, changes)
    val full = ClassicPipeline.run(after, style,
      ClassicPipeline.Settings(srid = Srid.WGS84))

    // the feature's exact expected table contents:
    assert(full.point.select($"osm_id").as[Long].collect().toSet ==
      Set(12L))
    // w21 re-derived because n13 moved: start X is now 3.1
    val line = full.line
      .select($"osm_id", startX($"geom").as("x0"))
      .as[(Long, Double)].collect()
    assert(line.map(_._1).toSet == Set(21L))
    assert(math.abs(line.head._2 - 3.1) < 1e-9)
    assert(full.roads.select($"osm_id").as[Long].collect().toSet ==
      Set(21L))
    // r30's ring no longer closes after w23 v2 → polygon row gone
    assert(full.polygon.select($"osm_id").as[Long].collect().toSet ==
      Set(20L))

    // and the INCREMENTAL path agrees with the full recompute
    val inc = ClassicUpdate.incrementalUpdate(before, changes, prev, style,
      ClassicPipeline.Settings(srid = Srid.WGS84))
    assert(inc.point.select($"osm_id").as[Long].collect().toSet ==
      Set(12L))
    assert(inc.line.select($"osm_id").as[Long].collect().toSet ==
      Set(21L))
    assert(inc.polygon.select($"osm_id").as[Long].collect().toSet ==
      Set(20L))
    val incLine = inc.line
      .select(startX($"geom")).as[Double].head()
    assert(math.abs(incLine - 3.1) < 1e-9)
  }
}
