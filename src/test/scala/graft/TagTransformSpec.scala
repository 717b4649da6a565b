package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.classic.{ClassicPipeline, StyleFile}
import graft.geom.Srid
import graft.sources.OsmText

/** The legacy Lua tagtransform hook (src/tagtransform-lua.cpp:
  * filter_tags_node/way/relation as user closures): custom per-entity
  * keep/tag logic replaces the style-file filter, including polygon
  * and roads decisions for ways. */
class TagTransformSpec extends SparkSpecBase {

  import spark.implicits._

  private val data = """
    n1 v1 dV Tamenity=cafe,name=K x0.0 y0.0
    n2 v1 dV Ttourism=hotel x0.1 y0.0
    n3 v1 dV x0.2 y0.0
    n4 v1 dV x0.2 y0.1
    n5 v1 dV x0.3 y0.1
    w20 v1 dV Tbuilding=yes Nn3,n4,n5,n3
    w21 v1 dV Thighway=primary Nn3,n5
  """

  test("custom node/way closures replace the style filter") {
    val osm = OsmText.toFrames(spark, data)
    // node rule: keep ONLY amenities, rewrite to a single kind tag
    val nodeXform = (df: DataFrame) => df
      .withColumn("__keep", col("tags").getItem("amenity").isNotNull)
      .withColumn("__outtags",
        map(lit("kind"), col("tags").getItem("amenity")))
    // way rule: everything tagged is kept; buildings are polygons;
    // custom roads flag — highways only
    val wayXform = (df: DataFrame) => df
      .withColumn("__keep", size(col("tags")) > 0)
      .withColumn("__outtags", col("tags"))
      .withColumn("__polygon",
        col("tags").getItem("building").isNotNull)
      .withColumn("__roads",
        col("tags").getItem("highway").isNotNull)

    val t = ClassicPipeline.run(osm, StyleFile.defaultStyle,
      ClassicPipeline.Settings(srid = Srid.WGS84,
        tagTransform = ClassicPipeline.TagTransform(
          node = Some(nodeXform), way = Some(wayXform))))

    // n2 (hotel) dropped by the custom rule despite being in the
    // default style; n1 kept with the rewritten tag
    val pts = t.point.select($"osm_id", $"tags")
      .as[(Long, Map[String, String])].collect().toMap
    assert(pts.keySet == Set(1L))
    assert(pts(1L) == Map("kind" -> "cafe"))

    // w20 → polygon table, w21 → line + roads (custom roads flag)
    assert(t.polygon.select($"osm_id").as[Long].collect().toSet ==
      Set(20L))
    assert(t.line.select($"osm_id").as[Long].collect().toSet ==
      Set(21L))
    assert(t.roads.select($"osm_id").as[Long].collect().toSet ==
      Set(21L))
  }

  test("default path is unchanged when no transform is given") {
    val osm = OsmText.toFrames(spark, data)
    val t = ClassicPipeline.run(osm, StyleFile.defaultStyle,
      ClassicPipeline.Settings(srid = Srid.WGS84))
    // the default style keeps both tagged nodes
    assert(t.point.select($"osm_id").as[Long].collect().toSet ==
      Set(1L, 2L))
  }
}
