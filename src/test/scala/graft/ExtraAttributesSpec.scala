package graft

import graft.classic.{ClassicPipeline, StyleFile}
import graft.sources.OsmText

/** Port of tests/bdd/regression/extra-attributes.feature: without -x
  * the osm_* attribute pseudo-tags are absent; with -x the way's
  * version/changeset/timestamp/uid/user appear as tags (here in
  * hstore mode, -j, where they flow to the output map). */
class ExtraAttributesSpec extends SparkSpecBase {

  import spark.implicits._

  // the feature's grid places n10..n12 on a lattice; coordinates are
  // irrelevant to the assertion, only the way must be road-flagged
  private val data = """
    n10 v1 x0.0 y0.0
    n11 v1 x0.0 y0.1
    n12 v1 x0.1 y0.1
    w20 v1 dV c31 t2020-01-12T12:34:56Z i17 utest Thighway=primary Nn10,n11,n12
  """

  test("-x injects osm_* pseudo-tags; without it they are absent") {
    val osm = OsmText.toFrames(spark, data)
    val style = StyleFile.defaultStyle

    val plain = ClassicPipeline.run(osm, style,
      ClassicPipeline.Settings(hstore = true))
    val plainTags = plain.roads.select($"osm_id", $"tags")
      .as[(Long, Map[String, String])].collect()
    assert(plainTags.map(_._1).toSet == Set(20L))
    val pt = plainTags.head._2
    assert(pt("highway") == "primary")
    assert(!pt.contains("osm_version") && !pt.contains("osm_changeset"))

    val withX = ClassicPipeline.run(osm, style,
      ClassicPipeline.Settings(hstore = true, extraAttributes = true))
    val xt = withX.roads.select($"tags")
      .as[Map[String, String]].head()
    assert(xt("highway") == "primary")
    assert(xt("osm_version") == "1")
    assert(xt("osm_changeset") == "31")
    assert(xt("osm_uid") == "17")
    assert(xt("osm_user") == "test")
    assert(xt("osm_timestamp") == "2020-01-12T12:34:56Z") // to_iso form
  }

  test("import properties reflect input timestamps (timestamps.feature)") {
    import graft.sinks.Properties
    val withTs = OsmText.toFrames(spark, """
      n10 t2020-01-02T03:04:05Z x10 y10
      n11 t2020-01-02T03:04:05Z x10 y11
      w20 t2020-01-02T03:04:06Z Thighway=primary Nn10,n11
    """)
    val p = Properties.importProperties(withTs)
    assert(p.size == 10)
    assert(p("import_timestamp") == "2020-01-02T03:04:06Z")
    assert(p("current_timestamp") == "2020-01-02T03:04:06Z")
    assert(p("attributes") == "false" && p("db_format") == "0" &&
      p("prefix") == "planet_osm" && p("updatable") == "false" &&
      p("output") == "pgsql" && p("flat_node_file") == "")

    val noTs = OsmText.toFrames(spark, """
      n10 x10 y10
      n11 x10 y11
      w20 Thighway=primary Nn10,n11
    """)
    val p2 = Properties.importProperties(noTs)
    assert(p2.size == 8)
    assert(!p2.contains("import_timestamp"))

    // append: current_timestamp advances, import_timestamp stays
    val diff = OsmText.toFrames(spark, """
      n10 v2 t2020-02-01T00:00:00Z x10 y10.5
    """, change = true)
    val p3 = Properties.appendProperties(p, diff)
    assert(p3("import_timestamp") == "2020-01-02T03:04:06Z")
    assert(p3("current_timestamp") == "2020-02-01T00:00:00Z")
    // appending to a no-timestamp import: the 9-row current-only shape
    val p4 = Properties.appendProperties(p2, diff)
    assert(p4.size == 9 && !p4.contains("import_timestamp"))
    assert(p4("current_timestamp") == "2020-02-01T00:00:00Z")
    // empty input never NPEs and keeps the map unchanged
    val p5 = Properties.appendProperties(p2, OsmText.toFrames(spark, ""))
    assert(p5 == p2)
  }
}
