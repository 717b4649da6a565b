package graft.lua

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** The reference's shipped example configs executed THROUGH THE LUA
  * RUNTIME over Liechtenstein — the strongest user-surface check: a
  * reference user's `-S <config>.lua` produces the same tables here
  * as the hand-typed ports whose counts CliSpec pins, from the very
  * same Lua source the reference ships
  * (tests/test-output-flex-example-configs.cpp is load-only; this
  * executes them).
  *
  * Where a count differs from a typed port's pin, the LUA number is
  * the faithful one (it runs the reference's own dispatch rules) and
  * the delta is noted. */
class LuaExampleConfigsSpec extends SparkSpecBase {

  private val pbf =
    "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"
  private val cfgDir = "/root/reference/flex-config"

  private def runCfg(cfg: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-lua-$cfg")
    graft.cli.Main.run(spark, graft.cli.Options.parse(Seq(
      pbf, "-O", "flex", "-S", s"$cfgDir/$cfg.lua",
      "--output-dir", s"$dir/out")))
    s"$dir/out"
  }
  private def cnt(dir: String, t: String): Long =
    spark.read.parquet(s"$dir/$t").count()

  test("geometries.lua: nullable geoms, lua-side area/spherical_area") {
    assume(new java.io.File(pbf).exists())
    val d = runCfg("geometries")
    assert(cnt(d, "pois") == 1562L)
    assert(cnt(d, "pubs") == 2L)
    assert(cnt(d, "ways") == 3015L)
    assert(cnt(d, "polygons") == 4120L)
    assert(cnt(d, "boundaries") == 20L)
    // broken assemblies land as NULL geom rows (nullable column)
    assert(spark.read.parquet(s"$d/polygons")
      .where(col("geom").isNull).count() == 4L)
    assert(spark.read.parquet(s"$d/polygons")
      .where(col("area").isNotNull && col("spherical_area").isNotNull)
      .count() >= 4100L)
  }

  test("attributes.lua: version/timestamp/os.date; reference dispatch " +
      "(untagged ways skipped — no process_untagged_way)") {
    assume(new java.io.File(pbf).exists())
    val d = runCfg("attributes")
    assert(cnt(d, "nodes") == 1562L)
    assert(cnt(d, "ways") == 7105L) // tagged ways only
    assert(cnt(d, "relations") == 113L)
    val w = spark.read.parquet(s"$d/ways")
    assert(w.where(col("created").isNull || col("version").isNull)
      .count() == 0L)
    // os.date('!%Y-%m-%dT%H:%M:%SZ') text survives the timestamp cast
    assert(w.where(!col("created").cast("string")
      .rlike("^2\\d{3}-\\d{2}-\\d{2}")).count() == 0L)
    // way node id list as PG array text
    assert(w.where(!col("nodes").rlike("^\\{\\d+(,\\d+)*\\}$"))
      .count() == 0L)
  }

  test("hstore.lua / with-schema.lua / untagged.lua / unitable.lua") {
    assume(new java.io.File(pbf).exists())
    val h = runCfg("hstore")
    assert(cnt(h, "nodes") == 1562L)
    assert(cnt(h, "ways") == 7105L)
    val ws = runCfg("with-schema")
    assert(cnt(ws, "data") == 7105L)
    val un = runCfg("untagged")
    assert(cnt(un, "nodes") == 65733L) // process_untagged_node runs
    assert(spark.read.parquet(s"$un/nodes")
      .where(col("tags").isNotNull).count() == 1562L)
    assert(cnt(un, "ways") == 7121L)
    val u = runCfg("unitable")
    val ut = spark.read.parquet(s"$u/data")
    assert(ut.count() == 8578L)
    assert(ut.where(col("osm_type") === "R").count() == 113L)
  }

  test("places.lua: nested names object via Lua table → jsonb") {
    assume(new java.io.File(pbf).exists())
    val d = runCfg("places")
    val p = spark.read.parquet(s"$d/places")
    assert(p.count() == 20L)
    assert(p.where(col("tags").contains("\"names\":{")).count() > 0L)
    assert(p.where(col("tags").contains("\"name\":")).count() == 0L)
  }

  test("route-relations.lua: two-stage w2r state reaches marked ways") {
    assume(new java.io.File(pbf).exists())
    val d = runCfg("route-relations")
    assert(cnt(d, "highways") == 2753L)
    // type=route + route=road + ref (stricter than the typed port's
    // RouteRelations shape, which models a route inventory)
    assert(cnt(d, "routes") == 4L)
    val hw = spark.read.parquet(s"$d/highways")
    // stage-2 reprocessed ways carry the relation refs/ids built by
    // process_relation's w2r state (replayed into stage-2 states)
    assert(hw.where(col("rel_refs").isNotNull).count() > 0L)
    assert(hw.where(col("rel_ids").isNotNull &&
      !col("rel_ids").rlike("^\\{\\d+(,\\d+)*\\}$")).count() == 0L)
  }

  test("turning-circles.lua: ids.cache + in_id_cache over the bcast set") {
    assume(new java.io.File(pbf).exists())
    val d = runCfg("turning-circles")
    assert(cnt(d, "turning_circles") == 13L)
    assert(cnt(d, "highways") == 2753L)
    val ends = spark.read.parquet(s"$d/highway_ends")
    assert(ends.count() == 21L)
    assert(ends.where(col("node_id").isNull || col("geom").isNull)
      .count() == 0L)
  }

  test("turning-circles.lua: above-gate id cache (distributed join " +
      "path, gate=0) produces the identical tables") {
    assume(new java.io.File(pbf).exists())
    // force the planet-scale path: the cache never collects to the
    // driver; in_id_cache answers from per-object hit sets joined in
    spark.conf.set("graft.flex.idCacheBroadcastMax", "0")
    try {
      val d = runCfg("turning-circles")
      assert(cnt(d, "turning_circles") == 13L)
      assert(cnt(d, "highways") == 2753L)
      assert(cnt(d, "highway_ends") == 21L)
    } finally spark.conf.unset("graft.flex.idCacheBroadcastMax")
  }

  test("addresses / bbox / data-types / indexes / labelpoint") {
    assume(new java.io.File(pbf).exists())
    val a = runCfg("addresses")
    val ad = spark.read.parquet(s"$a/addrs")
    assert(ad.count() == 212L)
    assert(ad.where(col("osm_type") === "N").count() == 73L)
    assert(ad.where(col("osm_id") < 0).count() == 0L)
    val b = runCfg("bbox")
    assert(cnt(b, "pois") == 1562L)
    assert(cnt(b, "polygons") == 4120L)
    assert(cnt(b, "ways") == 3015L)
    assert(spark.read.parquet(s"$b/ways")
      .where(!col("bbox").rlike(
        "^BOX\\(-?[0-9.]+ -?[0-9.]+,-?[0-9.]+ -?[0-9.]+\\)$"))
      .count() == 0L)
    val dt = runCfg("data-types")
    val hw = spark.read.parquet(s"$dt/highways")
    assert(hw.count() == 2160L)
    assert(!hw.columns.contains("id")) // create_only serial
    assert(hw.where(col("oneway").isNull).count() == 0L)
    val ix = runCfg("indexes")
    assert(cnt(ix, "pois") == 1562L)
    assert(cnt(ix, "pubs") == 2L)
    assert(cnt(ix, "roads") == 2753L)
    val lp = runCfg("labelpoint")
    assert(cnt(lp, "polygons") == 182L)
  }

  test("generic.lua: the full helper-driven config (counts = typed port)") {
    assume(new java.io.File(pbf).exists())
    val d = runCfg("generic")
    assert(cnt(d, "points") == 1360L)
    assert(cnt(d, "lines") == 3013L)
    assert(cnt(d, "polygons") == 4098L)
    assert(cnt(d, "routes") == 35L)
    assert(cnt(d, "boundaries") == 36L)
  }

  test("expire.lua: tile-list file + expire tables with zoom rollup") {
    assume(new java.io.File(pbf).exists())
    val d = runCfg("expire")
    assert(cnt(d, "pois") == 1562L)
    val tiles = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$d/pois.tiles"))
    assert(tiles.size() == 130)
    tiles.forEach(l => assert(l.matches("14/\\d+/\\d+"), l))
    assert(cnt(d, "expire_expire_output_1") == 196L)
    val pz = spark.read.parquet(s"$d/expire_expire_output_2")
    assert(pz.count() == 235L)
    assert(pz.agg(min("zoom"), max("zoom")).collect().head.toSeq ==
      Seq(10, 14))
  }

  test("compatible.lua: the classic C-transform parity config " +
      "(segmentize/geometries loops, z_order, way_area)") {
    assume(new java.io.File(pbf).exists())
    val d = runCfg("compatible")
    def tbl(t: String) = spark.read.parquet(s"$d/$t")
    // point/polygon equal the classic import.feature goldens exactly
    // (same as the typed Compatible port); line differs from the
    // typed port by ONE row: compatible.lua segmentizes the 4326
    // geometry (compatible.lua:564-565 — max_length 100000 in degree
    // space never splits), while the typed port splits after the
    // 3857 transform like the classic C path. The Lua number is what
    // the reference's own config produces.
    assert(tbl("planet_osm_point").count() == 1342L)
    assert(tbl("planet_osm_polygon").count() == 4130L)
    assert(tbl("planet_osm_line").count() == 4243L)
    assert(tbl("planet_osm_roads").count() == 725L)
    assert(tbl("planet_osm_polygon").where(col("osm_id") < 0)
      .count() == 40L)
    assert(tbl("planet_osm_line").where(col("z_order").isNull)
      .count() == 0L)
    assert(tbl("planet_osm_polygon").where(col("way").isNull ||
      col("way_area").isNull).count() == 0L)
  }

  test("track-changes.lua: osm2pgsql.mode gate + process_deleted_*") {
    assume(new java.io.File(pbf).exists())
    val d = runCfg("track-changes")
    assert(cnt(d, "change_log") == 0L) // create mode logs nothing
    val osc = "/root/reference/tests/data/000466354.osc.gz"
    assume(new java.io.File(osc).exists())
    graft.cli.Main.run(spark, graft.cli.Options.parse(Seq(
      osc, "-a", "--slim", "-O", "flex",
      "-S", s"$cfgDir/track-changes.lua", "--output-dir", d)))
    // same A/M/D counts as the typed TrackChanges port over 000466354
    val log = spark.read.parquet(s"$d/change_log")
      .groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(log == Map("A" -> 1461L, "M" -> 181L, "D" -> 13L))
  }

  test("gen/forests.lua: run_gen raster-union steps recorded and run") {
    assume(new java.io.File(pbf).exists())
    val dir = java.nio.file.Files.createTempDirectory("graft-lua-forests")
    graft.cli.Main.run(spark, graft.cli.Options.parse(Seq(
      pbf, "-O", "flex", "-S", s"$cfgDir/gen/forests.lua",
      "--output-dir", s"$dir/out")))
    val d = s"$dir/out"
    // same pins as the typed Forests port (CliSpec)
    assert(cnt(d, "forests") == 64L)
    assert(cnt(d, "forests_s") == 8L)
    assert(cnt(d, "forests_m") == 8L)
    assert(cnt(d, "forests_l") == 33L)
  }

  test("locator chain: import-countries.lua feeds buildings.lua " +
      "classification (synthetic country, verbatim configs)") {
    // the typed LocatorExamples synthetic scenario, run with the
    // reference's actual Lua files: a DE square country relation +
    // a building inside and one outside
    val osmXml =
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osm version="0.6" generator="t">
        |<node id="1" lat="0.0" lon="0.0"/>
        |<node id="2" lat="0.0" lon="1.0"/>
        |<node id="3" lat="1.0" lon="1.0"/>
        |<node id="4" lat="1.0" lon="0.0"/>
        |<node id="11" lat="0.40" lon="0.40"/>
        |<node id="12" lat="0.40" lon="0.45"/>
        |<node id="13" lat="0.45" lon="0.45"/>
        |<node id="14" lat="0.45" lon="0.40"/>
        |<node id="21" lat="2.40" lon="2.40"/>
        |<node id="22" lat="2.40" lon="2.45"/>
        |<node id="23" lat="2.45" lon="2.45"/>
        |<node id="24" lat="2.45" lon="2.40"/>
        |<way id="30"><nd ref="1"/><nd ref="2"/><nd ref="3"/>
        |  <nd ref="4"/><nd ref="1"/></way>
        |<way id="31"><nd ref="11"/><nd ref="12"/><nd ref="13"/>
        |  <nd ref="14"/><nd ref="11"/>
        |  <tag k="building" v="yes"/></way>
        |<way id="32"><nd ref="21"/><nd ref="22"/><nd ref="23"/>
        |  <nd ref="24"/><nd ref="21"/>
        |  <tag k="building" v="yes"/></way>
        |<relation id="40">
        |  <member type="way" ref="30" role="outer"/>
        |  <tag k="type" v="boundary"/>
        |  <tag k="boundary" v="administrative"/>
        |  <tag k="admin_level" v="2"/>
        |  <tag k="ISO3166-1" v="DE"/>
        |</relation>
        |</osm>""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graft-lua-locchain")
    val in = dir.resolve("country.osm")
    java.nio.file.Files.write(in, osmXml.getBytes("UTF-8"))
    // step 1: the import config lands the countries table
    graft.cli.Main.run(spark, graft.cli.Options.parse(Seq(
      in.toString, "-O", "flex",
      "-S", s"$cfgDir/locator/import-countries.lua",
      "--output-dir", s"$dir/out1")))
    val countries = spark.read.parquet(s"$dir/out1/countries")
      .select("code", "geom").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toSeq
    assert(countries.map(_._1) == Seq("DE"))
    // step 2: buildings.lua classifies against those regions — the
    // resolver plays the role of the add_from_db database query
    val cfg = graft.flex.LuaFlexConfig.fromFile(
      s"$cfgDir/locator/buildings.lua",
      dbRegionResolver = Some(_ => countries))
    val osm = graft.flex.Enrich.forFlex(
      graft.sources.OsmSource.read(spark, Seq(in.toString)), "create")
    val r = graft.flex.FlexRunner.run(cfg, osm)
    val rows = r.tables("buildings").rows
      .select(col("area_id"), col("country"), col("countries"))
      .collect().map(x => x.getLong(0) ->
        ((x.getString(1), x.getString(2)))).toMap
    assert(rows(31L) == (("DE", "{DE}")))
    assert(rows(32L) == ((null, "{}")))
  }

  test("locator/motorway-colours.lua: country colour table lookup") {
    // same synthetic DE country; a motorway inside it gets the DE
    // colour from the config's cc2colour table
    val square = graft.geom.Ewkb.encode(graft.geom.Polygon(
      graft.geom.Ring(Vector(graft.geom.Pt(0, 0), graft.geom.Pt(1, 0),
        graft.geom.Pt(1, 1), graft.geom.Pt(0, 1), graft.geom.Pt(0, 0)))))
    val cfg = graft.flex.LuaFlexConfig.fromFile(
      s"$cfgDir/locator/motorway-colours.lua",
      dbRegionResolver = Some(_ => Seq(("DE", square))))
    val osm = graft.flex.Enrich.forFlex(
      graft.sources.OsmText.toFrames(spark, """
        n1 v1 dV x0.4 y0.4
        n2 v1 dV x0.5 y0.5
        n3 v1 dV x5.0 y5.0
        n4 v1 dV x5.1 y5.1
        w10 v1 dV Thighway=motorway Nn1,n2
        w11 v1 dV Thighway=motorway Nn3,n4
        """), "create")
    val r = graft.flex.FlexRunner.run(cfg, osm)
    val rows = r.tables("highways").rows
      .select(col("way_id"), col("country"), col("colour"))
      .collect().map(x => x.getLong(0) ->
        ((x.getString(1), x.getString(2)))).toMap
    assert(rows(10L) == (("DE", "#174688")))
    assert(rows(11L) == ((null, null)))
  }

  test("locator/iceland.lua: add_bbox classify; Liechtenstein misses") {
    assume(new java.io.File(pbf).exists())
    val dir = java.nio.file.Files.createTempDirectory("graft-lua-iceland")
    graft.cli.Main.run(spark, graft.cli.Options.parse(Seq(
      pbf, "-O", "flex", "-S", s"$cfgDir/locator/iceland.lua",
      "--output-dir", s"$dir/out")))
    // nothing in Liechtenstein intersects the Iceland bbox (same pin
    // as the typed LocatorIceland port)
    assert(cnt(s"$dir/out", "highways") == 0L)
  }

  test("define_locator + add_bbox + first/all_intersecting classify " +
      "synthetic data (locator machinery end to end)") {
    val osmText = """
      n1 v1 dV Thighway=bus_stop x-20.0 y64.0
      n2 v1 dV Thighway=bus_stop x8.5 y47.1
      """
    val osm = graft.flex.Enrich.forFlex(
      graft.sources.OsmText.toFrames(spark, osmText), "create")
    val cfg = new graft.flex.LuaFlexConfig(
      """local iceland = osm2pgsql.define_locator({ name = 'iceland' })
        |iceland:add_bbox('IS', -25.0, 62.0, -12.0, 68.0)
        |local t = osm2pgsql.define_table{
        |  name = 'stops',
        |  ids = { type = 'node', id_column = 'node_id' },
        |  columns = {
        |    { column = 'region', type = 'text' },
        |    { column = 'nregions', type = 'int4' },
        |  }}
        |function osm2pgsql.process_node(object)
        |  local g = object:as_point()
        |  t:insert{
        |    region = iceland:first_intersecting(g),
        |    nregions = #iceland:all_intersecting(g),
        |  }
        |end
        |""".stripMargin)
    val r = graft.flex.FlexRunner.run(cfg, osm)
    import spark.implicits._
    val rows = r.tables("stops").rows
      .select($"node_id", $"region", $"nregions")
      .as[(Long, Option[String], Int)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, Some("IS"), 1), (2L, None, 0)))
  }

  test("add_from_db regions resolve once and classify on executors") {
    val osmText = """
      n1 v1 dV Tbuilding=yes x0.5 y0.5
      n2 v1 dV Tbuilding=yes x5.0 y5.0
      """
    val osm = graft.flex.Enrich.forFlex(
      graft.sources.OsmText.toFrames(spark, osmText), "create")
    // fake DB: one unit-square region named DE
    val square = graft.geom.Ewkb.encode(graft.geom.Polygon(
      graft.geom.Ring(Vector(graft.geom.Pt(0, 0), graft.geom.Pt(1, 0),
        graft.geom.Pt(1, 1), graft.geom.Pt(0, 1), graft.geom.Pt(0, 0)))))
    var calls = 0
    val cfg = new graft.flex.LuaFlexConfig(
      """local countries = osm2pgsql.define_locator({ name = 'countries' })
        |countries:add_from_db('SELECT code, geom FROM countries')
        |local t = osm2pgsql.define_table{
        |  name = 'buildings',
        |  ids = { type = 'node', id_column = 'node_id' },
        |  columns = {
        |    { column = 'country', type = 'text' },
        |  }}
        |function osm2pgsql.process_node(object)
        |  t:insert{ country = countries:first_intersecting(object:as_point()) }
        |end
        |""".stripMargin,
      dbRegionResolver = Some { _ => calls += 1; Seq(("DE", square)) })
    val r = graft.flex.FlexRunner.run(cfg, osm)
    import spark.implicits._
    val rows = r.tables("buildings").rows
      .select($"node_id", $"country")
      .as[(Long, Option[String])].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, Some("DE")), (2L, None)))
    assert(calls == 1) // driver resolves once; executors get the copy
  }

  test("public-transport.lua: two-stage stops + stop-area collections") {
    assume(new java.io.File(pbf).exists())
    val d = runCfg("public-transport")
    assert(cnt(d, "stops") == 8L)
    assert(cnt(d, "routes") == 17L)
    assert(cnt(d, "stop_areas") == 1L)
    assert(spark.read.parquet(s"$d/stop_areas")
      .where(col("radius").isNull || col("geom").isNull).count() == 0L)
    val lines = spark.read.parquet(s"$d/lines")
    assert(lines.count() == 2790L)
    assert(lines.where(col("rel_refs").isNotNull).count() == 188L)
  }

  test("addresses.lua: 'any' ids + count>1 rule + centroid fallback") {
    assume(new java.io.File(pbf).exists())
    val d = runCfg("addresses")
    val addrs = spark.read.parquet(s"$d/addrs")
    assert(addrs.count() == 212L)
    // ids = { type = 'any' }: type_column with N/W/R markers
    assert(addrs.select("osm_type").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("N", "W", "R")))
    // get_address inserts only when >1 addr:* component matched
    val parts = Seq("housenumber", "street", "city", "postcode",
      "country", "state", "place")
    val withCount = addrs.withColumn("n_parts",
      parts.map(c => when(col(c).isNotNull, 1).otherwise(0))
        .reduce(_ + _))
    assert(withCount.where(col("n_parts") < 2).count() == 0L)
    // geom is not_null (points; polygons landed as centroids)
    assert(addrs.where(col("geom").isNull).count() == 0L)
  }

  test("bbox.lua: get_bbox() four-value return formatted as box2d text") {
    assume(new java.io.File(pbf).exists())
    val d = runCfg("bbox")
    assert(cnt(d, "pois") == 1562L)
    assert(cnt(d, "ways") == 3015L)
    assert(cnt(d, "polygons") == 4120L)
    assert(cnt(d, "boundaries") == 21L)
    val boxRe = "^BOX\\(-?[0-9.]+ -?[0-9.]+,-?[0-9.]+ -?[0-9.]+\\)$"
    // every node has a location → every poi bbox formats, and a point's
    // box is degenerate: BOX(x y,x y)
    val pois = spark.read.parquet(s"$d/pois")
    assert(pois.where(!col("bbox").rlike(boxRe)).count() == 0L)
    assert(pois.where(col("bbox").rlike(
      "^BOX\\((-?[0-9.]+) (-?[0-9.]+),\\1 \\2\\)$")).count() == 1562L)
    // ways/polygons: formatted box whenever the bbox exists; broken
    // multipolygon assemblies still have a bbox from member nodes
    for (t <- Seq("ways", "polygons", "boundaries")) {
      val df = spark.read.parquet(s"$d/$t")
      assert(df.where(col("bbox").isNotNull && !col("bbox").rlike(boxRe))
        .count() == 0L, t)
      // format_bbox returns nil when get_bbox() yields nothing — one
      // boundary relation has no members inside the extract
      val wantNull = if (t == "boundaries") 1L else 0L
      assert(df.where(col("bbox").isNull).count() == wantNull, t)
    }
  }

  test("data-types.lua: direction/bool coercion, int8[] text form, " +
      "create_only column not in the write stream") {
    assume(new java.io.File(pbf).exists())
    val d = runCfg("data-types")
    val hw = spark.read.parquet(s"$d/highways")
    assert(hw.count() == 2160L)
    // serial create_only column is DDL-only (the database fills it)
    assert(!hw.columns.contains("id"))
    // direction: yes/true/1 → 1, -1 → -1, everything else → 0
    assert(hw.select("oneway").distinct().collect()
      .map(_.getShort(0)).toSet.subsetOf(Set[Short](-1, 0, 1)))
    // bool column really lands as boolean
    assert(hw.schema("lit").dataType ==
      org.apache.spark.sql.types.BooleanType)
    // nodes = '{' .. table.concat(object.nodes, ',') .. '}' (int8[])
    assert(hw.where(!col("nodes").rlike(
      "^\\{[0-9]+(,[0-9]+)*\\}$")).count() == 0L)
    // parse_speed: km/h numbers and mph conversion are all ints ≥ 0
    assert(hw.where(col("maxspeed").isNotNull && col("maxspeed") < 0)
      .count() == 0L)
    // type was grab_tag'd and filtered against the allow-list
    assert(hw.where(col("type").isNull).count() == 0L)
  }

  test("indexes.lua: all index shapes land; id index independent of " +
      "the user index list (flex-table.cpp:375-377)") {
    assume(new java.io.File(pbf).exists())
    val d = runCfg("indexes")
    assert(cnt(d, "pois") == 1562L)
    assert(cnt(d, "ways") == 3015L)
    assert(cnt(d, "polygons") == 4090L)
    assert(cnt(d, "pubs") == 2L)
    assert(cnt(d, "roads") == 2753L)
    assert(cnt(d, "postboxes") == 11L)
    // DDL from the Lua-loaded defs (not the typed ports)
    val cfg = graft.flex.LuaFlexConfig.fromFile(s"$cfgDir/indexes.lua")
    def ddl(name: String, updatable: Boolean) = graft.sinks.PgSink
      .postLoadDdl(cfg.tables.find(_.name == name).get, updatable)
    // indexes = {}: no user/default index — but the id index is still
    // built for updatable tables, independent of the list
    assert(!ddl("pois", updatable = false).exists(_.contains("CREATE INDEX")))
    assert(ddl("pois", updatable = true).exists(
      _.contains("""USING BTREE ("node_id")""")))
    // absent indexes field: ONE default gist on the geometry column,
    // fillfactor 100 when the table won't be updated
    val waysDdl = ddl("ways", updatable = false)
    assert(waysDdl.count(_.contains("USING gist")) == 1)
    assert(waysDdl.exists(s => s.contains("""USING gist ("geom")""") &&
      s.contains("fillfactor = 100")))
    assert(ddl("ways", updatable = true).exists(s =>
      s.contains("""USING gist ("geom")""") && !s.contains("fillfactor")))
    // two explicit gists (polygon + its center point)
    assert(ddl("polygons", updatable = false)
      .count(_.contains("USING gist")) == 2)
    // non-geometry btree next to a gist
    assert(ddl("pubs", updatable = false).exists(
      _.contains("""USING btree ("name")""")))
    // multi-column btree + where-condition partial index
    val roadsDdl = ddl("roads", updatable = false)
    assert(roadsDdl.exists(_.contains("""("name","ref")""")))
    assert(roadsDdl.exists(_.contains("WHERE type='primary'")))
    // named expression index
    assert(ddl("postboxes", updatable = false).exists(s =>
      s.contains(""""postbox_operator_idx"""") &&
        s.contains("(lower(operator))")))
  }

  test("labelpoint.lua: centroid + pole_of_inaccessibility with " +
      "stretch; multipolygons split via geometries()") {
    assume(new java.io.File(pbf).exists())
    val d = runCfg("labelpoint")
    val polys = spark.read.parquet(s"$d/polygons")
    assert(polys.count() == 182L)
    // all four derived points are not_null columns
    assert(polys.where(col("geom").isNull || col("centroid").isNull ||
      col("poi1").isNull || col("poi2").isNull).count() == 0L)
    // geometries() splits multipolygons: every landed geom is a plain
    // Polygon (pole_of_inaccessibility only works on those), and both
    // poles decode as points INSIDE the polygon's bbox
    val rows = polys.select("geom", "centroid", "poi1", "poi2").collect()
    rows.foreach { r =>
      val g = graft.geom.Ewkb.decode(r.getAs[Array[Byte]](0))
      assert(g.isInstanceOf[graft.geom.Polygon])
      val box = graft.geom.Box.of(g).get
      for (i <- 1 to 3) {
        graft.geom.Ewkb.decode(r.getAs[Array[Byte]](i)) match {
          case p: graft.geom.Point => assert(box.contains(p.pt))
          case other => fail(s"expected point, got $other")
        }
      }
    }
  }
}
