package graft

import org.apache.spark.sql.functions._

import graft.geom.{Ewkb, GeomOps, LineString, Pt, Srid}
import graft.operators.TileCover

/** Ports of tests/bdd/flex/expire-limit.feature (the expire output's
  * max_tiles_geometry / max_tiles_overall caps) and
  * tests/bdd/flex/expire-diff.feature (diff_expire covers only the
  * geometric difference of old vs new; one-sided delete/insert events
  * cover their full geometry). */
class ExpireLimitDiffSpec extends SparkSpecBase {

  import spark.implicits._

  private def line3857(lonLat: (Double, Double)*): Array[Byte] =
    Ewkb.encode(GeomOps.transform(
      LineString(lonLat.map { case (x, y) => Pt(x, y) }.toVector,
        Srid.WGS84), Srid.WebMercator))

  private val z2 = TileCover.Config(2)
  private val limits = TileCover.Limits(
    maxTilesPerGeometry = 2, maxTilesOverall = 6)

  test("expire-limit: short ways are okay") {
    val df = Seq(
      (20L, line3857((10, 10), (100, 10))),
      (21L, line3857((10, 10), (10, 70)))).toDF("id", "geom")
    val r = TileCover.limitedCover(df, $"id", $"geom", z2, limits)
    assert(r.tiles == Set((2L, 1L), (3L, 1L), (2L, 0L)))
    assert(r.geometryLimitHits == 0 && !r.overallLimitReached)
  }

  test("expire-limit: long way is not okay") {
    val df = Seq((20L, line3857((10, 10), (100, 10), (100, 70))))
      .toDF("id", "geom")
    val r = TileCover.limitedCover(df, $"id", $"geom", z2, limits)
    assert(r.tiles.isEmpty)
    assert(r.geometryLimitHits == 1) // "Tile limit 2 reached for single geometry!"
    assert(!r.overallLimitReached)
  }

  test("expire-limit: too many tiles overall is not okay") {
    val df = Seq(
      (20L, line3857((100, 70), (100, 10))),
      (21L, line3857((100, -10), (100, -70))),
      (22L, line3857((100, -70), (10, -70))),
      (23L, line3857((10, -70), (-10, -70))),
      (24L, line3857((-10, -70), (-100, -70)))).toDF("id", "geom")
    val r = TileCover.limitedCover(df, $"id", $"geom", z2, limits)
    // accumulation stops when w23's tiles would pass 6; w24 is dropped
    assert(r.tiles == Set((3L, 0L), (3L, 1L), (3L, 2L), (3L, 3L), (2L, 3L)))
    assert(r.overallLimitReached) // "Overall tile limit 6 reached!"
    assert(r.geometryLimitHits == 0)
  }

  // expire-diff: the features print the 3857 vertices directly
  private val oldLine = Ewkb.encode(LineString(Vector(
    Pt(0, 0), Pt(222638.98158654713, 0),
    Pt(222638.98158654713, 111325.14285463623),
    Pt(445277.96317309426, 111325.14285463623)), Srid.WebMercator))
  private val newLine = Ewkb.encode(LineString(Vector(
    Pt(0, 0), Pt(0, 111325.14285463623),
    Pt(222638.98158654713, 111325.14285463623),
    Pt(445277.96317309426, 111325.14285463623)), Srid.WebMercator))
  private val z8 = TileCover.Config(8)

  private val fullUnion = Set(
    (127L, 127L), (128L, 127L), (129L, 127L), (130L, 127L),
    (127L, 128L), (128L, 128L), (129L, 128L))

  test("expire-diff: diff_expire disabled covers old and new fully") {
    val df = Seq((oldLine, newLine)).toDF("old", "new")
    val got = TileCover.diffCover(df, $"old", $"new", z8)
      .select($"x", $"y").as[(Long, Long)].collect().toSet
    assert(got == fullUnion)
  }

  test("expire-diff: diff_expire covers only the changed parts") {
    val df = Seq((oldLine, newLine)).toDF("old", "new")
    val got = TileCover.symDiffCover(df, $"old", $"new", z8)
      .select($"x", $"y").as[(Long, Long)].collect().toSet
    // the shared final segment's exclusive tile (130,127) stays clean
    assert(got == fullUnion - ((130L, 127L)))
  }

  test("expire-diff: one-sided events cover fully even with diff_expire") {
    // a way version change is a delete (old only) + insert (new only):
    // each side covers fully — the always_separate fallback
    val df = Seq((oldLine, null: Array[Byte]),
      (null: Array[Byte], newLine)).toDF("old", "new")
    val got = TileCover.symDiffCover(df, $"old", $"new", z8)
      .select($"x", $"y").as[(Long, Long)].collect().toSet
    assert(got == fullUnion)
  }

  test("expire-diff: identical geometries expire nothing under diff") {
    val df = Seq((oldLine, oldLine)).toDF("old", "new")
    assert(TileCover.symDiffCover(df, $"old", $"new", z8).count() == 0)
  }

  test("lua-expire-output-definitions.feature: define-time range checks") {
    import graft.flex._
    def bad(msg: String)(mk: => FlexExpireOutput): Unit = {
      val e = intercept[IllegalArgumentException](mk)
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    bad("Must set 'filename' and/or 'table' on expire output.") {
      FlexExpireOutput("x", maxzoom = 12)
    }
    bad("The 'maxzoom' field in a expire output must be between 1 and 20.") {
      FlexExpireOutput("x", filename = Some("f"), maxzoom = 25)
    }
    bad("The 'minzoom' field in a expire output must be between 1 and " +
      "'maxzoom'.") {
      FlexExpireOutput("x", filename = Some("f"), maxzoom = 12,
        minzoomOpt = Some(0))
    }
    // minzoom larger than maxzoom hits the same wording
    bad("The 'minzoom' field in a expire output must be between 1 and " +
      "'maxzoom'.") {
      FlexExpireOutput("x", filename = Some("f"), maxzoom = 12,
        minzoomOpt = Some(13))
    }
    bad("The 'max_tiles_geometry' field in a expire output must be " +
      "between 1 and 4 << 20.") {
      FlexExpireOutput("x", filename = Some("f"), maxzoom = 12,
        maxTilesGeometryOpt = Some(0L))
    }
    bad("The 'max_tiles_overall' field in a expire output must be " +
      "between 1 and 4 << 20.") {
      FlexExpireOutput("x", filename = Some("f"), maxzoom = 12,
        maxTilesOverallOpt = Some((4L << 20) + 1))
    }
    // the in-range forms all construct, minzoom defaulting to maxzoom
    val ok = FlexExpireOutput("x", filename = Some("f"), maxzoom = 12,
      maxTilesGeometryOpt = Some(4L << 20), maxTilesOverallOpt = Some(1L))
    assert(ok.minzoom == 12)
  }

  test("lua-expire.feature: expire config validation at define time") {
    import graft.flex._
    val eo = FlexExpireOutput("bar", filename = Some("bar"), maxzoom = 12)
    val ref = Seq(FlexExpireRef(eo))
    // non-geometry column → rejected
    val e1 = intercept[IllegalArgumentException] {
      FlexColumn("some", FlexType.Text, expire = ref)
    }
    assert(e1.getMessage.contains(
      "Expire only allowed for geometry columns in Web Mercator projection."))
    // geometry column in 4326 → rejected
    val e2 = intercept[IllegalArgumentException] {
      FlexColumn("some", FlexType.Geometry, projection = 4326, expire = ref)
    }
    assert(e2.getMessage.contains("Web Mercator"))
    // 3857 geometry → okay; minzoom defaults to maxzoom
    val ok = FlexColumn("some", FlexType.Geometry, expire = ref)
    assert(ok.expire.head.output.minzoom == 12)
  }

  test("lua-table-definitions.feature: define-time validation") {
    import graft.flex._
    val col = FlexColumn("v", FlexType.Text)
    assert(intercept[IllegalArgumentException] {
      FlexTableDef("", FlexIds.Node, Seq(col))
    }.getMessage.contains("must contain a 'name'"))
    // empty columns fail only WITHOUT ids; an id-only table is legal
    // (src/flex-lua-table.cpp:390-393; lua-callbacks.feature)
    assert(intercept[IllegalArgumentException] {
      FlexTableDef("foo", FlexIds.NoIndex, Nil)
    }.getMessage.contains("No columns defined for table 'foo'."))
    assert(FlexTableDef("foo0", FlexIds.Node, Nil).schema.fieldNames
      .toSeq == Seq("osm_id"))
    val t = FlexTableDef("foo", FlexIds.Node, Seq(col))
    assert(intercept[IllegalArgumentException] {
      FlexConfig.validateTables(Seq(t, t))
    }.getMessage.contains("Table with name 'foo' already exists."))
    FlexConfig.validateTables(Seq(t,
      FlexTableDef("bar", FlexIds.Way, Seq(col)))) // distinct names OK
  }

  test("lua-index-definitions.feature: index DDL forms") {
    import graft.flex._
    import graft.sinks.PgSink
    val cols = Seq(FlexColumn("name", FlexType.Text),
      FlexColumn("geom", FlexType.Geometry))

    // no indexes field → default geometry gist
    val tDefault = FlexTableDef("t1", FlexIds.Node, cols)
    assert(PgSink.postLoadDdl(tDefault, updatable = false).exists(
      _.contains("""USING gist ("geom")""")))
    // empty indexes field → no index at all
    val tNone = FlexTableDef("t1", FlexIds.Node, cols, indexes = Some(Nil))
    assert(!PgSink.postLoadDdl(tNone, updatable = false)
      .exists(_.contains("CREATE INDEX")))
    // explicit column index
    val idx = FlexIndex("btree", columns = Seq("name"))
    assert(idx.createIndexDdl(""""public"."t1"""") ==
      """CREATE INDEX ON "public"."t1" USING btree ("name")""")
    // all the trimmings, reference joiner order
    val full = FlexIndex("btree", columns = Seq("name"),
      name = "idx", unique = true, includeColumns = Seq("tags"),
      fillfactor = 80, tablespace = "ts", where = "name IS NOT NULL")
    assert(full.createIndexDdl(""""public"."t1"""") ==
      """CREATE UNIQUE INDEX "idx" ON "public"."t1" USING btree ("name") """ +
      """INCLUDE ("tags") WITH (fillfactor = 80) TABLESPACE "ts" """ +
      """WHERE name IS NOT NULL""")
    // expression index; column+expression and neither are rejected
    assert(FlexIndex("btree", expression = "lower(name)")
      .createIndexDdl("t") == """CREATE INDEX ON t USING btree (lower(name))""")
    // ONE message for both violations, the reference's wording
    // (src/flex-lua-index.cpp:100-103)
    assert(intercept[IllegalArgumentException] {
      FlexIndex("btree")
    }.getMessage.contains(
      "You must set either the 'column' or the 'expression' field"))
    assert(intercept[IllegalArgumentException] {
      FlexIndex("btree", columns = Seq("a"), expression = "b")
    }.getMessage.contains(
      "You must set either the 'column' or the 'expression' field"))
  }

  test("streaming diff expire: only changed parts dirty per update") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.GeomUpdate]
    val q = Streams.diffExpireStream(input.toDS(), z8)
      .writeStream.outputMode("append")
      .format("memory").queryName("diff_expire_out").start()

    // insert: full cover of the old line
    input.addData(Streams.GeomUpdate(1L, 1L, oldLine))
    q.processAllAvailable()
    val afterInsert = spark.table("diff_expire_out")
      .select($"x", $"y").as[(Long, Long)].collect().toSet
    assert(afterInsert == fullUnion)

    // geometry change: only the symmetric difference dirties; a stale
    // replay of v1 in the same batch is dropped by the version gate
    input.addData(Streams.GeomUpdate(1L, 2L, newLine),
      Streams.GeomUpdate(1L, 1L, oldLine))
    q.processAllAvailable()
    val all = spark.table("diff_expire_out")
      .groupBy($"x", $"y").count()
      .as[(Long, Long, Long)].collect()
    q.stop()
    val secondBatch = all.collect { case (x, y, n) if n == 2 => (x, y) }.toSet
    // every tile from the update is in the sym-diff set (no (130,127))
    assert(secondBatch == fullUnion - ((130L, 127L)))
  }

  test("run-with-expire.feature: expire into table in append mode") {
    val osm = graft.sources.OsmSource.read(spark,
      Seq("/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"))
    // import: 1562 tagged nodes inserted, nothing expires on create
    assert(osm.nodes.where(size($"tags") > 0).count() == 1562)

    // append n27 x10 y10 → the new row's point cover lands in ONE z12 tile
    val pt = udf((lon: Double, lat: Double) =>
      Ewkb.encode(GeomOps.transform(
        graft.geom.Point(Pt(lon, lat), Srid.WGS84), Srid.WebMercator)))
    val appended = Seq((27L, 10.0, 10.0)).toDF("id", "lon", "lat")
      .select(pt($"lon", $"lat").as("geom"))
    val tiles = TileCover.geometryCover(appended, $"geom",
      TileCover.Config(12))
    assert(tiles.count() == 1)
    osm.unpersistBacking()
  }
}
