package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.classic.{ClassicPipeline, StyleFile}
import graft.flex.{Coerce, FlexColumn, FlexIds, FlexTableDef, FlexType}
import graft.geom.{Box, Ewkb, FromOsm, GeomOps, Pt}
import graft.model.{OsmNode, OsmRelation, OsmWay}
import graft.operators.{Gen, Locator}
import graft.sinks.{PgSink, Properties}
import graft.sources.Multimodal
import graft.sources.OsmXml.OsmDataFrames
import graft.streaming.Streams

class OutputsSpec extends SparkSpecBase {
  import spark.implicits._

  test("style file parse + classic routing: point/line/polygon/roads") {
    val style = StyleFile.defaultStyle
    assert(style.polygonKeys.contains("building"))
    assert(style.deleteKeys.contains("created_by"))

    val nodes = Seq(
      OsmNode(1, lon = 0.0, lat = 0.0,
        tags = Map("amenity" -> "cafe", "created_by" -> "x")),
      OsmNode(2, lon = 0.001, lat = 0.0, tags = Map("odd_key" -> "1")),
      OsmNode(3, lon = 0.001, lat = 0.001)).toDF()
    val ways = Seq(
      OsmWay(10, nodes = Seq(1, 2, 3, 1),
        tags = Map("building" -> "yes")), // closed + polygon tag
      OsmWay(11, nodes = Seq(1, 2, 3),
        tags = Map("highway" -> "motorway")), // open road
      OsmWay(12, nodes = Seq(1, 2, 3, 1),
        tags = Map("building" -> "yes", "area" -> "no"))).toDF() // override
    val t = ClassicPipeline.run(OsmDataFrames(nodes, ways,
      Seq.empty[OsmRelation].toDF()), style)

    // node 2 has no exported tag, node 3 none at all
    val points = t.point.select($"osm_id", $"tags")
      .as[(Long, Map[String, String])].collect().toSeq
    assert(points.map(_._1) == Seq(1L))
    // delete-flagged tag removed from the tags map
    assert(points.head._2 == Map("amenity" -> "cafe"))

    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("osm_id").as[Long].collect().toSet
    assert(ids(t.polygon) == Set(10L))
    assert(ids(t.line) == Set(11L, 12L))
    assert(ids(t.roads) == Set(11L))
    assert(t.line.where($"osm_id" === 11).select("z_order")
      .as[Int].head() == 39)
  }

  test("flex coercions: boolean, direction, int range, json") {
    val df = Seq("yes", "no", "1", "0", "banana").toDF("v")
    val b = df.select(Coerce.toBoolean($"v")).as[Option[Boolean]].collect()
    assert(b.toSeq == Seq(Some(true), Some(false), Some(true), Some(false), None))
    val d = Seq("yes", "-1", "banana", "5", "0").toDF("v")
      .select(Coerce.toDirection($"v")).as[Option[Short]].collect()
    assert(d.toSeq == Seq(Some(1.toShort), Some(-1.toShort), None,
      Some(1.toShort), Some(0.toShort)))
    val i = Seq(40000L, 10L).toDF("v")
      .select(Coerce.toIntRange($"v", FlexType.Int2)).as[Option[Short]].collect()
    assert(i.toSeq == Seq(None, Some(10.toShort))) // out of int2 range -> NULL
  }

  test("flex table def: schema + area id mapping") {
    val t = FlexTableDef("polys", FlexIds.Area, Seq(
      FlexColumn("name", FlexType.Text),
      FlexColumn("geom", FlexType.Geometry, notNull = true)))
    assert(t.schema.fieldNames.toSeq == Seq("osm_id", "name", "geom"))
    assert(!t.schema("geom").nullable)
    val df = Seq(("w", 7L), ("r", 7L)).toDF("otype", "id")
    val mapped = df.select(t.mapId($"otype", $"id")).as[Long].collect()
    assert(mapped.toSeq == Seq(7L, -7L)) // relations negative
  }

  test("pg sink DDL mirrors the reference lifecycle") {
    val t = FlexTableDef("planet_osm_polygon", FlexIds.Area, Seq(
      FlexColumn("name", FlexType.Text),
      FlexColumn("way", FlexType.Geometry)))
    val ddl = PgSink.createTableDdl(t)
    assert(ddl.startsWith("CREATE UNLOGGED TABLE IF NOT EXISTS"))
    assert(ddl.contains(""""way" geometry"""))
    val post = PgSink.postLoadDdl(t, updatable = true)
    assert(post.exists(_.contains("USING gist")))
    assert(post.exists(_.contains("(\"osm_id\")")))
    assert(post.last.startsWith("ANALYZE"))
    assert(PgSink.postLoadDdl(t, updatable = false)
      .forall(!_.contains("(\"osm_id\")"))) // no id index when not updatable

    // custom id_column flows into DDL and index
    val custom = t.copy(idColumn = "abc")
    assert(PgSink.createTableDdl(custom).contains(""""abc" int8"""))
    assert(PgSink.postLoadDdl(custom, updatable = true)
      .exists(_.contains("""("abc")""")))

    // NoIndex tables: no id column anywhere
    val noIds = FlexTableDef("simple", FlexIds.NoIndex,
      Seq(FlexColumn("v", FlexType.Text)))
    assert(!PgSink.createTableDdl(noIds).contains("int8"))
    assert(PgSink.postLoadDdl(noIds, updatable = true)
      .forall(!_.contains("osm_id")))
  }

  test("locator classifies points via bbox + exact polygon test") {
    val square = FromOsm.createPolygon(
      Seq(Pt(0, 0), Pt(10, 0), Pt(10, 10), Pt(0, 10), Pt(0, 0)))
    val loc = Locator.fromGeometries(Seq(
      ("inner", FromOsm.createPolygon(
        Seq(Pt(2, 2), Pt(4, 2), Pt(4, 4), Pt(2, 4), Pt(2, 2)))),
      ("outer", square)))
    assert(loc.containingPoint(3, 3) == Seq("inner", "outer"))
    assert(loc.containingPoint(8, 8) == Seq("outer"))
    assert(loc.containingPoint(99, 99).isEmpty)
    loc.registerFirst(spark, "loc_first")
    val r = Seq((3.0, 3.0), (99.0, 99.0)).toDF("x", "y")
      .select(callUDF("loc_first", $"x", $"y")).as[Option[String]].collect()
    assert(r.toSeq == Seq(Some("inner"), None))
  }

  test("locator.feature goldens: bbox regions, inclusive edges, " +
      "insertion-order first") {
    // the feature's two bbox scenarios: B1=[0,1]² B2=[1,2]²; the
    // corner point (1,1) is IN BOTH (inclusive bounds both ends)
    val loc = Locator.fromBoxes(Seq(
      ("B1", graft.geom.Box(0.0, 0.0, 1.0, 1.0)),
      ("B2", graft.geom.Box(1.0, 1.0, 2.0, 2.0))))
    // first_intersecting: n10 → B1, n11 → none, n12 → B2
    assert(loc.containingPoint(0.5, 0.5).headOption.contains("B1"))
    assert(loc.containingPoint(2.5, 2.5).isEmpty)
    assert(loc.containingPoint(1.5, 1.5).headOption.contains("B2"))
    // all_intersecting: n13 at the shared corner hits 2 regions
    assert(loc.containingPoint(1.0, 1.0) == Seq("B1", "B2"))
    // polygon-from-db scenario: a triangle region loaded from a frame
    val tri = FromOsm.createPolygon(
      Seq(Pt(10, 10), Pt(20, 10), Pt(10, 20), Pt(10, 10)))
    val fromDb = Locator.fromDataFrame(
      Seq(("P1", graft.geom.Ewkb.encode(tri))).toDF("name", "geom"))
    assert(fromDb.containingPoint(12, 12) == Seq("P1"))
    assert(fromDb.containingPoint(19, 19).isEmpty) // inside bbox, outside tri
  }

  test("multimodal: stub decode via mapPartitions is deterministic") {
    val docs = Seq((1L, "hello world", "s"), (2L, "a video payload body", "s"))
      .toDF("doc_id", "text", "source")
    val media = Multimodal.fromDocuments(spark, docs)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 2)
    assert(feats.forall(_.features.size == 16))
    // determinism: same input -> same features
    val again = Multimodal.extractFeatures(media).collect()
    assert(feats.map(_.features).toSeq == again.map(_.features).toSeq)
    // frame sampling is generator-shaped over a REAL AVI container:
    // 5 MJPEG frames, every 2nd kept → indices 0, 2, 4
    val jpegs = (0 until 5).map(f =>
      graft.sources.Jpeg.encodeGray(8, 8, Array.fill(64)(2 * f + 10)))
    val avi = graft.sources.Avi.encodeMjpeg(8, 8, jpegs)
    val vid = Seq(Multimodal.MediaRow(7L, "video", avi, Map.empty))
      .toDS()
    val frames = Multimodal.sampleFrames(vid, 2).collect()
    assert(frames.map(_.getInt(1)).sorted.toSeq == Seq(0, 2, 4))
    // the sampled payloads are the original JPEG bytes, untouched
    assert(frames.forall(r =>
      jpegs(r.getInt(1)).sameElements(r.getAs[Array[Byte]](2))))
  }

  test("multimodal: image stats — exact min/max/sum/sumsq on a hand case") {
    // 2x2 grayscale PNG with pixels 3, 0, 250, 7
    val png = graft.sources.Codecs.encodePng(2, 2, 1, Array(3, 0, 250, 7))
    val got = Multimodal.imageStats(
      Seq(Multimodal.MediaRow(1L, "image", png, Map.empty)).toDS())
      .collect().head
    assert((got.width, got.height) == (2, 2))
    assert((got.pxMin, got.pxMax, got.pxSum, got.pxSumSq) ==
      (0L, 250L, 260L, 9 + 0 + 62500 + 49L))
  }

  test("multimodal: aHash — dedup collisions, jitter stability, refusals") {
    def gif(vals: Array[Int], w: Int = 16, h: Int = 16): Array[Byte] = {
      // vals: 64 grid values; expand to per-pixel grey triples
      val bw = w / 8; val bh = h / 8
      val rgb = new Array[Int](w * h * 3)
      (0 until w * h).foreach { i =>
        val b = ((i / w) / bh) * 8 + (i % w) / bw
        val v = vals(b)
        rgb(3 * i) = v; rgb(3 * i + 1) = v; rgb(3 * i + 2) = v
      }
      graft.sources.Gif.encodeGif(w, h, rgb)
    }
    val base = Array.tabulate(64)(b => (b * 37) % 256)
    val same = gif(base)
    val jitter = gif(base.map(v => math.min(255, v + 1))) // tiny shift
    val inverted = gif(base.map(v => 255 - v))
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", same, Map.empty),
      Multimodal.MediaRow(2L, "image", gif(base), Map.empty),
      Multimodal.MediaRow(3L, "image", jitter, Map.empty),
      Multimodal.MediaRow(4L, "image", inverted, Map.empty)).toDS()
    val h = Multimodal.aHash64(rows).collect()
      .map(r => r.id -> r.ahash).toMap
    assert(h(1L) == h(2L)) // identical bytes → identical hash
    assert(h(1L) == h(3L)) // +1 per-pixel jitter leaves block order
    assert(h(1L) != h(4L)) // inversion flips the above/below-mean set
    // non-multiple-of-8 dimensions fail loudly
    val odd = graft.sources.Codecs.encodePng(5, 5, 1, Array.fill(25)(9))
    val e = intercept[Exception] {
      Multimodal.aHash64(
        Seq(Multimodal.MediaRow(9L, "image", odd, Map.empty)).toDS())
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("divisible by 8")))
  }

  test("multimodal: decode and feature ops run unchanged on a stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // the whole multimodal family is stateless mapPartitions /
    // flatMap, so the SAME operator objects serve micro-batches; this
    // pins that contract (no accidental aggregation/sort creeping in)
    val png = graft.sources.Codecs.encodePng(4, 2, 1,
      Array(1, 2, 3, 4, 5, 6, 7, 8))
    val wav = graft.sources.Codecs.encodeWav(Array(100, -100, 50, 25))
    val input = MemoryStream[Multimodal.MediaRow]
    val stats = Multimodal.decodeStats(input.toDS())
    val q1 = stats.writeStream.outputMode("append").format("memory")
      .queryName("mm_stats").start()
    input.addData(Multimodal.MediaRow(1L, "image", png, Map.empty),
      Multimodal.MediaRow(2L, "audio", wav, Map.empty))
    q1.processAllAvailable(); q1.stop()
    val got = spark.table("mm_stats")
      .select($"id", $"nPx", $"pxSum").as[(Long, Int, Long)]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 8, 36L), (2L, 4, 75L)))
    // audio features stream the generator shape too
    val input2 = MemoryStream[Multimodal.MediaRow]
    val feats = Multimodal.audioFrameFeatures(input2.toDS(), 2)
    val q2 = feats.writeStream.outputMode("append").format("memory")
      .queryName("mm_audio").start()
    input2.addData(Multimodal.MediaRow(3L, "audio", wav, Map.empty))
    q2.processAllAvailable(); q2.stop()
    val af = spark.table("mm_audio")
      .select($"frame", $"energy", $"zeroCrossings")
      .as[(Int, Long, Int)].collect().sortBy(_._1)
    assert(af.toSeq == Seq((0, 20000L, 1), (1, 3125L, 0)))
  }

  test("multimodal: audio frame features — hand example, stereo, tail") {
    // mono: samples [3, -2, 0, 4 | 1] with frameSize 4 → one full
    // frame plus a 1-sample tail
    val wav = graft.sources.Codecs.encodeWav(Array(3, -2, 0, 4, 1))
    val rows = Seq(Multimodal.MediaRow(5L, "audio", wav, Map.empty)).toDS()
    val got = Multimodal.audioFrameFeatures(rows, 4).collect()
      .sortBy(_.frame)
    assert(got.length == 2)
    val f0 = got(0)
    // energy 9+4+0+16 = 29; strict sign flips: (3,-2) only — (-2,0)
    // and (0,4) touch zero; peak 4; ac1 = 3·−2 + −2·0 + 0·4 = −6
    assert((f0.n, f0.energy, f0.zeroCrossings, f0.peak, f0.ac1) ==
      (4, 29L, 1, 4, -6L))
    val f1 = got(1)
    assert((f1.n, f1.energy, f1.zeroCrossings, f1.peak, f1.ac1) ==
      (1, 1L, 0, 1, 0L))
    // stereo downmixes by integer channel sum BEFORE the features:
    // frames (1,2) (−3,1) → mono [3, −2]
    val st = graft.sources.Codecs.encodeWav(Array(1, 2, -3, 1), channels = 2)
    val s0 = Multimodal.audioFrameFeatures(
      Seq(Multimodal.MediaRow(6L, "audio", st, Map.empty)).toDS(), 4)
      .collect().head
    assert((s0.n, s0.energy, s0.zeroCrossings, s0.ac1) == (2, 13L, 1, -6L))
  }

  test("multimodal: bilinear resize — identity, interpolation, dataset op") {
    // identity: same dims returns the same pixels
    val px = Array.tabulate(64)(i => i / 63.0f)
    assert(Multimodal.resizeBilinear(px, 8, 8, 8, 8).toSeq == px.toSeq)
    // 2x2 → 4x4 upscale of a constant frame stays constant
    val const = Array.fill(4)(0.5f)
    assert(Multimodal.resizeBilinear(const, 2, 2, 4, 4)
      .forall(v => math.abs(v - 0.5f) < 1e-6))
    // 2x1 gradient upscaled to 4x1: ends clamp, middle interpolates
    val grad = Array(0f, 1f)
    val up = Multimodal.resizeBilinear(grad, 2, 1, 4, 1)
    assert(up(0) == 0f && up(3) == 1f && up(1) < up(2))
    // dataset path: decode → resize keeps determinism and shape
    val docs = Seq((1L, "hello world", "s")).toDF("doc_id", "text", "source")
    val rs = Multimodal.resized(
      Multimodal.fromDocuments(spark, docs), 4, 4).collect()
    assert(rs.head.pixels.size == 16 && rs.head.width == 4)
  }

  test("gen: collect agg builds multipolygon per group") {
    import graft.geom._
    val sq1 = Ewkb.encode(FromOsm.createPolygon(
      Seq(Pt(0, 0), Pt(1, 0), Pt(1, 1), Pt(0, 1), Pt(0, 0))))
    val sq2 = Ewkb.encode(FromOsm.createPolygon(
      Seq(Pt(5, 5), Pt(6, 5), Pt(6, 6), Pt(5, 6), Pt(5, 5))))
    val df = Seq((1, sq1), (1, sq2), (2, sq1)).toDF("grp", "geom")
    val agg = df.groupBy($"grp").agg(Gen.stCollectAgg($"geom").as("merged"))
    val m = agg.select($"grp", $"merged").as[(Int, Array[Byte])]
      .collect().toMap
    assert(Ewkb.decode(m(1)).typeName == "MULTIPOLYGON")
    assert(Ewkb.decode(m(1)).numGeometries == 2)
    assert(GeomOps.area(Ewkb.decode(m(1))) == 2.0)
  }

  test("gen: stUnionAgg dissolves overlapping group members") {
    val a = Ewkb.encode(FromOsm.createPolygon(
      Seq(Pt(0, 0), Pt(4, 0), Pt(4, 4), Pt(0, 4), Pt(0, 0))))
    val b = Ewkb.encode(FromOsm.createPolygon(
      Seq(Pt(2, 2), Pt(6, 2), Pt(6, 6), Pt(2, 6), Pt(2, 2))))
    val far = Ewkb.encode(FromOsm.createPolygon(
      Seq(Pt(10, 10), Pt(11, 10), Pt(11, 11), Pt(10, 11), Pt(10, 10))))
    val df = Seq((1, a), (1, b), (1, far), (2, a)).toDF("grp", "geom")
    val m = df.groupBy($"grp").agg(Gen.stUnionAgg($"geom").as("u"))
      .select($"grp", $"u").as[(Int, Array[Byte])].collect().toMap
    val g1 = Ewkb.decode(m(1))
    // dissolved: 16+16-4 overlap union plus the far square
    assert(g1.typeName == "MULTIPOLYGON")
    assert(g1.numGeometries == 2)
    assert(math.abs(GeomOps.area(g1)) == 28.0 + 1.0)
    assert(Ewkb.decode(m(2)).typeName == "POLYGON")
  }

  test("gen: discrete isolation ranks by distance to higher importance") {
    val pts = Seq(
      (1L, 0.0, 0.0, 100.0), // most important: gets lower-bound isolation
      (2L, 3.0, 0.0, 50.0),  // nearest higher: pt1 at d=3
      (3L, 3.0, 4.0, 10.0)   // nearest higher: pt2 at d=4
    ).toDF("id", "x", "y", "importance")
    val iso = Gen.discreteIsolation(pts, "id", "x", "y", "importance", 10.0)
      .select($"pid", $"isolation").as[(Long, Double)].collect().toMap
    assert(iso(1L) == 10.0)
    assert(iso(2L) == 3.0)
    assert(iso(3L) == 4.0)
  }

  test("gen: tile-sql template substitution") {
    Seq((1, 1), (2, 2)).toDF("a", "b").createOrReplaceTempView("tsql_t")
    val out = Gen.runTileSql(spark, Seq((10, 1L, 2L), (10, 3L, 4L)),
      "SELECT {zoom} AS zoom, {x} AS x, {y} AS y, count(*) AS n FROM tsql_t")
    assert(out.count() == 2)
    assert(out.where($"x" === 3).select($"y").as[Long].head() == 4L)
  }

  test("properties store roundtrip + append validation") {
    val dir = Files.createTempDirectory("props").resolve("p").toString
    val props = Map("prefix" -> "planet_osm", "output" -> "flex",
      "updatable" -> "true")
    Properties.save(spark, dir, props)
    assert(Properties.load(spark, dir) == props)
    val bad = Properties.validateForAppend(props,
      props + ("prefix" -> "other"))
    assert(bad.map(_._1) == Seq("prefix"))
    assert(Properties.validateForAppend(props, props).isEmpty)
  }

  test("append resolution follows properties.feature semantics") {
    import Properties.{AppendOptions, resolveAppend}
    def imported(extra: (String, String)*): Map[String, String] =
      Map("updatable" -> "true", "attributes" -> "false",
        "prefix" -> "planet_osm", "flat_node_file" -> "",
        "output" -> "pgsql") ++ extra
    // non-slim import → not updatable
    assert(resolveAppend(imported("updatable" -> "false"), AppendOptions())
      .left.exists(_.contains("This database is not updatable")))
    // -x on append when import was without attributes
    assert(resolveAppend(imported(), AppendOptions(attributes = Some(true)))
      .left.exists(_.contains("because original import was without attributes")))
    // different prefix
    assert(resolveAppend(imported(), AppendOptions(prefix = Some("foo")))
      .left.exists(_.contains("Different prefix specified")))
    // flat nodes on append when import had none
    assert(resolveAppend(imported(), AppendOptions(flatNodeFile = Some("x")))
      .left.exists(_.contains("Database was imported without flat node file")))
    // inherited settings produce the reference's info messages
    val ok = resolveAppend(imported("attributes" -> "true"), AppendOptions())
      .toOption.get
    assert(ok.messages.exists(_.contains(
      "Updating with attributes (same as on import).")))
    assert(ok.messages.exists(_.contains(
      "Not using flat node file (same as on import).")))
    assert(ok.messages.exists(_.contains(
      "Using prefix 'planet_osm' (same as on import).")))
    assert(ok.settings("attributes") == "true")
    // stored flat-nodes file is inherited and re-specifiable
    val flat = resolveAppend(imported("flat_node_file" -> "x"),
      AppendOptions()).toOption.get
    assert(flat.messages.exists(_.contains("Using flat node file")))
    assert(flat.settings("flat_node_file") == "x")
    // null output inherits with the same-as-import message
    val nul = resolveAppend(imported("output" -> "null"), AppendOptions())
      .toOption.get
    assert(nul.messages.exists(_.contains(
      "Using output 'null' (same as on import).")))
  }

  test("streaming: stateful latest-version-wins over a rate of changes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Change]
    val q = Streams.latestVersionStream(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("latest_out").start()
    val t0 = new java.sql.Timestamp(0)
    input.addData(
      Streams.Change(1, 1, visible = true, t0),
      Streams.Change(1, 2, visible = true, t0))
    q.processAllAvailable()
    input.addData(Streams.Change(1, 3, visible = false, t0),
      Streams.Change(2, 1, visible = true, t0))
    q.processAllAvailable()
    val out = spark.table("latest_out")
      .groupBy($"oid").agg(max(struct($"version", $"visible")).as("s"))
      .select($"oid", $"s.version", $"s.visible")
      .as[(Long, Long, Boolean)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    q.stop()
    assert(out(1L) == ((3L, false)))
    assert(out(2L) == ((1L, true)))
  }

  test("streaming: windowed tile counts with watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double, Double)]
    val events = input.toDS().toDF("ts", "lon", "lat")
    val agg = Streams.windowedTileCounts(events, "lon", "lat", 10,
      "10 minutes", "5 minutes")
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("tiles_out").start()
    input.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 0.0, 0.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 0.0, 0.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), 120.0, 40.0))
    q.processAllAvailable()
    val rows = spark.table("tiles_out")
      .select($"x", $"y", $"n_events").as[(Long, Long, Long)].collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows.find(_._3 == 2).isDefined)
  }

  test("streaming: dedup within watermark keeps first occurrence") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val docs = input.toDS().toDF("ts", "text")
    val q = Streams.streamingDedup(docs, "ts", "text", "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    input.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "doc A"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "doc A"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:30"), "doc B"))
    q.processAllAvailable()
    input.addData( // duplicate inside the watermark window: dropped
      (java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), "doc A"))
    q.processAllAvailable()
    val texts = spark.table("dedup_out")
      .select($"text").as[String].collect().sorted
    q.stop()
    assert(texts.toSeq == Seq("doc A", "doc B"))
  }

  test("streaming: session windows close at the gap, merge within it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val events = input.toDS().toDF("user_id", "ts")
    val q = Streams.streamingSessions(events, "user_id", "ts",
        gap = "30 minutes", watermark = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    // user 1: two events 10min apart (one session), then one 2h later
    // (second session); user 2: one event
    input.addData(
      (1L, ts("2024-01-01 00:00:00")),
      (1L, ts("2024-01-01 00:10:00")),
      (2L, ts("2024-01-01 00:05:00")),
      (1L, ts("2024-01-01 02:00:00")))
    q.processAllAvailable()
    // advance the watermark past every open session's close
    input.addData((99L, ts("2024-01-01 06:00:00")))
    q.processAllAvailable()
    val rows = spark.table("sessions_out")
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().toSet
    q.stop()
    val u1 = rows.filter(_._1 == 1L).toSeq.sortBy(_._2.getTime)
    assert(u1.map(_._4) == Seq(2L, 1L)) // merged pair, then singleton
    // a session's window ends gap after its LAST event
    assert(u1.head._2 == ts("2024-01-01 00:00:00") &&
      u1.head._3 == ts("2024-01-01 00:40:00"))
    assert(rows.count(_._1 == 2L) == 1)
  }

  test("streaming: PQ ingest appends codes the store search can see") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dim = 16
    val rng = new scala.util.Random(31)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat).toSeq)
    }
    val dir = java.nio.file.Files.createTempDirectory("pqstream").toString
    try {
      graft.operators.Similarity.pqWriteStore(
        vecs.toDF("id", "vec"), dir, m = 4, centroidEvery = 10)
      // stream two NEW vectors in: one equals vector 10 (a codebook
      // donor), so after ingest it must surface as 10's ADC twin
      val input = MemoryStream[(Long, Seq[Float])]
      val encoded = Streams.pqEncodeStream(spark,
        input.toDS().toDF("id", "vec"), dir, m = 4)
      val q = encoded.writeStream.outputMode("append")
        .format("parquet").option("path", s"$dir/codes")
        .option("checkpointLocation", s"$dir/ckpt").start()
      input.addData((1000L, vecs(10)._2), (1001L, vecs(25)._2))
      q.processAllAvailable()
      q.stop()
      val hits = graft.operators.Similarity.pqSearchStore(spark, dir,
          vecs.toDF("id", "vec").where($"id" === 10L), k = 3, m = 4)
        .select($"nid", $"rank").as[(Long, Int)].collect().toMap
      // 1000 shares 10's exact codes → its ADC score ties 10's
      // self-excluded max; it must appear among the top hits
      assert(hits.contains(1000L))
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }

  test("streaming: SQ8 ingest appends clamped codes the probe can see") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dim = 8
    val rng = new scala.util.Random(47)
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat).toSeq)
    }
    val dir = java.nio.file.Files.createTempDirectory("sqstream").toString
    try {
      graft.operators.SqIndexStore.write(vecs.toDF("id", "vec"), dir)
      val v = graft.operators.SqIndexStore.currentVersion(spark, dir)
        .getOrElse(fail("no committed version"))
      // stream in vector 10's exact twin, plus one far OUTSIDE the
      // trained ranges (the frozen-quantizer drift case)
      val input = MemoryStream[(Long, Seq[Float])]
      val encoded = Streams.sqEncodeStream(spark,
        input.toDS().toDF("id", "vec"), dir)
      val q = encoded.writeStream.outputMode("append")
        .format("parquet").option("path", s"$dir/v=$v/codes")
        .option("checkpointLocation", s"$dir/ckpt").start()
      input.addData((1000L, vecs(10)._2),
        (1001L, vecs(10)._2.map(x => x * 100f)))
      q.processAllAvailable()
      q.stop()
      // the twin shares vector 10's codes exactly → ties its
      // self-excluded max score, so it must surface in the top hits
      val hits = graft.operators.SqIndexStore.probe(spark, dir,
          vecs.toDF("id", "vec").where($"id" === 10L), k = 3)
        .select($"nid").as[Long].collect().toSet
      assert(hits.contains(1000L), hits.toString)
      // the out-of-range vector clamped to legal 8-bit codes
      val c = spark.read.parquet(s"$dir/v=$v/codes")
        .where($"nid" === 1001L).select($"codes")
        .as[Seq[Long]].head()
      assert(c.forall(x => x >= 0 && x <= 255), c.toString)
      assert(c.exists(x => x == 0 || x == 255)) // it really clamped
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }

  test("streaming: near-dup candidates via stateful band index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lam mu nu xi omicron pi rho sigma tau upsilon"
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = input.toDS().toDF("doc_id", "ts", "text")
    val q = Streams.streamingNearDupCandidates(
        docs, "doc_id", "text", "ts", "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_out").start()

    // batch 1: the original plus an unrelated doc — no candidates yet
    input.addData(
      (1L, ts("2024-01-01 00:01:00"), base),
      (9L, ts("2024-01-01 00:01:30"),
        "entirely unrelated content about distributed query planning"))
    q.processAllAvailable()
    assert(spark.table("neardup_out").count() == 0)

    // batch 2: a near-dup of doc 1 arrives later -> candidate (1, 2);
    // the same LSH collision structure as the batch operator
    input.addData((2L, ts("2024-01-01 00:05:00"),
      base.replace("beta", "changed2")))
    q.processAllAvailable()
    val pairs = spark.table("neardup_out")
      .select($"idA", $"idB").distinct()
      .as[(Long, Long)].collect().toSet
    q.stop()
    assert(pairs == Set((1L, 2L)))
  }

  test("progress counters ride along as observable metrics") {
    import graft.operators.Progress
    val df = Seq(
      ("create", 1L), ("create", 2L), ("modify", 1L), ("delete", 9L))
      .toDF("action", "id")
    val (instrumented, obs) = Progress.entityCounts(df)
    assert(instrumented.count() == 4)
    val m = obs.get
    assert(m("n_rows") == 4L && m("n_create") == 2L &&
      m("n_modify") == 1L && m("n_delete") == 1L)

    val out = Seq((1L, "a"), (2L, null), (3L, "c")).toDF("id", "name")
    val (instr2, obs2) = Progress.insertCounts(out, Seq("name"))
    assert(instr2.count() == 3)
    assert(obs2.get("n_null_violations") == 1L)
  }

  test("streaming: sequence packing equals the batch operator when " +
      "arrival follows id order") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val docs = input.toDS().toDF("lang", "doc_id", "n_tok")
    val q = Streams.streamingPackSequences(docs, "lang", "doc_id",
        "n_tok", windowTokens = 10)
      .writeStream.outputMode("append")
      .format("memory").queryName("pack_out").start()
    // two micro-batches, id order within each shard; one zero-token
    // doc that must be skipped without advancing the offset
    input.addData(("en", 1L, 7L), ("en", 2L, 6L), ("de", 1L, 4L))
    q.processAllAvailable()
    input.addData(("en", 3L, 0L), ("en", 4L, 9L), ("de", 7L, 12L))
    q.processAllAvailable()
    val streamed = spark.table("pack_out")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    q.stop()
    val batch = graft.operators.Sampling.packSequences(
      Seq(("en", 1L, 7L), ("en", 2L, 6L), ("de", 1L, 4L),
        ("en", 3L, 0L), ("en", 4L, 9L), ("de", 7L, 12L))
        .toDF("lang", "doc_id", "n_tok"),
      "lang", "doc_id", "n_tok", 10)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    // per-shard state is ONE long: doc 4 starts where batch 1 left en
    assert(streamed.contains(("en", 4L, 9L, 13L, 22L, 1L, 2L)))
  }

  test("streaming: curation ingest chain drops low-quality, duplicate " +
      "and contaminated docs, packs the rest") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // funnel gates: >= 200 chars, >= 40 tokens, TTR >= 0.5, top <= 10%
    val good = (1 to 48).map(i => s"word$i").mkString(" ")
    val leak = (1 to 48).map(i => s"leak$i").mkString(" ")
    val bench = Seq(Tuple1(leak)).toDF("text")
    val input = MemoryStream[(java.sql.Timestamp, Long, String, String)]
    val docs = input.toDS().toDF("ts", "doc_id", "text", "src")
      .withColumn("n_chars", length($"text"))
    val out = Streams.curationIngestStream(docs, "ts", "doc_id", "text",
      "n_chars", "src", bench, "text", "10 minutes", windowTokens = 16)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("cur_out").start()
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
    input.addData(
      (t, 1L, good, "a"),              // survives
      (t, 2L, "too short", "a"),       // funnel kills
      (t, 3L, good, "a"),              // exact dup of 1 within watermark
      (t, 4L, leak + " extra1 extra2 extra3 extra4", "a")) // contaminated
    q.processAllAvailable()
    input.addData((t, 5L,
      good + " " + (49 to 56).map(i => s"word$i").mkString(" "), "a"))
    q.processAllAvailable()
    val rows = spark.table("cur_out")
      .select($"doc_id", $"start_offset").as[(Long, Long)]
      .collect().toMap
    q.stop()
    assert(rows.keySet == Set(1L, 5L))
    // doc 5 packs AFTER doc 1's tokens: per-shard state carried over
    assert(rows(1L) == 0L && rows(5L) > 0L)
  }

  test("streaming: change-file directory drives incremental batches") {
    val watch = Files.createTempDirectory("graft-watch").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    def osc(seq: Int, op: String): String =
      s"""<osmChange version="0.6">
         |<$op><node id="$seq" lat="1.0" lon="2.0" version="1"/></$op>
         |</osmChange>""".stripMargin
    val applied = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val q = Streams.changeFileStream(spark, watch, ckpt, (dfs, _) =>
      // ids in seq order — the replication-order guarantee the frames
      // expose relationally (was: driver-side concatenation order)
      applied.add(dfs.nodes.orderBy("seq").select("id")
        .collect().map(_.getLong(0)).toSeq))
    Files.write(java.nio.file.Paths.get(watch, "001.osc"),
      osc(1, "create").getBytes("UTF-8"))
    q.processAllAvailable()
    Files.write(java.nio.file.Paths.get(watch, "002.osc"),
      osc(2, "modify").getBytes("UTF-8"))
    // replication mirrors serve gzip chunks — batch 2 mixes formats
    val gz = new java.io.ByteArrayOutputStream()
    val gzOut = new java.util.zip.GZIPOutputStream(gz)
    gzOut.write(osc(3, "delete").getBytes("UTF-8")); gzOut.close()
    Files.write(java.nio.file.Paths.get(watch, "003.osc.gz"),
      gz.toByteArray)
    q.processAllAvailable()
    q.stop()
    val batches = applied.toArray(Array.empty[Seq[Long]])
    // first batch: node 1; second: nodes 2+3 in file-sequence order
    assert(batches.length == 2)
    assert(batches(0) == Seq(1L))
    assert(batches(1) == Seq(2L, 3L))
  }
}
