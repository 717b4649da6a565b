package graft

import graft.cli.{Main, Options, ReplicationMain}

/** test-options-parse.cpp port + an end-to-end CLI run. */
class CliSpec extends SparkSpecBase {

  private def opt(args: String*): Options =
    Options.parse(args.toIndexedSeq :+ "in.osm")

  private def bad(args: Seq[String], msg: String): Unit = {
    val e = intercept[IllegalArgumentException] {
      Options.parse(args.toIndexedSeq :+ "in.osm")
    }
    assert(e.getMessage.contains(msg),
      s"'${e.getMessage}' should contain '$msg'")
  }

  test("insufficient arguments") {
    val e = intercept[IllegalArgumentException] {
      Options.parse(Seq("-c", "--slim"))
    }
    assert(e.getMessage.contains("Missing input"))
  }

  test("incompatible arguments (tests/bdd/command-line/invalid.feature)") {
    bad(Seq("-a", "-c", "--slim"),
      "--append and --create options can not be used at the same time")
    bad(Seq("-j", "-k"), "--hstore excludes --hstore-all")
    bad(Seq("-a"), "--append can only be used with slim mode")
  }

  test("middle selection") {
    assert(opt("--slim").slim)
    assert(!opt().slim)
  }

  test("lua styles") {
    bad(Seq("--tag-transform-script", "non_existing.lua"),
      "File does not exist")
  }

  test("parsing bbox") {
    val b = (1.2, 3.4, 5.6, 7.8)
    assert(opt("-b", "1.2,3.4,5.6,7.8").bbox.contains(b))
    assert(opt("--bbox", "1.2,3.4,5.6,7.8").bbox.contains(b))
    assert(opt("--bbox", "1.2, 3.4, 5.6, 7.8").bbox.contains(b))
    // strtod exponent forms are valid (ADVICE r5); INF/NAN are not
    assert(opt("-b", "1e1,2,1E2,3").bbox.contains((10.0, 2.0, 100.0, 3.0)))
    assert(opt("-b", "-1E-3,2,5e-1,3").bbox.contains((-0.001, 2.0, 0.5, 3.0)))
    bad(Seq("--bbox", "1.0,2.0,0.0,0.0"), "Bounding box failed due to")
    val m = "Bounding box must be specified like:" +
      " minlon,minlat,maxlon,maxlat."
    Seq("123", "1,2,3,4x", "1,,3,4", "1,2,3", "1,2,3,4,5", "1,2,INF,4",
      "1,NAN,3,4").foreach(v => bad(Seq("-b", v), m))
  }

  test("parsing number-processes") {
    assert(opt("--number-processes", "0").numProcesses == 1)
    assert(opt("--number-processes", "1").numProcesses == 1)
    assert(opt("--number-processes", "2").numProcesses == 2)
    assert(opt("--number-processes", "32").numProcesses == 32)
    assert(opt("--number-processes", "64").numProcesses == 32)
  }

  test("parsing tile expiry zoom levels") {
    val o1 = opt("-e", "8-12")
    assert(o1.expireZoomMin == 8 && o1.expireZoomMax == 12)
    val o2 = opt("-e", "12")
    assert(o2.expireZoomMin == 12 && o2.expireZoomMax == 12)
    val o3 = opt("-e", "33-35")
    assert(o3.expireZoomMin == 31 && o3.expireZoomMax == 31)
    bad(Seq("-e", "8--12"), "Invalid maximum zoom level given for tile expiry")
    bad(Seq("-e", "-8-12"), "Missing argument for option --expire-tiles. " +
      "Zoom levels must be positive.")
    bad(Seq("-e", "--style", "default.style"),
      "Missing argument for option --expire-tiles. Zoom levels must be " +
        "positive.")
    bad(Seq("-e", "a-8"), "Bad argument for option --expire-tiles. Minimum " +
      "zoom level must be larger than 0.")
    bad(Seq("-e", "6:8"), "Minimum and maximum zoom level for tile expiry " +
      "must be separated by '-'.")
    bad(Seq("-e", "6-0"), "Invalid maximum zoom level given for tile expiry.")
    bad(Seq("-e", "6-9a"), "Invalid maximum zoom level given for tile expiry.")
    bad(Seq("-e", "0-8"), "Bad argument for option --expire-tiles. Minimum " +
      "zoom level must be larger than 0.")
    bad(Seq("-e", "6-"), "Invalid maximum zoom level given for tile expiry.")
    bad(Seq("-e", "-6"), "Missing argument for option --expire-tiles. " +
      "Zoom levels must be positive.")
    bad(Seq("-e", "0"), "Bad argument for option --expire-tiles. Minimum " +
      "zoom level must be larger than 0.")
  }

  test("schema options: precedence and identifier validation") {
    // --output-pgsql-schema wins over --schema for the output tables
    assert(opt("--schema", "osm").tableSchema == "osm")
    assert(opt("--schema", "osm", "--output-pgsql-schema", "out")
      .tableSchema == "out")
    assert(opt("--output-pgsql-schema", "out").schema == "public")
    // --middle-schema names the middle directory (file-based analog)
    assert(opt().middleDir == "middle")
    assert(opt("--middle-schema", "mid").middleDir == "mid")
    // check_identifier wording for special characters
    bad(Seq("--schema", "a;b", "in.osm"),
      "Special characters are not allowed in --schema parameter: 'a;b'.")
    bad(Seq("--prefix", "p$x", "in.osm"),
      "Special characters are not allowed in --prefix parameter: 'p$x'.")
    bad(Seq("--output-pgsql-schema", "a\"b", "in.osm"),
      "Special characters are not allowed in --output-pgsql-schema " +
        "parameter: 'a\"b'.")
  }

  test("parsing projection, schema, and reader options") {
    assert(opt().srid == graft.geom.Srid.WebMercator)
    assert(opt("-l").srid == graft.geom.Srid.WGS84)
    assert(opt("--latlong").srid == graft.geom.Srid.WGS84)
    assert(opt("-m").srid == graft.geom.Srid.WebMercator)
    bad(Seq("-l", "-m"), "You can only use one of")
    assert(opt("-K").keepCoastlines && opt("--keep-coastlines").keepCoastlines)
    assert(opt("-G").multiGeometry && opt("--multi-geometry").multiGeometry)
    assert(opt("--reproject-area").reprojectArea)
    assert(opt("-z", "name:", "-z", "addr:").hstoreColumns ==
      Seq("name:", "addr:"))
    assert(opt("-r", "opl").inputReader == "opl")
    bad(Seq("-r", "nosuchformat"), "Unknown file format 'nosuchformat'.")
    assert(opt("-C", "4000").cacheMb == 4000)
    bad(Seq("-C", "-1"), "RAM cache cannot be negative.")
    bad(Seq("-C", "x"), "Bad argument for option --cache")
    assert(opt("-F", "/tmp/nodes.bin").flatNodes.contains("/tmp/nodes.bin"))
    assert(opt("--tablespace-main-data", "big").tablespaceMainData
      .contains("big"))
    assert(opt("--tablespace-main-index", "idx").tablespaceMainIndex
      .contains("idx"))
  }

  test("-U/-H/-P merge over the -d form like connection_params_t") {
    // plain dbname + overrides → keyword/value conninfo
    assert(opt("-d", "gis", "-U", "osm", "-H", "db.example", "-P", "5433")
      .database.contains("dbname=gis host=db.example port=5433 user=osm"))
    // conninfo input: overrides replace matching keys
    assert(opt("-d", "dbname=gis user=old", "-U", "new")
      .database.contains("dbname=gis user=new"))
    // URI input: parsed into params, then merged
    assert(opt("-d", "postgresql://u@h:5444/mydb", "-P", "5433")
      .database.contains("dbname=mydb host=h port=5433 user=u"))
    // no overrides → the -d string passes through verbatim
    assert(opt("-d", "postgresql://u@h/mydb").database
      .contains("postgresql://u@h/mydb"))
    // values with spaces get libpq quoting
    assert(opt("-d", "gis", "-U", "a user").database
      .contains("dbname=gis user='a user'"))
    assert(opt("--log-sql").logSql && !opt("--log-sql").logSqlData)
    assert(opt("--log-sql-data").logSqlData)
  }

  test("-E maps 4326/3857; other SRIDs need the projection library") {
    assert(opt("-E", "4326").srid == graft.geom.Srid.WGS84)
    assert(opt("--proj", "3857").srid == graft.geom.Srid.WebMercator)
    // test-options-projection.cpp "Arbitrary projection with -E":
    // the TM pack stands in for HAVE_GENERIC_PROJ for UTM/ETRS89/BNG
    assert(opt("-E", "32632").srid == 32632)
    assert(opt("-E", "25832").srid == 25832)
    assert(opt("-E", "27700").srid == 27700)
    bad(Seq("-E", "2154"),
      "Generic projections not available in this build.")
    bad(Seq("-E", "4326", "-m"), "You can only use one of")
    intercept[Options.ExitEarly](Options.parse(Seq("--help")))
    intercept[Options.ExitEarly](Options.parse(Seq("-V")))
  }

  test("human_readable_duration format matches util.cpp") {
    assert(Main.humanDuration(0) == "0s")
    assert(Main.humanDuration(59) == "59s")
    assert(Main.humanDuration(60) == "60s (1m 0s)")
    assert(Main.humanDuration(3599) == "3599s (59m 59s)")
    assert(Main.humanDuration(3600) == "3600s (1h 0m 0s)")
    assert(Main.humanDuration(7384) == "7384s (2h 3m 4s)")
  }

  test("--expire-bbox-size parses; default is the reference's 20000") {
    assert(opt().expireBboxSize == 20000.0)
    assert(opt("--expire-bbox-size", "5000").expireBboxSize == 5000.0)
    assert(opt("--expire-bbox-size", "0").expireBboxSize == 0.0)
    bad(Seq("--expire-bbox-size", "x"),
      "Bad argument for option --expire-bbox-size")
  }

  test("hstore-dependent flags downgrade with the reference's warnings") {
    // --hstore-match-only without any hstore form is ignored
    // (command-line-parser.cpp:188-193)
    assert(!opt("--hstore-match-only").hstoreMatchOnly)
    assert(opt("-k", "--hstore-match-only").hstoreMatchOnly)
    assert(opt("-z", "name:", "--hstore-match-only").hstoreMatchOnly)
    // --hstore-add-index without hstore is ignored (cli-parser:195-200)
    assert(!opt("--hstore-add-index").hstoreAddIndex)
    assert(opt("-j", "--hstore-add-index").hstoreAddIndex)
    assert(opt("-z", "name:", "--hstore-add-index").hstoreAddIndex)
  }

  test("parsing log-level and log-progress") {
    Seq("debug", "info", "warn", "warning", "error")
      .foreach(l => opt("--log-level", l))
    bad(Seq("--log-level", "foo"), "--log-level: foo not in")
    Seq("true", "false", "auto").foreach(v => opt("--log-progress", v))
    bad(Seq("--log-progress", "foo"),
      "Unknown value for --log-progress option: ")
  }

  test("CLI run over the Liechtenstein extract reproduces the goldens") {
    val pbf = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"
    assume(new java.io.File(pbf).exists())
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-li")
    Main.run(spark, Options.parse(Seq(pbf, "--output-dir", s"$dir/out")))
    assert(spark.read.parquet(s"$dir/out/planet_osm_point").count() == 1342L)
    assert(spark.read.parquet(s"$dir/out/planet_osm_polygon").count() == 4130L)
    assert(spark.read.parquet(s"$dir/out/planet_osm_line").count() == 3231L)
    assert(spark.read.parquet(s"$dir/out/planet_osm_roads").count() == 375L)
    // the osm2pgsql_properties analog landed with the import settings
    // and the PBF header's replication timestamp (store_data_properties)
    val props = graft.sinks.Properties.load(spark, s"$dir/out/properties")
    assert(props("prefix") == "planet_osm")
    assert(props("updatable") == "false") // no --slim
    assert(props.get("replication_timestamp")
      .contains("2013-08-03T19:00:02Z"))
    // when entity timestamps are decoded the newest one is recorded and
    // is no later than the header's replication timestamp (inputs
    // without metadata legitimately omit it — properties.feature's
    // 8-row shape)
    props.get("current_timestamp")
      .foreach(ts => assert(ts <= "2013-08-03T19:00:02Z"))
  }

  test("CLI create --slim then --append applies a change file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-append")
    val in = dir.resolve("base.osm")
    java.nio.file.Files.write(in,
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osm version="0.6">
        |<node id="1" lat="50.0" lon="8.0" version="1">
        |  <tag k="amenity" v="restaurant"/></node>
        |<node id="2" lat="50.5" lon="8.5" version="1">
        |  <tag k="amenity" v="post_box"/></node>
        |</osm>""".stripMargin.getBytes("UTF-8"))
    Main.run(spark, Options.parse(Seq(in.toString, "--create", "--slim",
      "--output-dir", s"$dir/out")))
    val before = spark.read.parquet(s"$dir/out/planet_osm_point")
    assert(before.count() == 2)

    // modify node 1's tag, delete node 2
    val osc = dir.resolve("change.osc")
    java.nio.file.Files.write(osc,
      """<osmChange version="0.6">
        |<modify><node id="1" lat="50.0" lon="8.0" version="2">
        |  <tag k="amenity" v="cafe"/><tag k="name" v="Neu"/></node></modify>
        |<delete><node id="2" lat="50.5" lon="8.5" version="2"/></delete>
        |</osmChange>""".stripMargin.getBytes("UTF-8"))
    Main.run(spark, Options.parse(Seq(osc.toString, "--append", "--slim",
      "--output-dir", s"$dir/out")))
    import org.apache.spark.sql.functions.col
    val after = spark.read.parquet(s"$dir/out/planet_osm_point")
    val rows = after.select(col("osm_id"), col("tags"))
      .collect().map(r => r.getLong(0) ->
        r.getMap[String, String](1)("amenity")).toMap
    assert(rows == Map(1L -> "cafe"))
    // the middle advanced too: node 2 is gone, node 1 is v2
    val mid = spark.read.parquet(s"$dir/out/middle/nodes")
    assert(mid.count() == 1)
    assert(mid.select(col("version")).collect().head
      .getAs[Number](0).longValue == 2L)
  }

  test("append validates the recorded properties: non-slim import " +
      "is not updatable; prefix must match") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-props")
    val in = dir.resolve("base.osm")
    java.nio.file.Files.write(in,
      """<osm version="0.6">
        |<node id="1" lat="50.0" lon="8.0" version="1">
        |  <tag k="amenity" v="restaurant"/></node>
        |</osm>""".stripMargin.getBytes("UTF-8"))
    val osc = dir.resolve("c.osc")
    java.nio.file.Files.write(osc,
      """<osmChange version="0.6">
        |<modify><node id="1" lat="50.0" lon="8.0" version="2">
        |  <tag k="amenity" v="cafe"/></node></modify>
        |</osmChange>""".stripMargin.getBytes("UTF-8"))
    // a create WITHOUT --slim records updatable=false → append refuses
    // with the reference's wording (src/osm2pgsql.cpp:300-309)
    Main.run(spark, Options.parse(Seq(in.toString, "--create",
      "--output-dir", s"$dir/out")))
    val e1 = intercept[IllegalArgumentException] {
      Main.run(spark, Options.parse(Seq(osc.toString, "--append", "--slim",
        "--output-dir", s"$dir/out")))
    }
    assert(e1.getMessage.contains("not updatable"))
    // a --slim create with the default prefix rejects an append that
    // names a different one
    Main.run(spark, Options.parse(Seq(in.toString, "--create", "--slim",
      "--output-dir", s"$dir/out2")))
    val e2 = intercept[IllegalArgumentException] {
      Main.run(spark, Options.parse(Seq(osc.toString, "--append", "--slim",
        "-p", "other", "--output-dir", s"$dir/out2")))
    }
    assert(e2.getMessage.contains(
      "Different prefix specified on command line ('other') then used " +
        "on import ('planet_osm')."))
    // -x on an import made without attributes refuses with the
    // reference's wording (check_attributes, src/osm2pgsql.cpp:245-259)
    val e3 = intercept[IllegalArgumentException] {
      Main.run(spark, Options.parse(Seq(osc.toString, "--append", "--slim",
        "-x", "--output-dir", s"$dir/out2")))
    }
    assert(e3.getMessage.contains("Can not update with attributes " +
      "(-x/--extra-attributes) because original import was without " +
      "attributes."))
  }

  test("append inherits the stored prefix and attributes when " +
      "unspecified (check_prefix/check_attributes)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-inherit")
    val in = dir.resolve("base.osm")
    java.nio.file.Files.write(in,
      """<osm version="0.6">
        |<node id="1" lat="50.0" lon="8.0" version="1">
        |  <tag k="amenity" v="restaurant"/></node>
        |</osm>""".stripMargin.getBytes("UTF-8"))
    // import with a CUSTOM prefix and -x attributes
    Main.run(spark, Options.parse(Seq(in.toString, "--create", "--slim",
      "-p", "custom", "-x", "--output-dir", s"$dir/out")))
    val osc = dir.resolve("c.osc")
    java.nio.file.Files.write(osc,
      """<osmChange version="0.6">
        |<modify><node id="1" lat="50.0" lon="8.0" version="2"
        |  timestamp="2024-05-01T00:00:00Z" user="u" uid="7">
        |  <tag k="amenity" v="cafe"/></node></modify>
        |</osmChange>""".stripMargin.getBytes("UTF-8"))
    // append names NEITHER the prefix nor -x — both inherit
    Main.run(spark, Options.parse(Seq(osc.toString, "--append", "--slim",
      "--output-dir", s"$dir/out")))
    val after = spark.read.parquet(s"$dir/out/custom_point")
    val tags = after.select("tags").collect().head.getMap[String, String](0)
    assert(tags("amenity") == "cafe")
    // inherited -x: the re-derived row carries the attribute
    // pseudo-tags of the v2 change
    assert(tags("osm_version") == "2")
    assert(tags("osm_user") == "u")
  }

  test("append inherits the stored style file " +
      "(check_and_update_style_file)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-style")
    // a custom style exporting ONLY shop (amenity unknown → dropped)
    val styleF = dir.resolve("shop.style")
    java.nio.file.Files.write(styleF,
      "node,way shop text linear\n".getBytes("UTF-8"))
    val in = dir.resolve("base.osm")
    java.nio.file.Files.write(in,
      """<osm version="0.6">
        |<node id="1" lat="50.0" lon="8.0" version="1">
        |  <tag k="shop" v="bakery"/></node>
        |<node id="2" lat="50.5" lon="8.5" version="1">
        |  <tag k="amenity" v="cafe"/></node>
        |</osm>""".stripMargin.getBytes("UTF-8"))
    Main.run(spark, Options.parse(Seq(in.toString, "--create", "--slim",
      "-S", styleF.toString, "--output-dir", s"$dir/out")))
    assert(spark.read.parquet(s"$dir/out/planet_osm_point").count() == 1)
    // the stored style is the absolute path
    val props = graft.sinks.Properties.load(spark, s"$dir/out/properties")
    assert(props("style") == styleF.toAbsolutePath.toString)
    // append WITHOUT -S: node 3 has shop + amenity; under the
    // inherited custom style only shop survives in the output tags
    val osc = dir.resolve("c.osc")
    java.nio.file.Files.write(osc,
      """<osmChange version="0.6">
        |<create><node id="3" lat="51.0" lon="9.0" version="1">
        |  <tag k="shop" v="books"/><tag k="amenity" v="shelter"/>
        |</node></create>
        |</osmChange>""".stripMargin.getBytes("UTF-8"))
    Main.run(spark, Options.parse(Seq(osc.toString, "--append", "--slim",
      "--output-dir", s"$dir/out")))
    val rows = spark.read.parquet(s"$dir/out/planet_osm_point")
      .selectExpr("osm_id", "tags").collect()
      .map(r => r.getLong(0) -> r.getMap[String, String](1)).toMap
    assert(rows.keySet == Set(1L, 3L))
    assert(rows(3L) == Map("shop" -> "books")) // default style would keep amenity
  }

  test("append advances current_timestamp only; import_timestamp stays " +
      "or stays absent (timestamps.feature)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-ts")
    def osm(name: String, ts: Option[String]): String = {
      val p = dir.resolve(name)
      val attr = ts.fold("")(t => s""" timestamp="$t"""")
      java.nio.file.Files.writeString(p,
        s"""<osm version="0.6">
          |<node id="1" lat="50.0" lon="8.0" version="1"$attr>
          |  <tag k="amenity" v="restaurant"/></node>
          |</osm>""".stripMargin)
      p.toString
    }
    val osc = dir.resolve("c.osc")
    java.nio.file.Files.writeString(osc,
      """<osmChange version="0.6">
        |<modify><node id="1" lat="50.0" lon="8.0" version="2"
        |  timestamp="2024-05-01T00:00:00Z">
        |  <tag k="amenity" v="cafe"/></node></modify>
        |</osmChange>""".stripMargin)
    def importThenAppend(input: String, out: String): Map[String, String] = {
      Main.run(spark, Options.parse(Seq(input, "--slim", "--output-dir",
        s"$dir/$out")))
      Main.run(spark, Options.parse(Seq(osc.toString, "-a", "--slim",
        "--output-dir", s"$dir/$out")))
      graft.sinks.Properties.load(spark, s"$dir/$out/properties")
    }
    try {
      val dated = importThenAppend(
        osm("dated.osm", Some("2020-01-02T03:04:05Z")), "dated")
      assert(dated.get("import_timestamp").contains("2020-01-02T03:04:05Z"))
      assert(dated.get("current_timestamp").contains("2024-05-01T00:00:00Z"))
      val undated = importThenAppend(osm("undated.osm", None), "undated")
      assert(!undated.contains("import_timestamp"))
      assert(undated.get("current_timestamp").contains("2024-05-01T00:00:00Z"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("--drop: slim import discards the middle and is not updatable") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-drop")
    val in = dir.resolve("base.osm")
    java.nio.file.Files.write(in,
      """<osm version="0.6">
        |<node id="1" lat="50.0" lon="8.0" version="1">
        |  <tag k="amenity" v="restaurant"/></node>
        |</osm>""".stripMargin.getBytes("UTF-8"))
    Main.run(spark, Options.parse(Seq(in.toString, "--create", "--slim",
      "--drop", "--output-dir", s"$dir/out")))
    // tables landed, middle did not (src/osmdata.cpp:420)
    assert(spark.read.parquet(s"$dir/out/planet_osm_point").count() == 1L)
    assert(!new java.io.File(s"$dir/out/middle").exists())
    // properties record updatable = slim && !drop (src/osm2pgsql.cpp:116)
    assert(graft.sinks.Properties.load(spark, s"$dir/out/properties")
      .apply("updatable") == "false")
    val osc = dir.resolve("c.osc")
    java.nio.file.Files.write(osc,
      """<osmChange version="0.6">
        |<delete><node id="1" lat="50.0" lon="8.0" version="2"/></delete>
        |</osmChange>""".stripMargin.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, Options.parse(Seq(osc.toString, "--append", "--slim",
        "--output-dir", s"$dir/out")))
    }
    assert(e.getMessage.contains("not updatable"))
  }

  test("replication CLI: init from a mirror, update applies the " +
      "outstanding diffs through the append pipeline, status reports") {
    import java.nio.file.{Files, Paths}
    import graft.operators.Replication
    import graft.operators.Replication.State
    val dir = Files.createTempDirectory("graft-cli-repl")
    val in = dir.resolve("base.osm")
    Files.write(in,
      """<osm version="0.6">
        |<node id="1" lat="50.0" lon="8.0" version="1">
        |  <tag k="amenity" v="restaurant"/></node>
        |<node id="2" lat="50.5" lon="8.5" version="1">
        |  <tag k="amenity" v="post_box"/></node>
        |</osm>""".stripMargin.getBytes("UTF-8"))
    Main.run(spark, Options.parse(Seq(in.toString, "--create", "--slim",
      "--output-dir", s"$dir/out")))

    // replication mirror: seq 1 modifies node 1, seq 2 adds node 3
    val mirror = s"$dir/mirror"
    def state(seq: Long, ts: String): Unit = {
      val p = Paths.get(mirror,
        Replication.sequencePath(seq) + ".state.txt")
      Files.createDirectories(p.getParent)
      Files.write(p, State.format(
        State(seq, java.time.Instant.parse(ts))).getBytes("UTF-8"))
    }
    state(0, "2024-01-01T00:00:00Z")
    state(1, "2024-01-02T00:00:00Z")
    state(2, "2024-01-03T00:00:00Z")
    Files.write(Paths.get(mirror, "state.txt"), State.format(
      State(2, java.time.Instant.parse("2024-01-03T00:00:00Z")))
      .getBytes("UTF-8"))
    Files.write(Paths.get(mirror, Replication.sequencePath(1) + ".osc"),
      """<osmChange version="0.6">
        |<modify><node id="1" lat="50.0" lon="8.0" version="2">
        |  <tag k="amenity" v="cafe"/></node></modify>
        |</osmChange>""".stripMargin.getBytes("UTF-8"))
    Files.write(Paths.get(mirror, Replication.sequencePath(2) + ".osc"),
      """<osmChange version="0.6">
        |<create><node id="3" lat="51.0" lon="9.0" version="1">
        |  <tag k="amenity" v="bar"/></node></create>
        |</osmChange>""".stripMargin.getBytes("UTF-8"))

    // init resolves the start sequence from the date by bisection
    assert(ReplicationMain.run(spark, ReplicationMain.parse(Seq("init",
      "--output-dir", s"$dir/out", "--server", mirror,
      "--start-at", "2024-01-01T12:00:00Z"))) == 0)

    // status before update: 2 sequences behind, exit 0
    assert(ReplicationMain.run(spark, ReplicationMain.parse(Seq("status",
      "--output-dir", s"$dir/out"))) == 0)

    // update batches both diffs through one k-way-merged append run;
    // --post-processing receives the batch's (sequence, timestamp)
    val post = dir.resolve("post.sh")
    Files.write(post,
      s"#!/bin/sh\necho \"$$1 $$2\" >> $dir/post.log\n"
        .getBytes("UTF-8"))
    post.toFile.setExecutable(true)
    assert(ReplicationMain.run(spark, ReplicationMain.parse(Seq("update",
      "--output-dir", s"$dir/out",
      "--post-processing", post.toString))) == 0)
    assert(new String(Files.readAllBytes(
      Paths.get(s"$dir/post.log")), "UTF-8").trim
      == "2 2024-01-03T00:00:00Z")
    import org.apache.spark.sql.functions.col
    val rows = spark.read.parquet(s"$dir/out/planet_osm_point")
      .select(col("osm_id"), col("tags")).collect()
      .map(r => r.getLong(0) -> r.getMap[String, String](1)("amenity"))
      .toMap
    assert(rows == Map(1L -> "cafe", 2L -> "post_box", 3L -> "bar"))

    // status --json after update: up to date, reference's object shape
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      assert(ReplicationMain.run(spark, ReplicationMain.parse(Seq(
        "status", "--json", "--output-dir", s"$dir/out"))) == 0)
    }
    val js = out.toString("UTF-8")
    assert(js.contains(""""status": 0"""), js)
    assert(js.contains(""""sequence": 2"""), js)
    assert(js.contains("2024-01-03T00:00:00Z"), js)

    // a second update is a no-op at the same sequence
    assert(ReplicationMain.run(spark, ReplicationMain.parse(Seq("update",
      "--output-dir", s"$dir/out"))) == 0)
    val props = graft.sinks.Properties.load(spark, s"$dir/out/properties")
    assert(props("replication_sequence_number") == "2")
    assert(props("replication_base_url") == mirror)

    // replication.feature: `init` with NO arguments re-initialises
    // from the stored replication info
    assert(ReplicationMain.run(spark, ReplicationMain.parse(Seq("init",
      "--output-dir", s"$dir/out"))) == 0)
    assert(graft.sinks.Properties.load(spark, s"$dir/out/properties")
      .apply("replication_sequence_number") == "2")

    // status against a vanished service → exit 3 (reference's code)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(mirror))
    assert(ReplicationMain.run(spark, ReplicationMain.parse(Seq("status",
      "--output-dir", s"$dir/out"))) == 3)
  }

  test("replication_schema.feature: init/update work over an import " +
      "with --middle-schema") {
    import java.nio.file.{Files, Paths}
    import graft.operators.Replication
    import graft.operators.Replication.State
    val dir = Files.createTempDirectory("graft-cli-repl-schema")
    val in = dir.resolve("base.osm")
    Files.write(in,
      """<osm version="0.6">
        |<node id="1" lat="50.0" lon="8.0" version="1">
        |  <tag k="amenity" v="restaurant"/></node>
        |</osm>""".stripMargin.getBytes("UTF-8"))
    // the middle lands under the foobar dir — the middle-schema analog
    Main.run(spark, Options.parse(Seq(in.toString, "--create", "--slim",
      "--middle-schema", "foobar", "--output-dir", s"$dir/out")))
    assert(Files.exists(Paths.get(s"$dir/out/foobar/nodes")))
    assert(!Files.exists(Paths.get(s"$dir/out/middle")))

    val mirror = s"$dir/mirror"
    def state(seq: Long, ts: String): Unit = {
      val p = Paths.get(mirror,
        Replication.sequencePath(seq) + ".state.txt")
      Files.createDirectories(p.getParent)
      Files.write(p, State.format(
        State(seq, java.time.Instant.parse(ts))).getBytes("UTF-8"))
    }
    state(0, "2024-01-01T00:00:00Z")
    state(1, "2024-01-02T00:00:00Z")
    Files.write(Paths.get(mirror, "state.txt"), State.format(
      State(1, java.time.Instant.parse("2024-01-02T00:00:00Z")))
      .getBytes("UTF-8"))
    Files.write(Paths.get(mirror, Replication.sequencePath(1) + ".osc"),
      """<osmChange version="0.6">
        |<modify><node id="1" lat="50.0" lon="8.0" version="2">
        |  <tag k="amenity" v="cafe"/></node></modify>
        |</osmChange>""".stripMargin.getBytes("UTF-8"))

    assert(ReplicationMain.run(spark, ReplicationMain.parse(Seq("init",
      "--output-dir", s"$dir/out", "--server", mirror,
      "--start-at", "2024-01-01T12:00:00Z"))) == 0)
    // the schema flags pass through to the append run, like the
    // reference script's --schema/--middle-schema forwarding
    assert(ReplicationMain.run(spark, ReplicationMain.parse(Seq("update",
      "--output-dir", s"$dir/out", "--middle-schema", "foobar"))) == 0)
    val props = graft.sinks.Properties.load(spark, s"$dir/out/properties")
    assert(props("replication_sequence_number") == "1")
    assert(props("replication_timestamp") == "2024-01-02T00:00:00Z")
    val rows = spark.read.parquet(s"$dir/out/planet_osm_point")
      .selectExpr("osm_id", "tags['amenity']").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "cafe"))
    // the updated middle stayed under the schema dir
    assert(Files.exists(Paths.get(s"$dir/out/foobar/nodes")))
    assert(!Files.exists(Paths.get(s"$dir/out/middle")))
    assert(ReplicationMain.run(spark, ReplicationMain.parse(Seq("status",
      "--output-dir", s"$dir/out"))) == 0)
  }

  test("replication init without any source fails loudly; status " +
      "before init exits 1") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-repl2")
    val in = dir.resolve("base.osm")
    java.nio.file.Files.write(in,
      """<osm version="0.6">
        |<node id="1" lat="50.0" lon="8.0" version="1">
        |  <tag k="amenity" v="restaurant"/></node>
        |</osm>""".stripMargin.getBytes("UTF-8"))
    // status with no replication state recorded → exit 1
    Main.run(spark, Options.parse(Seq(in.toString, "--create", "--slim",
      "--output-dir", s"$dir/out")))
    assert(ReplicationMain.run(spark, ReplicationMain.parse(Seq("status",
      "--output-dir", s"$dir/out"))) == 1)
    // an XML import has no header replication info → init must name one
    val e = intercept[IllegalArgumentException] {
      ReplicationMain.run(spark, ReplicationMain.parse(Seq("init",
        "--output-dir", s"$dir/out")))
    }
    assert(e.getMessage.contains("No replication source"))
  }

  test("-O flex runs a compiled FlexConfig end-to-end (Liechtenstein)") {
    val pbf = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"
    assume(new java.io.File(pbf).exists())
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-flex")
    Main.run(spark, Options.parse(Seq(pbf, "-O", "flex",
      "-S", "graft.flex.examples.PoisAndHighways",
      "--output-dir", s"$dir/out")))
    // tag-inventory goldens of the extract via the golden-count-proven
    // PBF reader (OsmPbfSpec pins the entity totals EXACTLY): 244
    // amenity-tagged nodes, 2753 highway-tagged ways with >= 2
    // resolved locations; NOT NULL geometry enforced by the runner
    import org.apache.spark.sql.functions.col
    val pois = spark.read.parquet(s"$dir/out/flex_pois")
    assert(pois.count() == 244L)
    assert(pois.where(col("geom").isNull).count() == 0L)
    val hw = spark.read.parquet(s"$dir/out/flex_highways")
    assert(hw.count() == 2753L)
    assert(hw.where(col("geom").isNull || col("highway").isNull)
      .count() == 0L)
    // the config's expire output wrote sorted z/x/y lines at z12 and
    // (no live server here) the table form landed as parquet
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$dir/out/flex_dirty_tiles.txt"))
    assert(lines.size() > 0)
    lines.forEach(l => assert(l.matches("1[0-2]/\\d+/\\d+"), l))
    val expTiles = spark.read.parquet(s"$dir/out/expire_hw_dirty")
    assert(expTiles.count() == lines.size().toLong)
    // an unknown config name fails with the typed-DSL pointer
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, Options.parse(Seq(pbf, "-O", "flex",
        "-S", "no.such.Config", "--output-dir", s"$dir/out2")))
    }
    assert(e.getMessage.contains("not found"))
  }

  test("-O flex relation processing: geometry-less route table " +
      "(route-relations.lua shape)") {
    val pbf = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"
    assume(new java.io.File(pbf).exists())
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-routes")
    Main.run(spark, Options.parse(Seq(pbf, "-O", "flex",
      "-S", "graft.flex.examples.RouteRelations",
      "--output-dir", s"$dir/out")))
    import org.apache.spark.sql.functions.col
    val routes = spark.read.parquet(s"$dir/out/flex_routes")
    // tag-inventory goldens of the extract: 38 type=route relations
    // with a route tag, 17 of them buses; every member list non-empty
    assert(routes.count() == 38L)
    assert(routes.where(col("route") === "bus").count() == 17L)
    assert(routes.where(col("n_members") <= 0).count() == 0L)
  }

  test("-O flex -d live-loads the flex tables (bytea geometry)") {
    assume(PgTestCluster.up, "no runnable PostgreSQL in this environment")
    val pbf = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"
    assume(new java.io.File(pbf).exists())
    val dsn = PgTestCluster.dsn
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-flexpg")
    Main.run(spark, Options.parse(Seq(pbf, "-O", "flex",
      "-S", "graft.flex.examples.PoisAndHighways",
      "--output-dir", s"$dir/out", "-d", dsn)))
    def one(sql: String): String = graft.sinks.PgLive.queryOne(dsn, sql)
    assert(one("""SELECT count(*) FROM "public"."flex_pois";""")
      .toLong == 244L)
    assert(one("""SELECT count(*) FROM "public"."flex_highways";""")
      .toLong == 2753L)
    // bytea degradation carried the EWKB payload: every row has a
    // non-empty geometry whose first byte is 01 (little-endian EWKB)
    assert(one("""SELECT count(*) FROM "public"."flex_highways"
      | WHERE "geom" IS NULL OR get_byte("geom", 0) <> 1;"""
      .stripMargin).toLong == 0L)
    // the expire output's table form landed live with the reference's
    // layout (zoom,x,y,first,last + PK) and matches the file form
    val fileLines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$dir/out/flex_dirty_tiles.txt")).size().toLong
    assert(one("""SELECT count(*) FROM "public"."flex_expire";""")
      .toLong == fileLines)
    assert(one("""SELECT count(*) FROM "public"."flex_expire"
      | WHERE first IS NULL OR last IS NULL;""".stripMargin).toLong == 0L)
    // re-running upserts: same tile count, `last` advances via the
    // ON CONFLICT branch (no duplicate-key failure)
    Main.run(spark, Options.parse(Seq(pbf, "-O", "flex",
      "-S", "graft.flex.examples.PoisAndHighways",
      "--output-dir", s"$dir/out2", "-d", dsn)))
    assert(one("""SELECT count(*) FROM "public"."flex_expire";""")
      .toLong == fileLines)
  }

  test("-d live: create + append load a real PostgreSQL (Liechtenstein)") {
    assume(PgTestCluster.up, "no runnable PostgreSQL in this environment")
    val pbf = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"
    val osc = "/root/reference/tests/data/000466354.osc.gz"
    assume(new java.io.File(pbf).exists() && new java.io.File(osc).exists())
    val dsn = PgTestCluster.dsn
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-pg")
    Main.run(spark, Options.parse(Seq(pbf, "--create", "--slim",
      "--output-dir", s"$dir/out", "-d", dsn)))
    def count(t: String): Long = graft.sinks.PgLive.queryOne(dsn,
      s"""SELECT count(*) FROM "public"."planet_osm_$t";""").toLong
    // the reference's own regression goldens (import.feature)
    assert(count("point") == 1342L)
    assert(count("line") == 3231L)
    assert(count("polygon") == 4130L)
    assert(count("roads") == 375L)
    // classic column layout landed: style columns + computed columns
    assert(graft.sinks.PgLive.queryOne(dsn,
      """SELECT count(*) FROM "public"."planet_osm_line"
        | WHERE "highway" IS NOT NULL;""".stripMargin).toLong > 1000L)
    assert(graft.sinks.PgLive.queryOne(dsn,
      """SELECT count(*) FROM "public"."planet_osm_line"
        | WHERE "z_order" IS NULL;""".stripMargin).toLong == 0L)
    assert(graft.sinks.PgLive.queryOne(dsn,
      """SELECT count(*) FROM "public"."planet_osm_polygon"
        | WHERE "way" IS NULL OR "way_area" IS NULL;""".stripMargin)
      .toLong == 0L)

    // append: the update.feature goldens, mutated LIVE via
    // delete-before-insert (not a reload)
    Main.run(spark, Options.parse(Seq(osc, "--append", "--slim",
      "--output-dir", s"$dir/out", "-d", dsn)))
    assert(count("point") == 1457L)
    assert(count("line") == 3274L)
    assert(count("polygon") == 4277L)
    assert(count("roads") == 380L)
  }

  test("-d live: --schema puts the classic tables in a named schema") {
    // test-output-pgsql-schema.cpp "liechtenstein slim with schema":
    // same import goldens, tables under myschema instead of public
    // (the reference creates the schema up front; so does this test)
    assume(PgTestCluster.up, "no runnable PostgreSQL in this environment")
    val pbf = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"
    assume(new java.io.File(pbf).exists())
    val dsn = PgTestCluster.dsn
    graft.sinks.PgLive.execOrThrow(dsn,
      "CREATE SCHEMA IF NOT EXISTS myschema;")
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-schema")
    Main.run(spark, Options.parse(Seq(pbf, "--create", "--slim",
      "--schema", "myschema", "-p", "schema_osm",
      "--output-dir", s"$dir/out", "-d", dsn)))
    def count(t: String): Long = graft.sinks.PgLive.queryOne(dsn,
      s"""SELECT count(*) FROM "myschema"."schema_osm_$t";""").toLong
    assert(count("point") == 1342L)
    assert(count("line") == 3231L)
    assert(count("polygon") == 4130L)
    assert(count("roads") == 375L)
    // nothing with that prefix leaked into public
    assert(graft.sinks.PgLive.queryOne(dsn,
      """SELECT count(*) FROM information_schema.tables
        | WHERE table_schema = 'public'
        |   AND table_name LIKE 'schema\_osm\_%';""".stripMargin)
      .toLong == 0L)
  }

  test("-d live: -k excludes column keys from hstore, -j keeps them") {
    assume(PgTestCluster.up, "no runnable PostgreSQL in this environment")
    val dsn = PgTestCluster.dsn
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-hs")
    val in = dir.resolve("tiny.osm")
    java.nio.file.Files.write(in,
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osm version="0.6">
        |<node id="1" lat="50.0" lon="8.0" version="1">
        |  <tag k="amenity" v="cafe"/><tag k="weird:key" v="kept"/></node>
        |</osm>""".stripMargin.getBytes("UTF-8"))
    def hstoreOf(prefix: String, flag: String): (String, String) = {
      Main.run(spark, Options.parse(Seq(in.toString, flag,
        "-p", prefix, "--output-dir", s"$dir/$prefix", "-d", dsn)))
      val a = graft.sinks.PgLive.queryOne(dsn,
        s"""SELECT "tags" -> 'amenity' FROM "public"."${prefix}_point";""")
      val w = graft.sinks.PgLive.queryOne(dsn,
        s"""SELECT "tags" -> 'weird:key' FROM "public"."${prefix}_point";""")
      (a, w)
    }
    // -k (norm): amenity went to its column, NOT the hstore
    // (table.cpp:265-275 `used` exclusion); unmatched keys stay
    val (aNorm, wNorm) = hstoreOf("hs_norm", "-k")
    assert(aNorm.isEmpty && wNorm == "kept")
    // -j (all): every tag is in the hstore, including column-matched
    val (aAll, wAll) = hstoreOf("hs_all", "-j")
    assert(aAll == "cafe" && wAll == "kept")
    // and the column is populated either way
    assert(graft.sinks.PgLive.queryOne(dsn,
      """SELECT "amenity" FROM "public"."hs_all_point";""") == "cafe")
  }

  test("-d live: -z hstore columns land shortkeys + GIN indexes") {
    assume(PgTestCluster.up, "no runnable PostgreSQL in this environment")
    val dsn = PgTestCluster.dsn
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-z")
    val in = dir.resolve("tiny.osm")
    java.nio.file.Files.write(in,
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osm version="0.6">
        |<node id="1" lat="50.0" lon="8.0" version="1">
        |  <tag k="amenity" v="cafe"/><tag k="name:en" v="En"/>
        |  <tag k="name:de" v="De"/></node>
        |<node id="2" lat="51.0" lon="9.0" version="1">
        |  <tag k="amenity" v="bar"/></node>
        |</osm>""".stripMargin.getBytes("UTF-8"))
    Main.run(spark, Options.parse(Seq(in.toString, "-p", "hz",
      "-z", "name:", "--hstore-add-index",
      "--output-dir", s"$dir/out", "-d", dsn)))
    // the -z column holds prefix-stripped shortkeys…
    assert(graft.sinks.PgLive.queryOne(dsn,
      """SELECT "name:" -> 'de' FROM "public"."hz_point" """ +
        "WHERE osm_id = 1;") == "De")
    // …and is NULL (not an empty hstore) when nothing matched
    assert(graft.sinks.PgLive.queryOne(dsn,
      """SELECT ("name:" IS NULL)::text FROM "public"."hz_point" """ +
        "WHERE osm_id = 2;") == "true")
    // --hstore-add-index created a GIN index on the -z column
    assert(graft.sinks.PgLive.queryOne(dsn,
      "SELECT count(*) FROM pg_indexes WHERE tablename = 'hz_point' " +
        "AND indexdef LIKE '%gin%';").toLong >= 1L)
  }

  test("-d live: --output-pgsql-schema loads into that schema " +
      "(schema.feature)") {
    assume(PgTestCluster.up, "no runnable PostgreSQL in this environment")
    val dsn = PgTestCluster.dsn
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-schema")
    val in = dir.resolve("base.osm")
    java.nio.file.Files.write(in,
      """<osm version="0.6">
        |<node id="3948" lat="-20.1444" lon="22.45" version="1">
        |  <tag k="highway" v="bus_stop"/><tag k="name" v="Bus"/></node>
        |</osm>""".stripMargin.getBytes("UTF-8"))
    graft.sinks.PgLive.execOrThrow(dsn,
      "CREATE SCHEMA IF NOT EXISTS osm;")
    Main.run(spark, Options.parse(Seq(in.toString, "--create",
      "--output-dir", s"$dir/out", "-d", dsn,
      "--output-pgsql-schema", "osm")))
    assert(graft.sinks.PgLive.queryOne(dsn,
      """SELECT count(*) FROM "osm"."planet_osm_point";""").toLong == 1L)
  }

  test("end-to-end CLI run: tables, expire list, jdbc url") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli")
    val in = dir.resolve("tiny.osm")
    java.nio.file.Files.write(in,
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osm version="0.6">
        |<node id="1" lat="50.0" lon="8.0" version="1">
        |  <tag k="amenity" v="restaurant"/></node>
        |<node id="2" lat="50.001" lon="8.001" version="1"/>
        |<node id="3" lat="50.002" lon="8.002" version="1"/>
        |<way id="10" version="1"><nd ref="2"/><nd ref="3"/>
        |  <tag k="highway" v="residential"/></way>
        |</osm>""".stripMargin.getBytes("UTF-8"))
    val o = Options.parse(Seq(in.toString,
      "--output-dir", s"$dir/out", "-e", "10-12",
      "-d", "postgresql:///osm"))
    Main.run(spark, o)
    val point = spark.read.parquet(s"$dir/out/planet_osm_point")
    val line = spark.read.parquet(s"$dir/out/planet_osm_line")
    assert(point.count() == 1 && line.count() == 1)
    val tiles = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(s"$dir/out/dirty_tiles.txt"))
    assert(!tiles.isEmpty && tiles.get(0).matches("\\d+/\\d+/\\d+"))
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/out/jdbc_url.txt")).trim ==
      "jdbc:postgresql://localhost:5432/osm")
    // the DSN is unreachable → load artifacts landed instead: DDL for
    // all four tables plus executor-formatted COPY files
    val ddl = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/out/ddl.sql"))
    Seq("point", "line", "polygon", "roads").foreach { k =>
      assert(ddl.contains(s"""CREATE UNLOGGED TABLE "public"."planet_osm_$k""""))
      assert(new java.io.File(s"$dir/out/copy/planet_osm_$k").exists())
    }
    val copied = spark.read.text(s"$dir/out/copy/planet_osm_point")
    assert(copied.count() == 1)
    // wire line: osm_id, style columns (amenity among them), way hex
    val line0 = copied.collect().head.getString(0)
    assert(line0.startsWith("1\t") && line0.contains("restaurant"))
  }

  test("-O flex Generic example config (generic.lua port, " +
      "Liechtenstein counts)") {
    val pbf = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"
    assume(new java.io.File(pbf).exists())
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-generic")
    Main.run(spark, Options.parse(Seq(pbf, "-O", "flex",
      "-S", "graft.flex.examples.Generic", "--output-dir", s"$dir/out")))
    import org.apache.spark.sql.functions.col
    def cnt(t: String): Long = spark.read.parquet(s"$dir/out/$t").count()
    // pinned over the extract: geometry-type split with jsonb tags
    assert(cnt("generic_points") == 1360L)
    assert(cnt("generic_lines") == 3013L)
    assert(cnt("generic_polygons") == 4098L)
    assert(cnt("generic_routes") == 35L)
    assert(cnt("generic_boundaries") == 36L)
    val polys = spark.read.parquet(s"$dir/out/generic_polygons")
    // area table id convention: ways positive, relations negative
    assert(polys.where(col("osm_id") < 0).count() == 8L)
    assert(polys.where(col("geom").isNull).count() == 0L)
    // tags landed as jsonb text, with the cleaned keys gone
    val tag0 = polys.where(col("osm_id") > 0)
      .select("tags").limit(1).collect().head.getString(0)
    assert(tag0.startsWith("{"))
    assert(spark.read.parquet(s"$dir/out/generic_points")
      .where(col("tags").contains("\"created_by\"")).count() == 0L)
  }

  test("-O flex Compatible example config reproduces the classic " +
      "C-transform point/polygon tables exactly (compatible.lua port)") {
    val pbf = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"
    assume(new java.io.File(pbf).exists())
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-compat")
    Main.run(spark, Options.parse(Seq(pbf, "-O", "flex",
      "-S", "graft.flex.examples.Compatible", "--output-dir", s"$dir/out")))
    import org.apache.spark.sql.functions.col
    def tbl(t: String) = spark.read.parquet(s"$dir/out/$t")
    // the cross-check the reference ships this config for: point and
    // polygon match the classic output's import.feature goldens
    // EXACTLY (1342 / 4130); line and roads differ by the documented
    // compatible.lua delta (relation multilinestrings are NOT
    // line_merge()d, compatible.lua:745) and are pinned as measured
    assert(tbl("compat_point").count() == 1342L)
    assert(tbl("compat_polygon").count() == 4130L)
    assert(tbl("compat_line").count() == 4244L)
    assert(tbl("compat_roads").count() == 725L)
    // classic id conventions and column surface
    val poly = tbl("compat_polygon")
    assert(poly.where(col("osm_id") < 0).count() == 40L)
    assert(poly.columns.takeRight(3).toSeq ==
      Seq("z_order", "way_area", "way"))
    assert(poly.where(col("way").isNull || col("way_area").isNull)
      .count() == 0L)
    assert(tbl("compat_line").where(col("z_order").isNull).count() == 0L)
  }

  test("-O flex Forests example config: area table + run_gen " +
      "raster-union levels + expire tables (gen/forests.lua port)") {
    val pbf = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"
    assume(new java.io.File(pbf).exists())
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-forests")
    Main.run(spark, Options.parse(Seq(pbf, "-O", "flex",
      "-S", "graft.flex.examples.Forests", "--output-dir", s"$dir/out")))
    import org.apache.spark.sql.functions.col
    def tbl(t: String) = spark.read.parquet(s"$dir/out/$t")
    assert(tbl("forests").count() == 64L)
    // gen levels: z7/z8 coarse, z10 finer -> more tile polygons
    assert(tbl("forests_s").count() == 8L)
    assert(tbl("forests_m").count() == 8L)
    assert(tbl("forests_l").count() == 33L)
    // tile-ids dest tables carry (x, y, geom) with no osm_id
    assert(tbl("forests_l").columns.toSeq == Seq("x", "y", "geom"))
    assert(tbl("forests_l").where(col("geom").isNull).count() == 0L)
    // one expire output per level, table form landed
    assert(tbl("expire_exp_s").count() == 2L)
    assert(tbl("expire_exp_m").count() == 2L)
    assert(tbl("expire_exp_l").count() == 5L)
    // the extract has no named forests -> no labels, by the config's
    // name-gated label rule
    assert(tbl("forests").where(col("name").isNotNull ||
      col("labelpoint").isNotNull || col("area").isNotNull)
      .count() == 0L)
  }

  test("-O flex example-config corpus loads and lands pinned counts " +
      "(test-output-flex-example-configs.cpp analog)") {
    val pbf = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"
    assume(new java.io.File(pbf).exists())
    import org.apache.spark.sql.functions.col
    def run(cfg: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-ex-$cfg")
      Main.run(spark, Options.parse(Seq(pbf, "-O", "flex",
        "-S", s"graft.flex.examples.$cfg", "--output-dir", s"$dir/out")))
      s"$dir/out"
    }
    def cnt(dir: String, t: String): Long =
      spark.read.parquet(s"$dir/$t").count()

    val simple = run("Simple")
    assert(cnt(simple, "simple_pois") == 1531L)
    assert(cnt(simple, "simple_restaurants") == 31L)
    assert(cnt(simple, "simple_ways") == 2990L)
    assert(cnt(simple, "simple_polygons") == 4142L)

    val geoms = run("Geometries")
    assert(cnt(geoms, "geometries_pois") == 1562L)
    assert(cnt(geoms, "geometries_pubs") == 2L)
    assert(cnt(geoms, "geometries_ways") == 3015L)
    assert(cnt(geoms, "geometries_polygons") == 4120L)
    // nullable geometry column: broken assemblies land as NULL rows
    assert(spark.read.parquet(s"$geoms/geometries_polygons")
      .where(col("geom").isNull).count() == 4L)
    assert(spark.read.parquet(s"$geoms/geometries_polygons")
      .where(col("area").isNotNull && col("spherical_area").isNotNull)
      .count() >= 4100L)
    assert(cnt(geoms, "geometries_boundaries") == 20L)

    val label = run("Labelpoint")
    assert(cnt(label, "labelpoint_polygons") == 182L)
    assert(spark.read.parquet(s"$label/labelpoint_polygons")
      .where(col("centroid").isNull || col("poi1").isNull ||
        col("poi2").isNull).count() == 0L)

    val hstore = run("Hstore")
    assert(cnt(hstore, "hstore_nodes") == 1562L)
    assert(cnt(hstore, "hstore_ways") == 7105L)

    val addrs = run("Addresses")
    val a = spark.read.parquet(s"$addrs/addrs")
    assert(a.count() == 212L)
    assert(a.columns.take(2).toSeq == Seq("osm_type", "osm_id"))
    assert(a.where(col("osm_type") === "N").count() == 73L)
    assert(a.where(col("osm_type") === "W").count() == 139L)
    assert(a.where(col("osm_id") < 0).count() == 0L) // type col keeps ids +

    val uni = run("Unitable")
    val u = spark.read.parquet(s"$uni/unitable_data")
    assert(u.count() == 8578L)
    assert(u.where(col("osm_type") === "R").count() == 113L)
    // collections with no resolvable members land with NULL geom
    assert(u.where(col("osm_type") === "R" && col("geom").isNull)
      .count() == 12L)
    assert(u.where(col("attrs").isNull).count() == 0L)

    val untag = run("Untagged")
    val un = spark.read.parquet(s"$untag/untagged_nodes")
    assert(un.count() == 65733L) // every node, tagged or not
    assert(un.where(col("tags").isNotNull).count() == 1562L)
    assert(cnt(untag, "untagged_ways") == 7121L)

    val places = run("Places")
    val p = spark.read.parquet(s"$places/places")
    assert(p.count() == 20L)
    // name:* tags fold into the nested names object
    assert(p.where(col("tags").contains("\"names\":{")).count() > 0L)
    assert(p.where(col("tags").contains("\"name\":")).count() == 0L)

    val tc = run("TurningCircles")
    assert(cnt(tc, "turning_circles") == 13L)
    assert(cnt(tc, "tc_highways") == 2753L)
    // the id-cache idiom as a join: way×node combos tagged both ways
    val ends = spark.read.parquet(s"$tc/tc_highway_ends")
    assert(ends.count() == 21L)
    assert(ends.where(col("node_id").isNull || col("geom").isNull)
      .count() == 0L)

    val ws = run("WithSchema")
    assert(cnt(ws, "withschema_data") == 7105L)
  }

  test("-O flex example-config corpus part 2: data-types, attributes, " +
      "bbox, indexes, expire, track-changes") {
    val pbf = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"
    assume(new java.io.File(pbf).exists())
    import org.apache.spark.sql.functions.col
    def run(cfg: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-ex2-$cfg")
      Main.run(spark, Options.parse(Seq(pbf, "-O", "flex",
        "-S", s"graft.flex.examples.$cfg", "--output-dir", s"$dir/out")))
      s"$dir/out"
    }
    def cnt(dir: String, t: String): Long =
      spark.read.parquet(s"$dir/$t").count()

    val dt = run("DataTypes")
    val hw = spark.read.parquet(s"$dt/datatypes_highways")
    assert(hw.count() == 2160L)
    // create-only serial column exists in DDL only, not in the rows
    assert(!hw.columns.contains("id"))
    assert(hw.columns.contains("nodes"))
    // direction / parsed maxspeed / int8[] text form
    assert(hw.where(col("oneway").isNull).count() == 0L)
    assert(hw.where(col("maxspeed") === 50).count() > 0L)
    assert(hw.where(!col("nodes").startsWith("{")).count() == 0L)
    val ddl = graft.sinks.PgSink.createTableDdl(
      graft.flex.examples.DataTypes.tables.head)
    assert(ddl.contains(""""id" serial"""))
    assert(ddl.contains(""""nodes" int8[]"""))

    val at = run("Attributes")
    assert(cnt(at, "attributes_nodes") == 1562L)
    // tagged ways only — the reference's untagged dispatch skips the
    // rest (no process_untagged_way in attributes.lua); the Lua-path
    // run of the same config pins the same 7105
    assert(cnt(at, "attributes_ways") == 7105L)
    assert(cnt(at, "attributes_relations") == 113L)
    assert(spark.read.parquet(s"$at/attributes_ways")
      .where(col("created").isNull || col("version").isNull)
      .count() == 0L)

    val bb = run("Bbox")
    assert(cnt(bb, "bbox_pois") == 1562L)
    assert(cnt(bb, "bbox_polygons") == 4120L)
    // box2d text form: BOX(xmin ymin,xmax ymax)
    assert(spark.read.parquet(s"$bb/bbox_ways")
      .where(!col("bbox").rlike(
        "^BOX\\(-?[0-9.]+ -?[0-9.]+,-?[0-9.]+ -?[0-9.]+\\)$"))
      .count() == 0L)

    val ix = run("Indexes")
    assert(cnt(ix, "indexes_pois") == 1562L)
    assert(cnt(ix, "indexes_roads") == 2753L)
    assert(cnt(ix, "indexes_postboxes") == 11L)
    // index DDL surface: empty list, where-condition, named expression
    import graft.flex.examples.Indexes
    def ddlFor(name: String) = graft.sinks.PgSink.postLoadDdl(
      Indexes.tables.find(_.name == name).get, updatable = false)
    assert(!ddlFor("indexes_pois").exists(_.contains("CREATE INDEX")))
    assert(ddlFor("indexes_roads").exists(d =>
      d.contains("WHERE type='primary'")))
    assert(ddlFor("indexes_postboxes").exists(d =>
      d.contains("postbox_operator_idx") && d.contains("lower(operator)")))

    val ex = run("ExpireDemo")
    assert(cnt(ex, "expiredemo_pois") == 1562L)
    // file-form z14 tile list + table forms, min/max zoom rollup
    val tiles = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$ex/pois.tiles"))
    assert(tiles.size() == 130)
    tiles.forEach(l => assert(l.matches("14/\\d+/\\d+"), l))
    assert(cnt(ex, "expire_expiredemo_lines") == 196L)
    val pz = spark.read.parquet(s"$ex/expire_expiredemo_polygons")
    assert(pz.count() == 235L)
    assert(pz.agg(org.apache.spark.sql.functions.min("zoom"),
      org.apache.spark.sql.functions.max("zoom")).collect().head
      .toSeq == Seq(10, 14))

    // track-changes: create mode logs nothing; append over a change
    // file logs A/M/D rows (the osm2pgsql.mode gate)
    val tcDir = run("TrackChanges")
    assert(cnt(tcDir, "change_log") == 0L)
    val osc = "/root/reference/tests/data/000466354.osc.gz"
    assume(new java.io.File(osc).exists())
    Main.run(spark, Options.parse(Seq(osc, "-a", "--slim", "-O", "flex",
      "-S", "graft.flex.examples.TrackChanges",
      "--output-dir", tcDir)))
    val log = spark.read.parquet(s"$tcDir/change_log")
      .groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(log == Map("A" -> 1461L, "M" -> 181L, "D" -> 13L))
  }

  test("-O flex public-transport: two-stage rel data as joins " +
      "(public-transport.lua port)") {
    val pbf = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"
    assume(new java.io.File(pbf).exists())
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-pt")
    Main.run(spark, Options.parse(Seq(pbf, "-O", "flex",
      "-S", "graft.flex.examples.PublicTransport",
      "--output-dir", s"$dir/out")))
    import org.apache.spark.sql.functions.col
    def tbl(t: String) = spark.read.parquet(s"$dir/out/$t")
    // stage-2 node set: role='stop' members of wanted pt routes
    assert(tbl("pt_stops").count() == 8L)
    assert(tbl("pt_stops").where(col("geom").isNull).count() == 0L)
    assert(tbl("pt_routes").count() == 17L)
    assert(tbl("pt_stop_areas").count() == 1L)
    assert(tbl("pt_stop_areas").where(col("radius").isNull ||
      col("geom").isNull).count() == 0L)
    val lines = tbl("pt_lines")
    assert(lines.count() == 2790L)
    // only role='' way members of wanted routes carry rel data
    assert(lines.where(col("rel_refs").isNotNull).count() == 188L)
    // the middle-dot separator + sorted unique int8[] text form
    val multi = lines.where(col("rel_refs").contains("·"))
    assert(multi.count() > 0L)
    assert(lines.where(col("rel_ids").isNotNull &&
      !col("rel_ids").rlike("^\\{\\d+(,\\d+)*\\}$")).count() == 0L)
  }

  test("-O flex locator examples: countries import, building/highway " +
      "classify, bbox import filter (locator/*.lua ports)") {
    val pbf = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"
    assume(new java.io.File(pbf).exists())
    import org.apache.spark.sql.functions.col
    def run(cfg: String, input: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-loc-$cfg")
      Main.run(spark, Options.parse(Seq(input, "-O", "flex",
        "-S", s"graft.flex.examples.$cfg", "--output-dir", s"$dir/out")))
      s"$dir/out"
    }
    // Over the clipped extract no country boundary closes (members are
    // cut off) and relation 47's lowercase 'li' code is rejected by
    // the ISO pattern — both faithfully → empty countries table and
    // unclassified buildings/highways
    val c = run("LocatorCountries", pbf)
    assert(spark.read.parquet(s"$c/locator_countries").count() == 0L)
    val b = run("LocatorBuildings", pbf)
    val bl = spark.read.parquet(s"$b/locator_buildings")
    assert(bl.count() == 3723L)
    assert(bl.where(col("country").isNotNull).count() == 0L)
    val m = run("LocatorMotorwayColours", pbf)
    assert(spark.read.parquet(s"$m/locator_highways").count() == 2753L)
    // Iceland bbox filter: nothing in Liechtenstein intersects
    val is = run("LocatorIceland", pbf)
    assert(spark.read.parquet(s"$is/locator_is_highways").count() == 0L)

    // synthetic: a closed ISO-coded country polygon + buildings inside
    // and outside + a highway crossing it → classify works end to end
    val dir = java.nio.file.Files.createTempDirectory("graft-loc-synth")
    val in = dir.resolve("country.osm")
    java.nio.file.Files.write(in,
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
        |<way id="33"><nd ref="11"/><nd ref="13"/>
        |  <tag k="highway" v="motorway"/></way>
        |<relation id="40">
        |  <member type="way" ref="30" role="outer"/>
        |  <tag k="type" v="boundary"/>
        |  <tag k="boundary" v="administrative"/>
        |  <tag k="admin_level" v="2"/>
        |  <tag k="ISO3166-1" v="DE"/>
        |</relation>
        |</osm>""".stripMargin.getBytes("UTF-8"))
    val sb = run("LocatorBuildings", in.toString)
    val rows = spark.read.parquet(s"$sb/locator_buildings")
      .select("osm_id", "country", "countries").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows(31L) == (("DE", "{DE}")))
    assert(rows(32L) == ((null, "{}")))
    val sm = run("LocatorMotorwayColours", in.toString)
    val hw = spark.read.parquet(s"$sm/locator_highways").collect()
    assert(hw.length == 1)
    assert(hw.head.getAs[String]("country") == "DE")
    assert(hw.head.getAs[String]("colour") == "#174688")
  }

  test("-O flex Forests labels a named forest (labelpoint inside, " +
      "area set)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-forestl")
    val in = dir.resolve("forest.osm")
    java.nio.file.Files.write(in,
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osm version="0.6" generator="t">
        |<node id="1" lat="47.0" lon="9.0"/>
        |<node id="2" lat="47.0" lon="9.1"/>
        |<node id="3" lat="47.1" lon="9.1"/>
        |<node id="4" lat="47.1" lon="9.0"/>
        |<way id="10">
        |  <nd ref="1"/><nd ref="2"/><nd ref="3"/><nd ref="4"/><nd ref="1"/>
        |  <tag k="landuse" v="forest"/><tag k="name" v="Grosswald"/>
        |</way>
        |</osm>""".stripMargin.getBytes("UTF-8"))
    Main.run(spark, Options.parse(Seq(in.toString, "-O", "flex",
      "-S", "graft.flex.examples.Forests", "--output-dir", s"$dir/out")))
    val rows = spark.read.parquet(s"$dir/out/forests").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("name") == "Grosswald")
    assert(r.getAs[Float]("area") > 0f)
    val label = graft.geom.Ewkb.decode(r.getAs[Array[Byte]]("labelpoint"))
    val geom = graft.geom.Ewkb.decode(r.getAs[Array[Byte]]("geom"))
    (label, geom) match {
      case (p: graft.geom.Point, poly: graft.geom.Polygon) =>
        assert(graft.geom.FromOsm.pointInRing(p.pt, poly.outer))
      case other => fail(s"unexpected: $other")
    }
  }
}
