package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.flex.{Coerce, FlexColumn, FlexType}
import graft.sinks.PgSink
import graft.sources.{OsmXml, Validate}

/** Round-5 BDD ports: input.feature (oversize relations),
  * timestamp.feature (compact OSM timestamp form), dsn.feature
  * (libpq connection-string forms). */
class InputGuardsSpec extends SparkSpecBase {
  import spark.implicits._

  test("input.feature: relations with more than 32767 members are ignored") {
    val small = (1 to 3).map(i => ("n", i.toLong))
    val big = (1 to 33000).map(i => ("n", i.toLong))
    val rels = Seq((1L, small), (2L, big)).toDF("rel_id", "members")
    val kept = Validate.dropOversizeRelations(rels)
      .select($"rel_id").as[Long].collect().toSeq
    assert(kept == Seq(1L))
  }

  test("timestamp.feature: ISO and compact OSM forms coerce, junk nulls") {
    val df = Seq("2026-02-03T01:23:45Z", "20260102T123456Z",
      "2020-12-12 11:22:33", "not a time")
      .toDF("v")
      .select(Coerce.coerce($"v",
        FlexColumn("ts", FlexType.Timestamp)).as("ts"))
    val got = df.select(date_format($"ts", "yyyy-MM-dd'T'HH:mm:ss"))
      .as[String].collect().toSeq
    assert(got == Seq("2026-02-03T01:23:45", "2026-01-02T12:34:56",
      "2020-12-12T11:22:33", null))
  }

  test("style corpus: the reference's own style files parse/reject as upstream") {
    import graft.classic.StyleFile
    def load(name: String): String =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"/root/reference/tests/style/$name")),
        "UTF-8")
    assume(new java.io.File("/root/reference/tests/style").isDirectory)
    val valid = StyleFile.parse(load("valid.style"))
    assert(valid.entries.size == 8)
    assert(valid.polygonKeys.toSet ==
      Set("node_text_polygon", "way_text_polygon", "both_text_polygon"))
    assert(valid.deleteKeys.toSet == Set("both_delete"))
    // zero parsed columns is a hard error, matching read_style_file
    // (tests/test-output-pgsql-style-file.cpp:26-50)
    Seq("comments.style", "empty.style").foreach { f =>
      val e = intercept[IllegalArgumentException](StyleFile.parse(load(f)))
      assert(e.getMessage.contains("Unable to parse any valid columns"))
    }
    assert(StyleFile.parse(load("node.style")).entries ==
      Seq(graft.classic.StyleEntry(Set("node"), "access", "text",
        Set("linear"))))
    // way_area with no flags (computed column) parses
    assert(StyleFile.parse(load("way-area.style")).entries.size == 2)
    // unknown osm type is an error, not a silent drop
    intercept[IllegalArgumentException] {
      StyleFile.parse(load("invalid-osm-type.style"))
    }
    // unknown DATA types are lenient (reference treats them as text)
    assert(StyleFile.parse(load("invalid-data-type.style")).entries.size == 1)
    assert(StyleFile.parse(load("data-types.style")).entries.size == 3)
    // wildcards: delete-only (src/taginfo.cpp:149-156)
    assert(StyleFile.parse("node,way  name:*  text  delete")
      .deleteKeys == Seq("name:*"))
    intercept[IllegalArgumentException] {
      StyleFile.parse("node,way  name:*  text  linear")
    }
    // the shipped default style still parses under the strict rules
    assert(graft.classic.StyleFile.defaultStyle.entries.nonEmpty)
  }

  test("compressed inputs: .osm.gz and .osm.bz2 read through the " +
      "distributed XML path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-xmlz")
    def doc(n1: Int, n2: Int, w: Int) =
      s"""<?xml version='1.0' encoding='UTF-8'?>
         |<osm version="0.6">
         |<node id="$n1" lat="1.5" lon="2.5" version="1"/>
         |<node id="$n2" lat="1.6" lon="2.6" version="1"/>
         |<way id="$w" version="1"><nd ref="$n1"/><nd ref="$n2"/>
         |<tag k="highway" v="residential"/></way>
         |</osm>""".stripMargin
    java.nio.file.Files.write(dir.resolve("a.osm"),
      doc(1, 2, 10).getBytes("UTF-8"))
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("b.osm.gz")))
    gz.write(doc(3, 4, 11).getBytes("UTF-8")); gz.close()
    // bz2 via the Hadoop codec (what the cluster read path uses too)
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(spark.sparkContext.hadoopConfiguration)
    val bz = codec.createOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("c.osm.bz2")))
    bz.write(doc(5, 6, 12).getBytes("UTF-8")); bz.close()

    val osm = graft.sources.OsmSource.read(spark,
      Seq(s"$dir/a.osm", s"$dir/b.osm.gz", s"$dir/c.osm.bz2"))
    try {
      assert(osm.nodes.count() == 6)
      import spark.implicits._
      assert(osm.ways.select($"id").as[Long].collect().toSet ==
        Set(10L, 11L, 12L))
    } finally osm.unpersistBacking()
  }

  test("one reader: every format yields the same frames, an .osc keeps " +
      "its actions, and one read caches once") {
    import graft.model.{OsmMember, OsmNode, OsmRelation, OsmWay}
    import graft.sources.{O5m, Opl, OsmPbf, OsmSource}
    import spark.implicits._
    val nodes = Seq(
      OsmNode(1, lon = 9.5312345, lat = 47.1234567,
        tags = Map("amenity" -> "cafe", "name" -> "Kaffee")),
      OsmNode(2, lon = 9.5323456, lat = 47.1245678),
      OsmNode(3, lon = -0.0000001, lat = -33.9999999,
        tags = Map("highway" -> "crossing")))
    val ways = Seq(
      OsmWay(10, nodes = Seq(1, 2, 3), tags = Map("highway" -> "path")),
      OsmWay(11, nodes = Seq(3, 1)))
    val rels = Seq(OsmRelation(20, members = Seq(OsmMember("w", 10, "outer"),
      OsmMember("n", 2, ""), OsmMember("w", 11, "inner")),
      tags = Map("type" -> "multipolygon")))
    val dir = java.nio.file.Files.createTempDirectory("graft-one-reader")
    def put(name: String, bytes: Array[Byte]): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.write(p, bytes)
      p.toString
    }
    val files = Seq(
      put("w.o5m", O5m.encode(nodes, ways, rels)),
      put("w.opl", Opl.render(nodes, ways, rels).getBytes("UTF-8")),
      put("w.osm.pbf", OsmPbf.encode(nodes, ways, rels)))
    val osc = put("c.osc",
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osmChange version="0.6">
        |<create><node id="4" version="1" lat="47.2" lon="9.6"/></create>
        |<modify><node id="1" version="2" lat="47.1" lon="9.5">
        |<tag k="amenity" v="bar"/></node></modify>
        |<delete><node id="2" version="2"/></delete>
        |</osmChange>""".stripMargin.getBytes("UTF-8"))

    val reads = (files :+ osc).map(p => OsmSource.read(spark, Seq(p)))
    try {
      // one schema per stream: names, types and nullability
      for (stream <- Seq[OsmXml.OsmDataFrames => DataFrame](
          _.nodes, _.ways, _.relations))
        assert(reads.map(r => stream(r).schema).distinct.size == 1)
      // the entity schema's non-nullable columns stay non-nullable, so
      // the stored parquet carries no definition levels for them
      assert(reads.head.nodes.schema.fields.tail.map(_.nullable).toSeq ==
        graft.model.OsmSchema.node.fields.map(_.nullable).toSeq)

      // the same rows from every world file, on the 1e-7 grid
      def grid(c: String) = round(col(c) * 1e7).cast("long")
      def rows(df: DataFrame, cols: Column*) =
        df.select(Seq($"action", $"id", $"visible", $"tags") ++ cols: _*)
          .collect().toSet
      val world = reads.take(3)
      for (r <- world.tail) {
        assert(rows(r.nodes, grid("lon"), grid("lat")) ==
          rows(world.head.nodes, grid("lon"), grid("lat")))
        assert(rows(r.ways, $"nodes") == rows(world.head.ways, $"nodes"))
        assert(rows(r.relations, $"members") ==
          rows(world.head.relations, $"members"))
      }
      assert(rows(world.head.nodes, grid("lon"), grid("lat")).size == 3)

      // the change file's sections survive as actions
      val change = reads.last.nodes.select($"id", $"action", $"visible")
        .as[(Long, String, Boolean)].collect().toSet
      assert(change == Set((4L, "create", true), (1L, "modify", true),
        (2L, "delete", false)))
    } finally reads.foreach(_.unpersistBacking())

    // a mixed-format read caches its decoded input once
    val before = spark.sparkContext.getPersistentRDDs.size
    val mixed = OsmSource.read(spark, files :+ osc)
    try {
      assert(spark.sparkContext.getPersistentRDDs.size == before + 1)
      assert(mixed.backing.size == 1)
      assert(mixed.nodes.count() == 3 * 3 + 3)
      assert(mixed.ways.count() == 3 * 2 && mixed.relations.count() == 3)
    } finally mixed.unpersistBacking()
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("wildcmp: the reference's wild_match vectors hold through cleanTags") {
    import graft.functions.TagFunctions
    // (pattern, text, expected) — test-wildcard-match.cpp verbatim
    val vectors = Seq(
      ("fhwieurwe", "fhwieurwe", true), ("fhwieurwe", "fhwieurw", false),
      ("fhwieurw", "fhwieurwe", false), ("*", "foo", true),
      ("**", "foo", true), ("r*", "foo", false), ("r*", "roo", true),
      ("*bar", "Hausbar", true), ("*bar", "Haustar", false),
      ("*", "", true), ("**", "", true), ("kin*la", "kinla", true),
      ("kin*la", "kinLLla", true), ("kin*la", "kinlalalala", true),
      ("kin**la", "kinlalalala", true), ("kin*la", "kinlaa", false),
      ("kin*la", "ki??laa", false), ("1*2*3", "123", true),
      ("1*2*3", "1xX23", true), ("1*2*3", "12y23", true),
      ("1*2*3", "12", false), ("bo??f", "boxxf", true),
      ("bo??f", "boxf", false), ("?5?", "?5?", true),
      ("?5?", "x5x", true), ("?abc", "", false), ("?", "", false))
    vectors.foreach { case (p, t, expected) =>
      assert(t.matches(TagFunctions.wildcardRegex(p)) == expected,
        s"wild_match('$p', '$t') should be $expected")
    }
    // end-to-end through the tag cleaner: a middle-star pattern (which
    // the old trailing-star-only logic could not express)
    val df = Seq(Map("kinLLla" -> "x", "kinlaa" -> "y", "other" -> "z"))
      .toDF("tags")
      .select(TagFunctions.cleanTags($"tags", Seq("kin*la")).as("t"))
    assert(df.as[Map[String, String]].head.keySet == Set("kinlaa", "other"))
  }

  test("deleteHit's one alternation regex equals the OR of one " +
      "wildcardRegex per pattern (generated keys and patterns)") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Prop.propBoolean
    import graft.functions.TagFunctions
    // regex metacharacters, the two wildcards and plain letters; no
    // line terminator, so an exact pattern's anchored regex is its
    // equality test
    val char = Gen.frequency(4 -> Gen.oneOf('a', 'b', 'c'),
      3 -> Gen.oneOf('.', '(', ')', '|', '\\', '[', '+', '$', '^', '{'),
      2 -> Gen.oneOf('?', '*'))
    val word = Gen.chooseNum(0, 6).flatMap(Gen.listOfN(_, char))
      .map(_.mkString)
    // a key a pattern matches: each wildcard replaced by text
    def instance(p: String): Gen[String] =
      Gen.sequence[List[String], String](p.toList.map {
        case '*' => word
        case '?' => char.map(_.toString)
        case c => Gen.const(c.toString)
      }).map(_.mkString)
    val prop = Prop.forAll(Gen.chooseNum(1, 5).flatMap(Gen.listOfN(_, word))) {
      patterns =>
        Prop.forAll(Gen.sequence[List[String], String](
          patterns.map(instance) ++ List.fill(6)(word))) { keys =>
          val got = keys.toDF("k").select(
            TagFunctions.deleteHit($"k", patterns),
            patterns.map(p => $"k".rlike(TagFunctions.wildcardRegex(p)))
              .reduce(_ || _))
            .as[(Boolean, Boolean)].collect()
          got.forall { case (combined, each) => combined == each } :|
            s"patterns ${patterns.mkString("[", ", ", "]")}: " +
              keys.zip(got).filter(x => x._2._1 != x._2._2)
                .map(_._1).mkString("keys [", ", ", "] differ")
        }
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(40)
        .withInitialSeed(org.scalacheck.rng.Seed(0x5eed_de1e_7e17L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("json coercion: non-finite doubles null out like the reference's writer") {
    import graft.flex.Coerce
    val df = Seq((Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.5))
      .toDF("a", "b", "c", "d")
      .select(Coerce.toJson(struct(
        Coerce.nullifyNonFinite($"a").as("a"),
        Coerce.nullifyNonFinite($"b").as("b"),
        Coerce.nullifyNonFinite($"c").as("c"),
        Coerce.nullifyNonFinite($"d").as("d"))).as("j"))
    // to_json drops null fields by default — absence == null here;
    // the finite value must survive untouched
    assert(df.as[String].head == """{"d":1.5}""")
  }

  test("dsn.feature: every accepted connection form maps to a JDBC URL") {
    assert(PgSink.jdbcUrlFromDsn("mydb") ==
      "jdbc:postgresql://localhost:5432/mydb")
    assert(PgSink.jdbcUrlFromDsn("dbname=mydb") ==
      "jdbc:postgresql://localhost:5432/mydb")
    assert(PgSink.jdbcUrlFromDsn("dbname=mydb host=db.example port=5433 user=u password=p") ==
      "jdbc:postgresql://db.example:5433/mydb?password=p&user=u")
    assert(PgSink.jdbcUrlFromDsn("postgresql:///mydb") ==
      "jdbc:postgresql://localhost:5432/mydb")
    assert(PgSink.jdbcUrlFromDsn("postgres:///mydb") ==
      "jdbc:postgresql://localhost:5432/mydb")
    assert(PgSink.jdbcUrlFromDsn("postgresql://u:p@h:5433/mydb?sslmode=require") ==
      "jdbc:postgresql://h:5433/mydb?user=u&password=p&sslmode=require")
  }
}
