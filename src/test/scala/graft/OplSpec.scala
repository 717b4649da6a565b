package graft

import java.nio.file.Files

import graft.sources.{Opl, OsmSource}

/** OPL source vectors, pinned against osmium's parser semantics
  * (contrib/libosmium/include/osmium/io/detail/opl_parser_functions.hpp
  * — the same parser the reference's own unit tests feed via
  * tests/common-buffer.hpp add_opl). */
class OplSpec extends SparkSpecBase {

  test("node line: attributes, escapes, coordinates") {
    val Opl.N(action, n) = Opl.parseLine(
      "n17 v3 dV c1234 t2020-01-02T03:04:05Z i42 uUser%20%Name " +
        "Thighway=primary,name=Main%20%St x8.5 y47.25")
    assert(action == "create")
    assert(n.id == 17 && n.version == 3 && n.changeset == 1234)
    assert(n.uid == 42 && n.user == "User Name")
    assert(n.timestamp ==
      java.time.Instant.parse("2020-01-02T03:04:05Z").getEpochSecond)
    assert(n.tags == Map("highway" -> "primary", "name" -> "Main St"))
    assert(n.lon == 8.5 && n.lat == 47.25)
  }

  test("escapes: %% literal, multi-digit codepoints, comma in value") {
    val Opl.N(_, n) = Opl.parseLine("n1 Ta=50%25%,b=x%2c%y,c=%1F600%")
    // value 0 → literal '%' (opl_parse_escaped: value==0 branch)
    assert(n.tags("a") == "50%")
    assert(n.tags("b") == "x,y")
    assert(n.tags("c") == new String(Character.toChars(0x1F600)))
  }

  test("negative ids, missing sections, empty coordinates") {
    val Opl.N(_, n) = Opl.parseLine("n-3 x1.5 y-2.5")
    assert(n.id == -3 && n.lon == 1.5 && n.lat == -2.5)
    val Opl.N(_, n2) = Opl.parseLine("n4 x y")
    assert(n2.lon.isNaN && n2.lat.isNaN)
    // empty timestamp is the null timestamp, not an error
    val Opl.N(_, n3) = Opl.parseLine("n5 t")
    assert(n3.timestamp == 0L)
  }

  test("way: node refs, embedded locations dropped") {
    val Opl.W(_, w) = Opl.parseLine(
      "w8 v2 Thighway=residential Nn1,n2x1.1y2.2,n3")
    assert(w.id == 8 && w.nodes == Seq(1L, 2L, 3L))
    assert(w.tags == Map("highway" -> "residential"))
  }

  test("relation: typed members with roles") {
    val Opl.R(_, r) = Opl.parseLine(
      "r5 Ttype=multipolygon Mw1@outer,w2@inner,n3@,r4@sub%20%area")
    assert(r.id == 5)
    assert(r.members.map(m => (m.mtype, m.ref, m.role)) == Seq(
      ("w", 1L, "outer"), ("w", 2L, "inner"), ("n", 3L, ""),
      ("r", 4L, "sub area")))
  }

  test("visibility: dD is a delete, changeset lines are ignored") {
    val Opl.N(action, _) = Opl.parseLine("n9 v2 dD")
    assert(action == "delete")
    assert(Opl.parseLine("c123 k1 s2020-01-01T00:00:00Z e2020-01-01T01:00:00Z")
      == Opl.Ignored)
  }

  test("errors match osmium's strictness") {
    def bad(line: String, msg: String): Unit = {
      val e = intercept[IllegalArgumentException](Opl.parseLine(line))
      assert(e.getMessage.contains(msg), s"line '$line': ${e.getMessage}")
    }
    bad("n1 v1 v2", "Duplicate attribute: (v)")
    bad("n1 q5", "unknown attribute")
    bad("x1", "unknown type")
    bad("n1 Ta=%zz%", "not a hex char")
    bad("n1 Ta=%123456789%", "hex escape too long")
    bad("n1 Ta=%41", "eol in hex escape")
    bad("n1 dX", "invalid visible flag")
    bad("n1 tnot-a-date", "can not parse timestamp")
    bad("w1 Nw2", "expected 'n'")
    bad("r1 Mx1@r", "unknown object type")
  }

  test("distributed read: line-split frames + format detection") {
    val dir = Files.createTempDirectory("opl")
    val f = dir.resolve("data.osm.opl")
    Files.writeString(f,
      """n1 v1 Tamenity=cafe x1.0 y2.0
        |n2 v1 x1.5 y2.5
        |n3 v1 dD
        |w10 v1 Thighway=path Nn1,n2
        |r20 v1 Ttype=route Mw10@
        |c99 k1
        |""".stripMargin)
    val osm = OsmSource.read(spark, Seq(f.toString), "opl")
    assert(osm.nodes.count() == 3)
    assert(osm.ways.count() == 1)
    assert(osm.relations.count() == 1)
    val deleted = osm.nodes.where("action = 'delete'")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(deleted == Seq(3L))
    val cafe = osm.nodes.where("id = 1").select("tags", "lon", "lat")
      .collect().head
    assert(cafe.getMap[String, String](0) == Map("amenity" -> "cafe"))
    assert(cafe.getDouble(1) == 1.0 && cafe.getDouble(2) == 2.0)

    // content sniff (no .opl suffix hint) and forced -r reader agree
    val unhinted = dir.resolve("mystery.dat")
    Files.copy(f, unhinted)
    val auto = OsmSource.read(spark, Seq(unhinted.toString))
    assert(auto.nodes.count() == 3 && auto.ways.count() == 1)
    val forced = OsmSource.read(spark, Seq(unhinted.toString), "opl")
    assert(forced.relations.count() == 1)

    // gzip: the sniffer looks through the compression layer and the
    // text source decompresses transparently
    val gz = dir.resolve("data.opl.gz")
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(gz))
    out.write(java.nio.file.Files.readAllBytes(f)); out.close()
    val zipped = OsmSource.read(spark, Seq(gz.toString))
    assert(zipped.nodes.count() == 3 && zipped.ways.count() == 1)
  }
}
