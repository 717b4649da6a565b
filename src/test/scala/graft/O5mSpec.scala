package graft

import java.nio.file.{Files, Paths}

import graft.model.{OsmMember, OsmNode, OsmRelation, OsmWay}
import graft.sources.{O5m, OsmSource, OsmXml}

/** O5M binary codec (public o5m spec: delta varints, sign-in-lowest-bit
  * signed varints, 15000-entry string reference ring) + format
  * auto-detection (reference: src/input.cpp:307-336). */
class O5mSpec extends SparkSpecBase {

  private val nodes = Seq(
    OsmNode(1, version = 2, timestamp = 1420000000L, changeset = 900,
      uid = 42, user = "alice", lon = 9.1234567, lat = 50.7654321,
      tags = Map("amenity" -> "cafe", "name" -> "A")),
    OsmNode(2, version = 1, timestamp = 1420000060L, changeset = 900,
      uid = 42, user = "alice", lon = -120.5, lat = -45.25),
    OsmNode(700, version = 3, timestamp = 1419999999L, changeset = 901,
      uid = 7, user = "bob", lon = 0.0000001, lat = 0.0,
      tags = Map("name" -> "A")))
  private val ways = Seq(
    OsmWay(10, version = 1, timestamp = 1420000100L, changeset = 902,
      uid = 7, user = "bob", nodes = Seq(1L, 2L, 700L),
      tags = Map("highway" -> "residential")),
    OsmWay(11, version = 1, timestamp = 1420000100L, changeset = 902,
      uid = 7, user = "bob", nodes = Seq(700L, 2L)))
  private val rels = Seq(
    OsmRelation(5, version = 4, timestamp = 1420000200L, changeset = 903,
      uid = 42, user = "alice",
      members = Seq(OsmMember("w", 10, "outer"), OsmMember("w", 11, "inner"),
        OsmMember("n", 700, "admin_centre")),
      tags = Map("type" -> "multipolygon")))

  test("svarint / varuint byte-level spec vectors") {
    // spec: signed varint keeps the sign in bit 0 of the first byte,
    // 6 magnitude bits there, then 7-bit continuation groups
    def enc(vs: Seq[(Long, Seq[Int])]): Unit = vs.foreach { case (v, want) =>
      val n = OsmNode(v, version = 0, lon = 0, lat = 0)
      // encode just the svarint via a 1-node file: dataset payload
      // starts with svarint(id); header is fixed 11 bytes + type+len
      val bytes = O5m.encode(Seq(n), Nil, Nil)
      // 0xFF + 0xE0 + len + "o5m2" = 7 header bytes, then type + len
      val payloadStart = 7 + 2
      val got = bytes.slice(payloadStart, payloadStart + want.size)
        .map(_ & 0xff).toSeq
      assert(got == want, s"svarint($v)")
    }
    enc(Seq(
      5L -> Seq(0x0a),         // 5 → 0000101_0
      -3L -> Seq(0x05),        // -3 → n=2 → 000010_1
      64L -> Seq(0x80, 0x01),  // 6-bit overflow → continuation
      -65L -> Seq(0x81, 0x01)))
  }

  test("round trip: o5m encode → parse preserves every field") {
    val parsed = O5m.parseBytes(O5m.encode(nodes, ways, rels))
    assert(parsed.nodes.map(_._2) == nodes.toVector)
    assert(parsed.ways.map(_._2) == ways.toVector)
    assert(parsed.relations.map(_._2) == rels.toVector)
    assert(parsed.nodes.forall(_._1 == "create"))
    // lon/lat fixed-point survives exactly (1e-7 grid)
    assert(parsed.nodes.head._2.lon == 9.1234567)
    assert(parsed.nodes.head._2.lat == 50.7654321)
  }

  test("string table: repeated pairs are emitted as references") {
    // 3 distinct tag pairs + 1 repeat + repeated uid/user pairs: the
    // encoding with a working table must be smaller than a version
    // that inlines everything twice
    val bytes = O5m.encode(nodes, ways, rels)
    val doubled = O5m.encode(nodes ++ nodes.map(n => n.copy(id = n.id + 1000)),
      Nil, Nil)
    // the duplicated half reuses every string: grows by far less than 2×
    assert(doubled.length < bytes.length * 2)
    val parsed = O5m.parseBytes(doubled)
    assert(parsed.nodes.map(_._2.tags).count(_.nonEmpty) == 4)
    assert(parsed.nodes.map(_._2.user).distinct.sorted == Vector("alice", "bob"))
  }

  test("anonymous uid=0 with meta round-trips (empty-string encoding)") {
    // uid 0 must become an EMPTY uid string: a varuint(0) byte would be
    // a bare 0x00 inside the zero-terminated pair and corrupt framing
    val anon = OsmNode(1, version = 2, timestamp = 1420000000L,
      changeset = 5, uid = 0, user = "", lon = 1.0, lat = 2.0,
      tags = Map("k" -> "v"))
    val withUser = OsmNode(2, version = 1, timestamp = 1420000001L,
      changeset = 5, uid = 9, user = "x", lon = 1.0, lat = 2.0)
    val parsed = O5m.parseBytes(O5m.encode(Seq(anon, withUser), Nil, Nil))
    assert(parsed.nodes.map(_._2) == Vector(anon, withUser))
  }

  test("string-table limit is on content length, separator excluded") {
    // key+value of exactly 250 bytes must be table-eligible (the spec's
    // limit counts the strings, not the 0x00 separator): the repeat of
    // such a pair must come out as a reference, not re-inlined
    val k = "k" * 100
    val v = "v" * 150
    val ns = Seq(
      OsmNode(1, lon = 0, lat = 0, tags = Map(k -> v)),
      OsmNode(2, lon = 0, lat = 0, tags = Map(k -> v)))
    val bytes = O5m.encode(ns, Nil, Nil)
    val once = O5m.encode(ns.take(1), Nil, Nil)
    // second occurrence adds a handful of bytes (ref), not another 251
    assert(bytes.length < once.length + 20)
    assert(O5m.parseBytes(bytes).nodes.map(_._2) == ns.toVector)
  }

  test("o5c change file: delete markers and modify actions") {
    val del = OsmNode(2, version = 2, timestamp = 1420001000L,
      changeset = 950, uid = 42, user = "alice", visible = false)
    val mod = nodes.head.copy(version = 3, timestamp = 1420001000L)
    val bytes = O5m.encode(Seq(mod, del), Nil, Nil, change = true)
    val parsed = O5m.parseBytes(bytes)
    assert(parsed.nodes.map(_._1) == Vector("modify", "delete"))
    val d = parsed.nodes(1)._2
    assert(!d.visible && d.id == 2 && d.version == 2)
    assert(d.lon.isNaN && d.lat.isNaN)
  }

  test("reset datasets zero the delta state mid-file") {
    val a = O5m.encode(nodes, Nil, Nil)
    val b = O5m.encode(nodes.map(n => n.copy(id = n.id + 5)), Nil, Nil)
    // strip b's header (0xFF 0xE0 len "o5m2") but keep ITS reset byte
    // by re-adding one: a-without-EOF ++ 0xFF ++ b-body
    val glued = a.dropRight(1) ++ Array(0xff.toByte) ++ b.drop(2 + 1 + 4)
    val parsed = O5m.parseBytes(glued)
    assert(parsed.nodes.map(_._2.id) == Vector(1L, 2L, 700L, 6L, 7L, 705L))
    assert(parsed.nodes.map(_._2.user).distinct == Vector("alice", "bob"))
  }

  test("distributed read + format auto-detection dispatch") {
    val dir = Files.createTempDirectory("graft-o5m")
    val o5mPath = dir.resolve("a.o5m")
    Files.write(o5mPath, O5m.encode(nodes, ways, rels))
    // same content as XML for cross-format equivalence
    val xml = new StringBuilder("<osm>")
    nodes.foreach { n =>
      xml ++= s"""<node id="${n.id}" version="${n.version}" lat="${n.lat}" lon="${n.lon}" changeset="${n.changeset}" uid="${n.uid}" user="${n.user}" timestamp="${java.time.Instant.ofEpochSecond(n.timestamp)}">"""
      n.tags.foreach { case (k, v) => xml ++= s"""<tag k="$k" v="$v"/>""" }
      xml ++= "</node>"
    }
    xml ++= "</osm>"
    val xmlPath = dir.resolve("b.osm")
    Files.write(xmlPath, xml.toString.getBytes("UTF-8"))

    assert(OsmSource.sniff(Files.readAllBytes(o5mPath)) == "o5m")
    assert(OsmSource.sniff(Files.readAllBytes(xmlPath)) == "xml")
    assert(OsmSource.sniff("  <?xml?>".getBytes) == "xml")

    val dfs = OsmSource.read(spark,
      Seq(o5mPath.toString, xmlPath.toString))
    import org.apache.spark.sql.functions._
    // o5m nodes == xml nodes on every column (two identical copies)
    val byId = dfs.nodes.groupBy("id").count()
    assert(byId.where(col("count") =!= 2).count() == 0)
    // identical across formats → rows collapse (tags via json: map
    // columns can't be distinct'd directly)
    val cols = dfs.nodes.columns.filterNot(_ == "tags").map(col).toSeq
    val distinctRows = dfs.nodes
      .select(cols :+ to_json(col("tags")).as("t"): _*).distinct().count()
    assert(distinctRows == 3)
    assert(dfs.ways.count() == 2 && dfs.relations.count() == 1)
  }

  test("gzipped o5m reads transparently") {
    val dir = Files.createTempDirectory("graft-o5mgz")
    val p = dir.resolve("c.o5m.gz")
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(O5m.encode(nodes, Nil, Nil)); gz.close()
    Files.write(p, bos.toByteArray)
    assert(OsmSource.sniff(Files.readAllBytes(p)) == "o5m")
    val dfs = OsmSource.read(spark, Seq(p.toString))
    assert(dfs.nodes.count() == 3)
  }

  test("bzip2 o5m reads transparently (Hadoop pure-Java codec)") {
    val dir = Files.createTempDirectory("graft-o5mbz")
    val p = dir.resolve("d.o5m.bz2")
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(new org.apache.hadoop.conf.Configuration(false))
    val bos = new java.io.ByteArrayOutputStream()
    val out = codec.createOutputStream(bos)
    out.write(O5m.encode(nodes, ways, Nil)); out.close()
    Files.write(p, bos.toByteArray)
    assert(OsmSource.sniff(Files.readAllBytes(p)) == "o5m")
    // the path-based sniffer streams the decompressor over the file —
    // the shape that also works when the first bzip2 block is ~900 KB
    assert(OsmSource.sniffPath(p.toString) == "o5m")
    val dfs = OsmSource.read(spark, Seq(p.toString))
    assert(dfs.nodes.count() == 3 && dfs.ways.count() == 2)
  }

  test("compressed pbf is rejected loudly, not read as zero rows") {
    assume(Files.exists(Paths.get(
      "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf")))
    val dir = Files.createTempDirectory("graft-pbfgz")
    val p = dir.resolve("x.osm.pbf.gz")
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(Files.readAllBytes(Paths.get(
      "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf")))
    gz.close()
    Files.write(p, bos.toByteArray)
    val e = intercept[IllegalArgumentException] {
      OsmSource.sniffPath(p.toString)
    }
    assert(e.getMessage.contains("compressed .pbf"))
  }

  test("randomized round trips: delta extremes, unicode, big tables") {
    val rng = new scala.util.Random(17)
    def rstr(n: Int): String = {
      val pool = "abcXYZ äöü 漢字 :=&" + "é☃"
      Seq.fill(rng.nextInt(n) + 1)(pool(rng.nextInt(pool.length))).mkString
    }
    (1 to 20).foreach { trial =>
      var id = 0L
      val nodes = Vector.fill(rng.nextInt(40)) {
        id += rng.nextInt(1 << 20) + 1 // jumps exercise multi-byte deltas
        // ts == 0 means "no further meta" in the format, so changeset/
        // uid/user only survive a round trip alongside a timestamp
        val ts =
          if (rng.nextBoolean()) 1400000000L + rng.nextInt(1 << 28) else 0L
        val (cs, uid, user) =
          if (ts == 0) (0L, 0L, "")
          else (rng.nextInt(1 << 16).toLong, rng.nextInt(1 << 10).toLong,
            rstr(6))
        OsmNode(id, version = rng.nextInt(5) + 1, timestamp = ts,
          changeset = cs, uid = uid, user = user,
          lon = (rng.nextLong(3600000001L) - 1800000000L) / 1e7,
          lat = (rng.nextInt(1800000000) - 900000000) / 1e7,
          tags = Vector.fill(rng.nextInt(4))(rstr(8) -> rstr(12)).toMap)
      }
      var wid = id
      val ways = Vector.fill(rng.nextInt(10)) {
        wid += rng.nextInt(100) + 1
        OsmWay(wid, timestamp = 1400000000L, changeset = 1, uid = 2,
          user = "u",
          nodes = Vector.fill(rng.nextInt(20) + 2)(
            rng.nextLong(1L << 40) + 1), // wide refs → multi-byte deltas
          tags = Vector.fill(rng.nextInt(3))(rstr(6) -> rstr(6)).toMap)
      }
      val parsed = O5m.parseBytes(O5m.encode(nodes, ways, Nil))
      assert(parsed.nodes.map(_._2) == nodes, s"trial $trial nodes")
      assert(parsed.ways.map(_._2) == ways, s"trial $trial ways")
    }
  }

  test("pbf sniffing on the real regression fixture") {
    val pbf = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"
    if (Files.exists(Paths.get(pbf))) {
      val head = {
        val in = Files.newInputStream(Paths.get(pbf))
        try in.readNBytes(64) finally in.close()
      }
      assert(OsmSource.sniff(head) == "pbf")
    }
  }
}
