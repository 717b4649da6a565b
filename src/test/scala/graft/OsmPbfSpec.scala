package graft

import org.apache.spark.sql.functions._

import graft.sources.{OsmPbf, OsmSource}

/** PBF decoder against the reference's own regression extract
  * (tests/data/liechtenstein-2013-08-03.osm.pbf): structural and
  * geographic sanity — entity counts, ordering invariant, coordinates
  * inside the Liechtenstein bbox, way-ref resolvability. */
class OsmPbfSpec extends SparkSpecBase {
  import spark.implicits._

  private val path = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"

  test("blob scan finds header + data blobs") {
    val spans = OsmPbf.scanBlobs(path)
    assert(spans.head.blobType == "OSMHeader")
    assert(spans.count(_.blobType == "OSMData") >= 1)
  }

  test("per-callback entity counts (lua-callbacks.feature goldens)") {
    // the reference invokes process_* for tagged objects only
    // (untagged ones go to process_untagged_*); its own golden for
    // this extract is 1562 / 7105 / 113 — the file holds 16 untagged
    // ways on top of that
    val osm = OsmSource.read(spark, Seq(path))
    assert(osm.nodes.where(size($"tags") > 0).count() == 1562L)
    assert(osm.ways.where(size($"tags") > 0).count() == 7105L)
    assert(osm.relations.where(size($"tags") > 0).count() == 113L)
  }

  test("decode: counts, bbox, ordering, ref integrity") {
    val osm = OsmSource.read(spark, Seq(path))
    val nNodes = osm.nodes.count()
    val nWays = osm.ways.count()
    val nRels = osm.relations.count()
    // the 2013 extract holds 65k nodes / 6k ways (decode correctness is
    // pinned exactly by ClassicRegressionSpec's golden counts)
    assert(nNodes == 65733L, s"nodes=$nNodes")
    assert(nWays > 5000, s"ways=$nWays")
    assert(nRels > 100, s"rels=$nRels")

    // Liechtenstein + surroundings bbox
    val coords = osm.nodes.agg(
      min($"lon"), max($"lon"), min($"lat"), max($"lat"))
      .as[(Double, Double, Double, Double)].head()
    assert(coords._1 > 9.0 && coords._2 < 10.0, s"lon range $coords")
    assert(coords._3 > 46.5 && coords._4 < 47.6, s"lat range $coords")

    // global ordering invariant: ids ascending within each stream
    assert(graft.sources.Validate.orderingViolations(
      osm.nodes.select("id")).isEmpty)
    assert(graft.sources.Validate.orderingViolations(
      osm.ways.select("id")).isEmpty)

    // tags decoded: some nodes have names
    assert(osm.nodes.where(map_keys($"tags").isNotNull &&
      array_contains(map_keys($"tags"), "name")).count() > 100)

    // way refs resolve against the node store (middle join works):
    // in a clipped extract some boundary ways reference clipped nodes,
    // but the overwhelming majority must resolve
    val refs = osm.ways.select(explode($"nodes").as("ref"))
    val resolved = refs.join(osm.nodes.select($"id".as("ref")), Seq("ref"),
      "left_semi").count()
    assert(resolved.toDouble / refs.count() > 0.99)
  }

  // ---- protobuf wire-format edge cases (hand-crafted messages) ----

  private def vint(n: Long): Array[Byte] = {
    val out = Array.newBuilder[Byte]
    var v = n
    while ((v & ~0x7fL) != 0) { out += ((v & 0x7f) | 0x80).toByte; v >>>= 7 }
    out += v.toByte
    out.result()
  }
  private def zz(n: Long): Long = (n << 1) ^ (n >> 63)
  private def keyed(field: Int, wire: Int): Array[Byte] =
    vint((field << 3) | wire)
  private def msg(field: Int, body: Array[Byte]): Array[Byte] =
    keyed(field, 2) ++ vint(body.length) ++ body

  test("unpacked (wire 0) repeated scalars decode like packed") {
    // way 42 with refs 100, 101 (delta 100, +1)
    def wayBlock(refsBytes: Array[Byte]): Array[Byte] = {
      val way = keyed(1, 0) ++ vint(42) ++ refsBytes
      val st = msg(1, "".getBytes("UTF-8"))
      msg(1, st) ++ msg(2, msg(3, way))
    }
    val packed = wayBlock(msg(8, vint(zz(100)) ++ vint(zz(1))))
    val unpacked = wayBlock(
      keyed(8, 0) ++ vint(zz(100)) ++ keyed(8, 0) ++ vint(zz(1)))
    val wp = OsmPbf.decodeBlock(packed).ways
    val wu = OsmPbf.decodeBlock(unpacked).ways
    assert(wp.size == 1 && wu.size == 1)
    assert(wp.head.nodes == Seq(100L, 101L))
    assert(wu.head.nodes == wp.head.nodes)
    assert(wu.head.id == 42L)
  }

  test("known field with wrong wire type fails loudly") {
    // way refs (field 8) framed as fixed64 (wire 1) — corrupt framing
    val way = keyed(1, 0) ++ vint(42) ++ keyed(8, 1) ++
      Array.fill[Byte](8)(0)
    val block = msg(1, msg(1, "".getBytes("UTF-8"))) ++ msg(2, msg(3, way))
    val e = intercept[IllegalArgumentException] {
      OsmPbf.decodeBlock(block)
    }
    assert(e.getMessage.contains("unexpected wire type"))
  }

  test("truncated zlib blob fails fast instead of spinning") {
    val raw = Array.fill[Byte](4096)(7)
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val buf = new Array[Byte](8192)
    val n = deflater.deflate(buf)
    deflater.end()
    val truncated = java.util.Arrays.copyOfRange(buf, 0, n / 2)
    // Blob { raw_size(2)=4096, zlib_data(3)=truncated }
    val blob = keyed(2, 0) ++ vint(4096) ++ msg(3, truncated)
    val header = msg(1, "OSMData".getBytes("UTF-8")) ++
      keyed(3, 0) ++ vint(blob.length)
    val framed = java.nio.ByteBuffer.allocate(4).putInt(header.length)
      .array() ++ header ++ blob
    val f = java.io.File.createTempFile("graft-corrupt", ".osm.pbf")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, framed)
    val spans = OsmPbf.scanBlobs(f.getPath)
    assert(spans.size == 1 && spans.head.blobType == "OSMData")
    intercept[java.util.zip.ZipException] {
      OsmPbf.readBlob(spans.head)
    }
  }
}
