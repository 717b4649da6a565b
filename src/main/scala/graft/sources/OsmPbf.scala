package graft.sources

import java.io.DataInputStream
import java.nio.charset.StandardCharsets
import java.util.zip.Inflater

import graft.model.{OsmMember, OsmNode, OsmRelation, OsmWay}

/** OSM PBF reader — a from-scratch decoder for the public PBF format
  * (wiki.openstreetmap.org/wiki/PBF_Format: fileformat.proto /
  * osmformat.proto), the format the reference reads via libosmium
  * (src/input.cpp:15).
  *
  * Two layers:
  *  - [[Pb]]: a minimal protobuf wire-format reader (varint, zigzag,
  *    length-delimited, packed repeated) — no protobuf dependency;
  *  - blob framing: [4-byte BE length][BlobHeader][Blob], each Blob an
  *    independently-decompressible unit of ≤8k entities.
  *
  * Distribution model ([[OsmSource.read]]): the driver scans ONLY the
  * blob framing (a few bytes per ~64KB blob) to build an
  * (offset, length) split list, then executors fetch + decode their
  * blobs in parallel, one task per blob. Scales to planet files: the
  * driver touches O(#blobs) bytes, decode is embarrassingly parallel.
  */
object OsmPbf {

  // ---------- minimal protobuf wire reader ----------

  final class Pb(val buf: Array[Byte], var pos: Int, val end: Int) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length)

    def hasMore: Boolean = pos < end

    def varint(): Long = {
      var shift = 0; var result = 0L
      var b = 0
      do {
        b = buf(pos) & 0xff; pos += 1
        result |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      result
    }

    def zigzag(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1) }

    /** returns (fieldNumber, wireType) */
    def tag(): (Int, Int) = {
      val t = varint().toInt
      (t >>> 3, t & 7)
    }

    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => val len = varint().toInt; pos += len
      case 5 => pos += 4
      case w => throw new IllegalArgumentException(s"wire type $w")
    }

    /** known field, wrong wire type: corrupt/mis-framed input — fail
      * instead of silently skipping (dropping e.g. a way's refs). */
    def badWire(msg: String, field: Int, wireType: Int): Nothing =
      throw new IllegalArgumentException(
        s"$msg field $field has unexpected wire type $wireType")

    def bytes(): Array[Byte] = {
      val len = varint().toInt
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + len)
      pos += len
      out
    }

    def string(): String = new String(bytes(), StandardCharsets.UTF_8)

    /** sub-message view without copying */
    def message(): Pb = {
      val len = varint().toInt
      val m = new Pb(buf, pos, pos + len)
      pos += len
      m
    }

    def packedVarints(): Array[Long] = {
      val m = message()
      val out = Array.newBuilder[Long]
      while (m.hasMore) out += m.varint()
      out.result()
    }

    def packedZigzags(): Array[Long] = {
      val m = message()
      val out = Array.newBuilder[Long]
      while (m.hasMore) out += m.zigzag()
      out.result()
    }
  }

  private def inflate(data: Array[Byte], rawSize: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new Array[Byte](rawSize)
    var off = 0
    try {
      while (off < rawSize && !inf.finished()) {
        val n = inf.inflate(out, off, rawSize - off)
        // inflate()==0 with more output expected means the stream is
        // truncated/corrupt (needsInput/needsDictionary) — fail instead
        // of spinning.
        if (n == 0)
          throw new java.util.zip.ZipException(
            s"truncated or corrupt zlib blob: $off of $rawSize bytes " +
              s"inflated (needsInput=${inf.needsInput}, " +
              s"needsDictionary=${inf.needsDictionary})")
        off += n
      }
      out
    } finally inf.end()
  }

  // ---------- blob framing ----------

  final case class BlobSpan(path: String, offset: Long, headerLen: Int,
      dataLen: Int, blobType: String)

  /** Driver-side split discovery: read only the framing. */
  def scanBlobs(path: String): Seq[BlobSpan] = {
    val in = new DataInputStream(new java.io.BufferedInputStream(
      new java.io.FileInputStream(path)))
    val spans = Seq.newBuilder[BlobSpan]
    var offset = 0L
    try {
      while (true) {
        val headerLen = in.readInt() // throws EOFException at end
        val headerBytes = new Array[Byte](headerLen)
        in.readFully(headerBytes)
        val h = new Pb(headerBytes)
        var blobType = ""; var dataLen = 0
        while (h.hasMore) h.tag() match {
          case (1, 2) => blobType = h.string()
          case (3, 0) => dataLen = h.varint().toInt
          case (_, w) => h.skip(w)
        }
        spans += BlobSpan(path, offset + 4 + headerLen, headerLen, dataLen,
          blobType)
        in.skipBytes(dataLen)
        offset += 4 + headerLen + dataLen
      }
    } catch { case _: java.io.EOFException => () }
    in.close()
    spans.result()
  }

  /** OSMHeader metadata (osmformat.proto HeaderBlock): the
    * osmosis_replication_* fields (32/33/34) the reference's
    * `osm2pgsql-replication init --osm-file` reads to seed the update
    * loop, plus required features for capability checks. */
  final case class PbfHeader(
      requiredFeatures: Seq[String],
      optionalFeatures: Seq[String],
      writingProgram: Option[String],
      replicationTimestamp: Option[java.time.Instant],
      replicationSequence: Option[Long],
      replicationBaseUrl: Option[String])

  /** Parse the file's OSMHeader blob (driver-side: one small blob). */
  def readHeader(path: String): PbfHeader = {
    val span = scanBlobs(path).find(_.blobType == "OSMHeader")
      .getOrElse(throw new IllegalArgumentException(
        s"$path has no OSMHeader blob"))
    val h = new Pb(readBlob(span))
    val req = Seq.newBuilder[String]
    val opt = Seq.newBuilder[String]
    var prog: Option[String] = None
    var ts: Option[java.time.Instant] = None
    var seq: Option[Long] = None
    var url: Option[String] = None
    while (h.hasMore) h.tag() match {
      case (4, 2)  => req += h.string()
      case (5, 2)  => opt += h.string()
      case (16, 2) => prog = Some(h.string())
      case (32, 0) => ts = Some(java.time.Instant.ofEpochSecond(h.varint()))
      case (33, 0) => seq = Some(h.varint())
      case (34, 2) => url = Some(h.string())
      case (_, w)  => h.skip(w)
    }
    PbfHeader(req.result(), opt.result(), prog, ts, seq, url)
  }

  /** Executor-side: fetch + decompress one blob's PrimitiveBlock. */
  def readBlob(span: BlobSpan): Array[Byte] = {
    val raf = new java.io.RandomAccessFile(span.path, "r")
    val data = new Array[Byte](span.dataLen)
    raf.seek(span.offset)
    raf.readFully(data)
    raf.close()
    val b = new Pb(data)
    var raw: Array[Byte] = null
    var zlib: Array[Byte] = null
    var rawSize = -1
    while (b.hasMore) b.tag() match {
      case (1, 2) => raw = b.bytes()
      case (2, 0) => rawSize = b.varint().toInt
      case (3, 2) => zlib = b.bytes()
      case (_, w) => b.skip(w)
    }
    if (raw != null) raw
    else if (zlib != null) inflate(zlib, rawSize)
    else throw new IllegalArgumentException(
      "unsupported blob compression (only raw/zlib)")
  }

  // ---------- PrimitiveBlock decode ----------

  final case class Entities(nodes: Vector[OsmNode], ways: Vector[OsmWay],
      relations: Vector[OsmRelation])

  def decodeBlock(block: Array[Byte]): Entities = {
    val b = new Pb(block)
    var strings = Vector.empty[String]
    var granularity = 100L
    var latOffset = 0L
    var lonOffset = 0L
    val groups = Vector.newBuilder[Pb]
    while (b.hasMore) b.tag() match {
      case (1, 2) => // string table
        val st = b.message()
        val sb = Vector.newBuilder[String]
        while (st.hasMore) st.tag() match {
          case (1, 2) => sb += st.string()
          case (_, w) => st.skip(w)
        }
        strings = sb.result()
      case (2, 2)  => groups += b.message()
      case (17, 0) => granularity = b.varint()
      case (19, 0) => latOffset = b.varint()
      case (20, 0) => lonOffset = b.varint()
      case (_, w)  => b.skip(w)
    }
    def coord(offset: Long, v: Long): Double =
      1e-9 * (offset + granularity * v)

    val nodes = Vector.newBuilder[OsmNode]
    val ways = Vector.newBuilder[OsmWay]
    val rels = Vector.newBuilder[OsmRelation]

    groups.result().foreach { g =>
      while (g.hasMore) g.tag() match {
        case (1, 2) => // plain Node
          val n = g.message()
          var id = 0L; var lat = 0L; var lon = 0L
          var keys = Array.empty[Long]; var vals = Array.empty[Long]
          // Repeated scalars: accept both packed (wire 2) chunks and
          // spec-legal unpacked (wire 0) single values, appending each.
          while (n.hasMore) n.tag() match {
            case (1, 0) => id = n.zigzag()
            case (2, 2) => keys = keys ++ n.packedVarints()
            case (2, 0) => keys = keys :+ n.varint()
            case (3, 2) => vals = vals ++ n.packedVarints()
            case (3, 0) => vals = vals :+ n.varint()
            case (8, 0) => lat = n.zigzag()
            case (9, 0) => lon = n.zigzag()
            case (_, w) => n.skip(w)
          }
          nodes += OsmNode(id, lon = coord(lonOffset, lon),
            lat = coord(latOffset, lat),
            tags = keys.zip(vals).map { case (k, v) =>
              strings(k.toInt) -> strings(v.toInt)
            }.toMap)
        case (2, 2) => // DenseNodes
          val d = g.message()
          var ids = Array.empty[Long]
          var lats = Array.empty[Long]; var lons = Array.empty[Long]
          var kvs = Array.empty[Long]
          while (d.hasMore) d.tag() match {
            case (1, 2)  => ids = ids ++ d.packedZigzags()
            case (1, 0)  => ids = ids :+ d.zigzag()
            case (8, 2)  => lats = lats ++ d.packedZigzags()
            case (8, 0)  => lats = lats :+ d.zigzag()
            case (9, 2)  => lons = lons ++ d.packedZigzags()
            case (9, 0)  => lons = lons :+ d.zigzag()
            case (10, 2) => kvs = kvs ++ d.packedVarints()
            case (10, 0) => kvs = kvs :+ d.varint()
            case (f @ (1 | 8 | 9 | 10), w) => d.badWire("DenseNodes", f, w)
            case (_, w)  => d.skip(w)
          }
          var id = 0L; var lat = 0L; var lon = 0L; var kv = 0
          var i = 0
          while (i < ids.length) {
            id += ids(i); lat += lats(i); lon += lons(i)
            val tags = Map.newBuilder[String, String]
            while (kv < kvs.length && kvs(kv) != 0) {
              tags += (strings(kvs(kv).toInt) -> strings(kvs(kv + 1).toInt))
              kv += 2
            }
            kv += 1 // the 0 separator
            nodes += OsmNode(id, lon = coord(lonOffset, lon),
              lat = coord(latOffset, lat), tags = tags.result())
            i += 1
          }
        case (3, 2) => // Way
          val wmsg = g.message()
          var id = 0L
          var keys = Array.empty[Long]; var vals = Array.empty[Long]
          var refs = Array.empty[Long]
          while (wmsg.hasMore) wmsg.tag() match {
            case (1, 0) => id = wmsg.varint()
            case (2, 2) => keys = keys ++ wmsg.packedVarints()
            case (2, 0) => keys = keys :+ wmsg.varint()
            case (3, 2) => vals = vals ++ wmsg.packedVarints()
            case (3, 0) => vals = vals :+ wmsg.varint()
            case (8, 2) => refs = refs ++ wmsg.packedZigzags()
            case (8, 0) => refs = refs :+ wmsg.zigzag()
            case (f @ (2 | 3 | 8), w) => wmsg.badWire("Way", f, w)
            case (_, w) => wmsg.skip(w)
          }
          var acc = 0L
          val nds = refs.map { d => acc += d; acc }
          ways += OsmWay(id, nodes = nds.toSeq,
            tags = keys.zip(vals).map { case (k, v) =>
              strings(k.toInt) -> strings(v.toInt)
            }.toMap)
        case (4, 2) => // Relation
          val r = g.message()
          var id = 0L
          var keys = Array.empty[Long]; var vals = Array.empty[Long]
          var roles = Array.empty[Long]; var memids = Array.empty[Long]
          var types = Array.empty[Long]
          while (r.hasMore) r.tag() match {
            case (1, 0)  => id = r.varint()
            case (2, 2)  => keys = keys ++ r.packedVarints()
            case (2, 0)  => keys = keys :+ r.varint()
            case (3, 2)  => vals = vals ++ r.packedVarints()
            case (3, 0)  => vals = vals :+ r.varint()
            case (8, 2)  => roles = roles ++ r.packedVarints()
            case (8, 0)  => roles = roles :+ r.varint()
            case (9, 2)  => memids = memids ++ r.packedZigzags()
            case (9, 0)  => memids = memids :+ r.zigzag()
            case (10, 2) => types = types ++ r.packedVarints()
            case (10, 0) => types = types :+ r.varint()
            case (f @ (2 | 3 | 8 | 9 | 10), w) => r.badWire("Relation", f, w)
            case (_, w)  => r.skip(w)
          }
          var acc = 0L
          val members = memids.indices.map { i =>
            acc += memids(i)
            OsmMember(types(i) match {
              case 0 => "n"; case 1 => "w"; case _ => "r"
            }, acc, strings(roles(i).toInt))
          }
          rels += OsmRelation(id, members = members,
            tags = keys.zip(vals).map { case (k, v) =>
              strings(k.toInt) -> strings(v.toInt)
            }.toMap)
        case (_, w) => g.skip(w)
      }
    }
    Entities(nodes.result(), ways.result(), rels.result())
  }

  // ---------- encoder (decodeBlock's exact inverse) ----------

  /** Minimal protobuf writer — the mirror of [[Pb]]: varints,
    * zigzags, length-delimited fields, packed repeated scalars. */
  private final class PbW {
    val out = new java.io.ByteArrayOutputStream()
    def varint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7fL) != 0) {
        out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7
      }
      out.write(x.toInt)
    }
    def zz(v: Long): Long = (v << 1) ^ (v >> 63)
    def key(field: Int, wire: Int): Unit = varint((field << 3) | wire)
    def int(field: Int, v: Long): Unit = { key(field, 0); varint(v) }
    def bytes(field: Int, b: Array[Byte]): Unit = {
      key(field, 2); varint(b.length.toLong); out.write(b)
    }
    def str(field: Int, s: String): Unit =
      bytes(field, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def msg(field: Int, m: PbW): Unit = bytes(field, m.out.toByteArray)
    def packedVarints(field: Int, vs: Seq[Long]): Unit =
      if (vs.nonEmpty) {
        val p = new PbW; vs.foreach(p.varint); msg(field, p)
      }
    def packedZigzagDeltas(field: Int, vs: Seq[Long]): Unit =
      if (vs.nonEmpty) {
        val p = new PbW
        var prev = 0L
        vs.foreach { v => p.varint(zz(v - prev)); prev = v }
        msg(field, p)
      }
  }

  /** String-table builder: index 0 is the mandated empty string. */
  private final class StringTable {
    private val idx = scala.collection.mutable.LinkedHashMap("" -> 0L)
    def id(s: String): Long = idx.getOrElseUpdate(s, idx.size.toLong)
    def write(block: PbW): Unit = {
      val st = new PbW
      idx.keys.foreach(st.str(1, _))
      block.msg(1, st)
    }
  }

  private def frameBlob(fileType: String, payload: Array[Byte],
      out: java.io.DataOutputStream): Unit = {
    val blob = new PbW
    blob.bytes(1, payload)       // raw (readBlob handles raw + zlib)
    blob.int(2, payload.length.toLong)
    val blobBytes = blob.out.toByteArray
    val header = new PbW
    header.str(1, fileType)
    header.int(3, blobBytes.length.toLong)
    val headerBytes = header.out.toByteArray
    out.writeInt(headerBytes.length)
    out.write(headerBytes)
    out.write(blobBytes)
  }

  /** Encode a full .osm.pbf file: OSMHeader blob, then one OSMData
    * PrimitiveBlock per entity kind (DenseNodes / Way / Relation
    * messages, default granularity 100, coordinates on the 1e-7 OSM
    * grid). Carries what [[decodeBlock]] reads back — ids, coords,
    * tags, refs, members; metadata is out of this reader/writer
    * pair's scope by design (see the reader note above). Raw blobs
    * (no zlib): framing stays seekable/splittable either way and the
    * spec round-trips byte-decoded equality, not file size. */
  def encode(nodes: Seq[OsmNode], ways: Seq[OsmWay],
      rels: Seq[OsmRelation]): Array[Byte] = {
    val bout = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bout)
    val hdr = new PbW
    hdr.str(4, "OsmSchema-V0.6")
    hdr.str(4, "DenseNodes")
    hdr.str(16, "graft")
    frameBlob("OSMHeader", hdr.out.toByteArray, out)

    def grid(v: Double): Long =
      if (v.isNaN) 0L else math.round(v * 1e7)

    if (nodes.nonEmpty) {
      val block = new PbW
      val st = new StringTable
      // kvs first: id assignment must precede the table write
      val kvs = nodes.flatMap(n =>
        n.tags.toSeq.flatMap { case (k, v) =>
          Seq(st.id(k), st.id(v)) } :+ 0L)
      val dense = new PbW
      dense.packedZigzagDeltas(1, nodes.map(_.id))
      dense.packedZigzagDeltas(8, nodes.map(n => grid(n.lat)))
      dense.packedZigzagDeltas(9, nodes.map(n => grid(n.lon)))
      dense.packedVarints(10, kvs)
      st.write(block)
      val grp = new PbW
      grp.msg(2, dense)
      block.msg(2, grp)
      frameBlob("OSMData", block.out.toByteArray, out)
    }
    if (ways.nonEmpty) {
      val block = new PbW
      val st = new StringTable
      val grp = new PbW
      ways.foreach { w =>
        val m = new PbW
        val kv = w.tags.toSeq
        m.int(1, w.id)
        m.packedVarints(2, kv.map(p => st.id(p._1)))
        m.packedVarints(3, kv.map(p => st.id(p._2)))
        m.packedZigzagDeltas(8, w.nodes)
        grp.msg(3, m)
      }
      st.write(block)
      block.msg(2, grp)
      frameBlob("OSMData", block.out.toByteArray, out)
    }
    if (rels.nonEmpty) {
      val block = new PbW
      val st = new StringTable
      val grp = new PbW
      rels.foreach { r =>
        val m = new PbW
        val kv = r.tags.toSeq
        m.int(1, r.id)
        m.packedVarints(2, kv.map(p => st.id(p._1)))
        m.packedVarints(3, kv.map(p => st.id(p._2)))
        m.packedVarints(8, r.members.map(mm => st.id(mm.role)))
        m.packedZigzagDeltas(9, r.members.map(_.ref))
        m.packedVarints(10, r.members.map(_.mtype match {
          case "n" => 0L; case "w" => 1L; case _ => 2L
        }))
        grp.msg(4, m)
      }
      st.write(block)
      block.msg(2, grp)
      frameBlob("OSMData", block.out.toByteArray, out)
    }
    out.flush()
    bout.toByteArray
  }
}
