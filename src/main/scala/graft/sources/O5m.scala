package graft.sources

import scala.collection.mutable

import graft.model.{OsmMember, OsmNode, OsmRelation, OsmWay}

/** O5M / O5C binary OSM source + sink (reference: src/input.cpp:15
  * accepts .o5m via osmium::io::Reader; format described by the public
  * o5m spec on the OSM wiki).
  *
  * Format essentials implemented here:
  *  - datasets: 0xFF reset, 0xE0 header ("o5m2" | "o5c2"), 0x10 node,
  *    0x11 way, 0x12 relation, 0xDB bbox, 0xDC file timestamp,
  *    0xFE eof; every payload-carrying dataset is length-prefixed, so
  *    unknown types are skippable.
  *  - varuint: little-endian 7-bit groups, high bit = continuation.
  *  - signed varint: bit0 of the first byte is the sign
  *    (1 → -(n+1)), bits 1..6 are the low magnitude bits.
  *  - delta coding: ids, lon/lat, timestamps, changesets, way refs and
  *    per-type relation member refs each keep an independent running
  *    delta, zeroed by 0xFF reset datasets.
  *  - string table: inline strings/pairs ≤ 250 bytes enter a ring of
  *    15000; a non-zero varuint references the r-th most recent entry.
  *  - change files ("o5c2"): a dataset that ends right after the
  *    version info is a delete marker.
  *
  * [[OsmSource.read]] decodes one file per task ([[decompress]], then
  * [[parseBytes]]); the writer exists for round-trip tests and as a
  * compact sink for change streams.
  */
object O5m {

  // dataset type bytes
  private val Reset = 0xff
  private val Header = 0xe0
  private val NodeT = 0x10
  private val WayT = 0x11
  private val RelT = 0x12
  private val Bbox = 0xdb
  private val FileTs = 0xdc
  private val Eof = 0xfe

  private val MaxTableEntry = 250
  private val TableSize = 15000

  // ---------------- decoding ----------------

  private final class Reader(buf: Array[Byte]) {
    var pos = 0
    def hasNext: Boolean = pos < buf.length
    def u8(): Int = { val b = buf(pos) & 0xff; pos += 1; b }
    def varuint(): Long = {
      var shift = 0
      var v = 0L
      var b = u8()
      while ((b & 0x80) != 0) {
        v |= (b & 0x7fL) << shift; shift += 7; b = u8()
      }
      v | (b.toLong << shift)
    }
    def svarint(): Long = {
      val first = u8()
      val neg = (first & 1) != 0
      var v = (first >> 1) & 0x3fL
      if ((first & 0x80) != 0) {
        var shift = 6
        var b = u8()
        while ((b & 0x80) != 0) {
          v |= (b & 0x7fL) << shift; shift += 7; b = u8()
        }
        v |= b.toLong << shift
      }
      if (neg) -(v + 1) else v
    }
    def bytesUntilZero(): Array[Byte] = {
      val start = pos
      while (buf(pos) != 0) pos += 1
      val out = java.util.Arrays.copyOfRange(buf, start, pos)
      pos += 1 // consume the 0x00
      out
    }
  }

  private final class DeltaState {
    var nodeId, wayId, relId = 0L
    var lon, lat, ts, cs = 0L
    var wayRef = 0L
    val memberRef = Array(0L, 0L, 0L) // node, way, relation
    val table = new mutable.ArrayDeque[Array[Byte]]()
    def reset(): Unit = {
      nodeId = 0; wayId = 0; relId = 0; lon = 0; lat = 0; ts = 0; cs = 0
      wayRef = 0; memberRef(0) = 0; memberRef(1) = 0; memberRef(2) = 0
      table.clear()
    }
    /** `payloadLen` = length excluding pair separators: the spec's 250
      * limit is on the sum of the string contents, not the raw entry. */
    def remember(s: Array[Byte], payloadLen: Int): Unit =
      if (payloadLen <= MaxTableEntry) {
        table.prepend(s)
        if (table.size > TableSize) table.removeLast()
      }
    def lookup(ref: Long): Array[Byte] = table((ref - 1).toInt)
  }

  private def utf8(b: Array[Byte]): String =
    new String(b, java.nio.charset.StandardCharsets.UTF_8)

  /** A string-table "pair": two zero-separated byte strings. */
  private def readPair(r: Reader, st: DeltaState): (Array[Byte], Array[Byte]) = {
    val ref = r.varuint()
    if (ref != 0) {
      val e = st.lookup(ref)
      val cut = e.indexOf(0)
      (java.util.Arrays.copyOfRange(e, 0, cut),
        java.util.Arrays.copyOfRange(e, cut + 1, e.length))
    } else {
      val a = r.bytesUntilZero()
      val b = r.bytesUntilZero()
      st.remember(a ++ Array(0.toByte) ++ b, a.length + b.length)
      (a, b)
    }
  }

  /** A single-string table entry (relation member type+role). */
  private def readSingle(r: Reader, st: DeltaState): Array[Byte] = {
    val ref = r.varuint()
    if (ref != 0) st.lookup(ref)
    else {
      val a = r.bytesUntilZero()
      st.remember(a, a.length)
      a
    }
  }

  private final case class Meta(version: Int, ts: Long, cs: Long,
      uid: Long, user: String)

  private def readMeta(r: Reader, st: DeltaState): Meta = {
    val version = r.varuint().toInt
    if (version == 0) return Meta(1, 0, 0, 0, "")
    st.ts += r.svarint()
    if (st.ts == 0) return Meta(version, 0, 0, 0, "")
    st.cs += r.svarint()
    val (uidB, userB) = readPair(r, st)
    // uid part is itself a varuint byte sequence
    val uid = { val ur = new Reader(uidB :+ 0.toByte); ur.varuint() }
    Meta(version, st.ts, st.cs, uid, utf8(userB))
  }

  /** Parse a whole .o5m/.o5c byte array into the shared Parsed form;
    * actions are "create" for o5m, "modify"/"delete" for o5c. */
  def parseBytes(buf: Array[Byte]): OsmXml.Parsed = {
    val r = new Reader(buf)
    val st = new DeltaState
    var isChange = false
    val nodes = Vector.newBuilder[(String, OsmNode)]
    val ways = Vector.newBuilder[(String, OsmWay)]
    val rels = Vector.newBuilder[(String, OsmRelation)]

    var done = false
    while (!done && r.hasNext) {
      r.u8() match {
        case Reset => st.reset()
        case Eof   => done = true
        case Header =>
          val len = r.varuint().toInt
          val h = utf8(java.util.Arrays.copyOfRange(buf, r.pos, r.pos + len))
          isChange = h == "o5c2"
          if (h != "o5m2" && h != "o5c2")
            throw new IllegalArgumentException(s"not an o5m file: header '$h'")
          r.pos += len
        case NodeT =>
          val end = { val len = r.varuint(); (r.pos + len).toInt }
          st.nodeId += r.svarint()
          val meta = readMeta(r, st)
          val deleted = r.pos >= end
          var lon = Double.NaN
          var lat = Double.NaN
          if (!deleted) {
            st.lon += r.svarint(); st.lat += r.svarint()
            lon = st.lon / 1e7; lat = st.lat / 1e7
          }
          val tags = Map.newBuilder[String, String]
          while (r.pos < end) {
            val (k, v) = readPair(r, st); tags += (utf8(k) -> utf8(v))
          }
          val action =
            if (!isChange) "create" else if (deleted) "delete" else "modify"
          nodes += ((action, OsmNode(st.nodeId, meta.version, meta.ts,
            meta.cs, meta.uid, meta.user, visible = !deleted, lon, lat,
            tags.result())))
        case WayT =>
          val end = { val len = r.varuint(); (r.pos + len).toInt }
          st.wayId += r.svarint()
          val meta = readMeta(r, st)
          val deleted = r.pos >= end
          val nds = Vector.newBuilder[Long]
          if (!deleted) {
            val refsEnd = { val rl = r.varuint(); (r.pos + rl).toInt }
            while (r.pos < refsEnd) { st.wayRef += r.svarint(); nds += st.wayRef }
          }
          val tags = Map.newBuilder[String, String]
          while (r.pos < end) {
            val (k, v) = readPair(r, st); tags += (utf8(k) -> utf8(v))
          }
          val action =
            if (!isChange) "create" else if (deleted) "delete" else "modify"
          ways += ((action, OsmWay(st.wayId, meta.version, meta.ts, meta.cs,
            meta.uid, meta.user, visible = !deleted, nds.result(),
            tags.result())))
        case RelT =>
          val end = { val len = r.varuint(); (r.pos + len).toInt }
          st.relId += r.svarint()
          val meta = readMeta(r, st)
          val deleted = r.pos >= end
          val members = Vector.newBuilder[OsmMember]
          if (!deleted) {
            val refsEnd = { val rl = r.varuint(); (r.pos + rl).toInt }
            while (r.pos < refsEnd) {
              val d = r.svarint()
              val tr = readSingle(r, st)
              val tIdx = tr(0) - '0'
              st.memberRef(tIdx) += d
              val role = utf8(java.util.Arrays.copyOfRange(tr, 1, tr.length))
              members += OsmMember(Seq("n", "w", "r")(tIdx),
                st.memberRef(tIdx), role)
            }
          }
          val tags = Map.newBuilder[String, String]
          while (r.pos < end) {
            val (k, v) = readPair(r, st); tags += (utf8(k) -> utf8(v))
          }
          val action =
            if (!isChange) "create" else if (deleted) "delete" else "modify"
          rels += ((action, OsmRelation(st.relId, meta.version, meta.ts,
            meta.cs, meta.uid, meta.user, visible = !deleted,
            members.result(), tags.result())))
        case Bbox | FileTs =>
          val len = r.varuint(); r.pos += len.toInt
        case other =>
          // length-prefixed unknown dataset: skip per spec
          val len = r.varuint(); r.pos += len.toInt
      }
    }
    OsmXml.Parsed(nodes.result(), ways.result(), rels.result())
  }

  /** Transparently decompress a gzip or bzip2 payload (bzip2 via
    * Hadoop's pure-Java codec, already on the Spark classpath). */
  def decompress(raw: Array[Byte]): Array[Byte] =
    if (raw.length >= 2 && (raw(0) & 0xff) == 0x1f &&
      (raw(1) & 0xff) == 0x8b) {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(raw))
      try in.readAllBytes() finally in.close()
    } else if (raw.length >= 3 && raw(0) == 'B' && raw(1) == 'Z' &&
      raw(2) == 'h') {
      val codec = new org.apache.hadoop.io.compress.BZip2Codec()
      codec.setConf(new org.apache.hadoop.conf.Configuration(false))
      val in = codec.createInputStream(new java.io.ByteArrayInputStream(raw))
      try in.readAllBytes() finally in.close()
    } else raw

  // ---------------- encoding ----------------

  private final class Writer {
    val out = new java.io.ByteArrayOutputStream()
    def u8(b: Int): Unit = out.write(b)
    def varuint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def svarint(v: Long): Unit = {
      val sign = if (v < 0) 1 else 0
      var n = if (v < 0) -v - 1 else v
      var first = ((n & 0x3f) << 1 | sign).toInt
      n >>>= 6
      if (n != 0) first |= 0x80
      out.write(first)
      while (n != 0) {
        var b = (n & 0x7f).toInt
        n >>>= 7
        if (n != 0) b |= 0x80
        out.write(b)
      }
    }
    def bytes(): Array[Byte] = out.toByteArray
  }

  private final class EncState {
    var nodeId, wayId, relId = 0L
    var lon, lat, ts, cs = 0L
    var wayRef = 0L
    val memberRef = Array(0L, 0L, 0L)
    // O(1) reference lookup: key → insertion number; ref = distance
    // from the most recent insertion + 1. Entries older than TableSize
    // are unreferenceable and lazily evicted via the insertion queue —
    // the indexOf-over-a-deque alternative is quadratic on big files.
    private val index = mutable.HashMap.empty[collection.Seq[Byte], Long]
    private val order = mutable.ArrayDeque.empty[collection.Seq[Byte]]
    private var counter = 0L
    def refOf(s: Array[Byte]): Option[Long] =
      index.get(s.toSeq).collect {
        case n if counter - n + 1 <= TableSize => counter - n + 1
      }
    def remember(s: Array[Byte], payloadLen: Int): Unit =
      if (payloadLen <= MaxTableEntry) {
        val key = s.toSeq
        counter += 1
        index.put(key, counter)
        order.append(key)
        if (order.size > TableSize) {
          val old = order.removeHead()
          // drop only if not re-inserted more recently
          if (index.get(old).exists(n => counter - n + 1 > TableSize))
            index.remove(old)
        }
      }
  }

  private def writePair(w: Writer, st: EncState, a: Array[Byte],
      b: Array[Byte]): Unit = {
    val joined = a ++ Array(0.toByte) ++ b
    st.refOf(joined) match {
      case Some(ref) => w.varuint(ref)
      case None =>
        w.u8(0); w.out.write(a); w.u8(0); w.out.write(b); w.u8(0)
        st.remember(joined, a.length + b.length)
    }
  }

  private def writeSingle(w: Writer, st: EncState, s: Array[Byte]): Unit =
    st.refOf(s) match {
      case Some(ref) => w.varuint(ref)
      case None =>
        w.u8(0); w.out.write(s); w.u8(0)
        st.remember(s, s.length)
    }

  private def u(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def writeMeta(w: Writer, st: EncState, version: Int, ts: Long,
      cs: Long, uid: Long, user: String): Unit = {
    w.varuint(version.toLong)
    if (version == 0) return
    w.svarint(ts - st.ts); st.ts = ts
    if (ts == 0) return
    w.svarint(cs - st.cs); st.cs = cs
    // uid 0 (anonymous) must be an EMPTY first string: varuint(0) would
    // emit a lone 0x00, which the zero-terminated framing cannot hold
    val uidBytes =
      if (uid == 0) Array.empty[Byte]
      else { val uw = new Writer; uw.varuint(uid); uw.bytes() }
    writePair(w, st, uidBytes, u(user))
  }

  /** Encode entity streams to .o5m (or .o5c when `change`; visible=false
    * objects become delete markers). Entities must already be in the
    * mandated nodes→ways→relations, id-ascending order. */
  def encode(nodes: Seq[OsmNode], ways: Seq[OsmWay],
      rels: Seq[OsmRelation], change: Boolean = false): Array[Byte] = {
    val w = new Writer
    val st = new EncState
    w.u8(Reset)
    w.u8(Header)
    val h = if (change) "o5c2" else "o5m2"
    w.varuint(4); w.out.write(u(h))

    def dataset(t: Int)(body: Writer => Unit): Unit = {
      val bw = new Writer
      body(bw)
      val payload = bw.bytes()
      w.u8(t); w.varuint(payload.length.toLong); w.out.write(payload)
    }

    nodes.foreach { n =>
      dataset(NodeT) { bw =>
        bw.svarint(n.id - st.nodeId); st.nodeId = n.id
        writeMeta(bw, st, n.version, n.timestamp, n.changeset, n.uid, n.user)
        if (n.visible) {
          val li = math.round(n.lon * 1e7)
          val la = math.round(n.lat * 1e7)
          bw.svarint(li - st.lon); st.lon = li
          bw.svarint(la - st.lat); st.lat = la
          n.tags.foreach { case (k, v) => writePair(bw, st, u(k), u(v)) }
        }
      }
    }
    ways.foreach { way =>
      dataset(WayT) { bw =>
        bw.svarint(way.id - st.wayId); st.wayId = way.id
        writeMeta(bw, st, way.version, way.timestamp, way.changeset,
          way.uid, way.user)
        if (way.visible) {
          val rw = new Writer
          way.nodes.foreach { ref =>
            rw.svarint(ref - st.wayRef); st.wayRef = ref
          }
          val refs = rw.bytes()
          bw.varuint(refs.length.toLong); bw.out.write(refs)
          way.tags.foreach { case (k, v) => writePair(bw, st, u(k), u(v)) }
        }
      }
    }
    rels.foreach { rel =>
      dataset(RelT) { bw =>
        bw.svarint(rel.id - st.relId); st.relId = rel.id
        writeMeta(bw, st, rel.version, rel.timestamp, rel.changeset,
          rel.uid, rel.user)
        if (rel.visible) {
          val rw = new Writer
          rel.members.foreach { m =>
            val t = Seq("n", "w", "r").indexOf(m.mtype)
            rw.svarint(m.ref - st.memberRef(t)); st.memberRef(t) = m.ref
            writeSingle(rw, st, u(s"$t${m.role}"))
          }
          val refs = rw.bytes()
          bw.varuint(refs.length.toLong); bw.out.write(refs)
          rel.tags.foreach { case (k, v) => writePair(bw, st, u(k), u(v)) }
        }
      }
    }
    w.u8(Eof)
    w.bytes()
  }
}
