package graft.sources

import graft.model.{OsmMember, OsmNode, OsmRelation, OsmWay}

/** OPL ("object per line") source — the reference's `-r opl` input
  * (src/input.cpp:309-325 via osmium; format spec implemented from
  * contrib/libosmium/include/osmium/io/detail/opl_parser_functions.hpp).
  *
  * One object per text line: a type prefix (`n`/`w`/`r`/`c`), the id,
  * then single-letter sections in any order — `v`ersion, `d`eleted
  * flag (V/D), `c`hangeset, `t`imestamp, u`i`d, `u`ser, `T`ags
  * (k=v,k=v), node `x`/`y`, way `N`odes (n1,n2 with optional embedded
  * locations), relation `M`embers (type+id@role,…). Strings carry
  * osmium's percent escapes: `%hex%` appends the Unicode codepoint,
  * `%%` a literal percent (opl_parser_functions.hpp:141-180).
  *
  * Unlike XML/O5M (whole-file splits), OPL is line-delimited, so
  * [[OsmSource.read]] splits it within files and each split decodes
  * independently ([[parseLines]]) — at planet scale this is the one
  * text format where a single file parallelizes across every executor
  * with zero custom framing.
  * Changeset (`c`) lines parse and drop — the reference's handler
  * ignores them too.
  */
object Opl {

  /** Cursor over one line, mirroring the osmium parser's pointer
    * walk so error behavior matches (duplicate-attribute checks,
    * hex-escape bounds, unknown attributes). */
  private final class Cur(val s: String) {
    var i = 0
    def eol: Boolean = i >= s.length
    def peek: Char = if (eol) '\u0000' else s.charAt(i)
    def take(): Char = { val c = peek; i += 1; c }
    def err(msg: String): Nothing =
      throw new IllegalArgumentException(s"OPL error: $msg in line '$s'")

    def skipSpace(): Unit = while (!eol && (peek == ' ' || peek == '\t')) i += 1

    def parseLong(): Long = {
      val neg = peek == '-'
      if (neg) i += 1
      if (eol || !peek.isDigit) err("expected integer")
      var v = 0L
      while (!eol && peek.isDigit) { v = v * 10 + (take() - '0') }
      if (neg) -v else v
    }

    /** opl_parse_string: up to space/tab/comma/equals, %-unescaped. */
    def parseString(): String = {
      val b = new java.lang.StringBuilder
      var done = false
      while (!done) {
        if (eol || peek == ' ' || peek == '\t' || peek == ',' || peek == '=')
          done = true
        else if (peek == '%') { i += 1; parseEscaped(b) }
        else b.append(take())
      }
      b.toString
    }

    /** opl_parse_escaped: up to 8 hex chars then '%'; value 0 = '%'. */
    private def parseEscaped(b: java.lang.StringBuilder): Unit = {
      var value = 0L
      var length = 0
      while (length < 8) {
        if (eol) err("eol in hex escape")
        val c = take()
        if (c == '%') {
          if (value == 0) b.append('%')
          else b.appendCodePoint(value.toInt)
          return
        }
        val d = Character.digit(c, 16)
        if (d < 0) err("not a hex char")
        value = (value << 4) + d
        length += 1
      }
      err("hex escape too long")
    }

    def parseVisible(): Boolean = take() match {
      case 'V' => true
      case 'D' => false
      case _   => err("invalid visible flag")
    }

    def parseTimestamp(): Long = {
      if (eol || peek == ' ' || peek == '\t') 0L
      else {
        val end = math.min(i + 20, s.length)
        val t = s.substring(i, end)
        i = end
        try java.time.Instant.parse(t).getEpochSecond
        catch {
          case _: java.time.format.DateTimeParseException =>
            err("can not parse timestamp")
        }
      }
    }

    /** Section body: everything up to the next space/tab. */
    def section(): String = {
      val start = i
      while (!eol && peek != ' ' && peek != '\t') i += 1
      s.substring(start, i)
    }
  }

  private def parseTags(body: String, line: String): Map[String, String] = {
    if (body.isEmpty) return Map.empty
    val c = new Cur(body)
    val b = Map.newBuilder[String, String]
    var done = false
    while (!done) {
      val k = c.parseString()
      if (c.peek != '=') c.err(s"expected '='")
      c.i += 1
      val v = c.parseString()
      b += k -> v
      if (c.eol) done = true
      else if (c.peek == ',') c.i += 1
      else c.err("expected ','")
    }
    b.result()
  }

  private def parseWayNodes(body: String): Seq[Long] = {
    if (body.isEmpty) return Nil
    val c = new Cur(body)
    val b = Seq.newBuilder[Long]
    var done = false
    while (!done) {
      if (c.take() != 'n') c.err("expected 'n'")
      b += c.parseLong()
      // optional embedded location (x<lon>y<lat>) — ids only here,
      // coordinates come from the node store like every other reader
      while (!c.eol && c.peek != ',') c.i += 1
      if (c.eol) done = true else c.i += 1
    }
    b.result()
  }

  private def parseMembers(body: String): Seq[OsmMember] = {
    if (body.isEmpty) return Nil
    val c = new Cur(body)
    val b = Seq.newBuilder[OsmMember]
    var done = false
    while (!done) {
      val t = c.take()
      if (t != 'n' && t != 'w' && t != 'r') c.err("unknown object type")
      val ref = c.parseLong()
      if (c.peek != '@') c.err("expected '@'")
      c.i += 1
      val role = c.parseString()
      b += OsmMember(t.toString, ref, role)
      if (c.eol) done = true
      else if (c.peek == ',') c.i += 1
      else c.err("expected ','")
    }
    b.result()
  }

  /** Common single-letter attribute state for one line. */
  private final case class Attrs(
      version: Int = 1, visible: Boolean = true, changeset: Long = 0L,
      timestamp: Long = 0L, uid: Long = 0L, user: String = "",
      tags: Map[String, String] = Map.empty,
      lon: Double = Double.NaN, lat: Double = Double.NaN,
      nodes: Seq[Long] = Nil, members: Seq[OsmMember] = Nil)

  sealed trait Entity
  final case class N(action: String, n: OsmNode) extends Entity
  final case class W(action: String, w: OsmWay) extends Entity
  final case class R(action: String, r: OsmRelation) extends Entity
  case object Ignored extends Entity // changeset lines

  def parseLine(line: String): Entity = {
    val c = new Cur(line)
    val kind = c.take()
    if (kind != 'n' && kind != 'w' && kind != 'r' && kind != 'c')
      c.err("unknown type")
    val id = c.parseLong()
    var a = Attrs()
    val seen = scala.collection.mutable.Set.empty[Char]
    while (!c.eol) {
      c.skipSpace()
      if (!c.eol) {
        val f = c.take()
        if (!seen.add(f)) c.err(s"Duplicate attribute: ($f)")
        f match {
          case 'v' => a = a.copy(version = c.parseLong().toInt)
          case 'd' => a = a.copy(visible = c.parseVisible())
          case 'c' => a = a.copy(changeset = c.parseLong())
          case 't' => a = a.copy(timestamp = c.parseTimestamp())
          case 'i' => a = a.copy(uid = c.parseLong())
          case 'u' => a = a.copy(user = c.parseString())
          case 'T' => a = a.copy(tags = parseTags(c.section(), line))
          case 'x' if kind == 'n' =>
            a = a.copy(lon = if (c.eol || c.peek == ' ' || c.peek == '\t')
              Double.NaN else c.section().toDouble)
          case 'y' if kind == 'n' =>
            a = a.copy(lat = if (c.eol || c.peek == ' ' || c.peek == '\t')
              Double.NaN else c.section().toDouble)
          case 'N' if kind == 'w' =>
            a = a.copy(nodes = parseWayNodes(c.section()))
          case 'M' if kind == 'r' =>
            a = a.copy(members = parseMembers(c.section()))
          case 'k' | 's' | 'e' if kind == 'c' => c.section() // changeset-only
          case 'x' | 'y' | 'X' | 'Y' if kind == 'c' => c.section()
          case other => c.err(s"unknown attribute '$other'")
        }
      }
    }
    // no create/modify distinction in OPL — a visible=false object is
    // a deletion, everything else an upsert (matches the o5m reader's
    // convention for formats without change sections)
    val action = if (!a.visible) "delete" else "create"
    kind match {
      case 'n' => N(action, OsmNode(id, a.version, a.timestamp, a.changeset,
        a.uid, a.user, a.visible, a.lon, a.lat, a.tags))
      case 'w' => W(action, OsmWay(id, a.version, a.timestamp, a.changeset,
        a.uid, a.user, a.visible, a.nodes, a.tags))
      case 'r' => R(action, OsmRelation(id, a.version, a.timestamp,
        a.changeset, a.uid, a.user, a.visible, a.members, a.tags))
      case 'c' => Ignored
    }
  }

  // ---------- writer (the parser's exact inverse) ----------

  /** Percent-escape for OPL strings: everything the parser treats as
    * structure (space/tab terminators, ',' and '=' separators, '@',
    * '%' itself) plus control chars becomes `%hex%`; a literal '%'
    * is the parser's value-0 escape `%%`. */
  private def esc(s: String): String = {
    val b = new java.lang.StringBuilder
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp == '%') b.append("%%")
      else if (cp <= ' ' || cp == ',' || cp == '=' || cp == '@' ||
          cp == 0x7f)
        b.append('%').append(Integer.toHexString(cp)).append('%')
      else b.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    b.toString
  }

  /** Plain decimal at 1e-7 resolution (the OSM coordinate grid) —
    * never scientific notation, which `toDouble` would accept but
    * osmium would not emit. */
  private def coord(v: Double): String =
    if (v.isNaN) ""
    else java.math.BigDecimal.valueOf(math.round(v * 1e7), 7)
      .stripTrailingZeros.toPlainString

  private def common(b: java.lang.StringBuilder, version: Int,
      visible: Boolean, changeset: Long, timestamp: Long, uid: Long,
      user: String): Unit = {
    b.append(" v").append(version)
    b.append(" d").append(if (visible) 'V' else 'D')
    b.append(" c").append(changeset)
    b.append(" t")
    if (timestamp != 0L)
      b.append(java.time.format.DateTimeFormatter.ISO_INSTANT
        .format(java.time.Instant.ofEpochSecond(timestamp)))
    b.append(" i").append(uid)
    b.append(" u").append(esc(user))
  }

  private def tagsSection(b: java.lang.StringBuilder,
      tags: Map[String, String]): Unit = {
    b.append(" T")
    var first = true
    tags.foreach { case (k, v) =>
      if (!first) b.append(',')
      b.append(esc(k)).append('=').append(esc(v))
      first = false
    }
  }

  /** One OPL line per entity — `parseLine(renderNode(n))` gives `n`
    * back (and likewise for ways/relations), which is the writer's
    * whole contract (spec'd, including escape round-trips). */
  def renderNode(n: OsmNode): String = {
    val b = new java.lang.StringBuilder("n")
    b.append(n.id)
    common(b, n.version, n.visible, n.changeset, n.timestamp, n.uid, n.user)
    tagsSection(b, n.tags)
    b.append(" x").append(coord(n.lon))
    b.append(" y").append(coord(n.lat))
    b.toString
  }

  def renderWay(w: OsmWay): String = {
    val b = new java.lang.StringBuilder("w")
    b.append(w.id)
    common(b, w.version, w.visible, w.changeset, w.timestamp, w.uid, w.user)
    tagsSection(b, w.tags)
    b.append(" N")
    var first = true
    w.nodes.foreach { r =>
      if (!first) b.append(',')
      b.append('n').append(r)
      first = false
    }
    b.toString
  }

  def renderRelation(r: OsmRelation): String = {
    val b = new java.lang.StringBuilder("r")
    b.append(r.id)
    common(b, r.version, r.visible, r.changeset, r.timestamp, r.uid, r.user)
    tagsSection(b, r.tags)
    b.append(" M")
    var first = true
    r.members.foreach { m =>
      if (!first) b.append(',')
      b.append(m.mtype).append(m.ref).append('@').append(esc(m.role))
      first = false
    }
    b.toString
  }

  /** Whole-document render in the mandated global order (nodes, ways,
    * relations — src/input.cpp:24-55). */
  def render(nodes: Seq[OsmNode], ways: Seq[OsmWay],
      rels: Seq[OsmRelation]): String = {
    val b = new java.lang.StringBuilder
    nodes.foreach(n => b.append(renderNode(n)).append('\n'))
    ways.foreach(w => b.append(renderWay(w)).append('\n'))
    rels.foreach(r => b.append(renderRelation(r)).append('\n'))
    b.toString
  }

  /** Decode a run of lines (one split of a file) into the shared
    * action-tagged [[OsmXml.Parsed]] form; blank lines and changeset
    * lines are skipped. */
  def parseLines(lines: Iterator[String]): OsmXml.Parsed = {
    val nodes = Vector.newBuilder[(String, OsmNode)]
    val ways = Vector.newBuilder[(String, OsmWay)]
    val rels = Vector.newBuilder[(String, OsmRelation)]
    lines.filter(_.nonEmpty).map(parseLine).foreach {
      case N(a, n) => nodes += ((a, n))
      case W(a, w) => ways += ((a, w))
      case R(a, r) => rels += ((a, r))
      case Ignored => ()
    }
    OsmXml.Parsed(nodes.result(), ways.result(), rels.result())
  }
}
