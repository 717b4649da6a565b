package graft.sources

import org.apache.spark.sql.SparkSession

import graft.model.{OsmMember, OsmNode, OsmRelation, OsmWay}

/** The reference's compact OSM text fixture DSL (used throughout
  * tests/bdd/ — e.g. regression/forward_dependencies.feature):
  *
  * {{{
  * n10 v1 x1.0 y1.0 Tnatural=tree
  * w20 v1 Nn10,n11,n12,n10 Tlanduse=forest
  * r30 v1 Mw22@,w23@outer Ttype=multipolygon,natural=water
  * }}}
  *
  * Token rules: `[nwr]<id>` head; `v<version>`; `dD`/`dV` visibility;
  * `x`/`y` coordinates; `N` comma-separated node refs (`n` prefixes
  * tolerated); `M` comma-separated members `<t><ref>@<role>`;
  * `T` comma-separated `k=v` tags. Implemented so the reference's BDD
  * scenarios can be ported as-is; a test fixture, built on the driver
  * (the program reads files through [[OsmSource.read]]).
  */
object OsmText {

  final case class Parsed(nodes: Vector[OsmNode], ways: Vector[OsmWay],
      relations: Vector[OsmRelation])

  /** osmium `%hex%` escapes in the fixture DSL, the same rule as OPL
    * strings (opl_parser_functions.hpp:141-180): `%XXXX%` appends the
    * Unicode code point, `%%` a literal percent
    * (tags.feature "special characters"). */
  private def unescape(s: String): String =
    if (!s.contains('%')) s
    else {
      val b = new java.lang.StringBuilder
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%') {
          val end = s.indexOf('%', i + 1)
          if (end < 0) { b.append(c); i += 1 }
          else {
            val hex = s.substring(i + 1, end)
            if (hex.isEmpty) b.append('%')
            else b.appendCodePoint(Integer.parseInt(hex, 16))
            i = end + 1
          }
        } else { b.append(c); i += 1 }
      }
      b.toString
    }

  def parse(text: String): Parsed = {
    val nodes = Vector.newBuilder[OsmNode]
    val ways = Vector.newBuilder[OsmWay]
    val rels = Vector.newBuilder[OsmRelation]

    text.linesIterator.map(_.trim).filter(_.nonEmpty).foreach { line =>
      val toks = line.split("\\s+").toList
      val head = toks.head
      val tpe = head.head
      val id = head.tail.toLong
      var version = 0 // osmium default when no v token
      var visible = true
      var x = Double.NaN
      var y = Double.NaN
      var changeset = 0L
      var uid = 0L
      var user = ""
      var ts = 0L
      var nds = Vector.empty[Long]
      var members = Vector.empty[OsmMember]
      var tags = Map.empty[String, String]
      toks.tail.foreach {
        case t if t.startsWith("v") && t.tail.forall(_.isDigit) =>
          version = t.tail.toInt
        case "dD" => visible = false
        case "dV" => visible = true
        case t if t.startsWith("c") && t.tail.forall(_.isDigit) =>
          changeset = t.tail.toLong
        case t if t.startsWith("i") && t.tail.forall(_.isDigit) =>
          uid = t.tail.toLong
        case t if t.startsWith("u") && !t.contains("=") =>
          user = unescape(t.tail)
        case t if t.startsWith("t") && t.contains("T") && t.contains(":") =>
          ts = java.time.Instant.parse(t.tail).getEpochSecond
        case t if t.startsWith("x") => x = t.tail.toDouble
        case t if t.startsWith("y") => y = t.tail.toDouble
        case t if t.startsWith("N") =>
          nds = t.tail.split(",").filter(_.nonEmpty)
            .map(_.dropWhile(!_.isDigit).toLong).toVector
        case t if t.startsWith("M") =>
          members = t.tail.split(",").filter(_.nonEmpty).map { m =>
            val at = m.indexOf('@')
            val refPart = if (at >= 0) m.take(at) else m
            val role = if (at >= 0) m.drop(at + 1) else ""
            OsmMember(refPart.head.toString, refPart.tail.toLong, role)
          }.toVector
        case t if t.startsWith("T") =>
          tags = t.tail.split(",").filter(_.contains("="))
            .map { kv =>
              val i = kv.indexOf('=')
              unescape(kv.take(i)) -> unescape(kv.drop(i + 1))
            }.toMap
        case _ => ()
      }
      tpe match {
        case 'n' => nodes += OsmNode(id, version, ts, changeset, uid,
          user, visible = visible, lon = x, lat = y, tags = tags)
        case 'w' => ways += OsmWay(id, version, ts, changeset, uid,
          user, visible = visible, nodes = nds, tags = tags)
        case 'r' => rels += OsmRelation(id, version, ts, changeset, uid,
          user, visible = visible, members = members, tags = tags)
        case other =>
          throw new IllegalArgumentException(s"bad entity type '$other'")
      }
    }
    Parsed(nodes.result(), ways.result(), rels.result())
  }

  /** Entity frames with an action column (create for base data,
    * modify/delete derived from visibility for change sets). */
  def toFrames(spark: SparkSession, text: String,
      change: Boolean = false): OsmXml.OsmDataFrames = {
    import spark.implicits._
    val p = parse(text)
    def act(visible: Boolean): String =
      if (!change) "create" else if (visible) "modify" else "delete"
    OsmXml.OsmDataFrames(
      p.nodes.map(n => (act(n.visible), n)).toDF("action", "n")
        .select($"action", $"n.*"),
      p.ways.map(w => (act(w.visible), w)).toDF("action", "w")
        .select($"action", $"w.*"),
      p.relations.map(r => (act(r.visible), r)).toDF("action", "r")
        .select($"action", $"r.*"))
  }
}
