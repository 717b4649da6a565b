package osmbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import graft.model.{OsmMember, OsmNode, OsmRelation, OsmWay}
import graft.sources.{O5m, OsmPbf}

/** What a fresh classic (default style) and flex import of the world
  * must produce, known from how the world was built. */
final case class Expected(pois: Long, roadWays: Long, roadClassWays: Long,
    buildings: Long, multipolygons: Long, routes: Long) {
  def classic: Map[String, Long] = Map(
    "point" -> pois,
    "line" -> (roadWays + routes),
    "polygon" -> (buildings + multipolygons),
    "roads" -> roadClassWays)
  def flex: Map[String, Long] = Map(
    "points" -> pois,
    "lines" -> roadWays,
    "areas" -> (buildings + multipolygons),
    "routes" -> routes)
}

/** The files one seed produces, and their sizes. */
final case class WorldFiles(pbf: Path, diffs: Seq[Path], after: Path,
    expected: Expected, nodes: Int, ways: Int, relations: Int,
    changesPerDiff: Seq[Int])

/** A seeded OSM world laid out on a grid, plus a chain of change files.
  *
  * Node (r, c) of a `side`×`side` grid has id `r*side + c + 1` and sits
  * on the 1e-7° OSM grid near 9.5°E 47.05°N, jittered by up to a tenth
  * of the spacing. Every sixth row and column is a street, cut into
  * ways of 16 nodes that share their end nodes, so crossing streets
  * share junction nodes. The 5×5 interior of each street block holds
  * up to four square buildings, or (one block in sixteen) a
  * multipolygon: an outer ring split over two ways around an inner
  * ring, the hole. Every third street row carries a bus route over 3
  * to 5 consecutive street ways with a stop at each. 3% of nodes are
  * points of interest, and 0.5% of street ways carry one node ref
  * that no node has.
  *
  * Each diff changes 0.1% of all entities, and at least 100. Half of
  * the changes are node moves, 40% of them on junctions and 20% on
  * multipolygon rings, so the update closure fans out. The rest are tag
  * edits, footway creates, building deletes and route member changes.
  * Diff k applies to the world left by diffs 1..k-1; `after` is the
  * world after all of them.
  */
final class World(seed: Long, side: Int) {
  import World._

  private val rnd = new SplittableRandom(seed)
  private val nNodes = side * side

  // nodes: coordinates in 1e-7° units, tags, versions
  private val lonU = new Array[Int](nNodes)
  private val latU = new Array[Int](nNodes)
  private val nodeTags = Array.fill[Map[String, String]](nNodes)(Map.empty)
  private val nodeVer = Array.fill(nNodes)(1)

  private final class Way(val id: Long, var nodes: Vector[Long],
      var tags: Map[String, String], var version: Int = 1,
      var deleted: Boolean = false)
  private final class Rel(val id: Long, var members: Vector[OsmMember],
      var tags: Map[String, String], var version: Int = 1)

  private val ways = mutable.ArrayBuffer.empty[Way]
  private val rels = mutable.ArrayBuffer.empty[Rel]
  private val buildingWays = mutable.ArrayBuffer.empty[Way]
  private val ringNodes = mutable.ArrayBuffer.empty[Int]
  private val junctions = mutable.ArrayBuffer.empty[Int]
  // street row → its horizontal ways, left to right (route extension)
  private val rowWays = mutable.Map.empty[Int, Vector[Way]]
  private val routeRels = mutable.ArrayBuffer.empty[Rel]

  private var pois, roadWays, roadClassWays, buildings, multipolygons = 0L

  private def nid(r: Int, c: Int): Long = r.toLong * side + c + 1
  private def idx(id: Long): Int = (id - 1).toInt
  private def pick[T](xs: collection.IndexedSeq[T]): T =
    xs(rnd.nextInt(xs.size))

  private def addWay(nodes: Vector[Long], tags: Map[String, String]): Way = {
    val w = new Way(ways.size + 1L, nodes, tags)
    ways += w
    w
  }

  build()

  private def build(): Unit = {
    for (r <- 0 until side; c <- 0 until side) {
      val i = r * side + c
      lonU(i) = OriginLon + c * Spacing + rnd.nextInt(2 * Jitter + 1) - Jitter
      latU(i) = OriginLat + r * Spacing + rnd.nextInt(2 * Jitter + 1) - Jitter
      if (r % Block == 0 && c % Block == 0) junctions += i
      if (rnd.nextDouble() < PoiShare) {
        val (k, v) = pick(PoiKinds)
        nodeTags(i) = Map(k -> v, "name" -> s"poi $i")
      }
    }
    def street(nodes: Vector[Long], s: Int): Way = {
      val cls = if (s % 10 == 5) "primary" else if (s % 5 == 2) "secondary"
        else "residential"
      val refs =
        if (rnd.nextDouble() < MissingRefShare)
          nodes.head +: (MissingRefBase + ways.size) +: nodes.tail
        else nodes
      val w = addWay(refs, Map("highway" -> cls, "name" -> s"street $s"))
      roadWays += 1
      if (cls != "residential") roadClassWays += 1
      w
    }
    def spans: Seq[Range] = (0 until side - 1 by WaySpan)
      .map(c0 => c0 to math.min(c0 + WaySpan, side - 1))
    for (r <- 0 until side by Block)
      rowWays(r) = spans.map(cs =>
        street(cs.map(nid(r, _)).toVector, r / Block)).toVector
    for (c <- 0 until side by Block; rs <- spans)
      street(rs.map(nid(_, c)).toVector, c / Block)

    for (r <- 0 until side - Block by Block;
         c <- 0 until side - Block by Block) {
      if (rnd.nextDouble() < MultipolygonShare) {
        // outer ring over the interior's border, split in two ways;
        // inner ring one step in: the hole
        def square(lo: Int, hi: Int): Vector[Long] =
          ((lo until hi).map(x => (lo, x)) ++ (lo until hi).map(y => (y, hi)) ++
            (hi until lo by -1).map(x => (hi, x)) ++
            (hi until lo by -1).map(y => (y, lo)) :+ ((lo, lo)))
            .map { case (y, x) => nid(r + y, c + x) }.toVector
        val outer = square(1, 5)
        val inner = square(2, 4)
        val half = outer.size / 2
        val wa = addWay(outer.take(half + 1), Map.empty)
        val wb = addWay(outer.drop(half), Map.empty)
        val wi = addWay(inner, Map.empty)
        (outer ++ inner).distinct.foreach(ringNodes += idx(_))
        val (k, v) = pick(AreaKinds)
        rels += new Rel(rels.size + 1L, Vector(
          OsmMember("w", wa.id, "outer"), OsmMember("w", wb.id, "outer"),
          OsmMember("w", wi.id, "inner")),
          Map("type" -> "multipolygon", k -> v, "name" -> s"area $r/$c"))
        multipolygons += 1
      } else {
        for ((a, b) <- Seq((1, 1), (1, 4), (4, 1), (4, 4))
             if rnd.nextDouble() < BuildingShare) {
          val sq = Vector((a, b), (a, b + 1), (a + 1, b + 1), (a + 1, b),
            (a, b)).map { case (y, x) => nid(r + y, c + x) }
          buildingWays += addWay(sq, Map("building" -> pick(BuildingKinds)))
          buildings += 1
        }
      }
    }

    for ((r, row) <- rowWays.toSeq.sortBy(_._1)
         if (r / Block) % 3 == 1 && row.size >= 5) {
      val len = 3 + rnd.nextInt(3)
      val k0 = rnd.nextInt(row.size - len + 1)
      val members = row.slice(k0, k0 + len)
      val stops = members.map(_.nodes.head)
      stops.foreach(s => nodeTags(idx(s)) =
        Map("highway" -> "bus_stop", "name" -> s"stop $s"))
      val rel = new Rel(rels.size + 1L,
        stops.map(OsmMember("n", _, "stop")) ++
          members.map(w => OsmMember("w", w.id, "")),
        Map("type" -> "route", "route" -> "bus", "ref" -> s"${r / Block}",
          "name" -> s"line ${r / Block}"))
      rels += rel
      routeRels += rel
    }
    pois = nodeTags.count(_.nonEmpty).toLong
  }

  val expected: Expected = Expected(pois, roadWays, roadClassWays, buildings,
    multipolygons, routeRels.size.toLong)
  val (initialNodes, initialWays, initialRels) = (nNodes, ways.size, rels.size)

  // ---------- snapshots as model rows ----------

  private def nodeRow(i: Int, visible: Boolean = true): OsmNode =
    if (!visible) OsmNode(i + 1L, version = nodeVer(i), visible = false)
    else OsmNode(i + 1L, version = nodeVer(i), lon = lonU(i) / 1e7,
      lat = latU(i) / 1e7, tags = nodeTags(i))
  private def wayRow(w: Way): OsmWay =
    if (w.deleted) OsmWay(w.id, version = w.version, visible = false)
    else OsmWay(w.id, version = w.version, nodes = w.nodes, tags = w.tags)
  private def relRow(r: Rel): OsmRelation = OsmRelation(r.id,
    version = r.version, members = r.members, tags = r.tags)

  /** The current world as a multi-block PBF. */
  def pbf: Array[Byte] = writePbf(
    (0 until nNodes).map(nodeRow(_)),
    ways.filterNot(_.deleted).map(wayRow).toSeq,
    rels.map(relRow).toSeq)

  // ---------- diffs ----------

  /** Apply one generated change set of `n` entities to the world and
    * return it as `.o5c` bytes. */
  def nextDiff(n: Int): Array[Byte] = {
    val chNodes = mutable.TreeMap.empty[Long, OsmNode]
    val chWays = mutable.TreeMap.empty[Long, OsmWay]
    val chRels = mutable.TreeMap.empty[Long, OsmRelation]
    def clamp(v: Int, base: Int): Int =
      math.max(base - MaxDrift, math.min(base + MaxDrift, v))
    def moveNode(i: Int): Unit = if (!chNodes.contains(i + 1L)) {
      val (r, c) = (i / side, i % side)
      lonU(i) = clamp(lonU(i) + rnd.nextInt(2 * Step + 1) - Step,
        OriginLon + c * Spacing)
      latU(i) = clamp(latU(i) + rnd.nextInt(2 * Step + 1) - Step,
        OriginLat + r * Spacing)
      nodeVer(i) += 1
      chNodes(i + 1L) = nodeRow(i)
    }
    def touchWay(w: Way): Unit = { w.version += 1; chWays(w.id) = wayRow(w) }
    var made = 0
    while (made < n) {
      val u = rnd.nextDouble()
      if (u < 0.2) moveNode(pick(junctions))
      else if (u < 0.3 && ringNodes.nonEmpty) moveNode(pick(ringNodes))
      else if (u < 0.5) moveNode(rnd.nextInt(nNodes))
      else if (u < 0.6) {
        val i = rnd.nextInt(nNodes)
        if (nodeTags(i).nonEmpty && !chNodes.contains(i + 1L)) {
          nodeTags(i) = nodeTags(i).updated("name", s"renamed ${nodeVer(i)}")
          nodeVer(i) += 1
          chNodes(i + 1L) = nodeRow(i)
        }
      } else if (u < 0.7) {
        val w = ways(rnd.nextInt(initialWays))
        if (!w.deleted && w.tags.contains("highway") && !chWays.contains(w.id)) {
          w.tags = w.tags.updated("name", s"renamed ${w.version}")
          touchWay(w)
        }
      } else if (u < 0.8) {
        // a footway across one block interior row
        val r = rnd.nextInt(side / Block) * Block + 3
        val c = rnd.nextInt(side / Block) * Block + 1
        if (r < side && c + 3 < side) {
          val w = addWay((c to c + 3).map(nid(r, _)).toVector,
            Map("highway" -> "footway"))
          chWays(w.id) = wayRow(w)
        }
      } else if (u < 0.9) {
        val live = buildingWays.filterNot(_.deleted)
        if (live.nonEmpty) {
          val w = pick(live)
          if (!chWays.contains(w.id)) { w.deleted = true; touchWay(w) }
        }
      } else if (routeRels.nonEmpty) {
        val rel = pick(routeRels)
        if (!chRels.contains(rel.id)) {
          val wayIds = rel.members.filter(_.mtype == "w").map(_.ref)
          val row = rowWays.values.find(_.exists(_.id == wayIds.head)).get
          val next = row.indexWhere(_.id == wayIds.last) + 1
          rel.members =
            if (next < row.size && rnd.nextBoolean())
              rel.members :+ OsmMember("w", row(next).id, "")
            else if (wayIds.size > 1)
              rel.members.filterNot(m => m.mtype == "w" && m.ref == wayIds.last)
            else rel.members
          rel.version += 1
          chRels(rel.id) = relRow(rel)
        }
      }
      made = chNodes.size + chWays.size + chRels.size
    }
    O5m.encode(chNodes.values.toSeq, chWays.values.toSeq, chRels.values.toSeq,
      change = true)
  }
}

object World {
  val Block = 6
  val WaySpan = 15
  val Spacing = 2000 // 1e-7° units: 0.0002°
  val Jitter = 200
  val Step = 150
  val MaxDrift = 500
  val OriginLon = 95000000
  val OriginLat = 470500000
  val PoiShare = 0.03
  val MissingRefShare = 0.005
  val MissingRefBase = 1000000000L
  val MultipolygonShare = 1.0 / 16
  val BuildingShare = 0.6
  val PbfBlockEntities = 8000
  val DiffShare = 0.001
  // enough changes that every kind of change is in every diff
  val MinChanges = 100

  private val PoiKinds = Vector("amenity" -> "cafe", "amenity" -> "bench",
    "shop" -> "bakery", "tourism" -> "viewpoint")
  private val AreaKinds = Vector("landuse" -> "forest", "natural" -> "water",
    "leisure" -> "park")
  private val BuildingKinds = Vector("yes", "house", "garage")

  /** A PBF file of blocks of at most [[PbfBlockEntities]] entities, one
    * `OsmPbf.encode` call per block with the header kept from the first. */
  def writePbf(nodes: Seq[OsmNode], ways: Seq[OsmWay],
      rels: Seq[OsmRelation]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def chunk(bytes: Array[Byte], keepHeader: Boolean): Unit = {
      val in = java.nio.ByteBuffer.wrap(bytes)
      val headerLen = in.getInt(0)
      val hdr = new OsmPbf.Pb(bytes.slice(4, 4 + headerLen))
      var dataLen = 0
      while (hdr.hasMore) hdr.tag() match {
        case (3, 0) => dataLen = hdr.varint().toInt
        case (_, w) => hdr.skip(w)
      }
      val skip = if (keepHeader) 0 else 4 + headerLen + dataLen
      out.write(bytes, skip, bytes.length - skip)
    }
    val blocks = nodes.grouped(PbfBlockEntities).map(encodeNodes) ++
      ways.grouped(PbfBlockEntities).map(OsmPbf.encode(Nil, _, Nil)) ++
      rels.grouped(PbfBlockEntities).map(OsmPbf.encode(Nil, Nil, _))
    blocks.zipWithIndex.foreach { case (b, i) => chunk(b, i == 0) }
    out.toByteArray
  }
  private def encodeNodes(ns: Seq[OsmNode]) = OsmPbf.encode(ns, Nil, Nil)

  /** Write the world, `diffs` change files and the post-diff world
    * under `dir`. */
  def generate(seed: Long, side: Int, diffs: Int, dir: Path): WorldFiles = {
    Files.createDirectories(dir)
    val w = new World(seed, side)
    val pbf = dir.resolve("world.osm.pbf")
    Files.write(pbf, w.pbf)
    val entities = w.initialNodes + w.initialWays + w.initialRels
    val n = math.max(MinChanges, math.round(entities * DiffShare).toInt)
    val diffPaths = (1 to diffs).map { k =>
      val p = dir.resolve(f"diff-$k%02d.o5c")
      Files.write(p, w.nextDiff(n))
      p
    }
    val after = dir.resolve("world-after.osm.pbf")
    Files.write(after, w.pbf)
    WorldFiles(pbf, diffPaths, after, w.expected, w.initialNodes,
      w.initialWays, w.initialRels, Seq.fill(diffs)(n))
  }
}
