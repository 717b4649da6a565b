package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.cli.{Main, Options}
import graft.model.{OsmMember, OsmNode, OsmRelation, OsmWay}
import graft.sources.{O5m, Opl}

/** The incremental-view-maintenance invariant of the classic append,
  * on generated worlds: a `--slim` import followed by `-a --slim -e 16`
  * over two chained diffs leaves the four tables and the middle equal
  * to a fresh import of the post-diff world, row for row. Base, diffs
  * and post-diff world of one seed go through the same decoder, so
  * coordinates compare exactly.
  *
  * Every `Main.run` here must also leave the context holding no more
  * cached RDDs than before it. */
class AppendIvmSpec extends SparkSpecBase {
  import AppendIvmSpec._

  private def persistentRdds: Int = spark.sparkContext.getPersistentRDDs.size

  /** `Main.run`, asserting it released every cache it made. */
  private def runMain(args: String*): Unit = {
    val before = persistentRdds
    Main.run(spark, Options.parse(args))
    assert(persistentRdds <= before,
      s"Main.run ${args.mkString(" ")} left cached RDDs behind")
  }

  /** Maps become sorted entry arrays: set operations need comparable
    * columns. */
  private def comparable(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name))).as(f.name)
        case _ => col(f.name)
      }
    }.toIndexedSeq: _*)

  private def assertSame(what: String, got: DataFrame,
      want: DataFrame): Unit = {
    val g = comparable(got)
    val w = comparable(want.select(got.columns.map(col).toIndexedSeq: _*))
    val extra = g.exceptAll(w).count()
    val missing = w.exceptAll(g).count()
    assert(extra == 0 && missing == 0, s"$what: $extra rows only in the " +
      s"output under test, $missing only in the reference")
  }

  /** `flags(dir)` are given to the import, both appends and the fresh
    * import alike. */
  private def ivm(seed: Long, format: String,
      flags: Path => Seq[String] = _ => Nil): Unit = {
    val dir = Files.createTempDirectory(s"graft-ivm-$seed")
    try {
      val opts = flags(dir)
      val world = new GridWorld(seed)
      val base = world.write(dir, "base", format)
      val diffs = (1 to 2).map(k => world.writeDiff(dir, s"diff$k", format))
      val after = world.write(dir, "after", format)
      val out = dir.resolve("out").toString
      val fresh = dir.resolve("fresh").toString

      runMain(opts ++ Seq("--slim", "--output-dir", out, base.toString): _*)
      diffs.foreach(d => runMain(opts ++ Seq("-a", "--slim", "-e", "16",
        "--output-dir", out, d.toString): _*))
      runMain(opts ++ Seq("--slim", "--output-dir", fresh,
        after.toString): _*)

      def read(root: String, name: String) =
        spark.read.parquet(s"$root/$name")
      Seq("point", "line", "polygon", "roads").foreach { t =>
        val got = read(out, s"planet_osm_$t")
        assert(got.count() > 0, s"$t table is empty")
        assertSame(s"$t table", got, read(fresh, s"planet_osm_$t"))
      }
      Seq("nodes", "ways", "relations").foreach { s =>
        assertSame(s"middle $s", read(out, s"middle/$s"),
          read(fresh, s"middle/$s"))
      }
      val staged = new java.io.File(out).list().filter(_.endsWith("_new"))
      assert(staged.isEmpty, s"staging left behind: ${staged.mkString(", ")}")
      assert(Files.size(dir.resolve("out/dirty_tiles.txt")) > 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("append of two diffs equals a fresh import (seed 1, o5m/o5c)") {
    ivm(1, "o5m")
  }
  test("append of two diffs equals a fresh import (seed 2, o5m/o5c)") {
    ivm(2, "o5m")
  }
  test("append of two diffs equals a fresh import (seed 3, opl)") {
    ivm(3, "opl")
  }

  test("an append re-derives through the import's Lua tag transform " +
      "and derivation options (seed 4, o5m/o5c)") {
    ivm(4, "o5m", dir => Seq("--tag-transform-script",
      Files.writeString(dir.resolve("style.lua"), LuaStyle).toString,
      "-G", "--reproject-area"))
  }

  // the import materializes its derivation once and every sink reads
  // the stored rows, and the append re-derives through the same entry
  // point; the lazy plan is the independent reference for both
  for (seed <- 1 to 3)
    test(s"the --slim import's tables equal the lazy derivation " +
        s"(seed $seed)") {
      val dir = Files.createTempDirectory(s"graft-import-$seed")
      try {
        val base = new GridWorld(seed).write(dir, "base", "o5m")
        val out = dir.resolve("out").toString
        runMain("--slim", "--output-dir", out, base.toString)
        val osm = graft.sources.OsmSource.read(spark, Seq(base.toString),
          "auto")
        try {
          val lazyT = graft.classic.ClassicPipeline.run(osm,
            graft.classic.StyleFile.defaultStyle)
          Seq("point" -> lazyT.point, "line" -> lazyT.line,
            "polygon" -> lazyT.polygon, "roads" -> lazyT.roads).foreach {
            case (t, want) =>
              val got = spark.read.parquet(s"$out/planet_osm_$t")
              assert(got.count() > 0, s"$t table is empty")
              assertSame(s"$t table", got, want)
          }
        } finally osm.unpersistBacking()
      } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }

  /** The parquet part files of each classic table under `out`. */
  private def partFiles(out: Path): Map[String, Int] =
    Seq("point", "line", "polygon", "roads").map { t =>
      t -> new java.io.File(out.resolve(s"planet_osm_$t").toString).list()
        .count(f => f.startsWith("part-") && f.endsWith(".parquet"))
    }.toMap

  test("chained appends write no table with more part files than the " +
      "import wrote") {
    val dir = Files.createTempDirectory("graft-ivm-parts")
    try {
      val world = new GridWorld(7)
      val base = world.write(dir, "base", "o5m")
      val diffs = (1 to 3).map(k => world.writeDiff(dir, s"diff$k", "o5m"))
      val out = dir.resolve("out")
      runMain("--slim", "--output-dir", out.toString, base.toString)
      val imported = partFiles(out)
      diffs.zipWithIndex.foreach { case (d, k) =>
        runMain("-a", "--slim", "--output-dir", out.toString, d.toString)
        val now = partFiles(out)
        assert(now.forall { case (t, n) => n <= imported(t) },
          s"after append ${k + 1}: part files $now, after the import " +
            s"$imported")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("the closure, the restriction and the deletes broadcast the " +
      "change: no sort-merge join, and no shuffle of the stored middle " +
      "or a previous table") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec,
      SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import graft.classic.{ClassicPipeline, ClassicUpdate, StyleFile}
    import graft.model.OsmSchema
    import graft.sources.OsmXml.OsmDataFrames

    // the plan as first planned: the broadcasts must be decided before
    // anything runs, not by AQE after it shuffled
    def children(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case other => other.children
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap(nodes)
    // the scans an operator reads without a join or another exchange
    // between them
    def fedBy(p: SparkPlan): Seq[SparkPlan] = children(p).flatMap {
      case _: Exchange => Nil
      case j if j.nodeName.contains("Join") => Nil
      case leaf if children(leaf).isEmpty => Seq(leaf)
      case c => fedBy(c)
    }

    val dir = Files.createTempDirectory("graft-ivm-plans")
    try {
      val world = new GridWorld(8)
      val base = world.write(dir, "base", "o5m")
      val diff = world.writeDiff(dir, "diff1", "o5m")
      val out = dir.resolve("out").toString
      runMain("--slim", "--output-dir", out, base.toString)
      val before = OsmDataFrames(
        spark.read.schema(OsmSchema.node).parquet(s"$out/middle/nodes"),
        spark.read.schema(OsmSchema.way).parquet(s"$out/middle/ways"),
        spark.read.schema(OsmSchema.relation)
          .parquet(s"$out/middle/relations"))
      val changes = graft.sources.OsmSource.read(spark, Seq(diff.toString),
        "auto")
      val after = ClassicUpdate.mergeOnce(before, changes)
      val stored = after.backing.map(_.id).toSet
      def large(scan: SparkPlan): Boolean = scan match {
        case r: RDDScanExec => stored.contains(r.rdd.id)
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("planet_osm_"))
        case _ => false
      }
      def check(what: String, df: DataFrame, joins: Boolean): Unit = {
        val plan = nodes(df.queryExecution.executedPlan)
        if (joins) assert(!plan.exists(_.isInstanceOf[SortMergeJoinExec]),
          s"$what has a sort-merge join:\n${df.queryExecution.executedPlan}")
        val shuffled = plan.collect { case e: Exchange => e }
          .flatMap(fedBy).filter(large)
        assert(shuffled.isEmpty, s"$what exchanges $shuffled:\n" +
          df.queryExecution.executedPlan)
      }
      try {
        check("the closure", ClassicUpdate.closure(after, changes),
          joins = true)
        val style = StyleFile.defaultStyle
        val delta = ClassicUpdate.deltaOn(after, changes, style)
        try {
          val restricted = ClassicPipeline.run(after, style,
            subset = ClassicPipeline.Subset(Some(delta.changedNodes),
              Some(delta.pendingWays), Some(delta.pendingRels)))
          Seq("point" -> restricted.point, "line" -> restricted.line,
            "polygon" -> restricted.polygon).foreach { case (t, df) =>
            check(s"the re-derived $t rows", df, joins = false)
          }
          val r = delta.rederived
          val Seq(point, line, polygon, roads) = Seq("point" -> r.point,
            "line" -> r.line, "polygon" -> r.polygon, "roads" -> r.roads)
            .map { case (t, like) =>
              spark.read.schema(like.schema).parquet(s"$out/planet_osm_$t")
            }
          val updated = ClassicUpdate.applyDelta(
            ClassicPipeline.Tables4(point, line, polygon, roads), delta)
          Seq("point" -> updated.point, "line" -> updated.line,
            "polygon" -> updated.polygon, "roads" -> updated.roads)
            .foreach { case (t, df) =>
              check(s"the updated $t table", df, joins = true)
            }
        } finally delta.unpersistBacking()
      } finally {
        after.unpersistBacking()
        changes.unpersistBacking()
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Every file under `root`, by relative path, with its bytes. */
  private def files(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
      root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  test("a failing append leaves every output as it was, stages nothing " +
      "and releases its jobs and caches") {
    val dir = Files.createTempDirectory("graft-ivm-fail")
    try {
      val world = new GridWorld(5)
      val base = world.write(dir, "base", "o5m")
      val diff = world.writeDiff(dir, "diff1", "o5m")
      val out = dir.resolve("out")
      runMain("--slim", "--output-dir", out.toString, base.toString)
      Files.writeString(out.resolve("dirty_tiles.txt"), "16/34500/23000\n")
      org.apache.commons.io.FileUtils.deleteDirectory(
        out.resolve("planet_osm_roads").toFile)
      val kept = files(out)
      val cached = persistentRdds
      intercept[Exception](Main.run(spark, Options.parse(Seq("-a",
        "--slim", "-e", "16", "--output-dir", out.toString, diff.toString))))
      val now = files(out)
      val added = now.keySet -- kept.keySet
      val removed = kept.keySet -- now.keySet
      assert(added.isEmpty && removed.isEmpty, "files added: " +
        s"${added.mkString(", ")}; files removed: ${removed.mkString(", ")}")
      val changed = kept.keys.filter(k => now(k) != kept(k))
      assert(changed.isEmpty, s"files changed: ${changed.mkString(", ")}")
      assert(persistentRdds <= cached, "the failed append left cached RDDs")
      // the status tracker hears of job ends asynchronously
      val tracker = spark.sparkContext.statusTracker
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (tracker.getActiveJobIds().nonEmpty &&
          System.nanoTime() < deadline) Thread.sleep(20)
      assert(tracker.getActiveJobIds().isEmpty,
        "the failed append left a Spark job running")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("every job of an append carries a job description") {
    val dir = Files.createTempDirectory("graft-ivm-described")
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    try {
      val world = new GridWorld(6)
      val base = world.write(dir, "base", "o5m")
      val diff = world.writeDiff(dir, "diff1", "o5m")
      val out = dir.resolve("out").toString
      runMain("--slim", "--output-dir", out, base.toString)
      sc.addSparkListener(listener)
      runMain("-a", "--slim", "-e", "16", "--output-dir", out, diff.toString)
      // the bus delivers in order: once the marker job arrives, every
      // job of the append has
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1)).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains("marker"))
    } finally {
      sc.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
    val jobs = seen.asScala.toSeq.filter(_ != "marker")
    assert(jobs.nonEmpty)
    assert(!jobs.contains(""),
      s"${jobs.count(_.isEmpty)} of ${jobs.size} jobs carry no description")
    assert(jobs.forall(_.startsWith("append")), jobs.distinct.mkString("; "))
    Seq("write planet_osm_line", "write middle ways", "expire",
      "properties").foreach(b => assert(jobs.exists(_.endsWith(b)),
        s"no job of branch '$b' in ${jobs.distinct.mkString("; ")}"))
  }

  test("a flex import releases the caches it made") {
    val dir = Files.createTempDirectory("graft-ivm-flex")
    try {
      val base = new GridWorld(4).write(dir, "base", "o5m")
      runMain("-O", "flex", "-S", "graft.flex.examples.PoisAndHighways",
        "--output-dir", dir.resolve("out").toString, base.toString)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}

object AppendIvmSpec {

  /** A seeded world on a `Side`×`Side` node grid near 9.5°E 47.05°N
    * (1e-7° units, jittered). Every sixth row and column is a street
    * cut into ways of seven nodes that share their end nodes, so
    * crossing streets share junction nodes; one street carries a node
    * ref no node has. Each 5×5 block interior holds a multipolygon
    * (outer ring over two ways around an inner ring) or up to four
    * square buildings. A bus route runs over three ways of row 6 with
    * a stop at each; 5% of the other nodes are points of interest.
    *
    * Each diff moves junction, ring and random nodes, edits way, node
    * and relation tags, creates a footway and a point of interest,
    * deletes a building and a free-standing point of interest, and
    * extends or shortens the route. */
  final class GridWorld(seed: Long) {
    private val rnd = new java.util.Random(seed)
    private val n = Side * Side
    private def id(r: Int, c: Int): Long = r.toLong * Side + c + 1
    private def jitter(d: Int): Int = rnd.nextInt(2 * d + 1) - d

    private val lon = Array.tabulate(n)(i =>
      OriginLon + (i % Side) * Spacing + jitter(Spacing / 10))
    private val lat = Array.tabulate(n)(i =>
      OriginLat + (i / Side) * Spacing + jitter(Spacing / 10))
    private val nodeTags = Array.fill(n)(Map.empty[String, String])
    private val nodeVer = Array.fill(n)(1)
    private val nodeGone = Array.fill(n)(false)

    private final class Way(val id: Long, var nodes: Vector[Long],
        var tags: Map[String, String], var ver: Int = 1,
        var gone: Boolean = false)
    private final class Rel(val id: Long, var members: Vector[OsmMember],
        var tags: Map[String, String], var ver: Int = 1)
    private val ways = mutable.ArrayBuffer.empty[Way]
    private val rels = mutable.ArrayBuffer.empty[Rel]
    private def addWay(nodes: Seq[Long], tags: Map[String, String]): Way = {
      val w = new Way(ways.size + 1L, nodes.toVector, tags)
      ways += w
      w
    }

    private val junctions = for (r <- 0 until Side by Block;
      c <- 0 until Side by Block) yield (id(r, c) - 1).toInt
    private val ringNodes = mutable.ArrayBuffer.empty[Int]
    private val buildings = mutable.ArrayBuffer.empty[Way]
    private val streets = mutable.ArrayBuffer.empty[Way]
    private val row6 = mutable.ArrayBuffer.empty[Way]

    // streets
    for (r <- 0 until Side by Block; c0 <- 0 until Side - 1 by Block) {
      val cls = if (r == 12) "primary" else "residential"
      val w = addWay((c0 to c0 + Block).map(id(r, _)),
        Map("highway" -> cls, "name" -> s"row $r"))
      streets += w
      if (r == 6) row6 += w
    }
    for (c <- 0 until Side by Block; r0 <- 0 until Side - 1 by Block)
      streets += addWay((r0 to r0 + Block).map(id(_, c)),
        Map("highway" -> (if (c == 6) "secondary" else "residential"),
          "name" -> s"column $c"))
    streets.head.nodes = streets.head.nodes.head +: MissingRef +:
      streets.head.nodes.tail

    // block interiors
    for ((br, bc) <- (for (r <- 0 until Side - 1 by Block;
        c <- 0 until Side - 1 by Block) yield (r, c))) {
      def square(lo: Int, hi: Int): Vector[Long] =
        ((lo until hi).map(x => (lo, x)) ++ (lo until hi).map(y => (y, hi)) ++
          (hi until lo by -1).map(x => (hi, x)) ++
          (hi until lo by -1).map(y => (y, lo)) :+ ((lo, lo)))
          .map { case (y, x) => id(br + y, bc + x) }.toVector
      if ((br, bc) == ((6, 6)) || rnd.nextInt(3) == 0) {
        val outer = square(1, 5)
        val inner = square(2, 4)
        val half = outer.size / 2
        val parts = Seq(addWay(outer.take(half + 1), Map.empty),
          addWay(outer.drop(half), Map.empty), addWay(inner, Map.empty))
        ringNodes ++= (outer ++ inner).distinct.map(i => (i - 1).toInt)
        rels += new Rel(rels.size + 1L, parts.zip(Seq("outer", "outer",
          "inner")).map { case (w, role) => OsmMember("w", w.id, role) }
          .toVector, Map("type" -> "multipolygon",
          "landuse" -> (if (rnd.nextBoolean()) "forest" else "meadow"),
          "name" -> s"area $br/$bc"))
      } else for ((a, b) <- Seq((1, 1), (1, 3), (3, 1), (3, 3))
          if rnd.nextInt(5) < 3)
        buildings += addWay(Vector((a, b), (a, b + 1), (a + 1, b + 1),
          (a + 1, b), (a, b)).map { case (y, x) => id(br + y, bc + x) },
          Map("building" -> "yes"))
    }

    // the bus route and its stops
    private val route = {
      val members = row6.take(3)
      members.foreach(w => nodeTags((w.nodes.head - 1).toInt) =
        Map("highway" -> "bus_stop", "name" -> s"stop ${w.nodes.head}"))
      val r = new Rel(rels.size + 1L,
        members.map(w => OsmMember("n", w.nodes.head, "stop")).toVector ++
          members.map(w => OsmMember("w", w.id, "")),
        Map("type" -> "route", "route" -> "bus", "ref" -> "6"))
      rels += r
      r
    }

    for (i <- 0 until n if nodeTags(i).isEmpty && rnd.nextInt(20) == 0)
      nodeTags(i) = Map("amenity" -> "cafe", "name" -> s"poi $i")

    private def nodeRow(i: Int): OsmNode =
      if (nodeGone(i)) OsmNode(i + 1L, version = nodeVer(i), visible = false)
      else OsmNode(i + 1L, version = nodeVer(i), lon = lon(i) / 1e7,
        lat = lat(i) / 1e7, tags = nodeTags(i))
    private def wayRow(w: Way): OsmWay =
      if (w.gone) OsmWay(w.id, version = w.ver, visible = false)
      else OsmWay(w.id, version = w.ver, nodes = w.nodes, tags = w.tags)
    private def relRow(r: Rel): OsmRelation =
      OsmRelation(r.id, version = r.ver, members = r.members, tags = r.tags)

    private def file(dir: Path, name: String, format: String,
        change: Boolean, nodes: Seq[OsmNode], ws: Seq[OsmWay],
        rs: Seq[OsmRelation]): Path =
      if (format == "opl")
        Files.writeString(dir.resolve(s"$name.opl"), Opl.render(nodes, ws, rs))
      else Files.write(dir.resolve(s"$name.${if (change) "o5c" else "o5m"}"),
        O5m.encode(nodes, ws, rs, change = change))

    /** The current world as one file. */
    def write(dir: Path, name: String, format: String): Path =
      file(dir, name, format, change = false,
        (0 until n).filterNot(nodeGone).map(nodeRow),
        ways.filterNot(_.gone).map(wayRow).toSeq, rels.map(relRow).toSeq)

    /** Apply one change set to the world and write it as a change file. */
    def writeDiff(dir: Path, name: String, format: String): Path = {
      val chN = mutable.TreeMap.empty[Long, OsmNode]
      val chW = mutable.TreeMap.empty[Long, OsmWay]
      val chR = mutable.TreeMap.empty[Long, OsmRelation]
      def touchNode(i: Int)(edit: => Unit): Unit =
        if (!nodeGone(i) && !chN.contains(i + 1L)) {
          edit; nodeVer(i) += 1; chN(i + 1L) = nodeRow(i)
        }
      def touchWay(w: Way)(edit: => Unit): Unit =
        if (!w.gone && !chW.contains(w.id)) {
          edit; w.ver += 1; chW(w.id) = wayRow(w)
        }
      def move(i: Int): Unit = touchNode(i) {
        lon(i) += jitter(Spacing / 10); lat(i) += jitter(Spacing / 10)
      }
      def pick[T](xs: collection.IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
      val inWays = ways.filterNot(_.gone).flatMap(_.nodes).toSet

      (1 to 3).foreach(_ => move(pick(junctions)))
      (1 to 2).foreach(_ => move(pick(ringNodes)))
      (1 to 2).foreach(_ => move(rnd.nextInt(n)))
      (1 to 2).foreach { _ =>
        val w = pick(streets)
        touchWay(w) { w.tags = w.tags.updated("name", s"renamed ${w.ver}") }
      }
      val pois = (0 until n).filter(i => !nodeGone(i) &&
        nodeTags(i).get("amenity").contains("cafe"))
      val poi = pick(pois)
      touchNode(poi) {
        nodeTags(poi) = nodeTags(poi).updated("cuisine", "tea")
      }
      val fresh = pick((0 until n).filter(i => nodeTags(i).isEmpty))
      touchNode(fresh) { nodeTags(fresh) = Map("shop" -> "bakery") }
      val free = pois.filterNot(i => inWays(i + 1L) || chN.contains(i + 1L))
      if (free.nonEmpty) {
        val i = pick(free)
        nodeGone(i) = true; nodeVer(i) += 1; chN(i + 1L) = nodeRow(i)
      }
      // a footway across row 3 of a block interior
      val (br, bc) = (rnd.nextInt(Side / Block) * Block,
        rnd.nextInt(Side / Block - 1) * Block)
      val foot = addWay((bc + 1 to bc + 4).map(id(br + 3, _)),
        Map("highway" -> "footway"))
      chW(foot.id) = wayRow(foot)
      val live = buildings.filterNot(w => w.gone || chW.contains(w.id))
      if (live.nonEmpty) {
        val w = pick(live)
        w.gone = true; w.ver += 1; chW(w.id) = wayRow(w)
      }
      // the route grows by the next way of its row, or loses its last
      val routeWays = route.members.filter(_.mtype == "w").map(_.ref)
      val next = row6.indexWhere(_.id == routeWays.last) + 1
      route.members =
        if (next < row6.size && (routeWays.size < 2 || rnd.nextBoolean()))
          route.members :+ OsmMember("w", row6(next).id, "")
        else route.members.filterNot(m => m.mtype == "w" &&
          m.ref == routeWays.last)
      route.ver += 1
      chR(route.id) = relRow(route)
      rels.find(_.tags.get("type").contains("multipolygon")).foreach { r =>
        r.tags = r.tags.updated("name", s"renamed ${r.ver}")
        r.ver += 1
        chR(r.id) = relRow(r)
      }
      file(dir, name, format, change = true, chN.values.toSeq,
        chW.values.toSeq, chR.values.toSeq)
    }
  }

  /** A `--tag-transform-script` style that disagrees with the default
    * C transform on every kind of object: nodes keep only `amenity`,
    * renamed `kind`; ways become polygons only for `building`;
    * relations gain member-derived tags. */
  val LuaStyle: String = """
    |function filter_tags_node(kv, n)
    |  if kv['amenity'] == nil then return 1, kv end
    |  return 0, { kind = kv['amenity'] }
    |end
    |function filter_tags_way(kv, n)
    |  if n == 0 then return 1, kv, 0, 0 end
    |  local polygon = (kv['building'] ~= nil) and 1 or 0
    |  local roads = (kv['highway'] == 'primary') and 1 or 0
    |  kv['z_order'] = roads == 1 and 7 or 0
    |  return 0, kv, polygon, roads
    |end
    |function filter_basic_tags_rel(kv, n)
    |  if kv['type'] == nil then return 1, kv end
    |  return 0, kv
    |end
    |function filter_tags_relation_member(kv, memberkv, roles, n)
    |  local polygon = 0
    |  if kv['type'] == 'multipolygon' then polygon = 1 end
    |  kv['type'] = nil
    |  kv['nmembers'] = n
    |  kv['role1'] = roles[1]
    |  return 0, kv, {}, 0, polygon, 0
    |end
    |""".stripMargin

  val Side = 25
  val Block = 6
  val Spacing = 2000
  val OriginLon = 95000000
  val OriginLat = 470500000
  val MissingRef = 1000000000L
}
