package osmbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.classic.{ClassicPipeline, ClassicUpdate, StyleFile}
import graft.geom._
import graft.operators.{Expire, Middle, TileCover}
import graft.sinks.{ClassicPgLoad, PgClassic}
import graft.sources.OsmSource
import graft.sources.OsmXml.OsmDataFrames

/** The traced run: each module's public functions called in the order
  * `Main.run` uses them, each call forced by an action and wrapped in a
  * span. Spark fuses work across modules, so a span holds whatever its
  * plan recomputes; inputs a span only reads are cached beforehand. */
final class Layers(spark: SparkSession, spans: Spans,
    snap: () => EngineListener.Snapshot, set: (String, Double) => Unit,
    dir: Path, a: Bench.Args) {
  import spark.implicits._

  private val style = StyleFile.defaultStyle
  private val prefix = "planet_osm"

  /** A span that also records its seconds (and Spark counters) under
    * `metric`. */
  private def timed[T](metric: String)(body: => T)
      : (T, EngineListener.Snapshot) = {
    val s0 = snap()
    val r = spans(metric)(body)
    val d = snap().minus(s0)
    set(metric, spans.seconds(metric))
    (r, d)
  }

  private def cached(osm: OsmDataFrames): (OsmDataFrames, Long) = {
    val c = OsmDataFrames(osm.nodes.persist(), osm.ways.persist(),
      osm.relations.persist(), osm.backing)
    (c, c.nodes.count() + c.ways.count() + c.relations.count())
  }

  private def write(tables: Map[String, DataFrame], to: Path): Long = {
    tables.foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(to.resolve(n).toString) }
    Bench.bytesUnder(to)
  }

  private def middle(osm: OsmDataFrames): Unit = {
    set("middle.way_node_refs",
      osm.ways.agg(sum(size(col("nodes")))).head().getLong(0).toDouble)
    val (_, d) = timed("middle.resolve_s") {
      Middle.resolveAllWayCoords(osm).count()
      Middle.resolveRelationMembers(osm.relations, "id", "members", "w",
        osm.ways.select(col("id").as("wid"), col("nodes")), "wid",
        Seq("nodes"), typeField = "mtype").count()
      set("middle.missing_refs", Middle.missingWayNodes(osm.ways, "id",
        "nodes", osm.nodes, "id").agg(coalesce(sum(size(col("missing"))),
        lit(0L))).head().getLong(0).toDouble)
    }
    set("middle.shuffle_bytes", d.shuffleWrite.toDouble)
  }

  private def geometry(osm: OsmDataFrames): Unit = {
    val coords = Middle.resolveAllWayCoords(osm)
      .select("wlons", "wlats").persist()
    coords.count()
    val (stats, _) = timed("geom.build_s") {
      coords.as[(Seq[Double], Seq[Double])].mapPartitions { it =>
        var n, ok = 0L
        it.foreach { case (lons, lats) =>
          val pts = lons.zip(lats).map { case (x, y) => Pt(x, y) }
          val g =
            if (pts.size >= 4 && pts.head == pts.last) FromOsm.createPolygon(pts)
            else FromOsm.createLineString(pts)
          n += 1
          if (!g.isNull) {
            Ewkb.encode(GeomOps.transform(g, Srid.WebMercator))
            ok += 1
          }
        }
        Iterator((n, ok))
      }.collect().foldLeft((0L, 0L)) { case ((x, y), (n, ok)) => (x + n, y + ok) }
    }
    coords.unpersist()
    set("geom.attempts", stats._1.toDouble)
    set("geom.valid_ratio",
      if (stats._1 == 0) 0.0 else stats._2.toDouble / stats._1)
  }

  private def read(path: Path): OsmDataFrames = {
    val ((osm, n), d) = timed("sources.read_s") {
      cached(OsmSource.read(spark, Seq(path.toString)))
    }
    set("sources.entities", n.toDouble)
    set("sources.input_bytes", Files.size(path).toDouble)
    set("sources.tasks", d.tasks.toDouble)
    osm
  }

  /** Both imports: sources, middle, geometry, then classic + sinks
    * (with the PostgreSQL load when a server is given) or flex/Lua. */
  def imports(files: WorldFiles, pg: Option[PgCluster]): Unit = {
    val osm = read(files.pbf)
    middle(osm)
    geometry(osm)
    // flex/Lua runs on both imports, so the import-pg trace also
    // measures it
    val (enriched, rowsIn) = timed("flex.enrich_s") {
      cached(graft.flex.Enrich.forFlex(osm, "create"))
    }._1
    set("lua.rows_in", rowsIn.toDouble)
    val (flexTables, _) = timed("lua.run_s") {
      val r = graft.flex.FlexRunner.run(
        graft.flex.LuaFlexConfig.fromFile(a.lua.toString), enriched)
      val m = r.tables.map { case (n, tr) => n -> tr.rows.persist() }
      set("lua.rows_out", m.values.map(_.count()).sum.toDouble)
      m
    }
    val tables: Map[String, DataFrame] =
      if (a.workload != "import-pg") flexTables
      else timed("classic.run_s") {
        val t4 = ClassicPipeline.run(osm, style)
        val m = Map("point" -> t4.point, "line" -> t4.line,
          "polygon" -> t4.polygon, "roads" -> t4.roads)
          .map { case (n, df) => s"${prefix}_$n" -> df.persist() }
        set("classic.rows_out", m.values.map(_.count()).sum.toDouble)
        m
      }._1
    val tablesDir = dir.resolve("tables")
    set("sinks.parquet_bytes",
      timed("sinks.parquet_s")(write(tables, tablesDir))._1.toDouble)
    if (a.workload == "import-pg") {
      set("sinks.middle_bytes", timed("sinks.middle_s")(write(Map(
        "nodes" -> osm.nodes, "ways" -> osm.ways, "relations" -> osm.relations),
        dir.resolve("middle")))._1.toDouble)
      val c = pg.getOrElse(throw new Bench.CheckFailed("no server"))
      val postgis = ClassicPgLoad.prepareServer(c.dsn, false)
      val pgTables = PgClassic.tables(prefix, style, false, Nil, Srid.WebMercator)
      def frame(t: PgClassic.ClassicTable) =
        spark.read.parquet(tablesDir.resolve(t.name).toString)
      set("sinks.copy_bytes", timed("sinks.copy_encode_s") {
        pgTables.map(t => PgClassic.copyLines(
          PgClassic.copyFrame(frame(t), t, false, postgis), t, postgis)
          .agg(coalesce(sum(length(col("value")) + 1), lit(0L)))
          .head().getLong(0)).sum
      }._1.toDouble)
      timed("sinks.pg_load_s") {
        pgTables.foreach(t => ClassicPgLoad.createLoad(t, frame(t), c.dsn,
          "public", false, true, postgis))
      }
    }
  }

  /** One diff applied to the template: sources, merge, middle, delta,
    * apply, the staged rewrite (tables and middle), expiry. */
  def append(files: WorldFiles, template: Path): Unit = {
    val diff = files.diffs.head
    def load(p: Path) = spark.read.parquet(template.resolve(p).toString)
    val before = OsmDataFrames(load(Path.of("middle", "nodes")),
      load(Path.of("middle", "ways")), load(Path.of("middle", "relations")))
    val prev = ClassicPipeline.Tables4(load(Path.of(s"${prefix}_point")),
      load(Path.of(s"${prefix}_line")), load(Path.of(s"${prefix}_polygon")),
      load(Path.of(s"${prefix}_roads")))
    val changes = read(diff)
    val changed = changes.nodes.count() + changes.ways.count() +
      changes.relations.count()
    set("update.changed_entities", changed.toDouble)

    val (merged, _) = timed("update.merge_s") {
      cached(ClassicUpdate.applyChanges(before, changes))._1
    }
    middle(merged)
    val (delta, _) = timed("update.delta_s") {
      // cached, so that the apply span below does not recompute it
      val d0 = ClassicUpdate.computeDelta(before, changes, style)
      val r = d0.rederived
      val d = ClassicUpdate.Delta(d0.changedNodes.persist(),
        d0.pendingWays.persist(), d0.pendingRels.persist(),
        ClassicPipeline.Tables4(r.point.persist(), r.line.persist(),
          r.polygon.persist(), r.roads.persist()))
      d.changedNodes.count()
      set("update.pending_ways", d.pendingWays.count().toDouble)
      set("update.pending_rels", d.pendingRels.count().toDouble)
      set("update.rederived_rows", Seq(d.rederived.point, d.rederived.line,
        d.rederived.polygon, d.rederived.roads).map(_.count()).sum.toDouble)
      d
    }
    val (t4, _) = timed("update.apply_s") {
      val t = ClassicUpdate.applyDelta(prev, delta)
      val m = Map("point" -> t.point, "line" -> t.line, "polygon" -> t.polygon,
        "roads" -> t.roads).map { case (n, df) => s"${prefix}_$n" -> df.persist() }
      m.values.foreach(_.count())
      m
    }
    val (bytes, _) = timed("update.rewrite_s") {
      val tb = timed("sinks.parquet_s")(write(t4, dir.resolve("tables")))._1
      val mb = timed("sinks.middle_s")(write(Map("nodes" -> merged.nodes,
        "ways" -> merged.ways, "relations" -> merged.relations),
        dir.resolve("middle")))._1
      set("sinks.parquet_bytes", tb.toDouble)
      set("sinks.middle_bytes", mb.toDouble)
      tb + mb
    }
    set("update.rewrite_bytes", bytes.toDouble)
    set("update.rewrite_bytes_per_changed_entity",
      if (changed == 0) 0.0 else bytes.toDouble / changed)

    val opts = graft.cli.Options.parse(
      Seq("-a", "--slim", "-e", "16", diff.toString))
    set("expire.tiles", timed("expire.s") {
      val cover = Expire.fromOsmEntities(changes,
        TileCover.Config(zoom = 16, mode = TileCover.Hybrid(opts.expireBboxSize)),
        maxTilesPerGeometry = TileCover.Limits().maxTilesPerGeometry)
      Expire.formatTiles(Expire.rollup(cover, "x", "y", 16, 16)).count()
    }._1.toDouble)
  }
}

object Layers {
  /** Every per-layer metric of the traced run, with its unit. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.read_s" -> "s", "sources.entities" -> "count",
    "sources.input_bytes" -> "bytes", "sources.tasks" -> "count",
    "middle.resolve_s" -> "s", "middle.way_node_refs" -> "count",
    "middle.missing_refs" -> "count", "middle.shuffle_bytes" -> "bytes",
    "geom.build_s" -> "s", "geom.attempts" -> "count",
    "geom.valid_ratio" -> "ratio",
    "classic.run_s" -> "s", "classic.rows_out" -> "count",
    "flex.enrich_s" -> "s", "lua.run_s" -> "s", "lua.rows_in" -> "count",
    "lua.rows_out" -> "count",
    "sinks.parquet_s" -> "s", "sinks.parquet_bytes" -> "bytes",
    "sinks.middle_s" -> "s", "sinks.middle_bytes" -> "bytes",
    "sinks.copy_encode_s" -> "s", "sinks.copy_bytes" -> "bytes",
    "sinks.pg_load_s" -> "s",
    "update.merge_s" -> "s", "update.delta_s" -> "s", "update.apply_s" -> "s",
    "update.rewrite_s" -> "s", "update.rewrite_bytes" -> "bytes",
    "update.changed_entities" -> "count", "update.pending_ways" -> "count",
    "update.pending_rels" -> "count", "update.rederived_rows" -> "count",
    "update.rewrite_bytes_per_changed_entity" -> "bytes",
    "expire.s" -> "s", "expire.tiles" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.gc_s" -> "s", "spark.busy_share" -> "ratio",
    "driver.no_task_s" -> "s", "post_gc_heap_peak_mb" -> "MB",
    "trace.overhead_s" -> "s", "scaling.single_core_import_s" -> "s",
    "check.ulp_mismatch_rows" -> "count", "check.empty_tile_lists" -> "count")

  def unit(metric: String): String = PerLayer.toMap.apply(metric)
}
