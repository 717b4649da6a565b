package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TileFunctions._

/** Tile expiry (reference: src/expire-tiles.cpp, src/expire-output.cpp):
  * compute the set of dirty web-map tiles touched by changed geometries,
  * then roll the set up to lower zooms.
  *
  * The reference accumulates an `unordered_set<quadkey>` per process;
  * here the dirty set is a DataFrame and dedup is a hash aggregate —
  * distributed, spillable, no per-process caps needed (the reference
  * caps at 10M tiles/geometry, 50M overall purely to bound RAM;
  * src/expire-output.hpp:24-25).
  */
object Expire {

  /** Dirty tiles at `zoom` for a set of points (lon/lat degree columns).
    * Point cover is one tile; the buffer option of the reference
    * (expire-config.hpp) becomes a neighborhood explode if needed.
    * Dedup = `distinct` (map-side combine). */
  def pointCover(df: DataFrame, lon: Column, lat: Column, zoom: Int): DataFrame = {
    val n = 1L << zoom
    df.where(lon.isNotNull && lat.isNotNull && !isnan(lon) && !isnan(lat))
      .select(tileX(lon, zoom).as("x"), tileY(lat, zoom).as("y"))
      // out-of-projection latitudes / lon=180 would yield impossible
      // tiles (y<0, x=2^z); clamp x by wrap, drop y outside the map —
      // the bound check TileCover.expire applies (src/expire-tiles.cpp)
      .select(pmod(col("x"), lit(n)).as("x"), col("y"))
      .where(col("y") >= 0 && col("y") < n)
      .distinct()
      .withColumn("zoom", lit(zoom))
  }

  /** Zoom roll-up (expire_output_t::output_tiles_to_*,
    * src/expire-output.cpp:60-150): emit each dirty tile and its parents
    * down to `minZoom`, deduplicated. The reference walks sorted
    * quadkeys to dedup "only once"; a distinct over (zoom, x>>k, y>>k)
    * is the set-at-a-time equivalent. */
  def rollup(tiles: DataFrame, x: String, y: String, fromZoom: Int,
      minZoom: Int): DataFrame = {
    require(minZoom <= fromZoom,
      s"rollup needs minZoom <= fromZoom, got $minZoom > $fromZoom")
    tiles
      .select(explode(sequence(lit(minZoom), lit(fromZoom))).as("zoom"),
        col(x), col(y))
      .select(col("zoom"),
        zoomOut(col(x), fromZoom, col("zoom")).as("x"),
        zoomOut(col(y), fromZoom, col("zoom")).as("y"))
      .distinct()
  }

  /** Tile-list output row format of osm2pgsql-expire: one line
    * `zoom/x/y` (src/expire-output.cpp:60-90). */
  def formatTiles(tiles: DataFrame): DataFrame =
    tiles.select(concat_ws("/", col("zoom"), col("x"), col("y")).as("tile"))

  /** Streams the one-column `lines`, sorted, to `path`, each ending in
    * a newline, stopping at `maxOverall` lines (the reference's overall
    * cap, src/expire-output.hpp:24-25). The lines are sorted within ONE
    * partition, so one result job streams them where a global sort ran
    * a sampling job and one job per range; the driver holds that
    * partition's compressed rows and decodes them a row at a time, so
    * the list is never collected as rows. `append` keeps
    * the file's contents (the flex output's fopen("a")); otherwise the
    * file is replaced. Prints `truncated` when rows were left over.
    * Returns the number of lines written. */
  def writeLines(lines: DataFrame, path: java.nio.file.Path,
      maxOverall: Long, append: Boolean, truncated: String): Long = {
    import java.nio.file.StandardOpenOption._
    val w = java.nio.file.Files.newBufferedWriter(path,
      java.nio.charset.StandardCharsets.UTF_8,
      (if (append) Seq(CREATE, APPEND)
      else Seq(CREATE, TRUNCATE_EXISTING, WRITE)): _*)
    var n = 0L
    try {
      val it = lines.coalesce(1).sortWithinPartitions(lines.columns.head)
        .toLocalIterator()
      while (it.hasNext && n < maxOverall) {
        w.write(it.next().getString(0)); w.write("\n"); n += 1
      }
      if (it.hasNext) System.err.println(s"[graft] $truncated")
    } finally w.close()
    n
  }

  /** Web-mercator extent of a tile (tile_t::box, src/tile.hpp:55-75):
    * (minx, miny, maxx, maxy). */
  def tileBox3857(x: Long, y: Long, zoom: Int): (Double, Double, Double, Double) = {
    val ec = graft.functions.TileFunctions.EarthCircumference
    val ext = ec / (1L << zoom)
    val minx = x * ext - ec / 2
    val maxy = ec / 2 - y * ext
    (minx, maxy - ext, minx + ext, maxy)
  }

  /** GeoJSON-feature form of the tile list (the expire binary's
    * `-f geojson`, src/osm2pgsql-expire.cpp:216-240): one feature per
    * tile, EPSG:3857 box polygon, properties z/x/y/label. Coordinate
    * text uses Java shortest-double formatting (not byte-identical to
    * the reference's nlohmann output; values are identical doubles). */
  def geojsonFeatures(tiles: DataFrame): DataFrame = {
    val feat = udf((zoom: Int, x: Long, y: Long) => {
      val (minx, miny, maxx, maxy) = tileBox3857(x, y, zoom)
      s"""{"geometry":{"coordinates":[[[$minx,$miny],[$minx,$maxy],""" +
        s"""[$maxx,$maxy],[$maxx,$miny],[$minx,$miny]]],""" +
        s""""type":"Polygon"},"properties":{"label":"$zoom/$x/$y",""" +
        s""""x":$x,"y":$y,"z":$zoom},"type":"Feature"}"""
    })
    tiles.select(feat(col("zoom"), col("x"), col("y")).as("feature"))
  }

  /** The osm2pgsql-expire binary's per-entity geometry rules
    * (src/osm2pgsql-expire.cpp:123-215), as a DataFrame pipeline over
    * entity frames → dirty tiles at `cfg.zoom`:
    *  - tagged nodes → point;
    *  - tagged ways → polygon if closed (fallback to linestring when
    *    assembly fails), else linestring; <2 resolved points → skipped;
    *  - tagged relations → multipolygon for type=multipolygon/boundary,
    *    multilinestring (not forced multi) for route/multilinestring,
    *    else a collection of member node points + way lines;
    * all transformed to 3857 before covering, dedup = distinct.
    * `maxTilesPerGeometry` > 0 applies the reference's per-geometry
    * cap (src/expire-output.hpp:24: a geometry whose cover exceeds it
    * contributes nothing). */
  def fromOsmEntities(osm: graft.sources.OsmXml.OsmDataFrames,
      cfg: graft.operators.TileCover.Config,
      maxTilesPerGeometry: Long = 0L): DataFrame = {
    import graft.geom._
    val merc = (g: Geometry) => g match {
      case _: NullGeom => null
      case g           => Ewkb.encode(GeomOps.transform(g, Srid.WebMercator))
    }
    val toPts = (lons: Seq[Double], lats: Seq[Double]) =>
      lons.zip(lats).map { case (x, y) => Pt(x, y) }

    val pointUdf = udf((lon: Double, lat: Double) =>
      merc(FromOsm.createPoint(lon, lat)))
    val wayUdf = udf((lons: Seq[Double], lats: Seq[Double], closed: Boolean) => {
      val pts = toPts(lons, lats)
      val poly =
        if (closed) FromOsm.createPolygon(pts) else NullGeom(Srid.WGS84)
      val g = poly match {
        case _: NullGeom => FromOsm.createLineString(pts)
        case p           => p
      }
      merc(g)
    })
    val relUdf = udf((relType: String, nodeLons: Seq[Double],
        nodeLats: Seq[Double], wayLons: Seq[Seq[Double]],
        wayLats: Seq[Seq[Double]]) => {
      val ways = wayLons.zip(wayLats).map { case (lo, la) => toPts(lo, la) }
      val g = relType match {
        case "multipolygon" | "boundary" => FromOsm.createMultiPolygon(ways)
        case "route" | "multilinestring" =>
          FromOsm.createMultiLineString(ways, forceMulti = false)
        case _ => FromOsm.createCollection(toPts(nodeLons, nodeLats), ways)
      }
      merc(g)
    })

    // deleted entities in change frames carry no usable coordinates
    // (NaN lon/lat) — skip them rather than emit NaN geometries
    val visible = (df: DataFrame) =>
      if (df.columns.contains("visible")) df.where(col("visible")) else df
    val vNodes = visible(osm.nodes)
    val vOsm = osm.copy(nodes = vNodes, ways = visible(osm.ways),
      relations = visible(osm.relations))

    val locs = vNodes.select(col("id").as("nid"), col("lon"), col("lat"))
    val nodeGeoms = vNodes.where(size(col("tags")) > 0)
      .select(pointUdf(col("lon"), col("lat")).as("geom"))

    val resolvedWays = Middle.resolveAllWayCoords(vOsm)
    val wayGeoms = vOsm.ways.where(size(col("tags")) > 0)
      .where(size(col("nodes")) > 0) // ANSI element_at guard
      .withColumn("__closed",
        element_at(col("nodes"), 1) ===
          element_at(col("nodes"), size(col("nodes"))))
      .join(resolvedWays, col("id") === col("rwid"))
      .select(wayUdf(col("wlons"), col("wlats"), col("__closed")).as("geom"))

    val taggedRels = vOsm.relations.where(size(col("tags")) > 0)
      .select(col("id").as("rid"), col("tags").getItem("type").as("rtype"),
        col("members"))
    val m = taggedRels.select(col("rid"), col("rtype"),
      posexplode(col("members")).as(Seq("mpos", "m")))
    // one sorted member list per relation (mpos is unique within a
    // relation, so the combined sort reproduces both former per-axis
    // sorts at half the aggregate state and shuffle bytes)
    val memberNodes = m.where(col("m.mtype") === "n")
      .join(locs, col("m.ref") === col("nid"))
      .groupBy(col("rid"))
      .agg(array_sort(collect_list(
        struct(col("mpos"), col("lon"), col("lat")))).as("__mn"))
      .select(col("rid"),
        transform(col("__mn"), s => s.getField("lon")).as("nlons"),
        transform(col("__mn"), s => s.getField("lat")).as("nlats"))
    val memberWays = m.where(col("m.mtype") === "w")
      .join(resolvedWays, col("m.ref") === col("rwid"))
      .groupBy(col("rid"))
      .agg(array_sort(collect_list(
        struct(col("mpos"), col("wlons"), col("wlats")))).as("__mw"))
      .select(col("rid"),
        transform(col("__mw"), s => s.getField("wlons")).as("mlons"),
        transform(col("__mw"), s => s.getField("wlats")).as("mlats"))
    val empty = typedlit(Seq.empty[Double])
    val emptyW = typedlit(Seq.empty[Seq[Double]])
    val relGeoms = taggedRels
      .join(memberNodes, Seq("rid"), "left")
      .join(memberWays, Seq("rid"), "left")
      .where(col("nlons").isNotNull || col("mlons").isNotNull)
      .select(relUdf(col("rtype"),
        coalesce(col("nlons"), empty), coalesce(col("nlats"), empty),
        coalesce(col("mlons"), emptyW), coalesce(col("mlats"), emptyW))
        .as("geom"))

    val geoms = nodeGeoms.unionByName(wayGeoms).unionByName(relGeoms)
      .where(col("geom").isNotNull)
    if (maxTilesPerGeometry > 0)
      TileCover.geometryCoverCapped(geoms, col("geom"), cfg,
        maxTilesPerGeometry)
    else TileCover.geometryCover(geoms, col("geom"), cfg)
  }

  /** Expire-table DDL (expire_output_t::create_output_table,
    * src/expire-output.cpp:143-155): (zoom, x, y) primary key plus
    * first/last touch timestamps. */
  def tableDdl(table: String): String =
    s"""CREATE TABLE IF NOT EXISTS $table (
       | zoom int4 NOT NULL,
       | x int4 NOT NULL,
       | y int4 NOT NULL,
       | first timestamp with time zone DEFAULT CURRENT_TIMESTAMP(0),
       | last timestamp with time zone DEFAULT CURRENT_TIMESTAMP(0),
       | PRIMARY KEY (zoom, x, y))""".stripMargin

  /** Per-tile upsert (output_tiles_to_table,
    * NOTE: $n placeholders are PostgreSQL PREPARE/EXECUTE style, the
    * form the reference sends; for a JDBC PreparedStatement replace
    * them with '?' (JDBC does not bind $n).
    * src/expire-output.cpp:107-141): the legacy 3-column table inserts
    * once and ignores conflicts; the 5-column format bumps `last` on
    * re-expiry. Use from a foreachPartition JDBC writer. */
  def tableUpsertSql(table: String, legacyThreeColumn: Boolean): String =
    if (legacyThreeColumn)
      s"INSERT INTO $table (zoom, x, y)" +
        " VALUES ($1::int4, $2::int4, $3::int4) ON CONFLICT DO NOTHING"
    else
      s"INSERT INTO $table (zoom, x, y)" +
        " VALUES ($1::int4, $2::int4, $3::int4)" +
        " ON CONFLICT (zoom, x, y) DO UPDATE SET last = CURRENT_TIMESTAMP(0)"
}
