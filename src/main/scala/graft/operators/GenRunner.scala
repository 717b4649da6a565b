package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `osm2pgsql.run_gen(strategy, params)` dispatcher
  * (src/gen/osm2pgsql-gen.cpp:284-340, strategy registry
  * src/gen/gen-create.cpp:22-52): one entry point naming a strategy
  * plus a parameter map, resolving to the Spark plan of that
  * generalizer. `run_sql` is [[runSql]].
  *
  * Parameters mirror the reference's: `src` (a registered temp view or
  * parquet path resolved by the caller into `input`), `zoom`, `margin`,
  * `buffer_size`, `image_extent`, `turdsize`, `group_by_column`,
  * `cell_size`, `importance_column`, ...
  */
object GenRunner {

  final case class Params(m: Map[String, String]) {
    def str(k: String): Option[String] = m.get(k)
    def str(k: String, dflt: String): String = m.getOrElse(k, dflt)
    def int(k: String, dflt: Int): Int = m.get(k).map(_.toInt).getOrElse(dflt)
    def dbl(k: String, dflt: Double): Double =
      m.get(k).map(_.toDouble).getOrElse(dflt)
  }

  /** run_gen: dispatch a strategy over `input`. Unknown strategies
    * throw, like create_generalizer (gen-create.cpp:48). */
  def runGen(strategy: String, input: DataFrame, params: Map[String, String]): DataFrame = {
    val p = Params(params)
    strategy match {
      case "raster-union" =>
        RasterGen.rasterUnion(input, p.str("geom_column", "geom"),
          p.str("group_by_column"),
          RasterGen.Config(
            zoom = p.int("zoom", 10),
            imageExtent = p.int("image_extent", 2048),
            margin = p.dbl("margin", 0.0),
            bufferSize = p.int("buffer_size", 10),
            turdsize = p.int("turdsize", 2),
            minArea = p.dbl("min_area", 0.0)))
      case "builtup" =>
        val buffers = p.str("buffer_size", "10").split(",")
        val tables = p.str("src_tables", "").split(",")
        RasterGen.builtup(input, p.str("geom_column", "geom"),
          p.str("src_column", "src"),
          tables.zipAll(buffers, "", buffers.lastOption.getOrElse("10"))
            .filter(_._1.nonEmpty)
            .map { case (t, b) => t -> b.trim.toInt }.toMap,
          RasterGen.Config(
            zoom = p.int("zoom", 10),
            imageExtent = p.int("image_extent", 2048),
            margin = p.dbl("margin", 0.0),
            turdsize = p.int("turdsize", 2),
            minArea = p.dbl("min_area", 0.0)))
      case "vector-union" =>
        Gen.vectorUnion(input, p.str("geom_column", "geom"),
          p.str("group_by_column"),
          zoom = p.int("zoom", 10),
          margin = p.dbl("margin", 0.0),
          bufferSize = p.dbl("buffer_size", 10.0))
      case "rivers" =>
        Gen.riverWidthsExact(input, p.str("id_column", "way_id"),
          p.str("length_column", "len"), p.str("width_column", "width"))
      case "discrete-isolation" =>
        Gen.discreteIsolation(input, p.str("id_column", "id"),
          p.str("x_column", "x"), p.str("y_column", "y"),
          p.str("importance_column", "importance"),
          p.dbl("cell_size", 1000.0))
      case "tile-sql" =>
        // gen-tile-sql.cpp: the SQL template runs once per tile with
        // ZOOM/X/Y (and the src/dest table names) substituted; the
        // input frame IS the tile list (zoom, x, y rows — an expire
        // table or explicit tile set). The per-tile loop is driver-
        // side in the reference too (one statement per tile).
        val sql0 = p.str("sql").getOrElse(throw new IllegalArgumentException(
          "Missing 'sql' parameter in tile-sql generalizer."))
        val sql = Seq("src", "dest")
          .foldLeft(sql0)((s, k) => p.str(k).fold(s)(v => s.replace(s"{$k}", v)))
          .replace("{ZOOM}", "{zoom}").replace("{X}", "{x}").replace("{Y}", "{y}")
        val tiles = input
          .select(col("zoom").cast("int"), col("x").cast("long"),
            col("y").cast("long"))
          .distinct().collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
        Gen.runTileSql(input.sparkSession, tiles, sql)
      case other =>
        throw new IllegalArgumentException(
          s"Unknown generalization strategy '$other'.")
    }
  }

  /** run_sql analog (osm2pgsql-gen.cpp run_sql): execute statements
    * against the session (tile-parameterized form is
    * [[Gen.runTileSql]]). */
  def runSql(spark: SparkSession, sql: String): DataFrame = spark.sql(sql)
}

/** Stand-alone generalizer — the `osm2pgsql-gen` binary
  * (src/gen/osm2pgsql-gen.cpp): reads a parquet table, dispatches one
  * strategy from [[GenRunner.runGen]]'s registry with `k=v` params,
  * writes the generalized result as parquet.
  *
  * Usage: runMain graft.operators.GenMain <strategy> <in.parquet>
  *        <out.parquet> [k=v ...]
  */
object GenMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: GenMain <strategy> <in.parquet> <out.parquet> [k=v ...]")
    val Array(strategy, in, out) = args.take(3)
    val params = args.drop(3).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => throw new IllegalArgumentException(
          s"Bad parameter '$kv': expected k=v")
      }
    }.toMap
    val spark = graft.LocalSpark.session("graft-gen",
      Runtime.getRuntime.availableProcessors(), 32)
    try run(spark, strategy, in, out, params)
    finally spark.stop()
  }

  def run(spark: SparkSession, strategy: String, in: String, out: String,
      params: Map[String, String]): Unit =
    GenRunner.runGen(strategy, spark.read.parquet(in), params)
      .write.mode("overwrite").parquet(out)
}

/** Stand-alone expire calculator — the `osm2pgsql-expire` binary
  * (src/osm2pgsql-expire.cpp:34-110): reads a parquet of 3857 EWKB
  * geometries, computes the dirty-tile cover at `zoom` in the given
  * mode, rolls up to `minzoom`, writes one `zoom/x/y` line per tile.
  *
  * Usage: runMain graft.operators.ExpireMain <in.parquet> <geomCol>
  *        <zoom> <minzoom> <mode> <out.txt>
  */
object ExpireMain {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSpark.session("graft-expire", 8, 32)
    try run(spark, args)
    finally spark.stop()
  }

  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(in, geomCol, zoomS, minzoomS, mode, out) = args
    val zoom = zoomS.toInt
    val cfg = TileCover.Config(zoom, mode match {
      case "boundary-only" => TileCover.BoundaryOnly
      case "full-area"     => TileCover.FullArea
      case _               => TileCover.Hybrid()
    })
    // file-type dispatch like the reference binary: an OSM file runs
    // the per-entity geometry rules; anything else is parquet EWKB.
    // Known extensions first; for an extensionless plain file, sniff the
    // content (parquet dirs and .parquet files fall through to the scan).
    val osmExts = Seq(".osm", ".osc", ".o5m", ".o5c", ".pbf")
      .flatMap(e => Seq(e, e + ".gz", e + ".bz2"))
    val isOsm = osmExts.exists(in.endsWith) ||
      (java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(in)) &&
        !in.endsWith(".parquet") &&
        scala.util.Try(graft.sources.OsmSource.sniffPath(in)).isSuccess)
    // the reference binary's two expire caps (src/expire-output.hpp:24-25)
    // applied here too: the per-geometry cap distributed in the cover,
    // the overall cap enforced while STREAMING rows through
    // toLocalIterator — the tile list is never collected as rows on
    // the driver (one sorted partition, one output line at a time).
    val limits = TileCover.Limits()
    var osmFrames: Option[graft.sources.OsmXml.OsmDataFrames] = None
    val tiles =
      if (isOsm) {
        val osm = graft.sources.OsmSource.read(spark, Seq(in))
        osmFrames = Some(osm)
        Expire.fromOsmEntities(osm, cfg,
          maxTilesPerGeometry = limits.maxTilesPerGeometry)
      } else
        TileCover.geometryCoverCapped(spark.read.parquet(in), col(geomCol),
          cfg, limits.maxTilesPerGeometry)
    val rolled = Expire.rollup(tiles, "x", "y", zoom, minzoomS.toInt)
    val n = writeStreamed(rolled, out, limits.maxTilesOverall)
    osmFrames.foreach(_.unpersistBacking())
    println(s"wrote $n tiles to $out")
  }

  /** Writes the tile (or, for a `.geojson` name, geojson-feature)
    * lines to `out` through [[Expire.writeLines]], stopping at
    * `maxOverall` lines. Returns lines written. */
  def writeStreamed(rolled: DataFrame, out: String, maxOverall: Long): Long =
    Expire.writeLines(
      if (out.endsWith(".geojson"))
        Expire.geojsonFeatures(rolled)
      else Expire.formatTiles(rolled),
      java.nio.file.Paths.get(out), maxOverall, append = false,
      "Overall tile limit reached — dirty-tile list truncated at " +
        maxOverall)
}
