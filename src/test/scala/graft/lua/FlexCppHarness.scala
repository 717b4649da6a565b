package graft.lua

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.geom.{Ewkb, Geometry, NullGeom, Point => GPoint,
  LineString => GLine, Polygon => GPoly, MultiPoint => GMPoint,
  MultiLineString => GMLine, MultiPolygon => GMPoly,
  GeometryCollection => GColl}
import graft.sources.OsmXml.OsmDataFrames

/** The analog of the reference's `testing::db::import_t` harness
  * (tests/common-import.hpp): run a Lua flex config over fixture-DSL
  * data, keep the landed tables and the middle across runs so the
  * next `append` applies a change, and answer the tests'
  * `get_count(table, where)` questions as Spark SQL over temp views
  * — with st_numpoints / st_geometrytype UDFs standing in for the
  * PostGIS calls the C++ assertions use. Ports of the
  * test-output-flex-*.cpp suites drive this directly. */
final class FlexCppHarness(spark: SparkSession, confFile: String) {

  private val lua = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get(s"/root/reference/tests/data/$confFile")),
    java.nio.charset.StandardCharsets.UTF_8)

  private var middle: Option[OsmDataFrames] = None
  private var tables: Map[String, DataFrame] = Map.empty

  spark.udf.register("st_numpoints",
    (b: Array[Byte]) => LuaGeom.nPoints(Ewkb.decode(b)))
  spark.udf.register("st_geometrytype",
    (b: Array[Byte]) => "ST_" + FlexCppHarness.typeName(Ewkb.decode(b)))
  spark.udf.register("st_astext",
    (b: Array[Byte]) => FlexCppHarness.wkt(Ewkb.decode(b)))

  /** content pinned as driver-side rows (tiny fixtures) so runs never
    * accumulate executor cache */
  private def materialize(df: DataFrame): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Multi-file import (test-output-flex-multi-input.cpp): the files
    * k-way merge with newest-version-per-id semantics before the
    * callbacks run (src/osmdata.cpp's type_id order merge). */
  def runImportFiles(datas: Seq[String]): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val parts = datas.map(d => graft.sources.OsmText.toFrames(spark, d))
    def merge(dfs: Seq[DataFrame]): DataFrame = {
      val w = Window.partitionBy(col("id")).orderBy(col("version").desc)
      dfs.reduce(_ unionByName _)
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
    }
    runFrames(OsmDataFrames(merge(parts.map(_.nodes)),
      merge(parts.map(_.ways)), merge(parts.map(_.relations))))
  }

  /** `db.run_file(options, file)`: create from one of the
    * reference's test files (pbf/osm). */
  def runFile(name: String): Unit = {
    val p = s"/root/reference/tests/data/$name"
    runFrames(graft.sources.OsmSource.read(spark, Seq(p)))
  }

  /** `db.run_import(options, data)`: create when no previous state,
    * append otherwise — exactly how the C++ tests flip
    * `options.append = true` after the first run. */
  def runImport(data: String, append: Boolean): Unit = {
    spark.catalog.clearCache()
    if (!append) {
      runFrames(graft.sources.OsmText.toFrames(spark, data))
    } else {
      val prev = middle.getOrElse(
        throw new IllegalStateException("append before import"))
      val change = graft.sources.OsmText.toFrames(spark, data,
        change = true)
      val cfg = new graft.flex.LuaFlexConfig(lua, confFile,
        mode = "append",
        properties = Map("attributes" -> "false",
          "prefix" -> "planet_osm", "updatable" -> "true"))
      val ar = graft.flex.FlexRunner.append(cfg, tables, prev, change)
      tables = ar.result.tables.map { case (n, tr) =>
        n -> materialize(tr.rows) }
      middle = Some(OsmDataFrames(materialize(ar.middle.nodes),
        materialize(ar.middle.ways), materialize(ar.middle.relations)))
    }
  }

  private def runFrames(osm: OsmDataFrames): Unit = {
    spark.catalog.clearCache()
    val cfg = new graft.flex.LuaFlexConfig(lua, confFile,
      properties = Map("attributes" -> "false",
        "prefix" -> "planet_osm", "updatable" -> "true"))
    val r = graft.flex.FlexRunner.run(cfg,
      graft.flex.Enrich.forFlex(osm, "create"))
    tables = r.tables.map { case (n, tr) => n -> materialize(tr.rows) }
    middle = Some(OsmDataFrames(materialize(osm.nodes),
      materialize(osm.ways), materialize(osm.relations)))
  }

  /** For the REQUIRE_THROWS ports: a failed import never assigns the
    * table map (assignment happens after materialization), so the
    * "nothing was committed" check reads 0 for an absent table. */
  def countOrZero(table: String): Long =
    if (tables.contains(table)) count(table) else 0L

  /** conn.get_count(table[, where]) */
  def count(table: String, where: String = null): Long = {
    val df = tables.getOrElse(table,
      throw new IllegalArgumentException(
        s"no table $table (have ${tables.keys.mkString(",")})"))
    df.createOrReplaceTempView(table)
    val sql = s"SELECT count(*) FROM $table" +
      Option(where).map(w => s" WHERE $w").getOrElse("")
    spark.sql(sql).head().getLong(0)
  }
}

object FlexCppHarness {
  /** PostGIS ST_AsText rendering (integral coordinates print without
    * a decimal point, like PG's float output). */
  def wkt(g: Geometry): String = {
    def f(d: Double): String =
      if (d == d.toLong.toDouble) d.toLong.toString else d.toString
    def pts(ps: Seq[graft.geom.Pt]): String =
      ps.map(p => s"${f(p.x)} ${f(p.y)}").mkString(",")
    g match {
      case p: GPoint => s"POINT(${f(p.x)} ${f(p.y)})"
      case l: GLine  => s"LINESTRING(${pts(l.pts)})"
      case p: GPoly  =>
        "POLYGON(" + (p.outer +: p.inners)
          .map(r => "(" + pts(r.pts) + ")").mkString(",") + ")"
      case m: GMLine =>
        "MULTILINESTRING(" +
          m.lines.map(l => "(" + pts(l.pts) + ")").mkString(",") + ")"
      case other => other.typeName.toUpperCase
    }
  }

  def typeName(g: Geometry): String = g match {
    case _: GPoint  => "Point"
    case _: GLine   => "LineString"
    case _: GPoly   => "Polygon"
    case _: GMPoint => "MultiPoint"
    case _: GMLine  => "MultiLineString"
    case _: GMPoly  => "MultiPolygon"
    case _: GColl   => "GeometryCollection"
    case _: NullGeom => "Null"
  }
}
