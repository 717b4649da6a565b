package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.geom._
import graft.operators.{Gen, RasterGen}

/** Generalization-engine query surface (SURVEY.md §2.6 gen:*): river
  * widths, discrete isolation, and the raster-union dissolve — each
  * against a DuckDB oracle on the synthetic tables.
  *
  * The raster oracle works because the traced rings are the EXACT
  * pixel boundary: enclosed area == painted pixel count, and the
  * center-inside fill rule for integer-grid rectangles is expressible
  * as plain integer comparisons, so DuckDB can count the same pixels
  * by brute-force enumeration of the global pixel grid.
  */
object GenQueries extends Registry {

  // ---- q43: river width aggregation (gen-rivers.cpp:202-233) ----
  // lineitem plays the segment table: way = order, len = quantity,
  // width = extendedprice.

  def riverWidths(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // scale 2 is exact for these inputs (quantity integer, price
    // 2-decimal) and keeps the DuckDB int64 decimal multiply in range
    Gen.riverWidthsExact(
      Tables.lineitem(s, d).select($"l_orderkey".as("way_id"),
        $"l_quantity", $"l_extendedprice"),
      "way_id", "l_quantity", "l_extendedprice", scale = 2)
  }

  val riverWidthsSql: String = {
    val sumLen = "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)"
    val sumProd = Exact.dsumProdSql("l_quantity", "l_extendedprice", scale = 2)
    s"""SELECT l_orderkey AS way_id,
       |  $sumProd / $sumLen AS avg_width,
       |  $sumLen AS total_len
       |FROM lineitem GROUP BY l_orderkey""".stripMargin
  }

  // ---- q44: discrete isolation (gen-discrete-isolation.cpp:60-151) ----
  // part plays the labeled-points table: deterministic integer grid
  // coordinates, retailprice as importance.

  private val CellSize = 100.0

  def discreteIsolation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pts = Tables.part(s, d).select(
      $"p_partkey".as("pid"),
      (($"p_partkey" * 2654435761L) % 1000).cast("double").as("px"),
      (($"p_partkey" * 2246822519L) % 1000).cast("double").as("py"),
      $"p_retailprice".as("imp"))
    Gen.discreteIsolation(pts, "pid", "px", "py", "imp", CellSize)
  }

  val discreteIsolationSql: String =
    s"""WITH pts AS (SELECT p_partkey AS pid,
       |  CAST((p_partkey * 2654435761) % 1000 AS DOUBLE) AS px,
       |  CAST((p_partkey * 2246822519) % 1000 AS DOUBLE) AS py,
       |  p_retailprice AS imp FROM part),
       |c AS (SELECT *, CAST(floor(px / 100.0) AS BIGINT) AS cx,
       |             CAST(floor(py / 100.0) AS BIGINT) AS cy FROM pts),
       |pairs AS (SELECT a.pid AS pid,
       |    sqrt((a.px - b.px) * (a.px - b.px) +
       |         (a.py - b.py) * (a.py - b.py)) AS d
       |  FROM c a JOIN c b
       |  ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
       |  AND (b.imp > a.imp OR (b.imp = a.imp AND b.pid < a.pid)))
       |SELECT p.pid, p.px, p.py, p.imp,
       |  coalesce(m.iso, 100.0) AS isolation
       |FROM pts p LEFT JOIN
       |  (SELECT pid, min(d) AS iso FROM pairs GROUP BY pid) m
       |  USING (pid)""".stripMargin

  // ---- q45: raster-union dissolve (gen-tile-raster.cpp:174-250) ----
  // Rectangles on the global 256x256 pixel grid (zoom 2, 64px tiles)
  // derived from event ids; the oracle counts covered pixels per tile
  // by enumerating the grid.

  private val EC = graft.functions.TileFunctions.EarthCircumference
  private val Half = EC / 2.0
  private val GridPx = 256 // 4 tiles x 64 px at zoom 2
  private val P = EC / GridPx

  def rasterUnion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ids = Tables.events(s, d).select($"event_id")
      .where($"event_id" % 29 === 0).distinct()
    val rects = ids.select(
      (($"event_id" * 2654435761L) % 236).as("px0"),
      (($"event_id" * 2246822519L) % 236).as("py0"),
      (lit(2) + $"event_id" % 18).as("w"),
      (lit(2) + expr("event_id DIV 7") % 18).as("h"))
    val mk = udf((px0: Long, py0: Long, w: Long, h: Long) => {
      val x0 = -Half + px0 * P; val x1 = -Half + (px0 + w) * P
      val yT = Half - py0 * P; val yB = Half - (py0 + h) * P
      Ewkb.encode(Polygon(Ring(Vector(Pt(x0, yB), Pt(x1, yB), Pt(x1, yT),
        Pt(x0, yT), Pt(x0, yB))), Vector.empty, Srid.WebMercator))
    })
    val geoms = rects.select(mk($"px0", $"py0", $"w", $"h").as("geom"))
    RasterGen.rasterUnion(geoms, "geom", None,
      RasterGen.Config(zoom = 2, imageExtent = 64, margin = 0.0,
        bufferSize = 0, turdsize = 0))
      .groupBy($"x", $"y")
      .agg(max($"painted_px").as("painted_px"),
        sum(round($"area" / (P * P)).cast("long")).as("area_px"))
  }

  val rasterUnionSql: String =
    """WITH r AS (SELECT
      |    (event_id * 2654435761) % 236 AS px0,
      |    (event_id * 2246822519) % 236 AS py0,
      |    2 + event_id % 18 AS w,
      |    2 + (event_id // 7) % 18 AS h
      |  FROM (SELECT DISTINCT event_id FROM events WHERE event_id % 29 = 0)),
      |cov AS (SELECT a.range AS pc, b.range AS pr
      |  FROM range(256) a, range(256) b
      |  WHERE EXISTS (SELECT 1 FROM r
      |    WHERE a.range >= px0 AND a.range < px0 + w
      |      AND b.range >= py0 AND b.range < py0 + h))
      |SELECT pc // 64 AS x, pr // 64 AS y,
      |  count(*) AS painted_px, count(*) AS area_px
      |FROM cov GROUP BY 1, 2""".stripMargin

  // ---- q47: vector-union dissolve (gen-tile-vector.cpp:38-75) ----
  // Oracle via the q45 trick: integer-grid rectangles, bufferSize=0
  // (Offset.buffer(_, 0) is the identity, so the buffer sandwich
  // degenerates to bin → union → dump — the distributed part of the
  // strategy). On that input the union region's area is an exact count
  // of covered unit cells and its perimeter an exact count of
  // boundary unit edges, both of which DuckDB recomputes by cell
  // enumeration: area = |cells|, perim = 4·|cells| − 2·|adjacent
  // covered pairs|. Nonzero-buffer closing (chordal-arc areas, not
  // SQL-expressible) stays pinned by OffsetSpec/PolyUnionSpec.

  def vectorUnion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ids = Tables.events(s, d).select($"event_id")
      .where($"event_id" % 293 === 0).distinct()
    val rects = ids.select(
      (($"event_id" * 2654435761L) % 236).as("px0"),
      (($"event_id" * 2246822519L) % 236).as("py0"),
      (lit(2) + $"event_id" % 18).as("w"),
      (lit(2) + expr("event_id DIV 7") % 18).as("h"))
    val mk = udf((px0: Long, py0: Long, w: Long, h: Long) => {
      val x0 = -Half + px0 * P; val x1 = -Half + (px0 + w) * P
      val yT = Half - py0 * P; val yB = Half - (py0 + h) * P
      Ewkb.encode(Polygon(Ring(Vector(Pt(x0, yB), Pt(x1, yB), Pt(x1, yT),
        Pt(x0, yT), Pt(x0, yB))), Vector.empty, Srid.WebMercator))
    })
    val geoms = rects.select(mk($"px0", $"py0", $"w", $"h").as("geom"))
    val perimeter = udf((ewkb: Array[Byte]) =>
      Ewkb.decode(ewkb) match {
        case Polygon(o, is, _) => (o +: is).map(r =>
          r.pts.iterator.zip(r.pts.iterator.drop(1))
            .map { case (a, b) => a.distanceTo(b) }.sum).sum
        case _ => 0.0
      })
    Gen.vectorUnion(geoms, "geom", None, zoom = 2, margin = 0.0,
      bufferSize = 0.0)
      .groupBy($"x", $"y")
      .agg(
        sum(round($"area" / (P * P)).cast("long")).as("area_px"),
        sum(round(perimeter($"geom") / P).cast("long")).as("perim_px"))
  }

  val vectorUnionSql: String =
    """WITH r AS (SELECT
      |    (event_id * 2654435761) % 236 AS px0,
      |    (event_id * 2246822519) % 236 AS py0,
      |    2 + event_id % 18 AS w,
      |    2 + (event_id // 7) % 18 AS h
      |  FROM (SELECT DISTINCT event_id FROM events WHERE event_id % 293 = 0)),
      |assigned AS (SELECT t.range AS tx, u.range AS ty,
      |    r.px0, r.py0, r.w, r.h
      |  FROM r, range(4) t, range(4) u
      |  WHERE t.range BETWEEN px0 // 64 AND LEAST(3, (px0 + w) // 64)
      |    AND u.range BETWEEN py0 // 64 AND LEAST(3, (py0 + h) // 64)),
      |cov AS (SELECT DISTINCT g.tx, g.ty, a.range AS cx, b.range AS cy
      |  FROM (SELECT DISTINCT tx, ty FROM assigned) g,
      |       range(256) a, range(256) b
      |  WHERE EXISTS (SELECT 1 FROM assigned s
      |    WHERE s.tx = g.tx AND s.ty = g.ty
      |      AND a.range >= s.px0 AND a.range < s.px0 + s.w
      |      AND b.range >= s.py0 AND b.range < s.py0 + s.h)),
      |n AS (SELECT tx, ty, count(*) AS ncell FROM cov GROUP BY 1, 2),
      |ah AS (SELECT c1.tx, c1.ty, count(*) AS a FROM cov c1 JOIN cov c2
      |  ON c1.tx = c2.tx AND c1.ty = c2.ty
      |    AND c2.cx = c1.cx + 1 AND c2.cy = c1.cy GROUP BY 1, 2),
      |av AS (SELECT c1.tx, c1.ty, count(*) AS a FROM cov c1 JOIN cov c2
      |  ON c1.tx = c2.tx AND c1.ty = c2.ty
      |    AND c2.cx = c1.cx AND c2.cy = c1.cy + 1 GROUP BY 1, 2)
      |SELECT n.tx AS x, n.ty AS y,
      |  CAST(ncell AS BIGINT) AS area_px,
      |  CAST(4 * ncell - 2 * (COALESCE(ah.a, 0) + COALESCE(av.a, 0))
      |    AS BIGINT) AS perim_px
      |FROM n LEFT JOIN ah USING (tx, ty) LEFT JOIN av USING (tx, ty)""".stripMargin

  val queries: Map[String, Q] = Map(
    "q43_gen_river_widths"      -> (riverWidths _),
    "q44_gen_discrete_isolation" -> (discreteIsolation _),
    "q45_gen_raster_union"      -> (rasterUnion _),
    "q47_gen_vector_union"      -> (vectorUnion _))

  val oracles: Map[String, String] = Map(
    "q43_gen_river_widths"      -> riverWidthsSql,
    "q44_gen_discrete_isolation" -> discreteIsolationSql,
    "q45_gen_raster_union"      -> rasterUnionSql,
    "q47_gen_vector_union"      -> vectorUnionSql)
}
