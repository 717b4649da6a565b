package graft

import java.nio.file.Files

import graft.geom._
import graft.operators.{ExpireMain, GenRunner}

/** run_gen dispatcher + stand-alone expire calculator. */
class GenRunnerSpec extends SparkSpecBase {
  import spark.implicits._

  private val EC = graft.functions.TileFunctions.EarthCircumference
  private val Half = EC / 2.0

  private def rectEwkb(px: Int, py: Int, w: Int, h: Int,
      grid: Int = 256): Array[Byte] = {
    val p = EC / grid
    Ewkb.encode(Polygon(Ring(Vector(
      Pt(-Half + px * p, Half - (py + h) * p),
      Pt(-Half + (px + w) * p, Half - (py + h) * p),
      Pt(-Half + (px + w) * p, Half - py * p),
      Pt(-Half + px * p, Half - py * p),
      Pt(-Half + px * p, Half - (py + h) * p))), Vector.empty,
      Srid.WebMercator))
  }

  test("runGen dispatches raster-union with string params") {
    val df = Seq(
      ("a", rectEwkb(10, 10, 8, 8)), ("a", rectEwkb(14, 14, 8, 8))
    ).toDF("cls", "geom")
    val out = GenRunner.runGen("raster-union", df, Map(
      "zoom" -> "2", "image_extent" -> "64", "buffer_size" -> "0",
      "turdsize" -> "0", "group_by_column" -> "cls"))
    // two 8x8 rects overlapping on a 4x4 patch
    assert(out.collect().map(_.getAs[Long]("painted_px")).max == 64 + 64 - 16)
  }

  test("runGen dispatches rivers and discrete-isolation") {
    val segs = Seq((1L, 10.0, 4.0), (1L, 30.0, 8.0), (2L, 5.0, 2.0))
      .toDF("way_id", "len", "width")
    // weighted averages: (10*4 + 30*8) / 40 = 7.0 ; 2.0
    val riversFull = GenRunner.runGen("rivers", segs, Map.empty)
      .collect().map(r => r.getAs[Long]("way_id") ->
        r.getAs[Double]("avg_width")).toMap
    assert(riversFull(1L) == 7.0 && riversFull(2L) == 2.0)

    val pts = Seq((1L, 0.0, 0.0, 9.0), (2L, 3.0, 4.0, 5.0))
      .toDF("id", "x", "y", "importance")
    val iso = GenRunner.runGen("discrete-isolation", pts,
      Map("cell_size" -> "10"))
      .collect().map(r => r.getAs[Long]("pid") ->
        r.getAs[Double]("isolation")).toMap
    assert(iso(2L) == 5.0) // distance to the more important point 1
    assert(iso(1L) == 10.0) // lower bound (cell size)
  }

  test("GenMain: parquet in → strategy → parquet out (gen binary analog)") {
    val dir = Files.createTempDirectory("graft-genmain")
    Seq((1L, 10.0, 4.0), (1L, 30.0, 8.0), (2L, 5.0, 2.0))
      .toDF("way_id", "len", "width")
      .write.mode("overwrite").parquet(s"$dir/in")
    graft.operators.GenMain.run(spark, "rivers", s"$dir/in", s"$dir/out",
      Map.empty)
    val got = spark.read.parquet(s"$dir/out")
      .collect().map(r => r.getAs[Long]("way_id") ->
        r.getAs[Double]("avg_width")).toMap
    assert(got == Map(1L -> 7.0, 2L -> 2.0))
  }

  test("runGen dispatches tile-sql over a tile-list frame") {
    // the landed source rows the template aggregates
    Seq((0L, 0L, 10), (1L, 0L, 20), (9L, 9L, 40))
      .toDF("tx", "ty", "v").createOrReplaceTempView("gen_src_rows")
    val tiles = Seq((1, 0L, 0L), (1, 1L, 0L)).toDF("zoom", "x", "y")
    val out = GenRunner.runGen("tile-sql", tiles, Map(
      "src" -> "gen_src_rows",
      "sql" -> ("SELECT {zoom} AS zoom, CAST({x} AS BIGINT) AS x, " +
        "CAST({y} AS BIGINT) AS y, " +
        "sum(v) AS total FROM {src} WHERE tx = {x} AND ty = {y}")))
    val got = out.orderBy("x").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1, 0L, 0L, 10L), (1, 1L, 0L, 20L)))
  }

  test("unknown strategy throws like the reference registry") {
    val df = Seq((1, Array.empty[Byte])).toDF("a", "geom")
    intercept[IllegalArgumentException] {
      GenRunner.runGen("no-such-strategy", df, Map.empty)
    }
  }

  test("ExpireMain writes the rolled-up zoom/x/y tile list") {
    val dir = Files.createTempDirectory("graft-expire").toString
    val in = s"$dir/geoms.parquet"
    val out = s"$dir/tiles.txt"
    Seq(Tuple1(rectEwkb(100, 100, 4, 4, grid = 1024)))
      .toDF("geom").write.parquet(in)
    ExpireMain.run(spark, Array(in, "geom", "10", "8", "full-area", out))
    // run uses the session it is given as configured (the suite's)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val lines = new String(Files.readAllBytes(
      java.nio.file.Paths.get(out)), "UTF-8").split("\n")
    assert(lines.nonEmpty)
    // all three zoom levels present, each line z/x/y
    val zooms = lines.map(_.split("/")(0).toInt).toSet
    assert(zooms == Set(8, 9, 10))
    assert(lines.forall(_.split("/").length == 3))
  }

  test("ExpireMain streams under the overall cap, never materializing the list") {
    // the reference binary's expire caps (src/expire-output.hpp:24-25):
    // the overall cap truncates the STREAMED write — the driver holds
    // one partition at a time, not the tile list (round-11 verdict)
    val dir = Files.createTempDirectory("graft-expire-cap").toString
    val in = s"$dir/geoms.parquet"
    Seq(Tuple1(rectEwkb(100, 100, 4, 4, grid = 1024)))
      .toDF("geom").write.parquet(in)
    val full = graft.operators.TileCover.geometryCover(
      spark.read.parquet(in), org.apache.spark.sql.functions.col("geom"),
      graft.operators.TileCover.Config(10, graft.operators.TileCover.FullArea))
    val rolled = graft.operators.Expire.rollup(full, "x", "y", 10, 8)
    val n = rolled.count()
    assert(n > 5)
    val out = s"$dir/capped.txt"
    val written = ExpireMain.writeStreamed(rolled, out, maxOverall = 5L)
    assert(written == 5L)
    val lines = new String(Files.readAllBytes(
      java.nio.file.Paths.get(out)), "UTF-8").split("\n")
    assert(lines.length == 5)
    // the uncapped run writes everything — and is the 5-line prefix
    val outAll = s"$dir/all.txt"
    assert(ExpireMain.writeStreamed(rolled, outAll, Long.MaxValue) == n)
    val all = new String(Files.readAllBytes(
      java.nio.file.Paths.get(outAll)), "UTF-8").split("\n")
    assert(all.take(5).toSeq == lines.toSeq)
  }
}
