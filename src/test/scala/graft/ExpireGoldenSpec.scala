package graft

import scala.jdk.CollectionConverters._

import graft.operators.{Expire, TileCover}
import graft.sources.OsmSource

/** The osm2pgsql-expire binary's own golden outputs
  * (tests/bdd/expire/expire.feature + tests/data/expire/): the z18
  * full-area tile lists for buffer 0 and 0.5 must match EXACTLY —
  * this pins the whole chain: XML read, way-node resolution, point/
  * line/polygon/relation geometry construction, 3857 reprojection,
  * and the tile-cover algorithms (segment walk, scanline fill,
  * buffered boxes). */
class ExpireGoldenSpec extends SparkSpecBase {

  import spark.implicits._

  private val dataDir = "/root/reference/tests/data/expire"

  private def golden(name: String): Set[String] =
    java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(s"$dataDir/$name"))
      .asScala.filter(_.nonEmpty).toSet

  private lazy val osm = OsmSource.read(spark, Seq(s"$dataDir/test-data.osm"))

  private def run(buffer: Double): Set[String] =
    Expire.formatTiles(Expire.fromOsmEntities(osm,
      TileCover.Config(18, TileCover.FullArea, buffer)))
      .as[String].collect().toSet

  test("z18 full-area, default buffer 0.1: exact golden tile set") {
    // the "b0" fixture is the NO -b run → the default buffer of 0.1
    // (src/expire-config.hpp:35)
    val ours = run(0.1)
    val want = golden("test-z18-b0.tiles")
    val missing = want -- ours
    val extra = ours -- want
    assert(missing.isEmpty && extra.isEmpty,
      s"missing=${missing.take(5)} (${missing.size}) " +
        s"extra=${extra.take(5)} (${extra.size})")
  }

  test("z18 full-area, buffer 0.5: exact golden tile set") {
    val ours = run(0.5)
    val want = golden("test-z18-b05.tiles")
    val missing = want -- ours
    val extra = ours -- want
    assert(missing.isEmpty && extra.isEmpty,
      s"missing=${missing.take(5)} (${missing.size}) " +
        s"extra=${extra.take(5)} (${extra.size})")
  }

  test("geojson output: labels match the golden features, boxes agree") {
    val tiles = Expire.fromOsmEntities(osm,
      TileCover.Config(18, TileCover.FullArea, 0.1))
    val features = Expire.geojsonFeatures(tiles)
      .as[String].collect()
    val labelRe = """"label":"([^"]+)"""".r
    val ourLabels = features
      .flatMap(f => labelRe.findFirstMatchIn(f).map(_.group(1))).toSet
    val goldenText = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dataDir/test-z18-b0.geojson")), "UTF-8")
    val goldenLabels = labelRe.findAllMatchIn(goldenText)
      .map(_.group(1)).toSet
    assert(ourLabels == goldenLabels)
    // box math agrees with the reference's printed coordinates
    val coordRe =
      """\{"geometry":\{"coordinates":\[\[\[([-0-9.]+),([-0-9.]+)\],\[[-0-9.]+,([-0-9.]+)""".r
    val m = coordRe.findFirstMatchIn(goldenText).get
    val label = labelRe.findFirstMatchIn(goldenText).get.group(1)
    val Array(z, x, y) = label.split("/").map(_.toLong)
    val (minx, miny, _, maxy) = Expire.tileBox3857(x, y, z.toInt)
    assert(math.abs(minx - m.group(1).toDouble) < 1e-6)
    assert(math.abs(miny - m.group(2).toDouble) < 1e-6)
    assert(math.abs(maxy - m.group(3).toDouble) < 1e-6)
  }
}
