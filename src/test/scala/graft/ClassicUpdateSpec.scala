package graft

import graft.classic.{ClassicPipeline, ClassicUpdate, StyleFile}
import graft.sources.{OsmPbf, OsmXml}

/** The reference's update regression (tests/bdd/regression/
  * update.feature): import Liechtenstein, apply 000466354.osc.gz →
  * point=1457, line=3274, roads=380, polygon=4277 — asserted EXACTLY,
  * and the incremental path must agree with a full recompute.
  */
class ClassicUpdateSpec extends SparkSpecBase {

  private val pbf = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"
  private val osc = "/root/reference/tests/data/000466354.osc.gz"

  test("liechtenstein + diff matches reference goldens, incremental == full") {
    val style = StyleFile.defaultStyle
    val before = OsmPbf.read(spark, pbf)
    val prev = ClassicPipeline.run(before, style)
    val changes = OsmXml.readChangeFile(spark, osc)

    // full recompute on the updated entity state
    val after = ClassicUpdate.applyChanges(before, changes)
    val full = ClassicPipeline.run(after, style)
    val fullCounts = (full.point.count(), full.line.count(),
      full.roads.count(), full.polygon.count())
    info(s"full recompute: $fullCounts")
    assert(fullCounts == ((1457L, 3274L, 380L, 4277L)))

    // incremental: closure + re-derive + delete-then-insert
    val inc = ClassicUpdate.incrementalUpdate(before, changes, prev, style)
    val incCounts = (inc.point.count(), inc.line.count(),
      inc.roads.count(), inc.polygon.count())
    info(s"incremental: $incCounts")
    assert(incCounts == fullCounts)
  }

  test("hstore mode (-k/-j) matches its own update goldens") {
    val style = StyleFile.defaultStyle
    val before = OsmPbf.read(spark, pbf)
    val changes = OsmXml.readChangeFile(spark, osc)
    val after = ClassicUpdate.applyChanges(before, changes)
    val t = ClassicPipeline.run(after, style,
      ClassicPipeline.Settings(hstore = true))
    val counts = (t.point.count(), t.line.count(), t.roads.count(),
      t.polygon.count())
    info(s"hstore: $counts")
    // update.feature hstore scenario: 1475 / 3297 / 380 / 4278
    assert(counts == ((1475L, 3297L, 380L, 4278L)))
  }
}
