package osmbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{OsmPbf, OsmSource}

/** The generator is deterministic per seed and its files read back
  * through the program's own readers. */
class WorldSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()
  private val tmp = Files.createTempDirectory("osmbench-world")

  override def afterAll(): Unit = {
    spark.stop()
    Bench.delete(tmp)
  }

  private def files(dir: Path): Seq[(String, Seq[Byte])] = {
    val s = Files.list(dir)
    try s.toArray.toSeq.map(_.asInstanceOf[Path]).sortBy(_.toString)
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)
    finally s.close()
  }

  test("the same seed gives byte-identical files, another seed does not") {
    World.generate(7, 100, 2, tmp.resolve("a"))
    World.generate(7, 100, 2, tmp.resolve("b"))
    World.generate(8, 100, 2, tmp.resolve("c"))
    assert(files(tmp.resolve("a")) == files(tmp.resolve("b")))
    assert(files(tmp.resolve("a")).map(_._2) != files(tmp.resolve("c")).map(_._2))
  }

  test("the PBF holds blocks of at most 8000 entities and reads back whole") {
    val w = World.generate(7, 100, 2, tmp.resolve("r"))
    val blocks = OsmPbf.scanBlobs(w.pbf.toString)
    assert(blocks.count(_.blobType == "OSMHeader") == 1)
    val data = blocks.filter(_.blobType == "OSMData")
      .map(b => OsmPbf.decodeBlock(OsmPbf.readBlob(b)))
    assert(data.size >= 3)
    assert(data.forall(e => e.nodes.size + e.ways.size + e.relations.size <= 8000))

    val osm = OsmSource.read(spark, Seq(w.pbf.toString))
    assert(osm.nodes.count() == w.nodes)
    assert(osm.ways.count() == w.ways)
    assert(osm.relations.count() == w.relations)
    assert(osm.nodes.where("size(tags) > 0").count() == w.expected.pois)
    assert(osm.relations.where("tags['type'] = 'route'").count() ==
      w.expected.routes)
  }

  test("each diff reads back as a change file of the planned size") {
    val w = World.generate(7, 100, 2, tmp.resolve("d"))
    w.diffs.zip(w.changesPerDiff).foreach { case (d, n) =>
      val ch = OsmSource.read(spark, Seq(d.toString))
      assert(ch.nodes.count() + ch.ways.count() + ch.relations.count() == n)
    }
  }
}
