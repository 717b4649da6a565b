package graft

import java.io.File
import java.nio.file.Files

import graft.operators.{IvfIndexStore, IvfPqIndexStore, IvfSqIndexStore,
  SqIndexStore}

/** Golden on-disk layout of the four persisted vector stores: the
  * artifact names under `v=N`, each parquet artifact's schema (names
  * and types, as a reader sees them) and the exact `params.json`
  * text. Stores written by one build must stay readable by the next,
  * so any change here is a format change and needs a rebuild story. */
class VectorStoreLayoutSpec extends SparkSpecBase {
  import spark.implicits._

  // 120 vectors, 8 dims: ids divisible by 25 give 4 coarse centroids
  private def vecs = (1L to 120L).map { i =>
    (i, (0 until 8).map(d =>
      math.sin(i * 0.37 + d * 1.13).toFloat).toArray.toSeq)
  }.toDF("id", "vec")

  /** name → parquet schema (directories) or file text (files), for
    * every artifact under the one committed version; hidden checksum
    * files are the filesystem's, not the store's. */
  private def layout(path: String): Map[String, String] = {
    val versions = new File(path).listFiles().map(_.getName)
    assert(versions.toSeq == Seq("v=1"), versions.mkString(","))
    new File(s"$path/v=1").listFiles().filterNot(_.getName.startsWith("."))
      .map { f =>
        f.getName -> (
          if (f.isDirectory) spark.read.parquet(f.getPath).schema.simpleString
          else new String(Files.readAllBytes(f.toPath), "UTF-8"))
      }.toMap
  }

  private def cellDirs(path: String): Set[String] =
    new File(s"$path/v=1/cells").listFiles().filter(_.isDirectory)
      .map(_.getName).toSet

  private def withDir(prefix: String)(body: String => Unit): Unit = {
    val path = Files.createTempDirectory(prefix).toString
    try body(path)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new File(path))
  }

  private val centroids = "struct<cid:bigint,cv:array<bigint>,cn:double>"
  private val codeCells = "struct<nid:bigint,codes:array<bigint>,cell:int>"
  private val cells = Set("cell=25", "cell=50", "cell=75", "cell=100")

  test("IVF (flat cells) layout") {
    withDir("layout-ivf") { path =>
      IvfIndexStore.write(vecs, path)
      assert(layout(path) == Map(
        "_COMMITTED" -> "",
        "centroids" -> centroids,
        "cells" ->
          "struct<nid:bigint,nv:array<bigint>,nn:double,cell:int>"))
      assert(cellDirs(path) == cells)
    }
  }

  test("IVF-PQ layout, plain and by residual") {
    for (byResidual <- Seq(false, true)) withDir("layout-ivfpq") { path =>
      IvfPqIndexStore.write(vecs, path, m = 4, byResidual = byResidual)
      assert(layout(path) == Map(
        "_COMMITTED" -> "",
        "centroids" -> centroids,
        "codebook" -> "struct<id:bigint,q:array<bigint>>",
        "cells" -> codeCells,
        "params.json" -> ("""{"m":4,"codebookSize":256,"centroidEvery":25,""" +
          s""""centroidCap":256,"byResidual":$byResidual}""" + "\n")),
        s"byResidual = $byResidual")
      assert(cellDirs(path) == cells)
    }
  }

  test("IVF-SQ8 layout") {
    withDir("layout-ivfsq") { path =>
      IvfSqIndexStore.write(vecs, path)
      assert(layout(path) == Map(
        "_COMMITTED" -> "",
        "centroids" -> centroids,
        "stats" -> "struct<s:int,mn:bigint,span:bigint>",
        "cells" -> codeCells,
        "params.json" -> "{\"dim\":8,\"bits\":8}\n"))
      assert(cellDirs(path) == cells)
    }
  }

  test("flat SQ8 layout") {
    withDir("layout-sq") { path =>
      SqIndexStore.write(vecs, path)
      assert(layout(path) == Map(
        "_COMMITTED" -> "",
        "stats" -> "struct<s:int,mn:bigint,span:bigint>",
        "codes" -> "struct<nid:bigint,codes:array<bigint>>",
        "params.json" -> "{\"dim\":8,\"bits\":8}\n"))
    }
  }

  test("an IVF-PQ store written before params.json serves a caller m") {
    withDir("layout-ivfpq-legacy") { path =>
      IvfPqIndexStore.write(vecs, path, m = 4)
      val queries = vecs.where($"id" < 4)
      def top(m: Int) = IvfPqIndexStore.probe(spark, path, queries, k = 3,
          m = m)
        .select($"qid", $"nid", $"score", $"rank")
        .as[(Long, Long, Long, Int)].collect().toSet
      val before = top(4)
      new File(s"$path/v=1/params.json").delete()
      new File(s"$path/v=1/.params.json.crc").delete()
      assert(top(4) == before && before.size == 3 * 3)
      val e = intercept[IllegalArgumentException](top(-1))
      assert(e.getMessage.contains("predates params.json"), e.getMessage)
    }
  }
}
