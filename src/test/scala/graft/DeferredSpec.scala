package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.queries.Deferred

/** [[Deferred.rows]]: the rows are computed when the DataFrame is
  * executed, once, and their computation may run Spark jobs itself,
  * on the calling thread and from Futures, as q112 and q125 do. */
class DeferredSpec extends SparkSpecBase {

  private val schema = StructType(Seq(StructField("n", LongType, false)))

  // two rows from nested jobs: one on the calling thread, one from a
  // Future
  private def nested(runs: AtomicInteger) =
    Deferred.rows(spark, schema) {
      runs.incrementAndGet()
      Seq(Row(spark.range(10).count()),
        Row(Await.result(Future(spark.range(5).count()), 1.minute)))
    }

  test("rows are computed at the first action, not at build, and once") {
    val runs = new AtomicInteger
    val df = nested(runs)
    assert(runs.get == 0, "building ran the computation")
    assert(df.schema == schema)
    assert(df.collect().toSeq == Seq(Row(10L), Row(5L)))
    assert(df.count() == 2)
    assert(runs.get == 1, s"computed ${runs.get} times")
  }

  test("an aggregate or a write as the first action runs nested jobs too") {
    val runs = new AtomicInteger
    assert(nested(runs).agg(sum("n")).head().getLong(0) == 15L)
    val out = java.nio.file.Files.createTempDirectory("deferred").toString
    try {
      nested(runs).coalesce(1).write.mode("overwrite").parquet(out)
      assert(spark.read.parquet(out).count() == 2)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(out))
    assert(runs.get == 2)
  }

  test("a failing computation fails the action with its own exception") {
    val df = Deferred.rows(spark, schema)(
      throw new java.nio.file.NoSuchFileException("/no/such/fixture"))
    val e = intercept[java.nio.file.NoSuchFileException](df.collect())
    assert(e.getMessage.contains("/no/such/fixture"))
  }
}
