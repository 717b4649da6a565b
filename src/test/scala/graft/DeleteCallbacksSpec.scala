package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.OsmSource

/** Port of tests/bdd/flex/delete-callbacks.feature: applying
  * 008-ch.osc.gz in append mode must surface every deleted entity to
  * the process_deleted_* callbacks — the `change` table's per-type
  * counts, version sums and id sums are the feature's own goldens over
  * real data. Declaratively the callback stream IS the
  * action='delete' slice of the change frames. */
class DeleteCallbacksSpec extends SparkSpecBase {

  import spark.implicits._

  test("delete callbacks see every deleted entity (008-ch goldens)") {
    val ch = OsmSource.read(spark,
      Seq("/root/reference/tests/data/008-ch.osc.gz"))

    def agg(df: DataFrame): (Long, Long, Long) =
      df.where($"action" === "delete")
        .agg(count(lit(1)), sum($"version"), sum($"id"))
        .as[(Long, Long, Long)].head()

    assert(agg(ch.nodes) == ((16773L, 16779L, 37856781001834L)))
    assert(agg(ch.ways) == ((4L, 9L, 350933407L)))
    assert(agg(ch.relations) == ((1L, 3L, 2871571L)))
  }

  test("deleted entities carry no payload") {
    // "No object payload is available": deletes arrive id+version only
    val ch = OsmSource.read(spark,
      Seq("/root/reference/tests/data/008-ch.osc.gz"))
    val n = ch.nodes.where($"action" === "delete")
      .where(size($"tags") === 0).count()
    val w = ch.ways.where($"action" === "delete")
      .where(size($"nodes") === 0 && size($"tags") === 0).count()
    val r = ch.relations.where($"action" === "delete")
      .where(size($"members") === 0 && size($"tags") === 0).count()
    assert(n == 16773L && w == 4L && r == 1L)
  }
}
