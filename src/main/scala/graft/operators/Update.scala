package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Append/incremental-update machinery (reference: src/osmdata.cpp
  * §2.8 of SURVEY.md): change-file ingest with latest-version-wins,
  * changed-id tracking, and the dependency closure that turns changed
  * nodes into pending parent ways/relations.
  *
  * The reference implements this as hand-rolled id queues + per-id
  * reprocessing on a thread pool; here each step is a set-at-a-time
  * DataFrame op, so a 100 TB append is just a sequence of semi-joins.
  */
object Update {

  /** Collapse a change stream to the latest version per object id —
    * the k-way-merge "drop duplicate (type,id), keep highest priority"
    * rule (src/input.cpp:284-289) generalized to versioned diffs.
    * Deterministic: `versionCol` must be unique per id. */
  def latestVersion(changes: DataFrame, idCol: String,
      versionCol: String): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col(versionCol).desc)
    changes.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Split a collapsed change set into add/modify/delete ops by the
    * `visible` flag and prior existence (src/osmdata.cpp:55-72):
    * deleted objects carry visible=false. */
  def withOp(changes: DataFrame, visibleCol: String,
      versionCol: String): DataFrame =
    changes.withColumn("op",
      when(!col(visibleCol), lit("delete"))
        .when(col(versionCol) === 1, lit("create"))
        .otherwise(lit("modify")))

  /** Dependency closure stage 1b (src/osmdata.cpp:75-147): given changed
    * node ids, find pending parent ways; given changed/pending way ids,
    * find pending relations. Version-1 objects can't have parents and
    * are skipped by the caller (src/osmdata.cpp:63-67). Both hops are
    * the [[Middle]] semi-joins; this helper chains them and returns
    * distinct ids. */
  def dependencyClosure(
      changedNodeIds: DataFrame, // (id)
      ways: DataFrame, wayIdCol: String, refsCol: String,
      rels: DataFrame, relIdCol: String, membersCol: String,
      typeField: String = "type", refField: String = "ref")
      : (DataFrame, DataFrame) = {
    val pendingWays = Middle.parentsOfNodes(
      ways, wayIdCol, refsCol, changedNodeIds, changedNodeIds.columns.head)
    val relsFromNodes = Middle.parentsOfMembers(
      rels, relIdCol, membersCol, "n",
      changedNodeIds, changedNodeIds.columns.head, typeField, refField)
    val relsFromWays = Middle.parentsOfMembers(
      rels, relIdCol, membersCol, "w", pendingWays, wayIdCol,
      typeField, refField)
    (pendingWays.distinct(),
      relsFromNodes.unionByName(relsFromWays).distinct())
  }
}
