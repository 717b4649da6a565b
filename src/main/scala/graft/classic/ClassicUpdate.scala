package graft.classic

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Middle, Par}
import graft.sources.OsmXml.OsmDataFrames

/** Append mode for the classic output (reference: src/osmdata.cpp +
  * §2.8 of SURVEY.md): apply a change file, compute the dependency
  * closure, re-derive exactly the affected rows, and merge with the
  * previous table state (delete-then-insert).
  *
  * Everything is semi-joins over the updated entity sets — the
  * set-at-a-time form of the reference's pending-id queues.
  */
object ClassicUpdate {

  /** Latest-version-wins application of a change set to one entity
    * stream; deletes drop the entity (visible=false rows removed after
    * the merge, matching delete+reinsert middle semantics,
    * src/middle-pgsql.cpp). */
  def applyToStream(base: DataFrame, changes: DataFrame): DataFrame = {
    val cols = base.columns.filter(c => c != "action").toIndexedSeq
    val merged = graft.sources.Validate.mergeFiles(
      Seq(
        base.selectExpr(cols: _*).withColumn("__prio", lit(0)),
        changes.selectExpr(cols: _*).withColumn("__prio", lit(1))),
      "id", "version", "__prio").drop("__prio")
    merged.where(col("visible"))
  }

  def applyChanges(base: OsmDataFrames, ch: OsmDataFrames): OsmDataFrames =
    OsmDataFrames(
      applyToStream(base.nodes, ch.nodes),
      applyToStream(base.ways, ch.ways),
      applyToStream(base.relations, ch.relations),
      // keep both inputs' parsed-entity caches releasable through the
      // merged frames' unpersistBacking()
      backing = base.backing ++ ch.backing)

  /** [[applyChanges]] run once: the three merged streams are
    * materialized side by side, so the middle writes, the dependency
    * closure and the re-derivation all read the stored rows. `backing`
    * holds exactly those rows (the inputs' own caches stay with the
    * inputs); a failure releases the streams already stored. */
  def mergeOnce(base: OsmDataFrames, ch: OsmDataFrames): OsmDataFrames = {
    val spark = base.nodes.sparkSession
    val merged = applyChanges(base, ch)
    val stored = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]()
    val streams = Seq("nodes" -> merged.nodes, "ways" -> merged.ways,
      "relations" -> merged.relations)
    val Seq(nodes, ways, relations) =
      try Par.overlap(spark)(streams.map { case (name, df) => () =>
        Par.describe(spark, s"merge $name") {
          val (cp, rdd) = ClassicPipeline.materialize(df)
          stored.add(rdd)
          cp
        }
      }: _*)
      catch {
        case t: Throwable =>
          stored.forEach(_.unpersist(blocking = false))
          throw t
      }
    OsmDataFrames(nodes, ways, relations,
      backing = stored.toArray(Array.empty[RDD[_]]).toSeq)
  }

  /** The append computation's pieces, exposed for sinks that apply
    * delete-then-insert natively (the live PostgreSQL load keys
    * deletes on the id sets and inserts only `rederived`, matching
    * db_deleter_by_id_t + the re-derive queue). `backing` holds the
    * RDDs of the materialized id sets and rows. */
  final case class Delta(changedNodes: DataFrame, pendingWays: DataFrame,
      pendingRels: DataFrame, rederived: ClassicPipeline.Tables4,
      backing: Seq[RDD[_]] = Nil) {
    /** The key set of the line, polygon and roads tables: pending ways
      * ∪ negated pending relations (relation rows key on -id). */
    val wayKeys: DataFrame = pendingWays.select(col("id"))
      .unionByName(pendingRels.select((-col("id")).as("id")))

    /** Release the materialized id sets and rows; call once every
      * consumer ran. */
    def unpersistBacking(): Unit =
      backing.foreach(_.unpersist(blocking = false))
  }

  /** Incremental table update. Returns the updated 4 tables.
    *
    * Pipeline (src/osmdata.cpp:371-406):
    *  1. changed ids per type from the change file (incl. deletes);
    *  2. dependency closure on the UPDATED reference graph: parent
    *     ways of changed nodes; parent relations of changed nodes and
    *     of (changed ∪ pending) ways;
    *  3. re-derive rows for changed nodes / pending ways / pending
    *     relations only (resolution sees all entities);
    *  4. delete-then-insert: drop previous rows keyed by those ids
    *     (negative for relations), union the re-derived rows.
    */
  def incrementalUpdate(before: OsmDataFrames, changes: OsmDataFrames,
      prev: ClassicPipeline.Tables4, style: Style,
      settings: ClassicPipeline.Settings = ClassicPipeline.Settings())
      : ClassicPipeline.Tables4 =
    applyDelta(prev, computeDelta(before, changes, style, settings))

  /** Steps 1-3 of [[incrementalUpdate]]: the id closures plus the
    * re-derived rows, without merging into previous tables. */
  def computeDelta(before: OsmDataFrames, changes: OsmDataFrames,
      style: Style,
      settings: ClassicPipeline.Settings = ClassicPipeline.Settings())
      : Delta =
    deltaOn(applyChanges(before, changes), changes, style, settings)

  /** The dependency closure (step 2 of [[incrementalUpdate]]) as one
    * lazy `(id, kind)` frame, kind `n` for the changed nodes, `w` for
    * the pending ways and `r` for the pending relations. Every hop
    * broadcasts its change-sized side ([[Middle.parentsOfNodes]]), so
    * the stored ways and relations are never shuffled; the one
    * `distinct` runs over the closure's own rows. */
  def closure(after: OsmDataFrames, changes: OsmDataFrames): DataFrame = {
    val changedNodes = changes.nodes.select(col("id"))
    val pendingWays = changes.ways.select(col("id")).unionByName(
      Middle.parentsOfNodes(after.ways, "id", "nodes", changedNodes, "id")
        .toDF("id"))
    val pendingRels = changes.relations.select(col("id"))
      .unionByName(Middle.parentsOfMembers(after.relations, "id",
        "members", "n", changedNodes, "id", typeField = "mtype").toDF("id"))
      .unionByName(Middle.parentsOfMembers(after.relations, "id",
        "members", "w", pendingWays, "id", typeField = "mtype").toDF("id"))
    Seq("n" -> changedNodes, "w" -> pendingWays, "r" -> pendingRels)
      .map { case (k, df) => df.select(col("id"), lit(k).as("kind")) }
      .reduce(_ unionByName _)
      .distinct()
  }

  /** [[computeDelta]] against the already-merged entity state `after`
    * (e.g. the stored streams of [[mergeOnce]]). The [[closure]] and
    * the re-derived rows are each materialized once, so the delta's
    * consumers read stored rows; a failure releases what was stored. */
  def deltaOn(after: OsmDataFrames, changes: OsmDataFrames,
      style: Style,
      settings: ClassicPipeline.Settings = ClassicPipeline.Settings())
      : Delta = {
    val (ids, idsRdd) = ClassicPipeline.materialize(closure(after, changes))
    def idsOf(kind: String): DataFrame =
      ids.where(col("kind") === kind).select(col("id"))
    val (nodeIds, wayIds, relIds) = (idsOf("n"), idsOf("w"), idsOf("r"))

    val rederived =
      try ClassicPipeline.derive(after, style, settings,
        ClassicPipeline.Subset(Some(nodeIds), Some(wayIds), Some(relIds)))
      catch {
        case t: Throwable =>
          idsRdd.unpersist(blocking = false)
          throw t
      }
    Delta(nodeIds, wayIds, relIds, rederived,
      backing = idsRdd +: rederived.backing)
  }

  /** Step 4 of [[incrementalUpdate]]: delete-then-insert against the
    * previous table state, one anti-join per table: the point table
    * keys on the changed nodes, the way tables on [[Delta.wayKeys]].
    * The change-sized id side is broadcast, so a previous table is
    * never shuffled. The anti-join keeps every partition of the table,
    * so each result is coalesced to at most as many partitions as the
    * table has files: an append never writes more part files than
    * the table had (a table not read from files keeps its
    * partitions). */
  def applyDelta(prev: ClassicPipeline.Tables4,
      d: Delta): ClassicPipeline.Tables4 = {
    def update(prevT: DataFrame, ids: DataFrame,
        rows: DataFrame): DataFrame = {
      val updated = prevT
        .join(broadcast(ids.select(col("id").as("__del"))),
          col("osm_id") === col("__del"), "left_anti")
        .unionByName(rows)
      val files = prevT.inputFiles.length
      if (files == 0) updated else updated.coalesce(files)
    }

    ClassicPipeline.Tables4(
      point = update(prev.point, d.changedNodes, d.rederived.point),
      line = update(prev.line, d.wayKeys, d.rederived.line),
      polygon = update(prev.polygon, d.wayKeys, d.rederived.polygon),
      roads = update(prev.roads, d.wayKeys, d.rederived.roads))
  }
}
