package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.OsmXml.OsmDataFrames

/** Persisted middle — the flat-nodes / slim-middle analog.
  *
  * The reference keeps the node/way/relation store either in RAM, in
  * PostgreSQL (`--slim`, src/middle-pgsql.cpp:1025-1063) or in a dense
  * mmap'd flat-nodes file (`-F`, src/node-persistent-cache.cpp:31-70,
  * ~90 GB for the planet) so that append runs can re-resolve geometries
  * without re-reading the import file. Our equivalent is parquet tables
  * **bucketed by entity id**: the planet-scale side of every append-mode
  * join (9B node locations) is pre-hashed on its join key at write time,
  * so re-resolution joins read it without an Exchange — only the small
  * changed-entity side shuffles. That is exactly the property the
  * flat-nodes file buys the reference (keyed access without touching a
  * query engine), expressed as Spark bucketing instead of an mmap.
  *
  * Layout: `{prefix}_nodes(id, lon, lat, tags …)`, `{prefix}_ways(id,
  * nodes, tags …)`, `{prefix}_rels(id, members, tags …)` — the slim
  * middle's three tables (src/middle-pgsql.cpp:1028-1052), each bucketed
  * and sorted by `id`. A bucketed-bucketed self-count or a join against
  * a same-bucketed table is Exchange-free; a join against an exploded
  * change set shuffles only the change set.
  *
  * Update semantics mirror delete+reinsert (src/middle-pgsql.cpp node/
  * way/relation update fns): latest version wins, `visible=false` rows
  * are dropped after the merge. The rewritten store is saved under a new
  * prefix and swapped — the `{name}_tmp` rename dance of
  * src/flex-table.cpp, since parquet tables are immutable.
  */
object MiddleStore {

  /** `buckets` sizes the hash layout: at planet scale pick
    * nodes ≈ one bucket per ~32 MB of (id, lon, lat); locally small.
    * The reference's analogous knob is the flat-nodes file block/cache
    * sizing (`-C`, man/osm2pgsql.md:143-151). */
  final case class Config(prefix: String = "graft_middle", buckets: Int = 8)

  private val Streams = Seq("nodes", "ways", "rels")

  def tableName(cfg: Config, stream: String): String = s"${cfg.prefix}_$stream"

  /** Write the three entity streams as id-bucketed, id-sorted parquet
    * tables. Any transient `action` column (change frames) is dropped —
    * the store holds current state, not history. */
  def save(osm: OsmDataFrames, cfg: Config): Unit = {
    def write(df: DataFrame, stream: String): Unit =
      df.drop("action").write.mode(SaveMode.Overwrite).format("parquet")
        .bucketBy(cfg.buckets, "id").sortBy("id")
        .saveAsTable(tableName(cfg, stream))
    write(osm.nodes, "nodes")
    write(osm.ways, "ways")
    write(osm.relations, "rels")
  }

  /** Reopen a saved middle. The returned frames carry the catalog's
    * bucketing spec, so joins on `id` against same-bucketed tables plan
    * without an Exchange on this side. */
  def load(spark: SparkSession, cfg: Config): OsmDataFrames =
    OsmDataFrames(
      spark.table(tableName(cfg, "nodes")),
      spark.table(tableName(cfg, "ways")),
      spark.table(tableName(cfg, "rels")))

  def exists(spark: SparkSession, cfg: Config): Boolean =
    Streams.forall(s => spark.catalog.tableExists(tableName(cfg, s)))

  def drop(spark: SparkSession, cfg: Config): Unit =
    Streams.foreach(s => spark.sql(
      s"DROP TABLE IF EXISTS ${tableName(cfg, s)}"))

  /** Apply a change frame to a stored middle and persist the result
    * under `next` (immutable-store form of delete+reinsert). The old
    * store is left in place for the caller to drop after the swap —
    * crash-safety by construction, like the reference's rename-last
    * ordering. Returns the updated frames, reopened from `next`. */
  def applyChanges(spark: SparkSession, current: Config, next: Config,
      changes: OsmDataFrames): OsmDataFrames = {
    require(next.prefix != current.prefix,
      "next prefix must differ from current (immutable store swap)")
    val updated = graft.classic.ClassicUpdate.applyChanges(
      load(spark, current), changes)
    save(updated, next)
    load(spark, next)
  }

  /** Resolve way coordinates against a *stored* middle — the append-mode
    * fast path: only `wayIds` (the changed/pending set) shuffles; the
    * bucketed node store is read in place. Output matches
    * [[Middle.resolveAllWayCoords]] (rwid, wlons, wlats). */
  def resolveWayCoordsFor(spark: SparkSession, cfg: Config,
      wayIds: DataFrame, idCol: String): DataFrame =
    Middle.resolveWayCoordsFor(load(spark, cfg), wayIds.select(col(idCol)))
}
