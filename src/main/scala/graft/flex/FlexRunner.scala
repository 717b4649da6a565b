package graft.flex

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.operators.{Expire, Middle, Progress, TileCover}
import graft.sources.OsmXml.OsmDataFrames

/** Executes a [[FlexConfig]] end to end — the analog of the flex
  * output's process loop (src/output-flex.cpp:893-1006): run the
  * per-entity callbacks, coerce every declared column (including
  * typed-geometry wrap/reprojection), enforce NOT NULL as soft errors
  * (violating rows dropped, counted via observable metrics), and
  * compute each expire output's dirty-tile set from the geometry
  * columns that reference it.
  *
  * Everything stays one declarative plan per table: coercion and
  * null-filtering are column transforms fused into the insert scan,
  * and the violation counters ride the same pass as `observe` metrics
  * (no second action). Expire covers reuse the written frames.
  *
  * [[append]] is the incremental update flow (src/osmdata.cpp §2.8 +
  * output-flex.cpp way_modify/relation_modify/…_delete): change-id
  * collapse → dependency closure → re-derive through the callbacks →
  * delete-then-insert per table. Each step is a set-at-a-time
  * DataFrame op (semi/anti joins on object ids), so the cost scales
  * with the CHANGE, not the planet.
  */
object FlexRunner {

  final case class TableResult(
      rows: DataFrame,
      /** read AFTER an action on `rows` (observable metrics) */
      inserts: Observation)

  final case class Result(
      tables: Map[String, TableResult],
      /** expire-output name → (zoom, x, y) dirty tiles, rolled up
        * over the output's zoom range */
      expire: Map[String, DataFrame])

  def run(config: FlexConfig, osm: OsmDataFrames): Result = {
    val tables = deriveTables(config, osm)
    Result(tables, expireTiles(config,
      name => tables.get(name).map(_.rows)))
  }

  // ---------- the create-path building blocks ----------

  /** Run the callbacks over the entity frames and coerce the declared
    * columns — the shared core of [[run]] and [[append]]. */
  private def deriveTables(config: FlexConfig, osm: OsmDataFrames)
      : Map[String, TableResult] = {
    // a config with zero tables is a WARNING in the reference
    // (output-flex.cpp:1361) — callbacks still run, so their errors
    // surface (geometry-point.feature's as_point argument checks)
    if (config.tables.isEmpty)
      System.err.println("[graft] No output tables defined!")
    else FlexConfig.validateTables(config.tables)
    val defs = config.tables.map(t => t.name -> t).toMap

    // >32767-member relations are ignored before any callback runs
    // (src/osmdata.cpp:151, input.feature)
    val rels =
      if (osm.relations.columns.contains("members"))
        graft.sources.Validate.dropOversizeRelations(osm.relations)
      else osm.relations
    val inserts: Seq[(String, DataFrame)] =
      (config.processNodes(osm.nodes).toSeq ++
        config.processWays(osm.ways).toSeq ++
        config.processRelations(rels).toSeq ++
        config.processGraph(osm.copy(relations = rels)).toSeq)
    inserts.collectFirst {
      case (name, _) if !defs.contains(name) => name
    }.foreach(name => throw new IllegalArgumentException(
      s"Insert into undefined table '$name'."))

    inserts.groupBy(_._1).map { case (name, parts) =>
      val t = defs(name)
      val unioned = parts.map(_._2).reduce(_ unionByName _)
      // declared columns only, coerced; absent columns become NULL
      // (a Lua insert without the field, flex-write.cpp:274-279);
      // NoIndex tables carry no id column at all (table-ids.feature)
      val idCols: Seq[Column] = t.idFields.map(f => col(f._1))
      val cols: Seq[Column] = idCols ++ t.writeColumns.map { c =>
        val (in, dt) =
          if (unioned.columns.contains(c.name))
            (col(c.name), Some(unioned.schema(c.name).dataType))
          else (lit(null), None)
        Coerce.coerce(in, c, dt).as(c.name)
      }
      val coerced = unioned.select(cols: _*)
      // NOT NULL soft errors: count in-pass, then drop the rows
      val (observed, obs) = Progress.insertCounts(coerced,
        t.writeColumns.filter(_.notNull).map(_.name), s"inserts_$name")
      val kept = t.writeColumns.filter(_.notNull)
        .foldLeft(observed)((df, c) => df.where(col(c.name).isNotNull))
      name -> TableResult(kept, obs)
    }
  }

  /** Dirty-tile rollups per expire output; `coverRows` supplies the
    * frame whose geometry columns dirty tiles for a given table (the
    * final rows on create; this run's new+old rows on append). */
  private def expireTiles(config: FlexConfig,
      coverRows: String => Option[DataFrame]): Map[String, DataFrame] = {
    val expireRefs: Seq[(FlexExpireOutput, DataFrame, FlexExpireRef)] =
      config.tables.flatMap { t =>
        t.columns.flatMap(c => c.expire.flatMap(ref =>
          coverRows(t.name).map(rows =>
            (ref.output, rows.select(col(c.name).as("geom")), ref))))
      }
    expireRefs.groupBy(_._1.name).map { case (name, refs) =>
      val out = refs.head._1
      val tiles = refs.map { case (_, geoms, ref) =>
        TileCover.geometryCoverCapped(geoms, col("geom"),
          TileCover.Config(out.maxzoom, ref.mode, ref.buffer),
          out.maxTilesPerGeometry)
      }.reduce(_ unionByName _).distinct()
      name -> Expire.rollup(tiles, "x", "y", out.maxzoom, out.minzoom)
    }
  }

  // ---------- the append (incremental update) flow ----------

  final case class AppendResult(
      /** final table contents after delete-then-insert, plus the
        * dirty tiles of THIS change (old ∪ new geometry covers) */
      result: Result,
      /** the advanced middle: latest-version-wins, deletes removed —
        * feed to the next append */
      middle: OsmDataFrames)

  /** Apply a change to a previously-derived state.
    *
    * @param prevTables table name → final coerced rows of the
    *        previous run ([[Result]].tables rows, materialized)
    * @param prevMiddle the raw (un-enriched) entity frames the
    *        previous state derived from — the persisted middle
    * @param change raw change frames with an `action` column
    *        (`modify`/`delete`/`create`, e.g. from an .osc read)
    *
    * Semantics follow the reference's append flow:
    *  1. collapse the change to latest version per id;
    *  2. advance the middle (change rows replace, deletes drop);
    *  3. dependency closure: parent ways of changed nodes; parent
    *     relations of changed nodes/ways; member ways+nodes of every
    *     touched relation, over OLD ∪ NEW membership (a deleted
    *     relation un-marks its members, way-relation-del.feature);
    *  4. re-derive the touched objects through the callbacks; deleted
    *     objects dispatch `process_deleted_*` with attributes only;
    *     unchanged parent relations of re-derived members run
    *     marks-only (`__marks_only`, the stage-1c contract);
    *  5. per table: delete rows whose mapped id belongs to a touched
    *     object of a kind the table stores, insert this run's rows.
    *     NoIndex tables are insert-only (table-ids.feature).
    */
  def append(config: FlexConfig,
      prevTables: Map[String, DataFrame],
      prevMiddle: OsmDataFrames,
      change: OsmDataFrames,
      /** false = the middle stores no object attributes (the default
        * without -x/--extra-attributes): objects re-derived FROM the
        * middle present nil version/timestamp/changeset/uid/user to
        * the callbacks, while objects coming from the change file keep
        * theirs (extra-attributes.feature; the reference only
        * persists attributes into the middle under -x). */
      storeAttributes: Boolean = true): AppendResult = {
    val spark = prevMiddle.nodes.sparkSession

    def collapse(chg: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("id")).orderBy(col("version").desc)
      chg.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
    }
    val chgN = collapse(change.nodes)
    val chgW = collapse(change.ways)
    val chgR = collapse(change.relations)

    val attrCols0 = Set("version", "timestamp", "changeset", "uid", "user")

    // 2. advance the middle: change rows replace same-id middle rows
    // (version ties go to the change), deletes drop out
    def advance(prev: DataFrame, chg: DataFrame): DataFrame = {
      val base0 = prev.drop("action")
      // __pri orders FIRST: a change row always beats the prev row of
      // the same id even when the prev side's version is nulled
      val base =
        if (storeAttributes) base0
        else attrCols0.foldLeft(base0) { (df, c) =>
          if (df.columns.contains(c))
            df.withColumn(c, lit(null).cast(df.schema(c).dataType))
          else df
        }
      val cols = base.columns
      val p = base.withColumn("action", lit("create"))
        .withColumn("__pri", lit(0))
      val c = chg.withColumn("__pri", lit(1))
        .select((cols.map(col) :+ col("action") :+ col("__pri")): _*)
      val w = Window.partitionBy(col("id"))
        .orderBy(col("__pri").desc, col("version").desc)
      p.unionByName(c)
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1 && col("action") =!= "delete")
        .drop("__rn", "__pri")
        .withColumn("action", lit("create"))
    }
    val newMiddle = OsmDataFrames(
      advance(prevMiddle.nodes, chgN),
      advance(prevMiddle.ways, chgW),
      advance(prevMiddle.relations, chgR))

    // 3. dependency closure (src/osmdata.cpp:75-147 + the flex
    // member-tracking that way-relation-del.feature pins)
    //
    // The closure id frames are small — bounded by the change and its
    // parent fan-out — but their lineage embeds window and join
    // subplans over the whole middle, and they feed MANY downstream
    // consumers (the restricted enrichment, per-pass restricts,
    // delete keys, expire pairing, id-cache seeds). Without lineage
    // truncation every consumer re-executes that DAG (measured 3.3x
    // wall-clock on the BDD append suite); eagerly materialize each
    // id set once.
    def pin(df: DataFrame): DataFrame = df.localCheckpoint(true)
    val chNid = pin(chgN.select(col("id")).distinct())
    val chWid = pin(chgW.select(col("id")).distinct())
    val chRid = pin(chgR.select(col("id")).distinct())

    val parentW = Middle.parentsOfNodes(
      newMiddle.ways, "id", "nodes", chNid, "id")
    val touchedWpre = chWid.unionByName(parentW.toDF("id")).distinct()
    val relFromN = Middle.parentsOfMembers(newMiddle.relations,
      "id", "members", "n", chNid, "id", "mtype", "ref")
    val relFromW = Middle.parentsOfMembers(newMiddle.relations,
      "id", "members", "w", touchedWpre, "id", "mtype", "ref")
    val touchedR = pin(chRid.unionByName(relFromN.toDF("id"))
      .unionByName(relFromW.toDF("id")).distinct())

    // member ways/nodes of touched relations, old ∪ new membership —
    // ONLY for two-stage configs: the reference re-renders members
    // exclusively through select_relation_members marks + the stage-2
    // reprocess (osmdata.cpp:159, output-flex.cpp reprocess_marked);
    // without stage 2 a relation change never touches member rows,
    // and re-deriving them would wrongly dirty their expire tiles
    // (run-with-expire.feature "Expire into table in append mode")
    def membersOf(mtype: String): DataFrame = {
      val relRows = prevMiddle.relations.select(col("id"), col("members"))
        .unionByName(newMiddle.relations.select(col("id"), col("members")))
      relRows.join(touchedR.toDF("tid"), col("id") === col("tid"),
          "left_semi")
        .select(explode(col("members")).as("m"))
        .where(col("m.mtype") === mtype)
        .select(col("m.ref").as("id")).distinct()
    }
    val touchedW = pin(
      if (config.twoStage) touchedWpre.unionByName(membersOf("w")).distinct()
      else touchedWpre)
    val touchedN =
      if (config.twoStage) pin(chNid.unionByName(membersOf("n")).distinct())
      else chNid

    // marks-only relations: unchanged parents of re-derived members —
    // they regenerate select_relation_members marks, never inserts
    // (stage-1c; only meaningful for two-stage configs)
    val marksOnlyR =
      if (!config.twoStage) chRid.limit(0)
      else pin(Middle.parentsOfMembers(newMiddle.relations,
          "id", "members", "w", touchedW, "id", "mtype", "ref")
        .toDF("id")
        .unionByName(Middle.parentsOfMembers(newMiddle.relations,
          "id", "members", "n", touchedN, "id", "mtype", "ref").toDF("id"))
        .distinct()
        .join(touchedR.toDF("tid"), col("id") === col("tid"), "left_anti"))

    // 4. re-derive: enrich only the dependency closure (touched ways
    // + member ways of touched relations), probing the full node
    // frame for locations — change-proportional work, not a planet
    // re-enrichment (the reference appends via per-object middle
    // lookups for exactly this set, src/osmdata.cpp:75-147)
    val enriched = Enrich.forFlexTouched(newMiddle, "append",
      touchedW, touchedR.unionByName(marksOnlyR).distinct())
    def restrict(df: DataFrame, ids: DataFrame): DataFrame =
      df.join(ids.toDF("tid"), df("id") === col("tid"), "left_semi")
    // deleted objects re-enter the pass as attribute-only rows (the
    // reference pushes no payload for deletes, delete-callbacks
    // feature "No object payload is available")
    val attrCols = Set("id", "version", "timestamp", "changeset",
      "uid", "user", "visible")
    def deletedRows(chg: DataFrame, target: StructType): DataFrame = {
      val del = chg.where(col("action") === "delete")
      del.select(target.fields.map { f =>
        if (f.name == "action") lit("delete").as("action")
        else if (attrCols(f.name) && del.columns.contains(f.name))
          col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toSeq: _*)
    }
    val procN = restrict(enriched.nodes, touchedN)
      .unionByName(deletedRows(chgN, enriched.nodes.schema))
    val procW = restrict(enriched.ways, touchedW)
      .unionByName(deletedRows(chgW, enriched.ways.schema))
    val relsWithFlag = enriched.relations
    val procR = restrict(relsWithFlag, touchedR)
      .withColumn("__marks_only", lit(false))
      .unionByName(restrict(relsWithFlag, marksOnlyR)
        .withColumn("__marks_only", lit(true)))
      .unionByName(deletedRows(chgR, relsWithFlag.schema)
        .withColumn("__marks_only", lit(false)))

    // id caches on append: the reference re-seeds each cache-enabled
    // table's cache from the database after the node stage
    // (src/output-flex.cpp:1046-1059, `SELECT ids FROM table` into an
    // in-RAM idlist_t) — so the way pass sees the prev table's node
    // ids (minus this change's touched nodes, whose rows are about to
    // be deleted) plus this run's node-pass inserts. The seed stays a
    // lazy DataFrame here: LuaFlexConfig.processGraph size-gates it —
    // small caches collect+broadcast (the reference's in-RAM idlist),
    // planet-scale ones never touch the driver and probe via a
    // distributed join instead.
    config match {
      case lc: LuaFlexConfig if config.tables.exists(_.idCache) =>
        lc.appendIdCacheSeed = config.tables.filter(_.idCache).flatMap { t =>
          prevTables.get(t.name).map { prev =>
            t.name -> prev.select(col(t.idColumn).cast("long").as("id"))
              .join(touchedN.toDF("tid"), col("id") === col("tid"),
                "left_anti")
          }
        }.toMap
      case _ => ()
    }

    val thisRun = deriveTables(config,
      OsmDataFrames(procN, procW, procR))

    // 5. delete-then-insert per table
    def kindsFor(ids: FlexIds.Value): Seq[String] = ids match {
      case FlexIds.Node      => Seq("n")
      case FlexIds.Way       => Seq("w")
      case FlexIds.Relation  => Seq("r")
      case FlexIds.Area      => Seq("w", "r")
      case FlexIds.AnyObject => Seq("n", "w", "r")
      case _                 => Nil
    }
    val touchedByKind = Map("n" -> touchedN, "w" -> touchedW,
      "r" -> touchedR)

    def emptyTable(t: FlexTableDef): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], t.schema)

    /** keys of rows this change displaces in table `t` (its touched
      * object ids rendered through the table's id mapping) */
    def delKeys(t: FlexTableDef): Option[DataFrame] = {
      val kinds = kindsFor(t.ids)
      if (kinds.isEmpty || !t.hasIds) None
      else Some(kinds.map { kind =>
        val touched = touchedByKind(kind)
        if (t.typeColumn.isDefined)
          touched.select(
            lit(kind.toUpperCase).as(t.typeColumn.get),
            col("id").cast("long").as(t.idColumn))
        else
          touched.select(t.mapId(lit(kind), col("id")).as(t.idColumn))
      }.reduce(_ unionByName _).distinct())
    }

    val mergedTables: Map[String, TableResult] =
      config.tables.map { t =>
        val newRows = thisRun.get(t.name).map(_.rows)
          .getOrElse(emptyTable(t))
        val prev = prevTables.getOrElse(t.name, emptyTable(t))
        val merged = t.ids match {
          case FlexIds.NoIndex => prev.unionByName(newRows)
          case FlexIds.Tile =>
            // tile tables rewrite by tile key (x, y)
            prev.join(newRows.select(col("x"), col("y")).distinct(),
              Seq("x", "y"), "left_anti").unionByName(newRows)
          case _ =>
            val keyCols = t.idFields.map(_._1)
            prev.join(delKeys(t).get, keyCols, "left_anti")
              .unionByName(newRows)
        }
        t.name -> TableResult(merged,
          thisRun.get(t.name).map(_.inserts)
            .getOrElse(Observation(s"inserts_${t.name}_noop")))
      }.toMap

    // Expire covers this CHANGE only, with the reference's exact
    // per-object contract (flex-table-column.cpp:298-345 do_expire +
    // geometry_cache, flex-table-column.hpp:186-213): each touched
    // object aggregates its displaced old rows and its re-derived new
    // rows per geometry column. DIRECTLY-changed objects (in the
    // change file) always cover old ∪ new — the reference enables
    // diff only for dependent re-renders (expire_geoms_from_cache(true)
    // at output-flex.cpp:941,1012 vs the plain calls at 1143-1244).
    // Dependent pairs with diff_expire dirty only the symmetric
    // difference of the collected geometry sets. Outputs with
    // user-set tile caps run the reference's sequential capped
    // accumulation with its exact warnings (expire-output.cpp:20-51).
    val directByKind = Map("n" -> chNid, "w" -> chWid, "r" -> chRid)
    def directKeys(t: FlexTableDef): Option[DataFrame] = {
      val kinds = kindsFor(t.ids)
      if (kinds.isEmpty || !t.hasIds) None
      else Some(kinds.map { kind =>
        val d = directByKind(kind)
        if (t.typeColumn.isDefined)
          d.select(lit(kind.toUpperCase).as(t.typeColumn.get),
            col("id").cast("long").as(t.idColumn))
        else d.select(t.mapId(lit(kind), col("id")).as(t.idColumn))
      }.reduce(_ unionByName _).distinct())
    }
    val expire: Map[String, DataFrame] = {
      val refTiles: Seq[(FlexExpireOutput, DataFrame)] =
        config.tables.flatMap { t =>
          val newRows = thisRun.get(t.name).map(_.rows)
            .getOrElse(emptyTable(t))
          val oldRows = (for {
            prev <- prevTables.get(t.name)
            dk <- delKeys(t)
          } yield prev.join(dk, t.idFields.map(_._1), "left_semi"))
            .getOrElse(emptyTable(t))
          val keyCols = t.idFields.map(_._1)
          t.columns.flatMap(c => c.expire.map { ref =>
            val out = ref.output
            val cfg = graft.operators.TileCover.Config(
              out.maxzoom, ref.mode, ref.buffer)
            val pairs =
              if (keyCols.isEmpty)
                // no ids: every old row is a delete, every new row an
                // insert — one-sided "objects", always separate
                oldRows.select(array(col(c.name)).as("__old"),
                    lit(null).cast("array<binary>").as("__new"),
                    lit(true).as("__direct"), lit(0L).as("__ord"))
                  .unionByName(newRows.select(
                    lit(null).cast("array<binary>").as("__old"),
                    array(col(c.name)).as("__new"),
                    lit(true).as("__direct"), lit(0L).as("__ord")))
              else {
                val o = oldRows.groupBy(keyCols.map(col): _*)
                  .agg(collect_list(col(c.name)).as("__old"))
                val n = newRows.groupBy(keyCols.map(col): _*)
                  .agg(collect_list(col(c.name)).as("__new"))
                val d = directKeys(t).get.withColumn("__d", lit(true))
                o.join(n, keyCols, "full_outer")
                  .join(d, keyCols, "left_outer")
                  .withColumn("__direct", coalesce(col("__d"), lit(false)))
                  .drop("__d")
                  .withColumn("__ord", col(keyCols.last).cast("long"))
              }
            val tilesUdf = TileCover.pairTiles(cfg, ref.diffExpire)
            val packed = pairs.select(col("__ord"),
              tilesUdf(col("__old"), col("__new"), col("__direct"))
                .as("__t"))
            val capped = out.maxTilesGeometryOpt.isDefined ||
              out.maxTilesOverallOpt.isDefined
            val tiles =
              if (capped) {
                val lc = TileCover.limitedCoverPacked(packed,
                  TileCover.Limits(out.maxTilesPerGeometry,
                    out.maxTilesOverall))
                (1L to lc.geometryLimitHits).foreach(_ =>
                  System.err.println(s"Tile limit " +
                    s"${out.maxTilesPerGeometry} reached for single " +
                    "geometry!"))
                if (lc.overallLimitReached)
                  System.err.println(s"Overall tile limit " +
                    s"${out.maxTilesOverall} reached for this run!")
                import spark.implicits._
                lc.packed.toSeq
                  .map(p => (p >>> 32, p & 0xffffffffL, out.maxzoom))
                  .toDF("x", "y", "zoom")
              } else
                packed.select(explode(col("__t")).as("p"))
                  .select(shiftrightunsigned(col("p"), 32).as("x"),
                    (col("p").bitwiseAND(lit(0xffffffffL))).as("y"))
                  .distinct()
                  .withColumn("zoom", lit(out.maxzoom))
            (out, tiles)
          })
        }
      refTiles.groupBy(_._1.name).map { case (name, refs) =>
        val out = refs.head._1
        val tiles = refs.map(_._2).reduce(_ unionByName _).distinct()
        name -> Expire.rollup(tiles, "x", "y", out.maxzoom, out.minzoom)
      }
    }

    AppendResult(Result(mergedTables, expire), newMiddle)
  }
}
