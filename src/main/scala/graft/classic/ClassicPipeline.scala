package graft.classic

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.functions.TagFunctions
import graft.geom._
import graft.operators.Middle
import graft.sources.OsmXml.OsmDataFrames

/** The complete classic pgsql-output pipeline (reference:
  * src/output-pgsql.cpp + src/tagtransform-c.cpp), end to end on OSM
  * entity DataFrames: style filter → middle joins → geometry
  * construction/reprojection/segmentation → the four tables
  * planet_osm_point / line / polygon / roads.
  *
  * Faithful semantics (verified against the reference's own regression
  * golden counts on the Liechtenstein extract, tests/bdd/regression/
  * import.feature):
  *  - tag filter: exact-match export list per entity type, wildcard
  *    delete list, unknown keys dropped (no-hstore mode), object kept
  *    iff ≥1 exported tag (src/tagtransform-c.cpp:109-152);
  *  - natural=coastline discarded but forces polygon + area=yes
  *    (src/tagtransform-c.cpp:180-192);
  *  - polygon decision: accumulated polygon flags of matched keys,
  *    overridden by the raw area tag via value_to_bool
  *    (src/tagtransform-c.cpp:203-214, src/osmtypes.hpp:162-174);
  *  - ways: closed+polygon → create_polygon (invalid → no row, no
  *    fallback); else linestring → transform → segmentize(100km in
  *    3857 / 1° in 4326) → split_multi, one row per piece, roads rows
  *    for road-flagged ways (src/output-pgsql.cpp:88-122);
  *  - relations: type route/multipolygon/boundary only; boundary (or
  *    multipolygon with a boundary tag) → BOTH merged-line pieces and
  *    multipolygon rows; plain multipolygon → polygon only; route →
  *    line only; negative ids (src/output-pgsql.cpp:239-341,
  *    src/tagtransform-c.cpp:223-343).
  */
object ClassicPipeline {

  /** The four output tables. `backing` holds the RDDs of rows
    * [[derive]] materialized for them (none for [[run]]). */
  final case class Tables4(point: DataFrame, line: DataFrame,
      polygon: DataFrame, roads: DataFrame,
      backing: Seq[RDD[_]] = Nil) {
    /** Release the materialized rows; call once every consumer ran. */
    def unpersistBacking(): Unit =
      backing.foreach(_.unpersist(blocking = false))
  }

  /** Eager local checkpoint: `df` runs once and its lineage is cut, so
    * every consumer reads the stored blocks. Returns the frame and the
    * RDD holding those blocks, for release; a failed or cancelled run
    * releases the blocks it stored before rethrowing. */
  def materialize(df: DataFrame): (DataFrame, RDD[_]) = {
    val cp = df.localCheckpoint(eager = false)
    val rdd = cp.queryExecution.logical.collectFirst {
      case r: LogicalRDD => r.rdd
    }.get
    try rdd.count()
    catch {
      case t: Throwable =>
        rdd.unpersist(blocking = false)
        throw t
    }
    (cp, rdd)
  }

  /** value_to_bool (src/osmtypes.hpp:162-174) as a Column. */
  private def valueToBool(v: Column, defval: Column): Column =
    when(defval, !v.isin("no", "false", "0"))
      .otherwise(v.isin("yes", "true", "1"))

  private def exportFilter(style: Style, osmType: String,
      settings: Settings): Column = {
    val exact = style.exportKeys(osmType).toSet.toSeq
    map_filter(col("tags"), (k, v) => {
      // hstore mode (-k/-j): unmatched keys also keep the object and
      // are copied to the hstore; a -z/--hstore-column prefix match
      // keeps a tag even without -k (check_key,
      // src/tagtransform-c.cpp:126-149); polygon flags still come
      // only from exact style matches
      val inExport =
        if (settings.hstore) lit(true)
        else settings.hstoreColumns.foldLeft(k.isInCollection(exact))(
          (c, h) => c || k.startsWith(h))
      // full wild_match delete semantics (src/wildcmp.cpp)
      val deleted = TagFunctions.deleteHit(k, style.deleteKeys)
      // natural=coastline is discarded unless -K/--keep-coastlines
      // (src/tagtransform-c.cpp:182-190; add_area_tag fires either way)
      val coastline =
        if (settings.keepCoastlines) lit(false)
        else k === "natural" && v === "coastline"
      inExport && !deleted && !coastline
    })
  }

  /** Adds __outtags, __keep, __polygon columns (ways/relations use the
    * way export list). `hstoreMatchOnly` = the reference's
    * --hstore-match-only: all tags still flow to the hstore output,
    * but an object is only KEPT if at least one tag matches the style
    * export list (options_t::hstore_match_only applied at
    * src/tagtransform-c.cpp:143-151). */
  private def withFilter(df: DataFrame, style: Style, osmType: String,
      wantPolygon: Boolean, settings: Settings): DataFrame = {
    val listType = if (osmType == "relation") "way" else osmType
    val out = exportFilter(style, listType, settings)
    // the keep decision counts only export-list hits — the area=yes
    // append below happens AFTER `filter` is settled, so an object
    // whose only tag is natural=coastline is dropped without -K
    // (filter_tags: the coastline `continue` skips check_key,
    // src/tagtransform-c.cpp:181-190)
    val base0 = df
      .where(size(col("tags")) > 0) // ignore_untagged_objects default
      .withColumn("__coast", col("tags").getItem("natural") <=> "coastline")
      .withColumn("__exptags", out)
      .withColumn("__matched",
        // --hstore-match-only: neither the hstore copy-all nor a -z
        // prefix hit counts toward keeping the object — only exact
        // export-list matches do (check_key's match_only guards)
        if (settings.hstoreMatchOnly &&
            (settings.hstore || settings.hstoreColumns.nonEmpty))
          size(exportFilter(style, listType,
            settings.copy(hstore = false, hstoreColumns = Nil))) > 0
        else size(col("__exptags")) > 0)
      .withColumn("__keep", col("__matched"))
      // ways only (the polygon out-param is null for nodes and the
      // relation prefilter, src/output-pgsql.cpp:206,243): coastline
      // forces the polygon flag and appends area=yes to the output
      // tags (add_area_tag, src/tagtransform-c.cpp:200-204)
      .withColumn("__outtags",
        if (!wantPolygon) col("__exptags")
        else when(
          col("__coast") && !map_contains_key(col("__exptags"), "area"),
          map_concat(col("__exptags"), map(lit("area"), lit("yes"))))
          .otherwise(col("__exptags")))
      .drop("__exptags")
    // -x: pseudo-tags join the OUTPUT tags only, AFTER the keep
    // decision — add_attributes runs after the filter loop and never
    // clears it (src/tagtransform-c.cpp:191-198), so an object whose
    // only real tags are delete-listed still drops under -x
    val base =
      if (!settings.extraAttributes) base0
      else base0.withColumn("__outtags",
        TagFunctions.withAttributePseudoTags(col("__outtags"),
          col("version"), col("timestamp"), col("changeset"),
          col("uid"), col("user")))
    if (!wantPolygon) base
    else {
      val polyKeys = style.polygonKeys.toSet.toSeq
      val polyFlag = arrays_overlap(map_keys(col("__outtags")),
        typedlit(polyKeys))
      val areaVal = col("tags").getItem("area")
      base.withColumn("__polygon",
        when(col("__coast"), lit(true))
          .when(areaVal.isNull, polyFlag)
          .otherwise(valueToBool(areaVal, polyFlag)))
    }
  }

  // geometry UDF helpers over resolved coordinate arrays
  private val toPts = (lons: Seq[Double], lats: Seq[Double]) =>
    lons.zip(lats).map { case (x, y) => Pt(x, y) }

  /** The legacy Lua tagtransform hook (src/tagtransform-lua.cpp:84-213:
    * filter_tags_node/way/relation, filter_rel_member_tags): per-entity
    * user closures REPLACING the style-file filter. Each closure gets
    * the raw entity frame and must add `__keep` (boolean) and
    * `__outtags` (map<string,string>); the way closure must also add
    * `__polygon` and may add `__roads` (defaults to the z_order roads
    * rule otherwise). The relation closure owns its full tag logic —
    * the default type-tag strip is not applied over it. */
  final case class TagTransform(
      node: Option[DataFrame => DataFrame] = None,
      way: Option[DataFrame => DataFrame] = None,
      relation: Option[DataFrame => DataFrame] = None,
      /** filter_tags_relation_member analog
        * (src/tagtransform-lua.cpp:150-213): runs over kept relations
        * joined with their ordered member-way tag maps (`__mtags`)
        * and roles (`__mroles`); must (re)set __keep, __outtags,
        * __boundary, __mkpoly, __roads and __z. */
      relationMember: Option[DataFrame => DataFrame] = None)

  /** The classic derivation settings: the options the style filter,
    * the tag transform and the geometry builders read. Import and
    * append derive rows from one value, so they cannot disagree. */
  final case class Settings(
      srid: Int = Srid.WebMercator,
      hstore: Boolean = false,
      hstoreMatchOnly: Boolean = false,
      extraAttributes: Boolean = false,
      tagTransform: TagTransform = TagTransform(),
      keepCoastlines: Boolean = false,
      multiGeometry: Boolean = false,
      reprojectArea: Boolean = false,
      hstoreColumns: Seq[String] = Nil)

  /** Restriction sets for incremental runs: when given, only these ids
    * are *derived*. Resolution still sees every node, and every member
    * way of a derived relation, even one that is not re-derived. */
  final case class Subset(nodeIds: Option[DataFrame] = None,
      wayIds: Option[DataFrame] = None, relIds: Option[DataFrame] = None)

  /** `df` restricted to the change-sized `ids`, which are broadcast:
    * the entity frame streams past them without a shuffle. */
  private def restrict(df: DataFrame, ids: Option[DataFrame]): DataFrame =
    ids.map { d =>
      val key = d.columns.head
      df.join(broadcast(d.select(col(key).as("__rid"))),
        col("id") === col("__rid"), "left_semi")
    }.getOrElse(df)

  /** The four tables as lazy plans: every action on a table derives
    * it again (and roads is the line plan again). For callers that read
    * each table once. */
  def run(osm: OsmDataFrames, style: Style,
      settings: Settings = Settings(), subset: Subset = Subset()): Tables4 =
    tables(rows(osm, style, settings, subset), Nil)

  /** The four tables for callers with several sinks (table writes, a
    * live load): the point, line and polygon rows become ONE plan,
    * tagged by table and materialized once, so every sink reads the
    * stored rows and roads is the stored line rows filtered by the
    * roads flag. Release them with `unpersistBacking` once every sink
    * ran. */
  def derive(osm: OsmDataFrames, style: Style, settings: Settings = Settings(),
      subset: Subset = Subset()): Tables4 = {
    val parts = rows(osm, style, settings, subset)
    val (tagged, rdd) = materialize(parts.zipWithIndex
      .map { case (df, t) => df.withColumn("__t", lit(t)) }
      .reduce(_.unionByName(_, allowMissingColumns = true)))
    tables(parts.zipWithIndex.map { case (df, t) =>
      tagged.where(col("__t") === t).select(df.columns.map(col): _*)
    }, Seq(rdd))
  }

  /** Point, line (roads flag included) and polygon rows → the four
    * tables. */
  private def tables(rows: Seq[DataFrame], backing: Seq[RDD[_]]): Tables4 = {
    val Seq(point, lines, polygon) = rows
    Tables4(
      point = point,
      line = lines.drop("__roads"),
      polygon = polygon,
      roads = lines.where(col("__roads")).drop("__roads"),
      backing = backing)
  }

  /** The derivation as three lazy plans: point, line (with the
    * `__roads` flag) and polygon rows. */
  private def rows(osm: OsmDataFrames, style: Style, settings: Settings,
      subset: Subset): Seq[DataFrame] = {
    // plain values: the geometry UDFs must not capture `settings`,
    // which holds the tag transform's closures
    val srid = settings.srid
    val multiGeometry = settings.multiGeometry
    val reprojectArea = settings.reprojectArea
    val tagTransform = settings.tagTransform
    val splitAt = if (srid == Srid.WGS84) 1.0 else 100 * 1000.0

    def project(g: Geometry): Geometry = GeomOps.transform(g, srid)
    // calculate_area (src/output-pgsql.cpp:45-56): default = planar
    // area of the geometry in the OUTPUT projection; --reproject-area
    // = area of the 4326 geometry transformed to 3857, regardless of
    // the output projection
    def areaOf(g4326: Geometry, projected: Geometry): Double =
      if (reprojectArea)
        GeomOps.area(GeomOps.transform(g4326, Srid.WebMercator))
      else GeomOps.area(projected)

    // way polygon: closed + valid → one EWKB or null (no fallback)
    val wayPolygonUdf = udf((lons: Seq[Double], lats: Seq[Double]) =>
      FromOsm.createPolygon(toPts(lons, lats)) match {
        case _: NullGeom => null
        case g           => Ewkb.encode(project(g))
      })
    // --reproject-area way path: 3857 area from the raw 4326 ring
    val wayReprojAreaUdf = udf((lons: Seq[Double], lats: Seq[Double]) =>
      FromOsm.createPolygon(toPts(lons, lats)) match {
        case _: NullGeom => null.asInstanceOf[java.lang.Double]
        case g => java.lang.Double.valueOf(
          GeomOps.area(GeomOps.transform(g, Srid.WebMercator)))
      })
    // way line: linestring → transform → segmentize → split pieces
    val wayLineUdf = udf((lons: Seq[Double], lats: Seq[Double]) =>
      FromOsm.createLineString(toPts(lons, lats)) match {
        case _: NullGeom => Seq.empty[Array[Byte]]
        case g =>
          GeomOps.splitMulti(GeomOps.segmentize(project(g), splitAt))
            .map(Ewkb.encode(_))
      })
    // relation line: multilinestring → line_merge → transform →
    // segmentize → split (src/output-pgsql.cpp:278-298)
    val relLineUdf = udf((ways: Seq[Seq[Double]], wayLats: Seq[Seq[Double]]) => {
      val pts = ways.zip(wayLats).map { case (lons, lats) => toPts(lons, lats) }
      FromOsm.createMultiLineString(pts, forceMulti = true) match {
        case _: NullGeom => Seq.empty[Array[Byte]]
        case g =>
          GeomOps.splitMulti(
            GeomOps.segmentize(project(GeomOps.lineMerge(g)), splitAt))
            .map(Ewkb.encode(_))
      }
    })
    // relation polygon: multipolygon assembly → split → transform;
    // -G/--multi-geometry skips the split (split_multi(geom, false),
    // src/output-pgsql.cpp:302-304) and each emitted piece carries its
    // way_area per calculate_area so --reproject-area stays aligned
    // with the 4326 piece it was computed from
    val relPolyUdf = udf((ways: Seq[Seq[Double]], wayLats: Seq[Seq[Double]]) => {
      val pts = ways.zip(wayLats).map { case (lons, lats) => toPts(lons, lats) }
      FromOsm.createMultiPolygon(pts) match {
        case _: NullGeom => Seq.empty[(Array[Byte], Double)]
        case g =>
          val pieces = if (multiGeometry) Seq(g) else GeomOps.splitMulti(g)
          pieces.map { p =>
            val proj = project(p)
            (Ewkb.encode(proj), areaOf(p, proj))
          }
      }
    })

    // ---- nodes → point table ----
    val filteredNodes = tagTransform.node
      .map(f => f(restrict(osm.nodes, subset.nodeIds)))
      .getOrElse(withFilter(restrict(osm.nodes, subset.nodeIds), style,
        "node", wantPolygon = false, settings))
    val points = filteredNodes
      .where(col("__keep") && size(col("__outtags")) > 0)
      .select(col("id").as("osm_id"), col("__outtags").as("tags"),
        col("lon"), col("lat"))

    // ---- ways ----
    val filteredWays = tagTransform.way
      .map(f => f(restrict(osm.ways, subset.wayIds)))
      .getOrElse(withFilter(restrict(osm.ways, subset.wayIds), style,
        "way", wantPolygon = true, settings))
    val keptWays0 = filteredWays
      .where(col("__keep") && size(col("__outtags")) > 0)
      .where(size(col("nodes")) > 0) // ANSI element_at guard; no-ref ways
      .withColumn("__closed",
        element_at(col("nodes"), 1) ===
          element_at(col("nodes"), size(col("nodes"))))
    val keptWays1 = (if (filteredWays.columns.contains("__roads")) keptWays0
      else keptWays0
        .withColumn("__roads", TagFunctions.isRoads(col("__outtags"))))
    // a transform that already computed __z (the Lua path surfaces
    // the style's z_order tag) wins over the C-transform rule
    val keptWays =
      if (keptWays1.columns.contains("__z")) keptWays1
      else keptWays1.withColumn("__z", TagFunctions.zOrder(col("__outtags")))
    // resolve the ways ONCE; the kept-ways join below restricts it, and
    // the relation-member fetch reuses the same exchange instead of
    // paying the ref×node shuffle twice (the job's largest join). A
    // run restricted to both way and relation ids derives only those
    // ways and the members of those relations, so it resolves no more.
    val allResolved = (subset.wayIds, subset.relIds) match {
      case (Some(wayIds), Some(relIds)) =>
        val memberWays = restrict(osm.relations, Some(relIds))
          .select(explode(col("members")).as("m"))
          .where(col("m.mtype") === "w")
          .select(col("m.ref").as("id"))
        Middle.resolveWayCoordsFor(osm, wayIds
          .select(col(wayIds.columns.head).as("id"))
          .unionByName(memberWays))
      case _ => Middle.resolveAllWayCoords(osm)
    }
    val resolved = allResolved.select(col("rwid").as("id"),
      col("wlons").as("lons"), col("wlats").as("lats"))
    val waysGeo = keptWays.join(resolved, "id")

    // way_area: planar area of the written (projected) geometry,
    // serialized with {:g} (6 significant digits, util::double_to_buffer_t
    // src/util.hpp:28-45) then parsed by PG as real
    // reproject_area=false default → area in output projection)
    val wayAreaCol =
      if (reprojectArea) wayReprojAreaUdf(col("lons"), col("lats"))
      else graft.expressions.GeomExpressions.stAreaN(col("geom"))
    val wayPolyRows = waysGeo
      .where(col("__polygon") && col("__closed"))
      .withColumn("geom", wayPolygonUdf(col("lons"), col("lats")))
      .where(col("geom").isNotNull)
      .select(col("id").as("osm_id"), col("__outtags").as("tags"),
        col("__z").as("z_order"), col("geom"),
        format_string("%g", wayAreaCol).cast("float").as("way_area"))

    val wayLineRows = waysGeo
      .where(!(col("__polygon") && col("__closed")))
      .withColumn("geom", explode(wayLineUdf(col("lons"), col("lats"))))
      .select(col("id").as("osm_id"), col("__outtags").as("tags"),
        col("__z").as("z_order"), col("__roads").as("__roads"), col("geom"))

    // ---- relations ----
    // >32767-member relations are ignored at ingest (src/osmdata.cpp:151)
    val typed = restrict(graft.sources.Validate
        .dropOversizeRelations(osm.relations), subset.relIds)
      .withColumn("__type", col("tags").getItem("type"))
      .where(col("__type").isin("route", "multipolygon", "boundary"))
    // relations: out_tags exclude the special-cased "type" tag
    // (filter_rel_member_tags copies everything BUT type,
    // src/tagtransform-c.cpp:249-258) — matters in hstore mode where
    // type would otherwise survive the export filter
    val filteredRels = tagTransform.relation
      .map(f => f(typed))
      .getOrElse(withFilter(typed, style, "relation",
        wantPolygon = false, settings)
        .withColumn("__outtags",
          map_filter(col("__outtags"), (k, _) => k =!= "type")))
    val keptRels = filteredRels
      .where(col("__keep") && size(col("__outtags")) > 0)
      .withColumn("__boundary",
        col("__type") === "boundary" ||
          (col("__type") === "multipolygon" &&
            map_contains_key(col("__outtags"), "boundary")))
      .withColumn("__mkpoly",
        col("__type") === "multipolygon" &&
          !map_contains_key(col("__outtags"), "boundary"))
      .withColumn("__roads", TagFunctions.isRoads(col("__outtags")))
      .withColumn("__z", TagFunctions.zOrder(col("__outtags")))

    // filter_tags_relation_member hook: kept relations joined with
    // ordered member-way tags + roles; the user function re-decides
    // keep/tags/boundary/polygon/roads/z from the member view
    // (the reference's second relation phase)
    val relsAfterMember = tagTransform.relationMember.map { f =>
      val memberWayTags = keptRels
        .select(col("id").as("mrid"),
          posexplode(col("members")).as(Seq("mmpos", "mm")))
        .where(col("mm.mtype") === "w")
        .join(osm.ways.select(col("id").as("mwid"),
          col("tags").as("mwtags")),
          col("mm.ref") === col("mwid"))
        .groupBy(col("mrid"))
        // ONE sorted member list (position is unique per relation, so
        // the combined sort reproduces both former per-column sorts)
        // with the custom comparator — structs holding maps have no
        // natural ordering; position alone decides
        .agg(array_sort(collect_list(
          struct(col("mmpos"), col("mwtags"),
            col("mm.role").as("mrole"))),
          (l, r) => when(l.getField("mmpos") < r.getField("mmpos"), -1)
            .when(l.getField("mmpos") > r.getField("mmpos"), 1)
            .otherwise(0)).as("__ms"))
        .select(col("mrid"),
          transform(col("__ms"), s => s.getField("mwtags")).as("__mtags"),
          transform(col("__ms"), s => s.getField("mrole")).as("__mroles"))
      f(keptRels.join(memberWayTags, col("id") === col("mrid"), "left")
        .drop("mrid"))
        .where(col("__keep") && size(col("__outtags")) > 0)
        .drop("__mtags", "__mroles")
    }.getOrElse(keptRels)

    // member ways resolved: (rel id, ordered arrays of member lon/lat
    // arrays). The middle hands the assembler an id SET
    // (rel_members_get builds one get_way_list query,
    // src/middle-pgsql.cpp:822-836) — a way listed twice in the
    // member list contributes its segments ONCE (validgeom fixture:
    // relation 3726445 lists the same outer twice and still yields
    // two polygons, not a cancelled assembly)
    val memberRefs = relsAfterMember
      .select(col("id").as("rid"),
        posexplode(col("members")).as(Seq("mpos", "m")))
      .where(col("m.mtype") === "w")
      .select(col("rid"), col("mpos"), col("m.ref").as("wid"))
      .groupBy(col("rid"), col("wid"))
      .agg(min(col("mpos")).as("mpos"))
    val memberWays = memberRefs
      .join(allResolved, col("wid") === col("rwid"))
      .groupBy(col("rid"))
      // one sorted member list — mpos is unique per rid (min over the
      // per-way positions of a dedup'd member set), so the combined
      // sort reproduces both former per-axis sorts at half the
      // aggregate state
      .agg(
        count(lit(1)).as("__nways"),
        array_sort(collect_list(
          struct(col("mpos"), col("wlons"), col("wlats")))).as("__mw"))
      .select(col("rid"), col("__nways"),
        transform(col("__mw"), s => s.getField("wlons")).as("mlons"),
        transform(col("__mw"), s => s.getField("wlats")).as("mlats"))
    val relsGeo = relsAfterMember.join(memberWays,
      relsAfterMember("id") === col("rid"))
      .where(col("__nways") > 0)

    val relLineRows = relsGeo
      .where(!col("__mkpoly"))
      .withColumn("geom", explode(relLineUdf(col("mlons"), col("mlats"))))
      .select((-col("id")).as("osm_id"), col("__outtags").as("tags"),
        col("__z").as("z_order"), col("__roads").as("__roads"), col("geom"))

    val relPolyRows = relsGeo
      .where(col("__boundary") || col("__mkpoly"))
      .withColumn("__pg", explode(relPolyUdf(col("mlons"), col("mlats"))))
      .select((-col("id")).as("osm_id"), col("__outtags").as("tags"),
        col("__z").as("z_order"), col("__pg._1").as("geom"),
        format_string("%g", col("__pg._2")).cast("float").as("way_area"))

    Seq(points, wayLineRows.unionByName(relLineRows),
      wayPolyRows.unionByName(relPolyRows))
  }
}
