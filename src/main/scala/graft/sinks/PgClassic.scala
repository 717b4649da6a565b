package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.classic.Style

/** The classic pgsql output's PostgreSQL table materialization
  * (reference: src/table.cpp): expand our engine's per-table parquet
  * model — `(osm_id, tags map, [z_order], [way_area], geom | lon/lat)`
  * — into the reference's column layout
  *
  * `osm_id int8, <one column per style entry> …, [tags hstore,] way
  * geometry(TYPE, 3857)` (table_t::start, src/table.cpp:96-131;
  * copy-column list src/table.cpp:149-168),
  *
  * with the hstore split of table.cpp:265-296: in `norm` mode (-k)
  * keys written to real columns are EXCLUDED from the tags hstore; in
  * `all` mode (-j) every tag is ALSO in the hstore. z_order/way_area
  * are the style's computed columns (default.style:151-152) fed from
  * the engine's dedicated columns, not tag matches.
  *
  * Everything here is a declarative column transform — the COPY wire
  * formatting runs in executors via [[PgSink.copyText]].
  */
object PgClassic {

  /** One landed classic table: `kind` ∈ point|line|polygon|roads. */
  final case class ClassicTable(
      name: String,
      kind: String,
      /** (column name, PG type) in style order — z_order/way_area
        * included where the reference has them */
      columns: Seq[(String, String)],
      hstore: Boolean,
      /** geometry(TYPE,srid): point / linestring / geometry
        * (polygon table holds multipolygons too) */
      geomType: String,
      /** -z/--hstore-column prefixes: one extra hstore column per
        * prefix, named after it, holding `shortkey=>value` for every
        * tag whose key starts with the prefix
        * (table_t::write_hstore_columns, src/table.cpp:320-349) */
      hstoreColumns: Seq[String] = Nil,
      /** output SRID (-m 3857 default / -l 4326) — lands in the
        * geometry() typmod like the reference's m_srid */
      srid: Int = 3857) {
    def copyColumnNames: Seq[String] =
      Seq("osm_id") ++ columns.map(_._1) ++ hstoreColumns ++
        (if (hstore) Seq("tags") else Nil) ++ Seq("way")
  }

  /** ` TABLESPACE "name"` or empty (tablespace_clause,
    * src/pgsql.cpp:240-250). */
  def tablespaceClause(name: Option[String]): String =
    name.fold("")(n => s""" TABLESPACE "$n"""")

  /** The style's column layout for one osm type, with the computed
    * columns exactly where default.style:151-152 puts them: z_order
    * int4 on node+way tables, way_area real on way tables. A user
    * style that already declares them wins (no duplicates). */
  private def styleColumns(style: Style, osmType: String,
      wayArea: Boolean): Seq[(String, String)] = {
    val declared = style.entries
      .filter(e => e.makesColumn && e.osmTypes.contains(osmType))
      .map(e => e.tag -> e.dataType).distinct
    val names = declared.map(_._1).toSet
    declared ++
      (if (names.contains("z_order")) Nil else Seq("z_order" -> "int4")) ++
      (if (wayArea && !names.contains("way_area")) Seq("way_area" -> "real")
      else Nil)
  }

  /** The four classic tables for a prefix + style (table layout of
    * output_pgsql_t's m_tables, src/output-pgsql.cpp:557-580: point is
    * node-typed POINT, line/roads way-typed LINESTRING, polygon
    * way-typed GEOMETRY). */
  def tables(prefix: String, style: Style, hstore: Boolean,
      hstoreColumns: Seq[String] = Nil, srid: Int = 3857)
      : Seq[ClassicTable] = Seq(
    ClassicTable(s"${prefix}_point", "point",
      styleColumns(style, "node", wayArea = false), hstore, "point",
      hstoreColumns, srid),
    ClassicTable(s"${prefix}_line", "line",
      styleColumns(style, "way", wayArea = style.enableWayArea), hstore, "linestring",
      hstoreColumns, srid),
    ClassicTable(s"${prefix}_polygon", "polygon",
      styleColumns(style, "way", wayArea = style.enableWayArea), hstore, "geometry",
      hstoreColumns, srid),
    ClassicTable(s"${prefix}_roads", "roads",
      styleColumns(style, "way", wayArea = style.enableWayArea), hstore, "linestring",
      hstoreColumns, srid))

  /** CREATE UNLOGGED TABLE (table_t::start, src/table.cpp:96-131).
    * `postgis=false` lands geometry as bytea (hex-EWKB payload) for
    * servers without PostGIS — the sandbox's live-test path; DDL is
    * otherwise identical. */
  def createDdl(t: ClassicTable, schema: String = "public",
      postgis: Boolean = true,
      tablespace: Option[String] = None): String = {
    val cols = Seq(""""osm_id" int8""") ++
      t.columns.map { case (n, ty) => s""""$n" $ty""" } ++
      t.hstoreColumns.map(h => s""""$h" hstore""") ++
      (if (t.hstore) Seq(""""tags" hstore""") else Nil) :+
      (if (postgis) s""""way" geometry(${t.geomType},${t.srid})"""
      else """"way" bytea""")
    s"""CREATE UNLOGGED TABLE "$schema"."${t.name}" """ +
      s"""(${cols.mkString(", ")}) WITH (autovacuum_enabled = off)""" +
      tablespaceClause(tablespace)
  }

  def dropDdl(t: ClassicTable, schema: String = "public"): String =
    s"""DROP TABLE IF EXISTS "$schema"."${t.name}""""

  /** End-of-load batch (table_t::stop, src/table.cpp:177-245 minus the
    * CLUSTER rewrite, which has no analog here: no output is written
    * in geometry order): SET LOGGED, way GiST (PostGIS only, fillfactor
    * 100 for un-updatable imports like the reference), osm_id index for
    * slim/updatable runs, --hstore-add-index GIN indexes on the tags
    * column and every -z column (table.cpp:228-242), ANALYZE. The
    * index tablespace applies to every index here
    * (tablespace_clause(table_space_index)). */
  def postLoadDdl(t: ClassicTable, slim: Boolean,
      schema: String = "public", postgis: Boolean = true,
      hstoreIndex: Boolean = false,
      tablespaceIndex: Option[String] = None): Seq[String] = {
    val q = s""""$schema"."${t.name}""""
    val ts = tablespaceClause(tablespaceIndex)
    val ff = if (slim) "" else " WITH (fillfactor = 100)"
    Seq(s"ALTER TABLE $q SET LOGGED") ++
      (if (postgis) Seq(s"""CREATE INDEX ON $q USING gist ("way")$ff$ts""")
      else Nil) ++
      (if (slim) Seq(s"""CREATE INDEX ON $q ("osm_id")$ts""") else Nil) ++
      (if (hstoreIndex && t.hstore)
        Seq(s"""CREATE INDEX ON $q USING gin ("tags")$ts""") else Nil) ++
      (if (hstoreIndex)
        t.hstoreColumns.map(h => s"""CREATE INDEX ON $q USING gin ("$h")$ts""")
      else Nil) :+
      s"ANALYZE $q"
  }

  // the point table's `way` column from the engine's lon/lat model
  // (the parquet point table carries coordinates, not EWKB)
  private def pointEwkb(srid: Int) = udf((lon: Double, lat: Double) =>
    graft.geom.FromOsm.createPoint(lon, lat) match {
      case _: graft.geom.NullGeom => null
      case g => graft.geom.Ewkb.encode(
        graft.geom.GeomOps.transform(g, srid))
    })

  // escape_type INT (src/table.cpp:365-388): sscanf "%18lld-%18lld" —
  // the first number, or the overflow-free mean of an a-b range
  // ((a/2)+(b/2)+((a%2+b%2)/2) in C semantics); int32 bounds for
  // EVERY declared int width (reference quirk), out of range or
  // unparsable → NULL. Truncating division over longs is done as
  // shiftright(x - x%2, 1) — exact in long arithmetic, no double
  // round-trip; Spark's % matches C's (sign of the dividend).
  private val IntTok = "[+-]?[0-9]{1,18}"
  private def escapeInt(s: Column): Column = {
    def num(c: Column): Column =
      when(c =!= "", translate(c, "+", "").cast("long"))
    def halfTrunc(c: Column): Column = shiftright(c - (c % 2), 1)
    val single = num(regexp_extract(s, s"^\\s*($IntTok)", 1))
    val from = num(regexp_extract(s, s"^\\s*($IntTok)-($IntTok)", 1))
    val to = num(regexp_extract(s, s"^\\s*($IntTok)-($IntTok)", 2))
    val odd = (from % 2) + (to % 2) // in {-2,-1,0,1,2}; C /2 truncates
    val mean = halfTrunc(from) + halfTrunc(to) +
      when(odd === 2, 1L).when(odd === -2, -1L).otherwise(0L)
    val value = when(to.isNotNull, mean).otherwise(single)
    when(value.between(Int.MinValue.toLong, Int.MaxValue.toLong), value)
  }

  // escape_type REAL (src/table.cpp:390-423): ','→'.', first float or
  // the mean of an a-b range, a trailing "ft" converts to meters.
  private val FltTok = "[+-]?(?:[0-9]+(?:\\.[0-9]*)?|\\.[0-9]+)(?:[eE][+-]?[0-9]+)?"
  private def escapeReal(s: Column): Column = {
    val e = translate(s, ",", ".")
    def num(c: Column): Column = when(c =!= "", c.cast("double"))
    val single = num(regexp_extract(e, s"^\\s*($FltTok)", 1))
    val from = num(regexp_extract(e, s"^\\s*($FltTok)-($FltTok)", 1))
    val to = num(regexp_extract(e, s"^\\s*($FltTok)-($FltTok)", 2))
    val ft = e.endsWith("ft")
    val scale = when(ft, lit(0.3048)).otherwise(lit(1.0))
    when(to.isNotNull, (from * scale + to * scale) / 2)
      .otherwise(single * scale)
  }

  /** Engine parquet table → COPY-ready frame in the table's column
    * order. Style columns read `tags[name]` (escape_type null-on-
    * unparsable for int4/real, src/table.cpp:298-330 → try_cast);
    * computed columns read the engine's dedicated parquet columns;
    * the hstore column applies the norm/all split (table.cpp:265-296);
    * `way` comes from the EWKB geom column, or is built from lon/lat
    * for the point table. `postgis=false` renders geometry as a
    * `\x`-prefixed hex string so PG's bytea input parses it. */
  def copyFrame(df: DataFrame, t: ClassicTable,
      hstoreAll: Boolean = false, postgis: Boolean = true): DataFrame = {
    val have = df.columns.toSet
    def styleCol(name: String, ty: String): Column = {
      val v: Column =
        if (have.contains(name) && name != "tags") col(name)
        else col("tags").getItem(name)
      // type aliases of get_tag_type (src/taginfo.cpp:72-86); unknown
      // declared types degrade to TEXT like the reference
      (ty match {
        case "int4" | "int8" | "int2" | "smallint" | "integer" | "bigint" =>
          // engine-computed columns (z_order) are already numeric —
          // only tag-sourced strings go through escape_type
          if (have.contains(name) && name != "tags") v.cast("string").try_cast("long")
          else escapeInt(v.cast("string"))
        case "real" | "double precision" =>
          if (have.contains(name) && name != "tags") v.cast("string").try_cast("double")
          else escapeReal(v.cast("string"))
        case _ => v.cast("string")
      }).as(name)
    }
    val columnKeys = t.columns.map(_._1)
    // -z columns: shortkey=>value for keys starting with the prefix;
    // NULL (not an empty hstore) when nothing matches
    // (write_hstore_columns, src/table.cpp:320-349)
    val zCols: Seq[Column] = t.hstoreColumns.map { h =>
      val m = transform_keys(
        map_filter(col("tags"), (k, _) => k.startsWith(h)),
        (k, _) => k.substr(lit(h.length + 1), length(k)))
      when(size(m) > 0, m).as(h)
    }
    // tags column: both modes drop a literal z_order tag
    // (write_tags_column, src/table.cpp:305-318); norm (-k)
    // additionally drops column-written keys, all (-j) keeps them
    val hstoreCol: Seq[Column] =
      if (!t.hstore) Nil
      else if (hstoreAll) Seq(map_filter(col("tags"),
        (k, _) => k =!= "z_order").as("tags"))
      else Seq(map_filter(col("tags"),
        (k, _) => !k.isInCollection(columnKeys) && k =!= "z_order")
        .as("tags"))
    val rawGeom: Column =
      if (have.contains("geom")) col("geom")
      else pointEwkb(t.srid)(col("lon"), col("lat"))
    val wayCol: Column =
      if (postgis) rawGeom.as("way")
      else concat(lit("\\x"), upper(hex(rawGeom))).as("way")
    df.select(
      ((col("osm_id") +:
        t.columns.map { case (n, ty) => styleCol(n, ty) }) ++
        zCols ++ hstoreCol :+ wayCol): _*)
  }

  /** COPY TEXT wire lines for a classic table's [[copyFrame]],
    * formatted in executors by [[PgSink.copyText]] (binary → hex-EWKB
    * is the PostGIS form; without PostGIS the frame already carries
    * `way` as a `\x` string, which the encoder escapes). */
  def copyLines(frame: DataFrame, t: ClassicTable,
      postgis: Boolean = true): Dataset[String] = {
    require(frame.columns.toSeq ==
      (if (t.hstore) t.copyColumnNames
      else t.copyColumnNames.filterNot(_ == "tags")),
      s"column order must match table '${t.name}'")
    PgSink.copyText(frame, postgis)
  }

  /** The create-mode statements around one table's COPY
    * (table_t::start/stop, src/table.cpp:64-232): drop + create before
    * it, the post-load batch after. The live load and the offline
    * `ddl.sql` artifact both take their statements from here. */
  def createStatements(t: ClassicTable, schema: String, slim: Boolean,
      postgis: Boolean = true, hstoreIndex: Boolean = false,
      tablespace: Option[String] = None,
      tablespaceIndex: Option[String] = None): (Seq[String], Seq[String]) =
    (Seq(dropDdl(t, schema), createDdl(t, schema, postgis, tablespace)),
      postLoadDdl(t, slim, schema, postgis, hstoreIndex, tablespaceIndex))
}
