package graft.flex

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The flex output's dynamic table-definition DSL + value coercion
  * rules (reference: src/flex-lua-table.cpp:449-464 `define_table`,
  * src/flex-write.cpp:261-469 `flex_write_column`), re-expressed as a
  * Scala config API producing Spark schemas and coercion Columns.
  *
  * A user of the engine defines tables and per-entity process
  * callbacks; execution is a flatMap over entities producing inserts —
  * see [[FlexConfig]].
  */
object FlexType extends Enumeration {
  val Text, Boolean, Int2, Int4, Int8, Real, DoublePrecision, Timestamp,
  Hstore, Json, Direction, Geometry, Point, Linestring, Polygon,
  Multipoint, Multilinestring, Multipolygon, Geometrycollection,
  IdType, IdNum = Value

  /** name→type lookup (src/flex-table-column.cpp:37-66). */
  def parse(s: String): Value = s match {
    case "text"               => Text
    case "boolean" | "bool"   => Boolean
    case "int2" | "smallint"  => Int2
    case "int4" | "int" | "integer" => Int4
    case "int8" | "bigint"    => Int8
    case "real"               => Real
    case "double" | "double precision" => DoublePrecision
    case "timestamp" | "timestamptz" => Timestamp
    case "hstore"             => Hstore
    case "json" | "jsonb"     => Json
    case "direction"          => Direction
    case "geometry"           => Geometry
    case "point"              => Point
    case "linestring"         => Linestring
    case "polygon"            => Polygon
    case "multipoint"         => Multipoint
    case "multilinestring"    => Multilinestring
    case "multipolygon"       => Multipolygon
    case "geometrycollection" => Geometrycollection
    case "id_type"            => IdType
    case "id_num"             => IdNum
    case other => throw new IllegalArgumentException(s"unknown type $other")
  }

  /** Spark type mapping (SURVEY.md §1.5). */
  def sparkType(t: Value): DataType = t match {
    case Text               => StringType
    case Boolean            => BooleanType
    case Int2               => ShortType
    case Int4               => IntegerType
    case Int8               => LongType
    case Real               => FloatType
    case DoublePrecision    => DoubleType
    case Timestamp          => TimestampType
    case Hstore             => MapType(StringType, StringType)
    case Json               => StringType
    case Direction          => ShortType
    case IdType             => StringType
    case IdNum              => LongType
    case _                  => BinaryType // geometry family: EWKB
  }
}

/** define_expire_output (src/flex-lua-expire-output.cpp): an expire
  * sink writing either a tile-list file or a table, with a zoom range
  * and the two tile caps (src/expire-output.hpp). minzoom defaults to
  * maxzoom (single-zoom output; rollup covers the range otherwise). */
final case class FlexExpireOutput(
    name: String,
    filename: Option[String] = None,
    table: Option[String] = None,
    /** schema for the table form (src/flex-lua-expire-output.cpp) */
    schema: String = "public",
    maxzoom: Int,
    minzoomOpt: Option[Int] = None,
    maxTilesGeometryOpt: Option[Long] = None,
    maxTilesOverallOpt: Option[Long] = None) {
  def minzoom: Int = minzoomOpt.getOrElse(maxzoom)
  /** engine defaults when unset (src/expire-output.hpp:24-25) */
  def maxTilesPerGeometry: Long = maxTilesGeometryOpt.getOrElse(10000000L)
  def maxTilesOverall: Long = maxTilesOverallOpt.getOrElse(50000000L)
  // define-time range checks (src/flex-lua-expire-output.cpp:43-83);
  // the tile-cap range applies only to user-SET values — the engine
  // defaults above intentionally exceed it
  require(filename.nonEmpty || table.nonEmpty,
    "Must set 'filename' and/or 'table' on expire output.")
  // maxzoom 0 = the unset default (whole-world tile): the reference's
  // luaX_get_table_optional_uint32 returns 0 for nil and only checks
  // 1..20 for USER-set values (lua-expire.feature "without maxzoom
  // means maxzoom 0", src/flex-lua-expire-output.cpp:48-54). The
  // message wording is pinned verbatim by the reference's own BDD
  // (lua-expire-output-definitions.feature:108), so it keeps the
  // 1..20 phrasing even though 0 passes the guard as "unset".
  require(maxzoom >= 0 && maxzoom <= 20,
    "The 'maxzoom' field in a expire output must be between 1 and 20.")
  require(minzoomOpt.forall(z => z >= 1 && z <= maxzoom),
    "The 'minzoom' field in a expire output must be between 1 and 'maxzoom'.")
  require(maxTilesGeometryOpt.forall(v => v >= 1 && v <= (4L << 20)),
    "The 'max_tiles_geometry' field in a expire output must be between 1 and 4 << 20.")
  require(maxTilesOverallOpt.forall(v => v >= 1 && v <= (4L << 20)),
    "The 'max_tiles_overall' field in a expire output must be between 1 and 4 << 20.")
}

/** A column's expire entry (expire_config_t, src/expire-config.hpp):
  * which output, cover mode, buffer, and whether only the geometric
  * difference of old vs new expires on updates. */
final case class FlexExpireRef(
    output: FlexExpireOutput,
    mode: graft.operators.TileCover.Mode =
      graft.operators.TileCover.FullArea,
    buffer: Double = 0.1,
    diffExpire: Boolean = false)

final case class FlexColumn(
    name: String,
    ctype: FlexType.Value,
    notNull: Boolean = false,
    createOnly: Boolean = false,
    /** per-geometry-column SRID (src/flex-table-column.hpp:107-145) */
    projection: Int = 3857,
    /** expire entries (flex-lua-table.cpp:283-326) */
    expire: Seq[FlexExpireRef] = Nil,
    /** sql_type override (define_table column field, e.g. 'serial' or
      * 'int8[]', data-types.lua): the PG DDL uses this type verbatim;
      * the stored Spark-side value is whatever the config supplies
      * (text for array/serial columns, matching the Lua convention of
      * passing a text representation). */
    sqlTypeOverride: Option[String] = None) {
  private def isGeometry: Boolean =
    FlexType.sparkType(ctype) == org.apache.spark.sql.types.BinaryType
  // src/flex-lua-table.cpp:441-447: expire is only valid on 3857
  // geometry columns — checked at define time like the reference
  require(expire.isEmpty || (isGeometry && projection == 3857),
    "Expire only allowed for geometry columns in Web Mercator projection.")
}

/** A user-defined index (src/flex-index.hpp + flex-index.cpp:23-72,
  * the `indexes` field of define_table): column list OR expression,
  * method, optional uniqueness/include/fillfactor/tablespace/where.
  * DDL shape matches the reference's create_index joiner exactly. */
final case class FlexIndex(
    method: String,
    columns: Seq[String] = Nil,
    expression: String = "",
    name: String = "",
    unique: Boolean = false,
    includeColumns: Seq[String] = Nil,
    fillfactor: Int = 0,
    tablespace: String = "",
    where: String = "") {
  // the reference uses ONE message for both violations
  // (src/flex-lua-index.cpp:100-103)
  require(columns.nonEmpty != expression.nonEmpty,
    "You must set either the 'column' or the 'expression' field in " +
      "index definition.")

  private def quoted(cs: Seq[String]): String =
    cs.map(c => "\"" + c + "\"").mkString("(", ",", ")")

  def createIndexDdl(qualifiedTable: String): String = {
    val parts = Seq.newBuilder[String]
    parts += "CREATE"
    if (unique) parts += "UNIQUE"
    parts += "INDEX"
    if (name.nonEmpty) parts += "\"" + name + "\""
    parts += "ON"
    parts += qualifiedTable
    parts += "USING"
    parts += method
    parts += (if (expression.isEmpty) quoted(columns)
      else "(" + expression + ")")
    if (includeColumns.nonEmpty) {
      parts += "INCLUDE"; parts += quoted(includeColumns)
    }
    if (fillfactor != 0) {
      parts += "WITH"; parts += s"(fillfactor = $fillfactor)"
    }
    if (tablespace.nonEmpty) {
      parts += "TABLESPACE"; parts += "\"" + tablespace + "\""
    }
    if (where.nonEmpty) { parts += "WHERE"; parts += where }
    parts.result().mkString(" ")
  }
}

/** Table id ("primary key") type (src/flex-table.hpp:40-49). */
object FlexIds extends Enumeration {
  val NoIndex, Node, Way, Relation, Area, AnyObject, Tile = Value
}

object Flex {
  /** check_identifier (src/pgsql.cpp:259-270): the exact character
    * set the reference rejects in table/column/schema names. */
  private val SpecialChars = "\"',.;$%&/()<>{}=?^*#".toSet

  def checkIdentifier(name: String, in: String): Unit =
    require(!name.exists(SpecialChars),
      s"Special characters are not allowed in $in: '$name'.")
}

final case class FlexTableDef(
    name: String,
    ids: FlexIds.Value,
    columns: Seq[FlexColumn],
    /** None = default indexing (geometry GiST + id for updatable
      * tables); Some(Nil) = explicitly NO indexes; Some(list) =
      * exactly these (lua-index-definitions.feature). */
    indexes: Option[Seq[FlexIndex]] = None,
    /** cluster-by-geometry on write ({cluster='no'} disables,
      * nocluster.feature; flex_table_t::cluster_by_geom,
      * src/flex-table.hpp:77-99) — parsed and readable through
      * `t:cluster()`, but no sink orders its rows by geometry */
    cluster: Boolean = true,
    /** ids.id_column (src/flex-lua-table.cpp:449-464); ignored for
      * NoIndex tables, which carry no id at all
      * (table-ids.feature). */
    idColumn: String = "osm_id",
    /** ids.cache (lua-table-ids.feature): node-id membership cache.
      * The set-at-a-time analog keeps the contract — declaring it on
      * anything but node ids is a define-time error. */
    idCache: Boolean = false,
    /** ids.type_column for 'any' tables (src/flex-lua-table.cpp:
      * 449-464): adds a char(1) N/W/R column before the id and keeps
      * ids positive (the multicolumn branch of flex_table_t::map_id,
      * src/flex-table.cpp:109-112). */
    typeColumn: Option[String] = None,
    /** Optional schema for the table (define_table's schema field,
      * with-schema.lua); None = the CLI's --schema / default. */
    schemaName: Option[String] = None,
    /** ids.create_index (parse_create_index, src/flex-lua-table.cpp:
      * 108-125): auto (id index only for updatable tables), always,
      * unique, primary_key. */
    createIndex: String = "auto") {
  // define-time validation (lua-table-definitions.feature /
  // src/flex-lua-table.cpp): a table needs a name and ≥1 column
  require(name.nonEmpty, "The table must contain a 'name' string field.")
  // an id-only table is legal (lua-callbacks.feature's dummy table);
  // the error needs BOTH no columns and no id column
  // (src/flex-lua-table.cpp:390-393)
  require(columns.nonEmpty || ids != FlexIds.NoIndex,
    s"No columns defined for table '$name'.")
  Flex.checkIdentifier(name, "table names")
  Flex.checkIdentifier(idColumn, "column names")
  columns.foreach(c => Flex.checkIdentifier(c.name, "column names"))
  require(!idCache || ids == FlexIds.Node,
    "ID cache only available for node ids.")
  typeColumn.foreach(Flex.checkIdentifier(_, "column names"))
  require(typeColumn.isEmpty || ids == FlexIds.AnyObject,
    "The 'type_column' field is only allowed for 'any' ids.")

  /** true when the table has an id column to delete-by / join-on;
    * NoIndex tables are insert-only (table-ids.feature: appended runs
    * never remove their rows). */
  def hasIds: Boolean = ids != FlexIds.NoIndex

  /** Columns actually written by inserts — create_only columns are in
    * the DDL but never in the write stream (the database fills them,
    * e.g. a serial column; src/flex-table-column.hpp create_only). */
  def writeColumns: Seq[FlexColumn] = columns.filterNot(_.createOnly)

  /** id columns in on-disk order: the id_column for object-id tables,
    * (x, y) int4 for tile tables (ids = { type = 'tile' },
    * src/flex-table.cpp DDL), none for NoIndex. */
  def idFields: Seq[(String, DataType)] = ids match {
    case FlexIds.NoIndex => Nil
    case FlexIds.Tile    => Seq("x" -> IntegerType, "y" -> IntegerType)
    case FlexIds.AnyObject if typeColumn.isDefined =>
      Seq(typeColumn.get -> StringType, idColumn -> LongType)
    case _               => Seq(idColumn -> LongType)
  }

  /** The WRITE schema (what inserts produce and COPY streams carry) —
    * create_only columns are absent; they exist only in the DDL. */
  def schema: StructType = StructType(
    idFields.map { case (n, t) => StructField(n, t, nullable = false) } ++
      writeColumns.map(c => StructField(c.name,
        FlexType.sparkType(c.ctype), nullable = !c.notNull)))

  /** `area` tables map ways to positive and relations to negative ids
    * (flex_table_t::map_id, src/flex-table.hpp:166) — same convention
    * as the classic output (src/output-pgsql.cpp:293,322). */
  def mapId(objectType: Column, id: Column): Column = ids match {
    case FlexIds.Area =>
      when(objectType === "r", -id).otherwise(id)
    case FlexIds.AnyObject if typeColumn.isDefined =>
      id // the type column disambiguates; ids stay positive
    case FlexIds.AnyObject =>
      // flex_table_t::map_id (src/flex-table.cpp:107-124): node → id,
      // way → -id, relation → -id - 100000000000000000
      when(objectType === "r", -id - 100000000000000000L)
        .when(objectType === "w", -id)
        .otherwise(id)
    case FlexIds.Relation => id
    case _ =>
      // a relation written into a node/way table → -id
      // (src/flex-table.cpp:126-129)
      when(objectType === "r", -id).otherwise(id)
  }
}

/** Value coercion rules Lua→column (src/flex-write.cpp:261-469) as
  * Column transforms; invalid values become NULL (soft errors,
  * src/output-flex.cpp:828-838) unless the column is NOT NULL, which
  * the sink rejects at write. */
object Coerce {

  /** string→boolean accepts yes/true/1 | no/false/0
    * (src/flex-write.cpp:53-69). */
  def toBoolean(c: Column): Column = {
    val s = c.cast(StringType)
    when(s.isin("yes", "true", "1"), lit(true))
      .when(s.isin("no", "false", "0"), lit(false))
      .otherwise(lit(null).cast(BooleanType))
  }

  /** direction: yes/1→1, no/0→0, -1→-1, numbers by sign
    * (src/flex-write.cpp:71-90,417-432). */
  def toDirection(c: Column): Column = {
    val s = c.cast(StringType)
    // ANSI mode (Spark 4 default) makes bad casts throw — gate numeric
    // casts behind a pattern check instead of try_cast so the rule also
    // reads as the reference's "numbers via sign" clause
    val numeric = s.rlike("^-?\\d+(\\.\\d+)?$")
    when(s.isin("yes", "true", "1"), lit(1))
      .when(s.isin("no", "false", "0"), lit(0))
      .when(s === "-1", lit(-1))
      .when(numeric, signum(s.cast(DoubleType)).cast(IntegerType))
      .otherwise(lit(null).cast(IntegerType))
      .cast(ShortType)
  }

  /** integers out of range → NULL (src/flex-write.cpp:92-117). */
  def toIntRange(c: Column, t: FlexType.Value): Column = {
    val asLong = when(c.cast(StringType).rlike("^-?\\d+$"),
      c.cast(LongType)).otherwise(lit(null).cast(LongType))
    val (lo, hi) = t match {
      case FlexType.Int2 => (Short.MinValue.toLong, Short.MaxValue.toLong)
      case FlexType.Int4 => (Int.MinValue.toLong, Int.MaxValue.toLong)
      case _             => (Long.MinValue, Long.MaxValue)
    }
    when(asLong.between(lo, hi), asLong.cast(FlexType.sparkType(t)))
      .otherwise(lit(null).cast(FlexType.sparkType(t)))
  }

  /** nested values → JSON text (src/flex-write.cpp:140-231: array vs
    * object detection is the struct/array distinction here).
    *
    * Documented delta: the reference's json writer emits `null` for
    * NaN/±Infinity numbers (test-json-writer.cpp); Spark's `to_json`
    * renders them as the strings "NaN"/"Infinity". A post-hoc string
    * rewrite cannot distinguish them from a legitimate string value,
    * so callers wanting reference parity pre-null non-finite doubles
    * with [[nullifyNonFinite]] on the affected fields. */
  def toJson(c: Column): Column = to_json(c)

  /** NaN/±Infinity → NULL for a double column — the reference's json
    * number rule (json_writer_t::number), applied BEFORE building the
    * struct handed to [[toJson]]. */
  def nullifyNonFinite(c: Column): Column =
    when(isnan(c) || c === Double.PositiveInfinity ||
      c === Double.NegativeInfinity, lit(null).cast(DoubleType))
      .otherwise(c)

  /** hstore from a map (src/flex-write.cpp:382-410). */
  def toHstore(c: Column): Column = c.cast(MapType(StringType, StringType))

  /** EWKB → a typed geometry column (src/flex-write.cpp:233-257
    * `is_compatible` + 443-457 `wrap_multi` and the SRID reprojection
    * branch): single point/linestring/polygon values WRAP to their
    * multi form when the column is multi-typed (multigeom.feature: a
    * polygon inserted into a 'multipolygon' column reads back as
    * ST_MultiPolygon); values whose SRID differs from the column's
    * declared projection are transformed to it; an incompatible type
    * raises the reference's "has the wrong type" error.
    *
    * A plain 'geometry' column with no reprojection requirement is a
    * true passthrough — no UDF, the write stays codegen-friendly. */
  def toGeometryColumn(c: Column, t: FlexType.Value,
      projection: Int = graft.geom.Srid.WebMercator): Column = {
    import graft.geom._
    def fit(b: Array[Byte]): Array[Byte] =
      if (b == null) null
      // 'geometry' column, SRID already right (header peek, no
      // decode): the common-path bytes pass through untouched
      else if (t == FlexType.Geometry && Ewkb.peekSrid(b) == projection) b
      else {
        val g0 = Ewkb.decode(b)
        val g = if (g0.srid == projection) g0
          else GeomOps.transform(g0, projection)
        val compatible = (t, g) match {
          case (FlexType.Geometry, _)                                 => true
          case (FlexType.Point, _: Point)                             => true
          case (FlexType.Linestring, _: LineString)                   => true
          case (FlexType.Polygon, _: Polygon)                         => true
          case (FlexType.Multipoint, _: Point | _: MultiPoint)        => true
          case (FlexType.Multilinestring,
            _: LineString | _: MultiLineString)                       => true
          case (FlexType.Multipolygon, _: Polygon | _: MultiPolygon)  => true
          case (FlexType.Geometrycollection, _: GeometryCollection)   => true
          case _                                                      => false
        }
        if (!compatible) throw new IllegalArgumentException(
          s"Geometry data for geometry column has the wrong type " +
            s"(${g.getClass.getSimpleName} into $t).")
        val wrapMulti = t == FlexType.Multipoint ||
          t == FlexType.Multilinestring || t == FlexType.Multipolygon
        Ewkb.encode(g, ensureMulti = wrapMulti)
      }
    udf(fit _).apply(c)
  }

  /** timestamp: ISO-8601 via the plain cast, plus the compact OSM
    * form `yyyyMMdd'T'HHmmssZ` the reference's PG layer also accepts
    * (timestamp.feature writes both `2026-02-03T01:23:45Z` and
    * `20260102T123456Z` into timestamp columns). Unparseable → NULL
    * (soft error). */
  def toTimestamp(c: Column): Column = {
    val s = c.cast(StringType)
    coalesce(
      s.try_cast(TimestampType),
      try_to_timestamp(s, lit("yyyyMMdd'T'HHmmssX")))
  }

  def coerce(c: Column, col: FlexColumn,
      inputType: Option[DataType] = None): Column = col.ctype match {
    case FlexType.Timestamp => toTimestamp(c)
    case FlexType.Boolean   => toBoolean(c)
    case FlexType.Direction => toDirection(c)
    case FlexType.Int2 | FlexType.Int4 | FlexType.Int8 => toIntRange(c, col.ctype)
    case FlexType.Json      =>
      // a string input is an already-serialized JSON document (the
      // typed-config analog of inserting a Lua table that was built
      // as JSON text, e.g. places.lua's nested names object)
      if (inputType.contains(StringType)) c else toJson(c)
    case FlexType.Hstore    => toHstore(c)
    case FlexType.Geometry | FlexType.Point | FlexType.Linestring |
        FlexType.Polygon | FlexType.Multipoint | FlexType.Multilinestring |
        FlexType.Multipolygon | FlexType.Geometrycollection =>
      toGeometryColumn(c, col.ctype, col.projection)
    case other              => c.cast(FlexType.sparkType(other))
  }
}

/** The user-config contract: the Scala analog of the flex Lua program
  * (process_node/process_way/process_relation callbacks,
  * src/output-flex.cpp:893-942). Implementations express per-entity
  * transforms as DataFrame→DataFrame functions (set-at-a-time, not
  * row-at-a-time Lua) so they stay inside Catalyst.
  */
object FlexConfig {
  /** Registry check at config load (src/flex-lua-table.cpp: duplicate
    * define_table is an error, lua-table-definitions.feature). */
  def validateTables(tables: Seq[FlexTableDef]): Unit = {
    // a flex run without a single output table is a config error
    // (lua-basics.feature; src/output-flex.cpp's startup check)
    require(tables.nonEmpty, "No output tables defined")
    val seen = scala.collection.mutable.Set.empty[String]
    tables.foreach { t =>
      require(seen.add(t.name),
        s"Table with name '${t.name}' already exists.")
    }
  }
}

/** One osm2pgsql.run_gen(...) call from a config's process_gen
  * (flex-config/gen/forests.lua:106-120): strategy name + the
  * src/dest tables and the strategy's parameter map, executed by
  * [[graft.operators.GenRunner]] after the load. */
final case class FlexGenStep(
    strategy: String,
    srcTable: String,
    destTable: String,
    params: Map[String, String] = Map.empty)

trait FlexConfig {
  def tables: Seq[FlexTableDef]
  /** nodes → per-table insert frames (keyed by table name). */
  def processNodes(nodes: DataFrame): Map[String, DataFrame] = Map.empty
  def processWays(ways: DataFrame): Map[String, DataFrame] = Map.empty
  def processRelations(rels: DataFrame): Map[String, DataFrame] = Map.empty
  /** osm2pgsql.process_gen analog: generalization steps run after the
    * tables have landed (osm2pgsql-gen runs these against the DB; the
    * CLI runs them against the landed frames). */
  def genSteps: Seq[FlexGenStep] = Nil
  /** True when the config uses the two-stage contract
    * (select_relation_members). The append flow re-derives member
    * ways/nodes of touched relations ONLY then — the reference marks
    * members via select_relation_members and reprocesses marked
    * objects (osmdata.cpp:159, reprocess_marked); without stage 2 a
    * relation change never re-renders its members. */
  def twoStage: Boolean = false
  /** Full-graph hook for configs that need cross-entity joins: the
    * Lua id-cache idiom (turning-circles.lua's in_id_cache over
    * object.nodes) becomes a declarative node ⨝ way join here.
    * Results union with the per-entity hooks' inserts. */
  def processGraph(osm: graft.sources.OsmXml.OsmDataFrames)
      : Map[String, DataFrame] = Map.empty
}
