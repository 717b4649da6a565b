package graft.sinks

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types._

import graft.flex.{FlexColumn, FlexTableDef, FlexType}

/** PostgreSQL sink (reference: src/db-copy.cpp COPY pipeline +
  * src/flex-table.cpp / src/table.cpp table lifecycle): the flex
  * tables' DDL, the COPY TEXT wire encoding both outputs use, and
  * libpq DSN parsing.
  *
  *  - DDL: CREATE (UNLOGGED for interim tables, src/flex-table.hpp:62),
  *    load, then indexes + ANALYZE at the end (late indexing,
  *    src/flex-table.hpp:189-208) — index-after-load is the same
  *    bulk-load trick at any scale;
  *  - rows: [[copyText]] formats COPY TEXT lines in executors, the
  *    one row encoder behind [[copyLines]] and
  *    [[PgClassic.copyLines]]; [[PgLive.loadTable]] streams them in.
  *
  * DDL generation and the encoding are pure and unit-tested; the live
  * load runs in PgLiveSpec and CliSpec against a real server.
  */
object PgSink {

  def sqlType(c: FlexColumn): String =
    c.sqlTypeOverride.getOrElse(sqlTypeOf(c))

  private def sqlTypeOf(c: FlexColumn): String = c.ctype match {
    case FlexType.Text            => "text"
    case FlexType.Boolean         => "boolean"
    case FlexType.Int2            => "int2"
    case FlexType.Int4            => "int4"
    case FlexType.Int8            => "int8"
    case FlexType.Real            => "real"
    case FlexType.DoublePrecision => "double precision"
    case FlexType.Timestamp       => "timestamptz"
    case FlexType.Hstore          => "hstore"
    case FlexType.Json            => "jsonb"
    case FlexType.Direction       => "int2"
    case FlexType.IdType          => "char(1)"
    case FlexType.IdNum           => "int8"
    case FlexType.Geometry        => "geometry"
    case FlexType.Point           => "geometry(point)"
    case FlexType.Linestring      => "geometry(linestring)"
    case FlexType.Polygon         => "geometry(polygon)"
    case FlexType.Multipoint      => "geometry(multipoint)"
    case FlexType.Multilinestring => "geometry(multilinestring)"
    case FlexType.Multipolygon    => "geometry(multipolygon)"
    case FlexType.Geometrycollection => "geometry(geometrycollection)"
  }

  /** CREATE TABLE — UNLOGGED during load for non-updatable imports,
    * like the reference's interim tables (src/flex-table.hpp:58-66).
    * `postgis=false` degrades geometry columns to bytea for servers
    * without PostGIS (the stored value is then the raw EWKB bytes —
    * same payload, no geometry operators). */
  def createTableDdl(t: FlexTableDef, unlogged: Boolean = true,
      schema: String = "public", postgis: Boolean = true): String = {
    // NoIndex tables carry no id column at all (table-ids.feature);
    // otherwise the user's ids.id_column name is used verbatim
    val idCols = t.idFields.map { case (n, dt) =>
      val sql = dt match {
        case org.apache.spark.sql.types.IntegerType => "int4"
        case org.apache.spark.sql.types.StringType  => "char(1)" // type col
        case _                                      => "int8"
      }
      s""""$n" $sql"""
    }
    def colType(c: FlexColumn): String = {
      val ty = sqlType(c)
      if (!postgis && ty.startsWith("geometry")) "bytea" else ty
    }
    val cols = (idCols ++ t.columns.map { c =>
      s""""${c.name}" ${colType(c)}${if (c.notNull) " NOT NULL" else ""}"""
    }).mkString(", ")
    val ul = if (unlogged) "UNLOGGED " else ""
    s"""CREATE ${ul}TABLE IF NOT EXISTS "$schema"."${t.name}" ($cols)"""
  }

  /** End-of-load DDL batch: user/default indexes, then the id index,
    * SET LOGGED, ANALYZE (table_connection_t::create_indexes,
    * src/flex-table.cpp:362-381). */
  def postLoadDdl(t: FlexTableDef, updatable: Boolean,
      schema: String = "public", postgis: Boolean = true): Seq[String] = {
    val qualified = s""""$schema"."${t.name}""""
    // user index list wins over the DEFAULT GEOMETRY index only:
    // None = default, Some(Nil) = none, Some(list) = exactly those
    // (lua-index-definitions.feature); the id index is decided
    // independently below
    val userIdx = t.indexes.map(_.map(_.createIndexDdl(qualified)))
    // default when 'indexes' is absent: ONE gist index on THE (first)
    // geometry column, fillfactor 100 when the table won't be updated
    // (setup_flex_table_indexes, src/flex-lua-table.cpp:403-417); no
    // GiST on the bytea degradation (no PostGIS → no gist opclass)
    val defaultIdx = if (!postgis) Nil else t.columns
      .find(c => FlexType.sparkType(c.ctype) == BinaryType).toSeq
      .map { c =>
        val ff = if (updatable) "" else " WITH (fillfactor = 100)"
        s"""CREATE INDEX ON $qualified USING gist ("${c.name}")$ff"""
      }
    // (always_build_id_index || updateable) && has_id_column —
    // regardless of the user index list (src/flex-table.cpp:375-377);
    // ids.create_index: always → plain, unique → UNIQUE, primary_key →
    // ADD PRIMARY KEY (parse_create_index src/flex-lua-table.cpp:108-125
    // + build_sql_create_id_index src/flex-table.cpp:225-240)
    val ids = t.idFields.map(f => s""""${f._1}"""").mkString(", ")
    val idIdx = if ((t.createIndex != "auto" || updatable) && t.hasIds)
      Seq(t.createIndex match {
        case "primary_key" =>
          s"""ALTER TABLE $qualified ADD PRIMARY KEY ($ids)"""
        case "unique" =>
          s"""CREATE UNIQUE INDEX ON $qualified USING BTREE ($ids)"""
        case _ =>
          s"""CREATE INDEX ON $qualified USING BTREE ($ids)"""
      }) else Nil
    Seq(s"""ALTER TABLE $qualified SET LOGGED""") ++
      userIdx.getOrElse(defaultIdx) ++ idIdx :+ s"""ANALYZE $qualified"""
  }

  // ---- COPY TEXT wire format (src/db-copy-mgr.hpp) ----
  //
  // The reference's actual write path is `COPY ... FROM STDIN` text
  // format, built row-by-row in db_cmd_copy_t buffers. At cluster
  // scale the same shape is: each partition formats its rows into COPY
  // lines (pure CPU, distributed), and per-partition writers stream
  // them into PG — so the encoding must be byte-exact here.

  /** Escaping for a plain text column (add_value,
    * src/db-copy-mgr.hpp:288-314): tab/newline/CR become \t \n \r,
    * backslash and double-quote get a backslash, all other bytes —
    * including control characters — pass through raw (tags.feature's
    * special-character goldens rely on this). */
  def copyEscape(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c    => b.append(c)
    }
    b.toString
  }

  /** The doubly-escaped form used inside hstore literals
    * (add_escaped_string, src/db-copy-mgr.hpp:315-339): the hstore
    * parser unescapes once more, so quote and backslash take two
    * levels while the whitespace escapes stay single. */
  def copyEscapeHstore(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '"'  => b.append("\\\\\"")
      case '\\' => b.append("\\\\\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c    => b.append(c)
    }
    b.toString
  }

  /** One hstore column value: `"k"=>"v",...` pairs
    * (add_hash_elem + finish_hash, src/db-copy-mgr.hpp:162-231; the
    * final separator comma is dropped rather than written). Pair order
    * is the caller's — the reference writes tags in input order. */
  def hstoreCopyValue(pairs: Seq[(String, String)]): String =
    pairs.map { case (k, v) =>
      "\"" + copyEscapeHstore(k) + "\"=>\"" + copyEscapeHstore(v) + "\""
    }.mkString(",")

  /** Geometry column: hex-encoded EWKB (add_hex_geom,
    * src/db-copy-mgr.hpp:237-254). */
  def hexGeomCopyValue(ewkb: Array[Byte]): String =
    ewkb.map(b => f"$b%02X").mkString

  /** One cell of a COPY TEXT line. [[CopyValue]] is escaped by
    * [[copyLine]]; [[CopyPreEscaped]] carries a value already in wire
    * form — [[hstoreCopyValue]] and [[hexGeomCopyValue]] produce the
    * COMBINED (column + COPY layer) escaping, exactly like the
    * reference's add_hash_elem/add_hex_geom append directly into the
    * COPY buffer (src/db-copy-mgr.hpp:162-254), so escaping them again
    * would corrupt the line (live-PG proven in PgLiveSpec). */
  sealed trait CopyCell
  case object CopyNull extends CopyCell
  final case class CopyValue(s: String) extends CopyCell
  final case class CopyPreEscaped(s: String) extends CopyCell

  /** A full COPY TEXT line from typed cells — the row-assembly form
    * that composes plain, hstore, and geometry columns correctly. The
    * caller appends the newline when streaming. */
  def copyLine(cells: Seq[CopyCell]): String = cells.map {
    case CopyNull          => "\\N"
    case CopyValue(s)      => copyEscape(s)
    case CopyPreEscaped(s) => s
  }.mkString("\t")

  /** A full COPY TEXT line of plain values, None → \N
    * (add_null_column, src/db-copy-mgr.hpp:107). For rows containing
    * hstore or hex-geometry columns use [[copyLine]] — those wire forms
    * are already escaped and must not pass through [[copyEscape]]
    * again. */
  def copyRow(values: Seq[Option[String]]): String =
    copyLine(values.map(_.fold[CopyCell](CopyNull)(CopyValue)))

  /** Parse one COPY TEXT line back into column values — the inverse
    * of [[copyRow]]: split on tabs, `\N` → None, values unescaped.
    * (Only the escapes [[copyEscape]] emits are understood; PG's
    * octal/hex forms are not, so this reads OUR dumps, not arbitrary
    * pg_dump output.) */
  def copyRowParse(line: String): Seq[Option[String]] =
    line.split("\t", -1).toSeq.map {
      case "\\N" => None
      case v     => Some(copyUnescape(v))
    }

  /** Inverse of [[copyEscape]] for a single value (not a whole line:
    * it does not see column boundaries or the `\N` NULL marker — use
    * [[copyRowParse]] for that). */
  def copyUnescape(s: String): String = {
    val b = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n'   => b.append('\n')
          case 'r'   => b.append('\r')
          case 't'   => b.append('\t')
          case other => b.append(other)
        }
        i += 2
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** Rows of a flex table → COPY TEXT wire lines, formatted in
    * executors by [[copyText]]. `df` columns must already be in the
    * table's column order (id column first for tables with ids). */
  def copyLines(df: DataFrame, t: FlexTableDef,
      postgis: Boolean = true): Dataset[String] = {
    val expect = t.schema.fieldNames.toSeq
    require(df.columns.toSeq == expect,
      s"column order must match table '${t.name}': expected $expect, " +
        s"got ${df.columns.toSeq}")
    copyText(df, postgis)
  }

  /** Rows → COPY TEXT wire lines, formatted in EXECUTORS — the
    * distributed half of the reference's db-copy pipeline
    * (src/db-copy.cpp buffers, here one `Dataset[String]` of
    * ready-to-stream lines; the caller appends the newline). Column
    * typing follows the DataFrame schema: binary → hex EWKB,
    * map<string,string> → hstore wire form, boolean → t/f, null → \N,
    * everything else the escaped string value. `postgis=false`
    * renders binary as the bytea `\x` hex wire form instead of
    * PostGIS's bare hex EWKB. The caller checks the column order. */
  def copyText(df: DataFrame, postgis: Boolean): Dataset[String] = {
    val fields = df.schema.fields.toIndexedSeq.zipWithIndex
    import df.sparkSession.implicits._
    df.map { row =>
      copyLine(fields.map { case (f, i) =>
        if (row.isNullAt(i)) CopyNull
        else f.dataType match {
          case BinaryType if postgis =>
            CopyPreEscaped(hexGeomCopyValue(row.getAs[Array[Byte]](i)))
          case BinaryType => // bytea: \x hex, backslash COPY-escaped
            CopyPreEscaped(
              "\\\\x" + hexGeomCopyValue(row.getAs[Array[Byte]](i)))
          case MapType(StringType, StringType, _) =>
            CopyPreEscaped(hstoreCopyValue(
              row.getMap[String, String](i).toSeq))
          case BooleanType =>
            CopyValue(if (row.getBoolean(i)) "t" else "f")
          case _ => CopyValue(String.valueOf(row.get(i)))
        }
      })
    }
  }

  /** Any libpq -d form (plain dbname, keyword/value conninfo,
    * postgresql:// URI) → its connection-parameter map, mirroring the
    * reference's connection_params_t so -U/-H/-P/-W merge over it
    * (src/command-line-app.cpp:30-73). */
  def dsnParams(dsn: String): Map[String, String] = {
    val trimmed = dsn.trim
    if (trimmed.startsWith("postgresql://") ||
        trimmed.startsWith("postgres://")) {
      val u = new java.net.URI(trimmed)
      val creds = Option(u.getUserInfo).map(_.split(":", 2)).map(a =>
        Map("user" -> a(0)) ++
          (if (a.length > 1) Map("password" -> a(1)) else Map.empty))
        .getOrElse(Map.empty)
      val extra = Option(u.getQuery).toSeq.flatMap(_.split("&"))
        .map(_.split("=", 2)).collect {
          case Array(k, v) => k -> v
        }.toMap
      Option(u.getHost).filter(_.nonEmpty).map(h => Map("host" -> h))
        .getOrElse(Map.empty) ++
        (if (u.getPort > 0) Map("port" -> u.getPort.toString)
        else Map.empty) ++
        Option(u.getPath).map(_.stripPrefix("/")).filter(_.nonEmpty)
          .map(d => Map("dbname" -> d)).getOrElse(Map.empty) ++
        creds ++ extra
    } else if (trimmed.contains('=')) {
      trimmed.split("\\s+").toSeq.map(_.split("=", 2)).collect {
        case Array(k, v) => k -> v
      }.toMap
    } else if (trimmed.isEmpty) Map.empty
    else Map("dbname" -> trimmed)
  }

  /** Parameter map → keyword/value conninfo, with libpq quoting for
    * values carrying spaces/quotes. */
  def conninfo(params: Map[String, String]): String =
    params.toSeq.sortBy(_._1).map { case (k, v) =>
      val quoted =
        if (v.isEmpty || v.exists(c => c == ' ' || c == '\'' || c == '\\'))
          "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        else v
      s"$k=$quoted"
    }.mkString(" ")

  /** libpq-style DSN → JDBC URL (the `jdbc_url.txt` artifact for
    * downstream loaders), the connection forms the reference
    * accepts on -d (dsn.feature: plain dbname, keyword/value pairs,
    * postgresql:// and postgres:// URIs). Defaults host=localhost,
    * port=5432 like libpq. Unrecognized keywords are passed through as
    * JDBC query params. */
  def jdbcUrlFromDsn(dsn: String): String = {
    def url(host: String, port: String, db: String,
        params: Seq[(String, String)]): String = {
      val q = params.filter(_._2.nonEmpty)
        .map { case (k, v) => s"$k=$v" }.mkString("&")
      s"jdbc:postgresql://$host:$port/$db" + (if (q.isEmpty) "" else s"?$q")
    }
    val trimmed = dsn.trim
    if (trimmed.startsWith("postgresql://") ||
        trimmed.startsWith("postgres://")) {
      val u = new java.net.URI(trimmed)
      val host = Option(u.getHost).filter(_.nonEmpty).getOrElse("localhost")
      val port = if (u.getPort > 0) u.getPort.toString else "5432"
      val db = Option(u.getPath).map(_.stripPrefix("/")).getOrElse("")
      val creds = Option(u.getUserInfo).map(_.split(":", 2)).map(a =>
        Seq("user" -> a(0)) ++
          (if (a.length > 1) Seq("password" -> a(1)) else Nil))
        .getOrElse(Nil)
      val extra = Option(u.getQuery).toSeq.flatMap(_.split("&"))
        .map(_.split("=", 2)).collect {
          case Array(k, v) => k -> v
          case Array(k)    => k -> ""
        }
      url(host, port, db, creds ++ extra)
    } else if (trimmed.contains('=')) {
      val kv = trimmed.split("\\s+").toSeq.map(_.split("=", 2)).collect {
        case Array(k, v) => k -> v
      }.toMap
      url(kv.getOrElse("host", "localhost"), kv.getOrElse("port", "5432"),
        kv.getOrElse("dbname", ""),
        (kv - "host" - "port" - "dbname").toSeq.sortBy(_._1))
    } else url("localhost", "5432", trimmed, Nil)
  }
}
