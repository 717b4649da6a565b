package graft.sinks

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.classic.ClassicUpdate

/** End-to-end live PostgreSQL load of the classic four tables — the
  * piece `osm2pgsql -d gis file.pbf` runs after processing
  * (src/osm2pgsql.cpp:47-83 → output-pgsql start/stop + db-copy):
  *
  *  - create: DROP → CREATE UNLOGGED → COPY FROM STDIN → SET LOGGED +
  *    indexes + ANALYZE per table ([[PgClassic.createStatements]] run
  *    by [[PgLive.loadTable]], the loader the flex output shares);
  *  - append: per table, ONE transactional psql session that COPYs
  *    the pending id set into a temp table, deletes matching rows
  *    (db_deleter_by_id_t, src/db-copy.hpp:76-99 — set-at-a-time via
  *    the temp-table join instead of batched ANY lists), then COPYs
  *    the re-derived rows in; ANALYZE after commit.
  *
  * All row formatting happens in executors ([[PgClassic.copyLines]]);
  * the append's psql session streams the formatted lines through the
  * driver (toLocalIterator — bounded by one partition). Geometry
  * degrades to bytea when the server has no PostGIS
  * ([[PgClassic.createDdl]]).
  */
object ClassicPgLoad {

  /** Server-side prerequisites: hstore when tag maps are landed (the
    * reference errors without it), PostGIS when available. Returns
    * postgis presence. */
  def prepareServer(dsn: String, hstore: Boolean): Boolean = {
    if (hstore && !PgLive.tryExtension(dsn, "hstore"))
      throw new IllegalStateException(
        "hstore output requested but the hstore extension is not " +
          "available on the target server")
    PgLive.tryExtension(dsn, "postgis")
  }

  private def qualified(t: PgClassic.ClassicTable, schema: String) =
    s""""$schema"."${t.name}""""

  /** Create-mode load of one table from its engine frame. */
  def createLoad(t: PgClassic.ClassicTable, df: DataFrame, dsn: String,
      schema: String, hstoreAll: Boolean, slim: Boolean,
      postgis: Boolean, hstoreIndex: Boolean = false,
      tablespace: Option[String] = None,
      tablespaceIndex: Option[String] = None): Unit = {
    val (create, postLoad) = PgClassic.createStatements(t, schema, slim,
      postgis, hstoreIndex, tablespace, tablespaceIndex)
    PgLive.loadTable(dsn, qualified(t, schema), create,
      Some(PgClassic.copyLines(
        PgClassic.copyFrame(df, t, hstoreAll, postgis), t, postgis)),
      postLoad)
  }

  /** Append-mode delete-then-insert for one table, in one
    * transactional psql session. `ids` is the pending id frame for
    * this table (already negated for relations); `rows` the
    * re-derived engine rows to insert. */
  def appendLoad(t: PgClassic.ClassicTable, ids: DataFrame,
      rows: DataFrame, dsn: String, schema: String, hstoreAll: Boolean,
      postgis: Boolean): Unit = {
    val q = qualified(t, schema)
    val idLines = ids.select(col(ids.columns.head).cast("long"))
      .toLocalIterator().asScala.map(_.getLong(0).toString + "\n")
    val rowLines = PgClassic.copyLines(
      PgClassic.copyFrame(rows, t, hstoreAll, postgis), t, postgis)
      .toLocalIterator().asScala.map(_ + "\n")
    PgLive.session(dsn,
      Iterator("BEGIN;\n",
        "CREATE TEMP TABLE __graft_del (id int8) ON COMMIT DROP;\n",
        "COPY __graft_del FROM STDIN;\n") ++
        idLines ++
        Iterator("\\.\n",
          s"""DELETE FROM $q WHERE "osm_id" IN""" +
            " (SELECT id FROM __graft_del);\n",
          s"COPY $q FROM STDIN;\n") ++
        rowLines ++
        Iterator("\\.\n", "COMMIT;\n", s"ANALYZE $q;\n"))
  }

  /** Full append: the point table keys on changed nodes; the three
    * way tables key on [[ClassicUpdate.Delta.wayKeys]], pending ways ∪
    * negated pending relations (src/osmdata.cpp:371-406). The four
    * sessions run side by side, `width` at a time. */
  def append(tables: Seq[PgClassic.ClassicTable], d: ClassicUpdate.Delta,
      dsn: String, schema: String, hstoreAll: Boolean,
      postgis: Boolean, width: Int = Int.MaxValue): Unit = {
    val spark = d.changedNodes.sparkSession
    graft.operators.Par.overlap(spark, width)(tables.map { t =>
      val (ids, rows) = t.kind match {
        case "point"   => (d.changedNodes, d.rederived.point)
        case "line"    => (d.wayKeys, d.rederived.line)
        case "polygon" => (d.wayKeys, d.rederived.polygon)
        case _         => (d.wayKeys, d.rederived.roads)
      }
      () => graft.operators.Par.describe(spark, s"load ${t.name}")(
        appendLoad(t, ids, rows, dsn, schema, hstoreAll, postgis))
    }: _*)
  }
}
