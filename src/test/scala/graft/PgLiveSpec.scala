package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.cli.{Main, Options}
import graft.flex.{FlexColumn, FlexIds, FlexTableDef, FlexType}
import graft.sinks.{ClassicPgLoad, PgClassic, PgLive, PgSink, PgWire}

/** End-to-end run of the COPY sink's bulk path against a LIVE
  * PostgreSQL server: DDL lifecycle (UNLOGGED create → COPY FROM STDIN
  * → SET LOGGED + index + ANALYZE), the byte-exact COPY TEXT wire
  * encoding (escapes, hstore, NULLs, the column type matrix) over both
  * transports (per-partition [[graft.sinks.PgWire]] writers and one
  * psql session), append-mode delete-before-insert, and the CLI's
  * live create and append loads on small generated inputs — the
  * pieces q51 and OutputsSpec prove against goldens, here proven
  * against the real parser.
  *
  * The cluster is created in a temp dir on a unix socket (no TCP) and
  * torn down after; the suite self-cancels when postgres binaries or
  * root (for `su postgres`) are unavailable, so it degrades to the
  * golden tests elsewhere.
  *
  * There is no PostGIS here: geometry lands as bytea, and its hex-EWKB
  * COPY form is byte-golden-tested in OutputsSpec.
  */
class PgLiveSpec extends SparkSpecBase {

  import PgTestCluster.{pg, psql, sockDir}

  /** COPY FROM STDIN with the given wire lines; returns psql rc. */
  private def copyIn(table: String, lines: Seq[String]): Int = {
    val payload = s"COPY $table FROM STDIN;\n" +
      lines.map(_ + "\n").mkString + "\\.\n"
    pg(s"psql -q -h $sockDir -d postgres",
      payload.getBytes("UTF-8"))._1
  }

  private def copyOut(query: String): Seq[String] = {
    val (rc, out) = psql(s"COPY ($query) TO STDOUT;")
    assert(rc == 0, s"COPY TO failed: $out")
    out.split("\n", -1).toSeq.dropRight(1)
  }

  private def q(table: String) = s""""public"."$table""""

  /** Rows as one multi-row INSERT of SQL literals (each row already
    * rendered, column for column) — the server's own literal parser
    * is the oracle the COPY TEXT loads are compared against. */
  private def insertInto(table: String, cols: Seq[String],
      rows: Seq[Seq[String]]): String =
    s"INSERT INTO ${q(table)} (${cols.map("\"" + _ + "\"").mkString(", ")})" +
      rows.map(_.mkString("(", ", ", ")")).mkString(" VALUES ", ", ", ";")

  private def sqlLit(s: String) = "'" + s.replace("'", "''") + "'"
  private def sqlOpt[T](v: Option[T])(f: T => String) = v.fold("NULL")(f)
  private def hstoreLit(tags: Seq[(String, String)]) =
    if (tags.isEmpty) "''::hstore"
    else s"hstore(ARRAY[${tags.map(t => sqlLit(t._1)).mkString(",")}]," +
      s" ARRAY[${tags.map(t => sqlLit(t._2)).mkString(",")}])"

  /** Every column of `table`, ordered by id, as COPY TO lines. */
  private def dump(table: String): Seq[String] =
    copyOut(s"SELECT * FROM ${q(table)} ORDER BY \"osm_id\"")

  /** DROP + CREATE UNLOGGED for a flex table definition. */
  private def recreate(c: PgWire, t: FlexTableDef): Unit = {
    c.exec(s"DROP TABLE IF EXISTS ${q(t.name)}")
    c.exec(PgSink.createTableDdl(t, unlogged = true))
  }

  override def withFixture(test: NoArgTest) = {
    if (!PgTestCluster.up) cancel("no runnable PostgreSQL in this environment")
    else super.withFixture(test)
  }

  private val tableDef = FlexTableDef(
    name = "graft_live",
    ids = FlexIds.Way,
    columns = Seq(
      FlexColumn("name", FlexType.Text),
      FlexColumn("tags", FlexType.Hstore),
      FlexColumn("population", FlexType.Int8),
      FlexColumn("ok", FlexType.Boolean)),
    cluster = false)

  // nasty payloads: every escape class the wire format handles
  private val rows: Seq[(Long, Option[String], Seq[(String, String)],
      Option[Long], Option[Boolean])] = Seq(
    (1L, Some("plain"), Seq("highway" -> "primary"), Some(42L), Some(true)),
    (2L, Some("tab\there\nand newline"), Seq("note" -> "line1\nline2"),
      None, Some(false)),
    (3L, Some("""back\slash and "quotes""""),
      Seq("""key"quoted""" -> """v\1""", "k2" -> "a\tb"), Some(-7L), None),
    (4L, None, Seq.empty, Some(0L), Some(true)),
    (5L, Some("ünïcode ✓"), Seq("name:uk" -> "Київ"), Some(9L), Some(false)))

  private def wireLines: Seq[String] = {
    // the production shape: per-partition pure-CPU formatting — run it
    // through Spark executors exactly as a distributed writer would
    val rdd = spark.sparkContext.parallelize(rows, 2)
    rdd.map { case (id, name, tags, pop, ok) =>
      (id, PgSink.copyLine(Seq(
        PgSink.CopyValue(id.toString),
        name.fold[PgSink.CopyCell](PgSink.CopyNull)(PgSink.CopyValue),
        PgSink.CopyPreEscaped(PgSink.hstoreCopyValue(tags)),
        pop.fold[PgSink.CopyCell](PgSink.CopyNull)(p =>
          PgSink.CopyValue(p.toString)),
        ok.fold[PgSink.CopyCell](PgSink.CopyNull)(b =>
          PgSink.CopyValue(if (b) "t" else "f")))))
    }.collect().sortBy(_._1).map(_._2).toSeq
  }

  test("DDL lifecycle + COPY load round-trips every escape class") {
    psql(s"""DROP TABLE IF EXISTS "public"."graft_live";""")
    psql("CREATE EXTENSION IF NOT EXISTS hstore;")
    val (rcDdl, outDdl) =
      psql(PgSink.createTableDdl(tableDef, unlogged = true) + ";")
    assert(rcDdl == 0, s"create failed: $outDdl")
    // UNLOGGED is live until the post-load batch flips it
    assert(copyOut("SELECT relpersistence FROM pg_class " +
      "WHERE relname = 'graft_live'") == Seq("u"))

    assert(copyIn("\"public\".\"graft_live\"", wireLines) == 0)
    assert(copyOut("SELECT count(*) FROM \"public\".\"graft_live\"") ==
      Seq(rows.size.toString))

    // values survive the live parser byte-exactly: read back with
    // COPY TO and our inverse parser, field by field
    val back = copyOut("SELECT \"osm_id\", \"name\", \"population\", " +
      "\"ok\" FROM \"public\".\"graft_live\" ORDER BY \"osm_id\"")
      .map(PgSink.copyRowParse)
    rows.zip(back).foreach { case ((id, name, _, pop, ok), parsed) =>
      assert(parsed(0) == Some(id.toString))
      assert(parsed(1) == name, s"name mismatch for id=$id")
      assert(parsed(2) == pop.map(_.toString))
      assert(parsed(3) == ok.map(b => if (b) "t" else "f"))
    }
    // hstore semantics: every pair is retrievable by key with the
    // exact value (hstore reorders pairs, so compare per key)
    for ((id, _, tags, _, _) <- rows; (k, v) <- tags) {
      // standard_conforming_strings: only quotes double inside '...'
      val kq = k.replace("'", "''")
      val got = copyOut("SELECT \"tags\" -> " +
        s"'$kq'::text " +
        s"FROM \"public\".\"graft_live\" WHERE \"osm_id\" = $id")
        .map(PgSink.copyRowParse(_).head)
      assert(got == Seq(Some(v)), s"hstore[$k] for id=$id")
    }

    // post-load batch: SET LOGGED + default id index + ANALYZE
    PgSink.postLoadDdl(tableDef, updatable = true).foreach { ddl =>
      val (rc, out) = psql(ddl + ";")
      assert(rc == 0, s"post-load '$ddl' failed: $out")
    }
    assert(copyOut("SELECT relpersistence FROM pg_class " +
      "WHERE relname = 'graft_live'") == Seq("p"))
    assert(copyOut("SELECT count(*) FROM pg_indexes " +
      "WHERE tablename = 'graft_live'") == Seq("1"))
  }

  test("schema.feature: tables and indexes land in a named schema") {
    psql("CREATE SCHEMA IF NOT EXISTS osm;")
    psql("""DROP TABLE IF EXISTS "osm"."graft_live";""")
    val (rc, out) =
      psql(PgSink.createTableDdl(tableDef, unlogged = true,
        schema = "osm") + ";")
    assert(rc == 0, s"create in schema failed: $out")
    assert(copyIn("\"osm\".\"graft_live\"", wireLines.take(1)) == 0)
    PgSink.postLoadDdl(tableDef, updatable = true, schema = "osm")
      .foreach { ddl =>
        val (c, o) = psql(ddl + ";")
        assert(c == 0, s"'$ddl' failed: $o")
      }
    assert(copyOut("SELECT schemaname FROM pg_tables " +
      "WHERE tablename = 'graft_live' AND schemaname = 'osm'") ==
      Seq("osm"))
    assert(copyOut("SELECT count(*) FROM pg_indexes " +
      "WHERE tablename = 'graft_live' AND schemaname = 'osm'") ==
      Seq("1"))
  }

  test("PgWire: pure-JVM protocol-v3 exec/query/COPY against the live server") {
    val dsn = PgTestCluster.dsn
    assert(PgWire.reachable(dsn), "wire client cannot reach the cluster")
    val c = PgWire.connect(dsn)
    try {
      assert(c.parameters.get("server_encoding").contains("UTF8"))
      c.exec("CREATE EXTENSION IF NOT EXISTS hstore;")
      c.exec("""DROP TABLE IF EXISTS "public"."graft_wire";""")
      c.exec(PgSink.createTableDdl(tableDef.copy(name = "graft_wire"),
        unlogged = true))
      // COPY FROM STDIN over raw CopyData frames — every escape class
      val n = c.copyIn("COPY \"public\".\"graft_wire\" FROM STDIN",
        wireLines.iterator)
      assert(n == rows.size, s"server acknowledged $n rows")
      // the wire query cycle reads the nasty values back verbatim
      val back = c.query("SELECT \"name\" FROM \"public\".\"graft_wire\" " +
        "ORDER BY \"osm_id\"")
      assert(back.map(_.head) == rows.map(_._2))
      for ((id, _, tags, _, _) <- rows; (k, v) <- tags) {
        val kq = k.replace("'", "''")
        val got = c.query("SELECT \"tags\" -> " + s"'$kq'::text " +
          s"FROM \"public\".\"graft_wire\" WHERE \"osm_id\" = $id")
        assert(got == Seq(Seq(Some(v))), s"hstore[$k] for id=$id")
      }
      // errors carry the server's message and leave the connection usable
      val ex = intercept[java.io.IOException](c.exec("SELECT nope();"))
      assert(ex.getMessage.contains("nope"))
      assert(c.query("SELECT 41 + 1") == Seq(Seq(Some("42"))))
      // a refused COPY (missing table) is loud, then usable again
      val ex2 = intercept[java.io.IOException](c.copyIn(
        "COPY \"public\".\"graft_wire_missing\" FROM STDIN", Iterator("x")))
      assert(ex2.getMessage.contains("graft_wire_missing"))
      assert(c.query("SELECT 1") == Seq(Seq(Some("1"))))
    } finally c.close()
  }

  test("per-partition wire COPY and psql COPY load identically to an INSERT") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, map_from_entries}
    val df = rows.toDF("osm_id", "name", "tags", "population", "ok")
      .withColumn("tags", map_from_entries(col("tags")))
      .repartition(2) // two partitions = two concurrent COPY writers
    val lines = PgSink.copyLines(df, tableDef)
    val c = PgWire.connect(PgTestCluster.dsn)
    try {
      c.exec("CREATE EXTENSION IF NOT EXISTS hstore;")
      Seq("graft_wirecopy", "graft_psqlcopy", "graft_insert")
        .foreach(t => recreate(c, tableDef.copy(name = t)))
      val n = PgWire.copyPartitioned(lines, PgTestCluster.dsn,
        q("graft_wirecopy"))
      assert(n == rows.size, s"the wire COPY acknowledged $n rows")
      PgLive.copyInto(PgTestCluster.dsn, q("graft_psqlcopy"),
        lines.toLocalIterator().asScala)
      c.exec(insertInto("graft_insert",
        Seq("osm_id", "name", "tags", "population", "ok"),
        rows.map { case (id, name, tags, pop, ok) =>
          Seq(id.toString, sqlOpt(name)(sqlLit), hstoreLit(tags),
            sqlOpt(pop)(_.toString), sqlOpt(ok)(_.toString))
        }))
      val want = dump("graft_insert")
      assert(dump("graft_wirecopy") == want, "wire COPY and INSERT diverged")
      assert(dump("graft_psqlcopy") == want, "psql COPY and INSERT diverged")
    } finally c.close()
  }

  test("COPY TEXT reads back int2/real/double/jsonb/timestamptz exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, map_from_entries}
    // a wider type matrix than the escape-class rows
    val typesDef = FlexTableDef(
      name = "graft_types",
      ids = FlexIds.Way,
      columns = Seq(
        FlexColumn("name", FlexType.Text),
        FlexColumn("tags", FlexType.Hstore),
        FlexColumn("population", FlexType.Int8),
        FlexColumn("lanes", FlexType.Int2),
        FlexColumn("width", FlexType.Real),
        FlexColumn("area", FlexType.DoublePrecision),
        FlexColumn("ok", FlexType.Boolean),
        FlexColumn("props", FlexType.Json),
        FlexColumn("seen", FlexType.Timestamp)),
      cluster = false)
    val ts = (ms: Long) => new java.sql.Timestamp(ms)
    val typedRows = Seq(
      (1L, Some("plain"), Seq("k" -> "v"), Some(42L), Some(3.toShort),
        Some(2.5f), Some(1.25e10), Some(true), Some("""{"a":1}"""),
        Some(ts(0L))),
      (2L, Some("tab\there\nand \\slash"), Seq("a\tb" -> "c\nd"),
        None, None, None, None, Some(false), None,
        Some(ts(1723800000123L))),
      (3L, None, Seq.empty[(String, String)], Some(-7L), Some(-2.toShort),
        Some(-0.5f), Some(-1.5e-3), None, Some("""{"u":"ü"}"""),
        None),
      (4L, Some("ünïcode ✓"), Seq("name:uk" -> "Київ"), Some(0L),
        Some(0.toShort), Some(0f), Some(0.0), Some(true),
        Some("[1,2,3]"), Some(ts(-1234567L))))
    val cols = Seq("osm_id", "name", "tags", "population", "lanes",
      "width", "area", "ok", "props", "seen")
    val df = typedRows.toDF(cols: _*)
      .withColumn("tags", map_from_entries(col("tags")))
      .repartition(2)
    val c = PgWire.connect(PgTestCluster.dsn)
    try {
      c.exec("CREATE EXTENSION IF NOT EXISTS hstore;")
      Seq("graft_types", "graft_types_insert")
        .foreach(t => recreate(c, typesDef.copy(name = t)))
      val n = PgWire.copyPartitioned(PgSink.copyLines(df, typesDef),
        PgTestCluster.dsn, q("graft_types"))
      assert(n == typedRows.size, s"the wire COPY acknowledged $n rows")
      // timestamps as exact instants: epoch + milliseconds
      c.exec(insertInto("graft_types_insert", cols, typedRows.map {
        case (id, name, tags, pop, lanes, width, area, ok, props, seen) =>
          Seq(id.toString, sqlOpt(name)(sqlLit), hstoreLit(tags),
            sqlOpt(pop)(_.toString), sqlOpt(lanes)(v => s"$v::int2"),
            sqlOpt(width)(v => s"'$v'::real"),
            sqlOpt(area)(v => s"'$v'::float8"), sqlOpt(ok)(_.toString),
            sqlOpt(props)(v => sqlLit(v) + "::jsonb"),
            sqlOpt(seen)(v => "'epoch'::timestamptz + " +
              s"${v.getTime} * interval '1 millisecond'"))
      }))
      val (got, want) = (dump("graft_types"), dump("graft_types_insert"))
      assert(got == want, s"COPY TEXT and INSERT diverged:\n$got\nvs\n$want")
    } finally c.close()
  }

  test("PgWire: SCRAM-SHA-256 and md5 authentication against the live server") {
    // password-protected roles, each pinned to its auth method by a
    // first-match pg_hba rule (trust stays in place for everyone else)
    psql("DROP ROLE IF EXISTS graft_scram;")
    psql("CREATE ROLE graft_scram LOGIN PASSWORD 'wire-secret';")
    psql("DROP ROLE IF EXISTS graft_md5;")
    psql("SET password_encryption = 'md5'; " +
      "CREATE ROLE graft_md5 LOGIN PASSWORD 'md5-secret';")
    val hba = s"${PgTestCluster.dataDir}/pg_hba.conf"
    pg(s"grep -q graft_scram $hba || " +
      s"sed -i '1i local all graft_scram scram-sha-256' $hba")
    pg(s"grep -q graft_md5 $hba || sed -i '1i local all graft_md5 md5' $hba")
    pg(s"pg_ctl -D ${PgTestCluster.dataDir} reload")
    def dsn(user: String, pw: String) =
      s"host=${PgTestCluster.sockDir} dbname=postgres user=$user password=$pw"
    // wrong password is refused with the server's message
    val ex = intercept[java.io.IOException](
      PgWire.connect(dsn("graft_scram", "wrong")))
    assert(ex.getMessage.toLowerCase.contains("password"))
    // RFC 7677 SCRAM-SHA-256 exchange end to end (incl. server
    // signature verification in the client)
    val cs = PgWire.connect(dsn("graft_scram", "wire-secret"))
    try assert(cs.query("SELECT current_user") ==
      Seq(Seq(Some("graft_scram"))))
    finally cs.close()
    // the md5(md5(password + user) + salt) branch
    val cm = PgWire.connect(dsn("graft_md5", "md5-secret"))
    try assert(cm.query("SELECT current_user") ==
      Seq(Seq(Some("graft_md5"))))
    finally cm.close()
  }

  test("append mode: delete-before-insert replaces changed ids only") {
    import spark.implicits._
    psql("CREATE EXTENSION IF NOT EXISTS hstore;")
    // a classic table: one style column plus the tags hstore
    val t = PgClassic.ClassicTable("graft_append_line", "line",
      Seq("name" -> "text"), hstore = true, geomType = "linestring")
    def engineRows(rows: (Long, String)*) = rows.map { case (id, name) =>
      (id, Map("name" -> name, "v" -> id.toString), Array[Byte](1, id.toByte))
    }.toDF("osm_id", "tags", "geom")
    val dsn = PgTestCluster.dsn
    ClassicPgLoad.createLoad(t, engineRows(1L -> "a", 2L -> "b",
      3L -> "c", 4L -> "d", 5L -> "e"), dsn, "public", hstoreAll = false,
      slim = true, postgis = false)
    // ids 2 and 5 are pending: 2 is re-derived, 5 is gone
    ClassicPgLoad.appendLoad(t, Seq(2L, 5L).toDF("id"),
      engineRows(2L -> "renamed"), dsn, "public", hstoreAll = false,
      postgis = false)
    assert(copyOut(s"SELECT \"osm_id\" FROM ${q(t.name)} " +
      "ORDER BY \"osm_id\"") == Seq("1", "2", "3", "4"))
    assert(copyOut(s"SELECT \"name\", \"tags\" -> 'v', " +
      s"encode(\"way\", 'hex') FROM ${q(t.name)} WHERE \"osm_id\" = 2")
      .map(PgSink.copyRowParse) ==
      Seq(Seq(Some("renamed"), Some("2"), Some("0102"))))
  }

  /** A small inline world: two highways, a building, no amenity. */
  private def tinyOsm(dir: java.nio.file.Path): String = {
    val in = dir.resolve("tiny.osm")
    Files.write(in,
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osm version="0.6">
        |<node id="1" lat="47.0" lon="9.5" version="1"/>
        |<node id="2" lat="47.001" lon="9.501" version="1"/>
        |<node id="3" lat="47.002" lon="9.5" version="1"/>
        |<node id="4" lat="47.0" lon="9.502" version="1">
        |  <tag k="name" v="lonely"/></node>
        |<way id="10" version="1"><nd ref="1"/><nd ref="2"/>
        |  <tag k="highway" v="residential"/><tag k="name" v="Main"/></way>
        |<way id="11" version="1"><nd ref="2"/><nd ref="3"/>
        |  <tag k="highway" v="footway"/></way>
        |<way id="12" version="1"><nd ref="1"/><nd ref="3"/><nd ref="2"/>
        |  <nd ref="1"/><tag k="building" v="yes"/></way>
        |</osm>""".stripMargin.getBytes("UTF-8"))
    in.toString
  }

  private def flexRun(in: String, config: String, out: String,
      extra: String*): Unit =
    Main.run(spark, Options.parse(Seq(in, "-O", "flex",
      "-S", s"graft.flex.examples.$config", "--output-dir", out) ++ extra))

  private def liveCount(qualified: String): Long =
    PgLive.queryOne(PgTestCluster.dsn,
      s"SELECT count(*) FROM $qualified;").toLong

  private val flexTables = Seq(""""public"."flex_pois"""",
    """"public"."flex_highways"""", """"public"."flex_expire"""",
    """"myschema"."withschema_data"""")

  private def dropFlexTables(): Unit =
    PgLive.execOrThrow(PgTestCluster.dsn,
      flexTables.map(t => s"DROP TABLE IF EXISTS $t;").mkString)

  test("-O flex -d: every declared table holds its parquet rows, " +
      "in the config's schema") {
    val dsn = PgTestCluster.dsn
    val dir = Files.createTempDirectory("graft-flex-live")
    try {
      val in = tinyOsm(dir)
      def parquetCount(out: String, t: String) =
        spark.read.parquet(s"$out/$t").count()
      val ph = s"$dir/pois"
      flexRun(in, "PoisAndHighways", ph, "-d", dsn)
      Seq("flex_pois", "flex_highways").foreach { t =>
        assert(liveCount(q(t)) == parquetCount(ph, t), t)
      }
      assert(liveCount(q("flex_highways")) == 2L)
      // no amenity in the file: the declared table exists and is empty
      assert(liveCount(q("flex_pois")) == 0L)
      val ws = s"$dir/schema"
      flexRun(in, "WithSchema", ws, "-d", dsn)
      assert(liveCount(""""myschema"."withschema_data"""") ==
        parquetCount(ws, "withschema_data"))
      assert(liveCount(""""myschema"."withschema_data"""") == 3L)
      assert(PgLive.queryOne(dsn,
        "SELECT to_regclass('public.withschema_data') IS NULL;") == "t")
    } finally {
      dropFlexTables()
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("-O flex -a against a live -d is refused before anything " +
      "is written or sent") {
    val dsn = PgTestCluster.dsn
    val dir = Files.createTempDirectory("graft-flex-append")
    try {
      flexRun(tinyOsm(dir), "PoisAndHighways", s"$dir/import", "-d", dsn)
      val diff = dir.resolve("diff.osc")
      Files.write(diff,
        """<?xml version='1.0' encoding='UTF-8'?>
          |<osmChange version="0.6"><modify>
          |<node id="1" lat="47.0" lon="9.5" version="2"/>
          |<node id="2" lat="47.001" lon="9.501" version="2"/>
          |<way id="10" version="2"><nd ref="1"/><nd ref="2"/>
          |  <tag k="highway" v="primary"/></way>
          |</modify></osmChange>""".stripMargin.getBytes("UTF-8"))
      val before = flexTables.take(3).map(liveCount)
      val e = intercept[IllegalArgumentException](
        flexRun(diff.toString, "PoisAndHighways", s"$dir/append",
          "-a", "--slim", "-d", dsn))
      assert(e.getMessage.contains("-O flex -a cannot update a database"))
      assert(!Files.exists(dir.resolve("append")))
      assert(flexTables.take(3).map(liveCount) == before)
      // the parquet-only flex append still runs
      flexRun(diff.toString, "PoisAndHighways", s"$dir/append",
        "-a", "--slim")
      assert(spark.read.parquet(s"$dir/append/flex_highways").count() == 1L)
    } finally {
      dropFlexTables()
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("classic --slim -d, then -a -d: the live tables hold the landed " +
      "osm_ids") {
    import spark.implicits._
    val dsn = PgTestCluster.dsn
    val dir = Files.createTempDirectory("graft-classic-live")
    val kinds = Seq("point", "line", "polygon", "roads")
    try {
      val world = new AppendIvmSpec.GridWorld(5)
      val base = world.write(dir, "base", "o5m")
      val diff = world.writeDiff(dir, "diff1", "o5m")
      val out = dir.resolve("out").toString
      val common = Seq("--slim", "-p", "graft_live_ivm", "--output-dir", out,
        "-d", dsn)
      Main.run(spark, Options.parse(common :+ base.toString))
      Main.run(spark, Options.parse(("-a" +: common) :+ diff.toString))
      kinds.foreach { k =>
        val t = s"graft_live_ivm_$k"
        val live = copyOut(s"SELECT \"osm_id\" FROM ${q(t)} ORDER BY 1")
        val landed = spark.read.parquet(s"$out/$t").select("osm_id")
          .as[Long].collect().sorted.map(_.toString).toSeq
        assert(live.nonEmpty, s"$t is empty")
        assert(live == landed, s"$t: live osm_ids differ from the parquet")
      }
    } finally {
      psql(kinds.map(k =>
        s"DROP TABLE IF EXISTS ${q(s"graft_live_ivm_$k")};").mkString)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("classic --slim -d -I: the one-at-a-time live loads hold the " +
      "parquet rows") {
    val dsn = PgTestCluster.dsn
    val dir = Files.createTempDirectory("graft-classic-seq")
    val kinds = Seq("point", "line", "polygon", "roads")
    try {
      val world = new AppendIvmSpec.GridWorld(6)
      val base = world.write(dir, "base", "o5m")
      val diff = world.writeDiff(dir, "diff1", "o5m")
      val out = dir.resolve("out").toString
      val common = Seq("--slim", "-d", dsn, "-I", "-p", "graft_live_seq",
        "--output-dir", out)
      // the import's loads, then the append's sessions, one at a time
      Seq(common :+ base.toString, ("-a" +: common) :+ diff.toString)
        .foreach { args =>
          Main.run(spark, Options.parse(args))
          kinds.foreach { k =>
            val t = s"graft_live_seq_$k"
            val landed = spark.read.parquet(s"$out/$t").count()
            assert(landed > 0, s"$t is empty")
            assert(liveCount(q(t)) == landed, s"$t after ${args.head}")
          }
        }
    } finally {
      psql(kinds.map(k =>
        s"DROP TABLE IF EXISTS ${q(s"graft_live_seq_$k")};").mkString)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("classic --slim -d with a missing index tablespace fails with " +
      "the server's message, and leaves no Spark job running") {
    val dsn = PgTestCluster.dsn
    val dir = Files.createTempDirectory("graft-classic-nosuch")
    val kinds = Seq("point", "line", "polygon", "roads")
    try {
      val base = new AppendIvmSpec.GridWorld(7).write(dir, "base", "o5m")
      val e = intercept[IllegalStateException](Main.run(spark,
        Options.parse(Seq("--slim", "-d", dsn,
          "--tablespace-main-index", "nosuch", "-p", "graft_live_nosuch",
          "--output-dir", dir.resolve("out").toString, base.toString))))
      assert(e.getMessage.contains("tablespace \"nosuch\" does not exist"),
        e.getMessage)
      val tracker = spark.sparkContext.statusTracker
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (tracker.getActiveJobIds().nonEmpty &&
          System.nanoTime() < deadline) Thread.sleep(25)
      assert(tracker.getActiveJobIds().isEmpty,
        "a Spark job of the failed load is still running")
    } finally {
      psql(kinds.map(k =>
        s"DROP TABLE IF EXISTS ${q(s"graft_live_nosuch_$k")};").mkString)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
