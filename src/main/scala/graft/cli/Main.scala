package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.classic.{ClassicPipeline, ClassicUpdate, StyleFile}
import graft.model.OsmSchema
import graft.sources.{OsmSource, Validate}
import graft.sources.OsmXml.OsmDataFrames

/** `graft.cli.Main [options] files…` — the osm2pgsql command surface
  * on this engine: read the inputs (any format, k-way merged), run
  * the classic pgsql output pipeline under the style file, and land
  * the four tables as parquet under --output-dir. `-e` also writes
  * the dirty-tile list (capped and streamed, never collected whole).
  *
  * With `-d <dsn>`: when the server is reachable the tables are
  * loaded LIVE end to end, exactly like the reference's one-command
  * run (src/osm2pgsql.cpp:47-83): create = DROP → CREATE UNLOGGED →
  * COPY → indexes/ANALYZE; append = transactional delete-before-
  * insert keyed on the pending id closure. When unreachable, create
  * mode lands the load artifacts instead — `ddl.sql` plus executor-
  * formatted COPY files per table under `copy/` — and `jdbc_url.txt`
  * always records the JDBC form of the DSN.
  *
  * `-O flex -S <object>` runs a compiled [[graft.flex.FlexConfig]]
  * named by its fully-qualified Scala object name — the typed analog
  * of `-O flex -S config.lua` (a Lua file cannot express a typed
  * Scala config; documented delta). Way rows reach the config's
  * callbacks enriched with `__geom`, the resolved 3857 linestring —
  * the analog of the Lua callback's `object:as_linestring()` against
  * the middle. Each output table lands as parquet under --output-dir.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o =
      try Options.parse(args.toIndexedSeq)
      catch { case Options.ExitEarly(code) => sys.exit(code) }
    val spark = graft.LocalSpark.session("graft", o.numProcesses,
      o.numProcesses, o.logLevel match {
        case "debug" => "INFO" // spark's DEBUG is firehose; INFO is the analog
        case "info"  => "WARN"
        case _       => "ERROR"
      })
    val t0 = System.nanoTime()
    try run(spark, o)
    finally {
      spark.stop()
      // the reference's closing line (src/osm2pgsql.cpp:386; format
      // util::human_readable_duration, src/util.cpp:23-41) — scripts
      // parse it, so keep the exact shape
      System.err.println("osm2pgsql took " +
        humanDuration((System.nanoTime() - t0) / 1000000000L) + " overall.")
    }
  }

  /** "{s}s", "{s}s ({m}m {s}s)", "{s}s ({h}h {m}m {s}s)" —
    * util::human_readable_duration (src/util.cpp:23-41). */
  def humanDuration(seconds: Long): String =
    if (seconds < 60) s"${seconds}s"
    else if (seconds < 3600)
      s"${seconds}s (${seconds / 60}m ${seconds % 60}s)"
    else s"${seconds}s (${seconds / 3600}h ${seconds / 60 % 60}m " +
      s"${seconds % 60}s)"

  /** One osm2pgsql run on `spark`. Every job it starts carries a job
    * description: `import` or `append`, extended by each side-by-side
    * branch (`append: write planet_osm_line`). */
  def run(spark: SparkSession, o0: Options): Unit =
    graft.operators.Par.describe(spark, if (o0.append) "append" else "import")(
      runDescribed(spark, o0))

  private def runDescribed(spark: SparkSession, o0: Options): Unit = {
    // append runs resolve their effective options against the stored
    // import properties FIRST (check_and_update_properties,
    // src/osm2pgsql.cpp:300-309): unspecified options inherit the
    // stored values, specified ones must agree, with the reference's
    // messages either way
    val stored: Option[Map[String, String]] =
      if (!o0.append) None
      else scala.util.Try(graft.sinks.Properties.load(spark,
        s"${o0.outputDir}/properties")).toOption
    val o: Options = stored match {
      case None => o0
      case Some(p) =>
        graft.sinks.Properties.resolveAppend(p,
          graft.sinks.Properties.AppendOptions(
            attributes = if (o0.extraAttributes) Some(true) else None,
            prefix = if (o0.prefixSet) Some(o0.prefix) else None,
            flatNodeFile = o0.flatNodes.map(f => java.nio.file.Paths
              .get(f).toAbsolutePath.toString),
            output = if (o0.outputSet) Some(o0.output) else None,
            style = o0.styleFile.map(f => java.nio.file.Paths
              .get(f).toAbsolutePath.toString))) match {
          case Left(err) => Options.fail(err)
          case Right(r) =>
            r.messages.foreach(m => System.err.println(s"[graft] $m"))
            o0.copy(
              prefix = r.settings("prefix"),
              extraAttributes = r.settings("attributes") == "true",
              output = r.settings("output"),
              flatNodes =
                Option(r.settings("flat_node_file")).filter(_.nonEmpty),
              // "default.style" is the built-in-style marker, not a
              // file on disk
              styleFile = Option(r.settings("style"))
                .filter(s => s.nonEmpty && s != "default.style"))
        }
    }
    graft.sinks.PgLive.logSql = o.logSql || o.logSqlData
    graft.sinks.PgLive.logSqlData = o.logSqlData
    val osm0 = OsmSource.read(spark, o.inputFiles, o.inputReader)
    // the readers cache the parsed entities; a long-lived session
    // (replication loop, repeated runs) must not keep them
    try runOn(spark, o, osm0, stored)
    finally osm0.unpersistBacking()
  }

  private def runOn(spark: SparkSession, o: Options, osm0: OsmDataFrames,
      stored: Option[Map[String, String]]): Unit = {
    val nodes = o.bbox match {
      case Some((minLon, minLat, maxLon, maxLat)) =>
        Validate.bboxFilter(osm0.nodes, minLon, minLat, maxLon, maxLat)
      case None => osm0.nodes
    }
    val osm = osm0.copy(nodes = nodes)

    if (o.output == "null") {
      // like the reference: parse + middle only, no output tables
      osm.nodes.count(); osm.ways.count(); osm.relations.count()
      return
    }

    if (o.output == "flex") { runFlex(spark, o, osm); return }

    val style = o.styleFile match {
      case Some(f) => StyleFile.parse(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(f)), "UTF-8"))
      case None => StyleFile.defaultStyle
    }
    // the one derivation-settings value: the import and the append
    // re-derive rows through the same transform and options
    val settings = ClassicPipeline.Settings(srid = o.srid,
      hstore = o.hstore, hstoreMatchOnly = o.hstoreMatchOnly,
      extraAttributes = o.extraAttributes,
      tagTransform = o.tagTransformScript
        .map(graft.classic.LuaTagTransform.fromFile(_, o.extraAttributes))
        .getOrElse(ClassicPipeline.TagTransform()),
      keepCoastlines = o.keepCoastlines,
      multiGeometry = o.multiGeometry,
      reprojectArea = o.reprojectArea,
      hstoreColumns = o.hstoreColumns)
    val out = java.nio.file.Paths.get(o.outputDir)
    java.nio.file.Files.createDirectories(out)

    // a reachable -d server gets the live load; an unreachable one
    // degrades to artifacts (create mode) with a note
    val liveDsn: Option[String] =
      o.database.filter(graft.sinks.PgLive.reachable)
    val pgTables = graft.sinks.PgClassic.tables(o.prefix, style, o.hstore,
      o.hstoreColumns, o.srid)
    // the hstore extension is needed for -k/-j AND for any -z column
    val needHstore = o.hstore || o.hstoreColumns.nonEmpty

    if (!o.append) importClassic(spark, o, osm, style, settings, pgTables,
      liveDsn, needHstore)
    else appendClassic(spark, o, osm, style, settings, stored,
      liveLoad = liveDsn.map { dsn => delta =>
        val postgis =
          graft.sinks.ClassicPgLoad.prepareServer(dsn, needHstore)
        graft.sinks.ClassicPgLoad.append(pgTables, delta, dsn,
          o.tableSchema, o.hstoreAll, postgis,
          width = if (o.disableParallelIndexing) 1 else Int.MaxValue)
      })

    // the JDBC form of the DSN for downstream loaders
    o.database.foreach { dsn =>
      val url = graft.sinks.PgSink.jdbcUrlFromDsn(dsn)
      java.nio.file.Files.writeString(out.resolve("jdbc_url.txt"),
        url + "\n")
    }
  }

  /** Where `-e` writes the dirty-tile list. */
  private def tileList(o: Options): java.nio.file.Path =
    java.nio.file.Paths.get(
      o.expireOutput.getOrElse(s"${o.outputDir}/dirty_tiles.txt"))

  /** Expire: the dirty tiles of every tagged entity processed this run
    * (points included — the parquet point table carries lon/lat, not
    * EWKB, so the cover comes from the entity frames directly), written
    * to `dest`. Both reference caps apply (src/expire-output.hpp:24-25):
    * the per-geometry cap inside the cover, the overall cap on the
    * streamed write — the tile list is never collected as rows. */
  private def expireTiles(o: Options, osm: OsmDataFrames,
      dest: java.nio.file.Path): Unit =
    // tile expiry only applies in web-mercator output — the
    // reference's expire_tiles::from_geometry_if_3857 is a no-op for
    // any other projection, leaving the expire file empty
    if (o.srid != graft.geom.Srid.WebMercator)
      java.nio.file.Files.writeString(dest, "")
    else {
      val limits = graft.operators.TileCover.Limits()
      // hybrid mode is the classic default: polygons larger than
      // --expire-bbox-size expire boundary-only
      // (output-pgsql.cpp:462-466, options.hpp:99)
      val mode =
        if (o.expireBboxSize > 0)
          graft.operators.TileCover.Hybrid(o.expireBboxSize)
        else graft.operators.TileCover.FullArea
      val cover = graft.operators.Expire.fromOsmEntities(osm,
        graft.operators.TileCover.Config(zoom = o.expireZoomMax,
          mode = mode),
        maxTilesPerGeometry = limits.maxTilesPerGeometry)
      val tiles = graft.operators.Expire.rollup(cover, "x", "y",
        o.expireZoomMax, o.expireZoomMin)
      graft.operators.Expire.writeLines(
        graft.operators.Expire.formatTiles(tiles), dest,
        limits.maxTilesOverall, append = false,
        "Overall tile limit reached — dirty-tile list truncated at " +
          limits.maxTilesOverall)
    }

  /** `body` as a side-by-side branch named `what`. */
  private def branch[A](spark: SparkSession, what: String)(
      body: => A): () => A =
    () => graft.operators.Par.describe(spark, what)(body)

  /** The prefixed names of the point, line, polygon and roads tables. */
  private def tableNames(o: Options): Seq[String] =
    Seq("point", "line", "polygon", "roads").map(t => s"${o.prefix}_$t")

  /** The four classic tables under their prefixed names. */
  private def tablesOf(o: Options,
      t: ClassicPipeline.Tables4): Seq[(String, DataFrame)] =
    tableNames(o).zip(Seq(t.point, t.line, t.polygon, t.roads))

  /** The classic import (src/osm2pgsql.cpp:47-83). Four branches run
    * side by side ([[graft.operators.Par.overlap]]): the tables, the
    * middle writes, the properties file and the `-e` tile list. The
    * tables branch derives the tables once and materializes them
    * ([[ClassicPipeline.derive]]), writes the four side by side and
    * releases the stored rows. The database step reads the
    * landed parquet with its known schema: exactly the written rows, no
    * inference job. A reachable `-d` gets the four live loads side by side, or
    * one at a time under -I (the reference's parallel table
    * post-processing, src/output-pgsql.cpp:168-182); an unreachable
    * one gets the load artifacts. */
  private def importClassic(spark: SparkSession, o: Options,
      osm: OsmDataFrames, style: graft.classic.Style,
      settings: ClassicPipeline.Settings,
      pgTables: Seq[graft.sinks.PgClassic.ClassicTable],
      liveDsn: Option[String], needHstore: Boolean): Unit = {
    val out = java.nio.file.Paths.get(o.outputDir)
    // the osm2pgsql_properties analog (src/osm2pgsql.cpp:102-145):
    // import settings + the single input's PBF-header replication
    // info when present, so `replication init` can start from the
    // import alone (store_data_properties)
    def saveProperties(): Unit = {
      val replProps = (o.inputFiles match {
        case Seq(single) if single.endsWith(".pbf") =>
          scala.util.Try(graft.sources.OsmPbf.readHeader(single)).toOption
        case _ => None
      }).map { h =>
        h.replicationBaseUrl.map("replication_base_url" -> _).toMap ++
          h.replicationSequence
            .map(s => "replication_sequence_number" -> s.toString) ++
          h.replicationTimestamp
            .map(t => "replication_timestamp" -> t.toString)
      }.getOrElse(Map.empty)
      graft.sinks.Properties.save(spark, s"$out/properties",
        graft.sinks.Properties.importProperties(osm,
          attributes = o.extraAttributes, prefix = o.prefix,
          updatable = o.slim && !o.drop, output = o.output,
          // the reference stores the ABSOLUTE style path
          // (src/osm2pgsql.cpp:121-128); "default.style" marks the
          // built-in style
          style = o.styleFile.map(f => java.nio.file.Paths.get(f)
            .toAbsolutePath.toString).getOrElse("default.style"),
          // the reference stores the ABSOLUTE flat-nodes path
          // (src/osm2pgsql.cpp:210)
          flatNodeFile = o.flatNodes.map(f => java.nio.file.Paths
            .get(f).toAbsolutePath.toString).getOrElse("")) ++ replProps)
    }
    // --slim: persist the middle so --append can pick up from here
    // (the flat-nodes/slim-tables analog: the raw entity frames)
    val middle =
      if (!o.slim || o.drop) Nil
      else Seq("nodes" -> osm.nodes, "ways" -> osm.ways,
        "relations" -> osm.relations)
        .map { case (stream, df) => s"${o.middleDir}/$stream" -> df }
    def write(name: String, df: DataFrame): () => Unit =
      branch(spark, s"write $name")(
        df.write.mode("overwrite").parquet(s"$out/$name"))
    // written by the tables branch, read after the overlap joined it
    var schemas = Map.empty[String, org.apache.spark.sql.types.StructType]
    def writeTables(): Unit = {
      val t = ClassicPipeline.derive(osm, style, settings)
      try {
        val named = tablesOf(o, t)
        schemas = named.map { case (name, df) => name -> df.schema }.toMap
        graft.operators.Par.overlap(spark)(
          named.map { case (name, df) => write(name, df) }: _*)
      } finally t.unpersistBacking()
    }
    // the derivation is the longest branch: it goes first, and the
    // pool has at most one thread per core
    graft.operators.Par.overlap(spark)(
      Seq(branch(spark, "tables")(writeTables())) ++
        middle.map { case (name, df) => write(name, df) } ++
        Seq(branch(spark, "properties")(saveProperties())) ++
        Option.when(o.expireZoomMax > 0)(
          branch(spark, "expire")(expireTiles(o, osm, tileList(o)))): _*)
    def landed(name: String): DataFrame =
      spark.read.schema(schemas(name)).parquet(s"$out/$name")

    o.database.foreach { dsn =>
      // the --drop import is not updatable: no osm_id index either way
      val updatable = o.slim && !o.drop
      liveDsn match {
        case Some(live) =>
          val postgis =
            graft.sinks.ClassicPgLoad.prepareServer(live, needHstore)
          graft.operators.Par.overlap(spark,
            width = if (o.disableParallelIndexing) 1 else Int.MaxValue)(
            pgTables.map { t =>
              branch(spark, s"load ${t.name}")(
                graft.sinks.ClassicPgLoad.createLoad(t, landed(t.name), live,
                  o.tableSchema, o.hstoreAll, updatable, postgis,
                  hstoreIndex = o.hstoreAddIndex,
                  tablespace = o.tablespaceMainData,
                  tablespaceIndex = o.tablespaceMainIndex))
            }: _*)
        case None =>
          System.err.println(s"[graft] '$dsn' unreachable — writing " +
            "DDL + COPY artifacts instead of loading live")
          val ddl = pgTables.flatMap { t =>
            val (create, postLoad) = graft.sinks.PgClassic.createStatements(
              t, o.tableSchema, updatable, hstoreIndex = o.hstoreAddIndex,
              tablespace = o.tablespaceMainData,
              tablespaceIndex = o.tablespaceMainIndex)
            create ++ postLoad
          }
          java.nio.file.Files.writeString(out.resolve("ddl.sql"),
            ddl.mkString("", ";\n", ";\n"))
          pgTables.foreach { t =>
            graft.sinks.PgClassic.copyLines(
              graft.sinks.PgClassic.copyFrame(landed(t.name), t,
                o.hstoreAll), t).write.mode("overwrite")
              .text(s"$out/copy/${t.name}")
          }
      }
    }
  }

  /** The reference's append flow (src/osmdata.cpp:371-406): change ids
    * → dependency closure → re-derive subset → delete-then-insert
    * against the previous tables (the properties resolution in run()
    * already vetted updatable/prefix/attributes/flat-nodes/output).
    *
    * The stored middle is read with the entity schema and merged with
    * the changes once ([[ClassicUpdate.mergeOnce]]: three streams
    * materialized side by side). One overlap then runs the three
    * middle writes, the `-e` tile list, the new properties timestamp
    * and the delta: the closure and re-derivation on the stored merge
    * ([[ClassicUpdate.deltaOn]]), then the four table writes and the
    * live delete-before-insert (`liveLoad`) side by side. The previous
    * tables are read with the re-derived rows' schema. The plans read
    * the current files, so every output is staged as `<name>_new` and
    * swapped in, with the properties save, only after every branch
    * succeeded; on a failure the staging is deleted and the current
    * outputs stay as they were. The stored rows are released either
    * way. */
  private def appendClassic(spark: SparkSession, o: Options,
      osm: OsmDataFrames, style: graft.classic.Style,
      settings: ClassicPipeline.Settings, stored: Option[Map[String, String]],
      liveLoad: Option[ClassicUpdate.Delta => Unit]): Unit = {
    val out = o.outputDir
    val middle = s"$out/${o.middleDir}"
    def staged(path: String) = s"${path}_new"
    val tiles = Option.when(o.expireZoomMax > 0)(tileList(o))
    val staging = (middle +: tableNames(o).map(n => s"$out/$n")) ++
      tiles.map(_.toString)
    val before = OsmDataFrames(
      spark.read.schema(OsmSchema.node).parquet(s"$middle/nodes"),
      spark.read.schema(OsmSchema.way).parquet(s"$middle/ways"),
      spark.read.schema(OsmSchema.relation).parquet(s"$middle/relations"))
    val merged = ClassicUpdate.mergeOnce(before, osm)
    try {
      // written by its branch, read after the overlap joined it
      var props: Option[Map[String, String]] = None
      def writeTables(delta: ClassicUpdate.Delta): Unit = {
        val Seq(point, line, polygon, roads) =
          tablesOf(o, delta.rederived).map { case (name, like) =>
            spark.read.schema(like.schema).parquet(s"$out/$name")
          }
        val updated = ClassicUpdate.applyDelta(
          ClassicPipeline.Tables4(point, line, polygon, roads), delta)
        graft.operators.Par.overlap(spark)(
          tablesOf(o, updated).map { case (name, df) =>
            branch(spark, s"write $name")(
              df.write.mode("overwrite").parquet(staged(s"$out/$name")))
          } ++ liveLoad.map(l => branch(spark, "live load")(l(delta))): _*)
      }
      // the longest branches first: the pool has at most one thread
      // per core
      graft.operators.Par.overlap(spark)(
        Seq(branch(spark, "delta") {
          val delta = ClassicUpdate.deltaOn(merged, osm, style, settings)
          try writeTables(delta)
          finally delta.unpersistBacking()
        }) ++ tiles.map(t => branch(spark, "expire")(
          expireTiles(o, osm, java.nio.file.Paths.get(staged(t.toString))))) ++
          Seq("nodes" -> merged.nodes, "ways" -> merged.ways,
            "relations" -> merged.relations).map { case (stream, df) =>
            branch(spark, s"write middle $stream")(
              df.write.mode("overwrite").parquet(s"${staged(middle)}/$stream"))
          } :+
          // advance current_timestamp to the newest applied change
          // (the reference re-runs store_data_properties on append)
          branch(spark, "properties") {
            props = stored.map(graft.sinks.Properties.appendProperties(_, osm))
          }: _*)
      // the swap: each staged output replaces the current one
      staging.foreach { path =>
        val dst = java.nio.file.Paths.get(path)
        if (java.nio.file.Files.isDirectory(dst))
          org.apache.commons.io.FileUtils.deleteDirectory(dst.toFile)
        java.nio.file.Files.move(java.nio.file.Paths.get(staged(path)), dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      props.foreach(graft.sinks.Properties.save(spark, s"$out/properties", _))
    } catch {
      case t: Throwable =>
        staging.foreach(p => org.apache.commons.io.FileUtils
          .deleteQuietly(new java.io.File(staged(p))))
        throw t
    } finally merged.unpersistBacking()
  }

  /** -O flex: load the named compiled config, enrich ways with the
    * resolved `__geom` linestring, run [[graft.flex.FlexRunner]], and
    * land each output table as parquet (an action on the runner's
    * frames also realizes its observable insert counters). */
  private def runFlex(spark: SparkSession, o: Options,
      osm: OsmDataFrames): Unit = {
    import org.apache.spark.sql.functions._
    val name = o.styleFile.getOrElse(Options.fail(
      "The flex output requires a style: the fully-qualified name of " +
        "a compiled graft.flex.FlexConfig object (-S)."))
    // the flex append (FlexRunner.append) is not wired to the CLI: an
    // append would run the config on the change file alone, and the
    // live load below would replace every table with those rows
    if (o.append && o.database.exists(graft.sinks.PgLive.reachable))
      Options.fail("-O flex -a cannot update a database yet: the flex " +
        "output has no incremental update path to PostgreSQL, and a " +
        "reload would replace every table with the rows derived from " +
        "the change file alone. Run the flex append without -d " +
        "(parquet output only), or re-import with -O flex -d.")
    val cfg = loadFlexConfig(name, o.append, o.database,
      luaPropertiesOf(o))
    // osm2pgsql.mode for configs (track-changes.lua gates on it):
    // a literal __mode column on every entity frame; enrichment in
    // graft.flex.Enrich (shared with the spec harness)
    val mode = if (o.append) "append" else "create"
    val res = graft.flex.FlexRunner.run(cfg,
      graft.flex.Enrich.forFlex(osm, mode))
    val out = java.nio.file.Paths.get(o.outputDir)
    java.nio.file.Files.createDirectories(out)
    res.tables.foreach { case (tname, tr) =>
      tr.rows.write.mode("overwrite").parquet(s"$out/$tname")
    }

    // process_gen analog: the config's generalization steps run after
    // the load against the landed tables, writing the declared dest
    // tables (osm2pgsql-gen's run_gen, flex-config/gen/forests.lua)
    cfg.genSteps.foreach { g =>
      val src = spark.read.parquet(s"$out/${g.srcTable}")
      val result = graft.operators.GenRunner.runGen(g.strategy, src,
        g.params)
      val projected = cfg.tables.find(_.name == g.destTable) match {
        case Some(d) =>
          val wanted = d.schema.fieldNames.filter(result.columns.contains)
          result.select(wanted.map(col(_)): _*)
        case None => result
      }
      projected.write.mode("overwrite").parquet(s"$out/${g.destTable}")
    }

    // expire outputs (expire_output_t::output, src/expire-output.cpp:
    // 71-141): filename → sorted z/x/y lines APPENDED like the
    // reference's fopen("a"); table → CREATE IF NOT EXISTS + set-based
    // upsert (the reference's per-tile prepared INSERT .. ON CONFLICT
    // collapses to one INSERT..SELECT over a COPY'd temp table). Both
    // stream through toLocalIterator under the overall cap — the tile
    // list is never collected as rows.
    if (res.expire.nonEmpty) {
      val outputs = cfg.tables
        .flatMap(_.columns.flatMap(_.expire.map(_.output)))
        .map(e => e.name -> e).toMap
      val liveDsn = o.database.filter(graft.sinks.PgLive.reachable)
      res.expire.foreach { case (ename, tiles) =>
        val eo = outputs(ename)
        eo.filename.foreach { f =>
          // relative names land in --output-dir
          graft.operators.Expire.writeLines(
            graft.operators.Expire.formatTiles(tiles),
            out.resolve(f), eo.maxTilesOverall, append = true,
            s"Overall tile limit ${eo.maxTilesOverall} " +
              s"reached for expire output '$ename'!")
        }
        eo.table.foreach { tbl =>
          liveDsn match {
            case Some(dsn) =>
              val qn = s""""${eo.schema}"."$tbl""""
              graft.sinks.PgLive.execOrThrow(dsn,
                s"CREATE TABLE IF NOT EXISTS $qn (" +
                  " zoom int4 NOT NULL, x int4 NOT NULL, y int4 NOT NULL," +
                  " first timestamp with time zone DEFAULT CURRENT_TIMESTAMP(0)," +
                  " last timestamp with time zone DEFAULT CURRENT_TIMESTAMP(0)," +
                  " PRIMARY KEY (zoom, x, y));")
              import scala.jdk.CollectionConverters._
              val lines = tiles
                .selectExpr("concat_ws('\t', zoom, x, y) AS l")
                .orderBy("l").limit(math.min(eo.maxTilesOverall,
                  Int.MaxValue.toLong).toInt)
                .toLocalIterator().asScala.map(_.getString(0) + "\n")
              graft.sinks.PgLive.session(dsn,
                Iterator("BEGIN;\n",
                  "CREATE TEMP TABLE __graft_exp (zoom int4, x int4," +
                    " y int4) ON COMMIT DROP;\n",
                  "COPY __graft_exp FROM STDIN;\n") ++
                  lines ++
                  Iterator("\\.\n",
                    s"INSERT INTO $qn (zoom, x, y) SELECT zoom, x, y" +
                      " FROM __graft_exp ON CONFLICT (zoom, x, y)" +
                      " DO UPDATE SET last = CURRENT_TIMESTAMP(0);\n",
                    "COMMIT;\n"))
            case None =>
              tiles.write.mode("overwrite").parquet(s"$out/expire_$ename")
          }
        }
      }
    }
    // live flex load: the flex-output lifecycle per table
    // (src/output-flex.cpp start/stop), from the landed parquet
    o.database.foreach { dsn =>
      java.nio.file.Files.writeString(out.resolve("jdbc_url.txt"),
        graft.sinks.PgSink.jdbcUrlFromDsn(dsn) + "\n")
      if (graft.sinks.PgLive.reachable(dsn)) {
        val needHstore = cfg.tables.exists(
          _.columns.exists(_.ctype == graft.flex.FlexType.Hstore))
        val postgis =
          graft.sinks.ClassicPgLoad.prepareServer(dsn, needHstore)
        cfg.tables.foreach { t =>
          // a table's own schema field wins over the CLI --schema
          // (define_table{schema=...}, with-schema.lua)
          val ts = t.schemaName.getOrElse(o.tableSchema)
          val q = s""""$ts"."${t.name}""""
          val create = t.schemaName
            .map(s => s"""CREATE SCHEMA IF NOT EXISTS "$s"""").toSeq ++
            Seq(s"DROP TABLE IF EXISTS $q",
              graft.sinks.PgSink.createTableDdl(t, unlogged = true, ts,
                postgis))
          // a declared table nothing inserted into (e.g. a gen dest
          // table when process_gen didn't run) exists but stays empty
          val lines = Some(s"$out/${t.name}")
            .filter(new java.io.File(_).exists())
            .map(p => graft.sinks.PgSink.copyLines(spark.read.parquet(p), t,
              postgis))
          graft.sinks.PgLive.loadTable(dsn, q, create, lines,
            graft.sinks.PgSink.postLoadDdl(t, updatable = o.slim && !o.drop,
              ts, postgis))
        }
      }
    }
  }

  /** Resolve a FlexConfig: a `.lua` path runs through the embedded
    * Lua runtime ([[graft.flex.LuaFlexConfig]] — the reference's
    * native config surface, osm2pgsql-manual `-S config.lua`);
    * anything else is a fully-qualified compiled Scala `object`
    * (companion MODULE$) or zero-arg class (the typed DSL). */
  /** osm2pgsql.properties visible to Lua configs (the properties_t
    * entries output_flex_t::init_lua pushes; lua-basics.feature
    * checks attributes/prefix). */
  private def luaPropertiesOf(o: Options): Map[String, String] = Map(
    "attributes" -> o.extraAttributes.toString,
    "prefix" -> o.prefix,
    "output" -> o.output,
    "updatable" -> o.slim.toString,
    "db_format" -> (if (o.slim) "1" else "0"),
    "version" -> "2.3.0")

  private def loadFlexConfig(name: String, append: Boolean = false,
      database: Option[String] = None,
      luaProperties: Map[String, String] = Map.empty)
      : graft.flex.FlexConfig =
    if (name.endsWith(".lua")) {
      if (!new java.io.File(name).exists())
        Options.fail(s"Error loading lua config: file '$name' not found.")
      // define_locator's add_from_db queries run against -d when the
      // server is reachable (psql -At rows: name|hex-ewkb)
      val resolver = database.filter(graft.sinks.PgLive.reachable)
        .map { dsn => (sql: String) =>
          graft.sinks.PgLive.execOrThrow(dsn, sql + ";")
            .linesIterator.filter(_.contains("|")).map { line =>
              val i = line.indexOf('|')
              val hex = line.substring(i + 1).stripPrefix("\\x")
              line.substring(0, i) -> hex.grouped(2)
                .map(Integer.parseInt(_, 16).toByte).toArray
            }.toSeq
        }
      try graft.flex.LuaFlexConfig.fromFile(name,
        mode = if (append) "append" else "create",
        dbRegionResolver = resolver,
        properties = luaProperties)
      catch {
        case e: Exception => Options.fail(
          s"Error loading lua config: ${e.getMessage}.")
      }
    } else try {
      val cls =
        try Class.forName(name + "$")
        catch { case _: ClassNotFoundException => Class.forName(name) }
      if (cls.getName.endsWith("$"))
        cls.getField("MODULE$").get(null).asInstanceOf[graft.flex.FlexConfig]
      else cls.getDeclaredConstructor().newInstance()
        .asInstanceOf[graft.flex.FlexConfig]
    } catch {
      case _: ClassNotFoundException => Options.fail(
        s"Flex config '$name' not found: -S must name a compiled " +
          "graft.flex.FlexConfig object (e.g. " +
          "graft.flex.examples.PoisAndHighways) or a .lua config file.")
    }
}
