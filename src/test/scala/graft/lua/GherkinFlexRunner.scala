package graft.lua

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.geom.{Ewkb, Geometry => GGeom, GeomOps, NullGeom,
  Point => GPoint, LineString => GLine, Polygon => GPoly,
  MultiPoint => GMPoint, MultiLineString => GMLine,
  MultiPolygon => GMPoly, GeometryCollection => GColl}

/** Executes the reference's flex BDD scenarios verbatim: grid + OSM
  * data + Lua style through [[graft.flex.LuaFlexConfig]], with the
  * BDD table matchers re-implemented over the landed frames
  * (tags->'k', !geo grid notation, ST_* wrappers, !substr/!re/!~
  * tolerances — numeric cells compare with half-last-digit slack
  * like the reference's float matcher). Append (-a) scenarios and
  * PG-only steps are reported as skips, never silently dropped. */
final class GherkinFlexRunner(spark: SparkSession) {

  import Gherkin._

  sealed trait Outcome
  case object Passed extends Outcome
  final case class Skipped(reason: String) extends Outcome
  final case class Failed(reason: String) extends Outcome

  // default grid: spacing 0.1, origin lon 20.0 lat 20.0 (derived
  // from line-splitting.feature's absolute coordinates and
  // geometry-linestring's spherical lengths)
  private var gridStep = 0.1
  private var gridOrigin = (20.0, 20.0)
  private var gridNodes = Map.empty[Long, (Double, Double)]
  private var luaSource: Option[String] = None
  private var osmData: Option[String] = None
  private var inputFile: Option[String] = None
  private var runResult: Option[graft.flex.FlexRunner.Result] = None
  private var runError: Option[Throwable] = None
  private var capturedOut: String = ""
  private var capturedErr: String = ""
  // run-to-run state within a scenario (the append flow): the raw
  // middle and the materialized table contents of the previous run
  private var middle: Option[graft.sources.OsmXml.OsmDataFrames] = None
  private var tablesState: Map[String, DataFrame] = Map.empty
  // expire outputs with a `table =` sink, accumulated over appends —
  // the reference creates them empty on import and upserts dirty
  // tiles per append run (src/expire-output.cpp:96-141)
  private var expireState: Map[String, DataFrame] = Map.empty
  private var sqlStatements: Map[String, String] = Map.empty
  // a Given after a run REPLACES the pending input (the reference
  // harness feeds each run its own file)
  private var dataConsumed = false
  private var logDebug = false
  private var extraAttributes = false
  private var lastConfig: Option[graft.flex.FlexConfig] = None
  // grid nodes (re)declared since the last run: a Given-grid after a
  // run is CHANGE data for the next append (the reference harness
  // writes each run's grid nodes into that run's input file)
  private var dirtyGrid = Set.empty[Long]

  private def reset(): Unit = {
    // the flex pass persists its insert streams (LuaFlexConfig
    // MEMORY_AND_DISK) — drop the previous scenario's entries so a
    // long suite can't pin the storage region. Scenario state held
    // across runs is LocalRelation-backed (materialize), unaffected.
    spark.catalog.clearCache()
    gridStep = 0.1; gridOrigin = (20.0, 20.0)
    gridNodes = Map.empty; luaSource = None; osmData = None
    inputFile = None; runResult = None; runError = None
    capturedOut = ""; capturedErr = ""
    middle = None; tablesState = Map.empty; expireState = Map.empty
    sqlStatements = Map.empty
    dataConsumed = false
    logDebug = false
    extraAttributes = false
    lastConfig = None
    dirtyGrid = Set.empty
  }

  /** Pin a frame's CONTENT as driver-side rows. BDD scenario data is
    * tens of rows; collect + re-create keeps run-to-run state exact
    * without caching executor blocks (localCheckpoint across ~100
    * scenarios pinned the storage region until every aggregation
    * thrashed in allocatePage — and Dataset.unpersist does NOT free a
    * localCheckpoint's RDD blocks, they aren't CacheManager entries). */
  private def materialize(df: DataFrame): DataFrame = {
    val rows = java.util.Arrays.asList(df.collect(): _*)
    spark.createDataFrame(rows, df.schema)
  }

  def runScenario(background: Vector[Step], sc: Scenario): Outcome = {
    reset()
    try {
      (background ++ sc.steps).foreach { st =>
        exec(st) match {
          case Some(skip) => return Skipped(skip)
          case None       => ()
        }
      }
      Passed
    } catch {
      case e: SkipStep        => Skipped(e.reason)
      case e: ScenarioFailure => Failed(e.getMessage)
      case scala.util.control.NonFatal(e) => Failed(e.toString)
    }
  }

  private final class ScenarioFailure(msg: String)
      extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new ScenarioFailure(msg)
  /** capability gap (unsupported matcher/function) → skip, not fail */
  private final class SkipStep(val reason: String)
      extends RuntimeException(reason)

  /** Execute one step; Some(reason) = unsupported → skip scenario. */
  private def exec(st: Step): Option[String] = {
    val t = st.text.replaceAll("^(Given|When|Then|And|But) ", "")
    val gridRe =
      raw"the (?:([0-9.]+) )?grid(?: with origin ([0-9.-]+) ([0-9.-]+))?".r
    t match {
      case gridRe(step0, ox, oy) if st.table.nonEmpty =>
        if (step0 != null) gridStep = step0.toDouble
        if (ox != null) gridOrigin = (ox.toDouble, oy.toDouble)
        // the origin is the LAST row's left cell; earlier rows lie
        // SOUTH of it (bbox.feature: grid rows [_,12],[10,11] with
        // origin 20.0 10.1 puts n10 at lat 10.1 and n12 at 10.0)
        val nRows = st.table.size
        st.table.zipWithIndex.foreach { case (row, r) =>
          row.zipWithIndex.foreach { case (cell, c) =>
            if (cell.nonEmpty) {
              gridNodes += cell.toLong ->
                (gridOrigin._1 + c * gridStep,
                  gridOrigin._2 - (nRows - 1 - r) * gridStep)
              dirtyGrid += cell.toLong
            }
          }
        }
        None
      case "the OSM data" =>
        if (dataConsumed) { osmData = Some(st.doc.getOrElse(""))
          inputFile = None; dataConsumed = false }
        else osmData = Some(osmData.map(_ + "\n").getOrElse("") +
          st.doc.getOrElse(""))
        None
      case "the lua style" =>
        luaSource = Some(st.doc.getOrElse(""))
        None
      case s if s.startsWith("the SQL statement ") =>
        val name = s.stripPrefix("the SQL statement ").trim
        sqlStatements += name -> st.doc.getOrElse("")
        None
      case s if s.startsWith("the style file '") =>
        val f = s.stripPrefix("the style file '").stripSuffix("'")
        luaSource = Some(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"/root/reference/tests/data/$f")),
          java.nio.charset.StandardCharsets.UTF_8))
        None
      case s if s.startsWith("the input file '") =>
        val f = s.stripPrefix("the input file '").stripSuffix("'")
        val p = s"/root/reference/tests/data/$f"
        val supported = f.endsWith(".pbf") || f.endsWith(".osc") ||
          f.endsWith(".osc.gz") || f.endsWith(".osm")
        if (!supported || !new java.io.File(p).exists())
          Some(s"input file $f")
        else {
          if (dataConsumed) { osmData = None; dataConsumed = false }
          inputFile = Some(p); None
        }
      case "running osm2pgsql flex" => runFlex(append = false); None
      case "running osm2pgsql flex with parameters" =>
        // -c (create) and --slim are the in-memory runner's defaults;
        // -a runs the incremental append flow
        val params = st.table.flatten.filter(_.nonEmpty)
        val known = Set("--slim", "-c", "--create", "-a", "--append",
          "-x", "--extra-attributes")
        if (params.exists(p => !known(p) && !p.startsWith("--log-level")))
          Some(s"parameters ${params.mkString(" ")} (PG flow)")
        else {
          logDebug = params.contains("--log-level=debug")
          extraAttributes = params.contains("-x") ||
            params.contains("--extra-attributes")
          runFlex(append =
            params.contains("-a") || params.contains("--append"))
          None
        }
      case stmtRe(name, mode) =>
        assertStatement(name, mode, st.table)
        None
      case "execution fails" =>
        if (runError.isEmpty) fail("expected the run to fail; it passed")
        None
      case "execution is successful" =>
        runError.foreach(e =>
          fail("run failed: " + allMessages(e).mkString(" | ")))
        None
      case "the error output contains" =>
        // exceptions AND captured stderr warnings both count (the
        // reference writes log warnings to stderr)
        val want = st.doc.getOrElse("").trim
        val got = runError.map(allMessages).getOrElse(Nil) :+ capturedErr
        if (!got.exists(_.contains(want)))
          fail(s"error did not contain '$want'; got: ${got.headOption}")
        None
      case s if s.startsWith("the standard output contains") =>
        val want = st.doc.getOrElse("").trim
        // cumulative after_* print counters run through the
        // single-state sequential compatibility pass
        // (LuaFlexConfig.processGraphSequential), so the exact
        // reference stdout is reproducible here
        if (!capturedOut.contains(want))
          fail(s"stdout did not contain '$want'; got: " +
            capturedOut.linesIterator.take(4).mkString("\\n"))
        None
      case notContainsRe(name) =>
        assertTableNotContains(name, st.table)
        None
      case tableRe(name, mode) =>
        assertTable(name, mode, st.table)
        None
      case hasRowsRe(name, n) =>
        runError.foreach(e =>
          fail("run failed: " + allMessages(e).mkString(" | ")))
        val tables = runResult.getOrElse(fail("no run")).tables
        val rowsDf = tables.get(name).map(_.rows)
          .orElse(expireState.get(name))
          .getOrElse(fail(s"no table $name"))
        val c = rowsDf.count()
        if (c != n.toLong) fail(s"table $name has $c rows, expected $n" +
          s"; sample: ${rowsDf.take(6).toSeq}")
        None
      case other => Some(s"unsupported step: $other")
    }
  }

  private val tableRe = raw"table (\S+) contains( exactly)?.*".r
  private val notContainsRe = raw"table (\S+) doesn't contain.*".r
  private val hasRowsRe = raw"table (\S+) has (\d+) rows?.*".r
  private val stmtRe = raw"statement (\S+) returns( exactly)?.*".r

  // ---------- running ----------

  /** Scenario data text: node lines referencing grid nodes pick up
    * the grid coordinates; on the CREATE run every other grid node
    * also materializes as an untagged node (the harness's import
    * fixture). Append changes carry ONLY the listed entities. */
  private def buildDataText(includeGridNodes: Boolean): String = {
    val nodeLineRe = raw"\s*n(\d+)\b.*".r
    // a previous run SPENT the pending data; without a fresh Given the
    // next run's input is only what changed since (re-declared grid
    // nodes) — the reference harness writes one file per run, never
    // replaying the previous one (extra-attributes.feature's append
    // carries just the moved grid node)
    val pendingData = if (dataConsumed) None else osmData
    val dataLines = pendingData.getOrElse("").split("\n").toSeq
      .map(_.trim).filter(_.nonEmpty)
    val redefined = scala.collection.mutable.Set.empty[Long]
    val merged = dataLines.map {
      case l @ nodeLineRe(id0) =>
        val id = id0.toLong
        redefined += id
        gridNodes.get(id) match {
          case Some((lon, lat)) if !l.contains(" x") =>
            s"$l x$lon y$lat"
          case _ => l
        }
      case l => l
    }
    // create runs materialize EVERY grid node; append runs only the
    // nodes a post-run grid step re-declared (they are the change)
    val gridIds =
      if (includeGridNodes) gridNodes.keySet else dirtyGrid
    val gridLines = gridNodes.toSeq.sortBy(_._1).collect {
      case (id, (lon, lat))
          if gridIds.contains(id) && !redefined.contains(id) =>
        s"n$id v1 dV x$lon y$lat"
    }
    (gridLines ++ merged).mkString("\n")
  }

  private def readInput(p: String, change: Boolean)
      : graft.sources.OsmXml.OsmDataFrames =
    graft.sources.OsmSource.read(spark, Seq(p))

  /** Materialize and remember a run's tables + middle so later
    * appends (and repeated assertions) don't replay the Lua passes. */
  private def commitRun(cfg: graft.flex.FlexConfig,
      r: graft.flex.FlexRunner.Result,
      newMiddle: graft.sources.OsmXml.OsmDataFrames,
      append: Boolean): Unit = {
    tablesState = r.tables.map { case (n, tr) =>
      n -> materialize(tr.rows) // also surfaces failures HERE
    }
    middle = Some(graft.sources.OsmXml.OsmDataFrames(
      materialize(newMiddle.nodes),
      materialize(newMiddle.ways),
      materialize(newMiddle.relations)))
    // table-sink expire outputs: empty on import, accumulate per
    // append (the reference's upsert keyed on zoom/x/y)
    val tableOutputs = cfg.tables
      .flatMap(_.columns.flatMap(_.expire.map(_.output)))
      .flatMap(o => o.table.map(t => o.name -> t)).toMap
    tableOutputs.foreach { case (outName, tableName) =>
      val tiles = r.expire.get(outName) match {
        // no expire on import (the reference only expires on append);
        // limit(0) keeps the tile schema for the empty initial table
        case Some(df) if !append => expireState.getOrElse(tableName,
          df.limit(0))
        case Some(df) => expireState.get(tableName)
          .map(_.unionByName(df).distinct()).getOrElse(df)
        case None => expireState.getOrElse(tableName, {
          import spark.implicits._
          Seq.empty[(Int, Long, Long)].toDF("zoom", "x", "y")
        })
      }
      expireState += tableName -> materialize(tiles)
    }
    runResult = Some(r.copy(tables = r.tables.map { case (n, tr) =>
      n -> tr.copy(rows = tablesState(n))
    }))
    runError = None
  }

  /** add_from_db backing: the reference scenarios SELECT from a table
    * a PREVIOUS run landed in the database — here that state is
    * [[tablesState]], so the user SQL runs over it as temp views and
    * returns (name, EWKB) regions (locator.feature "from db"). */
  private def regionResolver(sql: String): Seq[(String, Array[Byte])] = {
    tablesState.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    spark.sql(sql).collect().toSeq.map(r =>
      (String.valueOf(r.get(0)), r.getAs[Array[Byte]](1)))
  }

  private def runFlex(append: Boolean): Unit = {
    val lua = luaSource.getOrElse(fail("no lua style given"))
    // stdout/stderr capture: config `print` goes through Console.out
    // at driver load; engine warnings go through System.err
    val outBuf = new java.io.ByteArrayOutputStream()
    val errBuf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    try {
      System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
      Console.withOut(new java.io.PrintStream(outBuf, true, "UTF-8")) {
        if (!append) {
          val osm0 = inputFile match {
            case Some(p) => readInput(p, change = false)
            case None    => graft.sources.OsmText.toFrames(spark,
              buildDataText(includeGridNodes = true))
          }
          val osm = graft.flex.Enrich.forFlex(osm0, "create")
          // the BDD harness runs with default import properties
          val cfg = new graft.flex.LuaFlexConfig(lua, "style.lua",
            properties = Map("attributes" -> extraAttributes.toString,
              "prefix" -> "planet_osm", "updatable" -> "false"),
            dbRegionResolver = Some(regionResolver))
          lastConfig = Some(cfg)
          commitRun(cfg, graft.flex.FlexRunner.run(cfg, osm), osm0,
            append = false)
        } else {
          val prevMiddle = middle.getOrElse(
            fail("append run without a previous import"))
          val change = inputFile match {
            case Some(p) => readInput(p, change = true)
            case None    => graft.sources.OsmText.toFrames(spark,
              buildDataText(includeGridNodes = false), change = true)
          }
          val cfg = new graft.flex.LuaFlexConfig(lua, "style.lua",
            mode = "append",
            properties = Map("attributes" -> extraAttributes.toString,
              "prefix" -> "planet_osm", "updatable" -> "true"),
            dbRegionResolver = Some(regionResolver))
          lastConfig = Some(cfg)
          val ar = graft.flex.FlexRunner.append(cfg, tablesState,
            prevMiddle, change, storeAttributes = extraAttributes)
          commitRun(cfg, ar.result, ar.middle, append = true)
        }
        // --log-level=debug: the reference's per-way missing-node
        // report (missing-nodes.feature). One anti-join over the
        // landed middle, printed inside the captured stderr region.
        if (logDebug) middle.foreach { m =>
          import org.apache.spark.sql.functions.{col, explode,
            collect_list, sort_array}
          m.ways.select(col("id"), explode(col("nodes")).as("ref"))
            .join(m.nodes.select(col("id").as("nid")),
              col("ref") === col("nid"), "left_anti")
            .groupBy("id")
            .agg(sort_array(collect_list("ref")).as("refs"))
            .orderBy("id").collect()
            .foreach(r => System.err.println(s"Missing nodes in way " +
              s"${r.getLong(0)}: ${r.getSeq[Long](1).mkString(",")}"))
        }
      }
    } catch {
      case e: Throwable => runError = Some(e); runResult = None
    } finally {
      System.setErr(oldErr)
      capturedOut = outBuf.toString("UTF-8")
      capturedErr = errBuf.toString("UTF-8")
      dataConsumed = true
      dirtyGrid = Set.empty
    }
    // environment gaps (no live database) skip rather than fail
    runError.foreach { e =>
      if (allMessages(e).exists(_.contains("add_from_db needs a database")))
        throw new SkipStep("add_from_db needs a live database")
    }
  }

  // ---------- SQL statement assertions ----------

  /** `Then statement <name> returns [exactly]`: the stored SQL runs
    * over the landed tables as temp views; aggregate columns the
    * feature addresses bare (`count`) get their PG names. */
  private def assertStatement(name: String, exactly: String,
      expected: Vector[Vector[String]]): Unit = {
    runError.foreach(e =>
      fail("run failed: " + allMessages(e).mkString(" | ")))
    val sql = sqlStatements.getOrElse(name, fail(s"no SQL statement $name"))
    // pg_catalog index-listing statements (lua-index-definitions
    // .feature): synthesize the pg_get_indexdef rows from the run's
    // table definitions instead of running catalog SQL
    val idxTableRe = raw"(?s).*pg_catalog\.pg_index.*tablename = '(\w+)'.*".r
    sql match {
      case idxTableRe(tbl) =>
        assertFrame(s"statement $name", synthIndexRows(tbl), exactly,
          expected)
        return
      case _ => ()
    }
    val tables = runResult.getOrElse(fail("no run")).tables
    tables.foreach { case (n, tr) => tr.rows.createOrReplaceTempView(n) }
    val df0 =
      try spark.sql(sql)
      catch { case e: Exception =>
        throw new SkipStep(s"statement $name SQL unsupported: " +
          e.getMessage.linesIterator.take(1).mkString) }
    val renamed = df0.columns.foldLeft(df0) { (df, c) =>
      if (c.matches(raw"count\(.*\)")) df.withColumnRenamed(c, "count")
      else df
    }
    assertFrame(s"statement $name", renamed, exactly, expected)
  }

  /** pg_get_indexdef-style rows for a table's indexes, exactly what
    * the reference's DDL creates (flex-table.cpp create_index /
    * setup_flex_table_indexes + parse_create_index): the declared
    * index list, or the default geometry GiST when none is declared,
    * plus the id index per ids.create_index. PG renders plain
    * identifiers unquoted. */
  private def synthIndexRows(tbl: String): DataFrame = {
    import graft.flex.{FlexIndex, FlexType}
    val cfg = lastConfig.getOrElse(fail("no run"))
    val t = cfg.tables.find(_.name == tbl)
      .getOrElse(fail(s"no table $tbl in config"))
    def render(ix: FlexIndex): String = {
      val uniq = if (ix.unique) "UNIQUE " else ""
      val nm = if (ix.name.nonEmpty) ix.name
        else s"${tbl}_${(ix.columns ++ Seq("expr")).head}_idx"
      val target =
        if (ix.expression.nonEmpty) ix.expression
        else ix.columns.mkString(", ")
      val inc = if (ix.includeColumns.nonEmpty)
        s" INCLUDE (${ix.includeColumns.mkString(", ")})" else ""
      val wh = if (ix.where.nonEmpty) s" WHERE (${ix.where})" else ""
      s"CREATE ${uniq}INDEX $nm ON public.$tbl USING ${ix.method} " +
        s"($target)$inc$wh"
    }
    val bodyIdx: Seq[(String, Boolean)] = t.indexes match {
      case Some(list) => list.map(ix => (render(ix), false))
      case None => t.columns
        .filter(c => FlexType.sparkType(c.ctype) ==
          org.apache.spark.sql.types.BinaryType)
        .map(c => (s"CREATE INDEX ${tbl}_${c.name}_idx ON public.$tbl " +
          s"USING gist (${c.name})", false))
    }
    val idIdx: Seq[(String, Boolean)] = t.createIndex match {
      case "always" if t.hasIds =>
        Seq((s"CREATE INDEX ${tbl}_${t.idColumn}_idx ON public.$tbl " +
          s"USING btree (${t.idColumn})", false))
      case "unique" if t.hasIds =>
        Seq((s"CREATE UNIQUE INDEX ${tbl}_${t.idColumn}_idx ON " +
          s"public.$tbl USING btree (${t.idColumn})", false))
      case "primary_key" if t.hasIds =>
        Seq((s"CREATE UNIQUE INDEX ${tbl}_pkey ON public.$tbl " +
          s"USING btree (${t.idColumn})", true))
      case _ => Nil // 'auto': id index only for updatable tables
    }
    import spark.implicits._
    (bodyIdx ++ idIdx).toDF("indexdef", "is_primary")
  }

  private def allMessages(e: Throwable): Seq[String] =
    Option(e).toSeq.flatMap(x =>
      Option(x.getMessage).toSeq ++ allMessages(x.getCause))

  // ---------- table assertions ----------

  private def assertTable(name: String, exactly: String,
      expected: Vector[Vector[String]]): Unit = {
    runError.foreach(e =>
      fail("run failed: " + allMessages(e).mkString(" | ")))
    val tables = runResult.getOrElse(fail("no run")).tables
    val df = tables.get(name).map(_.rows)
      .orElse(expireState.get(name))
      .getOrElse(
        fail(s"no table '$name' (have ${tables.keys.mkString(",")})"))
    assertFrame(s"table $name", df, exactly, expected)
  }

  /** `Then table <name> doesn't contain`: every expectation row must
    * match NO actual row (way-change.feature's negated checks). */
  private def assertTableNotContains(name: String,
      expected: Vector[Vector[String]]): Unit = {
    runError.foreach(e =>
      fail("run failed: " + allMessages(e).mkString(" | ")))
    val tables = runResult.getOrElse(fail("no run")).tables
    val df = tables.get(name).map(_.rows)
      .orElse(expireState.get(name))
      .getOrElse(
        fail(s"no table '$name' (have ${tables.keys.mkString(",")})"))
    val header = expected.head
    val actual: Seq[Vector[String]] = df.collect().toSeq.map { row =>
      header.map(h => evalCell(row, h)).toVector
    }
    expected.drop(1).map(_.map(_.trim)).foreach { w =>
      val hit = actual.find(a =>
        header.indices.forall(i => cellMatches(header(i), w(i), a(i))))
      hit.foreach(a => fail(s"table $name unexpectedly contains " +
        s"(${header.mkString(" | ")}) = $a"))
    }
  }

  private def assertFrame(what: String, df: DataFrame, exactly: String,
      expected: Vector[Vector[String]]): Unit = {
    val header = expected.head
    val actual: Seq[Vector[String]] = df.collect().toSeq.map { row =>
      header.map(h => evalCell(row, h)).toVector
    }
    val want: Seq[Vector[String]] =
      expected.drop(1).map(_.map(_.trim))

    def rowMatches(w: Vector[String], a: Vector[String]): Boolean =
      header.indices.forall(i => cellMatches(header(i), w(i), a(i)))

    val pool = scala.collection.mutable.ArrayBuffer(actual: _*)
    want.foreach { w =>
      val i = pool.indexWhere(a => rowMatches(w, a))
      if (i < 0) fail(s"$what does not contain " +
        s"(${header.mkString(" | ")}) = $w\n  have: ${pool.take(8)}")
      pool.remove(i)
    }
    if (exactly != null && pool.nonEmpty)
      fail(s"$what has ${pool.size} unexpected rows: " +
        s"${pool.take(5)}")
  }

  /** One cell comparison with the feature matchers. */
  private def cellMatches(header: String, want0: String,
      got: String): Boolean = {
    val (_, matcher) = splitMatcher(header)
    val want = want0.trim
    if (want == "NULL" || got == "NULL") return want == got
    matcher match {
      case Some("geo")    => geoMatches(normGeo(want), got)
      case Some("substr") => got.contains(want)
      case Some("re")     => got.matches(want)
      case Some("i")      => got.equalsIgnoreCase(want)
      case Some(m) if m.startsWith("~") =>
        val tol = m.drop(1)
        (want.toDoubleOption, got.toDoubleOption) match {
          case (Some(w), Some(g)) =>
            if (tol.endsWith("%"))
              math.abs(g - w) <=
                math.abs(w) * tol.dropRight(1).toDouble / 100.0
            else math.abs(g - w) <= tol.toDouble
          case _ => false
        }
      case _ =>
        (want.toDoubleOption, got.toDoubleOption) match {
          case (Some(w), Some(g)) => numClose(w, g, want)
          case _ if want.startsWith("{") && got.startsWith("{") =>
            // Python-dict expectations ({'k': 'v'}) vs the json/hstore
            // rendering: compare as key→value maps, order-free
            pyDict(want) == jsonPairs(got)
          case _ => want == got
        }
    }
  }

  private def pyDict(s: String): Map[String, String] =
    raw"'((?:[^'\\]|\\.)*)'\s*:\s*'((?:[^'\\]|\\.)*)'".r
      .findAllMatchIn(s).map(m => m.group(1) -> m.group(2)).toMap

  private def jsonPairs(s: String): Map[String, String] =
    raw""""((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      .findAllMatchIn(s).map(m => m.group(1) -> m.group(2)).toMap

  /** Numeric slack: half the last written digit of the expectation
    * (so `0.24142136` allows ±5e-9 and `25718.176` ±5e-4). */
  private def numClose(w: Double, g: Double, wText: String): Boolean = {
    val decimals = wText.reverse.takeWhile(_ != '.').length *
      (if (wText.contains('.')) 1 else 0)
    val tol = math.max(1e-9 * math.abs(w),
      0.5 * math.pow(10, -decimals))
    math.abs(g - w) <= tol
  }

  private def splitMatcher(h: String): (String, Option[String]) = {
    val i = h.lastIndexOf('!')
    if (i < 0) (h.trim, None)
    else (h.take(i).trim, Some(h.drop(i + 1).trim))
  }

  /** Structural geometry compare: identical shape characters, numeric
    * tokens compared with the expectation's written precision. */
  private def geoMatches(want: String, got: String): Boolean = {
    val tokRe = raw"-?\d+(?:\.\d+)?|[\[\](){},;]".r
    val wt = tokRe.findAllIn(want).toVector
    val gt = tokRe.findAllIn(got).toVector
    wt.size == gt.size && wt.zip(gt).forall { case (w, g) =>
      (w.toDoubleOption, g.toDoubleOption) match {
        case (Some(wd), Some(gd)) => numClose(wd, gd, w)
        case _                    => w == g
      }
    }
  }

  // ---------- evaluation into display strings ----------

  private def evalCell(row: org.apache.spark.sql.Row,
      header: String): String = {
    val (expr0, _) = splitMatcher(header)
    evalExpr(row, expr0) match {
      case null          => "NULL"
      case g: GGeom      => canonicalGeom(g)
      case b: Boolean    => if (b) "True" else "False"
      case d: Double     => fmt(d)
      case f: Float      => fmt(f.toDouble)
      case other         => other.toString
    }
  }

  private val arrowRe = raw"(\w+)\s*(->>?)\s*'([^']+)'".r
  private val fnRe = raw"(\w+)\((.*)\)".r

  private def evalExpr(row: org.apache.spark.sql.Row,
      e0: String): Any = {
    val e = e0.trim
    // `a = b` equality between two sub-expressions
    val eqIdx = topLevelEq(e)
    if (eqIdx >= 0) {
      val l = evalExpr(row, e.take(eqIdx))
      val r = evalExpr(row, e.drop(eqIdx + 1))
      return (l, r) match {
        case (a: GGeom, b: GGeom) => a == b
        case (a, b)               => a == b
      }
    }
    if (e.endsWith("::text")) {
      return evalExpr(row, e.stripSuffix("::text")) match {
        case null => null
        case ts: java.sql.Timestamp =>
          // PG timestamp::text form: no trailing fraction when zero
          ts.toString.stripSuffix(".0")
        case other => other.toString
      }
    }
    e match {
      case arrowRe(col0, _, key) =>
        val i = row.fieldIndex(col0)
        if (row.isNullAt(i)) null
        else row.get(i) match {
          case m: scala.collection.Map[_, _] =>
            m.asInstanceOf[scala.collection.Map[String, String]]
              .get(key).orNull
          case s: String => // json text column; ->> unescapes fully
            val p = (s""""${java.util.regex.Pattern.quote(key)}":"((?:[^"\\\\]|\\\\.)*)"""").r
            p.findFirstMatchIn(s).map(m2 => jsonUnescape(m2.group(1)))
              .orNull
          case other => other
        }
      case fnRe(fn, args) => evalFn(row, fn, args)
      case col0 =>
        // `"user"`-style quoted identifiers address the bare column
        val cn = if (col0.length > 1 && col0.head == '"' &&
          col0.last == '"') col0.substring(1, col0.length - 1) else col0
        val i = row.fieldIndex(cn)
        if (row.isNullAt(i)) null
        else row.get(i) match {
          case b: Array[Byte] => Ewkb.decode(b)
          case other          => other
        }
    }
  }

  /** Full JSON string unescape (what PG's ->> does): the standard
    * two-char escapes plus \uXXXX. */
  private def jsonUnescape(s: String): String = {
    val b = new java.lang.StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => b.append('\n'); i += 2
          case 't' => b.append('\t'); i += 2
          case 'r' => b.append('\r'); i += 2
          case 'b' => b.append('\b'); i += 2
          case 'f' => b.append('\f'); i += 2
          case 'u' if i + 5 < s.length + 1 =>
            b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16)
              .toChar)
            i += 6
          case other => b.append(other); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** Index of a top-level `=` (not inside parens/quotes), or -1. */
  private def topLevelEq(s: String): Int = {
    var depth = 0; var i = 0; var inQ = false
    while (i < s.length) {
      s(i) match {
        case '\'' => inQ = !inQ
        case '(' if !inQ => depth += 1
        case ')' if !inQ => depth -= 1
        case '=' if !inQ && depth == 0 &&
            (i == 0 || (s(i - 1) != '<' && s(i - 1) != '>' &&
              s(i - 1) != '!' && s(i - 1) != '=')) &&
            (i + 1 >= s.length || s(i + 1) != '=') =>
          return i
        case _ => ()
      }
      i += 1
    }
    -1
  }

  /** First top-level argument of a comma-separated list. */
  private def firstArg(args: String): String = {
    var depth = 0; var j = 0
    while (j < args.length) {
      args(j) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => return args.take(j).trim
        case _   => ()
      }
      j += 1
    }
    args.trim
  }

  private def evalFn(row: org.apache.spark.sql.Row, fn: String,
      args: String): Any = {
    def innerGeom: GGeom = evalExpr(row, firstArg(args)) match {
      case g: GGeom => g
      case null     => NullGeom()
      case other    => fail(s"$fn over non-geometry $other")
    }
    fn match {
      case "ST_GeometryType" =>
        if (innerGeom.isNull) null else "ST_" + wkbName(innerGeom)
      case "ST_NumGeometries" => innerGeom.numGeometries
      case "ST_GeometryN" =>
        GeomOps.geometryN(innerGeom, args.split(",").last.trim.toInt)
      case "ST_Length"  => GeomOps.length(innerGeom)
      case "ST_Area"    => GeomOps.area(innerGeom)
      case "ST_X"       => innerGeom.asInstanceOf[GPoint].x
      case "ST_Y"       => innerGeom.asInstanceOf[GPoint].y
      case "ST_NPoints" => LuaGeom.nPoints(innerGeom)
      case "ST_Transform" =>
        GeomOps.transform(innerGeom, args.split(",").last.trim.toInt)
      case "encode" =>
        // encode(<expr>::bytea, 'hex') — tags.feature's special-chars
        // scenario checks the stored strings byte-for-byte
        val fmt = args.split(",").last.trim
          .stripPrefix("'").stripSuffix("'")
        if (fmt != "hex") throw new SkipStep(s"encode format $fmt")
        val inner0 = firstArg(args).stripSuffix("::bytea").trim
        val inner = if (inner0.startsWith("(") && inner0.endsWith(")"))
          inner0.substring(1, inner0.length - 1) else inner0
        evalExpr(row, inner) match {
          case null => null
          case s => s.toString.getBytes("UTF-8")
            .map(b => f"${b & 0xff}%02x").mkString
        }
      case "to_char" =>
        // the features' one pattern: to_char(<ts> AT TIME ZONE 'UTC',
        // 'YYYY-MM-DD"T"HH24:MI:SS"Z"') — session tz is UTC already
        val arg0 = firstArg(args).replaceAll(
          raw"\s+AT TIME ZONE\s+'[^']*'$$", "")
        evalExpr(row, arg0) match {
          case null => null
          case ts: java.sql.Timestamp => java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
            .format(ts.toLocalDateTime)
          case other => other.toString
        }
      case other => throw new SkipStep(s"unsupported function $other")
    }
  }

  private def wkbName(g: GGeom): String = g match {
    case _: GPoint  => "Point"
    case _: GLine   => "LineString"
    case _: GPoly   => "Polygon"
    case _: GMPoint => "MultiPoint"
    case _: GMLine  => "MultiLineString"
    case _: GMPoly  => "MultiPolygon"
    case _: GColl   => "GeometryCollection"
    case _          => "Null"
  }

  // ---------- canonical text forms ----------

  private def fmt(d: Double): String =
    if (d == d.toLong.toDouble) d.toLong.toString else d.toString

  /** consecutive points equal after rounding collapse — split points
    * that land within double-epsilon of a vertex (segmentize) render
    * as the vertex, like the BDD matcher's rounded geometry text */
  private def dedupPts(pts: Seq[graft.geom.Pt]): Seq[graft.geom.Pt] =
    pts.foldLeft(Vector.empty[graft.geom.Pt]) { (acc, p) =>
      acc.lastOption match {
        case Some(q) if math.abs(q.x - p.x) < 1e-6 &&
          math.abs(q.y - p.y) < 1e-6 => acc
        case _ => acc :+ p
      }
    }

  private def canonicalGeom(g: GGeom): String = g match {
    case _: NullGeom => "NULL"
    case p: GPoint => s"${fmt(p.x)} ${fmt(p.y)}"
    case l: GLine =>
      dedupPts(l.pts).map(p => s"${fmt(p.x)} ${fmt(p.y)}").mkString(", ")
    case p: GPoly =>
      (p.outer +: p.inners).map(r =>
        "(" + canonRing(r.pts.map(pt => (pt.x, pt.y)))
          .map { case (x, y) => s"${fmt(x)} ${fmt(y)}" }
          .mkString(", ") + ")").mkString("")
    case m: GMPoint =>
      "[" + m.pts.map(p => s"${fmt(p.pt.x)} ${fmt(p.pt.y)}")
        .mkString("; ") + "]"
    case m: GMLine =>
      "[" + m.lines.map(l =>
        dedupPts(l.pts).map(p => s"${fmt(p.x)} ${fmt(p.y)}")
          .mkString(", ")).mkString("; ") + "]"
    case m: GMPoly =>
      "[" + m.polys.map(canonicalGeom).mkString("; ") + "]"
    case c: GColl =>
      "{" + c.geoms.map(canonicalGeom).mkString("; ") + "}"
  }

  /** Expected geo notation → coordinate text:
    *  `1` → grid point; `1, 2` → line; `(1, 2, 3, 1)` → ring(s);
    *  `[ a; b ]` → multi parts; explicit `x y` pairs pass through. */
  private def normGeo(v0: String): String = {
    val v = v0.trim
    if (v == "NULL") "NULL"
    else if (v.startsWith("[")) {
      val inner = v.stripPrefix("[").stripSuffix("]").trim
      "[" + splitTop(inner, ';').map(p => normGeo(p.trim))
        .mkString("; ") + "]"
    } else if (v.startsWith("{")) {
      // geometry collection: `{ part; part }`
      val inner = v.stripPrefix("{").stripSuffix("}").trim
      "{" + splitTop(inner, ';').map(p => normGeo(p.trim))
        .mkString("; ") + "}"
    } else if (v.startsWith("(")) {
      val rings = raw"\(([^)]*)\)".r.findAllMatchIn(v)
        .map(_.group(1)).toVector
      rings.map { r =>
        val pts = splitTop(r, ',').map(pt => gridPtD(pt.trim))
        "(" + canonRing(pts).map { case (x, y) =>
          s"${fmt(x)} ${fmt(y)}" }.mkString(", ") + ")"
      }.mkString("")
    } else {
      splitTop(v, ',').map(_.trim).filter(_.nonEmpty)
        .map(gridPt).mkString(", ")
    }
  }

  private def splitTop(s: String, sep: Char): Vector[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; val cur = new StringBuilder
    s.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case c if c == sep && depth == 0 =>
        out += cur.toString; cur.clear()
      case c => cur.append(c)
    }
    if (cur.nonEmpty) out += cur.toString
    out.toVector
  }

  private def gridPt(token: String): String = {
    val (x, y) = gridPtD(token)
    s"${fmt(x)} ${fmt(y)}"
  }

  private def gridPtD(token: String): (Double, Double) = {
    val t = token.trim
    if (t.matches(raw"-?[0-9.]+ -?[0-9.]+")) {
      val Array(x, y) = t.split(" +")
      (x.toDouble, y.toDouble)
    } else gridNodes.getOrElse(t.toLong,
      fail(s"geo notation references unknown grid node $t"))
  }

  /** Ring canonicalization — ring equality is rotation- and
    * direction-invariant (the BDD matcher compares polygons that
    * way): drop the closing point, rotate the numerically smallest
    * vertex first, pick the direction with the smaller second
    * vertex, re-close. Vertex comparison rounds to 1e-4 so float32
    * column noise can't flip the choice. */
  private def canonRing(pts0: Seq[(Double, Double)])
      : Vector[(Double, Double)] = {
    val open =
      if (pts0.size > 1 && near(pts0.head, pts0.last)) pts0.dropRight(1)
      else pts0.toSeq
    if (open.isEmpty) return Vector.empty
    def key(p: (Double, Double)): (Double, Double) =
      (math.rint(p._1 * 10000) / 10000, math.rint(p._2 * 10000) / 10000)
    val minIdx = open.indices.minBy(i => key(open(i)))
    val rotated = open.drop(minIdx) ++ open.take(minIdx)
    val fwd = rotated
    val bwd = rotated.head +: rotated.tail.reverse
    val chosen =
      if (fwd.size < 2) fwd
      else if (Ordering[(Double, Double)].lteq(key(fwd(1)), key(bwd(1))))
        fwd
      else bwd
    (chosen :+ chosen.head).toVector
  }

  private def near(a: (Double, Double), b: (Double, Double)): Boolean =
    math.abs(a._1 - b._1) < 1e-7 && math.abs(a._2 - b._2) < 1e-7
}
