package graft.cli

/** Command-line surface matching the reference's parser
  * (src/command-line-parser.cpp; validation semantics pinned by
  * tests/test-options-parse.cpp — error messages keep the upstream
  * wording so scripts matching on them keep working).
  */
final case class Options(
    inputFiles: Seq[String] = Nil,
    append: Boolean = false,
    create: Boolean = false,
    slim: Boolean = false,
    /** --drop: discard the middle after import — fast non-updatable
      * import (reference: src/osmdata.cpp:420, properties updatable =
      * slim && !droptemp at src/osm2pgsql.cpp:116) */
    drop: Boolean = false,
    database: Option[String] = None,
    /** -U/-H/-P/-W connection parameters, merged over the -d form
      * like the reference's connection_params_t
      * (src/command-line-app.cpp:30-73) */
    dbUser: Option[String] = None,
    dbHost: Option[String] = None,
    dbPort: Option[String] = None,
    dbPassword: Option[String] = None,
    /** --log-sql / --log-sql-data: echo statements / COPY payloads
      * sent to the live server (src/command-line-app.cpp:117-127) */
    logSql: Boolean = false,
    logSqlData: Boolean = false,
    output: String = "pgsql",
    /** whether -O/-p were given explicitly — append-time inheritance
      * mirrors the reference's prefix_is_set / empty-backend checks
      * (src/osm2pgsql.cpp:215-266) */
    outputSet: Boolean = false,
    prefixSet: Boolean = false,
    styleFile: Option[String] = None,
    /** --tag-transform-script: classic Lua tag transform
      * (src/tagtransform-lua.cpp), run by the embedded Lua runtime */
    tagTransformScript: Option[String] = None,
    hstore: Boolean = false,
    hstoreAll: Boolean = false,
    hstoreMatchOnly: Boolean = false,
    /** -z/--hstore-column PREFIX (repeatable): one extra hstore column
      * per prefix, holding `shortkey=>value` for every tag whose key
      * starts with the prefix (src/table.cpp:322-345) */
    hstoreColumns: Seq[String] = Nil,
    /** --hstore-add-index: GIN indexes on the hstore column(s) after
      * load (src/table.cpp:228-239); downgraded with the reference's
      * warning when no hstore is enabled (command-line-parser.cpp:195) */
    hstoreAddIndex: Boolean = false,
    extraAttributes: Boolean = false,
    /** output SRID: 3857 (-m, default) or 4326 (-l); the reference's
      * generic --proj/-E PROJ path is a documented delta (it is
      * optional upstream too, src/reprojection-generic-none.cpp) */
    srid: Int = graft.geom.Srid.WebMercator,
    /** -K/--keep-coastlines: keep natural=coastline tags instead of
      * discarding them (src/tagtransform-c.cpp:182-190) */
    keepCoastlines: Boolean = false,
    /** -G/--multi-geometry: write relation multipolygons as ONE row
      * instead of splitting into parts (src/output-pgsql.cpp:302-304) */
    multiGeometry: Boolean = false,
    /** --reproject-area: way_area computed in 3857 regardless of the
      * output projection (src/output-pgsql.cpp:45-56) */
    reprojectArea: Boolean = false,
    /** -r/--input-reader: 'auto' (detect, default) or an explicit
      * format; validated against the supported set */
    inputReader: String = "auto",
    /** -C/--cache MB: RAM cache for the node store. Spark's middle is
      * partitioned parquet + executor memory, so the value only feeds
      * validation ("RAM cache cannot be negative.") and properties */
    cacheMb: Long = 800,
    /** -F/--flat-nodes: location-store path analog — recorded in the
      * properties store and validated on append like the reference
      * (src/properties.cpp flat_node_file); the actual node store is
      * the partitioned middle */
    flatNodes: Option[String] = None,
    /** --middle-with-nodes: with a flat-nodes store, ALSO keep tagged
      * nodes in the middle (recorded; our middle always keeps nodes) */
    middleWithNodes: Boolean = false,
    /** -I/--disable-parallel-indexing: the live per-table loads run
      * one table at a time instead of side by side
      * (src/output-pgsql.cpp:168-182): the import's COPY, indexes and
      * ANALYZE, and the append's delete-before-insert sessions */
    disableParallelIndexing: Boolean = false,
    /** --tablespace-main-data / --tablespace-main-index: TABLESPACE
      * clauses on output tables / their indexes (src/table.cpp:80,128;
      * tablespace_clause). slim variants apply to the middle, which is
      * parquet here — parsed, recorded, no DDL (documented delta) */
    tablespaceMainData: Option[String] = None,
    tablespaceMainIndex: Option[String] = None,
    tablespaceSlimData: Option[String] = None,
    tablespaceSlimIndex: Option[String] = None,
    bbox: Option[(Double, Double, Double, Double)] = None,
    expireZoomMin: Int = 0,
    expireZoomMax: Int = 0,
    /** --expire-bbox-size: polygons with an envelope wider/taller than
      * this (meters) expire only their boundary — the reference's
      * hybrid mode with full_area_limit (options.hpp:99, default
      * 20000; output-pgsql.cpp:462-466) */
    expireBboxSize: Double = 20000.0,
    expireOutput: Option[String] = None,
    numProcesses: Int = 1,
    logLevel: String = "info",
    logProgress: String = "auto",
    prefix: String = "planet_osm",
    schema: String = "public",
    /** --output-pgsql-schema: overrides --schema for the OUTPUT
      * tables only (reference: src/command-line-parser.cpp:420-424) */
    outputSchema: Option[String] = None,
    /** --middle-schema analog: names the directory under --output-dir
      * holding the persisted middle (default `middle` — our middle is
      * file-based, so a "schema" is a directory; documented delta) */
    middleSchema: Option[String] = None,
    /** where the parquet tables / DDL / COPY artifacts land (this
      * engine's sink is files, not a live server, unless a DSN is
      * given AND reachable) */
    outputDir: String = "graft_out") {

  /** effective schema for the output tables: --output-pgsql-schema
    * wins over --schema (src/command-line-parser.cpp:420-424) */
  def tableSchema: String = outputSchema.getOrElse(schema)

  /** directory name of the persisted middle under [[outputDir]] */
  def middleDir: String = middleSchema.getOrElse("middle")
}

object Options {

  private val BboxMsg =
    "Bounding box must be specified like: minlon,minlat,maxlon,maxlat."

  def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** -h/--help or -V/--version was handled — the caller exits with
    * this code instead of running (the reference's CLI11 behavior). */
  final case class ExitEarly(code: Int)
      extends RuntimeException(s"exit")

  val version: String = "osm2pgsql-spark 0.6.0 (graft engine)"

  private val usage: String =
    """Usage: osm2pgsql [options] OSM-FILE...
      |
      |Import OSM data into a PostgreSQL-compatible sink.
      |
      |Common options (full parity list in cli/Options.scala):
      |  -a|--append / -c|--create   update vs import mode
      |  -d|--database DB            db name or libpq conninfo/URI
      |  -U/-H/-P/-W                 connection parameters
      |  -O|--output pgsql|flex|null -S|--style FILE|OBJECT
      |  -s|--slim [--drop]          updatable middle
      |  -k/-j/-z/--hstore-*         hstore columns
      |  -l|--latlong / -m|--merc / -E SRID   output projection
      |  -b|--bbox  -e|--expire-tiles  -o|--expire-output
      |  -r|--input-reader FORMAT    xml|pbf|o5m|opl|auto
      |  --schema/--prefix/--tablespace-*  table naming
      |  --log-level/--log-sql       diagnostics
      |""".stripMargin

  private def parseBbox(s: String): (Double, Double, Double, Double) = {
    val parts = s.split(",", -1).map(_.trim)
    if (parts.length != 4 || parts.exists(_.isEmpty)) fail(BboxMsg)
    val ds = parts.map { p =>
      // the reference's strtod path accepts exponent notation (1e2,
      // 1E-3) but its callers reject INF/NAN spellings — match that,
      // and also reject Java-only forms strtod would stop at ('d'/'f'
      // suffixes, hex floats)
      val up = p.toUpperCase
      if (p.isEmpty || up.contains("INF") || up.contains("NAN") ||
          p.exists(c => c.isLetter && c != 'e' && c != 'E')) fail(BboxMsg)
      try p.toDouble catch { case _: NumberFormatException => fail(BboxMsg) }
    }
    val box = (ds(0), ds(1), ds(2), ds(3))
    if (ds(0) >= ds(2) || ds(1) >= ds(3))
      fail(s"Bounding box failed due to invalid coordinates: '$s'")
    box
  }

  /** `-e Z` or `-e Zmin-Zmax` with the reference's exact diagnostics;
    * levels above 31 clamp to 31 (src/command-line-parser.cpp). */
  private def parseExpireZooms(s: String): (Int, Int) = {
    if (s.isEmpty || s.startsWith("-"))
      fail("Missing argument for option --expire-tiles. " +
        "Zoom levels must be positive.")
    if (s.contains(':'))
      fail("Minimum and maximum zoom level for tile expiry must be " +
        "separated by '-'.")
    val dash = s.indexOf('-')
    val (minS, maxS) =
      if (dash < 0) (s, s) else (s.substring(0, dash), s.substring(dash + 1))
    if (minS.isEmpty || minS.exists(!_.isDigit) || minS.toLong == 0)
      fail("Bad argument for option --expire-tiles. Minimum zoom level " +
        "must be larger than 0.")
    val min0 = minS.toLong
    if (dash >= 0 &&
        (maxS.isEmpty || maxS.exists(!_.isDigit) || maxS.toLong < min0))
      fail("Invalid maximum zoom level given for tile expiry.")
    val max0 = if (dash < 0) min0 else maxS.toLong
    val clamp = (z: Long) => math.min(31L, z).toInt
    (clamp(min0), clamp(max0))
  }

  private val LogLevels = Seq("debug", "info", "warn", "warning", "error")

  def parse(args: Seq[String]): Options = {
    var o = Options()
    var positional = List.newBuilder[String]
    var i = 0
    def arg(name: String): String = {
      i += 1
      if (i >= args.length) fail(s"Missing argument for option $name")
      args(i)
    }
    while (i < args.length) {
      args(i) match {
        case "-a" | "--append" => o = o.copy(append = true)
        case "-c" | "--create" => o = o.copy(create = true)
        case "-s" | "--slim"   => o = o.copy(slim = true)
        case "--drop"          => o = o.copy(drop = true)
        case "-d" | "--database" => o = o.copy(database = Some(arg("-d")))
        case "-U" | "--username" | "--user" =>
          o = o.copy(dbUser = Some(arg("-U")))
        case "-H" | "--host" => o = o.copy(dbHost = Some(arg("-H")))
        case "-P" | "--port" => o = o.copy(dbPort = Some(arg("-P")))
        case "-W" | "--password" =>
          // force password prompt (util::get_password); falls back to
          // stdin when no controlling terminal exists
          val pw = Option(System.console()) match {
            case Some(c) => new String(c.readPassword("Password: "))
            case None =>
              System.err.print("Password: ")
              Option(scala.io.StdIn.readLine()).getOrElse("")
          }
          o = o.copy(dbPassword = Some(pw))
        case "--log-sql" => o = o.copy(logSql = true)
        case "--log-sql-data" => o = o.copy(logSqlData = true)
        case "-O" | "--output" =>
          o = o.copy(output = arg("-O"), outputSet = true)
        case "-S" | "--style"  => o = o.copy(styleFile = Some(arg("-S")))
        case "-k" | "--hstore" => o = o.copy(hstore = true)
        case "-j" | "--hstore-all" =>
          o = o.copy(hstore = true, hstoreAll = true)
        case "--hstore-match-only" => o = o.copy(hstoreMatchOnly = true)
        case "-z" | "--hstore-column" =>
          o = o.copy(hstoreColumns = o.hstoreColumns :+ arg("-z"))
        case "--hstore-add-index" => o = o.copy(hstoreAddIndex = true)
        case "-x" | "--extra-attributes" =>
          o = o.copy(extraAttributes = true)
        case "-l" | "--latlong" => o = o.copy(srid = graft.geom.Srid.WGS84)
        case "-m" | "--merc" => o = o.copy(srid = graft.geom.Srid.WebMercator)
        case "-E" | "--proj" =>
          // the two built-in SRS (reprojection.cpp:72-81) plus the
          // PROJ-free TM pack (graft.geom.Proj: UTM/ETRS89/27700 —
          // the codes the reference needs HAVE_GENERIC_PROJ for,
          // test-options-projection.cpp "Arbitrary projection");
          // anything else keeps the no-generic-PROJ error wording
          // (reprojection-generic-none.cpp)
          val v = arg("-E")
          v.toIntOption match {
            case Some(4326) => o = o.copy(srid = graft.geom.Srid.WGS84)
            case Some(3857) => o = o.copy(srid = graft.geom.Srid.WebMercator)
            case Some(code) if graft.geom.Proj.supports(code) =>
              o = o.copy(srid = code)
            case Some(_) =>
              fail("Generic projections not available in this build.")
            case None => fail(s"Bad argument for option --proj: $v")
          }
        case "-h" | "--help" =>
          println(usage)
          throw ExitEarly(0)
        case "-V" | "--version" =>
          System.err.println(version)
          throw ExitEarly(0)
        case "-K" | "--keep-coastlines" => o = o.copy(keepCoastlines = true)
        case "-G" | "--multi-geometry" => o = o.copy(multiGeometry = true)
        case "--reproject-area" => o = o.copy(reprojectArea = true)
        case "-r" | "--input-reader" => o = o.copy(inputReader = arg("-r"))
        case "-C" | "--cache" =>
          val v = arg("-C")
          o = o.copy(cacheMb = v.toLongOption.getOrElse(
            fail(s"Bad argument for option --cache: $v")))
        case "-F" | "--flat-nodes" => o = o.copy(flatNodes = Some(arg("-F")))
        case "--middle-with-nodes" => o = o.copy(middleWithNodes = true)
        case "-I" | "--disable-parallel-indexing" =>
          o = o.copy(disableParallelIndexing = true)
        case "-v" | "--verbose" => o = o.copy(logLevel = "debug")
        case "--tablespace-main-data" =>
          o = o.copy(tablespaceMainData = Some(arg("--tablespace-main-data")))
        case "--tablespace-main-index" =>
          o = o.copy(tablespaceMainIndex =
            Some(arg("--tablespace-main-index")))
        case "--tablespace-slim-data" =>
          o = o.copy(tablespaceSlimData = Some(arg("--tablespace-slim-data")))
        case "--tablespace-slim-index" =>
          o = o.copy(tablespaceSlimIndex =
            Some(arg("--tablespace-slim-index")))
        case "-b" | "--bbox" => o = o.copy(bbox = Some(parseBbox(arg("-b"))))
        case "-e" | "--expire-tiles" =>
          // a following option ("-e --style") must not be eaten as the
          // zoom argument — the reference reports the missing-argument
          // error in that case
          val v = if (i + 1 < args.length) args(i + 1) else ""
          if (v.startsWith("-"))
            fail("Missing argument for option --expire-tiles. " +
              "Zoom levels must be positive.")
          val (zmin, zmax) = parseExpireZooms(arg("-e"))
          o = o.copy(expireZoomMin = zmin, expireZoomMax = zmax)
        case "-o" | "--expire-output" =>
          o = o.copy(expireOutput = Some(arg("-o")))
        case "--expire-bbox-size" =>
          val v = arg("--expire-bbox-size")
          o = o.copy(expireBboxSize = v.toDoubleOption.getOrElse(
            fail(s"Bad argument for option --expire-bbox-size: $v")))
        case "--number-processes" =>
          val n = arg("--number-processes").toIntOption.getOrElse(
            fail("Bad argument for option --number-processes"))
          // clamped exactly like the reference: floor 1, cap 32
          o = o.copy(numProcesses = math.max(1, math.min(32, n)))
        case "--log-level" =>
          val l = arg("--log-level")
          if (!LogLevels.contains(l))
            fail(s"--log-level: $l not in ${LogLevels.mkString("|")}")
          o = o.copy(logLevel = l)
        case "--log-progress" =>
          val v = arg("--log-progress")
          if (!Seq("true", "false", "auto").contains(v))
            fail(s"Unknown value for --log-progress option: $v")
          o = o.copy(logProgress = v)
        case "-p" | "--prefix" =>
          o = o.copy(prefix = arg("-p"), prefixSet = true)
        case "--schema" => o = o.copy(schema = arg("--schema"))
        case "--output-pgsql-schema" =>
          o = o.copy(outputSchema = Some(arg("--output-pgsql-schema")))
        case "--middle-schema" =>
          o = o.copy(middleSchema = Some(arg("--middle-schema")))
        case "--output-dir" => o = o.copy(outputDir = arg("--output-dir"))
        case "--tag-transform-script" =>
          val f = arg("--tag-transform-script")
          if (!new java.io.File(f).exists())
            fail(s"File does not exist: '$f'")
          o = o.copy(tagTransformScript = Some(f))
        case p if !p.startsWith("-") => positional += p
        case unknown => fail(s"Unknown option: $unknown")
      }
      i += 1
    }
    o = o.copy(inputFiles = positional.result())

    // merge -U/-H/-P/-W over the -d form, like the reference's
    // connection_params_t map (src/command-line-app.cpp:30-73)
    val connOverrides = Seq(
      "user" -> o.dbUser, "host" -> o.dbHost, "port" -> o.dbPort,
      "password" -> o.dbPassword).collect { case (k, Some(v)) => k -> v }
    if (connOverrides.nonEmpty) {
      val base = o.database
        .map(graft.sinks.PgSink.dsnParams).getOrElse(Map.empty)
      o = o.copy(database = Some(
        graft.sinks.PgSink.conninfo(base ++ connOverrides)))
    }

    // the reference's cross-option validation, same wording
    if (o.append && o.create)
      fail("--append and --create options can not be used at the same time")
    if (o.append && !o.slim)
      fail("--append can only be used with slim mode")
    if (o.hstoreAll && args.exists(a => a == "-k" || a == "--hstore"))
      fail("--hstore excludes --hstore-all")
    // check_options_output_pgsql (src/command-line-parser.cpp:182-186):
    // only one projection selector may be given
    if (args.count(a => Seq("-l", "--latlong", "-m", "--merc", "-E",
        "--proj").contains(a)) > 1)
      fail("You can only use one of --latlong, -l, --merc, -m, --proj, " +
        "and -E")
    if (o.cacheMb < 0) fail("RAM cache cannot be negative.")
    val formats = Seq("auto", "xml", "pbf", "o5m", "opl")
    if (!formats.contains(o.inputReader))
      fail(s"Unknown file format '${o.inputReader}'.")
    // hstore-dependent flags downgrade with the reference's warnings
    val anyHstore = o.hstore || o.hstoreAll || o.hstoreColumns.nonEmpty
    if (o.hstoreMatchOnly && !anyHstore) {
      System.err.println("--hstore-match-only only makes sense with " +
        "--hstore, --hstore-all, or --hstore-column; ignored.")
      o = o.copy(hstoreMatchOnly = false)
    }
    if (o.hstoreAddIndex && !anyHstore) {
      System.err.println("--hstore-add-index only makes sense with " +
        "hstore enabled; ignored.")
      o = o.copy(hstoreAddIndex = false)
    }
    if (o.inputFiles.isEmpty) fail("Missing input file(s)")
    // for -O flex, -S names a compiled FlexConfig object, not a file
    // (resolved by the runner; typed-DSL delta)
    if (o.output != "flex") o.styleFile.foreach { f =>
      if (!new java.io.File(f).exists()) fail(s"File does not exist: '$f'")
    }
    if (!Seq("pgsql", "flex", "null").contains(o.output))
      fail(s"Unknown output: ${o.output}")
    // check_identifier (src/command-line-parser.cpp:306,651-663):
    // schema/prefix names must not carry SQL special characters
    def checkIdentifier(name: String, in: String): Unit =
      if (name.exists("\"',.;$%&/()<>{}=?^*#".contains(_)))
        fail(s"Special characters are not allowed in $in: '$name'.")
    checkIdentifier(o.prefix, "--prefix parameter")
    checkIdentifier(o.schema, "--schema parameter")
    o.outputSchema.foreach(
      checkIdentifier(_, "--output-pgsql-schema parameter"))
    o.middleSchema.foreach(
      checkIdentifier(_, "--middle-schema parameter"))
    o
  }
}
