package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Expire, Middle, Update}
import graft.functions.{GeomColumnFunctions, TagFunctions, TileFunctions}

/** The reference's operator inventory (SURVEY.md §2) exercised on the
  * synthetic star schema: the same operators the OSM pipeline uses —
  * k-way merge, way-node resolution, reverse-dependency closure,
  * member resolution, z_order tag transform, tile cover/expiry rollup,
  * change-file latest-version-wins, exact ring area/bbox — each against
  * a DuckDB oracle. (Lineitem plays "way nodes", part plays "nodes",
  * orders play "ways", customers play "relations".)
  */
object OsmAnalog extends Registry {

  // deterministic synthetic coordinates (pure integer → double math)
  private val LonExpr = "(((event_id * 2654435761) % 360000000) - 180000000) / 1000000.0"
  private val LatExpr = "(((event_id * 2246822519) % 170000000) - 85000000) / 1000000.0"

  /** §2.1 k-way multi-file merge (src/input.cpp:261-303): union of two
    * overlapping sorted inputs, duplicate (type,id) dropped. */
  def kwayMerge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
    val fileA = o.where($"o_orderkey" % 2 === 0)
    val fileB = o.where($"o_orderkey" % 3 === 0)
    fileA.unionByName(fileB).dropDuplicates("o_orderkey")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"), countDistinct($"o_custkey").as("n_cust"))
  }

  val kwayMergeSql: String =
    """SELECT o_orderstatus, count(*) AS n, count(DISTINCT o_custkey) AS n_cust
      |FROM (SELECT * FROM orders WHERE o_orderkey % 2 = 0
      |      UNION
      |      SELECT * FROM orders WHERE o_orderkey % 3 = 0)
      |GROUP BY 1""".stripMargin

  /** §2.2 nodes_get_list: resolve each way's ordered node refs against
    * the node store and reassemble in order. */
  def resolveWayNodes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ways = Middle.waysFromEdges(
      Tables.lineitem(s, d), "l_orderkey", "l_linenumber", "l_partkey")
    val resolved = Middle.resolveWayNodes(
      ways, "l_orderkey", "refs",
      Tables.part(s, d), "p_partkey", Seq("p_size"))
    resolved.select(
      $"l_orderkey".as("way_id"),
      size($"resolved").as("n_nodes"),
      array_join(transform($"resolved",
        r => r.getField("p_size").cast("string")), ",").as("node_path"))
  }

  val resolveWayNodesSql: String =
    """SELECT l_orderkey AS way_id,
      |  CAST(count(*) AS INTEGER) AS n_nodes,
      |  string_agg(CAST(p_size AS VARCHAR), ',' ORDER BY l_linenumber, l_partkey) AS node_path
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY l_orderkey""".stripMargin

  /** §2.2 get_node_parents: reverse-reference semi-join — which "ways"
    * (orders) contain a changed "node" (parts with p_size = 50). */
  def nodeParents(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Algebraic pushdown of parentsOfNodes ∘ waysFromEdges (pinned by
    // MiddlePushdownSpec): assembling every way's sorted refs array
    // only to posexplode it again costs a full collect_list exchange
    // + array sort whose output the semi-join immediately discards —
    // the closure decision needs KEYS, not assembled payloads (guide
    // §8 "decide with small rows"). Identical result: explode ∘
    // waysFromEdges yields exactly the edge multiset, and semi-join +
    // distinct are order/multiplicity-insensitive.
    val li = Tables.lineitem(s, d)
    val changed = Tables.part(s, d).where($"p_size" === 50)
      .select($"p_partkey".as("id"))
    val parents = li.join(changed, li("l_partkey") === col("id"),
        "left_semi")
      .select($"l_orderkey").distinct()
    parents.join(Tables.orders(s, d),
        parents("l_orderkey") === col("o_orderkey"))
      .groupBy($"o_orderstatus").agg(count(lit(1)).as("n_parent_ways"))
  }

  val nodeParentsSql: String =
    """SELECT o_orderstatus, count(*) AS n_parent_ways
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem JOIN part ON l_partkey = p_partkey
      |              WHERE l_orderkey = o_orderkey AND p_size = 50)
      |GROUP BY 1""".stripMargin

  /** §2.2 rel_members_get: resolve relation members with found-vs-
    * referenced counting (missing members OK — entities table here only
    * holds orders over 150k). */
  def relMembers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
    val rels = o.groupBy($"o_custkey".as("rel_id"))
      .agg(transform(
        array_sort(collect_list(struct($"o_orderkey", $"o_orderpriority"))),
        m => struct(lit("o").as("type"), m.getField("o_orderkey").as("ref"),
          m.getField("o_orderpriority").as("role"))).as("members"))
    val entities = o.where($"o_totalprice" > 150000.0)
      .select($"o_orderkey", $"o_totalprice")
    Middle.resolveRelationMembers(rels, "rel_id", "members", "o",
        entities, "o_orderkey", Nil)
      .select($"rel_id", $"n_referenced", $"n_found")
  }

  val relMembersSql: String =
    """SELECT o_custkey AS rel_id, count(*) AS n_referenced,
      |  count(CASE WHEN o_totalprice > 150000.0 THEN 1 END) AS n_found
      |FROM orders GROUP BY o_custkey""".stripMargin

  /** §2.3 z_order tag transform: build a tags map from event columns,
    * run the real zOrder/when-chain over it. */
  def zOrder(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val highway = when($"event_type" === "purchase", "motorway")
      .when($"event_type" === "click", "primary")
      .when($"event_type" === "view", "residential")
      .when($"event_type" === "signup", "footway")
      .otherwise("proposed")
    val tags = map_concat(
      map(lit("highway"), highway,
        lit("layer"), ($"event_id" % 5 - 2).cast("string")),
      when($"value" > 150.0, map(lit("bridge"), lit("yes")))
        .otherwise(typedlit(Map.empty[String, String])))
    Tables.events(s, d).select($"event_id",
      TagFunctions.zOrder(tags).cast("long").as("z_order"),
      TagFunctions.isRoads(tags).as("in_roads"))
  }

  val zOrderSql: String =
    """SELECT event_id,
      | ((event_id % 5) - 2) * 100
      |  + CASE WHEN event_type = 'purchase' THEN 39
      |         WHEN event_type = 'click' THEN 37
      |         WHEN event_type = 'view' THEN 33
      |         WHEN event_type = 'signup' THEN 10
      |         ELSE 1 END
      |  + CASE WHEN value > 150.0 THEN 100 ELSE 0 END AS z_order,
      | CASE WHEN event_type IN ('purchase', 'click') THEN true ELSE false END AS in_roads
      |FROM events""".stripMargin

  /** §2.5 tile math: lon/lat → tile x/y + quadkey (linear y for the
    * oracle; Mercator y is the production path in TileFunctions). */
  def tileCover(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d)
      .select($"event_id", expr(LonExpr).as("lon"), expr(LatExpr).as("lat"))
    e.select($"event_id",
      TileFunctions.tileX($"lon", 14).as("x"),
      TileFunctions.tileYLinear($"lat", 14).as("y"))
      .withColumn("quadkey", TileFunctions.quadkey($"x", $"y", 14))
  }

  val tileCoverSql: String =
    s"""SELECT event_id, x, y, ${TileFunctions.quadkeySql("x", "y", 14)} AS quadkey
       |FROM (SELECT event_id,
       |  CAST(floor(($LonExpr + 180.0) / 360.0 * 16384) AS BIGINT) AS x,
       |  CAST(floor((85.0 - $LatExpr) / 170.0 * 16384) AS BIGINT) AS y
       | FROM events)""".stripMargin

  /** §2.6 expire: dirty-tile dedup + zoom roll-up 14→10. */
  def expireRollup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tiles = Tables.events(s, d)
      .select(expr(LonExpr).as("lon"), expr(LatExpr).as("lat"))
      .select(TileFunctions.tileX($"lon", 14).as("x"),
        TileFunctions.tileYLinear($"lat", 14).as("y"))
      .distinct()
    Expire.rollup(tiles, "x", "y", 14, 10)
      .groupBy($"zoom").agg(count(lit(1)).as("n_tiles"))
      .select($"zoom".cast("int").as("zoom"), $"n_tiles")
  }

  val expireRollupSql: String =
    s"""WITH t AS (SELECT DISTINCT
       |  CAST(floor(($LonExpr + 180.0) / 360.0 * 16384) AS BIGINT) AS x,
       |  CAST(floor((85.0 - $LatExpr) / 170.0 * 16384) AS BIGINT) AS y
       | FROM events),
       |r AS (SELECT z.zoom, t.x >> (14 - z.zoom) AS x, t.y >> (14 - z.zoom) AS y
       |      FROM t, (SELECT unnest(range(10, 15)) AS zoom) z)
       |SELECT CAST(zoom AS INTEGER) AS zoom, count(DISTINCT (x, y)) AS n_tiles
       |FROM r GROUP BY zoom""".stripMargin

  /** §2.1/§2.8 change-file semantics: latest-version-wins collapse +
    * add/modify/delete op classification. */
  def changefileLatest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val changes = Tables.events(s, d).select(
      ($"event_id" % 4096).as("oid"),
      $"event_id".as("version"),
      ($"event_type" =!= "error").as("visible"))
    Update.withOp(Update.latestVersion(changes, "oid", "version"),
      "visible", "version")
  }

  val changefileLatestSql: String =
    """SELECT oid, version, visible,
      |  CASE WHEN NOT visible THEN 'delete'
      |       WHEN version = 1 THEN 'create'
      |       ELSE 'modify' END AS op
      |FROM (SELECT event_id % 4096 AS oid, event_id AS version,
      |        event_type <> 'error' AS visible,
      |        row_number() OVER (PARTITION BY event_id % 4096
      |                           ORDER BY event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1""".stripMargin

  /** §2.8 dependency closure: changed nodes → pending parent ways →
    * pending relations (two chained semi-joins). */
  def dependencyClosure(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Algebraic pushdown of Update.dependencyClosure over middle
    // tables REBUILT from flat rows (pinned by MiddlePushdownSpec).
    // The operator contract is unchanged for real array-shaped
    // middles (flex/classic still exercise it); here both
    // its inputs were assembled with collect_list only for
    // parentsOf*'s explode to flatten them again. Pushing the
    // closure onto the flat rows drops BOTH wide collect_list
    // exchanges (lineitem- and orders-sized array builds + sorts) —
    // §8 decide-with-small-rows. Equivalence: explode ∘ waysFromEdges
    // = the edge multiset; members are all type "w" so the "n" route
    // is provably empty; semi-join + distinct are order-insensitive.
    val li = Tables.lineitem(s, d)
    val changed = Tables.part(s, d).where($"p_size" === 50)
      .select($"p_partkey".as("id"))
    val pendingWays = li.join(changed, li("l_partkey") === col("id"),
        "left_semi")
      .select($"l_orderkey").distinct()
    val o = Tables.orders(s, d)
    val pendingRels = o.join(pendingWays,
        o("o_orderkey") === col("l_orderkey"), "left_semi")
      .select($"o_custkey".as("rel_id")).distinct()
    pendingRels.join(Tables.customer(s, d),
        pendingRels("rel_id") === col("c_custkey"))
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n_rels"))
  }

  val dependencyClosureSql: String =
    """SELECT c_mktsegment, count(*) AS n_rels
      |FROM customer
      |WHERE EXISTS (
      |  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND EXISTS (
      |    SELECT 1 FROM lineitem JOIN part ON l_partkey = p_partkey
      |    WHERE l_orderkey = o_orderkey AND p_size = 50))
      |GROUP BY 1""".stripMargin

  /** Shared ring assembly for q39/q49/q77: ONE sorted point list per
    * way, xs/ys projected from it. (l_orderkey, l_linenumber) is NOT
    * unique in the synthetic data — tie-break by the partkey the
    * coords derive from, so the order is deterministic cross-engine;
    * x and y both derive from pk, so sorting the combined struct
    * yields exactly the sequences the former per-axis sorts did,
    * with HALF the aggregate state, shuffle bytes and sort work. */
  private def ringsXY(s: SparkSession, d: String, minPts: Int)
      : DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d).select(
        $"l_orderkey",
        $"l_linenumber",
        $"l_partkey".as("pk"),
        (($"l_partkey" * 7919) % 2000).as("x"),
        (($"l_partkey" * 104729) % 2000).as("y"))
      .groupBy($"l_orderkey")
      .agg(array_sort(collect_list(
        struct($"l_linenumber", $"pk", $"x", $"y"))).as("ps"))
      .where(size($"ps") >= minPts)
      .select($"l_orderkey",
        transform($"ps", p => p.getField("x")).as("xs"),
        transform($"ps", p => p.getField("y")).as("ys"))
  }

  /** §2.4/§2.5 polygon assembly + exact shoelace ring area over
    * synthetic integer coordinates (way = ordered lineitem ring). */
  def polygonArea(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rings = ringsXY(s, d, minPts = 3)
    rings.select(
      $"l_orderkey".as("way_id"),
      size($"xs").as("n_pts"),
      abs(graft.expressions.GeomExpressions.ringMetricsN($"xs", $"ys")
        .getField("a2x")).as("area2x"))
  }

  val polygonAreaSql: String = {
    val area = GeomColumnFunctions.shoelaceArea2xSql("xs", "ys")
    """WITH rings AS (
      |  SELECT l_orderkey,
      |    list((l_partkey * 7919) % 2000 ORDER BY l_linenumber, l_partkey) AS xs,
      |    list((l_partkey * 104729) % 2000 ORDER BY l_linenumber, l_partkey) AS ys
      |  FROM lineitem GROUP BY l_orderkey HAVING count(*) >= 3)
      |SELECT l_orderkey AS way_id, CAST(len(xs) AS INTEGER) AS n_pts,
      |""".stripMargin +
      s"  CAST($area AS BIGINT) AS area2x\nFROM rings"
  }

  /** §2.5 centroid over the same synthetic rings as q39: exact integer
    * numerators (6× area-weighted) and signed 2A; the only float ops
    * are the two final divisions of exact integers (cross-engine
    * deterministic). Degenerate zero-area rings are dropped, as the
    * reference's centroid is undefined there. */
  def polygonCentroid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rings = ringsXY(s, d, minPts = 3)
    rings.select(
      $"l_orderkey".as("way_id"),
      graft.expressions.GeomExpressions.ringMetricsN($"xs", $"ys").as("m"))
      .select($"way_id", $"m.a2x".as("a2x"),
        $"m.cx6".as("cx6"), $"m.cy6".as("cy6"))
      .where($"a2x" =!= 0L)
      .select($"way_id", $"a2x", $"cx6", $"cy6",
        ($"cx6".cast("double") / ($"a2x" * 3).cast("double")).as("cx"),
        ($"cy6".cast("double") / ($"a2x" * 3).cast("double")).as("cy"))
  }

  val polygonCentroidSql: String = {
    val a2x = GeomColumnFunctions.shoelaceSigned2xSql("xs", "ys")
    val cx6 = GeomColumnFunctions.centroidNum6xSql("xs", "ys")
    val cy6 = GeomColumnFunctions.centroidNum6xSql("ys", "xs")
    s"""WITH rings AS (
       |  SELECT l_orderkey,
       |    list((l_partkey * 7919) % 2000 ORDER BY l_linenumber, l_partkey) AS xs,
       |    list((l_partkey * 104729) % 2000 ORDER BY l_linenumber, l_partkey) AS ys
       |  FROM lineitem GROUP BY l_orderkey HAVING count(*) >= 3),
       |nums AS (
       |  SELECT l_orderkey AS way_id,
       |    CAST($a2x AS BIGINT) AS a2x,
       |    CAST($cx6 AS BIGINT) AS cx6,
       |    CAST(-($cy6) AS BIGINT) AS cy6
       |  FROM rings)
       |SELECT way_id, a2x, cx6, cy6,
       |  CAST(cx6 AS DOUBLE) / CAST(a2x * 3 AS DOUBLE) AS cx,
       |  CAST(cy6 AS DOUBLE) / CAST(a2x * 3 AS DOUBLE) AS cy
       |FROM nums WHERE a2x <> 0""".stripMargin
  }

  /** §2.4 get_bbox: envelope of each way's resolved coordinates. */
  def wayBbox(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d).select(
      $"l_orderkey",
      (($"l_partkey" * 7919) % 2000).as("x"),
      (($"l_partkey" * 104729) % 2000).as("y"))
      .groupBy($"l_orderkey")
      .agg(min($"x").as("xmin"), min($"y").as("ymin"),
        max($"x").as("xmax"), max($"y").as("ymax"))
      .select($"l_orderkey".as("way_id"), $"xmin", $"ymin", $"xmax", $"ymax")
  }

  val wayBboxSql: String =
    """SELECT l_orderkey AS way_id,
      |  min((l_partkey * 7919) % 2000) AS xmin,
      |  min((l_partkey * 104729) % 2000) AS ymin,
      |  max((l_partkey * 7919) % 2000) AS xmax,
      |  max((l_partkey * 104729) % 2000) AS ymax
      |FROM lineitem GROUP BY l_orderkey""".stripMargin

  /** §2.3 style-file filter over a JSON "tags" column (events.props):
    * keep objects whose k-tag is exported (k % 7 = 0), classify
    * polygon-vs-line by k parity. */
  def styleFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = get_json_object($"props", "$.k").cast("int")
    Tables.events(s, d)
      .select($"event_id", $"event_type", k.as("k"))
      .where($"k" % 7 === 0)
      .groupBy($"event_type", ($"k" % 2 === 0).as("is_polygon"))
      .agg(count(lit(1)).as("n"))
  }

  val styleFilterSql: String =
    """SELECT event_type, (k % 2 = 0) AS is_polygon, count(*) AS n
      |FROM (SELECT event_id, event_type,
      |        CAST(json_extract(props, '$.k') AS INTEGER) AS k
      |      FROM events)
      |WHERE k % 7 = 0
      |GROUP BY 1, 2""".stripMargin

  /** §2.8 two-stage flex processing: relations mark member ways
    * (select_relation_members); marked ways are re-derived in stage 2
    * with relation context. Customers (relations) with high balance
    * mark their orders (ways). */
  def twoStage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ways = Tables.orders(s, d).select($"o_orderkey".as("id"),
      $"o_custkey", $"o_totalprice")
    val rels = Tables.customer(s, d)
      .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey")
      .groupBy($"c_custkey".as("rid"), $"c_acctbal")
      .agg(collect_list(struct(lit("w").as("type"),
        $"o_orderkey".as("ref"))).as("members"))
    val out = graft.flex.TwoStage.run(ways, rels,
      selectRelationMembers = r => r.where($"c_acctbal" > 5000.0)
        .select(explode(graft.flex.Helpers.memberIds($"members", "w"))),
      processStage1 = w => w.select($"id", lit(1).as("stage")),
      processStage2 = w => w.select($"id", lit(2).as("stage")))
    out.groupBy($"stage").agg(count(lit(1)).as("n"))
  }

  val twoStageSql: String =
    """SELECT CASE WHEN EXISTS (
      |         SELECT 1 FROM customer
      |         WHERE c_custkey = o_custkey AND c_acctbal > 5000.0)
      |       THEN 2 ELSE 1 END AS stage,
      |       count(*) AS n
      |FROM orders GROUP BY 1""".stripMargin

  /** §2.3 locator (src/locator.hpp:46-153): named bbox regions,
    * first_intersecting + all_intersecting over deterministic event
    * points — the broadcast spatial-classify join. */
  private val LocatorRegions: Seq[(String, graft.geom.Box)] = Seq(
    "west"     -> graft.geom.Box(-180, -85, -60, 85),
    "tropics"  -> graft.geom.Box(-180, -23.5, 180, 23.5),
    "east"     -> graft.geom.Box(60, -85, 180, 85),
    "natl"     -> graft.geom.Box(-60, 20, 0, 70),
    "null_isl" -> graft.geom.Box(-5, -5, 5, 5))

  def locator(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val loc = graft.operators.Locator.fromBoxes(LocatorRegions)
    val allUdf = udf((x: Double, y: Double) => loc.containingPoint(x, y))
    val pts = Tables.events(s, d).select($"event_id").distinct()
      .withColumn("lon", expr(LonExpr))
      .withColumn("lat", expr(LatExpr))
    pts.select($"event_id",
      allUdf($"lon", $"lat").as("rs"))
      .select($"event_id",
        try_element_at($"rs", lit(1)).as("region"),
        size($"rs").as("n_regions"))
  }

  val locatorSql: String = {
    val conds = LocatorRegions.map { case (n, b) =>
      (n, s"lon >= ${b.minX} AND lon <= ${b.maxX} AND " +
        s"lat >= ${b.minY} AND lat <= ${b.maxY}")
    }
    val first = conds.map { case (n, c) => s"WHEN $c THEN '$n'" }
      .mkString("\n       ")
    val count = conds.map { case (_, c) => s"(CASE WHEN $c THEN 1 ELSE 0 END)" }
      .mkString(" + ")
    s"""WITH p AS (SELECT DISTINCT event_id,
       |  $LonExpr AS lon,
       |  $LatExpr AS lat
       | FROM events)
       |SELECT event_id,
       |  CASE $first
       |       ELSE NULL END AS region,
       |  $count AS n_regions
       |FROM p""".stripMargin
  }

  // second deterministic point per event (independent multipliers)
  private val Lon2Expr = "(((event_id * 1540483477) % 360000000) - 180000000) / 1000000.0"
  private val Lat2Expr = "(((event_id * 2654435741) % 170000000) - 85000000) / 1000000.0"

  /** §2.5 length + segmentize (src/geom-functions.cpp:270-349,439-455):
    * per synthetic 2-point line, planar length through the native EWKB
    * expression and the piece count of segmentize(maxlen=25°) — for a
    * single segment the reference's walk yields ceil(len/maxlen)
    * pieces, which the oracle computes arithmetically. */
  def segmentizeLen(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val mkLine = udf((x1: Double, y1: Double, x2: Double, y2: Double) =>
      graft.geom.Ewkb.encode(graft.geom.LineString(
        Vector(graft.geom.Pt(x1, y1), graft.geom.Pt(x2, y2)))))
    val nPieces = udf((b: Array[Byte]) =>
      graft.geom.GeomOps.segmentize(graft.geom.Ewkb.decode(b), 25.0)
        .numGeometries.toLong)
    Tables.events(s, d).select($"event_id").distinct()
      .withColumn("g", mkLine(expr(LonExpr), expr(LatExpr),
        expr(Lon2Expr), expr(Lat2Expr)))
      .select($"event_id",
        graft.expressions.GeomExpressions.stLengthN($"g").as("len"),
        nPieces($"g").as("n_pieces"))
  }

  val segmentizeLenSql: String =
    s"""SELECT event_id,
       |  sqrt(($Lon2Expr - $LonExpr) * ($Lon2Expr - $LonExpr) +
       |       ($Lat2Expr - $LatExpr) * ($Lat2Expr - $LatExpr)) AS len,
       |  CAST(greatest(ceil(sqrt(($Lon2Expr - $LonExpr) * ($Lon2Expr - $LonExpr) +
       |       ($Lat2Expr - $LatExpr) * ($Lat2Expr - $LatExpr)) / 25.0), 1) AS BIGINT)
       |    AS n_pieces
       |FROM (SELECT DISTINCT event_id FROM events)""".stripMargin

  /** §2.5 geodesic segmentize ([[graft.geom.GeomOps
    * .geodesicSegmentize]], the geography analog of q48's planar
    * segmentize, built on the Vincenty direct sampling the
    * spherical-area integral uses): per event, an EQUATORIAL geodesic
    * from (lon0, 0) to (lon0+Δ, 0) densified to per-event maxLen.
    * On the equator the WGS84 geodesic IS the equator and Vincenty
    * closes in elementary form (d = a·Δλ — the equator is a circle of
    * radius a), so the oracle computes the exact vertex count
    * arithmetically; length conservation (densified length ==
    * original, sub-µm) and the on-equator/under-cap invariants are
    * asserted as exact integers/booleans, certifying the inserted
    * vertices lie ON the geodesic rather than merely being counted. */
  def geodesicSegmentize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val calc = udf { (eventId: Long) =>
      import graft.geom._
      val lon0 = (eventId % 80).toDouble
      val delta = (1 + eventId % 7).toDouble
      val maxLen = (40000 + 1000 * (eventId % 13)).toDouble
      val line = LineString(Vector(Pt(lon0, 0.0), Pt(lon0 + delta, 0.0)))
      val dens = GeomOps.geodesicSegmentize(line, maxLen)
        .asInstanceOf[LineString]
      val lenDiffMm = math.round((GeomOps.ellipsoidalLength(dens) -
        GeomOps.ellipsoidalLength(line)) * 1000)
      val maxLat = dens.pts.iterator.map(p => math.abs(p.y)).max
      val maxSeg = dens.pts.iterator.zip(dens.pts.iterator.drop(1))
        .map { case (a, b) => GeomOps.vincentyDistance(a, b) }.max
      (dens.pts.length.toLong, lenDiffMm,
        maxLat < 1e-9 && maxSeg <= maxLen * (1 + 1e-9))
    }
    Tables.events(s, d).select($"event_id").distinct()
      .withColumn("r", calc($"event_id"))
      .select($"event_id", $"r._1".as("n_points"),
        $"r._2".as("len_diff_mm"), $"r._3".as("invariants_ok"))
  }

  val geodesicSegmentizeSql: String =
    """SELECT event_id,
      |  CAST(1 + ceil(6378137.0 * radians(CAST(1 + event_id % 7 AS DOUBLE))
      |    / (40000 + 1000 * (event_id % 13))) AS BIGINT) AS n_points,
      |  CAST(0 AS BIGINT) AS len_diff_mm,
      |  true AS invariants_ok
      |FROM (SELECT DISTINCT event_id FROM events)""".stripMargin

  /** §2.2 missing-node report (missing-nodes.feature / the reference's
    * "Missing nodes in way N: ..." debug line): per way, the refs that
    * do not resolve against a RESTRICTED node store (parts with
    * p_size < 50 exist; the rest are "missing"), in way order. */
  def missingNodes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Algebraic pushdown of missingWayNodes ∘ waysFromEdges (pinned
    // by MiddlePushdownSpec): the composition assembled every way's
    // FULL sorted refs array only to posexplode it back to rows,
    // anti-join, and re-assemble the survivors — one wasted
    // collect_list exchange + sort over the biggest table. Anti-join
    // the flat rows first, assemble once. Order equivalence: the
    // round-trip sorted survivors by array position, which by
    // waysFromEdges' contract IS (l_linenumber, l_partkey) order —
    // the direct sort's key.
    val li = Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey")
    val store = Tables.part(s, d).where($"p_size" < 50)
      .select($"p_partkey".as("__nid"))
    li.join(store, li("l_partkey") === col("__nid"), "left_anti")
      .groupBy($"l_orderkey")
      .agg(transform(
        array_sort(collect_list(struct($"l_linenumber", $"l_partkey"))),
        p => p.getField("l_partkey")).as("missing"))
      .select($"l_orderkey".as("way_id"),
        size($"missing").cast("int").as("n_missing"),
        array_join(transform($"missing", r => r.cast("string")), ",")
          .as("missing_path"))
  }

  val missingNodesSql: String =
    """SELECT l_orderkey AS way_id,
      |  CAST(count(*) AS INTEGER) AS n_missing,
      |  string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_linenumber, l_partkey)
      |    AS missing_path
      |FROM lineitem
      |WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_size < 50)
      |GROUP BY l_orderkey""".stripMargin

  /** §2.1 COPY TEXT wire encoding (src/db-copy-mgr.hpp): the sink's
    * escaping, exercised cross-engine on comments with injected
    * quote/backslash/tab/newline characters — the escaped text and the
    * doubly-escaped hstore pair form must match the oracle's
    * replace-chain byte for byte. */
  def copyEscape(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val esc = udf((v: String) => graft.sinks.PgSink.copyEscape(v))
    val hesc = udf((v: String) =>
      graft.sinks.PgSink.hstoreCopyValue(Seq("c" -> v)))
    Tables.orders(s, d)
      .withColumn("v", translate(
        concat($"o_orderstatus", lit("-"), ($"o_orderkey" % 1000).cast("string")),
        "OF1-", "\"\\\t\n"))
      .select($"o_orderkey".as("id"), esc($"v").as("esc"),
        hesc($"v").as("hesc"), length(esc($"v")).cast("int").as("esc_len"))
  }

  val copyEscapeSql: String =
    """WITH src AS (
      |  SELECT o_orderkey AS id,
      |    replace(replace(replace(replace(
      |      o_orderstatus || '-' || CAST(o_orderkey % 1000 AS VARCHAR),
      |      'O', '"'), 'F', chr(92)), '1', chr(9)), '-', chr(10)) AS v
      |  FROM orders)
      |SELECT id,
      |  replace(replace(replace(replace(v,
      |    chr(92), chr(92) || chr(92)),
      |    '"', chr(92) || '"'),
      |    chr(9), chr(92) || 't'),
      |    chr(10), chr(92) || 'n') AS esc,
      |  '"c"=>"' ||
      |  replace(replace(replace(replace(v,
      |    chr(92), repeat(chr(92), 4)),
      |    '"', chr(92) || chr(92) || '"'),
      |    chr(9), chr(92) || 't'),
      |    chr(10), chr(92) || 'n') || '"' AS hesc,
      |  CAST(length(replace(replace(replace(replace(v,
      |    chr(92), chr(92) || chr(92)),
      |    '"', chr(92) || '"'),
      |    chr(9), chr(92) || 't'),
      |    chr(10), chr(92) || 'n')) AS INTEGER) AS esc_len
      |FROM src""".stripMargin

  /** §2.5 scalar geometry functions — distance, interpolate, reverse,
    * geometry_n, num_geometries (src/geom-functions.cpp:25-121) — over
    * the same synthetic integer ways as q39, as a real GeomOps pass.
    * All emitted values are exact cross-engine: integer subtraction,
    * ×0.25 (power of two), and IEEE sqrt of an integer-valued double.
    * distance/interpolate run on the (first,last) segment; reverse is
    * pinned by interpolating the REVERSED line's (first,last) segment
    * (= interpolation from the far end); geometry_n(2) extracts the
    * second member of the way's MultiPoint form. */
  def geomScalars(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Pure codegen column arithmetic — formerly a row-at-a-time Scala
    // UDF wrapping GeomOps. Every emitted value is bit-identical to
    // the GeomOps forms it replaces: distance = IEEE sqrt of an exact
    // integer sum (coords < 2000, so all intermediate products are
    // exact in both long and double); interpolate's
    // a + (b − a)·0.25 is an exact scale of an exact difference;
    // reverse+interpolate collapses to interpolation from the far
    // end; geometry_n(2) is the second sorted point. n_geoms =
    // num_geometries of the MultiPoint form = the point count.
    val ways = ringsXY(s, d, minPts = 2)
    val x1 = element_at($"xs", 1); val xl = element_at($"xs", -1)
    val y1 = element_at($"ys", 1); val yl = element_at($"ys", -1)
    def dD(c: org.apache.spark.sql.Column) = c.cast("double")
    ways.select($"l_orderkey".as("way_id"),
      size($"xs").cast("long").as("n_geoms"),
      sqrt(dD((xl - x1) * (xl - x1) + (yl - y1) * (yl - y1))).as("dist"),
      (dD(x1) + dD(xl - x1) * 0.25).as("ix"),
      (dD(y1) + dD(yl - y1) * 0.25).as("iy"),
      (dD(xl) + dD(x1 - xl) * 0.25).as("rix"),
      (dD(yl) + dD(y1 - yl) * 0.25).as("riy"),
      dD(element_at($"xs", 2)).as("g2x"),
      dD(element_at($"ys", 2)).as("g2y"))
  }

  val geomScalarsSql: String =
    """WITH w AS (
      |  SELECT l_orderkey,
      |    list((l_partkey * 7919) % 2000 ORDER BY l_linenumber, l_partkey) AS xs,
      |    list((l_partkey * 104729) % 2000 ORDER BY l_linenumber, l_partkey) AS ys
      |  FROM lineitem GROUP BY l_orderkey HAVING count(*) >= 2)
      |SELECT l_orderkey AS way_id,
      |  CAST(len(xs) AS BIGINT) AS n_geoms,
      |  sqrt(CAST((xs[-1]-xs[1])*(xs[-1]-xs[1])
      |     + (ys[-1]-ys[1])*(ys[-1]-ys[1]) AS DOUBLE)) AS dist,
      |  CAST(xs[1] AS DOUBLE) + (xs[-1]-xs[1]) * 0.25 AS ix,
      |  CAST(ys[1] AS DOUBLE) + (ys[-1]-ys[1]) * 0.25 AS iy,
      |  CAST(xs[-1] AS DOUBLE) + (xs[1]-xs[-1]) * 0.25 AS rix,
      |  CAST(ys[-1] AS DOUBLE) + (ys[1]-ys[-1]) * 0.25 AS riy,
      |  CAST(xs[2] AS DOUBLE) AS g2x,
      |  CAST(ys[2] AS DOUBLE) AS g2y
      |FROM w""".stripMargin

  /** §2.5 line_merge under the oracle: per way, a chain of unit-x
    * segments with deterministic gaps ((r + way) % 5 == 0 drops the
    * segment), merged by the reference's endpoint-walk algorithm. The
    * synthetic x = position-rank makes every point distinct (no ≥3-way
    * junctions, no loops), so DuckDB recomputes the merge result
    * arithmetically: n_lines = run starts, n_pts = segments + runs,
    * and Σ(squared segment length) is an exact integer that pins point
    * order and dedup inside the merged geometry. */
  def lineMerge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.geom.{GeomOps, LineString, MultiLineString, Pt}
    val pts = Tables.lineitem(s, d).select(
      $"l_orderkey", $"l_linenumber", $"l_partkey".as("pk"),
      (($"l_partkey" * 104729) % 2000).as("y"))
    val ways = pts.groupBy($"l_orderkey")
      .agg(transform(array_sort(collect_list(
        struct($"l_linenumber", $"pk", $"y"))), p => p.getField("y"))
        .as("ys"))
      .where(size($"ys") >= 2)
    val calc = udf((way: Long, ys: Seq[Long]) => {
      val segs = (0 until ys.length - 1).filter(r =>
        (r + 1 + way) % 5 != 0).map { r =>
        LineString(Vector(Pt(r + 1.0, ys(r).toDouble),
          Pt(r + 2.0, ys(r + 1).toDouble)))
      }
      if (segs.isEmpty) null
      else {
        val merged = GeomOps.lineMerge(MultiLineString(segs.toVector))
        val lines = merged match {
          case l: LineString          => Vector(l)
          case MultiLineString(ls, _) => ls
          case _                      => Vector.empty
        }
        val len2 = lines.map(l =>
          l.pts.iterator.zip(l.pts.iterator.drop(1)).map { case (a, b) =>
            val dx = (b.x - a.x).toLong; val dy = (b.y - a.y).toLong
            dx * dx + dy * dy
          }.sum).sum
        (lines.size.toLong, lines.map(_.pts.size.toLong).sum, len2)
      }
    })
    ways.select($"l_orderkey".as("way_id"),
        calc($"l_orderkey", $"ys").as("c"))
      .where($"c".isNotNull)
      .select($"way_id", $"c._1".as("n_lines"), $"c._2".as("n_pts"),
        $"c._3".as("sum_len2"))
  }

  val lineMergeSql: String =
    """WITH p AS (
      |  SELECT l_orderkey,
      |    row_number() OVER (PARTITION BY l_orderkey
      |      ORDER BY l_linenumber, l_partkey) AS r,
      |    (l_partkey * 104729) % 2000 AS y,
      |    count(*) OVER (PARTITION BY l_orderkey) AS n
      |  FROM lineitem),
      |seg AS (
      |  SELECT a.l_orderkey, a.r,
      |    1 + (b.y - a.y) * (b.y - a.y) AS len2,
      |    CASE WHEN (a.r + a.l_orderkey) % 5 <> 0 THEN 1 ELSE 0 END
      |      AS present
      |  FROM p a JOIN p b
      |    ON a.l_orderkey = b.l_orderkey AND b.r = a.r + 1
      |  WHERE a.n >= 2),
      |runs AS (
      |  SELECT l_orderkey, r, len2, present,
      |    CASE WHEN present = 1 AND COALESCE(lag(present) OVER (
      |        PARTITION BY l_orderkey ORDER BY r), 0) = 0
      |      THEN 1 ELSE 0 END AS run_start
      |  FROM seg)
      |SELECT l_orderkey AS way_id,
      |  CAST(sum(run_start) AS BIGINT) AS n_lines,
      |  CAST(sum(present) + sum(run_start) AS BIGINT) AS n_pts,
      |  CAST(sum(len2 * present) AS BIGINT) AS sum_len2
      |FROM runs GROUP BY l_orderkey
      |HAVING sum(present) > 0""".stripMargin

  /** §2.5 simplify (Douglas-Peucker) under the oracle: each way is a
    * horizontal unit-x baseline with ONE interior spike of
    * way-dependent height at a way-dependent position. DP's recursion
    * has a closed form on this input — the spike survives iff its
    * height (= its exact perpendicular distance) exceeds the
    * tolerance, everything else collapses to the endpoints — so DuckDB
    * predicts the simplified point count (3 or 2) and the surviving
    * spike mass per way arithmetically. */
  def simplifyQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.geom.{GeomOps, LineString, Pt}
    val pts = Tables.lineitem(s, d).select(
      $"l_orderkey", $"l_linenumber", $"l_partkey".as("pk"))
    val ways = pts.groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n"), min($"pk").as("minpk"))
      .where($"n" >= 3)
    val calc = udf((way: Long, n: Long, minpk: Long) => {
      val m = 2 + (way % (n - 2)) // interior 1-based position
      val h = (minpk * 104729) % 2000
      val ps = (1L to n).map(r =>
        Pt(r.toDouble, if (r == m) h.toDouble else 0.0)).toVector
      GeomOps.simplify(LineString(ps), 1000.0) match {
        case LineString(out, _) =>
          (out.size.toLong, out.map(p => math.abs(p.y).toLong).sum)
        case _ => (-1L, -1L)
      }
    })
    ways.select($"l_orderkey".as("way_id"),
        calc($"l_orderkey", $"n", $"minpk").as("c"))
      .select($"way_id", $"c._1".as("n_out"), $"c._2".as("spike_mass"))
  }

  val simplifySql: String =
    """WITH w AS (
      |  SELECT l_orderkey, count(*) AS n,
      |    (min(l_partkey) * 104729) % 2000 AS h
      |  FROM lineitem GROUP BY l_orderkey HAVING count(*) >= 3)
      |SELECT l_orderkey AS way_id,
      |  CAST(CASE WHEN h > 1000 THEN 3 ELSE 2 END AS BIGINT) AS n_out,
      |  CAST(CASE WHEN h > 1000 THEN h ELSE 0 END AS BIGINT)
      |    AS spike_mass
      |FROM w""".stripMargin

  /** §2.4 multipolygon assembly (src/geom-from-osm.cpp:219-252,
    * libosmium basic_assembler semantics) run for real per relation:
    * the outer square arrives SPLIT into two open ways (the assembler
    * must stitch arcs end-to-end), a hole classifies by containment
    * depth 1, an island-in-the-hole classifies depth 2 (its own outer
    * → extra polygon), and a disjoint square makes a true MULTI. The
    * oracle pins type/ring-count/area closed-form from the key:
    * outer side s=(k%7)+4, hole side s−2 ⇒ area 4s−4; +4 for the
    * disjoint square (k%3=0); +1 for the island (k%5=0 and s>4). */
  def multipolygonAssembly(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.geom.{FromOsm, GeomOps, Pt}
    val asm = udf((k: Long) => {
      val sd = (k % 7) + 4.0
      val h = sd - 2
      val wayA = Seq(Pt(0, 0), Pt(sd, 0), Pt(sd, sd))
      val wayB = Seq(Pt(sd, sd), Pt(0, sd), Pt(0, 0))
      val hole = Seq(Pt(1, 1), Pt(1 + h, 1), Pt(1 + h, 1 + h),
        Pt(1, 1 + h), Pt(1, 1))
      val disjoint = Seq(Pt(sd + 10, 0), Pt(sd + 12, 0), Pt(sd + 12, 2),
        Pt(sd + 10, 2), Pt(sd + 10, 0))
      val island = Seq(Pt(2, 2), Pt(3, 2), Pt(3, 3), Pt(2, 3), Pt(2, 2))
      var ways = Seq(wayA, wayB, hole)
      if (k % 3 == 0) ways = ways :+ disjoint
      if (k % 5 == 0 && k % 7 != 0) ways = ways :+ island
      val g = FromOsm.createMultiPolygon(ways)
      (g.typeName, g.numGeometries.toLong, GeomOps.area(g))
    })
    Tables.customer(s, d)
      .select($"c_custkey".cast("long").as("rel_id"))
      .select($"rel_id", asm($"rel_id").as("r"))
      .select($"rel_id", $"r._1".as("geom_type"), $"r._2".as("n_geoms"),
        $"r._3".as("area"))
  }

  val multipolygonAssemblySql: String =
    """SELECT c_custkey AS rel_id,
      |  CASE WHEN c_custkey % 3 = 0 OR (c_custkey % 5 = 0 AND c_custkey % 7 <> 0)
      |       THEN 'MULTIPOLYGON' ELSE 'POLYGON' END AS geom_type,
      |  CAST(1 + CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END
      |         + CASE WHEN c_custkey % 5 = 0 AND c_custkey % 7 <> 0 THEN 1 ELSE 0 END
      |       AS BIGINT) AS n_geoms,
      |  CAST(4 * ((c_custkey % 7) + 4) - 4
      |         + CASE WHEN c_custkey % 3 = 0 THEN 4 ELSE 0 END
      |         + CASE WHEN c_custkey % 5 = 0 AND c_custkey % 7 <> 0 THEN 1 ELSE 0 END
      |       AS DOUBLE) AS area
      |FROM customer""".stripMargin

  /** §2.5 pole_of_inaccessibility (the polylabel port,
    * src/geom-pole-of-inaccessibility.cpp) per relation: for an
    * axis-aligned square the pole is the EXACT center — the reference
    * pins this equality itself (test-geom-pole-of-inaccessibility.cpp
    * :25-43, unit square == (0.5,0.5)) — and every arithmetic step
    * (integer offset + integer/2) is exact in doubles cross-engine.
    * The polygon-only contract is pinned too: a MULTIPOLYGON input
    * yields the null geometry (geom-pole-of-inaccessibility.cpp
    * operator() for every non-polygon type). */
  def poleOfInaccessibility(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.geom.{FromOsm, GeomOps, MultiPolygon, NullGeom, Point,
      Polygon, Pt, Ring}
    val pole = udf((k: Long) => {
      val sd = (k % 9) + 1.0
      val ox = (k % 11).toDouble
      val oy = (k % 13).toDouble
      val sq = FromOsm.createPolygon(Seq(Pt(ox, oy), Pt(ox + sd, oy),
        Pt(ox + sd, oy + sd), Pt(ox, oy + sd), Pt(ox, oy)))
      val p = GeomOps.poleOfInaccessibility(sq, 0.01).asInstanceOf[Point]
      val mp = MultiPolygon(Vector(
        sq.asInstanceOf[Polygon],
        Polygon(Ring(Vector(Pt(100, 0), Pt(101, 0), Pt(101, 1),
          Pt(100, 1), Pt(100, 0))), Vector.empty)))
      val multiNull =
        GeomOps.poleOfInaccessibility(mp, 0.01).isInstanceOf[NullGeom]
      (p.x, p.y, multiNull)
    })
    Tables.customer(s, d)
      .select($"c_custkey".cast("long").as("rel_id"))
      .select($"rel_id", pole($"rel_id").as("r"))
      .select($"rel_id", $"r._1".as("px"), $"r._2".as("py"),
        $"r._3".as("multi_is_null"))
  }

  val poleOfInaccessibilitySql: String =
    """SELECT c_custkey AS rel_id,
      |  CAST(c_custkey % 11 AS DOUBLE) + ((c_custkey % 9) + 1) / 2.0 AS px,
      |  CAST(c_custkey % 13 AS DOUBLE) + ((c_custkey % 9) + 1) / 2.0 AS py,
      |  TRUE AS multi_is_null
      |FROM customer""".stripMargin

  /** §2.5 spherical_area / spherical_length over the reference's OWN
    * acceptance vectors (tests/test-geom-linestrings.cpp:59-61,
    * 368-385; test-geom-polygons.cpp:29,72) — the oracle constants are
    * the reference's pinned values quantized (lengths floored at mm,
    * areas floored at km²), granularities chosen so the port (within
    * 2e-6 relative of boost geographic/vincenty) lands in the same
    * bucket. Spherical trig is not DuckDB-expressible bit-exactly, so
    * the pins themselves ARE the oracle. */
  def sphericalMeasures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.geom.{FromOsm, GeomOps, Pt}
    val calc = udf((c: String) => c match {
      case "len_line" => // LINESTRING(1 1, 2 2) → 156876.14940188668
        math.floor(GeomOps.sphericalLength(FromOsm.createLineString(
          Seq(Pt(1, 1), Pt(2, 2)))) * 1000).toLong
      case "len_equator" => // (0 0, 180 0) → 20003931.458625447
        math.floor(GeomOps.sphericalLength(FromOsm.createLineString(
          Seq(Pt(0, 0), Pt(180, 0)))) * 1000).toLong
      case "len_pole" => // (0 -90, 0 90) → same meridian length
        math.floor(GeomOps.sphericalLength(FromOsm.createLineString(
          Seq(Pt(0, -90), Pt(0, 90)))) * 1000).toLong
      case "len_3pt" => // 3-point chain → 25718.175297824535
        math.floor(GeomOps.sphericalLength(FromOsm.createLineString(
          Seq(Pt(20, 19.8), Pt(20.1, 19.8), Pt(20.2, 19.9)))) * 1000).toLong
      case "area_unit_square" => // unit square → 12308778361.469454
        // 1e4 m² buckets (100× tighter than the pre-round-11 km²
        // quantization): the geodesic-edge boundary-integral area is
        // within ~1e-9 relative of boost's pinned value
        math.floor(GeomOps.sphericalArea(FromOsm.createPolygon(
          Seq(Pt(0, 0), Pt(0, 1), Pt(1, 1), Pt(1, 0), Pt(0, 0)))) / 1e4).toLong
      case "area_square_with_hole" => // 3×3 minus 1×1 → 98452667625.52686
        math.floor(GeomOps.sphericalArea(FromOsm.createMultiPolygon(Seq(
          Seq(Pt(0, 0), Pt(0, 3), Pt(3, 3), Pt(3, 0), Pt(0, 0)),
          Seq(Pt(1, 1), Pt(2, 1), Pt(2, 2), Pt(1, 2), Pt(1, 1))))) / 1e4).toLong
      case _ => -1L
    })
    Seq("len_line", "len_equator", "len_pole", "len_3pt",
      "area_unit_square", "area_square_with_hole").toDF("case_id")
      .select($"case_id", calc($"case_id").as("value_q"))
  }

  val sphericalMeasuresSql: String =
    """SELECT * FROM (VALUES
      |  ('len_line', 156876149),
      |  ('len_equator', 20003931458),
      |  ('len_pole', 20003931458),
      |  ('len_3pt', 25718175),
      |  ('area_unit_square', 1230877),
      |  ('area_square_with_hole', 9845266)) AS t(case_id, value_q)""".stripMargin

  val queries: Map[String, Q] = Map(
    "q9_osm_multipolygon"        -> (multipolygonAssembly _),
    "q28_osm_polylabel"          -> (poleOfInaccessibility _),
    "q29_osm_spherical"          -> (sphericalMeasures _),
    "q81_osm_simplify"           -> (simplifyQ _),
    "q80_osm_line_merge"         -> (lineMerge _),
    "q77_geom_scalars"           -> (geomScalars _),
    "q50_osm_missing_nodes"      -> (missingNodes _),
    "q51_copy_escape"            -> (copyEscape _),
    "q48_osm_segmentize"         -> (segmentizeLen _),
    "q130_geodesic_segmentize"   -> (geodesicSegmentize _),
    "q46_osm_locator"            -> (locator _),
    "q42_osm_two_stage"          -> (twoStage _),
    "q30_osm_kway_merge"         -> (kwayMerge _),
    "q31_osm_resolve_way_nodes"  -> (resolveWayNodes _),
    "q32_osm_node_parents"       -> (nodeParents _),
    "q33_osm_rel_members"        -> (relMembers _),
    "q34_osm_zorder"             -> (zOrder _),
    "q35_osm_tile_cover"         -> (tileCover _),
    "q36_osm_expire_rollup"      -> (expireRollup _),
    "q37_osm_changefile_latest"  -> (changefileLatest _),
    "q38_osm_dependency_closure" -> (dependencyClosure _),
    "q39_osm_polygon_area"       -> (polygonArea _),
    "q40_osm_way_bbox"           -> (wayBbox _),
    "q41_osm_style_filter"       -> (styleFilter _),
    "q49_osm_centroid"           -> (polygonCentroid _))

  val oracles: Map[String, String] = Map(
    "q9_osm_multipolygon"        -> multipolygonAssemblySql,
    "q28_osm_polylabel"          -> poleOfInaccessibilitySql,
    "q29_osm_spherical"          -> sphericalMeasuresSql,
    "q81_osm_simplify"           -> simplifySql,
    "q80_osm_line_merge"         -> lineMergeSql,
    "q77_geom_scalars"           -> geomScalarsSql,
    "q50_osm_missing_nodes"      -> missingNodesSql,
    "q51_copy_escape"            -> copyEscapeSql,
    "q48_osm_segmentize"         -> segmentizeLenSql,
    "q130_geodesic_segmentize"   -> geodesicSegmentizeSql,
    "q46_osm_locator"            -> locatorSql,
    "q42_osm_two_stage"          -> twoStageSql,
    "q30_osm_kway_merge"         -> kwayMergeSql,
    "q31_osm_resolve_way_nodes"  -> resolveWayNodesSql,
    "q32_osm_node_parents"       -> nodeParentsSql,
    "q33_osm_rel_members"        -> relMembersSql,
    "q34_osm_zorder"             -> zOrderSql,
    "q35_osm_tile_cover"         -> tileCoverSql,
    "q36_osm_expire_rollup"      -> expireRollupSql,
    "q37_osm_changefile_latest"  -> changefileLatestSql,
    "q38_osm_dependency_closure" -> dependencyClosureSql,
    "q39_osm_polygon_area"       -> polygonAreaSql,
    "q40_osm_way_bbox"           -> wayBboxSql,
    "q41_osm_style_filter"       -> styleFilterSql,
    "q49_osm_centroid"           -> polygonCentroidSql)
}
