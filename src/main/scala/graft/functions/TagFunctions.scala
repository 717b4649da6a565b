package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Tag-transformation primitives (reference: src/tagtransform-c.cpp,
  * src/taginfo.cpp) as pure Column expressions over
  * `MapType(String,String)` tag columns — the style-file filter and
  * z_order computation the classic pgsql output applies to every object.
  */
object TagFunctions {

  /** Highway-class render ordering table (the LAYERS array,
    * src/tagtransform-c.cpp:28-44): class name → (z offset, in roads
    * table). */
  val roadClasses: Seq[(String, Int, Boolean)] = Seq(
    ("proposed", 1, false), ("construction", 2, false),
    ("steps", 10, false), ("cycleway", 10, false),
    ("bridleway", 10, false), ("footway", 10, false), ("path", 10, false),
    ("track", 11, false), ("service", 15, false),
    ("tertiary_link", 24, false), ("secondary_link", 25, true),
    ("primary_link", 27, true), ("trunk_link", 28, true),
    ("motorway_link", 29, true),
    ("raceway", 30, false), ("pedestrian", 31, false),
    ("living_street", 32, false), ("road", 33, false),
    ("unclassified", 33, false), ("residential", 33, false),
    ("tertiary", 34, false), ("secondary", 36, true),
    ("primary", 37, true), ("trunk", 38, true), ("motorway", 39, true))

  /** Parse a layer value the way strtol does: leading integer, junk →
    * 0. */
  private def layerOf(tags: Column): Column = {
    val m = regexp_extract(coalesce(tags.getItem("layer"), lit("")),
      "^([+-]?\\d+)", 1)
    when(m === "", 0).otherwise(m.cast("int"))
  }

  /** z_order = 100*layer + classOffset + 35 (railway) + 100*bridge
    * - 100*tunnel (add_z_order, src/tagtransform-c.cpp:46-89) as a
    * when/otherwise chain — constant-folded by Catalyst, no join. */
  def zOrder(tags: Column): Column = {
    val highway = tags.getItem("highway")
    val classOffset = roadClasses.foldLeft(lit(0)) {
      case (acc, (name, z, _)) => when(highway === name, z).otherwise(acc)
    }
    val boolTag = (k: String) =>
      tags.getItem(k).isin("yes", "true", "1")
    val bridge = when(boolTag("bridge"), 100).otherwise(0)
    val tunnel = when(boolTag("tunnel"), -100).otherwise(0)
    val railway = when(tags.getItem("railway").isNotNull &&
      tags.getItem("railway") =!= "", 35).otherwise(0)
    layerOf(tags) * 100 + classOffset + bridge + tunnel + railway
  }

  /** "roads table" membership (add_z_order, src/tagtransform-c.cpp:
    * 58-87): the class table's roads flag, overridden true by a
    * non-empty railway tag or boundary=administrative. */
  def isRoads(tags: Column): Column = {
    val highway = tags.getItem("highway")
    val roadsTrue = roadClasses.filter(_._3).map(_._1)
    val roadsFalse = roadClasses.filterNot(_._3).map(_._1)
    val fromHighway = when(highway.isin(roadsTrue: _*), lit(true))
      .when(highway.isin(roadsFalse: _*), lit(false))
      .otherwise(lit(false))
    (tags.getItem("railway").isNotNull && tags.getItem("railway") =!= "") ||
      (tags.getItem("boundary") <=> "administrative") || fromHighway
  }

  /** Style-file export filter (filter_tags,
    * src/tagtransform-c.cpp:154-221): keep an object iff at least one
    * tag key is in the export list; then decide polygon-vs-line. */
  def keepByStyle(tags: Column, exportKeys: Seq[String]): Column =
    exportKeys.map(k => tags.getItem(k).isNotNull).reduce(_ || _)

  /** Polygon-vs-line decision: any polygon-flagged key present, with the
    * `area=yes/no` override (src/tagtransform-c.cpp:180-208). */
  def isPolygon(tags: Column, polygonKeys: Seq[String]): Column = {
    val anyPoly = polygonKeys.map(k => tags.getItem(k).isNotNull)
      .reduce(_ || _)
    when(tags.getItem("area") === "no", lit(false))
      .when(tags.getItem("area").isin("yes", "true", "1"), lit(true))
      .otherwise(anyPoly)
  }

  /** The reference's wild_match (src/wildcmp.cpp, pinned by
    * test-wildcard-match.cpp): `*` matches any run (including empty),
    * `?` exactly one character, everything else literal — translated
    * to an anchored regex evaluated by the codegen'd `rlike`. */
  def wildcardRegex(p: String): String = "^" + wildcardBody(p) + "$"

  /** [[wildcardRegex]] without its anchors. */
  private def wildcardBody(p: String): String =
    p.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()+^$|".contains(c) => "\\" + c
      case c   => c.toString
    }

  /** Key-deletion predicate shared by [[cleanTags]] and the classic
    * export filter: keys with `*`/`?` are wild_match patterns (NOT
    * just trailing-star prefixes), the rest exact. The patterns form
    * ONE anchored alternation, so the predicate is one `rlike` however
    * many patterns the style lists (one per pattern made the optimizer
    * simplify a chain of that length in every plan that filters
    * tags). */
  def deleteHit(k: Column, deleteKeys: Seq[String]): Column = {
    val (wild, exact) =
      deleteKeys.partition(s => s.exists(c => c == '*' || c == '?'))
    (Option.when(exact.nonEmpty)(k.isInCollection(exact)) ++
      Option.when(wild.nonEmpty)(k.rlike(
        wild.distinct.map(wildcardBody).mkString("^(?:", "|", ")$"))))
      .reduceOption(_ || _).getOrElse(lit(false))
  }

  /** Drop tags whose key is in the delete list, incl. full wildcard
    * patterns ("name:*", "?5?") — src/taginfo.cpp + src/wildcmp.cpp. */
  def cleanTags(tags: Column, deleteKeys: Seq[String]): Column =
    map_filter(tags, (k, _) => !deleteHit(k, deleteKeys))

  /** Attribute pseudo-tags (src/osmtypes.hpp:104-111): inject
    * osm_user/osm_uid/osm_version/osm_timestamp/osm_changeset.
    * Timestamps render as ISO8601 (the reference's timestamp().to_iso())
    * and the injection is gated on version > 0, exactly like
    * add_attributes; pre-existing osm_* keys are dropped first so the
    * map_concat cannot hit Spark's duplicate-key error (the reference's
    * taglist_t appends duplicates, which a map cannot represent —
    * pseudo-tag wins, documented delta). */
  def withAttributePseudoTags(tags: Column, version: Column, ts: Column,
      changeset: Column, uid: Column, user: Column): Column = {
    val cleaned = map_filter(tags, (k, _) => !k.startsWith("osm_"))
    // Instant.toString == the reference's to_iso, and is independent of
    // the session time zone (date_format renders in session tz and
    // would mislabel non-UTC sessions with a literal Z)
    val iso = isoInstant(ts)
    when(version > 0,
      map_concat(cleaned, map(
        lit("osm_version"), version.cast("string"),
        lit("osm_timestamp"), iso,
        lit("osm_changeset"), changeset.cast("string"),
        lit("osm_uid"), uid.cast("string"),
        lit("osm_user"), user)))
      .otherwise(tags)
  }

  private val isoInstant =
    udf((ts: Long) => java.time.Instant.ofEpochSecond(ts).toString)
}
