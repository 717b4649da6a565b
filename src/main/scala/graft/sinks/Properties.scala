package graft.sinks

import org.apache.spark.sql.SparkSession

/** The osm2pgsql_properties store (reference: src/properties.cpp:22):
  * a small key-value table persisting import settings (attributes,
  * prefix, updatable, output, replication base/seq —
  * src/osm2pgsql.cpp:102-145), validated against options on append
  * (src/osm2pgsql.cpp:300-309). Here: a JSON state file next to the
  * output dataset.
  */
object Properties {

  def save(spark: SparkSession, path: String,
      props: Map[String, String]): Unit = {
    import spark.implicits._
    props.toSeq.toDF("property", "value")
      .coalesce(1).write.mode("overwrite").json(path)
  }

  /** The stored properties, read with their fixed schema (no
    * inference job). A missing store throws. */
  def load(spark: SparkSession, path: String): Map[String, String] = {
    import spark.implicits._
    spark.read.schema("property STRING, value STRING").json(path)
      .as[(String, String)].collect().toMap
  }

  /** The import-time property set the reference persists
    * (src/osm2pgsql.cpp:102-145 store_properties + store_data_properties):
    * fixed settings plus, when the input carries timestamps, the max
    * entity timestamp as import_timestamp AND current_timestamp —
    * regression/timestamps.feature pins exactly this shape (10 rows
    * with timestamps, 8 without). The timestamp scan is one max()
    * aggregate over the unioned entity frames. */
  def importProperties(osm: graft.sources.OsmXml.OsmDataFrames,
      attributes: Boolean = false, prefix: String = "planet_osm",
      updatable: Boolean = false, output: String = "pgsql",
      style: String = "default.style", engineVersion: String = "graft",
      flatNodeFile: String = ""): Map[String, String] = {
    import org.apache.spark.sql.functions._
    val tsRow = osm.nodes.select(col("timestamp"))
      .unionAll(osm.ways.select(col("timestamp")))
      .unionAll(osm.relations.select(col("timestamp")))
      .agg(max(col("timestamp"))).head()
    val ts = if (tsRow.isNullAt(0)) 0L else tsRow.getLong(0) // empty input
    val base = Map(
      "attributes" -> attributes.toString,
      "db_format" -> "0",
      "flat_node_file" -> flatNodeFile,
      "prefix" -> prefix,
      "updatable" -> updatable.toString,
      "version" -> engineVersion,
      "output" -> output,
      "style" -> style)
    if (ts <= 0) base
    else {
      val iso = java.time.Instant.ofEpochSecond(ts).toString
      base + ("import_timestamp" -> iso) + ("current_timestamp" -> iso)
    }
  }

  /** Append-time property update (src/osm2pgsql.cpp:364-374 bumps the
    * replication/current timestamp after a diff): current_timestamp
    * advances to the change set's max timestamp (never backwards),
    * import_timestamp stays — giving timestamps.feature's
    * current-without-import shape when the import had no timestamps. */
  def appendProperties(stored: Map[String, String],
      changes: graft.sources.OsmXml.OsmDataFrames): Map[String, String] = {
    import org.apache.spark.sql.functions._
    val tsRow = changes.nodes.select(col("timestamp"))
      .unionAll(changes.ways.select(col("timestamp")))
      .unionAll(changes.relations.select(col("timestamp")))
      .agg(max(col("timestamp"))).head()
    val ts = if (tsRow.isNullAt(0)) 0L else tsRow.getLong(0)
    if (ts <= 0) stored
    else {
      val prev = stored.get("current_timestamp")
        .map(java.time.Instant.parse(_).getEpochSecond).getOrElse(0L)
      val next = math.max(prev, ts)
      stored + ("current_timestamp" ->
        java.time.Instant.ofEpochSecond(next).toString)
    }
  }

  /** Append-mode validation (src/osm2pgsql.cpp:300-309): settings that
    * must not change between the import and an append run. Returns the
    * mismatches. */
  def validateForAppend(stored: Map[String, String],
      current: Map[String, String],
      mustMatch: Seq[String] = Seq("prefix", "output", "flat_node_file",
        "attributes", "db_format")): Seq[(String, Option[String], Option[String])] =
    mustMatch.flatMap { k =>
      (stored.get(k), current.get(k)) match {
        case (a, b) if a == b => None
        case (a, b)           => Some((k, a, b))
      }
    }

  /** Append options the user may pass on the command line; None means
    * "not specified — inherit the stored import setting". */
  final case class AppendOptions(
      attributes: Option[Boolean] = None,
      prefix: Option[String] = None,
      flatNodeFile: Option[String] = None,
      output: Option[String] = None,
      style: Option[String] = None)

  /** The resolved append configuration plus the informational messages
    * the reference logs while resolving it. */
  final case class ResolvedAppend(settings: Map[String, String],
      messages: Seq[String])

  /** Resolve append-run options against the stored import properties —
    * the reference's check_and_update_properties pass
    * (src/osm2pgsql.cpp:300-309; scenarios: regression/
    * properties.feature): unspecified options inherit the stored
    * values (with an informational message); specified options must
    * agree with the store; a non-updatable import refuses appends.
    * Returns Left(error) with the reference's message on conflict. */
  def resolveAppend(stored: Map[String, String],
      opts: AppendOptions): Either[String, ResolvedAppend] = {
    if (!stored.get("updatable").contains("true"))
      return Left("This database is not updatable. To create an " +
        "updatable database use --slim (without --drop).")
    val msgs = Seq.newBuilder[String]

    val storedAttrs = stored.get("attributes").contains("true")
    val attrs = opts.attributes match {
      case Some(true) if !storedAttrs =>
        return Left("Can not update with attributes (-x/--extra-attributes) " +
          "because original import was without attributes.")
      case Some(a) => a
      case None =>
        if (storedAttrs)
          msgs += "Updating with attributes (same as on import)."
        storedAttrs
    }

    val storedPrefix = stored.getOrElse("prefix", "planet_osm")
    val prefix = opts.prefix match {
      case Some(p) if p != storedPrefix =>
        return Left("Different prefix specified on command line " +
          s"('$p') then used on import ('$storedPrefix').")
      case Some(p) => p
      case None =>
        msgs += s"Using prefix '$storedPrefix' (same as on import)."
        storedPrefix
    }

    val storedFlat = stored.getOrElse("flat_node_file", "")
    val flat = opts.flatNodeFile match {
      case Some(f) if storedFlat.isEmpty =>
        return Left("Database was imported without flat node file. Can" +
          s" not use flat node file '$f' now.")
      case Some(f) if f == storedFlat =>
        msgs += s"Using flat node file '$f' (same as on import)."
        f
      case Some(f) =>
        msgs += "Using the flat node file you specified on the command" +
          s" line ('$f') instead of the one used on import ('$storedFlat')."
        f
      case None =>
        if (storedFlat.isEmpty)
          msgs += "Not using flat node file (same as on import)."
        else
          msgs += s"Using flat node file '$storedFlat' (same as on import)."
        storedFlat
    }

    val storedOutput = stored.getOrElse("output", "pgsql")
    val output = opts.output match {
      case Some(ob) if ob != storedOutput =>
        return Left("Different output specified on command line " +
          s"('$ob') then used on import ('$storedOutput').")
      case Some(ob) => ob
      case None =>
        msgs += s"Using output '$storedOutput' (same as on import)."
        storedOutput
    }

    // check_and_update_style_file (src/osm2pgsql.cpp:266-296): an
    // unspecified style inherits; a different one wins and is stored
    val storedStyle = stored.getOrElse("style", "")
    val style = opts.style match {
      case None =>
        msgs += s"Using style file '$storedStyle' (same as on import)."
        storedStyle
      case Some(f) if f == storedStyle =>
        msgs += s"Using style file '$storedStyle' (same as on import)."
        f
      case Some(f) =>
        msgs += "Using the style file you specified on the command line" +
          s" ('$f') instead of the one used on import ('$storedStyle')."
        f
    }

    Right(ResolvedAppend(
      stored ++ Map("attributes" -> attrs.toString, "prefix" -> prefix,
        "flat_node_file" -> flat, "output" -> output, "style" -> style),
      msgs.result()))
  }
}
