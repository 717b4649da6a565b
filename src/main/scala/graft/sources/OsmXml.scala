package graft.sources

import java.io.StringReader
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{OsmMember, OsmNode, OsmRelation, OsmWay}

/** OSM XML / OSC change-file source (reference: src/input.cpp via
  * osmium::io::Reader; format detect src/input.cpp:307-336).
  *
  * [[OsmSource.read]] parses one file per task with [[parseString]]
  * (StAX streaming) — each OSM extract file is one split, which
  * matches how planet dumps are distributed (many regional files);
  * XML is the format the reference's own test corpus uses. This object
  * also holds the shared decoded form ([[Parsed]]), the frames every
  * read returns ([[OsmDataFrames]]) and the change-stream read that
  * stamps a sequence per row ([[readSequenced]]).
  *
  * `.osc` change files wrap entities in <create>/<modify>/<delete>
  * sections (src/input.cpp:189-194); the action is surfaced as a column
  * and <delete> sets visible=false.
  */
object OsmXml {

  final case class Parsed(
      nodes: Vector[(String, OsmNode)],
      ways: Vector[(String, OsmWay)],
      relations: Vector[(String, OsmRelation)])

  /** Parse one OSM XML document (plain .osm or .osc). */
  def parseString(xml: String): Parsed = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val r = f.createXMLStreamReader(new StringReader(xml))

    var action = "create"
    val nodes = Vector.newBuilder[(String, OsmNode)]
    val ways = Vector.newBuilder[(String, OsmWay)]
    val rels = Vector.newBuilder[(String, OsmRelation)]

    var tags = Map.newBuilder[String, String]
    var nds = Vector.newBuilder[Long]
    var members = Vector.newBuilder[OsmMember]
    var curNode: OsmNode = null
    var curWay: OsmWay = null
    var curRel: OsmRelation = null

    def attr(name: String): Option[String] = {
      var i = 0
      var res: Option[String] = None
      while (i < r.getAttributeCount && res.isEmpty) {
        if (r.getAttributeLocalName(i) == name)
          res = Some(r.getAttributeValue(i))
        i += 1
      }
      res
    }
    def commonVisible: Boolean =
      action != "delete" && attr("visible").forall(_ == "true")
    def ts: Long = attr("timestamp").map(t =>
      java.time.Instant.parse(t).getEpochSecond).getOrElse(0L)

    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case a @ ("create" | "modify" | "delete") => action = a
            case "node" =>
              tags = Map.newBuilder
              curNode = OsmNode(
                id = attr("id").get.toLong,
                version = attr("version").map(_.toInt).getOrElse(1),
                timestamp = ts,
                changeset = attr("changeset").map(_.toLong).getOrElse(0L),
                uid = attr("uid").map(_.toLong).getOrElse(0L),
                user = attr("user").getOrElse(""),
                visible = commonVisible,
                lon = attr("lon").map(_.toDouble).getOrElse(Double.NaN),
                lat = attr("lat").map(_.toDouble).getOrElse(Double.NaN))
            case "way" =>
              tags = Map.newBuilder; nds = Vector.newBuilder
              curWay = OsmWay(
                id = attr("id").get.toLong,
                version = attr("version").map(_.toInt).getOrElse(1),
                timestamp = ts,
                changeset = attr("changeset").map(_.toLong).getOrElse(0L),
                uid = attr("uid").map(_.toLong).getOrElse(0L),
                user = attr("user").getOrElse(""),
                visible = commonVisible)
            case "relation" =>
              tags = Map.newBuilder; members = Vector.newBuilder
              curRel = OsmRelation(
                id = attr("id").get.toLong,
                version = attr("version").map(_.toInt).getOrElse(1),
                timestamp = ts,
                changeset = attr("changeset").map(_.toLong).getOrElse(0L),
                uid = attr("uid").map(_.toLong).getOrElse(0L),
                user = attr("user").getOrElse(""),
                visible = commonVisible)
            case "tag" =>
              for (k <- attr("k"); v <- attr("v")) tags += (k -> v)
            case "nd" =>
              attr("ref").foreach(ref => nds += ref.toLong)
            case "member" =>
              members += OsmMember(
                mtype = attr("type").map(_.take(1)).getOrElse("n"),
                ref = attr("ref").map(_.toLong).getOrElse(0L),
                role = attr("role").getOrElse(""))
            case _ => ()
          }
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case a @ ("create" | "modify" | "delete") if a == action =>
              action = "create"
            case "node" =>
              nodes += ((action, curNode.copy(tags = tags.result())))
            case "way" =>
              ways += ((action, curWay.copy(nodes = nds.result(),
                tags = tags.result())))
            case "relation" =>
              rels += ((action, curRel.copy(members = members.result(),
                tags = tags.result())))
            case _ => ()
          }
        case _ => ()
      }
    }
    r.close()
    Parsed(nodes.result(), ways.result(), rels.result())
  }

  final case class OsmDataFrames(nodes: DataFrame, ways: DataFrame,
      relations: DataFrame,
      backing: Seq[org.apache.spark.rdd.RDD[_]] = Nil) {
    /** Release the parsed-entity caches backing these frames, if the
      * reader cached any. Call after downstream results are
      * materialized; repeated reads otherwise accumulate parsed
      * datasets in executor storage memory. */
    def unpersistBacking(): Unit =
      backing.foreach(_.unpersist(blocking = false))
  }

  /** Distributed multi-file read that additionally stamps every entity
    * row with a `seq` BIGINT column — `(fileIndex << 32) | intraFilePos`
    * where fileIndex follows the SORTED path order (the replication
    * NNN/NNN/NNN layout sorts into sequence order). Consumers that
    * need "later file wins" semantics (delete-then-insert, last-write
    * per id) resolve it relationally via max(seq) instead of relying
    * on driver-side concatenation order. Used by the change-file
    * stream; the parse itself runs in executors, one split per file. */
  def readSequenced(spark: SparkSession, paths: Seq[String]): OsmDataFrames = {
    import spark.implicits._
    def norm(s: String): String =
      try {
        val u = new java.net.URI(s)
        if (u.getPath != null && u.getPath.nonEmpty) u.getPath else s
      } catch { case _: Exception => s }
    // qualify caller paths the same way wholeTextFiles qualifies its
    // split URIs (relative → absolute against the FS working dir), so
    // a relative input still matches the executor-side lookup
    val hconf = spark.sparkContext.hadoopConfiguration
    def qualify(s: String): String = {
      val p = new org.apache.hadoop.fs.Path(s)
      val fs = p.getFileSystem(hconf)
      norm(p.makeQualified(fs.getUri, fs.getWorkingDirectory).toString)
    }
    val fileIdx = paths.map(qualify).sorted.zipWithIndex.toMap
    val bc = spark.sparkContext.broadcast(fileIdx)
    val parsed = spark.sparkContext
      .wholeTextFiles(paths.mkString(","))
      .map { case (uri, xml) =>
        val key = norm(uri)
        val idx = bc.value.getOrElse(key, throw new IllegalStateException(
          s"input split '$uri' not among the qualified input paths " +
            bc.value.keys.mkString("[", ", ", "]")))
        (idx, parseString(xml))
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def seq(f: Int, i: Int): Long = (f.toLong << 32) | i.toLong
    val nodes = parsed.flatMap { case (f, p) =>
      p.nodes.zipWithIndex.map { case ((a, n), i) => (seq(f, i), a, n) }
    }.toDF("seq", "action", "n").select($"seq", $"action", $"n.*")
    val ways = parsed.flatMap { case (f, p) =>
      p.ways.zipWithIndex.map { case ((a, w), i) => (seq(f, i), a, w) }
    }.toDF("seq", "action", "w").select($"seq", $"action", $"w.*")
    val rels = parsed.flatMap { case (f, p) =>
      p.relations.zipWithIndex.map { case ((a, r), i) => (seq(f, i), a, r) }
    }.toDF("seq", "action", "r").select($"seq", $"action", $"r.*")
    OsmDataFrames(nodes, ways, rels, backing = Seq(parsed))
  }
}
