package graft.model

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types._

/** OSM entity model (reference: src/osmtypes.hpp; libosmium types).
  *
  * Three entity streams — nodes, ways, relations — in a mandated global
  * order (all nodes, then ways, then relations, ids ascending;
  * src/input.cpp:24-55). Tags are a string map; way nodes an ordered
  * id array; relation members an ordered array of (type, ref, role)
  * with type ∈ {n, w, r} (src/osmtypes.hpp:33-67).
  */
final case class OsmMember(mtype: String, ref: Long, role: String)

final case class OsmNode(
    id: Long,
    version: Int = 1,
    timestamp: Long = 0L,
    changeset: Long = 0L,
    uid: Long = 0L,
    user: String = "",
    visible: Boolean = true,
    lon: Double = Double.NaN,
    lat: Double = Double.NaN,
    tags: Map[String, String] = Map.empty)

final case class OsmWay(
    id: Long,
    version: Int = 1,
    timestamp: Long = 0L,
    changeset: Long = 0L,
    uid: Long = 0L,
    user: String = "",
    visible: Boolean = true,
    nodes: Seq[Long] = Nil,
    tags: Map[String, String] = Map.empty)

final case class OsmRelation(
    id: Long,
    version: Int = 1,
    timestamp: Long = 0L,
    changeset: Long = 0L,
    uid: Long = 0L,
    user: String = "",
    visible: Boolean = true,
    members: Seq[OsmMember] = Nil,
    tags: Map[String, String] = Map.empty)

object OsmSchema {
  /** Hard limit from the reference: relations with more members are
    * dropped with a warning (src/osmdata.cpp:151-156). */
  val MaxRelationMembers = 32767

  val memberType: StructType = StructType(Seq(
    StructField("mtype", StringType, nullable = false),
    StructField("ref", LongType, nullable = false),
    StructField("role", StringType, nullable = true)))

  val tagsType: DataType = MapType(StringType, StringType)

  /** The entity columns of the three streams, without the readers'
    * `action`: the known schema of the stored middle. */
  lazy val node: StructType = Encoders.product[OsmNode].schema
  lazy val way: StructType = Encoders.product[OsmWay].schema
  lazy val relation: StructType = Encoders.product[OsmRelation].schema
}
