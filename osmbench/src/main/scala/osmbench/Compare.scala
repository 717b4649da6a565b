package osmbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, DoubleType, FloatType}

import graft.geom._

/** Row-set equality of two output tables at OSM precision. Rows pair
  * up on every column that is neither a geometry nor a double. Paired
  * rows are equal when each coordinate and double agrees on the 1e-7°
  * OSM grid: within half a grid step (0.005 m in web mercator, where a
  * grid step is at least 0.011 m). Rows equal on the grid but not to
  * the last bit are counted apart as `ulp` rows. */
object Compare {
  final case class Result(rows: Long, ulp: Long, mismatched: Long,
      examples: Seq[String]) {
    def +(o: Result): Result = Result(rows + o.rows, ulp + o.ulp,
      mismatched + o.mismatched, (examples ++ o.examples).take(5))
  }

  private def coords(g: Geometry): Vector[Pt] = g match {
    case _: NullGeom              => Vector.empty
    case Point(p, _)              => Vector(p)
    case LineString(ps, _)        => ps
    case Polygon(o, inners, _)    => (o +: inners).flatMap(_.pts)
    case MultiPoint(ps, _)        => ps.map(_.pt)
    case MultiLineString(ls, _)   => ls.flatMap(_.pts)
    case MultiPolygon(ps, _)      => ps.flatMap(coords(_))
    case GeometryCollection(gs, _) => gs.flatMap(coords)
  }

  private def gridEqualGeom(a: Array[Byte], b: Array[Byte]): Boolean = {
    val (ga, gb) = (Ewkb.decode(a), Ewkb.decode(b))
    val tol = if (ga.srid == Srid.WGS84) 0.5e-7 else 0.005
    val (ca, cb) = (coords(ga), coords(gb))
    ga.typeName == gb.typeName && ga.srid == gb.srid && ca.size == cb.size &&
      ca.zip(cb).forall { case (p, q) =>
        math.abs(p.x - q.x) < tol && math.abs(p.y - q.y) < tol }
  }

  // lon/lat columns are degrees on the grid; anything else (areas) is
  // derived from coordinates and compared relatively
  private def gridEqualNum(name: String, a: Double, b: Double): Boolean =
    if (name == "lon" || name == "lat") math.abs(a - b) < 0.5e-7
    else math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))

  def tables(name: String, got: DataFrame, want: DataFrame): Result = {
    val fields = want.schema.fields.sortBy(_.name)
    if (got.columns.sorted.toSeq != fields.map(_.name).toSeq)
      return Result(0, 0, 1, Seq(s"$name: columns ${got.columns.sorted
        .mkString(",")} != ${fields.map(_.name).mkString(",")}"))
    val geom = fields.filter(_.dataType == BinaryType).map(_.name)
    val num = fields.filter(f => f.dataType == DoubleType ||
      f.dataType == FloatType).map(_.name)
    val key = fields.map(_.name).filterNot(c => geom.contains(c) || num.contains(c))
    def load(df: DataFrame) = df.select((key ++ geom ++ num).map(df.col): _*)
      .collect().toSeq.map { r =>
        val k = key.indices.map(i => String.valueOf(r.get(i))).mkString("\u0001")
        val g = geom.indices.map(i => r.getAs[Array[Byte]](key.size + i))
        val n = num.indices.map { i =>
          val v = r.get(key.size + geom.size + i)
          if (v == null) Double.NaN else v.asInstanceOf[Number].doubleValue
        }
        (k, g, n)
      }.groupBy(_._1)
    val (a, b) = (load(got), load(want))
    var ulp, bad = 0L
    val examples = Seq.newBuilder[String]
    def miss(msg: String): Unit = { bad += 1; examples += s"$name: $msg" }
    (a.keySet ++ b.keySet).foreach { k =>
      val (ra, rb) = (a.getOrElse(k, Nil), b.getOrElse(k, Nil))
      if (ra.size != rb.size)
        miss(s"${ra.size} rows vs ${rb.size} expected for key ${k.take(60)}")
      else {
        def order(rs: Seq[(String, IndexedSeq[Array[Byte]], IndexedSeq[Double])]) =
          rs.sortBy(r => r._2.map(_.length).sum)
        order(ra).zip(order(rb)).foreach { case ((_, ga, na), (_, gb, nb)) =>
          val exact = ga.zip(gb).forall { case (x, y) =>
            java.util.Arrays.equals(x, y) } &&
            na.zip(nb).forall { case (x, y) => x.equals(y) }
          val grid = ga.zip(gb).forall { case (x, y) =>
            (x == null && y == null) ||
              (x != null && y != null && gridEqualGeom(x, y)) } &&
            num.indices.forall(i => (na(i).isNaN && nb(i).isNaN) ||
              gridEqualNum(num(i), na(i), nb(i)))
          if (!grid) miss(s"values differ for key ${k.take(60)}")
          else if (!exact) ulp += 1
        }
      }
    }
    Result(b.values.map(_.size.toLong).sum, ulp, bad, examples.result().take(5))
  }
}
