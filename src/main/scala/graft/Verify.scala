package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Local-iteration aid: SPARK_GRAFT_ONLY=q103_containment,q104_...
    // restricts the dump AND oracle_sql.json to those queries, so a
    // local compare reports only what ran (the driver never sets it —
    // full gate). A name that is no query is refused, not skipped.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val queries = SparkEntry.queries
    only.foreach { set =>
      val unknown = set.filterNot(queries.contains)
      require(unknown.isEmpty, "SPARK_GRAFT_ONLY names no query: " +
        unknown.toSeq.sorted.map(n => s"'$n'").mkString(", "))
    }
    def selected[V](m: Map[String, V]): Map[String, V] =
      only.fold(m)(set => m.filter { case (n, _) => set(n) })
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // SPARK_GRAFT_AQE=false reruns the whole gate without adaptive
      // execution — results must not depend on runtime re-planning
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A failing query must surface as an explicit error artifact — not a
    // silently missing row in the driver's CORRECTNESS report.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected(queries).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        new java.io.File(s"$outDir/$name").mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/ERROR.txt"), msg)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selected(SparkEntry.oracleSql)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
