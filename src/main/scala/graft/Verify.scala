package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Local-iteration aid: SPARK_GRAFT_ONLY=q103_containment,q104_...
  * restricts the dump AND oracle_sql.json to those queries
  * ([[SparkEntry.selected]]), so a local compare reports only what ran
  * (the driver never sets it — full gate). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val queries = SparkEntry.selected(SparkEntry.queries)
    val cpus = LocalSpark.cpus
    val spark = LocalSpark.session("graft-verify", cpus, cpus)
    // SPARK_GRAFT_AQE=false reruns the whole gate without adaptive
    // execution — results must not depend on runtime re-planning
    sys.env.get("SPARK_GRAFT_AQE")
      .foreach(spark.conf.set("spark.sql.adaptive.enabled", _))
    new java.io.File(outDir).mkdirs()
    // A failing query must surface as an explicit error artifact — not a
    // silently missing row in the driver's CORRECTNESS report.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
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
    val json = SparkEntry.selected(SparkEntry.oracleSql)
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
