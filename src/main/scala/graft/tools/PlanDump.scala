package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dumps `.explain("formatted")` for every registered query (or the
  * named ones) to <outDir>/<query>_<suffix>.txt — the optimization
  * round's before/after plan artifacts — and prints each plan's
  * skeleton (scans, joins, exchanges, codegen spans, pushed filters)
  * to stdout, the review loop for shuffle/broadcast/pushdown hygiene.
  * Not part of the driver contract.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> [q ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r15")
    val suffix = if (args.length > 1) args(1) else "before"
    val spark = graft.LocalSpark.session("graft-plandump",
      graft.LocalSpark.cpus, 32, "ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (q <- names) {
      val txt =
        try graft.SparkEntry.queries(q)(spark, d)
          .queryExecution.explainString(ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${q}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"===== $q =====")
      println(txt.split("\n").filter(l =>
        l.contains("Scan") || l.contains("Join") || l.contains("Exchange") ||
          l.contains("PushedFilters") || l.contains("WholeStageCodegen") ||
          l.startsWith("PLAN FAILED"))
        .take(25).mkString("\n"))
    }
    spark.stop()
  }
}
