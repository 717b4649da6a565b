package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Where a query's wall time goes. Each named query runs once warm
  * (store builds, codegen, file listing), then once profiled through
  * one listener. The profiled run reports
  *  - the phase split: build (the query function, construction-time
  *    actions included) / analyze / optimize / physical plan /
  *    execute;
  *  - every job with its wall, the gap since the previous job ended,
  *    its stages and its graft call site — the "which of the 14 jobs
  *    inside this query is slow" view the Spark UI would give;
  *  - the top stages by executor run time, with tasks and shuffle
  *    bytes.
  * Dev tool only, not part of the driver contract.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... tools/jrun.sh graft.tools.QueryProfile q146_image_clusters ...
  */
object QueryProfile {
  private final case class Job(id: Int, desc: String, start: Long,
      stages: Seq[Int], var end: Long = 0L)
  private final case class Stage(where: String, runTime: Long,
      shuffleRead: Long, shuffleWrite: Long, tasks: Int)

  /** The first graft frame of a stage's call site: the useful
    * attribution (the stage name is usually an internal Spark frame). */
  private def graftFrame(si: StageInfo): Option[String] =
    si.details.linesIterator
      .find(l => l.contains("graft.") && !l.contains("QueryProfile"))
      .map(_.trim)

  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSpark.session("graft-profile",
      graft.LocalSpark.cpus, 32, "ERROR")
    val jobs = mutable.Map[Int, Job]()
    val stages = mutable.Map[Int, Stage]()
    @volatile var recording = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (recording) jobs(e.jobId) = Job(e.jobId,
          Option(e.properties.getProperty("spark.job.description"))
            .orElse(e.stageInfos.iterator.flatMap(graftFrame).nextOption())
            .getOrElse(""),
          e.time, e.stageInfos.map(_.stageId))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (recording) jobs.get(e.jobId).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (recording) {
          val si = e.stageInfo
          val m = si.taskMetrics
          // plus the stage's RDD scope chain (scan paths, operators)
          val scopes = si.rddInfos.sortBy(_.id).map { r =>
            r.scope.map(_.name).filter(_.nonEmpty).getOrElse(r.name)
          }.distinct.mkString(" | ")
          stages(si.stageId) = Stage(
            s"${graftFrame(si).getOrElse(si.name.takeWhile(_ != '\n'))}  [$scopes]",
            m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, si.numTasks)
        }
    })
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val names = if (args.nonEmpty) args.toSeq else Seq("q146_image_clusters")
    for (q <- names) {
      val fn = graft.SparkEntry.queries(q)
      fn(spark, d).count() // warm
      jobs.clear(); stages.clear()
      recording = true
      val (df, tBuild) = timed(fn(spark, d))
      val qe = df.queryExecution
      val (_, tAna) = timed(qe.analyzed)
      val (_, tOpt) = timed(qe.optimizedPlan)
      val (_, tPhy) = timed(qe.executedPlan)
      val (n, tExec) = timed(df.count())
      recording = false
      Thread.sleep(300) // let the listener bus drain
      val wall = tBuild + tAna + tOpt + tPhy + tExec
      println(f"===== $q  wall=$wall%.3f s  rows=$n  jobs=${jobs.size} =====")
      println(f"  build=$tBuild%6.3f analyze=$tAna%6.3f optimize=$tOpt%6.3f physical=$tPhy%6.3f execute=$tExec%6.3f")
      var prevEnd = 0L
      for (j <- jobs.values.toSeq.sortBy(_.start)) {
        val dur = (j.end - j.start) / 1000.0
        val gap = if (prevEnd == 0) 0.0 else (j.start - prevEnd) / 1000.0
        prevEnd = math.max(prevEnd, j.end)
        println(f"  job ${j.id}%4d  $dur%7.3f s  (gap $gap%6.3f s)  stages=${j.stages.mkString(",")}  ${j.desc.take(110)}")
      }
      println("  -- top stages by executor run time --")
      for ((id, s) <- stages.toSeq.sortBy(-_._2.runTime).take(12))
        println(f"  stage $id%4d  runTime=${s.runTime / 1000.0}%7.2f s  tasks=${s.tasks}%3d  shufR=${s.shuffleRead / 1e6}%8.2f MB  shufW=${s.shuffleWrite / 1e6}%8.2f MB  ${s.where}")
    }
    spark.stop()
  }
}
