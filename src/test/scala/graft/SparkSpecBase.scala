package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for Spark-backed suites (one per suite).
  *
  * Every suite quiesces the scheduler in `afterAll`: stop any
  * streaming query a failed test left running, cancel stray jobs and
  * wait until no job is active. Failure-path tests (the refusal
  * guards that `intercept` a raise_error/require) abort only the
  * CALLING action — AQE shuffle-stage jobs and broadcast builds
  * submitted concurrently for sibling subtrees keep running in the
  * background, and if the forked test JVM exits while they are still
  * being revived, SparkContext's shutdown hook races them into a
  * RejectedExecutionException storm from LocalSchedulerBackend
  * (observed as the round-15 driver-side `sbt test` failure with zero
  * assertion failures). Handing the scheduler over idle after every
  * suite makes the teardown deterministic. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session

  override def afterAll(): Unit = {
    try SparkSpecBase.quiesce()
    finally super.afterAll()
  }
}

object SparkSpecBase {
  @volatile private var started = false

  lazy val session: SparkSession = {
    val s = LocalSpark.session("graft-test", 4, 4)
    started = true
    s
  }

  /** Stop leaked streams, cancel stray jobs, wait (bounded) for the
    * scheduler to go idle. No-op when the suite never touched Spark. */
  def quiesce(): Unit = if (started) {
    val s = session
    s.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    val sc = s.sparkContext
    if (!sc.isStopped) {
      sc.cancelAllJobs()
      val tracker = sc.statusTracker
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (tracker.getActiveJobIds().nonEmpty &&
          System.nanoTime() < deadline)
        Thread.sleep(25)
    }
  }
}
