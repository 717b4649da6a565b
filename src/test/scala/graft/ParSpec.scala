package graft

import org.apache.spark.sql.functions._

import graft.operators.Par

/** The scale-adaptive fan-out's contract (round-15 optimization):
  * it widens ONLY an under-partitioned shuffle-free frame, and is the
  * identity everywhere else — the property that makes it free at real
  * scale and safe to compose (no AQE stage materialization at
  * query-construction time, no effect on streaming plans).
  *
  * And `overlap`'s: results in branch order, width 1 is sequential,
  * a failure cancels the siblings' jobs and is rethrown promptly, no
  * pool thread outlives the call, and the caller's job group and tags
  * are left as they were. */
class ParSpec extends SparkSpecBase {

  private val target = spark.sparkContext.defaultParallelism

  test("one-split scan-shaped frame fans out to default parallelism") {
    val tiny = spark.range(0, 100, 1, numPartitions = 1).toDF("id")
      .select(col("id"), (col("id") * 2).as("v"))
    val fanned = Par.fanOut(tiny)
    assert(fanned.rdd.getNumPartitions == target,
      s"expected $target partitions after fan-out")
    // same rows, only the placement changed
    assert(fanned.select(sum(col("v"))).head().getLong(0) ==
      tiny.select(sum(col("v"))).head().getLong(0))
  }

  test("a frame already at or above the target is returned untouched") {
    val wide = spark.range(0, 100, 1, numPartitions = target + 3).toDF("id")
    val out = Par.fanOut(wide)
    assert(out eq wide, "must be the identity, not a re-plan")
  }

  test("a post-shuffle frame is returned untouched without probing") {
    // groupBy puts an Exchange in the plan; fanOut must not add a
    // repartition above it (downstream is already shuffle-partitioned)
    val agg = spark.range(0, 100, 1, numPartitions = 1).toDF("id")
      .groupBy(col("id") % 7).count()
    assert(Par.fanOut(agg) eq agg)
  }

  test("a broadcast-join frame is returned untouched without probing") {
    val big = spark.range(0, 100, 1, numPartitions = 1).toDF("id")
    val dim = spark.range(0, 10, 1, numPartitions = 1).toDF("id")
    val joined = big.join(broadcast(dim), "id")
    assert(Par.fanOut(joined) eq joined)
  }

  test("a cached frame is returned untouched without probing") {
    // the exchange-inducing operators live INSIDE the InMemoryRelation
    // where the logical-plan match cannot see them; probing with
    // df.rdd would materialize the (possibly unfilled) cache at
    // query-construction time (the q76 shape — round-16)
    val cached = spark.range(0, 100, 1, numPartitions = 1).toDF("id")
      .withColumn("k", col("id") % 7)
      .groupBy("k").count()
      .persist()
    try {
      val projected = cached.select(col("k"))
      assert(Par.fanOut(projected) eq projected)
    } finally { cached.unpersist(); () }
  }

  test("a streaming frame is returned untouched") {
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
    assert(Par.fanOut(stream) eq stream)
  }

  test("pushed filters survive below the fan-out exchange") {
    // the q13-shaped check: a scan filter written before the fan must
    // still reach the parquet scan (pushdown traverses Repartition)
    val dir = graft.tools.Scratch.dir("parspec") // removed at JVM exit
    spark.range(0, 1000, 1, numPartitions = 1).toDF("id")
      .write.mode("overwrite").parquet(dir)
    val fanned = Par.fanOut(
      spark.read.parquet(dir).where(col("id") > 500))
    val plan = fanned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("PushedFilters: \\[[^\\]]*GreaterThan".r.findFirstIn(plan)
      .isDefined, s"filter must push to the scan:\n$plan")
    assert(fanned.count() == 499)
  }

  private def overlapThreads: Seq[Thread] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith("graft-overlap-"))
  }

  test("overlap returns results in branch order") {
    // later branches finish first
    val got = Par.overlap(spark)((0 until 6).map { i => () =>
      Thread.sleep(20L * (6 - i)); i * 10
    }: _*)
    assert(got == (0 until 6).map(_ * 10))
    assert(overlapThreads.isEmpty, "a pool thread outlived the call")
  }

  test("overlap at width 1 runs the branches one at a time, in order") {
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Par.overlap(spark, width = 1)((0 until 5).map { i => () =>
      val now = active.incrementAndGet()
      peak.accumulateAndGet(now, math.max)
      order.add(i)
      threads.add(Thread.currentThread.getName)
      Thread.sleep(20)
      active.decrementAndGet()
    }: _*)
    import scala.jdk.CollectionConverters._
    assert(peak.get == 1)
    assert(order.asScala.toSeq == (0 until 5))
    assert(threads.asScala.toSet.size == 1)
    assert(overlapThreads.isEmpty, "a pool thread outlived the call")
  }

  test("a failing branch cancels a sibling's long Spark job, and the " +
      "first failure is rethrown within seconds") {
    val sc = spark.sparkContext
    sc.setJobGroup("parspec-caller", "caller's group")
    sc.addJobTag("parspec-caller-tag")
    try {
      val groupBefore = sc.getLocalProperty("spark.jobGroup.id")
      val tagsBefore = sc.getJobTags()
      val boom = new IllegalStateException("boom")
      val t0 = System.nanoTime()
      // the sibling's own branch tag, so the failing branch waits for
      // that job, not for one the status store still lists as active
      val siblingTag = new java.util.concurrent.atomic.AtomicReference[String]()
      val e = intercept[IllegalStateException](Par.overlap(spark)(
        // ~10 minutes of tasks unless cancelled; each element passes
        // the task's kill check, and the filter hides the iterator's
        // known size from count()
        () => {
          siblingTag.set((sc.getJobTags() - "parspec-caller-tag").head)
          sc.parallelize(0 until 240000, 4)
            .map { i => Thread.sleep(10); i }.filter(_ >= 0).count()
        },
        () => {
          val deadline = System.nanoTime() + 30L * 1000000000L
          while (Option(siblingTag.get).forall(t =>
              sc.statusTracker.getJobIdsForTag(t).isEmpty) &&
              System.nanoTime() < deadline) Thread.sleep(10)
          throw boom
        }))
      val seconds = (System.nanoTime() - t0) / 1e9
      assert(e eq boom, "the first failure must be rethrown as it is")
      assert(seconds < 10, s"overlap took $seconds s to give up")
      assert(e.getSuppressed.exists(s =>
        String.valueOf(s.getMessage).contains("cancelled")),
        s"the sibling's job should end as cancelled: " +
          e.getSuppressed.map(x => s"${x.getClass.getName}: ${x.getMessage}")
            .mkString("; ") + s" (${e.getSuppressed.length} suppressed)")
      assert(overlapThreads.isEmpty, "a pool thread outlived the call")
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (sc.statusTracker.getActiveJobIds().nonEmpty &&
          System.nanoTime() < deadline) Thread.sleep(25)
      assert(sc.statusTracker.getActiveJobIds().isEmpty,
        "a cancelled job is still running")
      assert(sc.getLocalProperty("spark.jobGroup.id") == groupBefore)
      assert(sc.getJobTags() == tagsBefore)
    } finally {
      sc.clearJobGroup()
      sc.removeJobTag("parspec-caller-tag")
    }
  }

  test("overlap leaves the caller's job group and tags as they were") {
    val sc = spark.sparkContext
    sc.setJobGroup("parspec-group", "caller's group")
    sc.addJobTag("parspec-tag")
    try {
      val seen = Par.overlap(spark)((0 until 3).map { _ => () =>
        val tags = sc.getJobTags()
        spark.range(10).count()
        (sc.getLocalProperty("spark.jobGroup.id"), tags)
      }: _*)
      // branches run in the caller's group, under its tag plus their own
      seen.foreach { case (group, tags) =>
        assert(group == "parspec-group")
        assert(tags.contains("parspec-tag") && tags.size == 2, tags)
      }
      assert(seen.map(_._2).distinct.size == 3, "one tag per branch")
      assert(sc.getLocalProperty("spark.jobGroup.id") == "parspec-group")
      assert(sc.getJobTags() == Set("parspec-tag"))
    } finally {
      sc.clearJobGroup()
      sc.removeJobTag("parspec-tag")
    }
  }
}
