package graft.operators

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, CoGroup,
  FlatMapGroupsWithState, GlobalLimit, Join, MapGroups,
  RepartitionOperation, Sort, Window => LWindow}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Scale-adaptive fan-out for CPU-bound per-row stages — the guide's
  * §2.5 "input skew: one huge unsplittable file → repartition
  * immediately after the read" fix, made conditional so it can never
  * hurt at scale.
  *
  * A small table is one parquet file, one row group, hence ONE scan
  * partition: every tokenize/md5/decode-heavy projection above it
  * runs on a single core while the rest of the machine idles (the
  * measured shape of the sub-second text operators at sf0.1 —
  * 0.3–0.6 s single-task stages). `fanOut` round-robin-repartitions
  * to the session's default parallelism ONLY when the input yields
  * fewer partitions than that; at any real scale, where the scan
  * already produces splits ≫ cores, the probe sees enough partitions
  * and the call is the IDENTITY — no shuffle is ever added where the
  * scan parallelizes by itself. The partition target derives from the
  * session (`sparkContext.defaultParallelism`), so the driver's
  * lower-core bench runs adapt automatically instead of inheriting a
  * constant tuned to one machine.
  *
  * Safety: frames whose OPTIMIZED LOGICAL plan contains any
  * exchange-inducing operator (join, aggregate, window, sort, global
  * limit, explicit repartition) are returned untouched WITHOUT
  * probing partition counts — they are at least
  * `spark.sql.shuffle.partitions` wide downstream of the shuffle,
  * and probing them via `df.rdd` would let AQE materialize query
  * stages eagerly (running real jobs at query-construction time).
  * The logical plan is inspected rather than the physical one
  * because under AQE `queryExecution.sparkPlan` is an
  * AdaptiveSparkPlanExec wrapper whose child tree is not exposed to
  * `exists` — a physical Exchange check silently never fires (caught
  * by ParSpec). For the remaining scan-shaped frames (file scans,
  * cached relations, unions, projections, filters) the
  * `rdd.getNumPartitions` probe is plan-only and job-less.
  *
  * Call sites should project the frame down to the columns the heavy
  * stage needs first, so the added exchange (when it fires at all)
  * carries the minimal bytes (guide §2.3 "project before the
  * exchange"). Determinism under retry is Spark's own
  * sort-before-repartition contract (on by default) over a
  * deterministic scan.
  */
object Par {
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.isStreaming) df // micro-batch sizing is the stream's own knob
    else if (df.queryExecution.optimizedPlan.exists {
      // every logical node the optimizer leaves in place that plans
      // to an exchange-requiring (or already-wide) physical operator;
      // MapGroups/CoGroup/FlatMapGroupsWithState are the Dataset-API
      // shapes the optimizer does NOT rewrite to Aggregate/Join —
      // without them a caller passing such a frame would hit the
      // df.rdd probe, which under AQE materializes query stages
      // (real jobs) at query-construction time
      case _: Join | _: Aggregate | _: LWindow | _: Sort |
           _: GlobalLimit | _: RepartitionOperation |
           _: MapGroups | _: CoGroup | _: FlatMapGroupsWithState => true
      // a cached frame is already as wide as its cached plan, and the
      // exchange-inducing operators live INSIDE the InMemoryRelation
      // where the match above cannot see them — probing such a frame
      // with df.rdd materializes the whole (possibly unfilled) cache
      // at query-construction time (measured: two real jobs, 0.6 s,
      // inside q76's fanOut call before this case)
      case _: InMemoryRelation => true
      case _ => false
    }) df
    else if (df.rdd.getNumPartitions < target) df.repartition(target)
    else df
  }

  /** Runs `body` with `what` appended to the thread's Spark job
    * description (`outer: what`, or `what` alone), so every job it
    * starts, AQE's stage jobs included, carries a name; the previous
    * description is restored after. */
  def describe[A](spark: SparkSession, what: String)(body: => A): A = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(Option(outer).fold(what)(d => s"$d: $what"))
    try body
    finally sc.setJobDescription(outer)
  }

  private val JobDescription = "spark.job.description"

  /** Runs independent driver-side branches side by side and returns
    * their results in branch order — the reference's thread pool for
    * per-table post-processing (src/output-pgsql.cpp:168-182).
    *
    * The pool is made per call: `min(width, branches,
    * defaultParallelism)` threads, so `width = 1` runs the branches
    * one at a time, in order, on one thread. Pool threads inherit the
    * caller's Spark local properties (job group, tags, scheduler
    * pool), and each branch adds its own job tag on top, so the
    * caller's own group and tags are left as they were.
    *
    * On the first failure no further branch starts, the branches' tags
    * are cancelled (again every 50 ms until the branches end, so a job
    * a branch submits after the first cancel is cancelled too), every
    * thread is joined, and that failure is rethrown with the other
    * branches' failures added as suppressed. */
  def overlap[A](spark: SparkSession, width: Int = Int.MaxValue)(
      branches: (() => A)*): Seq[A] = {
    require(width >= 1, s"overlap width must be >= 1, got $width")
    val sc = spark.sparkContext
    val n = branches.size
    val call = java.util.UUID.randomUUID.toString.take(8)
    val tags = (0 until n).map(i => s"graft-overlap-$call-$i")
    val results = new Array[Any](n)
    val errors = new Array[Throwable](n)
    val first = new AtomicReference[Throwable]()
    val next = new AtomicInteger(0)
    def work(): Unit = {
      var i = next.getAndIncrement()
      while (i < n && first.get == null) {
        sc.addJobTag(tags(i))
        try results(i) = branches(i)()
        catch {
          case t: Throwable =>
            errors(i) = t
            first.compareAndSet(null, t)
        } finally sc.removeJobTag(tags(i))
        i = next.getAndIncrement()
      }
    }
    val threads = Seq(width, n, sc.defaultParallelism).min
    val pool = (0 until threads).map { k =>
      val t = new Thread(() => work(), s"graft-overlap-$call-t$k")
      t.setDaemon(true)
      t.start()
      t
    }
    // an interrupted caller fails the call like a branch would, but
    // still waits for the threads it started
    var interrupted = false
    pool.foreach { t =>
      while (t.isAlive) {
        try t.join(50)
        catch {
          case e: InterruptedException =>
            first.compareAndSet(null, e)
            interrupted = true
        }
        if (first.get != null) tags.foreach(sc.cancelJobsWithTag)
      }
    }
    if (interrupted) Thread.currentThread.interrupt()
    Option(first.get) match {
      case Some(e) =>
        errors.filter(x => x != null && (x ne e)).foreach(e.addSuppressed)
        throw e
      case None => results.toSeq.asInstanceOf[Seq[A]]
    }
  }
}
