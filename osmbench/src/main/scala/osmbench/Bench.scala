package osmbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.cli.{Main, Options}

/** `osmbench.Bench --workload W --seed N --seconds S --trace 0|1 --work DIR
  * --lua FILE` — drives `graft.cli.Main.run` from outside on a
  * generated world and prints one JSON result as its last line.
  *
  * Untraced (`--trace 0`): set up once, then repeat the workload's
  * operation until `--seconds` of operation time are measured, checking
  * every output outside the timed calls.
  * Traced (`--trace 1`): set up once, run one operation under a Spark
  * listener, then call each module's public functions in turn with a
  * span around each call. */
object Bench {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, lua: Path) {
    val cores: Int = Runtime.getRuntime.availableProcessors
  }

  val Workloads = Seq("import-pg", "import-flex-lua", "append-classic")
  // grid side of the world (16,384 nodes) and diffs per append chain
  // (one warm-up, one timed): sized so that 48 runs of the two workloads
  // in BENCHMARK.json fit in under an hour
  val Side = 128
  val Diffs = 2
  // two imports per run halve the weight of one slow call; an append
  // run times one diff
  val ImportSamples = 2

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    val a = Args(arg("--workload"), arg("--seed").toLong,
      arg("--seconds").toInt, arg("--trace") == "1",
      Paths.get(arg("--work")).toAbsolutePath,
      Paths.get(arg("--lua")).toAbsolutePath)
    require(Workloads.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    val r = new Runner(a)
    val line = try r.run() finally r.close()
    println(line)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def delete(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  final class CheckFailed(msg: String) extends Exception(msg)
}

final class Runner(a: Bench.Args) {
  import Bench._

  private val work = a.work
  private val inputs = work.resolve("input")
  private val out = work.resolve("out")
  private val template = work.resolve("template")
  private val fresh = work.resolve("fresh")
  private val classic = a.workload != "import-flex-lua"
  private val prefix = "planet_osm"
  private val classicTables = Seq("point", "line", "polygon", "roads")

  private var spark: SparkSession = _
  private var files: WorldFiles = _
  private var pg: Option[PgCluster] = None
  private var pgError = ""

  private var attempted, failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private var ulpRows = 0L
  private var emptyTileLists = 0L
  private val heapPeaks = mutable.ArrayBuffer.empty[Double]

  private val born = System.nanoTime()
  private def log(msg: String): Unit = println(s"[osmbench] $msg")
  /** A progress line with the seconds since the runner started. */
  private def mark(what: String): Unit =
    log(f"at ${(System.nanoTime() - born) / 1e9}%.1f s: $what")

  // ---------- sessions, operations, checks ----------

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]").appName("osmbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stopSession(): Unit = if (spark != null) {
    spark.stop(); spark = null
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  /** Drop every cache an operation left behind, so operations do not
    * accumulate memory. */
  private def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** One `Main.run`, its wall time in seconds. A timed call starts on a
    * collected heap, so its heap peak does not carry earlier garbage. */
  private def mainRun(args: Seq[String], timed: Boolean): Double = {
    val o = Options.parse(args)
    if (timed) System.gc()
    val t0 = System.nanoTime()
    val gcs =
      if (timed) {
        val (_, mb, n) = HeapPeak.during(Main.run(spark, o))
        heapPeaks += mb
        n
      } else { Main.run(spark, o); 0 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (timed) log(f"timed call: $dt%.3f s, heap peak ${heapPeaks.last}%.1f MB " +
      s"over $gcs collections")
    release()
    dt
  }

  private def recordFailure(what: String, e: Exception): Unit = {
    failed += 1
    failures += s"$what: ${e.getClass.getSimpleName}: ${
      String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ")}"
  }

  /** Count an operation; a throw or a failed check marks it failed. */
  private def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception => recordFailure(what, e); None }
  }

  /** Check an operation that is already counted; a failure marks it
    * failed. */
  private def verify(what: String)(check: => Unit): Unit =
    try check
    catch { case e: Exception => recordFailure(what, e) }

  private def expect(what: String, got: Long, want: Long): Unit =
    if (got != want) throw new CheckFailed(s"$what: $got rows, expected $want")

  private def parquetCount(dir: Path): Long =
    spark.read.parquet(dir.toString).count()

  private def checkImport(dir: Path): Unit = {
    val e = files.expected
    if (classic) classicTables.foreach { t =>
      expect(s"$t table", parquetCount(dir.resolve(s"${prefix}_$t")), e.classic(t))
    } else e.flex.foreach { case (t, n) =>
      expect(s"flex $t", parquetCount(dir.resolve(t)), n)
    }
    if (a.workload == "import-pg") {
      val c = pg.getOrElse(throw new CheckFailed(s"no server: $pgError"))
      classicTables.foreach(t =>
        expect(s"postgres $t", c.count(s"${prefix}_$t"), e.classic(t)))
    }
  }

  private def importArgs(dir: Path, input: Path): Seq[String] = a.workload match {
    case "import-pg" =>
      // an unreachable server makes the CLI write COPY files instead;
      // the check then finds no table and fails the operation
      Seq("--slim", "-d", pg.map(_.dsn).getOrElse("host=/nonexistent"),
        "--output-dir", dir.toString, input.toString)
    case "import-flex-lua" =>
      Seq("-O", "flex", "-S", a.lua.toString, "--output-dir", dir.toString,
        input.toString)
    case _ => Seq("--slim", "--output-dir", dir.toString, input.toString)
  }

  private def importOnce(timed: Boolean): Double = {
    delete(out)
    mainRun(importArgs(out, files.pbf), timed)
  }

  private def appendArgs(diff: Path): Seq[String] =
    Seq("-a", "--slim", "-e", "16", "--output-dir", out.toString, diff.toString)

  private def copyTemplate(): Unit = {
    delete(out)
    org.apache.commons.io.FileUtils.copyDirectory(template.toFile, out.toFile)
  }

  /** The CLI writes the dirty-tile list on every `-e` run. It covers
    * only tagged entities in the change file, so a diff that moves
    * nothing but untagged nodes leaves it empty; those are counted. */
  private def checkTiles(): Unit = {
    val f = out.resolve("dirty_tiles.txt")
    if (!Files.exists(f)) throw new CheckFailed("no dirty-tile list")
    if (Files.size(f) == 0) emptyTileLists += 1
  }

  /** The IVM invariant: the tables after every diff equal a fresh
    * import of the post-diff world. */
  private def checkAppended(): Unit = {
    if (!Files.exists(fresh.resolve(s"${prefix}_point"))) {
      mainRun(Seq("--slim", "--output-dir", fresh.toString,
        files.after.toString), timed = false)
      mark("fresh import of the post-diff world done")
    }
    val r = classicTables.map { t =>
      val n = s"${prefix}_$t"
      Compare.tables(t, spark.read.parquet(out.resolve(n).toString),
        spark.read.parquet(fresh.resolve(n).toString))
    }.reduce(_ + _)
    ulpRows = r.ulp
    if (r.mismatched > 0) throw new CheckFailed(
      s"${r.mismatched} rows differ from a fresh import: " +
        r.examples.mkString("; "))
  }

  /** Append `diffs` in order to the current output; the wall time of
    * each, with the IVM check after the last diff of the chain. */
  private def appendChain(diffs: Seq[Path], timed: Boolean): Seq[Double] =
    diffs.flatMap { d =>
      op(s"append ${d.getFileName}") {
        val t = mainRun(appendArgs(d), timed)
        checkTiles()
        if (d == files.diffs.last) checkAppended()
        t
      }
    }

  // ---------- set-up ----------

  /** World and diff generation, Spark session, PostgreSQL start, the
    * append template import and one untimed warm-up operation: an
    * import, or the chain's first diff. Returns its wall time; the
    * outputs are checked after the clock stops. */
  private def setup(): Double = {
    val t0 = System.nanoTime()
    delete(inputs)
    files = World.generate(a.seed, Side, Diffs, inputs)
    mark("world generated")
    spark = session(a.cores)
    mark("session started")
    if (a.workload == "import-pg") {
      val c = new PgCluster(work.resolve("pg"))
      try { c.start(); pg = Some(c) }
      catch {
        case e: Exception => pgError = e.getMessage; scala.util.Try(c.stop())
      }
    }
    val checks: Seq[(String, () => Unit)] =
      if (a.workload == "append-classic") {
        delete(template)
        val imported = op("template import")(
          mainRun(importArgs(template, files.pbf), timed = false)).isDefined
        mark("template imported")
        copyTemplate()
        val appended = op("warm-up append")(
          mainRun(appendArgs(files.diffs.head), timed = false)).isDefined
        mark("warm-up append done")
        (if (imported) Seq("template import" -> (() => checkImport(template)))
        else Nil) ++ (if (appended) Seq("warm-up append" -> (() => checkTiles()))
        else Nil)
      } else if (op("warm-up import")(importOnce(timed = false)).isDefined)
        Seq("warm-up import" -> (() => checkImport(out)))
      else Nil
    val dt = (System.nanoTime() - t0) / 1e9
    checks.foreach { case (what, c) => verify(what)(c()) }
    mark("set-up checked")
    dt
  }

  private def teardown(): Unit = {
    pg.foreach(c => scala.util.Try(c.stop())); pg = None
    stopSession()
  }

  def close(): Unit = teardown()

  // ---------- the two modes ----------

  def run(): String = {
    Files.createDirectories(work)
    val metrics =
      if (a.trace) traced()
      else {
        val setupS = setup()
        val samples = measure()
        mark("measured and checked")
        val inputBytes =
          if (a.workload == "append-classic")
            (files.pbf +: files.diffs).map(Files.size).sum
          else Files.size(files.pbf)
        val runS = if (samples.isEmpty) Double.NaN else median(samples)
        val opName = if (a.workload == "append-classic") "append_s" else "import_s"
        log(f"setup_s $setupS%.4f s (n=1)")
        log(f"$opName (run_s) median $runS%.4f s (n=${samples.size}: " +
          samples.map(s => f"$s%.3f").mkString(" ") + ")")
        // reported, not a metric here: promotion timing moves it by up
        // to a third between runs; the traced run reports it per layer
        if (heapPeaks.nonEmpty) log(f"post_gc_heap_peak_mb median " +
          f"${median(heapPeaks.toSeq)}%.1f MB (n=${heapPeaks.size})")
        Seq(
          ("setup_s", setupS, "s"),
          ("run_s", runS, "s"),
          ("stored_bytes_per_input_byte",
            bytesUnder(out).toDouble / inputBytes, "ratio"))
      }
    report(metrics)
  }

  /** Repeat the operation until `seconds` of operation time are
    * measured, imports at least [[ImportSamples]] times. The append chain
    * continues after the warm-up's first diff; further chains start
    * from a fresh copy of the template. */
  private def measure(): Seq[Double] = {
    val samples = mutable.ArrayBuffer.empty[Double]
    val wallLimit = System.nanoTime() + (3L * a.seconds + 60) * 1000000000L
    var first = true
    val minSamples = if (a.workload == "append-classic") 1 else ImportSamples
    while ((samples.sum < a.seconds || samples.size < minSamples) &&
        System.nanoTime() < wallLimit && failed < 3) {
      samples ++= (
        if (a.workload == "append-classic") {
          if (!first) copyTemplate()
          appendChain(if (first) files.diffs.tail else files.diffs, timed = true)
        } else op("import") {
          val t = importOnce(timed = true)
          checkImport(out)
          t
        }.toSeq)
      first = false
    }
    samples.toSeq
  }

  private def report(metrics: Seq[(String, Double, String)]): String = {
    log(s"workload ${a.workload} seed ${a.seed}: ${files.nodes} nodes, " +
      s"${files.ways} ways, ${files.relations} relations, " +
      s"${Files.size(files.pbf)} PBF bytes; ${files.diffs.size} diffs of " +
      s"${files.changesPerDiff.headOption.getOrElse(0)} changes " +
      s"(${files.diffs.map(Files.size).sum} bytes)")
    log(s"expected rows ${files.expected}")
    pg.foreach(c => log(s"postgres ${c.transport}: ${
      scala.util.Try(c.flushSettings).getOrElse("settings unreadable")}"))
    metrics.foreach { case (n, v, u) => log(s"$n = $v $u") }
    log(s"failed_ops_ratio = $failed/$attempted")
    log(s"check.ulp_mismatch_rows = $ulpRows")
    log(s"check.empty_tile_lists = $emptyTileLists")
    failures.take(10).foreach(f => log(s"FAILED $f"))
    val ok = failed == 0
    val ms = metrics.map { case (n, v, u) =>
      val value = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n": {"value": $value, "unit": "$u"}"""
    }
    s"""{"correct": $ok, "attempted": ${math.max(1, attempted)}, """ +
      s""""failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  // ---------- traced run ----------

  private def traced(): Seq[(String, Double, String)] = {
    setup()
    val sc = spark.sparkContext
    val listener = new EngineListener
    sc.addSparkListener(listener)
    def snap(): EngineListener.Snapshot = {
      org.apache.spark.BenchAccess.drainListeners(sc); listener.snapshot
    }
    val m = mutable.LinkedHashMap(Layers.PerLayer.map(p => p._1 -> 0.0): _*)
    def set(k: String, v: Double): Unit = {
      require(m.contains(k), s"unknown metric $k"); m(k) = v
    }

    // one untraced operation, watched by the listener and the heap
    // probe: an import, or the chain's last diff. The window holds the
    // call and the full collection before it; its checks come after.
    if (a.workload == "append-classic")
      appendChain(files.diffs.tail.init, timed = false)
    val s0 = snap()
    val w0 = System.currentTimeMillis()
    val (untraced, check) =
      if (a.workload == "append-classic") {
        val d = files.diffs.last
        (op(s"append ${d.getFileName}")(mainRun(appendArgs(d), timed = true)),
          () => { checkTiles(); checkAppended() })
      } else (op("import")(importOnce(timed = true)), () => checkImport(out))
    val w1 = System.currentTimeMillis()
    val e = snap().minus(s0)
    if (untraced.isDefined) verify("traced-run operation")(check())
    set("post_gc_heap_peak_mb", heapPeaks.lastOption.getOrElse(0.0))
    set("spark.jobs", e.jobs); set("spark.stages", e.stages)
    set("spark.tasks", e.tasks)
    set("spark.shuffle_read_bytes", e.shuffleRead)
    set("spark.shuffle_write_bytes", e.shuffleWrite)
    set("spark.spill_bytes", e.spill)
    set("spark.gc_s", e.gcMs / 1000.0)
    set("spark.busy_share", e.taskMs.toDouble / ((w1 - w0) * a.cores))
    set("driver.no_task_s", ((w1 - w0) - e.busyMs(w0, w1)) / 1000.0)

    if (a.workload == "append-classic") {
      set("check.ulp_mismatch_rows", ulpRows)
      set("check.empty_tile_lists", emptyTileLists)
    }

    val spans = new Spans
    val layers = new Layers(spark, spans, snap, set, work.resolve("trace"), a)
    op("traced layers") {
      if (a.workload == "append-classic") layers.append(files, template)
      else layers.imports(files, pg)
    }
    release()
    // the import-pg trace also measures flex/Lua, which its
    // operation does not run
    val foreign = if (a.workload == "import-pg")
      spans.seconds("flex.enrich_s") + spans.seconds("lua.run_s") else 0.0
    set("trace.overhead_s",
      spans.total - foreign - untraced.getOrElse(Double.NaN))
    spans.all.foreach(s => log(f"span ${s.name}%-24s ${s.seconds}%.4f s" +
      s.parent.map(p => s" (in $p)").getOrElse("")))

    if (a.workload == "import-pg") {
      // the same import on one core
      stopSession()
      spark = session(1)
      op("single-core import") {
        val t = importOnce(timed = false)
        checkImport(out)
        set("scaling.single_core_import_s", t)
      }
    }
    m.toSeq.map { case (k, v) => (k, v, Layers.unit(k)) }
  }
}
