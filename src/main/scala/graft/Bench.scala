package graft

import org.apache.spark.sql.SparkSession

/** Benchmark entry: runs every registered query (or the subset
  * SPARK_GRAFT_ONLY names, [[SparkEntry.selected]]) on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line
  * {"metric":…,"value":total,"unit":"sec","queries":{…},"sf":…}.
  *
  * A warmup pass (flagship query) is executed first so JIT/codegen/
  * parquet-footer caching isn't billed to the first measured query.
  *
  * Stall-immune protocol: the host shows intermittent multi-MINUTE
  * CPU stalls (zero GC, zero steal; identical binaries measured
  * 52s/160s/402s totals) that would otherwise be billed to whichever
  * query they landed on. Every query is therefore measured in N ≥ 3
  * full interleaved passes (consecutive measurements of a query are
  * separated by an entire pass, i.e. minutes — far wider than an
  * immediate retry), and the per-query MIN is reported. A
  * query whose min is still an outlier vs the pass median gets a
  * final end-of-run rerun, covering stalls that spanned one whole
  * pass boundary.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = SparkEntry.selected(SparkEntry.queries)
    val spark = LocalSpark.session("graft-bench", LocalSpark.cpus, 32)

    // warmup: touch codegen + file listing once, unbilled
    try SparkEntry.queries.get("q1_pricing_summary")
      .foreach(_(spark, sfDir).count())
    catch { case _: Throwable => () }

    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    val names = queries.keys.toSeq.sorted
    // one full pass over every query; None = failed (reported
    // separately, never masquerades as a fast success)
    def fullPass(): Map[String, Option[Double]] = names.map { name =>
      name -> (try Some(once(queries(name)))
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          None
      })
    }.toMap
    // min over N ≥ 3 full interleaved passes (round-14 verdict item
    // 7): two passes left close-tree totals ranging 91.5–118.8 s on
    // identical code — a third widely-separated sample pins the
    // per-query floor so cross-round regression triage starts from a
    // stable number. Pass A additionally absorbs the one-off StoreOnce
    // builds (attributed separately below), so passes B/C are the
    // build-free steady-state measurements.
    val nPasses = math.max(3,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt)
    val passes = Seq.fill(nPasses)(fullPass())
    val mins: Map[String, Option[Double]] = names.map { n =>
      val ts = passes.flatMap(_(n))
      n -> (if (ts.isEmpty) None else Some(ts.min))
    }.toMap
    // final guard: a min still >3× the pass median (floored at 2s)
    // means a stall spanned a whole pass — rerun it now, minutes
    // later again, and keep the best of three
    val okTimes = names.flatMap(mins(_)).sorted
    val median = if (okTimes.isEmpty) 0.0 else okTimes(okTimes.length / 2)
    val threshold = math.max(2.0, 3.0 * median)
    val results: Seq[(String, Option[Double])] = names.map { n =>
      n -> (mins(n) match {
        case Some(s) if s > threshold =>
          Some(math.min(s, try once(queries(n))
          catch { case _: Throwable => s }))
        case other => other
      })
    }
    // millisecond precision: full double precision tripled the line
    // length and contributed to the driver's stdout-tail truncation
    // (BENCH_r07/r10 lost timings); 1 ms resolution is below host
    // noise anyway
    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map {
      case (k, Some(v)) => "\"" + k + "\":" + ms(v)
      case (k, None)    => "\"" + k + "\":-1.0"
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, None) => "\"" + k + "\"" }
    val total = results.flatMap(_._2).sum
    val failedJson =
      if (failed.isEmpty) "" else s""","failed":${failed.mkString("[", ",", "]")}"""
    // store-build attribution: the one-off StoreOnce builds (IVF/PQ/
    // band-index/media-fixture writes) land inside whichever query
    // runs first in pass A — record them separately so store-family
    // per-query drift is attributable from this artifact alone
    // (pass B probes the committed stores, so per-query MINs are
    // build-free; this section explains pass-A outliers)
    val storeBuilds = graft.queries.StoreOnce.buildMillis.toSeq.sorted
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","passes":$nPasses,"queries":$qs$failedJson,"store_builds":$storeBuilds,"sf":"$sfDir"}"""
    // Also persist the record to disk: the driver captures a stdout
    // TAIL, and at 87+ queries the single JSON line can exceed it
    // (BENCH_r07 lost 29 timings to truncation). A file never does.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // stop Spark BEFORE the record lines so no shutdown logging can
    // land after them
    spark.stop()
    // Full record first (may be cut by the driver's stdout tail at
    // 120+ queries — bench.json on disk always carries it), then a
    // COMPACT record as the true last line. The compact form is
    // truncation-proof at any query count: per-query values are
    // integer milliseconds in sorted-query-name order (~6 bytes each;
    // names are recoverable from SparkEntry.queries.keys.sorted, or
    // the SPARK_GRAFT_ONLY list, and n guards against a name-set
    // drift). Failed queries encode -1.
    println(json)
    val msInts = results.map {
      case (_, Some(v)) => math.round(v * 1000).toString
      case (_, None)    => "-1"
    }.mkString("[", ",", "]")
    val compact =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","sf":"$sfDir","n":${results.size},"ms_sorted_by_name":$msInts}"""
    println(compact)
  }
}
