package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan hygiene as CI: the properties that make these plans
  * scale — scan-level pushdown, broadcast choices, no accidental
  * cartesian products — asserted on the real query registry, so a
  * refactor that silently turns a pruned scan into a full scan or a
  * broadcast join into a cross product fails here, not on a cluster.
  * (Assertions are deliberately coarse: operator presence, not exact
  * plan text, so AQE/codegen changes don't break them.) */
class PlanSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filters are pushed to the parquet scan") {
    // q20's query-side predicate (vec_id < 8) must reach the scan
    val p = plan("q20_ann_cosine_topk")
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(p).isDefined,
      "q20 should push vec_id < 8 into the parquet scan")
  }

  test("column pruning: narrow query reads a narrow schema") {
    // q40 way bbox touches 3 lineitem columns; the scan must not read
    // l_comment (the wide string column)
    val p = plan("q40_osm_way_bbox")
    assert(!p.contains("l_comment"), "bbox scan must prune l_comment")
  }

  test("small-dimension joins broadcast; no accidental cross joins") {
    // q2 joins region (5 rows) and nation (25): broadcast expected
    val p = plan("q2_region_revenue")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "q2 should broadcast its small dimensions")
    // semi-join form for EXISTS
    val p4 = plan("q4_semi_join")
    assert(p4.contains("LeftSemi"), "q4 must stay a semi-join")
    // the ONLY intended cartesian expansion is the broadcast NLJ of the
    // ANN queries; relational queries must have none
    Seq("q1_pricing_summary", "q2_region_revenue", "q31_osm_resolve_way_nodes",
      "q38_osm_dependency_closure").foreach { q =>
      val s = plan(q)
      assert(!s.contains("CartesianProduct"), s"$q grew a CartesianProduct")
    }
  }

  test("q3 fact-fact join keeps its shape: SMJ + partial agg, no BNLJ") {
    // r4's bench recorded q3 at 2.2x its r2 time with unchanged code;
    // a clean rerun measured 0.82s (host-stall noise). Pin the plan so
    // a REAL regression (lost partial agg, join degradation) fails
    // here instead of being argued from noisy wall-clock again.
    val p = plan("q3_priority_revenue")
    // equi-join of any hash flavor (broadcast at tiny sf, SMJ/SHJ once
    // stats outgrow the threshold) — what must never appear is a
    // nested-loop shape
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      "orders-lineitem must stay an equi-join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), "no cartesian expansion in q3")
    assert("HashAggregate.*partial".r.findFirstIn(p.toLowerCase)
      .isDefined || p.contains("partial_"),
      "aggregation must have a map-side partial phase")
  }

  test("native kernels stay inside whole-stage codegen") {
    // formatted explain stars codegen'd nodes ("* Project"): the
    // kernel projections must be starred, not interpreted fallbacks
    // (queries whose plan centers on collect_list run under
    // ObjectHashAggregate, which excludes WSCG by design — only
    // projection-shaped kernels are asserted here)
    val codegen = "\\* (Project|Filter|HashAggregate)".r
    assert(codegen.findFirstIn(plan("q12_minhash_signatures")).isDefined,
      "q12 lost codegen")
    assert(codegen.findFirstIn(plan("q23_winnow_fingerprint")).isDefined,
      "q23 lost codegen")
  }

  test("exchange reuse: LSH band join computes signatures once at scale") {
    // at real scale neither side broadcasts: under the SMJ shape both
    // band-join branches must reuse ONE signature exchange. (At test
    // size AQE broadcast-converts, so pin the no-broadcast path.)
    // AQE performs reuse at runtime (stage-level), invisible in the
    // static explain — pin the static planner to make it assertable
    val bcast = "spark.sql.autoBroadcastJoinThreshold"
    val aqe = "spark.sql.adaptive.enabled"
    val prevB = spark.conf.get(bcast)
    val prevA = spark.conf.get(aqe)
    try {
      spark.conf.set(bcast, "-1")
      spark.conf.set(aqe, "false")
      val p = plan("q13_minhash_lsh_pairs")
      assert(p.contains("ReusedExchange"),
        "q13's band self-join should reuse the signature exchange")
    } finally { spark.conf.set(bcast, prevB); spark.conf.set(aqe, prevA) }
  }

  test("SRP near-dup: reused banded exchange, kernel in codegen, no cartesian") {
    val p = plan("q78_srp_neardup")
    // at tiny sf the planner broadcasts one side of the self-join (no
    // shuffle to reuse); past the broadcast threshold the two banded
    // Exchanges canonicalize equal and reuse — either is the sound plan
    assert(p.contains("ReusedExchange") || p.contains("BroadcastHashJoin"),
      "self-join must broadcast or reuse the banded exchange")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "bucket collisions must stay an equi-join")
    assert(p.contains("srpkeysexpr") || p.contains("SrpKeys") ||
      !p.contains("lambdafunction"),
      "keys must come from the native kernel, not interpreted HOFs")
  }

  test("ngram jaccard: single aggregate builds the inverted index") {
    // the stop-gram filter must ride the bucket aggregate (size(ids)),
    // never a windowed count over exploded gram rows
    val p = plan("q24_ngram_jaccard")
    assert(!p.contains("Window"), "q24 must not use a window for df caps")
  }

  test("missing-node report: broadcast anti-join, filtered store scan") {
    // the restricted node store must broadcast to the exploded refs
    // side with its filter pushed into the scan — never the reverse
    // (refs side is the big one at planet scale)
    val p = plan("q50_osm_missing_nodes")
    assert(p.contains("LeftAnti"), "q50 must stay an anti-join")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "q50 should broadcast the filtered node store")
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(p).isDefined,
      "q50's p_size filter must reach the parquet scan")
  }

  test("decontamination broadcasts the benchmark gram set") {
    // the corpus side must stay a scan + broadcast join: shuffling
    // 100 TB of corpus grams to meet a benchmark of MBs is the
    // failure mode this pins against
    val p = plan("q55_decontaminate")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "benchmark grams should broadcast")
    assert(!p.contains("SortMergeJoin"),
      "no all-to-all join may appear in decontamination")
    assert(!p.contains("CartesianProduct"))
  }

  test("hash sampling shuffles only for the stratum window") {
    val p = plan("q53_hash_sample")
    // the Bernoulli stage adds no exchange of its own: the only
    // shuffle is the stratified window's hash partition on lang
    assert(p.contains("Window"), "stratified draw is a window rank")
    assert(p.contains("Exchange") && p.contains("hashpartitioning(lang"),
      "the window must distribute by the stratum key")
    assert(!p.contains("SinglePartition"),
      "sampling must never serialize onto one partition")
  }

  test("sequence packing windows are shard-partitioned") {
    val p = plan("q54_sequence_pack")
    // a global (unpartitioned) running sum would show a SinglePartition
    // exchange — the shard column must drive the distribution instead
    assert(p.contains("Window"))
    assert(!p.contains("SinglePartition"),
      "packing must never serialize onto one partition")
  }

  test("sessionization shuffles once on the user key") {
    // the window and BOTH downstream aggregates must reuse the single
    // hashpartitioning(user_id) distribution — a second exchange means
    // the (user, session) grouping stopped riding the window shuffle
    val p = plan("q61_sessionize")
    val shuffles = "\\(\\d+\\) Exchange\\b".r.findAllIn(p).length
    assert(shuffles == 1, s"sessionize should shuffle exactly once:\n$p")
    assert(!p.contains("SinglePartition"),
      "sessionization must never serialize onto one partition")
  }

  test("map-only projections stay exchange-free") {
    // int8 quantization is a pure per-row projection: any Exchange is
    // an accident
    val p = plan("q59_vec_quantize")
    assert(!p.contains("Exchange"), "q59 must be map-only")
  }

  test("incremental dedup keeps the anti-join shape") {
    val p = plan("q64_incremental_dedup")
    assert(p.contains("LeftAnti"), "corpus membership must be an anti-join")
    assert(!p.contains("CartesianProduct"))
  }

  test("span coverage and chunk dedup stay equi-join pipelines") {
    Seq("q65_dup_span_coverage", "q60_chunk_dedup").foreach { q =>
      val s = plan(q)
      assert(!s.contains("CartesianProduct"), s"$q grew a CartesianProduct")
      assert(!s.contains("Window"), s"$q must not need a window")
    }
  }

  test("connected components: star rounds stay equi-joins") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val p = planOf(graft.operators.Dedup
      .connectedComponents(edges, "a", "b", smallGraphEdges = 0L))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "CC must be built from equi-joins/aggregates only")
  }

  test("semantic dedup: broadcast centroids, equi-join pair scan") {
    val p = plan("q66_semantic_dedup")
    // the |N|×|C| assignment expansion is the broadcast NLJ; the pair
    // scan must be an equi-join on the cell id, never a cross product
    assert(p.contains("BroadcastExchange"),
      "centroid set must broadcast")
    assert(!p.contains("CartesianProduct"),
      "within-cell pair scan must stay an equi-join on cell")
  }

  test("salted join spreads keys without changing the join class") {
    val p = plan("q67_salted_skew_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"),
      "salted join must remain an equi-join on (key, salt)")
    assert(p.contains("Generate") || p.contains("explode"),
      "dim side must replicate via explode")
  }

  test("term relevance tops out as TakeOrderedAndProject") {
    val p = plan("q70_term_relevance")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-n must not be a full sort")
  }

  test("the composed curation pipeline stays equi-join shaped") {
    val p = plan("q76_curation")
    assert(!p.contains("CartesianProduct"),
      "no stage of the curation chain may cross-product")
    // decontamination's benchmark gram set must broadcast
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "benchmark gram join should broadcast")
  }

  test("per-group selections shuffle once on the group key") {
    Seq("q68_topn_per_group", "q69_source_mix").foreach { q =>
      val s = plan(q)
      assert(s.contains("Window"), s"$q ranks with one window")
      // one Exchange for the window partition; no join-induced extras
      val exchanges = "Exchange".r.findAllIn(s).length
      assert(exchanges <= 2, s"$q shuffles too much: $exchanges exchanges")
    }
  }

  // ---------- registry-wide scale-killer sweep ----------

  /** Queries whose BroadcastNestedLoopJoin is a DELIBERATE bounded
    * broadcast (each with a written justification at the operator):
    * ANN exact scoring against a broadcast probe/codebook set
    * (Similarity.scala:98-111), single-row corpus stats, and the
    * recall harness comparing against the brute-force truth. The
    * small side is bounded by construction (≤ thousands of rows), so
    * the nested loop IS the broadcast-join plan, not an accident. */
  private val bnlJustified: Set[String] = Set(
    // broadcast probe/query set vs full scan — the exact-scoring ANN
    // contract (Similarity.scala:98-111; probe count bounded)
    "q20_ann_cosine_topk", "q75_ann_recall_eval",
    // ≤256-row broadcast centroid/codebook tables (IVF coarse assign,
    // Voronoi blocking; q122 is q25's persisted-index route — same
    // broadcast centroid rank, plus a partition-pruned cells scan)
    // (q124/q126/q129 compose the same ≤256-row broadcast coarse rank
    // with the PQ ADC lookup-table equi-join — the LUT join itself is
    // hash; q126's refine is a semi-join on the shortlist; q129's
    // reconstruction-norm join is hash on (s, code) + semi-join)
    "q25_ivf_ann_topk", "q122_ivf_persisted", "q124_ivfpq_topk",
    "q126_ivfpq_rerank", "q129_ivfpq_recon_rerank", "q66_semantic_dedup",
    // q143 is q124's residual form — identical probe plan (bounded
    // broadcast coarse rank; the ADC LUT join itself is hash)
    "q143_ivfpq_residual",
    // q159 is q122's probe route applied at ingest (dedupProbe): the
    // same ≤256-row broadcast centroid rank + partition-pruned cells
    // scan; the keep/drop join back to the batch is a hash equi-join
    "q159_semantic_incremental",
    // SQ8 flat scan vs the bounded broadcast probe set — the same
    // exact-scoring contract (VectorStore.scanSq8 Scaladoc);
    // q133 is the SQ8 shortlist + semi-join exact refine over it
    "q132_sq8_topk", "q133_sq8_rerank",
    // IVF-SQ8: the same ≤256-row broadcast coarse rank as q25/q122,
    // then a HASH join of probes onto the partition-pruned SQ8 cells
    // (VectorStore.probe Scaladoc); q135 adds the
    // semi-join exact refine over the bounded shortlist
    "q134_ivfsq_topk", "q135_ivfsq_rerank",
    // single-row broadcast corpus stats (N, avgdl / doc count / Σw;
    // q148's is the 1-row train-vocab size V — the count joins are
    // hash equi-joins, TextAnalysis.ngramLmPerplexity Scaladoc)
    "q70_term_relevance", "q90_bm25_retrieval", "q79_temperature_mix",
    "q102_importance_sample", "q148_lm_perplexity",
    // documented exact-verify small path; srpBlockedNearDup (q78,
    // equi-join, no BNLJ) is the scale route (Dedup.scala:393-399)
    "q21_embedding_neardup")
  // q94/q99 left this list in round 9: Lloyd assignment is now the
  // map-only KmeansAssignExpr kernel over collected ≤256-row state —
  // no BroadcastNestedLoopJoin in the plan at all

  test("registry sweep: no CartesianProduct anywhere, no unlisted BNLJ") {
    // every registered query planned at sf0.001; a future query that
    // ships a cartesian product or an unjustified nested-loop join
    // fails HERE, not on a 1000-executor cluster
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val p = plan(name)
      if (p.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (p.contains("BroadcastNestedLoopJoin") && !bnlJustified(name))
        offenders += s"$name: unlisted BroadcastNestedLoopJoin"
    }
    assert(offenders.isEmpty,
      s"scale-killer plans:\n  ${offenders.mkString("\n  ")}")
  }

  test("registry sweep: no unpartitioned Window over an unbounded frame") {
    // an empty partitionSpec funnels the whole input through ONE task
    // (WindowExec warns exactly this) — fine on a bounded frame, fatal
    // on a planet-sized one. Flag every registry query that plans one.
    import org.apache.spark.sql.execution.window.WindowExec
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val sp = SparkEntry.queries(name)(spark, sf)
        .queryExecution.sparkPlan
      val bad = sp.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      if (bad.nonEmpty) offenders += name
    }
    assert(offenders.isEmpty,
      s"unpartitioned Window in:\n  ${offenders.mkString("\n  ")}")
  }

  // the two registry queries whose rows are driver-side work over
  // reference fixtures, each with its fixtures in the order it reads them
  private val fixtureQueries = Seq(
    "q112_source_parity" ->
      Seq("/root/reference/tests/data/test_multipolygon.osm"),
    "q125_flex_lua_e2e" -> Seq(
      "/root/reference/flex-config/simple.lua",
      "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"))

  test("fixture queries: building starts no job; running names a missing fixture") {
    val sc = spark.sparkContext
    // the status tracker learns of jobs asynchronously, but job ids are
    // handed out in submission order: the id of a marker job of our
    // own, once the tracker lists it, bounds every job started before
    var marks = 0
    def markerJobId(): Int = {
      marks += 1
      val group = s"planspec-marker-$marks"
      sc.setJobGroup(group, "marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var ids = sc.statusTracker.getJobIdsForGroup(group)
      while (ids.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(10)
        ids = sc.statusTracker.getJobIdsForGroup(group)
      }
      assert(ids.length == 1, s"marker job $group not reported")
      ids.head
    }
    fixtureQueries.foreach { case (name, fixtures) =>
      val before = markerJobId()
      val df = SparkEntry.queries(name)(spark, sf)
      val after = markerJobId()
      assert(after == before + 1,
        s"building $name started ${after - before - 1} Spark job(s)")
      fixtures.find(f => !java.nio.file.Files.exists(
          java.nio.file.Paths.get(f))) match {
        case Some(missing) =>
          val e = intercept[Exception](df.collect())
          val messages = Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null).map(x => String.valueOf(x.getMessage))
            .toSeq
          assert(messages.exists(_.contains(missing)),
            s"running $name without $missing failed with: " +
              messages.mkString(" / "))
        case None =>
          assert(df.collect().nonEmpty, s"$name returned no rows")
      }
    }
  }

  test("fixture queries keep their output schemas") {
    import org.apache.spark.sql.types._
    def cols(fs: (String, DataType, Boolean)*) =
      StructType(fs.map { case (n, t, nullable) => StructField(n, t, nullable) })
    // the tuple-encoder schemas the rows always had: strings nullable,
    // longs not
    assert(SparkEntry.queries("q112_source_parity")(spark, sf).schema ==
      cols(("format", StringType, true), ("n_nodes", LongType, false),
        ("n_ways", LongType, false), ("n_rels", LongType, false),
        ("sum_ids", LongType, false), ("sum_nds", LongType, false),
        ("sum_members", LongType, false), ("digest", StringType, true)))
    assert(SparkEntry.queries("q125_flex_lua_e2e")(spark, sf).schema ==
      cols(("table_name", StringType, true), ("n_rows", LongType, false)))
  }
}
