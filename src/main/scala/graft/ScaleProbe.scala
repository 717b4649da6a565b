package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off scale probe (not part of the driver contract): self-union
  * the sf0.1 tables N× with shifted ids and time the fan-out-bounded
  * operators, to check the equi-join bounds empirically rather than
  * by argument. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = "/root/testdata/sf0.1"
    val mult = args.headOption.map(_.toInt).getOrElse(20)
    // optional substring filter: `run ScaleProbe 20 mutual_knn` probes
    // just the named operators (iterating on one curve shouldn't cost
    // a full sweep)
    val only = args.drop(1).headOption
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs0 = Tables.documents(spark, sfDir)
    val n0 = docs0.count()
    val docs = (0 until mult).map { i =>
      docs0.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L))
        .withColumn("text", when(lit(i) === 0, col("text"))
          .otherwise(concat(col("text"), lit(s" v$i"))))
    }.reduce(_ unionByName _).cache()
    val emb0 = Tables.embeddings(spark, sfDir)
    val emb = (0 until mult).map { i =>
      emb0.withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000L))
    }.reduce(_ unionByName _).cache()
    println(s"[scale] docs=${docs.count()} (${n0}x$mult) vecs=${emb.count()}")
    def time(name: String)(f: => Long): Unit =
      if (only.forall(name.contains)) {
        val t0 = System.nanoTime()
        val r = f
        println(f"[scale] $name ${(System.nanoTime()-t0)/1e9}%.1fs rows=$r")
      }
    time("minhash_lsh_pairs")(
      graft.operators.Dedup.minhashCandidatePairs(docs, "doc_id", "text").count())
    time("ngram_jaccard")(
      graft.operators.Dedup.ngramJaccard(docs, "doc_id", "text").count())
    time("semantic_dedup")(
      graft.operators.Dedup.semanticDedup(
        emb.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", 0.95).count())
    time("srp_neardup")(
      graft.operators.Dedup.srpBlockedNearDup(
        emb.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", 0.25).count())
    time("pq_topk")(
      graft.operators.Similarity.pqTopK(
        emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
          .where(col("id") < 8),
        emb.select(col("vec_id").as("id"), col("embedding").as("vec")), 5).count())
    // q94's shape: per Lloyd pass one ≤256-row broadcast + an argmin
    // agg over |corpus|×|C| kernel rows — time must stay ~linear in
    // corpus size, and every vector must come back assigned
    time("kmeans_assign")(
      graft.operators.Similarity.kmeansAssignExact(
        emb.select(col("vec_id").as("id"), col("embedding").as("vec")),
        every = 25).count())
    // q98's shape: candidates only from the SRP (table,key) equi-join;
    // the self-union multiplies bucket population ~mult, so candidate
    // rows grow ~mult² per bucket — the probe checks the banded join
    // stays the cost (no all-pairs term over the whole corpus)
    time("mutual_knn")(
      graft.operators.Similarity.mutualKnnGraph(
        emb.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", 3).count())
    // q95/q96/q97: split assignment, rare-token scoring, token budget
    time("leakage_split")(
      graft.operators.Dedup.leakageSafeSplit(docs, "doc_id", "text")
        .count())
    time("rare_tokens")(
      graft.operators.TextAnalysis.rareTokenScore(docs, "doc_id", "text")
        .count())
    time("token_budget")(
      graft.operators.Sampling.tokenBudget(docs, "source", "doc_id",
        size(graft.functions.TextFunctions.normToks(col("text"))),
        budget = 100000L).count())
    // q119: the planet-group budget — same selection as token_budget
    // but the per-group walk splits into 256 order-preserving md5
    // segments, so one giant domain no longer serializes one window
    time("token_budget_sharded")(
      graft.operators.Sampling.tokenBudgetSharded(docs, "source",
        "doc_id",
        size(graft.functions.TextFunctions.normToks(col("text"))),
        budget = 100000L).count())
    // q122: persisted IVF — write once, then the probe must stay
    // bounded by the probed cells (partition-pruned), not index size
    time("ivf_persisted_probe") {
      val e = emb.select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val p = graft.tools.Scratch.dir("graft_ivf_probe")
      graft.operators.IvfIndexStore.write(e, p)
      graft.operators.IvfIndexStore
        .probe(spark, p, e.where(col("id") < 8), k = 5).count()
    }
    // q124: persisted IVF-PQ — same pruning discipline as q122, plus
    // the ADC LUT join; wall must track probed-cell code rows
    time("ivfpq_persisted_probe") {
      val e = emb.select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val p = graft.tools.Scratch.dir("graft_ivfpq_probe")
      graft.operators.IvfPqIndexStore.write(e, p)
      graft.operators.IvfPqIndexStore
        .probe(spark, p, e.where(col("id") < 8), k = 5).count()
    }
    // q129: reconstruction rerank — same pruned probe plus the
    // (s, code) norm join; wall must stay bounded by R·m LUT rows
    // per query, never corpus size (reuses the q124 probe's store)
    time("ivfpq_recon_rerank") {
      val e = emb.select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val p = graft.tools.Scratch.dir("graft_ivfpq_rcp")
      graft.operators.IvfPqIndexStore.write(e, p)
      graft.operators.IvfPqIndexStore.probeRerankReconstructed(
        spark, p, e.where(col("id") < 8), k = 5, rerank = 20).count()
    }
    // q134: persisted IVF-SQ8 — pruning like q122 but the probed
    // cells carry 8-bit codes (4× less IO than exact vectors); wall
    // must track probed-cell code rows, never index size
    time("ivfsq_persisted_probe") {
      val e = emb.select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val p = graft.tools.Scratch.dir("graft_ivfsq_probe")
      graft.operators.IvfSqIndexStore.write(e, p)
      graft.operators.IvfSqIndexStore
        .probe(spark, p, e.where(col("id") < 8), k = 5).count()
    }
    // q136: container parse + select-before-decode — the sampled
    // half of the frames never pays a JPEG decode, and the whole
    // chain is map-only; wall must track row count
    time("video_frame_sample") {
      import spark.implicits._
      val media = docs.select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val frames = (0 until (2 + id % 4).toInt).map { f =>
              graft.sources.Jpeg.encodeGray(16, 8,
                Array.fill(128)(2 * ((id + f) % 128).toInt))
            }
            graft.sources.Multimodal.MediaRow(id, "video",
              graft.sources.Avi.encodeMjpeg(16, 8, frames), Map.empty)
          }
        }
      val sampled = graft.sources.Multimodal.sampleFrames(media, 2)
      sampled.as[(Long, Int, Array[Byte])].map { case (id, f, b) =>
        graft.sources.Multimodal.MediaRow(id * 8 + f, "image", b,
          Map.empty)
      }.mapPartitions { rows =>
        rows.map(r => graft.sources.Jpeg.decode(r.bytes)._4.length.toLong)
      }.agg(sum("value")).first().getLong(0)
    }
    // q138: GIF/LZW both directions per row, map-only — wall must
    // track row count like the other codec probes
    time("gif_decode") {
      import spark.implicits._
      graft.sources.Multimodal.decodeStats(
        docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
          ids.map { id =>
            val rgb = Array.tabulate(8 * 8 * 3)(j =>
              ((id * 31 + j.toLong * 7) % 256).toInt)
            graft.sources.Multimodal.MediaRow(id, "gif",
              graft.sources.Gif.encodeGif(8, 8, rgb,
                interlaced = id % 2 == 0), Map.empty)
          }
        },
        graft.sources.Multimodal.BinaryDecoder).count()
    }
    // q137: WAV decode + framed features, map-only generator
    time("audio_features") {
      import spark.implicits._
      graft.sources.Multimodal.audioFrameFeatures(
        docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
          ids.map { id =>
            graft.sources.Multimodal.MediaRow(id, "audio",
              graft.sources.Codecs.encodeWav(Array.tabulate(64)(i =>
                ((id * 131 + i.toLong * 17) % 65536).toInt - 32768)),
              Map.empty)
          }
        }, frameSize = 8).count()
    }
    // q141: pigeonhole-banded Hamming join — candidates are an
    // equi-join on (band, value); the self-union multiplies each
    // fingerprint cluster ~mult, so pairs grow ~mult² per cluster
    // and the banded join must stay the cost (no all-pairs term)
    time("hamming_neardup") {
      import spark.implicits._
      val hashes = docs.select(col("doc_id")).as[Long].map { id =>
        var h = 0L
        var i = 0
        while (i < 63) {
          var bit =
            if ((((id / 4) * 31 + i * 17) % 97) % 5 == 0) 1 else 0
          var f = 0
          while (f < (id % 4).toInt) {
            if ((id * 11 + f * 23) % 63 == i) bit ^= 1
            f += 1
          }
          if (bit == 1) h |= 1L << i
          i += 1
        }
        (id, h)
      }.toDF("doc_id", "h")
      graft.operators.Dedup
        .hammingNearDup(hashes, "doc_id", "h", maxDist = 6).count()
    }
    // q128: COLOR JPEG is ~6 blocks per doc instead of one scanline
    // codec pass, still map-only — wall must track row count
    time("jpeg_color_decode") {
      import spark.implicits._
      graft.sources.Multimodal.decodeStats(
        docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
          ids.map { id =>
            val grey = Array.tabulate(16 * 16 * 3)(i =>
              2 * (((id * 17 + (i / 3).toLong) % 128).toInt))
            graft.sources.Multimodal.MediaRow(id, "jpeg_color",
              graft.sources.Jpeg.encodeColor(16, 16, grey,
                subsample = id % 2 == 0), Map.empty)
          }
        },
        graft.sources.Multimodal.BinaryDecoder).count()
    }
    // q123/q27: the real codec path is map-only (encode + decode per
    // row inside one mapPartitions pass) — wall must track row count
    time("media_decode") {
      import spark.implicits._
      graft.sources.Multimodal.decodeStats(
        docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
          ids.map { id =>
            graft.sources.Multimodal.MediaRow(id, "png",
              graft.sources.Codecs.encodePng(8, 8, 1,
                Array.tabulate(64)(i =>
                  ((id * 31 + i.toLong * 7) % 256).toInt)), Map.empty)
          }
        },
        graft.sources.Multimodal.BinaryDecoder).count()
    }
    // q114: snapshot diff — both sides reduce to (id, md5) before the
    // full-outer id join; wall must track row count, never text bytes
    time("corpus_diff")(
      graft.operators.CorpusOps.corpusDiff(
        docs, docs.where(col("doc_id") % 3 =!= 0), "doc_id", "text")
        .where(col("status") =!= "unchanged").count())
    // q121: (doc,tok) pre-agg → token totals → driver-bounded top-V
    // broadcast back — wall must track token volume, never pairs
    time("vocab_coverage")(
      graft.operators.TextAnalysis
        .vocabCoverage(docs, "doc_id", "text").count())
    time("dup_span_coverage")(
      graft.operators.Dedup.dupSpanCoverage(docs, "doc_id", "text").count())
    // q111/q115 shape: same inverted-index gram join as coverage plus
    // a doc-partitioned gaps-and-islands window — cost must track the
    // gram volume (~mult), with the span agg bounded per doc
    time("dup_spans")(
      graft.operators.Dedup.dupSpans(docs, "doc_id", "text").count())
    // count(cleaned_fp), not count(*): plain count would let Catalyst
    // prune the md5 + per-doc ordered reassembly out of the plan and
    // time an emptier query than q115 actually runs
    time("dup_span_strip")(
      graft.operators.Dedup.stripDupSpans(docs, "doc_id", "text")
        .agg(count(col("cleaned_fp"))).first().getLong(0))
    // q103/q105 shape: verify cost is per CANDIDATE — the self-union
    // makes every original doc a mult-clique, so candidate pairs grow
    // ~mult²/2 per clique and the verify wall must track the pair
    // count (that is the contract), never |docs|². Containment is the
    // O(n+m) hash-intersect; the LCS DP is O(n·m) per pair, probed on
    // a hash-thinned pair set so the probe measures the per-pair DP
    // slope rather than waiting out mult² × 10⁴ token compares.
    time("containment_verify") {
      val pairs = graft.operators.Dedup
        .minhashCandidatePairs(docs, "doc_id", "text")
      graft.operators.Dedup
        .containmentOnPairs(pairs, docs, "doc_id", "text").count()
    }
    time("lcs_verify") {
      val pairs = graft.operators.Dedup
        .minhashCandidatePairs(docs, "doc_id", "text")
        .where(substring(md5(concat_ws("|", col("id_a"), col("id_b"))),
          1, 1) === "0") // deterministic 1/16 of the candidate set
      graft.operators.Dedup
        .lcsOnPairs(pairs, docs, "doc_id", "text").count()
    }
    // q104: pure map-side segment cleanup — must scale linearly
    time("segment_clean")(
      graft.operators.CorpusOps
        .dropRepeatedSegments(docs, "doc_id", "text").count())
    // q106: one shuffle on the shard key, per-shard sorts independent
    time("shard_assign")(
      graft.operators.Sampling.shardAssign(
        docs.select(col("doc_id"), col("source")), "doc_id", 256).count())
    // q118: two hash-partitioned windows (per-(shard,bucket,source)
    // rank, then per-shard position) — parallelism = nShards, so the
    // wall must track corpus size with no global-sort blowup
    time("curriculum_order")(
      graft.operators.TrainingData.curriculumOrder(
        docs, "doc_id", "text", "source", nShards = 256).count())
    // q101: map-only explode, output rows ~ tokens/stride
    time("rag_chunks")(
      graft.operators.CorpusOps.overlappingChunks(
        docs, "doc_id", "text", k = 32, stride = 16).count())
    // q102: one count-by-source broadcast + a map-side md5 filter
    time("importance_resample")(
      graft.operators.CorpusOps.importanceResample(
        docs, "source", "doc_id",
        targetPermille = Map("src0" -> 300L, "src1" -> 300L),
        defaultPermille = 20L).count())
    // segment dedup (q83 shape): explode → hash agg on segment key →
    // agg per doc; the self-union makes every segment a mult-way
    // duplicate, so output rows stay ~docs while segment frequency
    // grows ~mult (shuffle bounded by the segment count, not pairs)
    time("segment_dedup")(
      graft.operators.CorpusOps.segmentDedup(docs, "doc_id", "text")
        .count())
    time("gopher_rules")(
      graft.operators.CorpusOps.gopherRules(docs, "doc_id", "text")
        .count())
    // q88's shape: one gram row per word, hash agg on the gram key
    // with partial aggregation; the nd>1 survivor set is tiny
    time("dup_ngrams")(
      graft.operators.CorpusOps.dupNgrams(docs, "doc_id", "text")
        .count())
    // q107: per round one pair-count agg (shuffle bounded by DISTINCT
    // pairs, map-side combined) + a 1-row collect + a map-only fuse
    time("bpe_merges")(
      graft.operators.TextAnalysis.bpeMerges(docs, "text", rounds = 3)
        .count())
    // q116: the scale-safe trainer — the hexThreshold scales INVERSELY
    // with the corpus multiple (64/256 at 1× → 3/256 at 20×), holding
    // the sampled training set ~constant, so per-round aggregate cost
    // must stay flat while the one-pass kernel apply grows ~linearly;
    // sum(n_after) forces the kernel column past count-pruning
    time("bpe_sampled")(
      graft.operators.TextAnalysis.bpeSampledCompression(
        docs, "doc_id", "text", rounds = 3,
        hexThreshold = f"${math.max(1, 64 / mult)}%02x")
        .agg(sum(col("n_after"))).first().getLong(0))
    // q52's shape: LSH pairs → large-star/small-star CC. The 20×/50×
    // self-union makes every original doc a duplicate clique, so the
    // cluster count must stay ~n0 while edges grow ~mult² per clique —
    // the probe checks rounds stay logarithmic, not edge-linear.
    time("neardup_clusters_cc")(
      graft.operators.Dedup.nearDupClusters(docs, "doc_id", "text", 0.8)
        .count())
    // full curation chain at 20×, with stage persistence (the shared
    // stage frames are referenced twice each; unpersisted they'd be
    // recomputed per reference)
    time("curate_pipeline") {
      val isBench = substring(md5(col("doc_id").cast("string")), 1, 2) <
        lit("40")
      val persisted = scala.collection.mutable.ArrayBuffer.empty[
        org.apache.spark.sql.DataFrame]
      val n = graft.operators.TrainingData.curate(
        docs.where(!isBench), "doc_id", "text", "source", "n_chars",
        docs.where(isBench), "text",
        quota = Map.empty, defaultQuota = 1000, windowTokens = 2048,
        persistStages = true, onStagePersist = persisted += _).count()
      persisted.foreach(_.unpersist())
      n
    }
    // round-13 adversarial-skew probes (r12 verdict item 6): a
    // duplicate-heavy corpus drives single band keys hot. The pair
    // APIs' candidate sets are then OUTPUT-bound (hot-band members
    // are overwhelmingly true duplicates — identical hashes share all
    // bands and verify at dist 0 / jaccard 1), and the cluster API
    // must stay O(N): 30% of the corpus is ONE fingerprint, yet
    // imageDedupClusters' distinct-hash pair graph sees it as a
    // single node.
    time("hamming_adversarial_clusters") {
      import spark.implicits._
      val hashes = docs.select(col("doc_id")).as[Long].map { id =>
        val h =
          if (id % 10 < 3) 0x5a5a5a5a5a5a5aL // flat-image block
          else {
            var x = 0L
            var i = 0
            while (i < 63) {
              if ((((id / 4) * 31 + i * 17) % 97) % 5 == 0) x |= 1L << i
              i += 1
            }
            x ^ (1L << (id % 63).toInt)
          }
        (id, h)
      }.toDF("doc_id", "h")
      graft.operators.Dedup.imageDedupClusters(
        hashes, "doc_id", "h", maxDist = 6).count()
    }
    // the minhash band join under the same shape: 2% of docs share
    // ONE text, funnelling ~0.02·N postings into each of that text's
    // band keys. Candidates from those keys are all true duplicates
    // (identical minhashes), so candidate count == true-pair count —
    // the probe pins that no all-pairs term over the OTHER 90%
    // appears, and that AQE's skew split keeps the single hot
    // partition from serializing the stage.
    time("minhash_band_skew") {
      val dup = docs.withColumn("text",
        when(col("doc_id") % 50 < 1,
          lit("the same duplicated boilerplate block every mirror page carries"))
          .otherwise(col("text")))
      graft.operators.Dedup.minhashCandidatePairs(dup, "doc_id", "text")
        .count()
    }
    // q148: LM scoring = two count-table hash-aggregates over the 10%
    // train slice + two corpus-token-sized equi-joins — wall must
    // track token count, never pairs
    time("lm_perplexity")(
      graft.operators.TextAnalysis.ngramLmPerplexity(
        docs, "doc_id", "text").count())
    // q151/q155 at 128 bits, adversarial (the r13 verdict item 1
    // done-criterion): 30% of the corpus is ONE wide fingerprint,
    // the rest clustered — the wide distinct-hash pair graph must
    // stay O(N) exactly like the 64-bit probe
    time("hamming_wide_adversarial_clusters") {
      import spark.implicits._
      val hashes = docs.select(col("doc_id")).as[Long].map { id =>
        val h =
          if (id % 10 < 3) Seq(0x5a5a5a5a5a5a5aL, 0x2d2d2d2d2dL)
          else (0 until 2).map { w =>
            var x = 0L
            var i = 0
            while (i < 63) {
              if ((((id / 4) * 31 + (w * 63 + i) * 17) % 97) % 5 == 0)
                x |= 1L << i
              i += 1
            }
            if (w == (id % 2).toInt) x ^ (1L << (id % 63).toInt) else x
          }
        (id, h)
      }.toDF("doc_id", "h")
      graft.operators.Dedup.imageDedupClustersWide(
        hashes, "doc_id", "h", nWords = 2, maxDist = 6).count()
    }
    // q160: the wide adversarial shape with hashes computed FROM
    // PIXELS (real PNG encode → decode → integer DCT → median
    // threshold), closing the r14 synthetic-fingerprint seam: 30% of
    // the corpus is ONE flat frame (a single distinct-hash graph
    // node), the rest near-dup groups of 4 — wall must track decode
    // volume plus the O(N) cluster term, never pairs
    time("pdq_adversarial_clusters") {
      import spark.implicits._
      val media = docs.select(col("doc_id")).as[Long]
        .repartition(spark.sparkContext.defaultParallelism)
        .map { id =>
          val (g, m) =
            if (id % 10 < 3) (0L, 0) else (id / 4, (id % 4).toInt)
          val pb = ((id * 7) % 256).toInt
          val px = Array.tabulate(32 * 32) { i =>
            val b = ((i / 32) / 2) * 16 + (i % 32) / 2
            (((g * 37 + b.toLong * 13) % 250) +
              (if (m > 0 && b == pb) m else 0)).toInt
          }
          graft.sources.Multimodal.MediaRow(id, "image",
            graft.sources.Codecs.encodePng(32, 32, 1, px), Map.empty)
        }
      val hashes = graft.sources.Multimodal.dctHash256(media)
        .toDF("doc_id", "width", "height", "h")
      graft.operators.Dedup.imageDedupClustersWide(
        hashes, "doc_id", "h", nWords = 4, maxDist = 6).count()
    }
    // q161: one per-row regexp/replace chain, no shuffle — wall must
    // track byte volume exactly (sum(length) forces the extracted
    // text past count-pruning)
    time("html_extract") {
      val html = concat(
        lit("<html><head><script>if (a < b && c > 1) { t('x'); }" +
          "</script></head><body><h1>T</h1><p>"),
        col("text"),
        lit("</p><div>Tom &amp; Jerry &lt;3</div></body></html>"))
      graft.operators.CorpusOps.htmlExtract(
          docs.select(col("doc_id"), html.as("html")), "doc_id", "html")
        .agg(sum(length(col("text")))).first().getLong(0)
    }
    // q164: map-only per-word Viterbi DP with per-partition word
    // memoization — wall must track token volume, and the memo keeps
    // the md5 work vocabulary-bound, not token-bound
    time("unigram_lm") {
      graft.operators.TextAnalysis.unigramLmSegment(
          docs, "doc_id", "text")
        .agg(sum(col("total_cost"))).first().getLong(0)
    }
    // q163 shape (timing INCLUDES the index build, like the tar
    // probe): 30% of the corpus commits its chunk md5s, the rest
    // probes — one boundary pass per side, one md5 equi-join
    time("cdc_incremental") {
      val p = graft.tools.Scratch.dir("graft_cdcidx_probe")
      graft.operators.BandIndexStore.writeBands(
        graft.operators.Dedup.cdcChunkBands(
          docs.where(col("doc_id") % 10 < 3), "doc_id", "text"), p)
      graft.operators.Dedup.incrementalCdcChunkDedup(
          docs.where(col("doc_id") % 10 >= 3), "doc_id", "text",
          graft.operators.BandIndexStore.read(spark, p))
        .agg(sum(col("n_dup_chunks"))).first().getLong(0)
    }
    // q145-shaped probe at mult× corpus: the per-batch hot-band
    // decision from the full-index aggregate (scan grows with the
    // index) vs the write-time stats sidecar (O(1) driver read here,
    // O(hot) scan when hot bands exist) — round-16 stats feature
    time("hamming_incremental_stats") {
      val p = graft.tools.Scratch.dir("graft_hashidx_probe")
      val ids = docs.select(col("doc_id"))
      // hot CORPUS hash (its bands cross any floor) that the batch
      // never probes — the candidate set stays tiny while the
      // hot-band DECISION still has work to do; a hot hash on both
      // sides would make the true candidate set itself quadratic
      val hs = ids.withColumn("h",
        when(col("doc_id") % 10 < 5 && col("doc_id") % 7 === 0, lit(42L))
          .otherwise(xxhash64(col("doc_id"))))
      val corpus = hs.where(col("doc_id") % 10 < 5)
      val batch = hs.where(col("doc_id") % 10 >= 5)
      graft.operators.BandIndexStore.writeBands(
        graft.operators.Dedup.hammingBands(corpus, "doc_id", "h",
          maxDist = 3), p)
      val index = graft.operators.BandIndexStore.read(spark, p)
      // threshold below the hot band's count so the hot ROUTING
      // engages (and above the stats floor so the sidecar answers)
      def run(hb: Option[Seq[String]]): Long =
        graft.operators.Dedup.incrementalHammingCandidates(
          batch, "doc_id", "h", index, maxDist = 3,
          corpusHashes = Some(corpus), maxBandDf = 10000,
          hotBands = hb).count()
      val t0 = System.nanoTime()
      val nAgg = run(None)
      val tAgg = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val nStats = run(graft.operators.BandIndexStore
        .readHotBands(spark, p, 10000))
      val tStats = (System.nanoTime() - t1) / 1e9
      require(nAgg == nStats, s"route mismatch: $nAgg vs $nStats")
      println(f"[scale]   hot-band decision: aggregate=$tAgg%.1fs stats=$tStats%.1fs")
      nStats
    }
    // q152: two hash aggregates + one equi-join against the (tiny)
    // boilerplate set — wall must track segment volume; the
    // self-union multiplies per-host doc counts, not pair counts
    time("host_boilerplate") {
      val fixture = docs.select(col("doc_id"),
        concat(lit("h"), (col("doc_id") % 97).cast("string")).as("host"),
        when(col("doc_id") % 3 =!= 0, concat(
          lit("nav home about contact subscribe cookie banner terms privacy login "),
          col("text"))).otherwise(col("text")).as("text"))
      // count(cleaned_fp), not count(*): plain count would prune the
      // md5 + ordered reassembly out of the plan (the q115 lesson)
      graft.operators.CorpusOps.hostBoilerplateStrip(
        fixture, "doc_id", "host", "text")
        .agg(count(col("cleaned_fp"))).first().getLong(0)
    }
    // q154: map-only feature hashing + nClasses in-row reductions —
    // wall must track token volume exactly. sum(best_score) forces
    // the scoring columns past count-pruning.
    time("linear_classify")(
      graft.operators.TextAnalysis.linearClassify(
        docs, "doc_id", "text")
        .agg(sum(col("best_score"))).first().getLong(0))
    // q158: one map-only boundary pass (O(tokens) md5s per doc — the
    // lambda-rebinding rule keeps it off O(n²)), then the chunkDedup
    // aggregate; wall must track token volume
    time("cdc_chunk_dedup")(
      graft.operators.Dedup.cdcChunkDedup(docs, "doc_id", "text")
        .agg(sum(col("n_dup_chunks"))).first().getLong(0))
    // q153: export is one shuffle + per-partition streaming writes;
    // the read is one task per shard streaming headers — wall must
    // track corpus bytes, and rows out must equal rows in
    time("tar_export_read") {
      import spark.implicits._
      val p = graft.tools.Scratch.dir("graft_tar_probe")
      val media = docs.select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          graft.sources.Multimodal.MediaRow(id, "txt",
            text.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            Map.empty)
        }
      graft.sinks.TarShards.writeTarShards(media, p, nShards = 64)
      graft.sinks.TarShards.readTarShards(spark, p).count()
    }
    // q147: shot-boundary detection is map-only (container walk +
    // JPEG decode + running diff per video) — wall must track video
    // count; rows out = frame count
    time("shot_boundaries") {
      import spark.implicits._
      val media = docs.select(col("doc_id")).as[Long]
        .repartition(spark.sparkContext.defaultParallelism)
        // the EXACT q147 fixture (shared def — the probe measures the
        // same workload the query gates)
        .mapPartitions(_.map(graft.queries.Pipeline11.shotFixtureRow))
      graft.sources.Multimodal.videoShotBoundaries(media, 1024).count()
    }
    // windowed sessionization over the 20× event stream
    val ev0 = Tables.events(spark, sfDir)
    val ev = (0 until mult).map { i =>
      ev0.withColumn("event_id", col("event_id") + lit(i.toLong * 10000000L))
        .withColumn("user_id", col("user_id") + lit(i.toLong * 1000L))
    }.reduce(_ unionByName _)
    time("sessionize")(graft.operators.Sessions
      .sessionStats(ev, "user_id", "ts", "event_id", 1800).count())
    spark.stop()
  }
}
