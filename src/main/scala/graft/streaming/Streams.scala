package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Dedup

/** Structured-Streaming form of the incremental machinery (SURVEY.md
  * §2.8): the reference's append mode is a batch-incremental job, and
  * the same transforms run as a stream — `.osc`-shaped change records
  * flow through latest-version-wins state and windowed rollups.
  *
  * OSM replication delivers ordered, complete diffs, so watermarks only
  * bound state size, not correctness.
  */
object Streams {

  final case class Change(oid: Long, version: Long, visible: Boolean,
      ts: java.sql.Timestamp)
  final case class ObjectState(oid: Long, version: Long, visible: Boolean)

  /** Stateful latest-version-wins over a change stream:
    * mapGroupsWithState keyed by object id — the streaming equivalent
    * of Update.latestVersion. Emits the current state per key on every
    * update. */
  def latestVersionStream(changes: Dataset[Change]): Dataset[ObjectState] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.oid)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (oid: Long, updates: Iterator[Change], state: GroupState[ObjectState]) =>
          val incoming = updates.maxBy(_.version)
          val merged = state.getOption match {
            case Some(s) if s.version >= incoming.version => s
            case _ =>
              ObjectState(oid, incoming.version, incoming.visible)
          }
          state.update(merged)
          merged
      }
  }

  /** Windowed dirty-tile rollup: the streaming form of the expire
    * aggregation — per processing window, the distinct tiles touched.
    * Watermark bounds state; append mode emits closed windows. */
  def windowedTileCounts(events: DataFrame, lonCol: String, latCol: String,
      zoom: Int, windowLen: String, watermark: String): DataFrame = {
    import graft.functions.TileFunctions._
    events
      .withWatermark("ts", watermark)
      .groupBy(
        window(col("ts"), windowLen),
        tileX(col(lonCol), zoom).as("x"),
        tileYLinear(col(latCol), zoom).as("y"))
      .agg(count(lit(1)).as("n_events"))
  }

  /** `version` orders updates within and across micro-batches (OSM
    * object version / replication sequence): flatMapGroupsWithState
    * gives no intra-group order, so the fold sorts by it and drops
    * stale versions, like [[latestVersionStream]]. */
  final case class GeomUpdate(oid: Long, version: Long, geom: Array[Byte])
  final case class GeomState(version: Long, geom: Array[Byte])
  final case class DirtyTile(oid: Long, x: Long, y: Long)

  /** Streaming diff expire: a stream of (id, version, new-geometry)
    * rows flows through per-id state holding the PREVIOUS geometry;
    * each update emits only the tiles of the geometric difference
    * old↔new (TileCover.symDiffTiles — the diff_expire semantics of
    * src/flex-table-column.cpp:267-363 as flatMapGroupsWithState).
    * First sight of an id (insert) and null geometry (delete) cover
    * fully, like the batch one-sided path. State size = one geometry
    * per live feature id, partitioned by key across executors. */
  def diffExpireStream(updates: Dataset[GeomUpdate],
      cfg: graft.operators.TileCover.Config): Dataset[DirtyTile] = {
    import updates.sparkSession.implicits._
    import graft.geom.Ewkb
    import graft.operators.TileCover
    updates.groupByKey(_.oid)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (oid: Long, batch: Iterator[GeomUpdate],
            state: GroupState[GeomState]) =>
          var prev = state.getOption.orNull
          val out = Vector.newBuilder[DirtyTile]
          batch.toSeq.sortBy(_.version).foreach { u =>
            if (prev == null || u.version > prev.version) {
              val tiles = (if (prev == null) null else prev.geom,
                  u.geom) match {
                case (null, null) => Set.empty[(Long, Long)]
                case (null, b)    => TileCover.cover(Ewkb.decode(b), cfg)
                case (b, null)    => TileCover.cover(Ewkb.decode(b), cfg)
                case (ob, nb)     =>
                  TileCover.symDiffTiles(Ewkb.decode(ob), Ewkb.decode(nb), cfg)
              }
              tiles.foreach { case (x, y) => out += DirtyTile(oid, x, y) }
              prev = GeomState(u.version, u.geom)
            }
          }
          if (prev == null) state.remove() else state.update(prev)
          out.result().iterator
      }
  }

  /** Streaming exact deduplication for a document stream (the
    * training-data-pipeline ingest shape): keep the first occurrence of
    * each content digest, drop later duplicates. `dropDuplicates` on
    * the digest keeps per-key state; the watermark bounds that state to
    * the lateness horizon — at 100 TB/day ingest the state store holds
    * one digest per UNIQUE document inside the horizon, not per event.
    * Emits only first-seen documents (append mode semantics). */
  def streamingDedup(docs: DataFrame, tsCol: String, textCol: String,
      watermark: String): DataFrame =
    docs
      .withColumn("fp", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming gap sessionization: Spark's native `session_window`
    * (dynamic gap-merged windows) + watermark — the streaming form of
    * the batch `operators/Sessions`. A session closes `gap` after its
    * last event once the watermark passes; the state store holds only
    * open sessions, keyed by (user, window), sharded across executors.
    * Emits one row per closed session (append mode): user, session
    * start/end, event count. */
  def streamingSessions(events: DataFrame, userCol: String, tsCol: String,
      gap: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(userCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(userCol), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Streaming sequence packing: the continuous-ingest form of
    * [[graft.operators.Sampling.packSequences]] — each arriving
    * document is appended to its shard's token stream and assigned its
    * global (start_offset, end_offset, first/last context window)
    * against a per-shard RUNNING total kept in
    * flatMapGroupsWithState. State is one long per shard (the
    * cumulative token count), so a 100 TB/day ingest holds |shards|
    * longs — nothing grows with document count.
    *
    * Offsets are assigned in (batch arrival, id) order: within a
    * micro-batch the shard's rows are ordered by id, batches append in
    * processing order. When documents arrive in id order the output is
    * row-identical to the batch operator over the union of batches
    * (StreamsPackSpec proves it); out-of-order arrival still yields a
    * valid dense packing, just a different permutation — the same
    * contract as the reference's append mode, where later diffs pack
    * after earlier ones regardless of id. */
  def streamingPackSequences(docs: DataFrame, shardCol: String,
      idCol: String, tokCol: String, windowTokens: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val typed = docs.select(col(shardCol).cast("string").as("_shard"),
        col(idCol).cast("long").as("_id"), col(tokCol).cast("long").as("_n"))
      .as[(String, Long, Long)]
    val out = typed.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long, Long, Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (shard, rows, state: GroupState[Long]) =>
          var total = state.getOption.getOrElse(0L)
          val packed = rows.toSeq.sortBy(_._2).iterator
            .filter(_._3 > 0).map { case (_, id, n) =>
              val start = total
              total += n
              (shard, id, n, start, total,
                start / windowTokens, (total - 1) / windowTokens)
            }.toVector
          state.update(total)
          packed.iterator
      }
    out.toDF(shardCol, idCol, tokCol, "start_offset", "end_offset",
      "first_window", "last_window")
  }

  /** Streaming token-budget selection: the continuous-ingest form of
    * [[graft.operators.Sampling.tokenBudget]] — each group's RUNNING
    * token total lives in flatMapGroupsWithState (one long per group,
    * nothing grows with document count); a document is emitted while
    * the running total stays within `budget`, after which the group
    * is saturated and later arrivals are dropped (their tokens still
    * advance the walk, exactly like the batch operator counts every
    * document in its md5 order).
    *
    * Within a micro-batch rows are walked in the batch operator's
    * (md5(id), id) order, so a single-batch run is row-identical to
    * the batch selection (spec'd); across batches the walk is arrival
    * order — the same contract as [[streamingPackSequences]]. */
  def streamingTokenBudget(docs: DataFrame, groupCol: String,
      idCol: String, tokCol: String, budget: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val typed = docs.select(col(groupCol).cast("string").as("_g"),
        col(idCol).cast("long").as("_id"), col(tokCol).cast("long").as("_n"))
      .as[(String, Long, Long)]
    val out = typed.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (g, rows, state: GroupState[Long]) =>
          var total = state.getOption.getOrElse(0L)
          val kept = rows.toSeq
            .sortBy { case (_, id, _) => (md5hex(id.toString), id) }
            .iterator.flatMap { case (_, id, n) =>
              total += n
              if (total <= budget) Some((g, id, n, total)) else None
            }.toVector
          state.update(total)
          kept.iterator
      }
    out.toDF(groupCol, idCol, "n_toks", "cum_toks")
  }

  /** The continuous-ingest curation chain — the streaming counterpart
    * of [[graft.operators.TrainingData.curate]]'s stream-safe stages:
    * quality funnel (stateless projection) → streaming exact dedup
    * (digest state within the watermark) → benchmark decontamination
    * (stateless membership probe against a broadcast Bloom filter of
    * the benchmark's distinct grams — driver memory is the filter's
    * fixed bit array, never the gram values, so the held-out suite
    * can grow without a driver-memory cliff; false positives only
    * OVER-drop at the ~1e-4 sketch floor, never under-drop) →
    * stateful sequence packing (one running long per shard). Near-dup pruning and quota
    * mixing are deliberately absent: candidates stream via
    * [[streamingNearDupCandidates]] against a persisted band index,
    * and a quota is a global top-n — both are batch decisions over the
    * accumulated corpus, exactly as the reference's append mode defers
    * whole-table work to the end of the run. */
  def curationIngestStream(docs: DataFrame, tsCol: String, idCol: String,
      textCol: String, charsCol: String, shardCol: String,
      benchmark: DataFrame, benchTextCol: String, watermark: String,
      windowTokens: Int, n: Int = 8): DataFrame = {
    import graft.functions.TextFunctions.normToks
    import graft.expressions.VectorExpressions.shinglesN
    val quality = graft.operators.TextAnalysis
      .funnelStages(docs, textCol, charsCol)
      .where(col("__s4"))
      .select(docs.columns.map(col).toIndexedSeq: _*)
    val deduped = streamingDedup(quality, tsCol, textCol, watermark)
    // benchmark grams as a broadcast BLOOM FILTER (fixed bit array on
    // the driver, built with one distributed fold — never the gram
    // values themselves, so a large held-out suite can't blow driver
    // memory; false positives only over-drop, bounded by fpp)
    val bloom = graft.operators.TextAnalysis
      .benchmarkBloom(benchmark, benchTextCol, n, fpp = 1e-4)
    val contaminated = graft.operators.TextAnalysis
      .bloomHitUdf(docs.sparkSession, bloom)
    val clean = deduped.where(!contaminated(
      shinglesN(normToks(col(textCol)), n, distinct = true)))
    streamingPackSequences(
      clean.withColumn("__n_tok", size(normToks(col(textCol)))),
      shardCol, idCol, "__n_tok", windowTokens)
  }

  /** Streaming PQ ingest: encode arriving embeddings against a FROZEN
    * persisted codebook (`storePath/codebook`, written by
    * [[graft.operators.Similarity.pqWriteStore]]) — the incremental
    * form of the embedding store, where new vectors append N × m code
    * rows and the codebook never changes mid-stream. Pure per-row
    * projection through the native PqEncodeExpr kernel: stateless,
    * watermark-free, append-mode; sink it with `writeStream.format(
    * "parquet")` onto `storePath/codes` and [[graft.operators
    * .Similarity.pqSearchStore]] sees the new vectors on its next
    * run. */
  def pqEncodeStream(spark: org.apache.spark.sql.SparkSession,
      vectors: DataFrame, storePath: String, m: Int = 8): DataFrame = {
    import graft.functions.VectorFunctions.quantize
    val rows = spark.read.parquet(s"$storePath/codebook")
      .select(col("id"), col("q")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    require(rows.nonEmpty, s"no codebook at $storePath/codebook")
    val ck = graft.operators.Similarity.flattenCodebook(rows, m)
    vectors.select(col("id"),
      graft.expressions.VectorExpressions.pqEncodeN(
        quantize(col("vec")), m, ck.cids, ck.cb, ck.cb2).as("codes"))
  }

  /** Streaming SQ8 ingest against a persisted
    * [[graft.operators.SqIndexStore]]: vectors arriving on a stream
    * encode under the FROZEN per-dimension ranges of the serving
    * version (stateless per-row projection, no shuffle, any output
    * mode), out-of-range values clamping to the 8-bit endpoints —
    * the standard drift rule of a frozen scalar quantizer. Sink the
    * (nid, codes) rows onto the serving version's `codes` table and
    * the next probe sees them. */
  def sqEncodeStream(spark: org.apache.spark.sql.SparkSession,
      vectors: DataFrame, storePath: String): DataFrame =
    graft.operators.SqIndexStore.encodeFrozen(spark, storePath, vectors)

  /** Streaming IVF-SQ8 ingest against a persisted
    * [[graft.operators.IvfSqIndexStore]]: arriving vectors are
    * assigned to the FROZEN coarse centroids by the codegen'd
    * argmax-cosine kernel (bit-equal to the batch write's
    * assignment) and encoded under the FROZEN per-dimension ranges
    * (out-of-range values clamp — the standard drift rule). Stateless
    * per-row projection, no shuffle, any output mode; sink the
    * (nid, codes, cell) rows under the serving version's
    * `cells/cell=K` partitions and the next probe sees them. */
  def ivfSqEncodeStream(spark: org.apache.spark.sql.SparkSession,
      vectors: DataFrame, storePath: String): DataFrame =
    graft.operators.IvfSqIndexStore.encodeFrozen(spark, storePath, vectors)

  /** Streaming nearest-centroid assignment against a persisted
    * [[graft.operators.Similarity.kmeansWriteStore]] — the ingest
    * half of train-once clustering: vectors arriving on a stream are
    * assigned under the frozen model by the same codegen'd argmin
    * kernel as the batch store path (bit-equal assignments), one
    * compiled call per row, stateless and shuffle-free, so any
    * output mode/sink works downstream. */
  def kmeansAssignStream(spark: org.apache.spark.sql.SparkSession,
      vectors: DataFrame, storePath: String): DataFrame =
    graft.operators.Similarity
      .kmeansAssignStore(spark, storePath, vectors)

  final case class NearDupCandidate(idA: Long, idB: Long, band: String)
  final case class BandState(entries: List[Long])

  /** Streaming near-dup candidate detection at ingest: each document's
    * LSH band keys (the same salted-md5 scheme as the batch
    * `Dedup.minhashCandidatePairs`) flow into per-band state holding
    * the ids already seen in that band; a new arrival emits a
    * candidate pair against each of them. The streaming form of the
    * band self-join — exact-Jaccard verification stays a per-batch
    * join downstream.
    *
    * State is bounded twice: an event-time timeout drops bands idle
    * past `stateTtlMs` (requires the `tsCol` watermark), and
    * `maxPerBand` caps a band's entry list (a viral duplicate cluster
    * keeps only the most recent entries — matching the batch path's
    * fan-out cap philosophy). State shards by band key across
    * executors, so ingest scales with the cluster like any keyed
    * stream. */
  def streamingNearDupCandidates(docs: DataFrame, idCol: String,
      textCol: String, tsCol: String, watermark: String,
      stateTtlMs: Long = 3600000L, maxPerBand: Int = 32)
      : Dataset[NearDupCandidate] = {
    import docs.sparkSession.implicits._
    val banded = docs
      .select(col(idCol).cast("long").as("id"),
        col(tsCol).cast("timestamp").as("ts"),
        explode(Dedup.bandKeysExpr(col(textCol)))
          .as("band"))
      .withWatermark("ts", watermark) // after the projection, so the
      // watermark tag survives onto the column the timeout reads
      .as[(Long, java.sql.Timestamp, String)]
    banded.groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (band: String, rows: Iterator[(Long, java.sql.Timestamp, String)],
            state: GroupState[BandState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var entries =
              state.getOption.map(_.entries).getOrElse(Nil)
            val out = Vector.newBuilder[NearDupCandidate]
            var maxTs = 0L
            // deterministic within-batch order: by time, then id
            rows.toSeq.sortBy(r => (r._2.getTime, r._1)).foreach { r =>
              val (id, ts, _) = r
              maxTs = math.max(maxTs, ts.getTime)
              // first sight of an id only: a replayed/duplicate record
              // of an already-indexed doc must not re-emit its pairs
              // (at-least-once upstreams make re-arrival routine)
              if (!entries.contains(id)) {
                entries.foreach { e =>
                  out += NearDupCandidate(math.min(e, id),
                    math.max(e, id), band)
                }
                entries = (id :: entries).take(maxPerBand)
              }
            }
            state.update(BandState(entries))
            state.setTimeoutTimestamp(maxTs + stateTtlMs)
            out.result().iterator
          }
      }
  }

  /** Streaming re-crawl dedup against the PERSISTED band index: each
    * arriving document is banded statelessly (the shared
    * [[graft.operators.Dedup.bandKeysExpr]] scheme) and equi-joined
    * on the band key against the index's resolved view — the
    * continuous form of [[graft.operators.Dedup
    * .incrementalNearDupCandidates]], and the job a crawler runs
    * forever while [[graft.operators.BandIndexStore]] appends and
    * compactions maintain the index underneath (restart the query to
    * pick up a new snapshot generation; the probe itself is
    * stateless).
    *
    * Emits one row per (new doc, indexed doc, shared band) in append
    * mode with NO streaming state: pair-level dedup is deliberately
    * left to the consumer (per-batch `distinct` in a foreachBatch
    * sink, or a downstream grouped verify) — a running global
    * distinct would accrete unbounded state in exactly the query
    * that never stops. Scale: the join shuffles only the banded
    * micro-batch against the band-bucketed index partitions; skew is
    * bounded by the band scheme's fan-out like every other LSH probe
    * here. */
  def indexProbeStream(docs: DataFrame, idCol: String, textCol: String,
      index: DataFrame): DataFrame = {
    val probe = docs.select(col(idCol).cast("long").as("new_id"),
      explode(Dedup.bandKeysExpr(col(textCol)))
        .as("band"))
    probe.join(index.select(col("id").as("indexed_id"), col("band")),
        "band")
      .where(col("new_id") =!= col("indexed_id"))
      .select(col("new_id"), col("indexed_id"), col("band"))
  }

  /** Streaming image-dedup probe against the PERSISTED fingerprint
    * index: each arriving 64-bit perceptual hash is pigeonhole-banded
    * statelessly ([[graft.operators.Dedup.hammingBands]]) and
    * equi-joined against the index's resolved view — the continuous
    * form of [[graft.operators.Dedup.incrementalHammingCandidates]],
    * with the same 100%-recall-by-construction guarantee (every pair
    * within maxDist shares an exact band). Append mode, NO streaming
    * state; exact `bit_count(xor)` verification is the consumer's
    * per-batch step, same contract as [[indexProbeStream]].
    *
    * Hot-band guard (the static half of the batch probe's — the
    * stream side is per-row, so only the INDEX side can be bounded):
    * with `corpusHashes`, index bands holding more than `maxBandDf`
    * rows are pre-deduplicated to one row per DISTINCT corpus hash
    * before the stream-static join and re-expanded through the
    * index's own rows afterwards (tombstoned ids never resurface).
    * Exact: recall stays 100% either way. */
  def hashProbeStream(hashes: DataFrame, idCol: String,
      hashCol: String, index: DataFrame, maxDist: Int = 3,
      corpusHashes: Option[DataFrame] = None,
      maxBandDf: Long = Dedup.DefaultMaxBandDf): DataFrame =
    hashProbe(Dedup.FpLayout.Long64, hashes, idCol, hashCol, index,
      maxDist, corpusHashes, maxBandDf)

  /** [[hashProbeStream]] for WIDE (`array<long>`, `nWords` words)
    * fingerprints — the continuous form of
    * [[graft.operators.Dedup.incrementalHammingCandidatesWide]]. */
  def hashProbeStreamWide(hashes: DataFrame, idCol: String,
      hashCol: String, index: DataFrame, nWords: Int, maxDist: Int = 6,
      corpusHashes: Option[DataFrame] = None,
      maxBandDf: Long = Dedup.DefaultMaxBandDf): DataFrame =
    hashProbe(Dedup.FpLayout.Words(nWords), hashes, idCol, hashCol,
      index, maxDist, corpusHashes, maxBandDf)

  /** Streaming CDC chunk probe against the PERSISTED chunk index —
    * the continuous form of
    * [[graft.operators.Dedup.incrementalCdcChunkDedup]], completing
    * the streaming re-crawl family (minhash [[indexProbeStream]],
    * 64-bit/wide fingerprints [[hashProbeStream]]): each arriving
    * document's content-defined chunk boundaries are computed
    * STATELESSLY (pure per-row Column expression — no distinct, no
    * watermark), md5-banded under the `cdc<k>.<t>:` key family, and
    * stream-static joined against the index's resolved view. Emits
    * one row per (new_id, indexed_id, band) chunk hit; the per-doc
    * dup-ratio aggregation is the consumer's per-batch step (append
    * mode, no streaming state). The geometry mismatch the batch
    * probe refuses loudly is checked HERE at stream definition — not
    * left to produce a silently-empty candidate stream forever.
    * Tombstoned corpus docs stop matching as soon as the store
    * resolves them, exactly like the fingerprint probes. */
  def cdcProbeStream(docs: DataFrame, idCol: String, textCol: String,
      index: DataFrame, k: Int = 4, hexThreshold: String = "2")
      : DataFrame = {
    // same parameter validation as the batch entry points — a bad k
    // or threshold must fail HERE, not run a silently-wrong stream
    // (an empty index has no row for the geometry check to compare)
    require(k >= 1, s"bad k $k")
    require(hexThreshold.length == 1 &&
      "0123456789abcdef".contains(hexThreshold),
      s"hexThreshold must be one lowercase hex digit, got '$hexThreshold'")
    Dedup.checkCdcIndexGeometry(index, k, hexThreshold)
    val w = graft.functions.TextFunctions.normToks(col(textCol))
    val probe = docs.select(col(idCol).cast("long").as("new_id"),
        explode(Dedup.cdcChunks(w, k, hexThreshold))
          .as("chunk"))
      .select(col("new_id"),
        concat(lit(s"cdc$k.$hexThreshold:"), md5(col("chunk")))
          .as("band"))
    probe.join(index.select(col("id").as("indexed_id"), col("band")),
        "band")
      // a re-crawled doc is not a duplicate of itself — the same
      // new_id ≠ indexed_id discipline as indexProbeStream
      .where(col("new_id") =!= col("indexed_id"))
      .select(col("new_id"), col("indexed_id"), col("band"))
  }

  /** The fingerprint stream probe for either layout. The index is
    * static, so the geometry mismatch the batch probe refuses loudly
    * is checked HERE, at stream definition — not left to produce a
    * silently-empty candidate stream forever. */
  private def hashProbe(fp: Dedup.FpLayout, hashes: DataFrame,
      idCol: String, hashCol: String, index: DataFrame, maxDist: Int,
      corpusHashes: Option[DataFrame], maxBandDf: Long): DataFrame = {
    Dedup.checkHammingIndexGeometry(index, fp, maxDist)
    val probe = Dedup.fpBands(fp, hashes, idCol, hashCol, maxDist)
      .select(col("id").as("new_id"), col("band"))
    val idx = index.select(col("id").as("indexed_id"), col("band"))
    corpusHashes match {
      case None =>
        probe.join(idx, "band")
          .where(col("new_id") =!= col("indexed_id"))
          .select(col("new_id"), col("indexed_id"), col("band"))
      case Some(ch0) =>
        // contract: first column = id, second = the hash
        val ch = ch0.select(
          col(ch0.columns.head).cast("long").as("indexed_id"),
          fp.cast(col(ch0.columns(1))).as("chash"))
        val hot = idx.groupBy(col("band")).agg(count(lit(1)).as("n"))
          .where(col("n") > maxBandDf).select(col("band"))
        val cold = idx.join(broadcast(hot), Seq("band"), "left_anti")
          .withColumn("grp", lit(null).cast(fp.sqlType))
        // LEFT join: hot-band index ids missing from the caller's
        // hash table (uncovered) keep full recall via the direct route
        val hotIdxH0 = idx.join(broadcast(hot), Seq("band"), "left_semi")
          .join(ch, Seq("indexed_id"), "left")
        val hotIdxH = hotIdxH0.where(col("chash").isNotNull)
        val hotUncovered = hotIdxH0.where(col("chash").isNull)
          .select(col("indexed_id"), col("band"))
          .withColumn("grp", lit(null).cast(fp.sqlType))
        val hotRep = hotIdxH.groupBy(col("band"), col("chash"))
          .agg(min(col("indexed_id")).as("indexed_id"))
          .select(col("indexed_id"), col("band"),
            col("chash").as("grp"))
        val joined = probe.join(
          cold.unionByName(hotUncovered).unionByName(hotRep), "band")
        val direct = joined.where(col("grp").isNull)
          .select(col("new_id"), col("indexed_id"), col("band"))
        val expanded = joined.where(col("grp").isNotNull)
          .drop("indexed_id")
          .join(hotIdxH.select(col("band"), col("chash").as("grp"),
            col("indexed_id")), Seq("band", "grp"))
          .select(col("new_id"), col("indexed_id"), col("band"))
        direct.unionByName(expanded)
          .where(col("new_id") =!= col("indexed_id"))
    }
  }

  /** Continuous ANN serving against the persisted [[graft.operators
    * .IvfIndexStore]]: each micro-batch of query vectors (id, vec)
    * runs one partition-pruned probe and hands the ranked result to
    * `sink`. Shaped as `foreachBatch`, NOT a stream-static join,
    * deliberately: the probe's partition pruning requires the probed
    * cell ids as literal filters, which only exist once the batch's
    * queries are known — per batch the collect stays bounded at
    * ≤ |batch|·nprobe ids, and each batch reads only its probed cell
    * directories of the CURRENT committed index version. A concurrent
    * [[graft.operators.IvfIndexStore.write]] flips versions atomically
    * (a batch never sees a torn index), and a batch that resolved the
    * old version mid-commit still completes: the store RETAINS the
    * most recently superseded committed version ([[graft.operators
    * .FsOps]] `VersionedStore.gcPrevious`), deleting it only after
    * the NEXT full write — so a probe racing one rewrite never loses
    * its files mid-scan. */
  def ivfProbeStream(queries: DataFrame, indexPath: String, k: Int,
      nprobe: Int = 2)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          sink(graft.operators.IvfIndexStore.probe(
            batch.sparkSession, indexPath, batch, k, nprobe))
      }.start()

  /** Continuous append mode: watch a directory for arriving `.osc`
    * change files (the replication mirror) and run the incremental
    * update pipeline once per micro-batch — `readStream` over the file
    * source, `foreachBatch` applying the same batch transforms the
    * reference's append mode hand-rolls (SURVEY.md §2.8's "batch
    * incremental job, not DStreams", now driven by a stream).
    *
    * `applyBatch` receives the batch's entities as DISTRIBUTED frames
    * ([[graft.sources.OsmXml.readSequenced]]): each row carries a
    * `seq` column — `(sorted-file-index << 32) | intra-file-pos` — so
    * replication sequence order (the NNN/NNN/NNN layout sorts
    * correctly) is resolved relationally (order by / max(seq)), never
    * by driver-side concatenation. Only the batch's file PATHS touch
    * the driver; the XML parse runs in executors, one split per file —
    * planet-scale hourly diffs (100+ MB, many files) never bottleneck
    * on a driver parse. Exactly-once: the file source tracks processed
    * files in the checkpoint, so a crashed batch is redelivered.
    */
  def changeFileStream(spark: org.apache.spark.sql.SparkSession,
      watchDir: String, checkpointDir: String,
      applyBatch: (graft.sources.OsmXml.OsmDataFrames, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val files = spark.readStream
      .format("binaryFile")
      // replication mirrors serve gzipped chunks; wholeTextFiles in
      // the batch read decompresses .gz via the Hadoop codec
      .option("pathGlobFilter", "*.osc*")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(watchDir)
    files.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // paths only — bytes stay in executors
        val paths = batch.select("path").collect()
          .map(_.getString(0)).sorted
        if (paths.nonEmpty) {
          val dfs = graft.sources.OsmXml
            .readSequenced(spark, paths.toIndexedSeq)
          try applyBatch(dfs, batchId)
          finally dfs.unpersistBacking()
        }
        ()
      }
      .start()
  }
}
