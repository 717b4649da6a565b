package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Deduplication operators for document corpora.
  *
  * Scale design: every method is a pure shuffle-join/aggregation plan —
  * no driver-side state, no collect. Exact dedup is one hash aggregate
  * on a digest (map-side partial combine applies). MinHash-LSH is the
  * standard shingle→signature→band→bucket-join pipeline: the only
  * all-to-all operation is a self-join on band keys, whose cardinality
  * is controlled by band width, and which AQE's skew-join splitting
  * handles when a band bucket is hot (a pathological near-identical
  * cluster). Candidate verification (exact Jaccard) touches only
  * candidate pairs, never the full cross product.
  */
object Dedup {

  /** Exact duplicate groups by content digest.
    * Returns one row per distinct content: (fp, n_docs, keep_id).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** Near-dup groups under token reordering/duplication: fingerprint is
    * the digest of the sorted distinct token set. */
  def sortedTokenGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sortedTokenFingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** MinHash signatures: `numHashes` salted-md5 min-hashes over word
    * `k`-shingles. Documents with fewer than k tokens produce no row
    * (no shingles → no signature), mirroring the oracle.
    *
    * Zero-shuffle form: all `numHashes` signatures come from ONE
    * codegen'd pass over the token array
    * ([[graft.expressions.MinHashSigsExpr]]) — a pure per-row
    * projection inside WholeStageCodegen (the explode+groupBy
    * formulation shuffles every shingle; at 100 TB that's the
    * difference between a map-only stage and an all-to-all).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 4, k: Int = 3): DataFrame = {
    val sigs = df.select(col(idCol),
      graft.expressions.VectorExpressions
        .minhashSigsN(normToks(col(textCol)), k, numHashes).as("sig"))
      .where(size(col("sig")) > 0)
    sigs.select(col(idCol) +:
      (0 until numHashes).map(i => col("sig")(i).as(s"m$i")): _*)
  }

  /** The LSH band keys of one document as a single array Column —
    * the per-row form of the banding scheme shared by the batch
    * candidate join and the streaming band index. Docs too short to
    * shingle get an empty array (no bands, never candidates). */
  def bandKeysExpr(text: Column, numHashes: Int = 4,
      rowsPerBand: Int = 2, k: Int = 3): Column = {
    val sig = graft.expressions.VectorExpressions
      .minhashSigsN(normToks(text), k, numHashes)
    val nBands = numHashes / rowsPerBand
    // bind the signature ONCE through a single-element transform
    // lambda: referencing `sig` directly in every band key would
    // inline the minhash kernel 2×rowsPerBand times, and codegen does
    // not CSE across a Generate — measured 60% slower at sf0.1
    element_at(transform(array(sig), s => {
      val bands = array((0 until nBands).map { b =>
        concat_ws(":", lit(b.toString) +:
          (0 until rowsPerBand).map(r =>
            try_element_at(s, lit(b * rowsPerBand + r + 1))): _*)
      }: _*)
      when(size(s) > 0, bands).otherwise(array().cast("array<string>"))
    }), 1)
  }

  /** LSH candidate pairs: signatures grouped into bands of `rowsPerBand`
    * hashes; two documents are candidates iff they collide on at least
    * one full band. Returns distinct (id_a, id_b) with id_a < id_b.
    *
    * Both join branches project from the same banded plan, so the
    * band-key Exchange is computed once and reused (ReusedExchange) —
    * signatures are NOT evaluated twice. The only all-to-all is the
    * band-key shuffle of (id, band) pairs — 2 small rows per doc.
    */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 4, rowsPerBand: Int = 2, k: Int = 3): DataFrame = {
    // ONE banding scheme: the same bandKeysExpr drives this batch
    // join and the streaming band index — a salt/separator/band
    // change cannot silently diverge the two candidate sets
    val banded = Par.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"),
        explode(bandKeysExpr(col(textCol), numHashes, rowsPerBand, k))
          .as("band"))
    // self-join WITHOUT pre-join renames: both branches are the
    // identical banded plan, so the band-key Exchange canonicalizes
    // equal and is computed ONCE (ReusedExchange — asserted by
    // PlanSpec). Renaming id->id_a/id_b before the join would make the
    // exchanges differ and evaluate the signature scan twice.
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b, col("a.band") === col("b.band"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
  }

  /** Exact Jaccard similarity over distinct token sets for given
    * candidate pairs (the verification stage after LSH). */
  def jaccardOnPairs(pairs: DataFrame, df: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val docs = Par.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("jid"),
        array_distinct(normToks(col(textCol))).as("w"))
    val a = docs.select(col("jid").as("id_a"), col("w").as("wa"))
    val b = docs.select(col("jid").as("id_b"), col("w").as("wb"))
    // hash-set intersect/union (O(|wa|+|wb|) per pair), NOT
    // filter+array_contains (O(|wa|·|wb|)): at 1M verified pairs of
    // ~100-token docs the quadratic form is billions of comparisons
    // (the 20x scale probe's CC hotspot). Identical values on the
    // distinct arrays both sides already are.
    val j: (Column, Column) => Column = (wa, wb) => {
      val inter = size(array_intersect(wa, wb)).cast("double")
      inter / (size(wa) + size(wb) - inter)
    }
    pairs.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"), j(col("wa"), col("wb")).as("jaccard"))
  }

  /** Shingle-set containment over candidate pairs — the asymmetric
    * companion to [[jaccardOnPairs]]: containment_a = |A∩B|/|A| (how
    * much of document a lives inside b) and the mirror for b. A short
    * document quoted wholesale by a long one scores near-1 containment
    * while its Jaccard stays low — the quote/boilerplate-absorption
    * case a symmetric verify misses. Same candidate-set contract and
    * hash-set intersect cost as the Jaccard verify. */
  def containmentOnPairs(pairs: DataFrame, df: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val docs = Par.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("jid"),
        array_distinct(normToks(col(textCol))).as("w"))
    val a = docs.select(col("jid").as("id_a"), col("w").as("wa"))
    val b = docs.select(col("jid").as("id_b"), col("w").as("wb"))
    pairs.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("wa"), col("wb"))).cast("double") /
          size(col("wa"))).as("containment_a"),
        (size(array_intersect(col("wa"), col("wb"))).cast("double") /
          size(col("wb"))).as("containment_b"))
  }

  /** Longest-common-token-run verification over candidate pairs — the
    * exact-substring dedup check (Lee et al. 2022's observation that
    * verbatim spans survive paraphrase-level edits): a shared run of
    * ≥ N tokens is copying even when whole-document Jaccard stays low.
    * The rolling-row DP kernel ([[graft.expressions.VectorExpressions
    * .lcsTokensN]]) is O(|a|·|b|) per PAIR, so callers feed the banded
    * candidate set — the same contract as [[editDistanceOnPairs]].
    * `min_tokens` ships alongside for normalized thresholds. */
  def lcsOnPairs(pairs: DataFrame, df: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val docs = Par.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("lid"),
        normToks(col(textCol)).as("t"))
    val a = docs.select(col("lid").as("id_a"), col("t").as("ta"))
    val b = docs.select(col("lid").as("id_b"), col("t").as("tb"))
    pairs.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        graft.expressions.VectorExpressions
          .lcsTokensN(col("ta"), col("tb")).as("lcs_tokens"),
        least(size(col("ta")), size(col("tb")))
          .cast("long").as("min_tokens"))
  }

  /** Exact Levenshtein verification over candidate pairs — the other
    * standard post-LSH verify (fuzzy dedup keyed on edit similarity
    * rather than token Jaccard). The DP is O(|a|·|b|) per PAIR, so
    * callers feed the banded candidate set (bounded by bucket
    * collisions), never all pairs; both text lookups are broadcast-able
    * equi-joins on the id and the distance kernel is the codegen'd
    * built-in. `max_len` ships alongside so callers can threshold on
    * the normalized ratio without a second text pass. */
  def editDistanceOnPairs(pairs: DataFrame, df: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val docs = df.select(col(idCol).as("eid"), col(textCol).as("t"))
    val a = docs.select(col("eid").as("id_a"), col("t").as("ta"))
    val b = docs.select(col("eid").as("id_b"), col("t").as("tb"))
    pairs.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"),
        greatest(length(col("ta")), length(col("tb")))
          .cast("long").as("max_len"))
  }

  /** Winnowing document fingerprints (rolling-hash scheme, Schleimer
    * et al. 2003): per doc, the sorted distinct window-min `k`-gram
    * hashes plus a digest of the whole selection. Two docs sharing any
    * token run of ≥ `w`+`k`-1 share at least one fingerprint, so the
    * fingerprint column doubles as an LSH-style blocking key for
    * plagiarism-shaped near-dup detection. Pure per-row projection
    * (one codegen'd pass, [[graft.expressions.WinnowFpsExpr]]) — no
    * shuffle. Docs with fewer than `k` tokens produce no row. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame =
    df.select(col(idCol),
      graft.expressions.VectorExpressions
        .winnowFpsN(normToks(col(textCol)), k, w).as("fps"))
      .where(size(col("fps")) > 0)
      .select(col(idCol), size(col("fps")).as("n_fps"),
        md5(concat_ws(" ", col("fps"))).as("fp_digest"))

  /** Direct n-gram Jaccard near-dup: docs are their distinct word
    * `n`-gram sets, candidate pairs come from an inverted index on
    * shared grams, similarity = |A∩B| / |A∪B| ≥ `threshold`. Grams
    * occurring in more than `maxDf` documents are dropped FIRST
    * (stop-gram filter) — this bounds the per-gram pair fan-out at
    * ≤ maxDf²/2 regardless of corpus size, and defines the similarity
    * space: sizes and intersections are over the filtered sets.
    *
    * Plan shape: ONE shuffle of the gram rows builds the inverted
    * index (gram → posting list, capped at maxDf); candidate pairs
    * are generated by exploding each posting list in place — no
    * self-join, so the expensive shingle scan runs once and the
    * postings never shuffle again. Per-pair work is a count, not set
    * arithmetic. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, threshold: Double = 0.5, maxDf: Long = 25): DataFrame = {
    val grams = df.select(col(idCol).as("id"),
      explode(graft.expressions.VectorExpressions
        .shinglesN(normToks(col(textCol)), n, distinct = true)).as("g"))
    // inverted index: one hash-aggregate on g; df(g) == postings size
    // because grams are per-doc distinct. Pinned: the per-doc sizes
    // and the pair expansion both read the postings — without the
    // checkpoint each branch re-runs the post-shuffle collect_list
    // over every gram group (the shuffle write is shared, the
    // aggregate itself is not). Trade-off, stated: unlike the tiny
    // hot sets this eagerly materializes the FULL postings table
    // (unbounded in distinct grams) into non-reliable executor block
    // storage — an executor loss after this point fails the job
    // rather than recomputing. Deployments where that matters should
    // lower the pin to persist(MEMORY_AND_DISK)+count (recoverable
    // lineage) at the cost of re-running the aggregate per branch on
    // eviction; kept as a checkpoint here because the postings are
    // maxDf-capped per gram and both consumers read them immediately.
    val buckets = grams.groupBy(col("g"))
      .agg(collect_list(col("id")).as("ids"))
      .where(size(col("ids")) <= maxDf)
      .localCheckpoint()
    val sizes = buckets.select(explode(col("ids")).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val shared = buckets
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sa")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"), col("shared"),
        (col("shared").cast("double") /
          (col("sa") + col("sb") - col("shared")).cast("double"))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** SimHash (`bits`-bit, ≤32) per document over word unigrams. */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 16): DataFrame = {
    val words = df
      .select(col(idCol), explode(normToks(col(textCol))).as("w"))
      .withColumn("h", md5(col("w")))
    val votes = (0 until bits).map(j => simhashVote(col("h"), j).as(s"v$j"))
    words.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        simhashFromVotes((0 until bits).map(j => col(s"v$j"))).as("simhash"))
  }

  /** Embedding near-duplicate pairs: exact quantized cosine ≥ threshold.
    * `blockCol` optionally pre-partitions the self-join (e.g. an LSH
    * bucket from [[Similarity.hyperplaneBucket]]) — without it this is a
    * full cross product and only suitable for verification-sized data.
    */
  /** Connected components over an undirected edge list — the step
    * that turns near-dup *pairs* into dedup *clusters* (keep one doc
    * per component). Alternating large-star / small-star (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC 2014):
    * converges in O(log n) rounds regardless of component diameter,
    * which is what makes it the 100 TB answer — naive label
    * propagation needs O(diameter) rounds and a viral duplicate
    * cluster chained through mirrors can be arbitrarily deep. Each
    * round is two groupBy-min joins; `localCheckpoint` cuts the
    * growing lineage so round N's plan doesn't replay rounds 1..N-1.
    *
    * Returns (id, component) for every node in `edges`, component =
    * the smallest id reachable.
    */
  def connectedComponents(edges: DataFrame, srcCol: String,
      dstCol: String, maxRounds: Int = 50,
      smallGraphEdges: Long = 500000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // round snapshots: Dataset.localCheckpoint cuts lineage while
    // keeping the UnsafeRow representation (no Row boxing). The
    // checkpoint RDD isn't exposed, so we find it by diffing the
    // persistent-RDD registry around the (eager) call — that handle
    // lets each superseded round free its blocks immediately instead
    // of waiting for the context cleaner's GC sweep. (The diff could
    // catch an unrelated persist from a concurrently-submitting
    // thread — early unpersist of a plain cache only costs
    // recomputation; sessions driving CC and other jobs from multiple
    // threads at once should expect that cache churn.)
    def snapshot(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      // LAZY: the caller's next action (the initial count / the
      // per-round digest) materializes the snapshot inside its own
      // job — one job per round instead of two (checkpoint barrier +
      // digest). The persist handle is registered at mark time, so
      // the registry diff still finds the blocks to free.
      val cp = df.localCheckpoint(eager = false)
      (cp, spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
    }
    def free(ids: Set[Int]): Unit = {
      val live = spark.sparkContext.getPersistentRDDs
      ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
    }

    // canonical undirected edge set, self-loops dropped
    var (e, eIds) = snapshot(edges
      .select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .where($"u" =!= $"v")
      .select(least($"u", $"v").as("u"), greatest($"u", $"v").as("v"))
      .distinct())

    // small-graph fast path, size-gated like a broadcast-join
    // decision: below the threshold the star rounds' per-iteration
    // shuffles + checkpoints cost more than just solving the graph on
    // the driver (the edge count is already materialized by the
    // snapshot, so the count() is a cached-read). Identical output
    // contract: component = the minimum id in the component.
    if (e.count() <= smallGraphEdges) {
      val pairs = e.as[(Long, Long)].collect()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val n = parent(c); parent(c) = r; c = n
        }
        r
      }
      pairs.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) {
          // union by MIN so the root is always the component minimum
          if (ru < rv) parent(rv) = ru else parent(ru) = rv
        }
      }
      val out = pairs.flatMap { case (u, v) => Seq(u, v) }.distinct
        .map(id => (id, find(id)))
      free(eIds)
      return spark.createDataFrame(out.toIndexedSeq)
        .toDF("id", "component")
    }

    // large-star: every neighbor larger than u links to the minimum
    // of u's closed neighborhood; small-star: the ≤u neighbors and u
    // itself re-link to that minimum.
    def sym(d: DataFrame) =
      d.select($"u", $"v").union(d.select($"v".as("u"), $"u".as("v")))
    def star(d: DataFrame, large: Boolean): DataFrame = {
      val nbr = if (large) sym(d) else sym(d).where($"v" < $"u")
      val m = nbr.groupBy($"u")
        .agg(least(min($"v"), first($"u")).as("m"))
      val relinked = nbr.join(m, "u")
        .where(if (large) $"v" > $"u" else $"v" =!= $"m")
        .select($"v".as("a"), $"m".as("b"))
      val self = m.where($"u" =!= $"m").select($"u".as("a"), $"m".as("b"))
      (if (large) relinked else relinked.union(self))
        .select(least($"a", $"b").as("u"), greatest($"a", $"b").as("v"))
        .where($"u" =!= $"v").distinct()
    }

    // fixpoint test on a cheap content digest (count + hash xor) —
    // one aggregate per round, no full sort/collect of the edge set
    def digest(d: DataFrame) = d
      .agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).first()

    var round = 0
    var converged = false
    var prevDigest = digest(e)
    while (!converged && round < maxRounds) {
      val (next, nextIds) = snapshot(star(star(e, large = true),
        large = false))
      val nextDigest = digest(next)
      converged = nextDigest == prevDigest
      prevDigest = nextDigest
      free(eIds) // superseded round's checkpoint blocks
      e = next
      eIds = nextIds
      round += 1
    }
    // the final aggregation below assumes a star forest — on a
    // non-converged graph it would return plausible-looking but WRONG
    // labels, so refuse instead (O(log n) rounds suffice for any
    // graph; hitting the cap means the cap is set far too low)
    require(converged,
      s"connectedComponents did not converge in $maxRounds rounds")

    // converged edge set is a star forest onto component minima
    sym(e).groupBy($"u".as("id"))
      .agg(least(min($"v"), first($"u")).as("component"))
  }

  /** MinHash-LSH near-dup *clusters*: candidate pairs, verified by
    * exact Jaccard ≥ `minJaccard`, collapsed into connected
    * components. Returns (doc_id, cluster_id) for every clustered
    * document, cluster_id = smallest doc_id in the cluster (the
    * canonical keeper). */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.5): DataFrame = {
    val pairs = jaccardOnPairs(
      minhashCandidatePairs(df, idCol, textCol), df, idCol, textCol)
      .where(col("jaccard") >= minJaccard)
    connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
  }

  /** Cluster canonicalization — the curation step after near-dup
    * clustering: per cluster keep ONE representative, chosen by the
    * largest `weightCol` (longest document wins), ties broken by the
    * smallest id. Returns (cluster_id, canonical_id, n_members,
    * canonical_weight) — the survivors of a dedup pass, plus enough
    * bookkeeping to audit what each cluster collapsed to.
    *
    * Scale: one extra shuffle on cluster_id over the (tiny) clustered
    * subset; the corpus-sized frames never re-shuffle. */
  def canonicalDocs(df: DataFrame, idCol: String, textCol: String,
      weightCol: String, minJaccard: Double = 0.5): DataFrame = {
    val clusters = nearDupClusters(df, idCol, textCol, minJaccard)
    val weighted = clusters.join(
      df.select(col(idCol).as("doc_id"), col(weightCol).as("__w")),
      "doc_id")
    weighted.groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col("__w").as("w"), (-col("doc_id")).as("negid")))
          .as("best"))
      .select(col("cluster_id"),
        (-col("best.negid")).as("canonical_id"),
        col("n_members"),
        col("best.w").as("canonical_weight"))
  }

  /** Leakage-safe train/val/test split — the assignment step every
    * eval-hygienic corpus needs: near-duplicate documents MUST land in
    * the same split, or the eval set silently overlaps the training
    * set through paraphrases. Group id = near-dup cluster id for
    * clustered documents ([[nearDupClusters]]), own id otherwise; the
    * split is a deterministic md5 bucket of the GROUP id, so a
    * verified near-dup pair can never straddle train and eval, and a
    * re-run (or a different cluster size) reproduces the identical
    * split. Thresholds are hex prefixes of md5 exactly like
    * [[graft.operators.Sampling.hashSample]]: bucket < `testHex` →
    * test, < `valHex` → val, else train.
    *
    * Scale: the clusters frame is the clustered subset only; the join
    * back to the corpus is one equi-join on the id (AQE broadcasts it
    * when small); everything after is a map-only projection. */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.5, testHex: String = "1a",
      valHex: String = "34"): DataFrame = {
    val clusters = nearDupClusters(df, idCol, textCol, minJaccard)
    val joined = df.select(col(idCol).as("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
    val canon = coalesce(col("cluster_id"), col("doc_id"))
    val h = substring(md5(canon.cast("string")), 1, 2)
    joined.select(col("doc_id"), canon.as("group_id"),
      when(h < lit(testHex), lit("test"))
        .when(h < lit(valHex), lit("val"))
        .otherwise(lit("train")).as("split"))
  }

  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blockCol: Option[Column] = None): DataFrame = {
    // norms are computed ONCE per vector before the join — inside the
    // pair loop they'd be recomputed O(N²) times
    val base = df.select(col(idCol).as("id"), quantize(col(vecCol)).as("q"),
      blockCol.getOrElse(lit(0)).as("blk"))
      .withColumn("nrm", sqrt(qdot(col("q"), col("q")).cast("double")))
    val l = base.select(col("id").as("id_a"), col("q").as("qa"),
      col("nrm").as("na"), col("blk"))
    val r = base.select(col("id").as("id_b"), col("q").as("qb"),
      col("nrm").as("nb"), col("blk"))
    val paired = blockCol match {
      case Some(_) =>
        // blocked path (the 100 TB shape): candidates only within an
        // LSH bucket — an equi-join that shuffles on real keys
        l.join(r, "blk")
      case None =>
        // exact full verification: O(N²) by construction. The pair
        // generation must PARALLELIZE, not shuffle to the single
        // constant-key partition an equi-join on blk=0 would use —
        // repartition the probe side and broadcast the build side so
        // every core scores its own slice of pairs.
        l.drop("blk").repartition(col("id_a"))
          .crossJoin(broadcast(r.drop("blk")))
    }
    paired.where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (qdot(col("qa"), col("qb")).cast("double") /
          (col("na") * col("nb"))).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Signed-random-projection LSH blocking for embedding near-dup
    * (Charikar 2002, SimHash over vectors) — the bucketed scale path
    * for cosine near-dup when no clustering pass is wanted: `nTables`
    * independent `bits`-bit keys per vector, each bit the sign of an
    * integer dot with a deterministic ±1 hyperplane; candidates are
    * bucket collisions (equi-join on (table, key), never all-pairs),
    * then verified with the exact quantized cosine and thresholded.
    *
    * Hyperplane signs come from pure integer arithmetic (multiply /
    * mod parity — no engine hash function), so an external engine
    * reproduces the blocking bit for bit; with the verify stage both
    * engines emit the identical pair set. Recall per pair at angle θ:
    * 1-(1-(1-θ/π)^bits)^nTables — tune (nTables, bits) per corpus.
    * Per-key bucket width bounds the join fan-out exactly like the
    * minhash band join; AQE handles residual skew. */
  def srpBlockedNearDup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nTables: Int = 4, bits: Int = 8): DataFrame = {
    val base = df.select(col(idCol).as("id"), quantize(col(vecCol)).as("q"))
    // keys from the codegen'd kernel (one compiled call per row; the
    // equivalent nested-HOF form dispatches an interpreted lambda per
    // (table, bit, dim) element — measured 2.4s vs 0.6s at sf0.1).
    // One banded plan on both sides of the self-join, as in
    // minhashCandidatePairs: the (t,k) Exchange canonicalizes equal
    // and is computed once (ReusedExchange)
    val keyed = base.select(col("id"),
      posexplode(graft.expressions.VectorExpressions
        .srpKeysN(col("q"), nTables, bits)))
      .withColumnRenamed("pos", "t").withColumnRenamed("col", "k")
    val ka = keyed.alias("a")
    val kb = keyed.alias("b")
    val pairs = ka
      .join(kb, col("a.t") === col("b.t") && col("a.k") === col("b.k"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    // exact verify: same quantized-integer cosine as embeddingNearDup
    val v = base
      .withColumn("nrm", sqrt(qdot(col("q"), col("q")).cast("double")))
    val l = v.select(col("id").as("id_a"), col("q").as("qa"),
      col("nrm").as("na"))
    val r = v.select(col("id").as("id_b"), col("q").as("qb"),
      col("nrm").as("nb"))
    pairs.join(l, "id_a").join(r, "id_b")
      .select(col("id_a"), col("id_b"),
        (qdot(col("qa"), col("qb")).cast("double") /
          (col("na") * col("nb"))).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Default hot-band threshold of every Hamming entry point: a band
    * key holding more than this many distinct hashes (pair search)
    * or index rows (probes) leaves the flat join. Callers reading a
    * stats sidecar ([[BandIndexStore.readHotBands]]) pass the same
    * value to the probe, so the two thresholds cannot drift apart. */
  val DefaultMaxBandDf: Long = 100000L

  /** How a Hamming fingerprint is stored: 64-bit `long` hashes, or
    * WIDE `array<long>` ones (128/256-bit PDQ-class hashes — at ~10^10
    * images even two-level 64-bit band keys go dense). Every Hamming
    * operation below has ONE body over a layout. Words are
    * little-endian (global bit i = bit (i mod 64) of word (i div
    * 64)); `Long64`'s one word is the `long` column itself, so the
    * 64-bit joins and shuffles stay on `long` keys. Each layout keeps
    * its own band count and key family: persisted keys must not
    * change. */
  private[graft] sealed abstract class FpLayout(val nWords: Int,
      val family: String, val keyFamily: String, val sqlType: String) {
    final def bits: Int = 64 * nWords
    /** the input hash column in this layout */
    def cast(h: Column): Column
    /** word `i` (0-based) as a `long` */
    def word(h: Column, i: Int): Column
    /** the typed all-zero hash */
    def zero: Column
    def nBands(maxDist: Int): Int
    /** the band-key prefix pinning the banding geometry */
    def keyPrefix(maxDist: Int): String
    /** the public name of operation `op` for this layout */
    def api(op: String): String
    final def requireMaxDist(maxDist: Int): Unit =
      require(maxDist >= 0 && maxDist < bits, s"bad maxDist $maxDist")
  }

  private[graft] object FpLayout {
    /** 64-bit hashes: `maxDist + 1` bands (one 64-bit band at
      * maxDist 0), keys `hb<nBands>.<b>:<value>`. */
    case object Long64 extends FpLayout(1, "64-bit", "hb", "bigint") {
      def cast(h: Column): Column = h.cast("long")
      def word(h: Column, i: Int): Column = {
        require(i == 0, s"word $i of a 64-bit hash"); h
      }
      def zero: Column = lit(0L)
      def nBands(maxDist: Int): Int = maxDist + 1
      def keyPrefix(maxDist: Int): String = s"hb${nBands(maxDist)}."
      def api(op: String): String = op
    }

    /** `nWords`-word hashes: at least maxDist + 1 bands (pigeonhole)
      * and enough that every band fits 63 bits — more bands than
      * maxDist + 1 keep 100% recall (≤ maxDist differing bits still
      * leave ≥ 1 band untouched). Keys `hw<bits>.<nBands>.<b>:<value>`:
      * the hash width AND the band count live in the key. */
    final case class Words(n: Int)
        extends FpLayout(n, "wide", "hw", "array<bigint>") {
      require(n >= 1 && n <= 16, s"bad nWords $n")
      def cast(h: Column): Column = h
      def word(h: Column, i: Int): Column = element_at(h, i + 1)
      def zero: Column = array(Seq.fill(n)(lit(0L)): _*)
      def nBands(maxDist: Int): Int = math.max(maxDist + 1, (bits + 62) / 63)
      def keyPrefix(maxDist: Int): String = s"hw$bits.${nBands(maxDist)}."
      def api(op: String): String = op + "Wide"
    }
  }

  /** Unsigned bit-slice `[lo, lo+width)` of a `long` column. */
  private def bitSlice(h: Column, lo: Int, width: Int): Column = {
    val mask = if (width >= 64) -1L else (1L << width) - 1
    shiftrightunsigned(h, lo).bitwiseAND(lit(mask))
  }

  /** Bits `[lo, lo+width)` of a fingerprint as one long; may span one
    * word boundary. Band and sub-band widths stay ≤ 63 (sign bit
    * clear), except the whole-hash band of a 64-bit key at maxDist 0. */
  private def fpSlice(fp: FpLayout, h: Column, lo: Int,
      width: Int): Column = {
    require(width >= 0 && width <= 64, s"bad slice width $width")
    if (width == 0) return lit(0L)
    val w0 = lo / 64
    val off = lo % 64
    if (off + width <= 64) bitSlice(fp.word(h, w0), off, width)
    else {
      val lowW = 64 - off
      shiftleft(bitSlice(fp.word(h, w0 + 1), 0, width - lowW), lowW)
        .bitwiseOR(bitSlice(fp.word(h, w0), off, lowW))
    }
  }

  /** Exact Hamming distance: an unrolled per-word xor/popcount sum
    * (one `bit_count` for a 64-bit hash). */
  private[graft] def fpDist(fp: FpLayout, a: Column, b: Column): Column =
    (0 until fp.nWords)
      .map(i => bit_count(fp.word(a, i).bitwiseXOR(fp.word(b, i))))
      .reduce(_ + _)

  /** One level-2 sub-key: complement coordinates `[c0, c1)` of the
    * band `[lo, hi)` (complement = all bits outside the band, in
    * increasing position order), packed into one long. The interval
    * maps to at most two contiguous original-bit runs (the complement
    * has at most two contiguous regions), each ≤ 63 bits. */
  private def complementSlice(fp: FpLayout, h: Column, lo: Int, hi: Int,
      c0: Int, c1: Int): Column = {
    if (c1 <= c0) return lit(0L)
    def orig(c: Int) = if (c < lo) c else hi + (c - lo)
    if (c1 <= lo || c0 >= lo) fpSlice(fp, h, orig(c0), c1 - c0)
    else {
      val w1 = lo - c0
      shiftleft(fpSlice(fp, h, hi, c1 - lo), w1)
        .bitwiseOR(fpSlice(fp, h, c0, w1))
    }
  }

  /** Hamming near-dup pairs over 64-bit fingerprints (perceptual
    * hashes like [[graft.sources.Multimodal.aHash64]], SimHash) by
    * pigeonhole banding: split each hash into `maxDist + 1`
    * contiguous bit bands — two hashes within Hamming distance
    * `maxDist` MUST agree exactly on at least one band (pigeonhole:
    * ≤ maxDist differing bits cannot touch all maxDist+1 bands) — so
    * candidates come from an equi-join on (band index, band value),
    * NEVER all-pairs, and are then verified with the exact
    * `bit_count(a XOR b) ≤ maxDist`. 100% recall by construction
    * (unlike probabilistic LSH). Returns (id_a < id_b, dist).
    *
    * Degenerate-corpus guards (real image corpora are NOT uniform —
    * flat/blank thumbnails collapse to a handful of hash values, the
    * exact shape image dedup exists for):
    *   - IDENTICAL hashes never enter the band join at all: the
    *     banded search runs over DISTINCT fingerprints only, and
    *     identical-hash pairs come from one exact equi-join on the
    *     full hash (per-hash output is the true duplicate set —
    *     output-bound, AQE-skew-splittable, no wasted verification);
    *   - bands holding more than `maxBandDf` DISTINCT hashes are
    *     routed out of the flat pair join into a SECOND pigeonhole
    *     level over the band's complement bits (the multi-index
    *     -hashing construction, Norouzi et al. 2012): hashes agreeing
    *     on a hot band and within `maxDist` overall differ by ≤
    *     maxDist bits on the remaining bits, so they share one of
    *     the complement's sub-bands — the candidate key roughly
    *     doubles in width, shrinking per-key width quadratically
    *     while preserving EXACT 100% recall (unlike a df-cap drop,
    *     nothing is ever skipped). This is also the planet-scale
    *     path: at 10^10 fingerprints every 16-bit band is "hot" under
    *     any sane cap, and the doubled key is what keeps per-key
    *     candidate width bounded;
    *   - a level-2 sub-band still holding more than `maxBandDf`
    *     DISTINCT hashes is refused loudly with its density, never
    *     joined output-quadratically. */
  def hammingNearDup(df: DataFrame, idCol: String, hashCol: String,
      maxDist: Int = 3, maxBandDf: Long = DefaultMaxBandDf): DataFrame =
    fpNearDup(FpLayout.Long64, df, idCol, hashCol, maxDist, maxBandDf)

  /** [[hammingNearDup]] over WIDE (`array<long>`, `nWords` words)
    * fingerprints; dist is exact over all 64·nWords bits. */
  def hammingNearDupWide(df: DataFrame, idCol: String, hashCol: String,
      nWords: Int, maxDist: Int = 6, maxBandDf: Long = DefaultMaxBandDf)
      : DataFrame =
    fpNearDup(FpLayout.Words(nWords), df, idCol, hashCol, maxDist,
      maxBandDf)

  private def fpNearDup(fp: FpLayout, df: DataFrame, idCol: String,
      hashCol: String, maxDist: Int, maxBandDf: Long): DataFrame = {
    // Materialize the (id, h) projection once: the pair search
    // references it 5× and the upstream may be an expensive computed
    // hash (decode once, decide on small rows). LAZY: the pair
    // search's hot-key collect is the first action and fills it inside
    // its own job — no separate barrier job (§1.5 job hygiene).
    val base = df.select(col(idCol).as("id"), fp.cast(col(hashCol)).as("h"))
      .localCheckpoint(eager = false)
    fpPairs(fp, base, maxDist, maxBandDf, skipIdent = false)
  }

  /** The pair search over a pre-materialized (id, h) frame.
    * `skipIdent` drops the identical-hash equi-join when the caller
    * guarantees hashes are DISTINCT (e.g. [[imageDedupClusters]]'
    * per-hash representatives — the join is provably empty there). */
  private def fpPairs(fp: FpLayout, base: DataFrame, maxDist: Int,
      maxBandDf: Long, skipIdent: Boolean): DataFrame = {
    fp.requireMaxDist(maxDist)
    require(maxBandDf >= 1, s"bad maxBandDf $maxBandDf")
    // identical fingerprints: one equi-join on the full hash — these
    // pairs are all true duplicates (dist 0), so the join output IS
    // the answer, never a candidate set to verify
    lazy val ident = base.alias("a").join(base.alias("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        fpDist(fp, col("a.h"), col("b.h")).as("dist"))
    // distinct hashes have no pair at distance 0: the empty frame
    // (limit 0 plans as an empty relation, no job)
    if (maxDist == 0) return if (skipIdent) ident.limit(0) else ident

    val bits = fp.bits
    val nBands = fp.nBands(maxDist)
    // skipIdent ⇒ hashes already DISTINCT: no exchange + aggregate
    // for a distinct on data that is already unique (guide §2.4)
    val hs =
      if (skipIdent) base.select(col("h"))
      else base.select(col("h")).distinct()
    // band b covers bits [b·bits/nBands, (b+1)·bits/nBands) (the
    // pigeonhole argument only needs a partition) and carries its
    // level-2 sub-keys, used only if the band goes over the cap
    val bands = (0 until nBands).map { b =>
      val lo = b * bits / nBands
      val hi = (b + 1) * bits / nBands
      val cw = bits - (hi - lo)
      val sks = (0 until nBands).map { b2 =>
        complementSlice(fp, col("h"), lo, hi,
          b2 * cw / nBands, (b2 + 1) * cw / nBands)
      }
      struct(lit(b).as("t"), fpSlice(fp, col("h"), lo, hi - lo).as("k"),
        array(sks: _*).as("sks"))
    }
    // Materialized once: the hot-key aggregate, the cold anti/semi
    // routing and the two self-join sides otherwise re-run the
    // distinct's final aggregate + band explode per plan branch (6
    // subtree evaluations — exchange reuse only shares the shuffle
    // write, not the post-shuffle work). LAZY: the hot-key collect
    // right below is the first action and populates the cache inside
    // its own job — no separate materialization barrier.
    val keyed = hs
      .select(col("h"), explode(array(bands: _*)).as("bk"))
      .select(col("h"), col("bk.t").as("t"), col("bk.k").as("k"),
        col("bk.sks").as("sks"))
      .localCheckpoint(eager = false)
    // hot set = (t, k) keys holding > maxBandDf DISTINCT hashes; tiny
    // by construction (≤ bandRows / maxBandDf keys). COLLECTED to the
    // driver (one job) and re-planted as a LocalRelation, so when the
    // set is EMPTY — the normal shape under the default cap — the
    // whole hot routing (anti/semi joins, level-2 sub-band pair join,
    // escalation guard) is pruned from the plan instead of executing
    // as empty stages; a non-empty set keeps the full routing over an
    // exactly-sized broadcast relation.
    val sparkS = base.sparkSession
    import sparkS.implicits._
    val hotKeys = keyed.groupBy(col("t"), col("k"))
      .agg(count(lit(1)).as("n")).where(col("n") > maxBandDf)
      .select(col("t"), col("k"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val coldPairsOf = (cold: DataFrame) => cold.alias("a")
      .join(cold.alias("b"),
        col("a.t") === col("b.t") && col("a.k") === col("b.k") &&
          col("a.h") < col("b.h"))
      .select(col("a.h").as("ha"), col("b.h").as("hb"))
    val rawPairs = if (hotKeys.isEmpty) coldPairsOf(keyed) else {
      val hot = hotKeys.toDF("t", "k") // LocalRelation: job-less broadcast
      val cold = keyed.join(broadcast(hot), Seq("t", "k"), "left_anti")
        .select(col("h"), col("t"), col("k"))
      val hotK = keyed.join(broadcast(hot), Seq("t", "k"), "left_semi")
        .select(col("h"), col("t"), col("k"),
          posexplode(col("sks")).as(Seq("t2", "k2")))
      val hotPairs = hotK.alias("a").join(hotK.alias("b"),
          col("a.t") === col("b.t") && col("a.k") === col("b.k") &&
            col("a.t2") === col("b.t2") && col("a.k2") === col("b.k2") &&
            col("a.h") < col("b.h"))
        .select(col("a.h").as("ha"), col("b.h").as("hb"))
      // escalation guard — never silently quadratic: a level-2 sub-band
      // key still holding more than maxBandDf DISTINCT hashes means the
      // corpus is denser than the two-level pigeonhole can bound
      // (density ≫ 2^(2·bandwidth)); joining such a key would be
      // output-quadratic, so REFUSE with the measured density instead.
      // Zero extra jobs: the check is a zero-rows-unless-violated frame
      // unioned into the pair plan (the aggregate reuses hotK's shuffle
      // keys), and the raise_error fires only if a violating key exists.
      val hot2 = hotK.groupBy(col("t"), col("k"), col("t2"), col("k2"))
        .agg(count(lit(1)).as("n2")).where(col("n2") > maxBandDf)
      // hb must be a NON-NULL literal: a null literal would let the
      // optimizer null-propagate the dist expression to constant null,
      // prune the raise_error column, and silently drop the guard
      val guard = hot2.select(
        raise_error(format_string(
          s"${fp.api("hammingNearDup")}: level-2 sub-band (band %s, " +
            "sub-band %s) still holds %s distinct hashes > maxBandDf — " +
            "corpus density exceeds the two-level pigeonhole bound; " +
            "raise maxBandDf or collapse identical hash regions first",
          col("t"), col("t2"), col("n2"))).cast(fp.sqlType).as("ha"),
        fp.zero.as("hb"))
      coldPairsOf(cold).unionByName(hotPairs).unionByName(guard)
    }
    val hashPairs = rawPairs
      .withColumn("dist", fpDist(fp, col("ha"), col("hb")))
      .where(col("dist") <= maxDist)
      .distinct()
    // expand verified DISTINCT-hash pairs back to member id pairs
    // (groups are disjoint, so each id pair surfaces exactly once)
    val expanded = hashPairs
      .join(base.select(col("id").as("ia"), col("h").as("ha")), "ha")
      .join(base.select(col("id").as("ib"), col("h").as("hb")), "hb")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("dist"))
    if (skipIdent) expanded else expanded.unionByName(ident)
  }

  /** The [[hammingNearDup]] banding as persistable (id, band STRING)
    * rows — the fingerprint analog of [[bandIndex]], so a perceptual
    * -hash image index lives in the same [[BandIndexStore]] lifecycle
    * (snapshot, log generations, tombstones, dirty-bucket compaction)
    * via `writeBands`/`appendBands`. Band keys carry the BAND COUNT
    * and the band number (`hb<nBands>.<b>:<value>`): the number keeps
    * values from different bit ranges from colliding, and the count
    * pins the banding geometry — probing a maxDist=6 index with
    * maxDist=3 would silently equi-join different bit ranges under
    * the same key otherwise; with the count in the key such a
    * mismatch can never join, and [[incrementalHammingCandidates]]
    * additionally REFUSES it loudly (one-row sample check). */
  def hammingBands(df: DataFrame, idCol: String, hashCol: String,
      maxDist: Int = 3): DataFrame =
    fpBands(FpLayout.Long64, df, idCol, hashCol, maxDist)

  /** [[hammingBands]] for wide fingerprints, under the
    * `hw<bits>.<nBands>.<b>:<value>` key family — a probe with
    * mismatched width or maxDist can never equi-join, and
    * [[incrementalHammingCandidatesWide]] refuses it loudly. */
  def hammingBandsWide(df: DataFrame, idCol: String, hashCol: String,
      nWords: Int, maxDist: Int = 6): DataFrame =
    fpBands(FpLayout.Words(nWords), df, idCol, hashCol, maxDist)

  private[graft] def fpBands(fp: FpLayout, df: DataFrame, idCol: String,
      hashCol: String, maxDist: Int): DataFrame = {
    fp.requireMaxDist(maxDist)
    val nBands = fp.nBands(maxDist)
    val prefix = fp.keyPrefix(maxDist)
    val bands = (0 until nBands).map { b =>
      val lo = b * fp.bits / nBands
      val hi = (b + 1) * fp.bits / nBands
      concat(lit(s"$prefix$b:"),
        fpSlice(fp, col("h"), lo, hi - lo).cast("string"))
    }
    df.select(col(idCol).cast("long").as("id"),
        fp.cast(col(hashCol)).as("h"))
      .select(col("id"), explode(array(bands: _*)).as("band"))
  }

  /** The band-key families a persisted [[BandIndexStore]] index can
    * hold: key prefix → (what its rows are, the API that probes
    * them). Every geometry check refuses the families that are not
    * its own with a pointer to the right API. */
  private val bandFamilies = Seq(
    "hb" -> ("64-bit fingerprint bands", "incrementalHammingCandidates"),
    "hw" -> ("WIDE fingerprint bands", "incrementalHammingCandidatesWide"),
    "cdc" -> ("CDC chunk bands", "incrementalCdcChunkDedup"))

  /** One bounded driver read sampling each band-key family present
    * in a persisted index — ONE Spark action instead of one limit-1
    * collect per family (the per-family branches stay independent
    * short-circuiting local limits, never a full index scan, and a
    * MIXED index surfaces every family deterministically, not
    * whichever row partition ordering yields first). Refuses any
    * family but `own` (probed by the `probe` API) and returns a
    * sampled `own` key, if the index holds one. */
  private def ownBandKey(index: DataFrame, own: String,
      probe: String): Option[String] = {
    val prefixes = bandFamilies.map(_._1)
    val bands = index.select(col("band"))
    val sampled = prefixes
      .map(p => bands.where(col("band").startsWith(p)).limit(1))
      .reduce(_.unionAll(_))
      .collect().map(_.getString(0))
      .flatMap(k => prefixes.find(k.startsWith).map(_ -> k)).toMap
    for ((fam, (what, api)) <- bandFamilies if fam != own;
         k <- sampled.get(fam))
      require(false,
        s"index holds $what ('$k') — probe with $api, not the $probe API")
    sampled.get(own)
  }

  /** Loud geometry check for a persisted fingerprint index: the
    * sampled key must carry the probe's prefix (`hb<n>.` /
    * `hw<bits>.<n>.`) — a width or maxDist mismatch, or an `hb`
    * index that predates band-count encoding, would otherwise
    * return silently-empty candidates forever, since mismatched keys
    * can never equi-join. Shared by the batch probe and the
    * streaming probe ([[graft.streaming.Streams]]). */
  private[graft] def checkHammingIndexGeometry(index: DataFrame,
      fp: FpLayout, maxDist: Int): Unit = {
    val expect = fp.keyPrefix(maxDist)
    ownBandKey(index, fp.keyFamily, fp.family)
      .filterNot(_.startsWith(expect)).foreach { key =>
        require(false, fp match {
          case FpLayout.Long64 =>
            val enc = key.stripPrefix("hb").takeWhile(_ != '.')
            if (!key.contains(".") || enc.isEmpty || !enc.forall(_.isDigit))
              s"index band key '$key' predates band-count encoding — " +
                "rebuild the index"
            else s"index was banded with maxDist ${enc.toInt - 1}, " +
              s"probe uses maxDist $maxDist"
          case FpLayout.Words(n) =>
            s"index band key '$key' does not match wide probe geometry " +
              s"'$expect' (nWords=$n, maxDist=$maxDist) — rebuild the " +
              "index or fix the probe parameters"
        })
      }
  }

  /** Incremental Hamming near-dup: candidates of a NEW batch against
    * the PERSISTED fingerprint index (the image re-crawl shape — the
    * [[incrementalNearDupCandidates]] sibling for perceptual hashes):
    * band the batch now, equi-join the resolved index's band rows,
    * emit distinct (batch_id, corpus_id) candidates. The pigeonhole
    * guarantee carries over: every (batch, corpus) pair within
    * `maxDist` shares a band, so recall vs the index is 100% by
    * construction; the caller verifies exact distances against its
    * hash table (the index stores bands only, like the minhash form).
    *
    * Geometry check: the probe REFUSES an index banded with a
    * different maxDist or hash width, or holding another band family
    * ([[checkHammingIndexGeometry]] — a mismatch would otherwise
    * return silently-empty candidates).
    *
    * Hot-band guard (same hazard as [[hammingNearDup]]): the batch
    * side probes once per DISTINCT batch fingerprint (members are
    * re-expanded after the join — exact, internal); on the index
    * side, bands holding more than `maxBandDf` index rows are routed
    * out of the direct join and deduplicated per DISTINCT corpus
    * hash first when `corpusHashes` (an `(id, hash)` frame covering
    * the index's live ids — the table any real pipeline keeps) is
    * supplied, then re-expanded through the index's own rows so
    * tombstoned ids can never resurface. Both routes are EXACT —
    * recall stays 100%; without `corpusHashes` the hot bands fall
    * back to the direct join (still exact, output-bound, AQE
    * -skew-splittable) and the guard only bounds the batch side. */
  def incrementalHammingCandidates(batch: DataFrame, idCol: String,
      hashCol: String, index: DataFrame, maxDist: Int = 3,
      corpusHashes: Option[DataFrame] = None,
      maxBandDf: Long = DefaultMaxBandDf,
      hotBands: Option[Seq[String]] = None): DataFrame =
    fpProbe(FpLayout.Long64, batch, idCol, hashCol, index, maxDist,
      corpusHashes, maxBandDf, hotBands)

  /** [[incrementalHammingCandidates]] for wide fingerprints. */
  def incrementalHammingCandidatesWide(batch: DataFrame, idCol: String,
      hashCol: String, index: DataFrame, nWords: Int, maxDist: Int = 6,
      corpusHashes: Option[DataFrame] = None,
      maxBandDf: Long = DefaultMaxBandDf,
      hotBands: Option[Seq[String]] = None): DataFrame =
    fpProbe(FpLayout.Words(nWords), batch, idCol, hashCol, index,
      maxDist, corpusHashes, maxBandDf, hotBands)

  private[graft] def fpProbe(fp: FpLayout, batch: DataFrame, idCol: String,
      hashCol: String, index: DataFrame, maxDist: Int,
      corpusHashes: Option[DataFrame], maxBandDf: Long,
      hotBands: Option[Seq[String]]): DataFrame = {
    require(maxBandDf >= 1, s"bad maxBandDf $maxBandDf")
    checkHammingIndexGeometry(index, fp, maxDist)
    // batch projection materialized once (referenced by the distinct
    // -rep aggregate and the final member expansion; the upstream may
    // be an expensive computed hash)
    val bh = batch.select(col(idCol).cast("long").as("bid"),
      fp.cast(col(hashCol)).as("bhash")).localCheckpoint()
    // probe once per distinct batch fingerprint
    val reps = bh.groupBy(col("bhash")).agg(min(col("bid")).as("rep"))
    val b = fpBands(fp, reps, "rep", "bhash", maxDist)
      .select(col("id").as("rep"), col("band"))
    val idx = index.select(col("id").as("cid"), col("band"))
    // hot band set (≤ indexRows / maxBandDf): from the caller's
    // write-time stats sidecar when available (no index scan at all),
    // else the full aggregate, COLLECTED and re-planted as a
    // LocalRelation. The hot/cold routes partition the index rows and
    // are result-identical, so a stats approximation only shifts
    // bands between two exact routes; an EMPTY set (the normal shape
    // under the default cap) prunes the whole hot routing.
    val sparkS = bh.sparkSession
    import sparkS.implicits._
    val hotKeys = hotBands.getOrElse(
      idx.groupBy(col("band")).agg(count(lit(1)).as("n"))
        .where(col("n") > maxBandDf).select(col("band"))
        .collect().map(_.getString(0)).toSeq)
    val cands = if (hotKeys.isEmpty) {
      b.join(idx, "band").select(col("rep"), col("cid"))
    } else {
      val hot = hotKeys.toDF("band")
      val coldCands = b
        .join(idx.join(broadcast(hot), Seq("band"), "left_anti"), "band")
        .select(col("rep"), col("cid"))
      val hotIdx = idx.join(broadcast(hot), Seq("band"), "left_semi")
      val hotCands = corpusHashes match {
        case Some(ch0) =>
          // contract: first column = id, second = the hash
          val ch = ch0.select(col(ch0.columns.head).cast("long").as("cid"),
            fp.cast(col(ch0.columns(1))).as("chash"))
          // LEFT join: an index id missing from the caller's hash table
          // must not silently lose recall — uncovered rows fall back to
          // the direct (exact, possibly wide) route instead
          val hotIdxH = hotIdx.join(ch, Seq("cid"), "left")
          val covered = hotIdxH.where(col("chash").isNotNull)
          val uncovered = hotIdxH.where(col("chash").isNull)
            .select(col("cid"), col("band"))
          val hotDistinct = covered.select(col("band"), col("chash"))
            .distinct()
          b.join(hotDistinct, "band") // ≤ distinct-hash fan-out
            // expand through the index's own rows — live ids only
            .join(covered, Seq("band", "chash"))
            .select(col("rep"), col("cid"))
            .unionByName(
              b.join(uncovered, "band").select(col("rep"), col("cid")))
        case None =>
          b.join(hotIdx, "band").select(col("rep"), col("cid"))
      }
      coldCands.unionByName(hotCands)
    }
    val repPairs = cands.distinct()
    // expand batch members: every batch id sharing the rep's hash;
    // terminal distinct keeps the documented contract (distinct
    // (batch_id, corpus_id)) even for batches carrying duplicate
    // (id, hash) rows
    repPairs
      .join(reps.select(col("rep"), col("bhash")), "rep")
      .join(bh, "bhash")
      .where(col("bid") =!= col("cid"))
      .select(col("bid").as("batch_id"), col("cid").as("corpus_id"))
      .distinct()
  }

  /** O(N) keep/drop decisions for image dedup — the composition a
    * 100 TB pipeline actually consumes ([[hammingNearDup]] →
    * [[connectedComponents]] → canonical selection), returning ONE
    * row per input image: (id, cluster_id, keep), where cluster_id
    * is the smallest id in the image's Hamming-closure cluster and
    * keep marks that canonical representative.
    *
    * Crucially the pair graph is built over DISTINCT fingerprints
    * only: a million identical flat thumbnails contribute ONE node
    * (their shared hash's min-id representative), never 10^11 pairs
    * — members inherit their representative's component through a
    * final O(N) join. Output and every intermediate stay linear in
    * the input except the verified distinct-hash pair set itself,
    * which the [[hammingNearDup]] hot-band routing bounds. Cluster
    * transitivity is Hamming-closure semantics (A≈B≈C clusters ABC
    * even if dist(A,C) > maxDist) — the standard dedup contract,
    * same as [[nearDupClusters]]. */
  def imageDedupClusters(df: DataFrame, idCol: String, hashCol: String,
      maxDist: Int = 3, maxBandDf: Long = DefaultMaxBandDf): DataFrame =
    fpClusters(FpLayout.Long64, df, idCol, hashCol, maxDist, maxBandDf)

  /** [[imageDedupClusters]] over WIDE fingerprints. */
  def imageDedupClustersWide(df: DataFrame, idCol: String,
      hashCol: String, nWords: Int, maxDist: Int = 6,
      maxBandDf: Long = DefaultMaxBandDf): DataFrame =
    fpClusters(FpLayout.Words(nWords), df, idCol, hashCol, maxDist,
      maxBandDf)

  private def fpClusters(fp: FpLayout, df: DataFrame, idCol: String,
      hashCol: String, maxDist: Int, maxBandDf: Long): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"),
      fp.cast(col(hashCol)).as("h"))
    // one (h → min id) representative per distinct fingerprint,
    // materialized once: it feeds the banded pair search AND the
    // final member-inheritance join. LAZY: the pair search's hot-key
    // collect computes reps (via the banding chain) inside its own
    // job — no separate barrier.
    val reps = base.groupBy(col("h")).agg(min(col("id")).as("rep"))
      .localCheckpoint(eager = false)
    // distinct-fingerprint pair graph; hashes are unique here so the
    // identical-hash join is provably empty — skipped outright
    val repPairs = fpPairs(fp,
      reps.select(col("rep").as("id"), col("h")), maxDist, maxBandDf,
      skipIdent = true)
    val cc = connectedComponents(repPairs, "id_a", "id_b")
      .select(col("id").as("rep"), col("component"))
    base.join(reps, "h")
      .join(cc, Seq("rep"), "left")
      .select(col("id"),
        coalesce(col("component"), col("rep")).as("cluster_id"))
      .withColumn("keep", col("id") === col("cluster_id"))
  }

  /** Semantic dedup (the SemDeDup shape, Abbas et al. 2023): cluster
    * the embedding space, then search for near-duplicates only WITHIN
    * each cluster — the clustering turns the O(N²) pair scan into an
    * equi-join on the cell id whose per-key width is the cell size.
    *
    * Cells here are Voronoi regions of the deterministic sampled
    * centroid set (`id % centroidEvery == 0`), assigned with the same
    * map-side-combinable broadcast argmax as [[Similarity.ivfTopK]].
    * Within a cell, a vector is dropped iff some SMALLER id in the
    * same cell has quantized cosine ≥ threshold to it (one-pass
    * keep-the-lowest-id semantics — deterministic, no iteration).
    *
    * Returns one row per input vector: (id, cell, kept). All
    * arithmetic is integer dot products + IEEE sqrt/divide —
    * bit-identical cross-engine.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, centroidEvery: Int = 25,
      centroidCap: Int = 256): DataFrame = {
    val base = df.select(col(idCol).as("id"), quantize(col(vecCol)).as("q"))
      .withColumn("nrm", sqrt(qdot(col("q"), col("q")).cast("double")))
    // same guard as Similarity.pqTrain: an empty centroid sample would
    // cross-join everything away and silently return an empty frame,
    // breaking the one-row-per-input contract
    require(df.isEmpty ||
      !df.where(col(idCol) % centroidEvery === 0).isEmpty,
      s"semantic-dedup centroid sample is empty (no $idCol % $centroidEvery == 0 rows)")
    // capped centroid set (lowest sampled ids, TakeOrderedAndProject)
    // keeps the N×|C| assignment linear in N — see Similarity.ivfTopK
    val cent = broadcast(base.where(col("id") % centroidEvery === 0)
      .select(col("id").as("cid"), col("q").as("cv"), col("nrm").as("cn"))
      .orderBy(col("cid")).limit(centroidCap))
    // nearest centroid via max(struct(cos, -cid)): map-side combinable,
    // collapses the |N|×|C| expansion before any shuffle
    val assigned = base.crossJoin(cent)
      .select(col("id"), col("q"), col("nrm"),
        struct((qdot(col("q"), col("cv")).cast("double") /
          (col("nrm") * col("cn"))).as("c"), (-col("cid")).as("nc")).as("sc"))
      .groupBy(col("id"))
      .agg(first(col("q")).as("q"), first(col("nrm")).as("nrm"),
        max(col("sc")).as("m"))
      .select(col("id"), col("q"), col("nrm"), (-col("m.nc")).as("cell"))
    val l = assigned.select(col("id").as("id_a"), col("q").as("qa"),
      col("nrm").as("na"), col("cell"))
    val r = assigned.select(col("id").as("id_b"), col("q").as("qb"),
      col("nrm").as("nb"), col("cell"))
    val dropped = l.join(r, "cell")
      .where(col("id_a") < col("id_b"))
      .where((qdot(col("qa"), col("qb")).cast("double") /
        (col("na") * col("nb"))) >= threshold)
      .select(col("id_b").as("id")).distinct()
    assigned.select(col("id"), col("cell"))
      .join(dropped.withColumn("__drop", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(!col("__drop"), lit(true)).as("kept"))
  }

  /** Chunk-level exact dedup (the CCNet/RefinedWeb paragraph-dedup
    * shape, over fixed token windows since the corpus has no paragraph
    * breaks): each document is cut into disjoint `chunkTokens`-token
    * chunks; a chunk occurring in more than one place corpus-wide is a
    * duplicate. Returns per-document (id, n_chunks, n_dup_chunks).
    *
    * Scale shape: one explode + one hash aggregate on the chunk text +
    * one equi-join back — the aggregate gets map-side partial combine,
    * and the join-key cardinality is bounded by corpus token count /
    * chunkTokens. No pairwise comparisons anywhere.
    */
  /** Incremental (cross-snapshot) exact dedup: the production shape
    * where a new crawl batch is deduplicated against an existing
    * corpus without reprocessing the corpus. Survivors are new docs
    * that (a) are the min-id representative of their in-batch
    * duplicate group and (b) whose fingerprint does not already exist
    * in the corpus. Returns (id, fp).
    *
    * Scale shape: the corpus contributes only its distinct digest set
    * (one column — in practice a fraction of corpus bytes, and the
    * natural thing to keep as a materialized "seen" table between
    * snapshots); the batch side is one hash aggregate + one anti-join.
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val bfp = batch.select(col(idCol), md5(col(textCol)).as("fp"))
    val keep = bfp.groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
    keep.join(corpus.select(md5(col(textCol)).as("fp")),
        Seq("fp"), "left_anti")
      .select(col(idCol), col("fp"))
  }

  /** Incremental NEAR-dup candidates: a new crawl batch probes the
    * existing corpus's LSH band index without any batch↔batch or
    * corpus↔corpus comparison — the cross-snapshot form of
    * [[minhashCandidatePairs]], sharing the same [[bandKeysExpr]]
    * banding (so batch, corpus, and the streaming ingest index can
    * never diverge on what counts as a candidate).
    *
    * `corpusBands` is the persisted (id, band) table — the thing a
    * production pipeline keeps materialized between snapshots (build
    * it with [[bandIndex]]). Returns distinct (batch_id, corpus_id)
    * candidates; exact-Jaccard verification composes downstream via
    * [[jaccardOnPairs]].
    *
    * Hot-band contract (no df cap here, by measurement): a minhash
    * band key only goes hot when many documents share a FULL band of
    * signature minima, which on real corpora means verbatim/near
    * -verbatim duplicates — those candidates verify at jaccard ≈ 1,
    * so the fan-out is OUTPUT-bound (true pairs), not wasted work,
    * and the single hot key is the AQE-skew-split case. Measured by
    * a since-deleted scale probe (`minhash_band_skew`, 2% of docs
    * sharing one text):
    * candidates track the true-pair count K²/2 exactly — 3.1M/19.3M/
    * 77.4M rows at 20×/50×/100× with no all-pairs term over the
    * other 98% — and wall time follows the output (8.8/16.4/97.3 s).
    * This differs from the HAMMING band family, where a 9-16-bit
    * band value can collide across genuinely different fingerprints:
    * there the df cap + second pigeonhole level is load-bearing
    * ([[hammingNearDup]]); a 64-bit-minima band collision without
    * near-identical shingle sets is vanishingly rare, so a cap would
    * only add a recall carve-out for nothing. Callers needing O(N)
    * output compose [[nearDupClusters]] (components, not pairs),
    * exactly like [[imageDedupClusters]] for images.
    */
  def incrementalNearDupCandidates(batch: DataFrame, idCol: String,
      textCol: String, corpusBands: DataFrame): DataFrame = {
    val probe = Par.fanOut(batch.select(col(idCol), col(textCol)))
      .select(col(idCol).as("batch_id"),
        explode(bandKeysExpr(col(textCol))).as("band"))
    probe.join(corpusBands.select(col("id").as("corpus_id"), col("band")),
        "band")
      .select(col("batch_id"), col("corpus_id")).distinct()
  }

  /** The persisted LSH band index of a corpus: (id, band) rows under
    * the shared [[bandKeysExpr]] scheme. At scale this is the table
    * you bucket/sort by band and keep between snapshots. */
  def bandIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"),
        explode(bandKeysExpr(col(textCol))).as("band"))

  /** Duplicated-span coverage — the exact-substring dedup measure of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"), set-at-a-time: a token position is covered when
    * any corpus-duplicated word `k`-gram spans it; reports per-doc
    * (id, n_tokens, n_covered). Their suffix-array pass becomes an
    * inverted-index equi-join: explode positioned k-grams → keep grams
    * with corpus count > 1 → explode each surviving gram's k positions
    * → distinct. Every step is a shuffle join/aggregate with bounded
    * fan-out (k per gram); nothing driver-side.
    */
  def dupSpanCoverage(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    val base = df.select(col(idCol), normToks(col(textCol)).as("w"))
    val grams = base.select(col(idCol),
      posexplode(graft.expressions.VectorExpressions
        .shinglesN(col("w"), k)).as(Seq("i0", "g")))
    val dup = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .where(col("c") > 1).select(col("g"))
    val covered = grams.join(dup, Seq("g"), "left_semi")
      .select(col(idCol),
        explode(sequence(col("i0"), col("i0") + (k - 1))).as("pos"))
      .distinct()
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_covered"))
    base.select(col(idCol), size(col("w")).cast("long").as("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .na.fill(0L, Seq("n_covered"))
  }

  /** Global exact-substring duplicated-RUN reconstruction — the Lee
    * et al. 2022 dedup pass as an operator, extending
    * [[dupSpanCoverage]] from coverage COUNTING to span
    * RECONSTRUCTION. Crucially it is NOT conditioned on LSH
    * candidates: duplication is decided per positioned word k-gram
    * against the WHOLE corpus, so a verbatim 200-token copy between
    * two documents that share almost no shingle minima (invisible to
    * [[minhashCandidatePairs]], hence to every candidate-pair verify
    * like [[jaccardOnPairs]]/[[lcsOnPairs]]) still surfaces here.
    *
    * A span is a maximal run of consecutive start positions whose
    * k-gram occurs more than once corpus-wide (including repeats
    * inside one document); a run of `r` starts covers `r + k − 1`
    * tokens. Spans shorter than `minTokens` are dropped. Returns one
    * row per span: (doc_id, span_start 1-based, span_len in tokens,
    * span_fp = md5 of the space-joined span tokens) — the fingerprint
    * lets a removal/clustering step group identical spans across
    * documents without re-reading text.
    *
    * Scale: the reference-paper suffix array becomes an
    * inverted-index equi-join — positioned-gram explode, one
    * map-side-combinable gram count (shuffle bounded by distinct
    * grams), a left-semi join back on the gram key (co-partitioned
    * with the count), then a doc-partitioned gaps-and-islands window
    * (i − row_number) and a per-(doc, island) aggregate. No driver
    * state, no all-pairs anywhere; skew on a viral gram is bounded by
    * the semi-join (the gram's count row, not its occurrence list, is
    * the join payload). Both gram-keyed shuffles carry an 8-byte
    * md5-prefix key, never the gram text (~40+ bytes/token at k=5 —
    * a 5-10× shuffle-byte cut at corpus scale); md5 rather than
    * xxhash64 so another engine reproduces the exact same
    * duplicated-gram decisions. A 64-bit collision can only mark a
    * unique gram duplicated (one extra start — still below
    * `minTokens` unless it abuts a real run), and the expected count
    * of colliding pairs stays below 1 until ~2^32 distinct grams;
    * corpora beyond that should widen the prefix. */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minTokens: Int = 10): DataFrame =
    dupSpansFromBase(tokBase(df, idCol, textCol), k, minTokens)

  /** Fanned-out (doc_id, tokens) projection shared by the span
    * family. The tokenize projection sits ABOVE the fan-out exchange,
    * so each consuming branch re-runs normToks post-shuffle (exchange
    * reuse shares only the scan below the repartition; at real scale,
    * where fanOut is the identity, nothing is shared) — pinning the
    * tokenized frame instead was A/B-tested in round 15 and LOST
    * (+0.3 s: it trades two cheap codegen token passes for an eager
    * materialization barrier), so the shared piece is deliberately
    * just the fanned scan. */
  private def tokBase(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    Par.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"), normToks(col(textCol)).as("w"))

  private def dupSpansFromBase(base: DataFrame, k: Int,
      minTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = base.select(col("doc_id"),
        posexplode(graft.expressions.VectorExpressions
          .shinglesN(col("w"), k)).as(Seq("i0", "g")))
      .select(col("doc_id"), col("i0"),
        unhex(substring(md5(col("g")), 1, 16)).as("h"))
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .where(col("c") > 1).select(col("h"))
    val starts = grams.join(dup, Seq("h"), "left_semi")
      .select(col("doc_id"), (col("i0") + 1).as("i"))
    val isl = starts.withColumn("grp", col("i") -
      row_number().over(Window.partitionBy("doc_id").orderBy("i")))
    isl.groupBy(col("doc_id"), col("grp"))
      .agg(min(col("i")).as("span_start"),
        (count(lit(1)) + (k - 1)).cast("long").as("span_len"))
      .where(col("span_len") >= minTokens)
      .join(base, "doc_id")
      .select(col("doc_id"), col("span_start").cast("long"),
        col("span_len"),
        md5(concat_ws(" ",
          slice(col("w"), col("span_start"), col("span_len").cast("int"))))
          .as("span_fp"))
  }

  /** Removal half of [[dupSpans]]: drop every token covered by a
    * qualifying duplicated span and report per document
    * (doc_id, n_tokens, n_removed, cleaned_fp) — cleaned_fp is the
    * md5 of the surviving tokens in original order, so a re-run (or
    * another engine) proves the rewrite byte-identically without
    * shipping the text. Documents with no qualifying span survive
    * whole. Adjacent maximal spans can overlap in TOKEN space (a run
    * extends k−1 tokens past its last start), so coverage is
    * position-distinct before counting.
    *
    * Scale: [[dupSpans]] + one bounded explode (span positions), a
    * doc-keyed anti join, and a per-doc ordered reassembly — the same
    * collect_list-per-doc shape as the resolve/reassemble OSM middle,
    * bounded by document length. */
  def stripDupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minTokens: Int = 10): DataFrame = {
    val base = tokBase(df, idCol, textCol)
    val cov = dupSpansFromBase(base, k, minTokens)
      .select(col("doc_id"), explode(sequence(col("span_start"),
        col("span_start") + col("span_len") - 1)).as("pos"))
      .distinct()
    val toks = base.select(col("doc_id"),
        posexplode(col("w")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
    val kept = toks.join(cov, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          p => p.getField("tok"))).as("cleaned"))
    base.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        md5(coalesce(col("cleaned"), lit(""))).as("cleaned_fp"))
  }

  /** The content-defined chunk boundaries of a token array, as the
    * chunk STRINGS (space-joined token runs): a boundary falls after
    * token i when the md5 of the trailing `k`-gram starts below
    * `hexThreshold` — the FastCDC/Rabin rolling-hash construction at
    * word granularity, with md5 as the (engine-reproducible) hash.
    * Boundary candidates fire independently at every position with
    * probability v/16 for a v-value hex threshold, so chunk lengths
    * are ~geometric with mean ≈ 16/v tokens (adjacent qualifying
    * positions produce 1-token chunks — there is no minimum-length
    * cut-point skipping in this construction). Pure per-row Column
    * expression. */
  private[graft] def cdcChunks(w: Column, k: Int,
      hexThreshold: String): Column =
    // bind the token array AND the boundary list ONCE each through
    // single-element transform lambdas (the bandKeysExpr trick):
    // referencing an outer expression inside a HOF lambda re-evaluates
    // it PER ELEMENT — the naive form retokenized the text and
    // re-filtered every boundary for every chunk, O(n²) md5 calls per
    // document (measured 261 s for q158 at sf0.1; 0.3 s bound)
    element_at(transform(array(w), wB => {
      val n = size(wB)
      val isB = (i: Column) => substring(
        md5(concat_ws(" ", slice(wB, i - (k - 1), lit(k)))), 1, 1) <
        lit(hexThreshold)
      // boundary positions: 0, every qualifying i in [k, n-1], n —
      // the last token can't open a new chunk, so no duplicate ends
      val bpos = when(n <= k, array(lit(0), n))
        .otherwise(concat(array(lit(0)),
          filter(sequence(lit(k), n - 1), isB), array(n)))
      when(n <= 0, array().cast("array<string>"))
        .otherwise(element_at(transform(array(bpos), bp =>
          transform(sequence(lit(1), size(bp) - 1), j =>
            concat_ws(" ", slice(wB, element_at(bp, j) + 1,
              element_at(bp, j + 1) - element_at(bp, j))))), 1))
    }), 1)

  /** Content-defined chunking dedup — the insertion-robust sibling of
    * [[chunkDedup]]: fixed windows shift EVERY downstream chunk when a
    * token is inserted, so two near-identical documents share almost
    * no fixed chunks; content-defined boundaries (cut where the
    * trailing k-gram hash is small — the public FastCDC/LBFS
    * construction) re-synchronize at the first boundary after the
    * edit, so the shared tail deduplicates. Returns per document
    * (doc_id, n_chunks, n_dup_chunks, n_tokens).
    *
    * Scale shape: identical to [[chunkDedup]] — one per-row boundary
    * pass (map-only), one hash aggregate on the chunk text with
    * map-side combine, one equi-join back. Chunk-length distribution
    * is ~geometric with mean ≈ 16/v tokens for a v-value threshold
    * (8 at the defaults); k only sets the hash window, not a minimum
    * chunk length. */
  def cdcChunkDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, hexThreshold: String = "2"): DataFrame = {
    require(k >= 1, s"bad k $k")
    require(hexThreshold.length == 1 &&
      "0123456789abcdef".contains(hexThreshold),
      s"hexThreshold must be one lowercase hex digit, got '$hexThreshold'")
    val w = normToks(col(textCol))
    // CPU-bound boundary pass (md5 per trailing k-gram per token):
    // fan a one-split scan out across the machine first (no-op at
    // scale — Par.fanOut)
    val in = Par.fanOut(df.select(col(idCol), col(textCol)))
    val chunks = in.select(col(idCol), size(w).cast("long").as("n_tokens"),
      explode(cdcChunks(w, k, hexThreshold)).as("chunk"))
    val counts = chunks.groupBy(col("chunk"))
      .agg(count(lit(1)).as("n_occ"))
    chunks.join(counts, "chunk")
      .groupBy(col(idCol))
      .agg(first(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col(idCol), col("n_chunks"), col("n_dup_chunks"),
        col("n_tokens"))
  }

  /** [[cdcChunkDedup]]'s banding half for the persisted-index
    * lifecycle: one (id, band) row per DISTINCT chunk of each
    * document, under the `cdc<k>.<hexThreshold>:<md5>` key family —
    * the chunking geometry lives in the key (same discipline as the
    * `hb`/`hw` fingerprint families), so a probe with a different
    * window or threshold can never silently equi-join. Chunk md5s,
    * never chunk text, reach the store: index rows stay 50 bytes at
    * any corpus scale. Feeds [[BandIndexStore.writeBands]] /
    * `appendBands` exactly like the Hamming bands. */
  def cdcChunkBands(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, hexThreshold: String = "2"): DataFrame = {
    require(k >= 1, s"bad k $k")
    require(hexThreshold.length == 1 &&
      "0123456789abcdef".contains(hexThreshold),
      s"hexThreshold must be one lowercase hex digit, got '$hexThreshold'")
    val w = normToks(col(textCol))
    Par.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol).cast("long").as("id"),
        explode(cdcChunks(w, k, hexThreshold)).as("chunk"))
      .select(col("id"),
        concat(lit(s"cdc$k.$hexThreshold:"), md5(col("chunk"))).as("band"))
      .distinct()
  }

  /** Loud geometry check for a persisted CDC chunk index: the
    * `cdc<k>.<t>:` prefix must match the probe's parameters; a
    * fingerprint (`hb`/`hw`) index is refused with a pointer to its
    * Hamming API (the same family table and bounded per-family
    * lookups as [[checkHammingIndexGeometry]]). */
  private[graft] def checkCdcIndexGeometry(index: DataFrame, k: Int,
      hexThreshold: String): Unit = {
    val expect = s"cdc$k.$hexThreshold:"
    ownBandKey(index, "cdc", "CDC chunk").foreach { key =>
      require(key.startsWith(expect),
        s"index band key '$key' does not match CDC probe geometry " +
          s"'$expect' (k=$k, hexThreshold='$hexThreshold') — rebuild " +
          "the index or fix the probe parameters")
    }
  }

  /** Incremental CDC chunk dedup against a PERSISTED chunk index —
    * the re-crawl shape for [[cdcChunkDedup]] (q158 is batch-only):
    * the new batch's content-defined chunks probe the committed chunk
    * md5s; the old corpus is NEVER rescanned. Returns the q158 row
    * shape per batch document — (doc_id, n_chunks, n_dup_chunks,
    * n_tokens) — with `n_dup_chunks` counting batch chunk occurrences
    * whose chunk already exists in the index.
    *
    * Self-exclusion: a chunk counts as duplicate only when some
    * OTHER document owns it in the index — a re-crawled document
    * whose id is already committed is never a duplicate of itself
    * (the `bid =!= cid` discipline every other incremental-family
    * member applies, expressed per chunk via the index's min/max
    * owner ids: sole-owner-equals-self chunks don't count).
    *
    * Scale: one map-only boundary pass over the batch, one per-band
    * owner aggregate over the index (the committed chunk
    * vocabulary), one md5-keyed equi-join, one per-doc aggregate —
    * batch-sized work against an index touched only through narrow
    * columns. Tombstoned chunks (removed via [[BandIndexStore]]
    * deletes) stop matching as soon as the store resolves them — the
    * same lifecycle the fingerprint families get. */
  def incrementalCdcChunkDedup(batch: DataFrame, idCol: String,
      textCol: String, index: DataFrame, k: Int = 4,
      hexThreshold: String = "2"): DataFrame = {
    require(k >= 1, s"bad k $k")
    require(hexThreshold.length == 1 &&
      "0123456789abcdef".contains(hexThreshold),
      s"hexThreshold must be one lowercase hex digit, got '$hexThreshold'")
    checkCdcIndexGeometry(index, k, hexThreshold)
    val w = normToks(col(textCol))
    val chunks = Par.fanOut(batch.select(col(idCol), col(textCol)))
      .select(col(idCol).cast("long").as("doc_id"),
        size(w).cast("long").as("n_tokens"),
        explode(cdcChunks(w, k, hexThreshold)).as("chunk"))
      .withColumn("band",
        concat(lit(s"cdc$k.$hexThreshold:"), md5(col("chunk"))))
    // min/max owner ids per band: ≥ 2 distinct owners ⟺ min ≠ max,
    // and a single owner is "other" unless it is the probing doc —
    // no countDistinct expand needed
    val owners = index.select(col("band"), col("id"))
      .groupBy(col("band"))
      .agg(min(col("id")).as("__omin"), max(col("id")).as("__omax"))
    val otherOwned = col("__omin").isNotNull &&
      (col("__omin") =!= col("__omax") || col("__omin") =!= col("doc_id"))
    chunks.join(owners, Seq("band"), "left")
      .groupBy(col("doc_id"))
      .agg(first(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_chunks"),
        sum(when(otherOwned, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        col("n_tokens"))
  }

  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 16): DataFrame = {
    val w = normToks(col(textCol))
    // ceil(n/chunk) chunks, last one partial — the codegen'd chunk
    // kernel (ChunksExpr); the transform(sequence)+slice Column form
    // is an interpreted HOF and measured ~4× slower
    val chunkArr = graft.expressions.VectorExpressions
      .chunksN(w, chunkTokens)
    val chunks = df.select(col(idCol),
      posexplode(chunkArr).as(Seq("ci", "chunk")))
    val counts = chunks.groupBy(col("chunk"))
      .agg(count(lit(1)).as("n_occ"))
    chunks.join(counts, "chunk")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
  }
}
