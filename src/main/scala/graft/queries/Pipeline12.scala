package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.Multimodal

/** Round-14 additions: WIDE (128-bit) Hamming fingerprint dedup
  * (q151 — the PDQ-class hash width production image dedup uses),
  * per-host boilerplate segment removal (q152 — the CCNet
  * preprocessing step), the WebDataset tar-shard round trip through
  * the DISTRIBUTED reader (q153), the fastText-shaped integer linear
  * classifier (q154), and image-text pair curation — the LAION shape
  * (q155). Same contract as [[Pipeline]]: exact integer arithmetic
  * only, so the DuckDB oracle matches bit for bit. */
object Pipeline12 extends Registry {

  private val W = raw"regexp_split_to_array(trim(lower(text)), '\s+')"

  // ---- q151: Hamming near-dup over WIDE (128-bit) fingerprints ----

  /** The q141 fixture extended to two 63-bit words (the 128-bit
    * PDQ-class shape): groups of 4 docs share a 126-bit base pattern,
    * each member XOR-flips up to 3 global positions — a pure integer
    * bit formula both engines recompute identically. */
  private[queries] def fpHashesWide(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .as[(Long, String)]
      .map { case (id, src) => (id, Pipeline10.fpWords(id, 2).toSeq, src) }
      .toDF("doc_id", "h", "source")
  }

  def hammingWide(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.hammingNearDupWide(fpHashesWide(s, d),
        "doc_id", "h", nWords = 2, maxDist = 6)
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))

  val hammingWideSql: String =
    """WITH p AS (SELECT doc_id FROM documents),
      |bits AS (SELECT doc_id, CAST(t.p AS INTEGER) // 63 AS w,
      |    CAST(t.p AS INTEGER) % 63 AS i,
      |    CASE WHEN (((doc_id//4)*31 + t.p*17) % 97) % 5 = 0
      |      THEN 1 ELSE 0 END AS b0
      |  FROM p, range(126) t(p)),
      |flips AS (SELECT doc_id,
      |    CAST((doc_id*11 + f.f*23) % 126 AS INTEGER) // 63 AS w,
      |    CAST((doc_id*11 + f.f*23) % 126 AS INTEGER) % 63 AS i,
      |    COUNT(*) % 2 AS fl
      |  FROM p, range(3) f(f) WHERE f.f < doc_id % 4 GROUP BY 1, 2, 3),
      |h AS (SELECT bits.doc_id,
      |    CAST(SUM(CASE WHEN bits.w = 0 THEN
      |      (CAST((b0 + COALESCE(fl, 0)) % 2 AS BIGINT) << bits.i)
      |      ELSE 0 END) AS BIGINT) AS h0,
      |    CAST(SUM(CASE WHEN bits.w = 1 THEN
      |      (CAST((b0 + COALESCE(fl, 0)) % 2 AS BIGINT) << bits.i)
      |      ELSE 0 END) AS BIGINT) AS h1
      |  FROM bits LEFT JOIN flips
      |    ON bits.doc_id = flips.doc_id AND bits.w = flips.w
      |      AND bits.i = flips.i
      |  GROUP BY 1)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
      |    AS INTEGER) AS dist
      |FROM h a JOIN h b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1)) <= 6"""
      .stripMargin

  // ---- q152: per-host boilerplate segment removal (CCNet shape) ----

  /** [[graft.operators.CorpusOps.hostBoilerplateStrip]] over a
    * synthesized crawl: host = doc_id % 7, and 2/3 of each host's
    * documents carry an identical 10-word navigation prefix — the
    * per-host frequency rule must strip exactly that segment (66% >
    * the 50% threshold) and nothing global. The oracle replays the
    * segmentation, the per-host frequency contract, and the ordered
    * reassembly fingerprint. */
  private val boilerPrefix =
    "nav home about contact subscribe cookie banner terms privacy login "

  def hostBoilerplate(s: SparkSession, d: String): DataFrame = {
    val fixture = Tables.documents(s, d).select(col("doc_id"),
      concat(lit("h"), (col("doc_id") % 7).cast("string")).as("host"),
      when(col("doc_id") % 3 =!= 0,
        concat(lit(boilerPrefix), col("text")))
        .otherwise(col("text")).as("text"))
    graft.operators.CorpusOps.hostBoilerplateStrip(
      fixture, "doc_id", "host", "text")
  }

  val hostBoilerplateSql: String =
    s"""WITH d2 AS (SELECT doc_id,
       |    'h' || CAST(doc_id % 7 AS VARCHAR) AS host,
       |    CASE WHEN doc_id % 3 <> 0
       |      THEN '$boilerPrefix' || text ELSE text END AS text
       |  FROM documents),
       |t AS (SELECT doc_id, host, $W AS w FROM d2),
       |segs AS (SELECT doc_id, host,
       |    unnest(range(CAST(ceil(len(w) / 10.0) AS BIGINT))) AS pos,
       |    unnest(list_transform(
       |      range(CAST(ceil(len(w) / 10.0) AS BIGINT)),
       |      g -> array_to_string(w[(g*10+1):(g*10+10)], ' '))) AS seg
       |  FROM t),
       |hostdocs AS (SELECT host, COUNT(*) AS nh FROM d2 GROUP BY 1),
       |freq AS (SELECT host, seg, COUNT(DISTINCT doc_id) AS nd
       |  FROM segs GROUP BY 1, 2),
       |boiler AS (SELECT freq.host, freq.seg
       |  FROM freq JOIN hostdocs ON freq.host = hostdocs.host
       |  WHERE nd >= 2 AND nd * 1000 > 500 * nh),
       |kept AS (SELECT segs.doc_id, COUNT(*) AS n_kept,
       |    string_agg(segs.seg, ' ' ORDER BY segs.pos) AS cleaned
       |  FROM segs LEFT JOIN boiler
       |    ON segs.host = boiler.host AND segs.seg = boiler.seg
       |  WHERE boiler.seg IS NULL GROUP BY 1),
       |tot AS (SELECT doc_id, host,
       |    CAST(ceil(len(w) / 10.0) AS BIGINT) AS n_segments FROM t)
       |SELECT tot.doc_id, tot.host, tot.n_segments,
       |  tot.n_segments - COALESCE(kept.n_kept, 0) AS n_removed,
       |  md5(COALESCE(kept.cleaned, '')) AS cleaned_fp
       |FROM tot LEFT JOIN kept ON tot.doc_id = kept.doc_id""".stripMargin

  // ---- q153: WebDataset tar-shard export → DISTRIBUTED read ----

  /** The full WebDataset loop: every document exported once (via
    * [[StoreOnce]]) as a `<id>.txt` + `<id>.json` sample into 8
    * deterministic tar shards, then re-ingested by the streaming
    * distributed reader ([[graft.sinks.TarShards.readTarShards]] —
    * one task per shard, no whole-shard buffering). The oracle
    * recomputes byte length, payload md5, and the metadata straight
    * from the documents table — a hash match certifies the USTAR
    * writer, the shard commit, the reader's header walk, and the
    * payload/metadata pairing. */
  def tarRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val path = StoreOnce.dir("tarshards", d) { p =>
      val media = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source"))
        .as[(Long, String, String)]
        .map { case (id, text, src) =>
          Multimodal.MediaRow(id, "txt",
            text.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            Map("source" -> src))
        }
      graft.sinks.TarShards.writeTarShards(media, p, nShards = 8)
      ()
    }
    graft.sinks.TarShards.readTarShards(s, path)
      .select(col("id").as("doc_id"),
        length(col("bytes")).cast("long").as("n_bytes"),
        md5(col("bytes")).as("payload_fp"),
        get_json_object(col("meta_json"), "$.source").as("source"),
        col("ext"))
  }

  val tarRoundtripSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS payload_fp, source, 'txt' AS ext
      |FROM documents""".stripMargin

  // ---- q154: fastText-shaped integer linear classifier ----

  /** [[graft.operators.TextAnalysis.linearClassify]]: hashed
    * unigram+bigram features into 256 md5-prefix buckets, the fixed
    * integer weight table weight(b, c) = (b·31 + c·17) mod 201 − 100,
    * exact integer score sums, argmax with smallest-class ties. The
    * oracle replays bucketing (hex-digit positions), weights, sums,
    * and the argmax. */
  def linearClassifyQ(s: SparkSession, d: String): DataFrame =
    graft.operators.TextAnalysis.linearClassify(
      Tables.documents(s, d), "doc_id", "text")

  val linearClassifySql: String =
    s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
       |f AS (
       |  SELECT doc_id, unnest(w) AS f FROM t
       |  UNION ALL
       |  SELECT doc_id, unnest(list_transform(
       |      range(1, greatest(len(w), 1)),
       |      i -> array_to_string(w[i:i+1], ' '))) AS f
       |  FROM t WHERE len(w) >= 2),
       |b AS (SELECT doc_id,
       |    (strpos('0123456789abcdef', substr(md5(f), 1, 1)) - 1) * 16
       |      + strpos('0123456789abcdef', substr(md5(f), 2, 1)) - 1 AS bkt
       |  FROM f),
       |sc AS (SELECT doc_id, CAST(c.c AS INTEGER) AS cls,
       |    CAST(SUM((bkt*31 + c.c*17) % 201 - 100) AS BIGINT) AS score,
       |    COUNT(*) AS nf
       |  FROM b, range(4) c(c) GROUP BY 1, 2),
       |best AS (SELECT doc_id, ANY_VALUE(nf) AS n_features,
       |    MAX(score) AS best_score FROM sc GROUP BY 1),
       |cls AS (SELECT sc.doc_id, MIN(sc.cls) AS best_class
       |  FROM sc JOIN best ON sc.doc_id = best.doc_id
       |    AND sc.score = best.best_score
       |  GROUP BY 1)
       |SELECT best.doc_id, CAST(best.n_features AS BIGINT) AS n_features,
       |  CAST(cls.best_class AS INTEGER) AS best_class, best.best_score
       |FROM best JOIN cls ON best.doc_id = cls.doc_id""".stripMargin

  // ---- q155: image-text pair curation (the LAION shape) ----

  /** One keep/drop decision per image-text PAIR, composed from green
    * operators: the image side keeps one representative per Hamming
    * cluster ([[graft.operators.Dedup.imageDedupClusters]] over the
    * q141 fingerprint fixture), the caption side must pass the Gopher
    * rules — a pair survives only when BOTH sides do. The oracle
    * splices the q146 recursive-closure CTEs with the q84 quality
    * CTEs. */
  def pairCuration(s: SparkSession, d: String): DataFrame = {
    val img = graft.operators.Dedup.imageDedupClusters(
      Pipeline10.fpHashes(s, d), "doc_id", "h", maxDist = 6)
      .select(col("id").as("doc_id"), col("cluster_id"),
        col("keep").as("image_keep"))
    val cap = graft.operators.CorpusOps.gopherRules(
      Tables.documents(s, d), "doc_id", "text")
      .select(col("doc_id"), col("pass").as("caption_pass"))
    img.join(cap, "doc_id")
      .select(col("doc_id"), col("cluster_id"), col("image_keep"),
        col("caption_pass"),
        (col("image_keep") && col("caption_pass")).as("keep"))
  }

  val pairCurationSql: String = {
    val tail = "SELECT h.doc_id,"
    val idx = Pipeline11.imageClustersSql.lastIndexOf(tail)
    require(idx > 0,
      "q155 oracle: q146 final SELECT changed — update the splice")
    Pipeline11.imageClustersSql.substring(0, idx) +
      s""",
         |gq AS (SELECT doc_id, $W AS w FROM documents),
         |gm AS (SELECT doc_id,
         |    CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT)
         |      AS nch,
         |    CAST(len(list_filter(w,
         |      x -> x IN ('the', 'a', 'of', 'and', 'data'))) AS BIGINT)
         |      AS sh,
         |    CAST(len(list_filter(w,
         |      x -> regexp_full_match(x, '[a-z]+'))) AS BIGINT) AS aw
         |  FROM gq),
         |g AS (SELECT doc_id,
         |    ((n_words >= 20 AND n_words <= 100000) AND
         |     (CAST(nch AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0 AND
         |      CAST(nch AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0) AND
         |     sh >= 2 AND aw * 10 >= n_words * 8) AS pass
         |  FROM gm)
         |SELECT h.doc_id,
         |  COALESCE(comp.cluster_id, h.doc_id) AS cluster_id,
         |  h.doc_id = COALESCE(comp.cluster_id, h.doc_id) AS image_keep,
         |  g.pass AS caption_pass,
         |  ((h.doc_id = COALESCE(comp.cluster_id, h.doc_id)) AND g.pass)
         |    AS keep
         |FROM h LEFT JOIN comp ON h.doc_id = comp.doc_id
         |JOIN g ON g.doc_id = h.doc_id""".stripMargin
  }

  // ---- q156: wide incremental probe vs the persisted index ----

  /** q145's 128-bit sibling: the image re-crawl through the
    * PERSISTED index ([[Pipeline10.fingerprintRecrawl]], `hw128.7.`
    * keys). Pigeonhole recall is 100% by construction, so the oracle
    * brute-forces all new-vs-old pairs and the hash must match. */
  def hammingWideIncremental(s: SparkSession, d: String): DataFrame =
    Pipeline10.fingerprintRecrawl(s, d, "widehashidx",
      graft.operators.Dedup.FpLayout.Words(2), fpHashesWide(s, d))

  val hammingWideIncrementalSql: String =
    """WITH p AS (SELECT doc_id, source FROM documents),
      |bits AS (SELECT doc_id, source, CAST(t.p AS INTEGER) // 63 AS w,
      |    CAST(t.p AS INTEGER) % 63 AS i,
      |    CASE WHEN (((doc_id//4)*31 + t.p*17) % 97) % 5 = 0
      |      THEN 1 ELSE 0 END AS b0
      |  FROM p, range(126) t(p)),
      |flips AS (SELECT doc_id,
      |    CAST((doc_id*11 + f.f*23) % 126 AS INTEGER) // 63 AS w,
      |    CAST((doc_id*11 + f.f*23) % 126 AS INTEGER) % 63 AS i,
      |    COUNT(*) % 2 AS fl
      |  FROM p, range(3) f(f) WHERE f.f < doc_id % 4 GROUP BY 1, 2, 3),
      |h AS (SELECT bits.doc_id, ANY_VALUE(bits.source) AS source,
      |    CAST(SUM(CASE WHEN bits.w = 0 THEN
      |      (CAST((b0 + COALESCE(fl, 0)) % 2 AS BIGINT) << bits.i)
      |      ELSE 0 END) AS BIGINT) AS h0,
      |    CAST(SUM(CASE WHEN bits.w = 1 THEN
      |      (CAST((b0 + COALESCE(fl, 0)) % 2 AS BIGINT) << bits.i)
      |      ELSE 0 END) AS BIGINT) AS h1
      |  FROM bits LEFT JOIN flips
      |    ON bits.doc_id = flips.doc_id AND bits.w = flips.w
      |      AND bits.i = flips.i
      |  GROUP BY 1)
      |SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id,
      |  CAST(bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
      |    AS INTEGER) AS dist
      |FROM h a JOIN h b
      |  ON a.source <> 'src0' AND b.source = 'src0'
      | AND a.doc_id <> b.doc_id
      |WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1)) <= 6"""
      .stripMargin

  // ---- q157: wide image-dedup clusters (O(N) keep/drop) ----

  /** [[graft.operators.Dedup.imageDedupClustersWide]] over the wide
    * fixture: one (doc_id, cluster_id, keep) row PER IMAGE with
    * cluster_id the smallest id in the 128-bit Hamming closure. The
    * oracle brute-forces wide pairs and closes them with the q146
    * recursive CTE. */
  def wideClusters(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.imageDedupClustersWide(fpHashesWide(s, d),
        "doc_id", "h", nWords = 2, maxDist = 6)
      .select(col("id").as("doc_id"), col("cluster_id"), col("keep"))

  val wideClustersSql: String =
    """WITH RECURSIVE p AS (SELECT doc_id FROM documents),
      |bits AS (SELECT doc_id, CAST(t.p AS INTEGER) // 63 AS w,
      |    CAST(t.p AS INTEGER) % 63 AS i,
      |    CASE WHEN (((doc_id//4)*31 + t.p*17) % 97) % 5 = 0
      |      THEN 1 ELSE 0 END AS b0
      |  FROM p, range(126) t(p)),
      |flips AS (SELECT doc_id,
      |    CAST((doc_id*11 + f.f*23) % 126 AS INTEGER) // 63 AS w,
      |    CAST((doc_id*11 + f.f*23) % 126 AS INTEGER) % 63 AS i,
      |    COUNT(*) % 2 AS fl
      |  FROM p, range(3) f(f) WHERE f.f < doc_id % 4 GROUP BY 1, 2, 3),
      |h AS (SELECT bits.doc_id,
      |    CAST(SUM(CASE WHEN bits.w = 0 THEN
      |      (CAST((b0 + COALESCE(fl, 0)) % 2 AS BIGINT) << bits.i)
      |      ELSE 0 END) AS BIGINT) AS h0,
      |    CAST(SUM(CASE WHEN bits.w = 1 THEN
      |      (CAST((b0 + COALESCE(fl, 0)) % 2 AS BIGINT) << bits.i)
      |      ELSE 0 END) AS BIGINT) AS h1
      |  FROM bits LEFT JOIN flips
      |    ON bits.doc_id = flips.doc_id AND bits.w = flips.w
      |      AND bits.i = flips.i
      |  GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM h a JOIN h b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
      |    <= 6),
      |sym AS (SELECT id_a AS u, id_b AS v FROM pairs
      |        UNION SELECT id_b, id_a FROM pairs),
      |reach(u, v) AS (SELECT u, v FROM sym
      |        UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
      |                WHERE s.v <> r.u),
      |comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
      |  FROM reach GROUP BY u)
      |SELECT h.doc_id,
      |  COALESCE(comp.cluster_id, h.doc_id) AS cluster_id,
      |  h.doc_id = COALESCE(comp.cluster_id, h.doc_id) AS keep
      |FROM h LEFT JOIN comp ON h.doc_id = comp.doc_id""".stripMargin

  // ---- q158: content-defined chunking dedup (FastCDC shape) ----

  /** [[graft.operators.Dedup.cdcChunkDedup]]: boundaries where the
    * trailing 4-gram's md5 starts below '2' (mean chunk ≈ 8
    * tokens), chunks counted corpus-wide — the insertion-robust
    * chunk dedup. The oracle replays boundary selection, chunk
    * assembly, and the global counts. */
  def cdcChunkDedupQ(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.cdcChunkDedup(
      Tables.documents(s, d), "doc_id", "text")

  val cdcChunkDedupSql: String =
    s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
       |b AS (SELECT doc_id, w, len(w) AS n,
       |    CASE WHEN len(w) <= 4 THEN [0, len(w)]
       |      ELSE [0] || list_filter(range(4, len(w)), i ->
       |        substr(md5(array_to_string(w[(i-3):i], ' ')), 1, 1) < '2')
       |        || [len(w)]
       |    END AS bp
       |  FROM t),
       |c AS (SELECT doc_id, n,
       |    unnest(list_transform(range(1, len(bp)), j ->
       |      array_to_string(w[(bp[j]+1):(bp[j+1])], ' '))) AS chunk
       |  FROM b),
       |cnt AS (SELECT chunk, COUNT(*) AS n_occ FROM c GROUP BY 1)
       |SELECT c.doc_id, COUNT(*) AS n_chunks,
       |  CAST(SUM(CASE WHEN cnt.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_chunks,
       |  CAST(ANY_VALUE(c.n) AS BIGINT) AS n_tokens
       |FROM c JOIN cnt ON c.chunk = cnt.chunk
       |GROUP BY 1""".stripMargin

  // ---- q159: incremental semantic dedup vs the persisted IVF index ----

  /** [[graft.operators.IvfIndexStore.dedupProbe]] end to end: the
    * corpus slice (vec_id % 7 ≠ 3) builds the persisted IVF index
    * once (StoreOnce), the batch slice probes its 2 nearest cells,
    * and each batch vector keeps iff its nearest indexed neighbor
    * there has cosine < 0.9 — SemDeDup applied at ingest against the
    * store, never rescanning the corpus. The oracle replays the q25
    * coarse route (centroid sample, assignment, probing) restricted
    * to the corpus/batch split, ranks to 1, and applies the
    * threshold. */
  def semanticIncremental(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val corpus = e.where(col("id") % 7 =!= 3)
    val batch = e.where(col("id") % 7 === 3)
    val path = StoreOnce.dir("ivfincr", d)(
      graft.operators.IvfIndexStore.write(corpus, _))
    graft.operators.IvfIndexStore.dedupProbe(s, path, batch,
        threshold = 0.9)
      .select(col("id").as("vec_id"), col("nearest_id"), col("cos"),
        col("kept"))
  }

  private def qv(col: String) =
    s"list_transform($col, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))"

  val semanticIncrementalSql: String =
    s"""WITH e AS (SELECT vec_id, ${qv("embedding")} AS q FROM embeddings),
       |n AS (SELECT vec_id, q,
       |  sqrt(CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE)) AS nrm
       | FROM e),
       |cent AS (SELECT vec_id AS cid, q AS cv, nrm AS cn FROM n
       |  WHERE vec_id % 7 <> 3 AND vec_id % 25 = 0
       |  ORDER BY vec_id LIMIT 256),
       |asg AS (
       |  SELECT nid, cid FROM (
       |    SELECT n.vec_id AS nid, cent.cid,
       |      CAST(row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        CAST(list_sum(list_transform(list_zip(n.q, cent.cv), p -> p[1] * p[2])) AS DOUBLE) /
       |          (n.nrm * cent.cn) DESC, cent.cid ASC) AS INTEGER) AS arank
       |    FROM n, cent WHERE n.vec_id % 7 <> 3)
       |  WHERE arank = 1),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT n.vec_id AS qid, cent.cid,
       |      CAST(row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        CAST(list_sum(list_transform(list_zip(n.q, cent.cv), p -> p[1] * p[2])) AS DOUBLE) /
       |          (n.nrm * cent.cn) DESC, cent.cid ASC) AS INTEGER) AS prank
       |    FROM n, cent WHERE n.vec_id % 7 = 3)
       |  WHERE prank <= 2),
       |sc AS (
       |  SELECT probes.qid, asg.nid,
       |    CAST(list_sum(list_transform(list_zip(nq.q, nn.q), p -> p[1] * p[2])) AS DOUBLE) /
       |      (nq.nrm * nn.nrm) AS cos
       |  FROM probes
       |  JOIN asg ON probes.cid = asg.cid AND probes.qid <> asg.nid
       |  JOIN n nq ON nq.vec_id = probes.qid
       |  JOIN n nn ON nn.vec_id = asg.nid),
       |best AS (SELECT qid, nid, cos FROM (
       |    SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, nid ASC) AS INTEGER) AS rank FROM sc)
       |  WHERE rank = 1)
       |SELECT b.vec_id, best.nid AS nearest_id, best.cos,
       |  (best.cos IS NULL OR best.cos < 0.9) AS kept
       |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 7 = 3) b
       |LEFT JOIN best ON b.vec_id = best.qid""".stripMargin

  val queries: Map[String, Q] = Map(
    "q159_semantic_incremental" -> (semanticIncremental _),
    "q151_hamming_wide" -> (hammingWide _),
    "q152_host_boilerplate" -> (hostBoilerplate _),
    "q153_tar_roundtrip" -> (tarRoundtrip _),
    "q154_linear_classify" -> (linearClassifyQ _),
    "q155_pair_curation" -> (pairCuration _),
    "q156_hamming_wide_incremental" -> (hammingWideIncremental _),
    "q157_wide_image_clusters" -> (wideClusters _),
    "q158_cdc_chunk_dedup" -> (cdcChunkDedupQ _))

  def oracles: Map[String, String] = Map(
    "q159_semantic_incremental" -> semanticIncrementalSql,
    "q151_hamming_wide" -> hammingWideSql,
    "q152_host_boilerplate" -> hostBoilerplateSql,
    "q153_tar_roundtrip" -> tarRoundtripSql,
    "q154_linear_classify" -> linearClassifySql,
    "q155_pair_curation" -> pairCurationSql,
    "q156_hamming_wide_incremental" -> hammingWideIncrementalSql,
    "q157_wide_image_clusters" -> wideClustersSql,
    "q158_cdc_chunk_dedup" -> cdcChunkDedupSql)
}
