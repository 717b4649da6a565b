package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{Dedup, Sampling, Similarity, TextAnalysis}

/** Round-8 additions, batch 2: the clustering / split-assignment /
  * budgeting layer of a curation pipeline — integer-exact k-means over
  * embeddings, leakage-safe train/val/test splits keyed on near-dup
  * groups, corpus-frequency rare-token scoring, per-source token-budget
  * selection, and the mutual k-NN graph. Same contract as [[Pipeline]]:
  * every query's arithmetic is exact (integers or single divisions of
  * identical integers), so the DuckDB oracle matches bit for bit. */
object Pipeline7 extends Registry {

  private val W = raw"regexp_split_to_array(trim(lower(text)), '\s+')"

  /** 1000-scaled integer quantization — DuckDB side of
    * VectorFunctions.quantize. */
  private def qv(col: String) =
    s"list_transform($col, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))"

  private def qdotSql(a: String, b: String) =
    s"CAST(list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2])) AS BIGINT)"

  // ---- q94: integer-exact Lloyd k-means over embeddings ----

  def kmeansAssign(s: SparkSession, d: String): DataFrame =
    Similarity.kmeansAssignExact(
      Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding").as("vec")))
      .select(col("id").as("vec_id"), col("cluster"), col("n_members"))

  /** Two Lloyd passes in pure int64: centroid state is (sum-vector S,
    * count n); the per-centroid cost n²·⟨q,q⟩ − 2n·⟨q,S⟩ + ⟨S,S⟩
    * equals n²·‖q − S/n‖², so costs of centroids with different
    * member counts are comparable only as the exact rationals
    * cost/n² — the argmin is computed by HUGEINT cross-multiplication
    * (x wins over y iff x.cost·y.n² < y.cost·x.n², ties → smallest
    * cid), matching KmeansAssignExpr's 128-bit comparison bit for
    * bit. */
  val kmeansAssignSql: String = {
    val cost = s"(c.n*c.n*eq.qq - 2*c.n*${qdotSql("eq.q", "c.s")} + c.ss)"
    def argmin(costs: String) =
      s"""SELECT id, q, qq, cid FROM $costs x WHERE NOT EXISTS (
         |  SELECT 1 FROM $costs y WHERE y.id = x.id AND y.cid <> x.cid
         |  AND (CAST(y.cost AS HUGEINT) * x.n * x.n
         |         < CAST(x.cost AS HUGEINT) * y.n * y.n
         |    OR (CAST(y.cost AS HUGEINT) * x.n * x.n
         |          = CAST(x.cost AS HUGEINT) * y.n * y.n
         |        AND y.cid < x.cid)))""".stripMargin
    s"""WITH e AS (SELECT vec_id AS id, ${qv("embedding")} AS q FROM embeddings),
       |eq AS (SELECT id, q, ${qdotSql("q", "q")} AS qq FROM e),
       |c0 AS (SELECT id AS cid, q AS s, CAST(1 AS BIGINT) AS n FROM e
       |       WHERE id % 25 = 0 ORDER BY id LIMIT 256),
       |c0x AS (SELECT cid, s, n, ${qdotSql("s", "s")} AS ss FROM c0),
       |k1 AS (SELECT eq.id, eq.q, eq.qq, c.cid, c.n, $cost AS cost
       |       FROM eq, c0x c),
       |a1 AS (${argmin("k1")}),
       |ex AS (SELECT cid, unnest(q) AS v, unnest(range(len(q))) AS pos
       |       FROM a1),
       |sums AS (SELECT cid, pos, SUM(v) AS sv FROM ex GROUP BY cid, pos),
       |cnt AS (SELECT cid, count(*) AS n FROM a1 GROUP BY cid),
       |c1 AS (SELECT cid, list(sv ORDER BY pos) AS s, n
       |       FROM sums JOIN cnt USING (cid) GROUP BY cid, n),
       |c1x AS (SELECT cid, s, n, ${qdotSql("s", "s")} AS ss FROM c1),
       |k2 AS (SELECT eq.id, eq.q, eq.qq, c.cid, c.n, $cost AS cost
       |       FROM eq, c1x c),
       |a2 AS (${argmin("k2")}),
       |sz AS (SELECT cid, count(*) AS n_members FROM a2 GROUP BY cid)
       |SELECT a2.id AS vec_id, a2.cid AS cluster, sz.n_members
       |FROM a2 JOIN sz USING (cid)""".stripMargin
  }

  // ---- q95: leakage-safe train/val/test split ----

  def leakageSplit(s: SparkSession, d: String): DataFrame =
    Dedup.leakageSafeSplit(Tables.documents(s, d), "doc_id", "text")

  /** Near-dup clusters (q52's recursive closure) → group id → md5
    * bucket of the GROUP, so no verified near-dup pair straddles
    * train and eval. */
  val leakageSplitSql: String = {
    val h = "substr(md5(CAST(group_id AS VARCHAR)), 1, 2)"
    s"""${Pipeline.sigsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |ws AS (SELECT doc_id, list_distinct($W) AS w FROM documents),
       |verified AS (
       |  SELECT id_a, id_b FROM pairs
       |  JOIN ws wa ON pairs.id_a = wa.doc_id
       |  JOIN ws wb ON pairs.id_b = wb.doc_id
       |  WHERE CAST(len(list_filter(wa.w, x -> list_contains(wb.w, x))) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(wa.w, wb.w))) AS DOUBLE) >= 0.5),
       |sym AS (SELECT id_a AS u, id_b AS v FROM verified
       |        UNION SELECT id_b, id_a FROM verified),
       |reach(u, v) AS (SELECT u, v FROM sym
       |        UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
       |                WHERE s.v <> r.u),
       |cl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |       FROM reach GROUP BY u),
       |b AS (SELECT d.doc_id,
       |        coalesce(cl.cluster_id, d.doc_id) AS group_id
       |      FROM documents d LEFT JOIN cl USING (doc_id))
       |SELECT doc_id, group_id,
       |  CASE WHEN $h < '1a' THEN 'test'
       |       WHEN $h < '34' THEN 'val'
       |       ELSE 'train' END AS split
       |FROM b""".stripMargin
  }

  // ---- q96: rare-token quality score ----

  def rareTokens(s: SparkSession, d: String): DataFrame =
    TextAnalysis.rareTokenScore(Tables.documents(s, d), "doc_id", "text")

  val rareTokensSql: String =
    s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
       |tok AS (SELECT doc_id, unnest(w) AS tok FROM t),
       |dt AS (SELECT doc_id, tok, count(*) AS c FROM tok
       |       GROUP BY doc_id, tok),
       |dfq AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok)
       |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN df <= 2 THEN c ELSE 0 END) AS BIGINT)
       |    AS n_rare,
       |  CAST((1000 * sum(CASE WHEN df <= 2 THEN c ELSE 0 END))
       |    // sum(c) AS BIGINT) AS rare_permille
       |FROM dt JOIN dfq USING (tok) GROUP BY doc_id""".stripMargin

  // ---- q97: per-source token-budget selection ----

  def tokenBudget(s: SparkSession, d: String): DataFrame =
    Sampling.tokenBudget(Tables.documents(s, d), "source", "doc_id",
      size(TextFunctions.normToks(col("text"))), budget = 2000L)

  val tokenBudgetSql: String =
    s"""WITH t AS (SELECT source, doc_id,
       |  CAST(len($W) AS BIGINT) AS n_toks FROM documents)
       |SELECT source, doc_id, n_toks, cum_toks FROM (
       |  SELECT source, doc_id, n_toks,
       |    CAST(sum(n_toks) OVER (PARTITION BY source
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum_toks
       |  FROM t)
       |WHERE cum_toks <= 2000""".stripMargin

  // ---- q98: mutual k-NN graph over SRP buckets ----

  def knnGraph(s: SparkSession, d: String): DataFrame =
    Similarity.mutualKnnGraph(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", k = 3)

  /** Same SRP (table, key) blocking as q78; exact quantized cosine;
    * per-vector rank; keep edges ranked ≤ k from BOTH endpoints. */
  val knnGraphSql: String =
    s"""WITH e AS (SELECT vec_id, ${qv("embedding")} AS q FROM embeddings),
       |k AS (SELECT vec_id, t.range AS t,
       |  list_sum(list_transform(range(0, 8), b ->
       |    CASE WHEN list_sum(list_transform(range(0, len(q)), i ->
       |        q[i+1] * (CASE WHEN ((2654435761 * (64*t.range + b + 1)
       |                              * (i + 7919)) % 1000003) % 2 = 0
       |                  THEN 1 ELSE -1 END))) > 0
       |      THEN CAST(2**b AS BIGINT) ELSE 0 END)) AS key
       |  FROM e, range(0, 4) t),
       |p AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |      FROM k a JOIN k b
       |      ON a.t = b.t AND a.key = b.key AND a.vec_id <> b.vec_id),
       |sc AS (SELECT src, dst,
       |  CAST(${qdotSql("ea.q", "eb.q")} AS DOUBLE) /
       |  (sqrt(CAST(${qdotSql("ea.q", "ea.q")} AS DOUBLE)) *
       |   sqrt(CAST(${qdotSql("eb.q", "eb.q")} AS DOUBLE))) AS cos
       |  FROM p JOIN e ea ON ea.vec_id = src JOIN e eb ON eb.vec_id = dst),
       |tk AS (SELECT src, dst, cos FROM (
       |  SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |    ORDER BY cos DESC, dst ASC) AS rk FROM sc) WHERE rk <= 3)
       |SELECT x.src AS id_a, x.dst AS id_b, x.cos AS cos
       |FROM tk x JOIN tk y ON x.src = y.dst AND x.dst = y.src
       |WHERE x.src < x.dst""".stripMargin

  // ---- q99: cluster-balanced (diversity) sampling ----

  /** Per-k-means-cell stratified draw — the diversity-sampling step
    * that keeps a corpus from collapsing onto its dominant mode: 5
    * documents per cell, selected by the deterministic md5 walk. Pure
    * composition: [[Similarity.kmeansAssignExact]] ∘
    * [[Sampling.stratified]]. */
  def clusterSample(s: SparkSession, d: String): DataFrame =
    Sampling.stratified(
      Similarity.kmeansAssignExact(
        Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding").as("vec")))
        .select(col("id").as("vec_id"), col("cluster")),
      "cluster", "vec_id", n = 5)

  val clusterSampleSql: String =
    s"""SELECT vec_id, cluster, rk FROM (
       |  SELECT vec_id, cluster,
       |    CAST(row_number() OVER (PARTITION BY cluster
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INTEGER)
       |      AS rk
       |  FROM ($kmeansAssignSql) km)
       |WHERE rk <= 5""".stripMargin

  // ---- q100: per-source dedup-effectiveness report ----

  def dedupReport(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusOps.dedupEffectiveness(
      Tables.documents(s, d), "doc_id", "text", "source")

  val dedupReportSql: String =
    s"""${Pipeline.sigsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |ws AS (SELECT doc_id, list_distinct($W) AS w FROM documents),
       |verified AS (
       |  SELECT id_a, id_b FROM pairs
       |  JOIN ws wa ON pairs.id_a = wa.doc_id
       |  JOIN ws wb ON pairs.id_b = wb.doc_id
       |  WHERE CAST(len(list_filter(wa.w, x -> list_contains(wb.w, x))) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(wa.w, wb.w))) AS DOUBLE) >= 0.5),
       |sym AS (SELECT id_a AS u, id_b AS v FROM verified
       |        UNION SELECT id_b, id_a FROM verified),
       |reach(u, v) AS (SELECT u, v FROM sym
       |        UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
       |                WHERE s.v <> r.u),
       |cl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |       FROM reach GROUP BY u),
       |b AS (SELECT d.doc_id, d.source,
       |        CAST(len($W) AS BIGINT) AS t,
       |        coalesce(cl.cluster_id, d.doc_id) AS canon
       |      FROM documents d LEFT JOIN cl USING (doc_id))
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN doc_id = canon THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  CAST(sum(t) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN doc_id = canon THEN t ELSE 0 END) AS BIGINT)
       |    AS kept_tokens
       |FROM b GROUP BY source""".stripMargin

  // ---- q101: overlapping token-window chunks (RAG prep) ----

  def ragChunks(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusOps.overlappingChunks(
      Tables.documents(s, d), "doc_id", "text", k = 32, stride = 16)

  val ragChunksSql: String =
    s"""WITH toks AS (SELECT doc_id, $W AS w FROM documents),
       |idx AS (SELECT doc_id, w,
       |  unnest(range(1, CASE WHEN len(w) <= 0 THEN 1
       |    ELSE (len(w)-1)//16 + 2 END)) AS i
       |  FROM toks)
       |SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
       |  CAST((i-1)*16 + 1 AS BIGINT) AS start_tok,
       |  CAST(len(w[(i-1)*16+1:(i-1)*16+32]) AS BIGINT)
       |    AS n_chunk_toks,
       |  md5(array_to_string(w[(i-1)*16+1:(i-1)*16+32], ' '))
       |    AS chunk_fp
       |FROM idx""".stripMargin

  // ---- q102: importance resampling toward a target source mix ----

  def importanceSample(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusOps.importanceResample(
      Tables.documents(s, d), "source", "doc_id",
      targetPermille = Map("src0" -> 300L, "src1" -> 300L),
      defaultPermille = 20L)

  val importanceSampleSql: String =
    """WITH c AS (SELECT source, count(*) AS cnt FROM documents
      |           GROUP BY source),
      |n AS (SELECT count(*) AS total FROM documents),
      |t AS (SELECT d.doc_id, d.source, c.cnt, n.total,
      |    CASE d.source WHEN 'src0' THEN 300 WHEN 'src1' THEN 300
      |      ELSE 20 END AS tgt
      |  FROM documents d JOIN c USING (source), n)
      |SELECT doc_id, source FROM t
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      |  printf('%04x',
      |    least(65535, (65536 * tgt * total) // (1000 * cnt)))""".stripMargin

  // ---- q103: shingle containment on LSH candidates ----

  def containment(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.containmentOnPairs(
      Dedup.minhashCandidatePairs(docs, "doc_id", "text"),
      docs, "doc_id", "text")
  }

  val containmentSql: String =
    s"""${Pipeline.sigsCte},
       |ws AS (SELECT doc_id, list_distinct($W) AS w FROM documents)
       |SELECT id_a, id_b,
       |  CAST(len(list_filter(wa.w, x -> list_contains(wb.w, x)))
       |    AS DOUBLE) / len(wa.w) AS containment_a,
       |  CAST(len(list_filter(wa.w, x -> list_contains(wb.w, x)))
       |    AS DOUBLE) / len(wb.w) AS containment_b
       |FROM pairs
       |JOIN ws wa ON pairs.id_a = wa.doc_id
       |JOIN ws wb ON pairs.id_b = wb.doc_id""".stripMargin

  // ---- q104: within-document repeated-segment removal ----

  def segmentClean(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusOps.dropRepeatedSegments(
      Tables.documents(s, d), "doc_id", "text", k = 8)
      .select(col("doc_id"), col("n_segments"), col("n_removed"),
        col("clean_fp"))

  val segmentCleanSql: String =
    s"""WITH toks AS (SELECT doc_id, $W AS w FROM documents),
       |ch AS (SELECT doc_id,
       |  list_transform(range(1, (len(w)-1)//8 + 2),
       |    i -> array_to_string(w[(i-1)*8+1:(i-1)*8+8], ' ')) AS c
       |  FROM toks),
       |kept AS (SELECT doc_id, c,
       |  list_filter(c, (x, i) -> NOT list_contains(c[1:i-1], x)) AS kc
       |  FROM ch)
       |SELECT doc_id, CAST(len(c) AS BIGINT) AS n_segments,
       |  CAST(len(c) - len(kc) AS BIGINT) AS n_removed,
       |  md5(array_to_string(kc, ' ')) AS clean_fp
       |FROM kept""".stripMargin

  // ---- q105: longest-common-token-run verify on LSH candidates ----

  def lcsVerify(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.lcsOnPairs(
      Dedup.minhashCandidatePairs(docs, "doc_id", "text"),
      docs, "doc_id", "text")
  }

  val lcsVerifySql: String =
    s"""${Pipeline.sigsCte},
       |ts AS (SELECT doc_id, $W AS w FROM documents)
       |SELECT id_a, id_b,
       |  COALESCE((SELECT max(L)
       |    FROM unnest(range(1, least(len(wa.w), len(wb.w)) + 1)) AS t2(L)
       |    WHERE list_has_any(
       |      list_transform(range(1, len(wa.w)-L+2),
       |        i -> array_to_string(wa.w[i:i+L-1], ' ')),
       |      list_transform(range(1, len(wb.w)-L+2),
       |        i -> array_to_string(wb.w[i:i+L-1], ' ')))), 0) AS lcs_tokens,
       |  least(len(wa.w), len(wb.w)) AS min_tokens
       |FROM pairs
       |JOIN ts wa ON pairs.id_a = wa.doc_id
       |JOIN ts wb ON pairs.id_b = wb.doc_id""".stripMargin

  // ---- q106: deterministic shard/position assignment ----

  def shardAssign(s: SparkSession, d: String): DataFrame =
    Sampling.shardAssign(
      Tables.documents(s, d).select(col("doc_id"), col("source")),
      "doc_id", nShards = 16)

  val shardAssignSql: String =
    """WITH d AS (SELECT doc_id, source,
      |  md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)
      |SELECT doc_id, source,
      |  ('0x' || substr(h, 1, 8))::BIGINT % 16 AS shard,
      |  CAST(row_number() OVER (
      |    PARTITION BY ('0x' || substr(h, 1, 8))::BIGINT % 16
      |    ORDER BY h, doc_id) AS BIGINT) AS pos
      |FROM d""".stripMargin

  // ---- q107: iterative BPE merge training ----

  def bpeMerges(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bpeMerges(Tables.documents(s, d), "text", rounds = 4)

  /** The oracle unrolls the training loop: per round, a pair-count
    * CTE, a 1-row winner CTE (count desc, pair asc), and a fused
    * corpus via the same wrapped-string replace the engine uses —
    * literal `replace` scans left-to-right non-overlapping in both
    * engines, which IS greedy BPE application. The CTE prefix is
    * shared with the q108 apply oracle (doc_id carried through the
    * rounds). The winner is LEFT-joined (ON TRUE): when a round finds
    * no pair (corpus degenerated to 1-token docs before `rounds`),
    * m_r is empty and d_r falls back to d_{r-1} unchanged — the same
    * early-exit the engine's bpeLoop takes, so neither side drops
    * documents on degenerate input. */
  private def bpeCtePrefix(rounds: Int): String = {
    val sb = new StringBuilder(
      s"WITH d0 AS (SELECT doc_id, $W AS w FROM documents),\n")
    for (r <- 1 to rounds) {
      val prev = s"d${r - 1}"
      sb.append(
        s"""p$r AS (SELECT w[i] || ' ' || w[i+1] AS pair, count(*) AS cnt
           |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM $prev)
           |  GROUP BY 1),
           |m$r AS (SELECT pair, cnt FROM p$r ORDER BY cnt DESC, pair ASC LIMIT 1),
           |d$r AS (SELECT doc_id, CASE WHEN len(w) = 0 THEN w
           |    ELSE string_split(substr(s, 2, length(s) - 2), '][') END AS w
           |  FROM (SELECT doc_id, w,
           |    CASE WHEN m$r.pair IS NULL
           |      THEN '[' || array_to_string(w, '][') || ']'
           |      ELSE replace('[' || array_to_string(w, '][') || ']',
           |        '[' || split_part(m$r.pair, ' ', 1) || '][' ||
           |          split_part(m$r.pair, ' ', 2) || ']',
           |        '[' || replace(m$r.pair, ' ', '+') || ']') END AS s
           |    FROM $prev LEFT JOIN m$r ON TRUE)),
           |""".stripMargin)
    }
    sb.setLength(sb.length - 2) // drop the trailing ",\n"
    sb.toString
  }

  val bpeMergesSql: String =
    bpeCtePrefix(4) + "\n" + (1 to 4).map(r =>
      s"SELECT $r AS round, split_part(pair, ' ', 1) AS lhs, " +
        s"split_part(pair, ' ', 2) AS rhs, " +
        s"replace(pair, ' ', '+') AS merged, cnt FROM m$r")
      .mkString("\nUNION ALL\n")

  // ---- q108: BPE merge application / compression report ----

  def bpeApply(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bpeApply(Tables.documents(s, d), "doc_id", "text",
      rounds = 4)

  val bpeApplySql: String =
    bpeCtePrefix(4) +
      """
        |SELECT d0.doc_id,
        |  CAST(len(d0.w) AS BIGINT) AS n_before,
        |  CAST(len(d4.w) AS BIGINT) AS n_after
        |FROM d0 JOIN d4 USING (doc_id)""".stripMargin

  // ---- q109: exact per-source token-count quantiles ----

  def lengthQuantiles(s: SparkSession, d: String): DataFrame =
    TextAnalysis.exactQuantiles(
      Tables.documents(s, d), "source", "doc_id",
      size(graft.functions.TextFunctions.normToks(col("text"))))

  val lengthQuantilesSql: String =
    s"""WITH t AS (SELECT source, doc_id,
       |  CAST(len($W) AS BIGINT) AS m FROM documents),
       |r AS (SELECT source, doc_id, m,
       |  row_number() OVER (PARTITION BY source ORDER BY m, doc_id) AS rk,
       |  count(*) OVER (PARTITION BY source) AS n FROM t)
       |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
       |  max(CASE WHEN rk = ceil(50 * n / 100.0) THEN m END) AS p50,
       |  max(CASE WHEN rk = ceil(90 * n / 100.0) THEN m END) AS p90,
       |  max(CASE WHEN rk = ceil(99 * n / 100.0) THEN m END) AS p99
       |FROM r GROUP BY source""".stripMargin

  // ---- q110: contamination report (benchmark-side audit) ----

  def contaminationReport(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isBench =
      substring(md5(col("doc_id").cast("string")), 1, 2) < lit("40")
    TextAnalysis.contaminationReport(
      docs.where(!isBench), "doc_id", "text",
      docs.where(isBench), "doc_id", "text", n = 8)
  }

  val contaminationReportSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(w) - 6, 1)),
       |    i -> array_to_string(w[i:i+7], ' '))) AS gr
       |  FROM (SELECT doc_id, $W AS w FROM documents)),
       |bench AS (SELECT doc_id AS bench_id, unnest(gr) AS gram FROM g
       |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'),
       |probe AS (SELECT doc_id, unnest(gr) AS gram FROM g
       |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= '40'),
       |pairs AS (SELECT bench_id, probe.doc_id AS pid, count(*) AS h
       |  FROM probe JOIN bench USING (gram) GROUP BY 1, 2),
       |agg AS (SELECT bench_id, CAST(count(*) AS BIGINT) AS n_docs_hit,
       |  CAST(sum(h) AS BIGINT) AS n_gram_hits FROM pairs GROUP BY 1)
       |SELECT b.bench_id,
       |  coalesce(n_docs_hit, 0) AS n_docs_hit,
       |  coalesce(n_gram_hits, 0) AS n_gram_hits
       |FROM (SELECT DISTINCT doc_id AS bench_id FROM g
       |      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40') b
       |LEFT JOIN agg USING (bench_id)""".stripMargin

  val queries: Map[String, Q] = Map(
    "q94_kmeans_assign" -> (kmeansAssign _),
    "q95_leakage_split" -> (leakageSplit _),
    "q96_rare_tokens"   -> (rareTokens _),
    "q97_token_budget"  -> (tokenBudget _),
    "q98_knn_graph"     -> (knnGraph _),
    "q99_cluster_sample" -> (clusterSample _),
    "q100_dedup_report" -> (dedupReport _),
    "q101_rag_chunks"   -> (ragChunks _),
    "q102_importance_sample" -> (importanceSample _),
    "q103_containment"  -> (containment _),
    "q104_segment_clean" -> (segmentClean _),
    "q105_lcs_verify"   -> (lcsVerify _),
    "q106_shard_assign" -> (shardAssign _),
    "q107_bpe_merges"   -> (bpeMerges _),
    "q108_bpe_apply"    -> (bpeApply _),
    "q109_len_quantiles" -> (lengthQuantiles _),
    "q110_contamination_report" -> (contaminationReport _))

  val oracles: Map[String, String] = Map(
    "q94_kmeans_assign" -> kmeansAssignSql,
    "q95_leakage_split" -> leakageSplitSql,
    "q96_rare_tokens"   -> rareTokensSql,
    "q97_token_budget"  -> tokenBudgetSql,
    "q98_knn_graph"     -> knnGraphSql,
    "q99_cluster_sample" -> clusterSampleSql,
    "q100_dedup_report" -> dedupReportSql,
    "q101_rag_chunks"   -> ragChunksSql,
    "q102_importance_sample" -> importanceSampleSql,
    "q103_containment"  -> containmentSql,
    "q104_segment_clean" -> segmentCleanSql,
    "q105_lcs_verify"   -> lcsVerifySql,
    "q106_shard_assign" -> shardAssignSql,
    "q107_bpe_merges"   -> bpeMergesSql,
    "q108_bpe_apply"    -> bpeApplySql,
    "q109_len_quantiles" -> lengthQuantilesSql,
    "q110_contamination_report" -> contaminationReportSql)
}
