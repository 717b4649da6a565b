package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Sampling, Similarity, Skew, TextAnalysis}
import graft.queries.Exact._

/** Round-4 additions: semantic dedup (SemDeDup shape), skew-salted
  * join, per-group top-n selection, deterministic source mixing, and
  * integer tf-idf term relevance. Same contract as [[Pipeline]]: every
  * query has a DuckDB oracle computing identical deterministic
  * arithmetic.
  */
object Pipeline3 extends Registry {

  /** tokens of lower(text) — DuckDB side of TextFunctions.normToks */
  private val W = raw"regexp_split_to_array(trim(lower(text)), '\s+')"

  /** 1000-scaled integer quantization — DuckDB side of
    * VectorFunctions.quantize */
  private def qv(col: String) =
    s"list_transform($col, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))"

  private val qdotSql =
    (a: String, b: String) =>
      s"CAST(list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2])) AS DOUBLE)"

  // ---- q66: semantic dedup (cluster, then near-dup within cell) ----

  def semanticDedup(s: SparkSession, d: String): DataFrame =
    Dedup.semanticDedup(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", threshold = 0.95, centroidEvery = 25)
      .select(col("id").as("vec_id"), col("cell"), col("kept"))

  val semanticDedupSql: String =
    s"""WITH e AS (SELECT vec_id, ${qv("embedding")} AS q FROM embeddings),
       |n AS (SELECT vec_id, q,
       |  sqrt(CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE)) AS nrm
       | FROM e),
       |cent AS (SELECT vec_id AS cid, q AS cv, nrm AS cn FROM n
       |  WHERE vec_id % 25 = 0 ORDER BY vec_id LIMIT 256),
       |asg AS (
       |  SELECT nid, q, nrm, cid AS cell FROM (
       |    SELECT n.vec_id AS nid, n.q, n.nrm, cent.cid,
       |      CAST(row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        ${qdotSql("n.q", "cent.cv")} / (n.nrm * cent.cn) DESC,
       |        cent.cid ASC) AS INTEGER) AS arank
       |    FROM n, cent)
       |  WHERE arank = 1),
       |dropped AS (
       |  SELECT DISTINCT b.nid AS id
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.nid < b.nid
       |  WHERE ${qdotSql("a.q", "b.q")} / (a.nrm * b.nrm) >= 0.95)
       |SELECT asg.nid AS vec_id, asg.cell,
       |  (dropped.id IS NULL) AS kept
       |FROM asg LEFT JOIN dropped ON asg.nid = dropped.id""".stripMargin

  // ---- q67: skew-salted join ----

  def saltedSkewJoin(s: SparkSession, d: String): DataFrame = {
    val fact = Tables.lineitem(s, d)
      .select(col("l_partkey").as("pk"), col("l_extendedprice"),
        col("l_quantity"))
    val dim = Tables.part(s, d)
      .select(col("p_partkey").as("pk"), col("p_brand"))
    Skew.saltedJoin(fact, dim, Seq("pk"), salts = 8)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("revenue"),
        dsum(col("l_quantity")).as("qty"))
  }

  val saltedSkewJoinSql: String =
    s"""SELECT p_brand, count(*) AS n_items,
       |  ${dsumSql("l_extendedprice")} AS revenue,
       |  ${dsumSql("l_quantity")} AS qty
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand""".stripMargin

  // ---- q68: per-group top-n selection ----

  def topNPerGroup(s: SparkSession, d: String): DataFrame =
    Sampling.topNPerGroup(
      Tables.documents(s, d).select(col("doc_id"), col("lang"),
        col("n_chars")),
      "lang", "n_chars", "doc_id", n = 3)

  val topNPerGroupSql: String =
    """SELECT doc_id, lang, n_chars, rk FROM (
      |  SELECT doc_id, lang, n_chars,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY n_chars DESC, doc_id ASC) AS INTEGER) AS rk
      |  FROM documents)
      |WHERE rk <= 3""".stripMargin

  // ---- q69: deterministic source mixing ----

  def sourceMix(s: SparkSession, d: String): DataFrame =
    Sampling.sourceMix(
      Tables.documents(s, d).select(col("doc_id"), col("source")),
      "source", "doc_id",
      quota = Map("src0" -> 15, "src1" -> 10, "src2" -> 8),
      defaultQuota = 5)

  val sourceMixSql: String =
    """SELECT doc_id, source, rk FROM (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER)
      |      AS rk
      |  FROM documents)
      |WHERE rk <= CASE source WHEN 'src0' THEN 15 WHEN 'src1' THEN 10
      |  WHEN 'src2' THEN 8 ELSE 5 END""".stripMargin

  // ---- q79: temperature-scaled source mix ----

  def temperatureMix(s: SparkSession, d: String): DataFrame =
    Sampling.temperatureMix(
      Tables.documents(s, d).select(col("doc_id"), col("source")),
      "source", "doc_id", budget = 60)

  val temperatureMixSql: String =
    """WITH c AS (
      |  SELECT source, CAST(floor(sqrt(count(*))) AS BIGINT) AS w
      |  FROM documents GROUP BY source),
      |t AS (SELECT source,
      |    GREATEST(1, CAST(floor(60 * w / (SELECT sum(w) FROM c))
      |      AS BIGINT)) AS target
      |  FROM c)
      |SELECT doc_id, source, rk FROM (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER)
      |      AS rk
      |  FROM documents) JOIN t USING (source)
      |WHERE rk <= target""".stripMargin

  // ---- q70: integer tf-idf term relevance ----

  private val Terms = Seq("the", "data", "of")

  def termRelevance(s: SparkSession, d: String): DataFrame =
    TextAnalysis.termRelevance(Tables.documents(s, d), "doc_id", "text",
      Terms, topN = 20)

  val termRelevanceSql: String = {
    val tf = Terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(w, x -> x = '$t')) AS tf$i"
    }.mkString(", ")
    val df = Terms.indices.map(i =>
      s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val score = Terms.indices.map(i =>
      s"tf$i * ((n * 1000000) // (df$i + 1))").mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, $W AS w FROM documents),
       |tfs AS (SELECT doc_id, $tf FROM toks),
       |stats AS (SELECT count(*) AS n, $df FROM tfs)
       |SELECT doc_id, CAST($score AS BIGINT) AS score
       |FROM tfs, stats
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  // ---- q71: product-quantization ANN (ADC scoring) ----

  def pqAnnTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.pqTopK(e.where(col("id") < 8), e, k = 5)
  }

  /** codebooks = subvectors of vec_id % 25 == 0; m = 8 subspaces of 8
    * dims; integer L2 encode, integer-dot ADC scores. */
  val pqAnnTopKSql: String = {
    val sqd = "list_sum(list_transform(list_zip(sub.sub, cents.cv), " +
      "p -> (p[1]-p[2])*(p[1]-p[2])))"
    s"""WITH e AS (SELECT vec_id, ${qv("embedding")} AS q FROM embeddings),
       |sub AS (SELECT vec_id, CAST(t.s AS INTEGER) AS s,
       |    q[(CAST(t.s AS INTEGER)*8+1):(CAST(t.s AS INTEGER)*8+8)] AS sub
       |  FROM e, range(8) t(s)),
       |cents AS (SELECT s, cid, cv FROM (
       |    SELECT s, vec_id AS cid, sub AS cv,
       |      row_number() OVER (PARTITION BY s ORDER BY vec_id) AS crk
       |    FROM sub WHERE vec_id % 25 = 0)
       |  WHERE crk <= 256),
       |codes AS (SELECT nid, s, cid AS code FROM (
       |    SELECT sub.vec_id AS nid, sub.s, cents.cid,
       |      row_number() OVER (PARTITION BY sub.vec_id, sub.s
       |        ORDER BY $sqd ASC, cents.cid ASC) AS rk
       |    FROM sub JOIN cents ON sub.s = cents.s)
       |  WHERE rk = 1),
       |lut AS (SELECT sub.vec_id AS qid, cents.s, cents.cid AS code,
       |    CAST(list_sum(list_transform(list_zip(sub.sub, cents.cv),
       |      p -> p[1]*p[2])) AS BIGINT) AS pdot
       |  FROM sub JOIN cents ON sub.s = cents.s WHERE sub.vec_id < 8),
       |sc AS (SELECT lut.qid, codes.nid, CAST(SUM(pdot) AS BIGINT) AS score
       |  FROM codes JOIN lut ON codes.s = lut.s AND codes.code = lut.code
       |  WHERE lut.qid <> codes.nid GROUP BY 1, 2)
       |SELECT qid, nid, score, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY score DESC, nid ASC) AS INTEGER) AS rank FROM sc)
       |WHERE rank <= 5""".stripMargin
  }

  // ---- q72: incremental near-dup candidates (batch → corpus index) ----

  def incrementalNearDup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.incrementalNearDupCandidates(
      docs.where(col("source") =!= "src0"), "doc_id", "text",
      Dedup.bandIndex(docs.where(col("source") === "src0"),
        "doc_id", "text"))
  }

  /** 3-shingle list over token array `w` — mirrors Pipeline.ShingleList */
  private val ShingleList =
    "list_transform(range(1, greatest(len(w) - 1, 1)), " +
      "i -> array_to_string(w[i:i+2], ' '))"

  val incrementalNearDupSql: String =
    s"""WITH sigs AS (SELECT doc_id, source,
       |  list_min(list_transform(sh, s -> md5('s0|' || s))) AS m0,
       |  list_min(list_transform(sh, s -> md5('s1|' || s))) AS m1,
       |  list_min(list_transform(sh, s -> md5('s2|' || s))) AS m2,
       |  list_min(list_transform(sh, s -> md5('s3|' || s))) AS m3
       |FROM (SELECT doc_id, source, $ShingleList AS sh
       |      FROM (SELECT doc_id, source, $W AS w FROM documents))
       |WHERE len(sh) > 0),
       |bands AS (SELECT doc_id, source,
       |  m0 || ':' || m1 AS b0, m2 || ':' || m3 AS b1 FROM sigs)
       |SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id
       |FROM bands a JOIN bands b ON a.b0 = b.b0
       |WHERE a.source <> 'src0' AND b.source = 'src0'
       |UNION
       |SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id
       |FROM bands a JOIN bands b ON a.b1 = b.b1
       |WHERE a.source <> 'src0' AND b.source = 'src0'""".stripMargin

  // ---- q73: PQ reconstruction error per label ----

  def pqReconstruction(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val err = Similarity.pqReconstruction(
      e.select(col("vec_id").as("id"), col("embedding").as("vec")))
    err.join(e.select(col("vec_id").as("id"), col("label")), "id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("err")).as("total_err"),
        max(col("err")).as("max_err"))
  }

  val pqReconstructionSql: String = {
    val sqd = "list_sum(list_transform(list_zip(sub.sub, cents.cv), " +
      "p -> (p[1]-p[2])*(p[1]-p[2])))"
    s"""WITH e AS (SELECT vec_id, ${qv("embedding")} AS q FROM embeddings),
       |sub AS (SELECT vec_id, CAST(t.s AS INTEGER) AS s,
       |    q[(CAST(t.s AS INTEGER)*8+1):(CAST(t.s AS INTEGER)*8+8)] AS sub
       |  FROM e, range(8) t(s)),
       |cents AS (SELECT s, cid, cv FROM (
       |    SELECT s, vec_id AS cid, sub AS cv,
       |      row_number() OVER (PARTITION BY s ORDER BY vec_id) AS crk
       |    FROM sub WHERE vec_id % 25 = 0)
       |  WHERE crk <= 256),
       |codes AS (SELECT nid, s, d FROM (
       |    SELECT sub.vec_id AS nid, sub.s, $sqd AS d,
       |      row_number() OVER (PARTITION BY sub.vec_id, sub.s
       |        ORDER BY $sqd ASC, cents.cid ASC) AS rk
       |    FROM sub JOIN cents ON sub.s = cents.s)
       |  WHERE rk = 1),
       |err AS (SELECT nid, CAST(SUM(d) AS BIGINT) AS err
       |  FROM codes GROUP BY 1)
       |SELECT label, count(*) AS n,
       |  CAST(SUM(err) AS BIGINT) AS total_err,
       |  CAST(MAX(err) AS BIGINT) AS max_err
       |FROM err JOIN embeddings ON nid = vec_id
       |GROUP BY label""".stripMargin
  }

  // ---- q75: ANN recall evaluation (IVF vs exact brute force) ----

  /** The eval-harness shape: per query, how many of the exact top-k
    * the approximate index recovered — composed ENTIRELY from the
    * q20/q25 query functions (and the oracle from their oracle SQL),
    * so the metric can never drift from the operators it measures. */
  def annRecallEval(s: SparkSession, d: String): DataFrame = {
    val brute = Pipeline.annCosineTopK(s, d).select(col("qid"), col("nid"))
    val ivf = Pipeline.ivfAnnTopK(s, d).select(col("qid"), col("nid"))
    val hits = brute.join(ivf, Seq("qid", "nid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    brute.groupBy(col("qid")).agg(count(lit(1)).as("n_brute"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), col("n_brute"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
  }

  val annRecallEvalSql: String =
    s"""WITH brute AS (${Pipeline.annCosineTopKSql}),
       |ivf AS (${Pipeline.ivfAnnTopKSql})
       |SELECT b.qid, count(*) AS n_brute,
       |  CAST(SUM(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hit
       |FROM brute b LEFT JOIN ivf i ON b.qid = i.qid AND b.nid = i.nid
       |GROUP BY b.qid""".stripMargin

  // ---- q74: bigram vocabulary induction ----

  def bigramVocab(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions._
    // native shingle kernel, not the HOF form (same output; the HOF
    // measured ~2× slower on this corpus-wide explode)
    Tables.documents(s, d)
      .select(explode(graft.expressions.VectorExpressions
        .shinglesN(normToks(col("text")), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram")).limit(20)
  }

  val bigramVocabSql: String =
    s"""WITH toks AS (SELECT $W AS w FROM documents),
       |grams AS (SELECT unnest(list_transform(
       |    range(1, greatest(len(w), 1)),
       |    i -> array_to_string(w[i:i+1], ' '))) AS bigram
       |  FROM toks)
       |SELECT bigram, count(*) AS n FROM grams
       |GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""".stripMargin

  // ---- q76: the END-TO-END curation pipeline under the hash gate ----

  /** The whole `TrainingData.curate` chain as one oracle-checked
    * query: funnel → exact dedup → LSH near-dup prune → benchmark
    * decontamination (hash-split benchmark, as q55) → quota mix →
    * packing. Every stage's SQL fragment is the one its standalone
    * query already proved. */
  // stage frames of the LAST curation() call — persisted for the
  // keep-join + anti-join double references, released on the next
  // call so repeated gate/bench invocations hold at most one set
  private val curationStages =
    new java.util.concurrent.atomic.AtomicReference[Seq[DataFrame]](Nil)

  def curation(s: SparkSession, d: String): DataFrame = {
    curationStages.getAndSet(Nil).foreach(_.unpersist())
    val docs = Tables.documents(s, d)
    val isBench =
      substring(md5(col("doc_id").cast("string")), 1, 2) < lit("40")
    val staged = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val out = graft.operators.TrainingData.curate(
      docs.where(!isBench), "doc_id", "text", "source", "n_chars",
      docs.where(isBench), "text",
      quota = Map("src0" -> 15, "src1" -> 10, "src2" -> 8),
      defaultQuota = 5, windowTokens = 512, minJaccard = 0.8,
      persistStages = true, onStagePersist = staged += _)
    curationStages.set(staged.toSeq)
    out
  }

  val curationSql: String = {
    val grams8 = (src: String) =>
      s"""SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(w) - 6, 1)),
         |    i -> array_to_string(w[i:i+7], ' ')))) AS gram
         |  FROM (SELECT doc_id, $W AS w FROM $src)""".stripMargin
    s"""WITH RECURSIVE
       |base AS (SELECT doc_id, source, text, n_chars FROM documents
       |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= '40'),
       |bdocs AS (SELECT doc_id, text FROM documents
       |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'),
       |q0 AS (SELECT doc_id, source, text FROM (
       |    SELECT doc_id, source, text, n_chars, len(w) AS ntok,
       |      len(list_distinct(w)) AS nuniq,
       |      list_max(list_transform(list_distinct(w),
       |        u -> len(list_filter(w, x -> x = u)))) AS maxfreq
       |    FROM (SELECT doc_id, source, text, n_chars, $W AS w FROM base))
       |  WHERE n_chars >= 200 AND ntok >= 40 AND nuniq * 2 >= ntok
       |    AND maxfreq * 10 <= ntok),
       |keepx AS (SELECT min(doc_id) AS doc_id FROM q0 GROUP BY md5(text)),
       |q1 AS (SELECT q0.* FROM q0 JOIN keepx USING (doc_id)),
       |sh AS (SELECT doc_id, $ShingleList AS sh
       |  FROM (SELECT doc_id, $W AS w FROM q1)),
       |sigs AS (SELECT doc_id,
       |    list_min(list_transform(sh, s -> md5('s0|' || s))) AS m0,
       |    list_min(list_transform(sh, s -> md5('s1|' || s))) AS m1,
       |    list_min(list_transform(sh, s -> md5('s2|' || s))) AS m2,
       |    list_min(list_transform(sh, s -> md5('s3|' || s))) AS m3
       |  FROM sh WHERE len(sh) > 0),
       |bands AS (SELECT doc_id, m0 || ':' || m1 AS b0,
       |    m2 || ':' || m3 AS b1 FROM sigs),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a
       |    JOIN bands b ON a.b0 = b.b0 AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT a.doc_id, b.doc_id FROM bands a
       |    JOIN bands b ON a.b1 = b.b1 AND a.doc_id < b.doc_id),
       |ws AS (SELECT doc_id, list_distinct($W) AS w FROM q1),
       |verified AS (SELECT id_a, id_b FROM pairs
       |  JOIN ws wa ON pairs.id_a = wa.doc_id
       |  JOIN ws wb ON pairs.id_b = wb.doc_id
       |  WHERE CAST(len(list_filter(wa.w, x -> list_contains(wb.w, x))) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(wa.w, wb.w))) AS DOUBLE) >= 0.8),
       |sym AS (SELECT id_a AS u, id_b AS v FROM verified
       |  UNION SELECT id_b, id_a FROM verified),
       |reach(u, v) AS (SELECT u, v FROM sym
       |  UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
       |    WHERE s.v <> r.u),
       |comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |  FROM reach GROUP BY u),
       |dropn AS (SELECT c.doc_id FROM comp c
       |  JOIN (SELECT cluster_id, min(doc_id) AS keep FROM comp
       |        GROUP BY 1) k ON c.cluster_id = k.cluster_id
       |  WHERE c.doc_id <> k.keep),
       |q2 AS (SELECT * FROM q1
       |  WHERE doc_id NOT IN (SELECT doc_id FROM dropn)),
       |bgr AS (SELECT DISTINCT gram FROM (${grams8("bdocs")})),
       |pgr AS (${grams8("q2")}),
       |contaminated AS (SELECT DISTINCT pgr.doc_id
       |  FROM pgr JOIN bgr USING (gram)),
       |q3 AS (SELECT * FROM q2
       |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |q4 AS (SELECT doc_id, source, text FROM (
       |    SELECT doc_id, source, text,
       |      row_number() OVER (PARTITION BY source
       |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |    FROM q3)
       |  WHERE rk <= CASE source WHEN 'src0' THEN 15 WHEN 'src1' THEN 10
       |    WHEN 'src2' THEN 8 ELSE 5 END),
       |t AS (SELECT source, doc_id, len($W) AS n_tokens FROM q4)
       |SELECT source, doc_id, n_tokens,
       |  CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS start_offset,
       |  CAST(sum(n_tokens) OVER w AS BIGINT) AS end_offset,
       |  CAST(floor((sum(n_tokens) OVER w - n_tokens) / 512) AS BIGINT)
       |    AS first_window,
       |  CAST(floor((sum(n_tokens) OVER w - 1) / 512) AS BIGINT)
       |    AS last_window
       |FROM t WHERE n_tokens > 0
       |WINDOW w AS (PARTITION BY source ORDER BY doc_id
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q76_curation"           -> (curation _),
    "q71_pq_ann_topk"        -> (pqAnnTopK _),
    "q72_incremental_neardup" -> (incrementalNearDup _),
    "q73_pq_reconstruction"  -> (pqReconstruction _),
    "q74_bigram_vocab"       -> (bigramVocab _),
    "q75_ann_recall_eval"    -> (annRecallEval _),
    "q66_semantic_dedup"   -> (semanticDedup _),
    "q67_salted_skew_join" -> (saltedSkewJoin _),
    "q68_topn_per_group"   -> (topNPerGroup _),
    "q69_source_mix"       -> (sourceMix _),
    "q79_temperature_mix"  -> (temperatureMix _),
    "q70_term_relevance"   -> (termRelevance _))

  val oracles: Map[String, String] = Map(
    "q76_curation"           -> curationSql,
    "q71_pq_ann_topk"        -> pqAnnTopKSql,
    "q72_incremental_neardup" -> incrementalNearDupSql,
    "q73_pq_reconstruction"  -> pqReconstructionSql,
    "q74_bigram_vocab"       -> bigramVocabSql,
    "q75_ann_recall_eval"    -> annRecallEvalSql,
    "q66_semantic_dedup"   -> semanticDedupSql,
    "q67_salted_skew_join" -> saltedSkewJoinSql,
    "q68_topn_per_group"   -> topNPerGroupSql,
    "q69_source_mix"       -> sourceMixSql,
    "q79_temperature_mix"  -> temperatureMixSql,
    "q70_term_relevance"   -> termRelevanceSql)
}
