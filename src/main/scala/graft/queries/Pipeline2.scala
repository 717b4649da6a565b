package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Sessions, TextAnalysis}
import graft.functions.VectorFunctions

/** Round-4 training-data-pipeline additions: embedding int8
  * quantization, chunk-level exact dedup, event sessionization, the
  * quality-filter funnel, and unigram corpus-frequency scoring. Same
  * contract as [[Pipeline]]: every query has a DuckDB oracle computing
  * the identical deterministic (integer or single-division) arithmetic.
  */
object Pipeline2 extends Registry {

  /** tokens of lower(text) — DuckDB side of TextFunctions.normToks */
  private val W = raw"regexp_split_to_array(trim(lower(text)), '\s+')"

  // ---- q59: int8 embedding quantization ----

  def vecQuantize(s: SparkSession, d: String): DataFrame = {
    val q = VectorFunctions.int8Quantize(col("embedding"))
    Tables.embeddings(s, d).select(
      col("vec_id"),
      size(q).cast("long").as("dim"),
      aggregate(q, lit(0L), _ + _).as("qsum"),
      array_min(q).as("qmin"),
      array_max(q).as("qmax"),
      size(filter(q, x => abs(x) === 127)).cast("long").as("n_sat"))
  }

  val vecQuantizeSql: String =
    """WITH v AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
      |  FROM embeddings),
      |m AS (SELECT vec_id, dv,
      |    list_max(list_transform(dv, x -> abs(x))) AS mx FROM v),
      |q AS (SELECT vec_id,
      |    CASE WHEN mx = 0 THEN list_transform(dv, x -> CAST(0 AS BIGINT))
      |         ELSE list_transform(dv,
      |                x -> CAST(round(x * 127 / mx) AS BIGINT)) END AS q
      |  FROM m)
      |SELECT vec_id,
      |  len(q) AS dim,
      |  CAST(list_aggregate(q, 'sum') AS BIGINT) AS qsum,
      |  CAST(list_aggregate(q, 'min') AS BIGINT) AS qmin,
      |  CAST(list_aggregate(q, 'max') AS BIGINT) AS qmax,
      |  CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_sat
      |FROM q""".stripMargin

  // ---- q60: chunk-level exact dedup ----

  def chunkDedup(s: SparkSession, d: String): DataFrame =
    Dedup.chunkDedup(Tables.documents(s, d), "doc_id", "text")
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"))

  val chunkDedupSql: String =
    s"""WITH toks AS (SELECT doc_id, $W AS w FROM documents),
       |chunks AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, (len(w)-1)//16 + 2),
       |      i -> array_to_string(w[(i-1)*16+1:(i-1)*16+16], ' ')))
       |      AS chunk
       |  FROM toks),
       |counted AS (SELECT chunk, count(*) AS n_occ FROM chunks GROUP BY 1)
       |SELECT doc_id, count(*) AS n_chunks,
       |  CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_chunks
       |FROM chunks JOIN counted USING (chunk)
       |GROUP BY doc_id""".stripMargin

  // ---- q61: gap sessionization ----

  def sessionStats(s: SparkSession, d: String): DataFrame =
    Sessions.sessionStats(Tables.events(s, d), "user_id", "ts",
      "event_id", gapSeconds = 1800)

  val sessionStatsSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |      THEN 1 ELSE 0 END AS ns
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts,
      |    SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM g),
      |per AS (
      |  SELECT user_id, sid, count(*) AS n_events,
      |    max(epoch_us(ts)) - min(epoch_us(ts)) AS dur_us
      |  FROM s GROUP BY 1, 2)
      |SELECT user_id,
      |  count(*) AS n_sessions,
      |  CAST(sum(n_events) AS BIGINT) AS n_events,
      |  CAST(max(n_events) AS BIGINT) AS max_session_events,
      |  CAST(max(dur_us) AS BIGINT) AS max_session_dur_us
      |FROM per GROUP BY user_id""".stripMargin

  // ---- q62: quality-filter funnel ----

  def filterFunnel(s: SparkSession, d: String): DataFrame =
    TextAnalysis.filterFunnel(Tables.documents(s, d), "source", "text",
      "n_chars")

  val filterFunnelSql: String =
    s"""WITH t AS (SELECT source, n_chars, $W AS w FROM documents),
       |f AS (SELECT source,
       |    (n_chars >= 200) AS p1,
       |    len(w) AS ntok,
       |    len(list_distinct(w)) AS nuniq,
       |    list_max(list_transform(list_distinct(w),
       |      u -> len(list_filter(w, x -> x = u)))) AS maxfreq
       |  FROM t),
       |st AS (SELECT source, p1,
       |    (p1 AND ntok >= 40) AS p2,
       |    (p1 AND ntok >= 40 AND nuniq * 2 >= ntok) AS p3,
       |    (p1 AND ntok >= 40 AND nuniq * 2 >= ntok
       |       AND maxfreq * 10 <= ntok) AS p4
       |  FROM f)
       |SELECT source, count(*) AS n_total,
       |  CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
       |  CAST(sum(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS n_ttr,
       |  CAST(sum(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT) AS n_rep
       |FROM st GROUP BY source""".stripMargin

  // ---- q63: unigram corpus-frequency mass ----

  def unigramMass(s: SparkSession, d: String): DataFrame =
    TextAnalysis.unigramMass(Tables.documents(s, d), "doc_id", "text")

  val unigramMassSql: String =
    s"""WITH w AS (SELECT doc_id, unnest($W) AS tok FROM documents),
       |c AS (SELECT tok, count(*) AS c FROM w GROUP BY 1)
       |SELECT doc_id, count(*) AS n_tok,
       |  CAST(sum(c.c) AS BIGINT) AS freq_mass,
       |  CAST(min(c.c) AS BIGINT) AS rarest
       |FROM w JOIN c USING (tok) GROUP BY doc_id""".stripMargin

  // ---- q64: incremental (cross-snapshot) dedup ----

  def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.incrementalDedup(
      docs.where(col("source") =!= "src0"),
      docs.where(col("source") === "src0"), "doc_id", "text")
  }

  val incrementalDedupSql: String =
    """WITH corpus AS (
      |  SELECT DISTINCT md5(text) AS fp FROM documents
      |  WHERE source = 'src0'),
      |batch AS (
      |  SELECT doc_id, md5(text) AS fp FROM documents
      |  WHERE source <> 'src0'),
      |keep AS (SELECT fp, min(doc_id) AS doc_id FROM batch GROUP BY fp)
      |SELECT doc_id, fp FROM keep
      |WHERE fp NOT IN (SELECT fp FROM corpus)""".stripMargin

  // ---- q65: duplicated-span coverage (exact-substring measure) ----

  def dupSpanCoverage(s: SparkSession, d: String): DataFrame =
    Dedup.dupSpanCoverage(Tables.documents(s, d), "doc_id", "text")

  val dupSpanCoverageSql: String =
    s"""WITH toks AS (SELECT doc_id, $W AS w FROM documents),
       |grams AS (
       |  SELECT doc_id,
       |    unnest(range(1, greatest(len(w)-3, 1))) AS i,
       |    unnest(list_transform(range(1, greatest(len(w)-3, 1)),
       |      i -> array_to_string(w[i:i+4], ' '))) AS g
       |  FROM toks),
       |dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1),
       |cov AS (SELECT DISTINCT doc_id, pos FROM (
       |  SELECT doc_id, unnest(range(i, i+5)) AS pos
       |  FROM grams JOIN dupg USING (g))),
       |covc AS (SELECT doc_id, count(*) AS n_covered FROM cov GROUP BY 1)
       |SELECT t.doc_id, len(w) AS n_tokens,
       |  COALESCE(covc.n_covered, 0) AS n_covered
       |FROM toks t LEFT JOIN covc USING (doc_id)""".stripMargin

  val queries: Map[String, Q] = Map(
    "q59_vec_quantize"      -> (vecQuantize _),
    "q60_chunk_dedup"       -> (chunkDedup _),
    "q61_sessionize"        -> (sessionStats _),
    "q62_filter_funnel"     -> (filterFunnel _),
    "q63_unigram_mass"      -> (unigramMass _),
    "q64_incremental_dedup" -> (incrementalDedup _),
    "q65_dup_span_coverage" -> (dupSpanCoverage _))

  val oracles: Map[String, String] = Map(
    "q59_vec_quantize"      -> vecQuantizeSql,
    "q60_chunk_dedup"       -> chunkDedupSql,
    "q61_sessionize"        -> sessionStatsSql,
    "q62_filter_funnel"     -> filterFunnelSql,
    "q63_unigram_mass"      -> unigramMassSql,
    "q64_incremental_dedup" -> incrementalDedupSql,
    "q65_dup_span_coverage" -> dupSpanCoverageSql)
}
