package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.CorpusOps

/** Round-7 additions: corpus-level curation operators — C4-shaped
  * cross-document segment dedup, Gopher quality rules, length-bucket
  * packing statistics, quality-weighted deterministic sampling. Same
  * contract as [[Pipeline]]: every query has a DuckDB oracle with
  * identical deterministic arithmetic.
  */
object Pipeline4 extends Registry {

  /** tokens of lower(text) — DuckDB side of the Spark split */
  private val W = raw"regexp_split_to_array(trim(lower(text)), '\s+')"

  // ---- q83: cross-document segment dedup (C4 line-dedup shape) ----

  def segmentDedup(s: SparkSession, d: String): DataFrame =
    CorpusOps.segmentDedup(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  val segmentDedupSql: String =
    s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
       |segs AS (
       |  SELECT doc_id,
       |    unnest(list_transform(
       |      range(CAST(ceil(len(w) / 10.0) AS BIGINT)),
       |      g -> array_to_string(w[(g*10+1):(g*10+10)], ' '))) AS seg
       |  FROM t),
       |freq AS (SELECT seg, count(DISTINCT doc_id) AS nd
       |         FROM segs GROUP BY seg)
       |SELECT segs.doc_id, count(*) AS n_segments,
       |  CAST(SUM(CASE WHEN freq.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments
       |FROM segs JOIN freq ON segs.seg = freq.seg
       |GROUP BY segs.doc_id ORDER BY segs.doc_id""".stripMargin

  // ---- q84: Gopher-style quality rules ----

  def gopherRules(s: SparkSession, d: String): DataFrame =
    CorpusOps.gopherRules(Tables.documents(s, d), "doc_id", "text")

  val gopherRulesSql: String =
    s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
       |m AS (SELECT doc_id,
       |  CAST(len(w) AS BIGINT) AS n_words,
       |  CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT)
       |    AS n_chars_in_words,
       |  CAST(len(list_filter(w,
       |    x -> x IN ('the', 'a', 'of', 'and', 'data'))) AS BIGINT)
       |    AS stop_hits,
       |  CAST(len(list_filter(w, x -> regexp_full_match(x, '[a-z]+')))
       |    AS BIGINT) AS alpha_words
       | FROM t)
       |SELECT doc_id, n_words, n_chars_in_words, stop_hits, alpha_words,
       |  (n_words >= 20 AND n_words <= 100000) AS ok_word_count,
       |  (CAST(n_chars_in_words AS DOUBLE) / CAST(n_words AS DOUBLE)
       |    >= 3.0 AND
       |   CAST(n_chars_in_words AS DOUBLE) / CAST(n_words AS DOUBLE)
       |    <= 10.0) AS ok_mean_word_len,
       |  (stop_hits >= 2) AS ok_stop_words,
       |  (alpha_words * 10 >= n_words * 8) AS ok_alpha_ratio,
       |  ((n_words >= 20 AND n_words <= 100000) AND
       |   (CAST(n_chars_in_words AS DOUBLE) / CAST(n_words AS DOUBLE)
       |     >= 3.0 AND
       |    CAST(n_chars_in_words AS DOUBLE) / CAST(n_words AS DOUBLE)
       |     <= 10.0) AND
       |   (stop_hits >= 2) AND
       |   (alpha_words * 10 >= n_words * 8)) AS pass
       |FROM m""".stripMargin

  // ---- q85: length-bucket packing statistics ----

  def lengthBuckets(s: SparkSession, d: String): DataFrame =
    CorpusOps.lengthBuckets(Tables.documents(s, d), "doc_id", "text")

  val lengthBucketsSql: String =
    s"""WITH t AS (SELECT doc_id, CAST(len($W) AS BIGINT) AS n
       |           FROM documents),
       |b AS (SELECT greatest(
       |    CAST(power(2, ceil(log2(CAST(n AS DOUBLE)))) AS BIGINT),
       |    1) AS bucket, n FROM t)
       |SELECT bucket, count(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_tokens,
       |  bucket * count(*) AS padded_tokens,
       |  1.0 - CAST(SUM(n) AS DOUBLE) / CAST(bucket * count(*) AS DOUBLE)
       |    AS waste_ratio
       |FROM b GROUP BY bucket""".stripMargin

  // ---- q86: quality-weighted deterministic sampling ----

  def weightedSample(s: SparkSession, d: String): DataFrame =
    CorpusOps.weightedSample(Tables.documents(s, d), "doc_id",
      "n_chars", fullWeight = 3000L)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  val weightedSampleSql: String =
    """SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      |  printf('%04x', least(65535, (n_chars * 65536) // 3000))"""
      .stripMargin

  val queries: Map[String, Q] = Map(
    "q83_segment_dedup"  -> (segmentDedup _),
    "q84_gopher_rules"   -> (gopherRules _),
    "q85_length_buckets" -> (lengthBuckets _),
    "q86_weighted_sample" -> (weightedSample _))

  val oracles: Map[String, String] = Map(
    "q83_segment_dedup"  -> segmentDedupSql,
    "q84_gopher_rules"   -> gopherRulesSql,
    "q85_length_buckets" -> lengthBucketsSql,
    "q86_weighted_sample" -> weightedSampleSql)
}
