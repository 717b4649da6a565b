package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{CorpusOps, Dedup, Sessions}

/** Round-7 additions, batch 2: post-dedup cluster canonicalization,
  * the corpus-wide duplicated-n-gram scan, and retention cohorts
  * over the events stream. Same contract as [[Pipeline]]: every
  * query has a DuckDB oracle with identical deterministic
  * arithmetic (integer weeks, windowed tie-breaks, gram-text
  * ordering). */
object Pipeline5 extends Registry {

  private val W = raw"regexp_split_to_array(trim(lower(text)), '\s+')"

  // ---- q87: canonical representative per near-dup cluster ----

  def canonicalDocs(s: SparkSession, d: String): DataFrame =
    Dedup.canonicalDocs(Tables.documents(s, d), "doc_id", "text",
      "n_chars")

  val canonicalDocsSql: String =
    s"""WITH joined AS (
       |  SELECT c.cluster_id, c.doc_id, d.n_chars
       |  FROM (${Pipeline.dedupClustersSql}) c
       |  JOIN documents d ON c.doc_id = d.doc_id),
       |ranked AS (
       |  SELECT cluster_id, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY n_chars DESC, doc_id) AS rk,
       |    count(*) OVER (PARTITION BY cluster_id) AS n_members
       |  FROM joined)
       |SELECT cluster_id, doc_id AS canonical_id, n_members,
       |  n_chars AS canonical_weight
       |FROM ranked WHERE rk = 1""".stripMargin

  // ---- q88: corpus-wide duplicated n-grams (memorization scan) ----

  def dupNgrams(s: SparkSession, d: String): DataFrame =
    CorpusOps.dupNgrams(Tables.documents(s, d), "doc_id", "text")

  val dupNgramsSql: String =
    s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
       |g AS (SELECT doc_id,
       |  unnest(list_transform(range(greatest(len(w) - 7, 0)),
       |    i -> array_to_string(w[(i+1):(i+8)], ' '))) AS gram
       |  FROM t)
       |SELECT gram, count(DISTINCT doc_id) AS n_docs,
       |  count(*) AS n_occurrences
       |FROM g GROUP BY gram
       |HAVING count(DISTINCT doc_id) > 1
       |ORDER BY n_docs DESC, gram LIMIT 50""".stripMargin

  // ---- q89: retention cohorts over events ----

  def retentionCohorts(s: SparkSession, d: String): DataFrame =
    Sessions.retentionCohorts(Tables.events(s, d), "user_id", "ts")

  val retentionCohortsSql: String =
    """WITH active AS (
      |  SELECT DISTINCT user_id AS u,
      |    CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
      |  FROM events),
      |cohorts AS (SELECT u, min(week) AS cohort_week
      |            FROM active GROUP BY u)
      |SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
      |  count(DISTINCT a.u) AS n_users
      |FROM active a JOIN cohorts c ON a.u = c.u
      |GROUP BY 1, 2""".stripMargin

  // ---- q90: Okapi BM25 retrieval over a fixed query term set ----

  private val Bm25Terms = Seq("dup", "join", "spark")

  def bm25Retrieval(s: SparkSession, d: String): DataFrame =
    graft.operators.TextAnalysis.bm25Retrieval(
      Tables.documents(s, d), "doc_id", "text", Bm25Terms, topN = 25)

  /** Same integer BM25 algebra (k1=6/5, b=3/4 cleared over 20·T; ×1000
    * quotient scale; 1e6 idf scale). DuckDB sums BIGINT into HUGEINT —
    * all the integer ops stay exact there, and magnitudes stay inside
    * int64 on the Spark side. */
  val bm25RetrievalSql: String = {
    val tf = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(w, x -> x = '$t')) AS tf$i"
    }.mkString(", ")
    val df = Bm25Terms.indices.map(i =>
      s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val score = Bm25Terms.indices.map(i =>
      s"((n * 1000000) // (df$i + 1)) * " +
        s"((tf$i * 44 * t * 1000) // greatest(20 * tf$i * t + 6 * t + 18 * dl * n, 1))")
      .mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, $W AS w FROM documents),
       |tfs AS (SELECT doc_id, len(w) AS dl, $tf FROM toks),
       |stats AS (SELECT count(*) AS n, sum(dl) AS t, $df FROM tfs)
       |SELECT doc_id, CAST($score AS BIGINT) AS score
       |FROM tfs, stats
       |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q87_canonical_docs"   -> (canonicalDocs _),
    "q88_dup_ngrams"       -> (dupNgrams _),
    "q89_retention_cohorts" -> (retentionCohorts _),
    "q90_bm25_retrieval"   -> (bm25Retrieval _))

  val oracles: Map[String, String] = Map(
    "q87_canonical_docs"   -> canonicalDocsSql,
    "q88_dup_ngrams"       -> dupNgramsSql,
    "q89_retention_cohorts" -> retentionCohortsSql,
    "q90_bm25_retrieval"   -> bm25RetrievalSql)
}
