package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{CorpusOps, Dedup}

/** Round-8 additions: exact edit-distance verification over the LSH
  * candidate set (the fuzzy-dedup verify keyed on edit similarity
  * rather than token Jaccard) and per-document n-gram novelty
  * scoring. Same contract as [[Pipeline]]: each query carries a
  * DuckDB oracle computing the identical deterministic arithmetic
  * (both engines' `levenshtein` is the classic DP; all other columns
  * are exact integers). */
object Pipeline6 extends Registry {

  private val W = raw"regexp_split_to_array(trim(lower(text)), '\s+')"

  // ---- q91: edit-distance verify on MinHash-LSH candidates ----

  def editVerify(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.editDistanceOnPairs(
      Dedup.minhashCandidatePairs(docs, "doc_id", "text"),
      docs, "doc_id", "text")
  }

  val editVerifySql: String =
    s"""${Pipeline.sigsCte}
       |SELECT id_a, id_b,
       |  CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist,
       |  CAST(greatest(length(ta.text), length(tb.text)) AS BIGINT)
       |    AS max_len
       |FROM pairs
       |JOIN documents ta ON pairs.id_a = ta.doc_id
       |JOIN documents tb ON pairs.id_b = tb.doc_id""".stripMargin

  // ---- q92: per-document n-gram novelty ----

  def ngramNovelty(s: SparkSession, d: String): DataFrame =
    CorpusOps.ngramNovelty(Tables.documents(s, d), "doc_id", "text")

  val ngramNoveltySql: String =
    s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
       |g0 AS (SELECT doc_id,
       |  unnest(list_transform(range(greatest(len(w) - 1, 0)),
       |    i -> array_to_string(w[(i+1):(i+2)], ' '))) AS gram
       |  FROM t),
       |g AS (SELECT DISTINCT doc_id, gram FROM g0),
       |gdf AS (SELECT gram, count(*) AS gdf FROM g GROUP BY gram)
       |SELECT doc_id, count(*) AS n_grams,
       |  CAST(sum(CASE WHEN gdf = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_novel
       |FROM g JOIN gdf USING (gram)
       |GROUP BY doc_id""".stripMargin

  // ---- q93: cross-source leakage matrix ----

  def sourceOverlap(s: SparkSession, d: String): DataFrame =
    CorpusOps.sourceOverlap(Tables.documents(s, d), "source", "text")

  val sourceOverlapSql: String =
    s"""WITH t AS (SELECT source, $W AS w FROM documents),
       |g0 AS (SELECT source,
       |  unnest(list_transform(range(greatest(len(w) - 7, 0)),
       |    i -> array_to_string(w[(i+1):(i+8)], ' '))) AS gram
       |  FROM t),
       |g AS (SELECT DISTINCT source, gram FROM g0)
       |SELECT a.source AS src_a, b.source AS src_b,
       |  count(*) AS n_shared_grams
       |FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
       |GROUP BY 1, 2""".stripMargin

  val queries: Map[String, Q] = Map(
    "q91_edit_verify"    -> (editVerify _),
    "q92_ngram_novelty"  -> (ngramNovelty _),
    "q93_source_overlap" -> (sourceOverlap _))

  val oracles: Map[String, String] = Map(
    "q91_edit_verify"    -> editVerifySql,
    "q92_ngram_novelty"  -> ngramNoveltySql,
    "q93_source_overlap" -> sourceOverlapSql)
}
