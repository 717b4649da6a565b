package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Multimodal
import graft.functions.VectorFunctions._

/** Training-data-pipeline query surface: deduplication, text analysis,
  * similarity search, multimodal metadata — over the `documents` and
  * `embeddings` tables, each with a DuckDB oracle mirroring the exact
  * same deterministic arithmetic (salted-md5 MinHash, integer votes,
  * quantized-long vector math).
  */
object Pipeline extends Registry {

  // ---- shared SQL fragments (DuckDB side of the mirror) ----

  /** tokens of lower(text), DuckDB side of TextFunctions.normToks */
  private val W = raw"regexp_split_to_array(trim(lower(text)), '\s+')"

  /** 3-shingle list over token array `w` (n-2 shingles; empty if n<3 —
    * DuckDB range(a,b) is empty when b<=a, matching the Spark guard). */
  private val ShingleList =
    "list_transform(range(1, greatest(len(w) - 1, 1)), i -> array_to_string(w[i:i+2], ' '))"

  /** quantized long vector, DuckDB side of VectorFunctions.quantize */
  private def qv(col: String) =
    s"list_transform($col, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))"

  /** projection-only signature block mirroring the zero-shuffle Spark
    * form: list_min over transformed shingle lists */
  private val SigsSelect =
    s"""SELECT doc_id,
       |  list_min(list_transform(sh, s -> md5('s0|' || s))) AS m0,
       |  list_min(list_transform(sh, s -> md5('s1|' || s))) AS m1,
       |  list_min(list_transform(sh, s -> md5('s2|' || s))) AS m2,
       |  list_min(list_transform(sh, s -> md5('s3|' || s))) AS m3
       |FROM (SELECT doc_id, $ShingleList AS sh
       |      FROM (SELECT doc_id, $W AS w FROM documents))
       |WHERE len(sh) > 0""".stripMargin

  private[queries] val sigsCte =
    s"""WITH sigs AS ($SigsSelect),
       |bands AS (SELECT doc_id, m0 || ':' || m1 AS b0, m2 || ':' || m3 AS b1 FROM sigs),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.b0 = b.b0 AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.b1 = b.b1 AND a.doc_id < b.doc_id)""".stripMargin

  // ---- queries ----

  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(s, d), "doc_id", "text")

  val dedupExactSql: String =
    """SELECT md5(text) AS fp, count(*) AS n_docs, min(doc_id) AS keep_id
      |FROM documents GROUP BY md5(text)""".stripMargin

  def dedupSortedFp(s: SparkSession, d: String): DataFrame =
    Dedup.sortedTokenGroups(Tables.documents(s, d), "doc_id", "text")

  val dedupSortedFpSql: String =
    s"""SELECT md5(array_to_string(list_sort(list_distinct($W)), ' ')) AS fp,
       | count(*) AS n_docs, min(doc_id) AS keep_id
       |FROM documents GROUP BY 1""".stripMargin

  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    Dedup.minhashSignatures(Tables.documents(s, d), "doc_id", "text")

  val minhashSignaturesSql: String = SigsSelect

  def minhashLshPairs(s: SparkSession, d: String): DataFrame =
    Dedup.minhashCandidatePairs(Tables.documents(s, d), "doc_id", "text")

  val minhashLshPairsSql: String =
    s"""$sigsCte
       |SELECT id_a, id_b FROM pairs""".stripMargin

  def lshJaccardVerify(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.jaccardOnPairs(
      Dedup.minhashCandidatePairs(docs, "doc_id", "text"),
      docs, "doc_id", "text")
  }

  val lshJaccardVerifySql: String =
    s"""$sigsCte,
       |ws AS (SELECT doc_id, list_distinct($W) AS w FROM documents)
       |SELECT id_a, id_b,
       |  CAST(len(list_filter(wa.w, x -> list_contains(wb.w, x))) AS DOUBLE) /
       |  CAST(len(list_distinct(list_concat(wa.w, wb.w))) AS DOUBLE) AS jaccard
       |FROM pairs
       |JOIN ws wa ON pairs.id_a = wa.doc_id
       |JOIN ws wb ON pairs.id_b = wb.doc_id""".stripMargin

  def simhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhash(Tables.documents(s, d), "doc_id", "text")

  val simhashSql: String = {
    val votes = (0 until 16).map(j =>
      s"SUM(CASE WHEN (instr('0123456789abcdef', substr(h, ${j + 1}, 1)) - 1) % 2 = 1 THEN 1 ELSE -1 END) AS v$j"
    ).mkString(",\n  ")
    val bits = (0 until 16).map(j =>
      s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""WITH words AS (SELECT doc_id, unnest($W) AS word FROM documents),
       |h AS (SELECT doc_id, md5(word) AS h FROM words),
       |votes AS (SELECT doc_id,
       |  $votes
       | FROM h GROUP BY doc_id)
       |SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM votes""".stripMargin
  }

  def textQuality(s: SparkSession, d: String): DataFrame =
    TextAnalysis.quality(Tables.documents(s, d), "doc_id", "text")

  val textQualitySql: String =
    s"""SELECT doc_id,
       |  len(w) AS n_tokens,
       |  len(list_distinct(w)) AS n_distinct,
       |  CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS ttr,
       |  CAST(list_sum(list_transform(w, t -> length(t))) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS mean_tok_len,
       |  (len(w) >= 5 AND len(w) <= 10000 AND
       |   CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) > 0.3) AS quality_ok
       |FROM (SELECT doc_id, $W AS w FROM documents)""".stripMargin

  def langId(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    TextAnalysis.languageId(
      Tables.documents(s, d).select($"doc_id", $"lang", $"text"),
      "doc_id", "text")
      .groupBy($"lang", $"predicted").agg(count(lit(1)).as("n"))
  }

  val langIdSql: String = {
    def cnt(words: Seq[String]) =
      words.map(m => s"len(list_filter(w, x -> x = '$m'))").mkString(" + ")
    val fams = TextAnalysis.markerFamilies
    val cols = fams.map { case (f, ws) => s"${cnt(ws)} AS c_$f" }.mkString(",\n  ")
    s"""WITH c AS (SELECT doc_id, lang,
       |  $cols
       | FROM (SELECT doc_id, lang, $W AS w FROM documents))
       |SELECT lang,
       |  CASE WHEN c_common >= c_db AND c_common >= c_spark THEN 'common'
       |       WHEN c_db >= c_spark THEN 'db'
       |       ELSE 'spark' END AS predicted,
       |  count(*) AS n
       |FROM c GROUP BY 1, 2""".stripMargin
  }

  def tokenStats(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenStats(Tables.documents(s, d), "lang", "text")

  val tokenStatsSql: String =
    s"""SELECT lang, count(*) AS n_docs,
       |  CAST(SUM(len($W)) AS BIGINT) AS total_tokens,
       |  CAST(SUM(len($W)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_tokens
       |FROM documents GROUP BY lang""".stripMargin

  def embeddingNorms(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select($"vec_id", quantize($"embedding").as("q"))
    e.select($"vec_id",
      qdot($"q", $"q").as("q2"),
      (sqrt(qdot($"q", $"q").cast("double")) / 1000.0).as("norm"))
  }

  val embeddingNormsSql: String =
    s"""SELECT vec_id,
       |  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS q2,
       |  sqrt(CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE)) / 1000.0 AS norm
       |FROM (SELECT vec_id, ${qv("embedding")} AS q FROM embeddings)""".stripMargin

  def annCosineTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    Similarity.quantizedTopK(e.where($"id" < 8), e, 5)
  }

  val annCosineTopKSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, ${qv("embedding")} AS qv FROM embeddings WHERE vec_id < 8),
       |c AS (SELECT vec_id AS nid, ${qv("embedding")} AS cv FROM embeddings),
       |sc AS (SELECT qid, nid,
       |  CAST(list_sum(list_transform(list_zip(qv, cv), p -> p[1] * p[2])) AS DOUBLE) /
       |  (sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) *
       |   sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE))) AS cos
       | FROM q, c WHERE qid <> nid)
       |SELECT qid, nid, cos, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS INTEGER) AS rank
       |  FROM sc)
       |WHERE rank <= 5""".stripMargin

  def embeddingNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.embeddingNearDup(
      Tables.embeddings(s, d).select($"vec_id", $"embedding"),
      "vec_id", "embedding", 0.95)
  }

  val embeddingNearDupSql: String =
    s"""WITH e AS (SELECT vec_id, ${qv("embedding")} AS q FROM embeddings)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) AS DOUBLE) /
       |  (sqrt(CAST(list_sum(list_transform(a.q, x -> x * x)) AS DOUBLE)) *
       |   sqrt(CAST(list_sum(list_transform(b.q, x -> x * x)) AS DOUBLE))) AS cos
       |FROM e a JOIN e b ON a.vec_id < b.vec_id""".stripMargin

  private val embeddingNearDupSqlFiltered: String =
    s"""SELECT * FROM ($embeddingNearDupSql) WHERE cos >= 0.95"""

  /** SRP-LSH blocked embedding near-dup (the bucketed scale path over
    * raw cosine — q21 is the all-pairs oracle form, q66 the clustered
    * form). Blocking hyperplanes are pure integer arithmetic, so the
    * oracle reproduces bucket keys bit for bit; verification cosine is
    * the exact q21 formula. */
  def srpEmbeddingNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.srpBlockedNearDup(
      Tables.embeddings(s, d).select($"vec_id", $"embedding"),
      "vec_id", "embedding", 0.25, nTables = 4, bits = 8)
  }

  val srpEmbeddingNearDupSql: String =
    s"""WITH e AS (SELECT vec_id, ${qv("embedding")} AS q FROM embeddings),
       |k AS (SELECT vec_id, t.range AS t,
       |  list_sum(list_transform(range(0, 8), b ->
       |    CASE WHEN list_sum(list_transform(range(0, len(q)), i ->
       |        q[i+1] * (CASE WHEN ((2654435761 * (64*t.range + b + 1)
       |                              * (i + 7919)) % 1000003) % 2 = 0
       |                  THEN 1 ELSE -1 END))) > 0
       |      THEN CAST(2**b AS BIGINT) ELSE 0 END)) AS key
       |  FROM e, range(0, 4) t),
       |p AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |      FROM k a JOIN k b
       |      ON a.t = b.t AND a.key = b.key AND a.vec_id < b.vec_id)
       |SELECT * FROM (
       |  SELECT id_a, id_b,
       |    CAST(list_sum(list_transform(list_zip(ea.q, eb.q),
       |      pr -> pr[1] * pr[2])) AS DOUBLE) /
       |    (sqrt(CAST(list_sum(list_transform(ea.q, x -> x*x)) AS DOUBLE)) *
       |     sqrt(CAST(list_sum(list_transform(eb.q, x -> x*x)) AS DOUBLE)))
       |    AS cos
       |  FROM p JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b)
       |WHERE cos >= 0.25""".stripMargin

  def winnowFingerprints(s: SparkSession, d: String): DataFrame =
    Dedup.winnowFingerprints(Tables.documents(s, d), "doc_id", "text")

  /** k=3, w=4: hashes = md5 of 3-grams; windows of 4 hashes (one
    * whole-array window when there are fewer hashes); fps = sorted
    * distinct window minima. */
  val winnowFingerprintsSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, list_transform(sh, s -> md5(s)) AS hs
       |  FROM (SELECT doc_id, $ShingleList AS sh
       |        FROM (SELECT doc_id, $W AS w FROM documents))
       |  WHERE len(sh) > 0),
       |sel AS (
       |  SELECT doc_id,
       |    list_sort(list_distinct(list_transform(
       |      range(1, greatest(len(hs) - 4 + 1, 1) + 1),
       |      j -> list_min(hs[j:j+3])))) AS fps
       |  FROM g)
       |SELECT doc_id, CAST(len(fps) AS INTEGER) AS n_fps,
       |  md5(array_to_string(fps, ' ')) AS fp_digest
       |FROM sel""".stripMargin

  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccard(Tables.documents(s, d), "doc_id", "text")

  /** bigrams, stop-gram cap df ≤ 25, threshold 0.5 — sizes and
    * intersections over the FILTERED gram sets, as in the Spark op.
    * The cap is the join-fan-out bound: a gram kept by df ≤ d yields
    * ≤ d(d−1)/2 candidate pairs regardless of corpus size. */
  val ngramJaccardSql: String =
    s"""WITH grams AS (
       |  SELECT doc_id AS id, unnest(list_distinct(
       |    list_transform(range(1, len(w)),
       |      i -> array_to_string(w[i:i+1], ' ')))) AS g
       |  FROM (SELECT doc_id, $W AS w FROM documents)),
       |kept AS (
       |  SELECT id, g FROM (
       |    SELECT id, g, count(*) OVER (PARTITION BY g) AS df_cnt
       |    FROM grams)
       |  WHERE df_cnt <= 25),
       |sizes AS (SELECT id, count(*) AS sz FROM kept GROUP BY id),
       |sh AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
       |  FROM kept a JOIN kept b ON a.g = b.g AND a.id < b.id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, shared,
       |  CAST(shared AS DOUBLE) / CAST(sa.sz + sb.sz - shared AS DOUBLE) AS jaccard
       |FROM sh
       |JOIN sizes sa ON sa.id = id_a
       |JOIN sizes sb ON sb.id = id_b
       |WHERE CAST(shared AS DOUBLE) / CAST(sa.sz + sb.sz - shared AS DOUBLE) >= 0.5""".stripMargin

  def ivfAnnTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    Similarity.ivfTopK(e.where($"id" < 8), e, 5)
  }

  /** centroids = vec_id % 25 == 0; nprobe = 2; quantized cosine. */
  val ivfAnnTopKSql: String =
    s"""WITH e AS (SELECT vec_id, ${qv("embedding")} AS q FROM embeddings),
       |n AS (SELECT vec_id, q,
       |  sqrt(CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE)) AS nrm
       | FROM e),
       |cent AS (SELECT vec_id AS cid, q AS cv, nrm AS cn FROM n
       |  WHERE vec_id % 25 = 0 ORDER BY vec_id LIMIT 256),
       |asg AS (
       |  SELECT nid, cid FROM (
       |    SELECT n.vec_id AS nid, cent.cid,
       |      CAST(row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        CAST(list_sum(list_transform(list_zip(n.q, cent.cv), p -> p[1] * p[2])) AS DOUBLE) /
       |          (n.nrm * cent.cn) DESC, cent.cid ASC) AS INTEGER) AS arank
       |    FROM n, cent)
       |  WHERE arank = 1),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT n.vec_id AS qid, cent.cid,
       |      CAST(row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        CAST(list_sum(list_transform(list_zip(n.q, cent.cv), p -> p[1] * p[2])) AS DOUBLE) /
       |          (n.nrm * cent.cn) DESC, cent.cid ASC) AS INTEGER) AS prank
       |    FROM n, cent WHERE n.vec_id < 8)
       |  WHERE prank <= 2),
       |sc AS (
       |  SELECT probes.qid, asg.nid,
       |    CAST(list_sum(list_transform(list_zip(nq.q, nn.q), p -> p[1] * p[2])) AS DOUBLE) /
       |      (nq.nrm * nn.nrm) AS cos
       |  FROM probes
       |  JOIN asg ON probes.cid = asg.cid AND probes.qid <> asg.nid
       |  JOIN n nq ON nq.vec_id = probes.qid
       |  JOIN n nn ON nn.vec_id = asg.nid)
       |SELECT qid, nid, cos, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS INTEGER) AS rank
       |  FROM sc)
       |WHERE rank <= 5""".stripMargin

  def bpeTokenStats(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bpeTokenStats(Tables.documents(s, d), "lang", "text")

  val bpeTokenStatsSql: String = {
    val n = raw"len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\r\f]'))"
    val a = raw"len(regexp_extract_all(lower(text), '[a-z]+'))"
    val d = raw"len(regexp_extract_all(lower(text), '[0-9]+'))"
    s"""SELECT lang, count(*) AS n_docs,
       |  CAST(SUM($n) AS BIGINT) AS total_bpe,
       |  CAST(SUM($a) AS BIGINT) AS total_alpha,
       |  CAST(SUM($d) AS BIGINT) AS total_num,
       |  CAST(SUM($n) - SUM($a) - SUM($d) AS BIGINT) AS total_punct,
       |  CAST(SUM($n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_bpe
       |FROM documents GROUP BY lang""".stripMargin
  }

  /** Multimodal decode → feature pipeline under the oracle, running
    * the REAL decoder ([[graft.sources.Multimodal.BinaryDecoder]]):
    * each document becomes a synthetic 8×8 image — PNG greyscale, BMP
    * 24-bit or PNG RGBA by doc_id — whose pixels are a pure integer
    * formula; the bytes go through the repo's own encoders, the real
    * zlib/PNG-filter/BMP decode, and the pooled-feature mapPartitions
    * pass. The oracle recomputes the 2×2-block pooling straight from
    * the formula, so a hash match certifies the decode AND the
    * pooling. Block sums are exact ints (features are exact quarter
    * floats × 4). */
  def multimodalFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select($"doc_id").as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          def px(i: Int, c: Int, step: Int) =
            ((id * 31 + i.toLong * 7 + c.toLong * step) % 256).toInt
          (id % 3) match {
            case 0 => Multimodal.MediaRow(id, "png_gray",
              graft.sources.Codecs.encodePng(8, 8, 1,
                Array.tabulate(64)(i => px(i, 0, 0))), Map.empty)
            case 1 => Multimodal.MediaRow(id, "bmp",
              graft.sources.Codecs.encodeBmp(8, 8,
                Array.tabulate(192)(j => px(j / 3, j % 3, 13))), Map.empty)
            case _ => Multimodal.MediaRow(id, "png_rgba",
              graft.sources.Codecs.encodePng(8, 8, 4,
                Array.tabulate(256)(j => px(j / 4, j % 4, 11))), Map.empty)
          }
        }
      }
    val feats = Multimodal.extractFeatures(media, Multimodal.BinaryDecoder)
    // features are 2×2-block MEANS (exact quarters); ×4 restores the
    // exact integer block sums the oracle can recompute
    val p = transform($"features", f => (f * 4).cast("int"))
    feats.select($"id".as("doc_id"), $"mediaType".as("media_type"),
      p.as("p"))
      .select($"doc_id", $"media_type",
        aggregate($"p", lit(0L), _ + _).as("px_sum"),
        array_max($"p").as("px_max"),
        array_min($"p").as("px_min"))
      .withColumn("px_mean", $"px_sum".cast("double") / 16.0)
  }

  val multimodalFeaturesSql: String =
    """WITH px AS (SELECT doc_id, doc_id % 3 AS m,
      |    list_transform(range(0, 64), i -> CASE doc_id % 3
      |      WHEN 0 THEN (doc_id*31 + i*7) % 256
      |      WHEN 1 THEN (doc_id*31 + i*7) % 256
      |        + (doc_id*31 + i*7 + 13) % 256
      |        + (doc_id*31 + i*7 + 26) % 256
      |      ELSE (doc_id*31 + i*7) % 256
      |        + (doc_id*31 + i*7 + 11) % 256
      |        + (doc_id*31 + i*7 + 22) % 256
      |        + (doc_id*31 + i*7 + 33) % 256
      |    END) AS p
      |  FROM documents),
      |blocks AS (SELECT doc_id, m,
      |    list_transform(range(0, 16), b ->
      |      p[(2*(b//4))*8 + 2*(b%4) + 1] + p[(2*(b//4))*8 + 2*(b%4) + 2]
      |      + p[(2*(b//4)+1)*8 + 2*(b%4) + 1]
      |      + p[(2*(b//4)+1)*8 + 2*(b%4) + 2]) AS blk
      |  FROM px)
      |SELECT doc_id,
      |  CASE m WHEN 0 THEN 'png_gray' WHEN 1 THEN 'bmp'
      |         ELSE 'png_rgba' END AS media_type,
      |  CAST(list_sum(blk) AS BIGINT) AS px_sum,
      |  CAST(list_max(blk) AS INTEGER) AS px_max,
      |  CAST(list_min(blk) AS INTEGER) AS px_min,
      |  CAST(list_sum(blk) AS DOUBLE) / 16.0 AS px_mean
      |FROM blocks""".stripMargin

  /** Multimodal metadata stub: the Spark-side plumbing for opaque media
    * columns — byte length, head-bytes sample, content digest. The
    * decode stage proper is [[graft.sources.Multimodal]]. */
  def multimodalMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(
      $"doc_id",
      expr("octet_length(text)").as("n_bytes"),
      hex(substring($"text", 1, 8)).as("head_hex"),
      md5($"text").as("content_md5"))
  }

  val multimodalMetaSql: String =
    """SELECT doc_id,
      | strlen(text) AS n_bytes,
      | hex(substr(text, 1, 8)) AS head_hex,
      | md5(text) AS content_md5
      |FROM documents""".stripMargin

  /** Near-dup clusters: LSH pairs verified at Jaccard ≥ 0.5, closed
    * into connected components (large-star/small-star). The DuckDB
    * oracle closes the same verified edge set with a recursive CTE —
    * fine at oracle scale, while the Spark side runs the O(log n)
    * round algorithm that survives planet-scale duplicate graphs. */
  def dedupClusters(s: SparkSession, d: String): DataFrame =
    Dedup.nearDupClusters(Tables.documents(s, d), "doc_id", "text")

  val dedupClustersSql: String =
    s"""${sigsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
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
       |                WHERE s.v <> r.u)
       |SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |FROM reach GROUP BY u""".stripMargin

  /** Deterministic sampling: a 25% Bernoulli hash filter ("40"/256)
    * composed with a per-language stratified top-5 — both keyed on
    * md5(doc_id) so the oracle reproduces the exact sample. */
  def hashSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.operators.Sampling.stratified(
      graft.operators.Sampling.hashSample(
        Tables.documents(s, d), "doc_id", "40"),
      "lang", "doc_id", 5)
      .select($"lang", $"doc_id", $"rk")
  }

  val hashSampleSql: String =
    """WITH kept AS (
      |  SELECT lang, doc_id FROM documents
      |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'),
      |ranked AS (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM kept)
      |SELECT lang, doc_id, rk FROM ranked WHERE rk <= 5""".stripMargin

  /** Sequence packing into 2048-token context windows, sharded by
    * language (per-shard streams, no global sort). */
  def sequencePack(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"lang", $"doc_id",
        size(graft.functions.TextFunctions.normToks($"text")).as("n_tok"))
    graft.operators.Sampling.packSequences(
      docs, "lang", "doc_id", "n_tok", 2048)
  }

  val sequencePackSql: String =
    s"""WITH t AS (SELECT lang, doc_id, len($W) AS n_tok FROM documents)
       |SELECT lang, doc_id, n_tok,
       |  CAST(sum(n_tok) OVER w - n_tok AS BIGINT) AS start_offset,
       |  CAST(sum(n_tok) OVER w AS BIGINT) AS end_offset,
       |  CAST(floor((sum(n_tok) OVER w - n_tok) / 2048) AS BIGINT)
       |    AS first_window,
       |  CAST(floor((sum(n_tok) OVER w - 1) / 2048) AS BIGINT)
       |    AS last_window
       |FROM t WHERE n_tok > 0
       |WINDOW w AS (PARTITION BY lang ORDER BY doc_id
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** Decontamination: the hash-sampled quarter of the corpus plays
    * the held-out benchmark; the rest is probed for any shared word
    * 8-gram (broadcast benchmark grams — the at-scale shape). */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isBench =
      substring(md5(col("doc_id").cast("string")), 1, 2) < lit("40")
    TextAnalysis.decontaminate(
      docs.where(!isBench), "doc_id", "text",
      docs.where(isBench), "text", n = 8)
  }

  val decontaminateSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(w) - 6, 1)),
       |    i -> array_to_string(w[i:i+7], ' '))) AS gr
       |  FROM (SELECT doc_id, $W AS w FROM documents)),
       |bench AS (SELECT DISTINCT unnest(gr) AS gram FROM g
       |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'),
       |probe AS (SELECT doc_id, unnest(gr) AS gram FROM g
       |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= '40')
       |SELECT probe.doc_id, count(*) AS n_hits
       |FROM probe JOIN bench USING (gram) GROUP BY probe.doc_id""".stripMargin

  /** Per-label embedding centroids in exact integer arithmetic:
    * quantized components summed per (label, dimension) — the class
    * analysis / kmeans-update shape, shuffle-order independent. */
  def labelCentroids(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select($"label",
        posexplode(quantize($"embedding")).as(Seq("dim0", "q")))
      .groupBy($"label", ($"dim0" + 1).as("dim"))
      .agg(sum($"q").as("qsum"), count(lit(1)).as("n"))
      .select($"label", $"dim", $"qsum", $"n",
        ($"qsum".cast("double") / ($"n" * 1000).cast("double"))
          .as("centroid"))
  }

  val labelCentroidsSql: String =
    s"""WITH x AS (SELECT label, unnest(q) AS qi,
       |    generate_subscripts(q, 1) AS dim
       |  FROM (SELECT label, ${qv("embedding")} AS q FROM embeddings))
       |SELECT label, CAST(dim AS BIGINT) AS dim,
       |  CAST(sum(qi) AS BIGINT) AS qsum, count(*) AS n,
       |  CAST(sum(qi) AS DOUBLE) / (count(*) * 1000.0) AS centroid
       |FROM x GROUP BY label, dim""".stripMargin

  def repetition(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetition(Tables.documents(s, d), "doc_id", "text")

  val repetitionSql: String = {
    def dup(k: Int) = {
      val sh = s"list_transform(range(1, greatest(len(w) - ${k - 2}, 1)), " +
        s"i -> array_to_string(w[i:i+${k - 1}], ' '))"
      s"""CASE WHEN len($sh) <= 0 THEN 0.0
         | ELSE 1.0 - CAST(len(list_distinct($sh)) AS DOUBLE) /
         |   CAST(len($sh) AS DOUBLE) END""".stripMargin
    }
    s"""SELECT doc_id,
       |  ${dup(2)} AS dup2_frac,
       |  ${dup(3)} AS dup3_frac,
       |  (${dup(2)}) < 0.2 AND (${dup(3)}) < 0.18 AS rep_ok
       |FROM (SELECT doc_id, $W AS w FROM documents)""".stripMargin
  }

  def docKeywords(s: SparkSession, d: String): DataFrame =
    TextAnalysis.keywords(Tables.documents(s, d), "doc_id", "text")

  val docKeywordsSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest($W) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf
       |       FROM toks GROUP BY doc_id, token),
       |dfc AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |ranked AS (
       |  SELECT tf.doc_id, tf.token, tf.tf, dfc.df,
       |    row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY tf.tf DESC, dfc.df ASC, tf.token ASC) AS rk
       |  FROM tf JOIN dfc USING (token))
       |SELECT doc_id, token, tf, df, rk
       |FROM ranked WHERE rk <= 3""".stripMargin


  // ---- q82: PII scrub (count + typed redaction) ----
  // the synthetic corpus carries no PII, so both engines derive the
  // SAME deterministic contact strings from doc_id (an email, a
  // phone run, an IPv4, or nothing by doc_id % 4), then the operator
  // counts and redacts them — proving the cross-engine regex
  // semantics, not just a no-op pass

  def piiRedact(s: SparkSession, d: String): DataFrame = {
    val idS = col("doc_id").cast("string")
    val synth = concat(substring(col("text"), 1, 40),
      when(col("doc_id") % 4 === 0,
        concat(lit(" mail u"), idS, lit("@ex-mail.org now")))
        .when(col("doc_id") % 4 === 1,
          concat(lit(" call +1 555 01"), idS, lit(" now")))
        .when(col("doc_id") % 4 === 2,
          concat(lit(" host 10.0."), (col("doc_id") % 200).cast("string"),
            lit(".7 up")))
        .otherwise(lit(" clean")))
    TextAnalysis.redactPii(
      Tables.documents(s, d).select(col("doc_id"), synth.as("text")),
      "doc_id", "text")
  }

  val piiRedactSql: String = {
    val e = graft.operators.TextAnalysis.EmailRe
    val ip = graft.operators.TextAnalysis.Ipv4Re
    val ph = graft.operators.TextAnalysis.PhoneRe
    s"""WITH synth AS (
       |  SELECT doc_id,
       |    substring(text, 1, 40) ||
       |    CASE CAST(doc_id % 4 AS INTEGER)
       |      WHEN 0 THEN ' mail u' || CAST(doc_id AS VARCHAR) || '@ex-mail.org now'
       |      WHEN 1 THEN ' call +1 555 01' || CAST(doc_id AS VARCHAR) || ' now'
       |      WHEN 2 THEN ' host 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7 up'
       |      ELSE ' clean' END AS text
       |  FROM documents),
       |r1 AS (SELECT doc_id, text,
       |  regexp_replace(text, '$e', '<EMAIL>', 'g') AS t1 FROM synth),
       |r2 AS (SELECT doc_id, text, t1,
       |  regexp_replace(t1, '$ip', '<IP>', 'g') AS t2 FROM r1)
       |SELECT doc_id,
       |  len(regexp_extract_all(text, '$e')) AS n_email,
       |  len(regexp_extract_all(t1, '$ip')) AS n_ip,
       |  len(regexp_extract_all(t2, '$ph')) AS n_phone,
       |  regexp_replace(t2, '$ph', '<PHONE>', 'g') AS redacted
       |FROM r2""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q10_dedup_exact"        -> (dedupExact _),
    "q11_dedup_sorted_fp"    -> (dedupSortedFp _),
    "q12_minhash_signatures" -> (minhashSignatures _),
    "q13_minhash_lsh_pairs"  -> (minhashLshPairs _),
    "q14_lsh_jaccard_verify" -> (lshJaccardVerify _),
    "q15_simhash"            -> (simhash _),
    "q16_text_quality"       -> (textQuality _),
    "q17_lang_id"            -> (langId _),
    "q18_token_stats"        -> (tokenStats _),
    "q19_embedding_norms"    -> (embeddingNorms _),
    "q20_ann_cosine_topk"    -> (annCosineTopK _),
    "q21_embedding_neardup"  -> (embeddingNearDup _),
    "q78_srp_neardup"        -> (srpEmbeddingNearDup _),
    "q22_multimodal_meta"    -> (multimodalMeta _),
    "q23_winnow_fingerprint" -> (winnowFingerprints _),
    "q24_ngram_jaccard"      -> (ngramJaccard _),
    "q25_ivf_ann_topk"       -> (ivfAnnTopK _),
    "q26_bpe_token_stats"    -> (bpeTokenStats _),
    "q27_multimodal_features" -> (multimodalFeatures _),
    "q52_dedup_clusters"     -> (dedupClusters _),
    "q53_hash_sample"        -> (hashSample _),
    "q54_sequence_pack"      -> (sequencePack _),
    "q55_decontaminate"      -> (decontaminate _),
    "q56_label_centroids"    -> (labelCentroids _),
    "q57_repetition"         -> (repetition _),
    "q58_doc_keywords"       -> (docKeywords _),
    "q82_pii_redact"         -> (piiRedact _))

  val oracles: Map[String, String] = Map(
    "q10_dedup_exact"        -> dedupExactSql,
    "q11_dedup_sorted_fp"    -> dedupSortedFpSql,
    "q12_minhash_signatures" -> minhashSignaturesSql,
    "q13_minhash_lsh_pairs"  -> minhashLshPairsSql,
    "q14_lsh_jaccard_verify" -> lshJaccardVerifySql,
    "q15_simhash"            -> simhashSql,
    "q16_text_quality"       -> textQualitySql,
    "q17_lang_id"            -> langIdSql,
    "q18_token_stats"        -> tokenStatsSql,
    "q19_embedding_norms"    -> embeddingNormsSql,
    "q20_ann_cosine_topk"    -> annCosineTopKSql,
    "q21_embedding_neardup"  -> embeddingNearDupSqlFiltered,
    "q78_srp_neardup"        -> srpEmbeddingNearDupSql,
    "q22_multimodal_meta"    -> multimodalMetaSql,
    "q23_winnow_fingerprint" -> winnowFingerprintsSql,
    "q24_ngram_jaccard"      -> ngramJaccardSql,
    "q25_ivf_ann_topk"       -> ivfAnnTopKSql,
    "q26_bpe_token_stats"    -> bpeTokenStatsSql,
    "q27_multimodal_features" -> multimodalFeaturesSql,
    "q52_dedup_clusters"     -> dedupClustersSql,
    "q53_hash_sample"        -> hashSampleSql,
    "q54_sequence_pack"      -> sequencePackSql,
    "q55_decontaminate"      -> decontaminateSql,
    "q56_label_centroids"    -> labelCentroidsSql,
    "q57_repetition"         -> repetitionSql,
    "q58_doc_keywords"       -> docKeywordsSql,
    "q82_pii_redact"         -> piiRedactSql)
}
