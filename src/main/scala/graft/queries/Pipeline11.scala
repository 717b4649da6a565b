package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.Multimodal

/** Round-13 additions: the O(N) cluster/keep output for image dedup
  * (q146 — what a 100 TB pipeline consumes instead of O(pairs)),
  * shot-boundary keyframe detection for video (q147 — the sampler
  * real pipelines use instead of every-Nth), and the CCNet-shaped
  * n-gram LM perplexity filter (q148). Same contract as
  * [[Pipeline]]: exact integer arithmetic only, so the DuckDB oracle
  * matches bit for bit. */
object Pipeline11 extends Registry {

  private val W = raw"regexp_split_to_array(trim(lower(text)), '\s+')"

  // ---- q146: image dedup clusters (O(N) keep/drop decisions) ----

  /** [[graft.operators.Dedup.imageDedupClusters]] over the q141
    * fingerprint fixture: Hamming pairs → connected components →
    * one (doc_id, cluster_id, keep) row PER IMAGE, cluster_id = the
    * smallest id in the Hamming-closure cluster. The oracle
    * brute-forces all pairs and closes them with a recursive CTE
    * (the q52 pattern) — a hash match proves the banded pair graph,
    * the large-star/small-star rounds, AND the member-inheritance
    * join all land on the exact closure. */
  def imageClusters(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.imageDedupClusters(
      Pipeline10.fpHashes(s, d), "doc_id", "h", maxDist = 6)
      .select(col("id").as("doc_id"), col("cluster_id"), col("keep"))

  val imageClustersSql: String =
    """WITH RECURSIVE p AS (SELECT doc_id FROM documents),
      |bits AS (SELECT doc_id, CAST(t.i AS INTEGER) AS i,
      |    CASE WHEN (((doc_id//4)*31 + t.i*17) % 97) % 5 = 0
      |      THEN 1 ELSE 0 END AS b0
      |  FROM p, range(63) t(i)),
      |flips AS (SELECT doc_id, (doc_id*11 + f.f*23) % 63 AS i,
      |    COUNT(*) % 2 AS fl
      |  FROM p, range(3) f(f) WHERE f.f < doc_id % 4 GROUP BY 1, 2),
      |h AS (SELECT bits.doc_id,
      |    CAST(SUM(CAST((b0 + COALESCE(fl, 0)) % 2 AS BIGINT)
      |      * (CAST(1 AS BIGINT) << bits.i)) AS BIGINT) AS h
      |  FROM bits LEFT JOIN flips
      |    ON bits.doc_id = flips.doc_id AND bits.i = flips.i
      |  GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM h a JOIN h b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.h, b.h)) <= 6),
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

  // ---- q147: shot-boundary keyframes over REAL AVI/MJPEG videos ----

  /** [[Multimodal.videoShotBoundaries]] end to end: each document
    * becomes a real MJPEG AVI whose frames live in 3-frame "shots"
    * (the shot index jumps the 8×8-block values, a small even
    * per-frame drift moves within a shot — DC-only blocks, so the
    * JPEG round trip is exact, the q136 family), and the operator
    * decodes consecutive frames and emits the exact integer Σ|Δ| and
    * keyframe flag. The oracle recomputes every diff straight from
    * the generating formula — a hash match certifies the container
    * walk, the decode, and the boundary rule. */
  /** The q147 shot fixture (one AVI/MJPEG video per doc, 3-frame
    * shots with even within-shot drift). */
  private def shotFixtureRow(id: Long): Multimodal.MediaRow = {
    val w = 16; val h = 16
    val nf = (4 + id % 5).toInt
    val frames = (0 until nf).map { f =>
      val px = Array.tabulate(w * h) { i =>
        val b = (i / w / 8) * (w / 8) + (i % w) / 8
        2 * (((id * 29 + (f / 3).toLong * 53 + b.toLong * 7) % 126).toInt
          + f % 3)
      }
      graft.sources.Jpeg.encodeGray(w, h, px)
    }
    Multimodal.MediaRow(id, "video",
      graft.sources.Avi.encodeMjpeg(w, h, frames), Map.empty)
  }

  def videoKeyframes(s: SparkSession, d: String): DataFrame = {
    val media = Pipeline10.mediaFixture(s, d, "shots_avi")(shotFixtureRow)
    Multimodal.videoShotBoundaries(media, threshold = 1024)
      .toDF("doc_id", "frame", "diff", "is_keyframe")
  }

  val videoKeyframesSql: String =
    """WITH p AS (SELECT doc_id, 4 + doc_id % 5 AS nf FROM documents),
      |f AS (SELECT doc_id, CAST(t.f AS INTEGER) AS frame
      |  FROM p, range(8) t(f) WHERE t.f < nf),
      |d AS (SELECT doc_id, frame,
      |    CASE WHEN frame = 0 THEN 0 ELSE
      |      64 * list_sum(list_transform(range(4), b ->
      |        abs(2 * ((doc_id*29 + (frame//3)*53 + b*7) % 126 + frame % 3)
      |          - 2 * ((doc_id*29 + ((frame-1)//3)*53 + b*7) % 126
      |                 + (frame-1) % 3))))
      |    END AS diff
      |  FROM f)
      |SELECT doc_id, frame, CAST(diff AS BIGINT) AS diff,
      |  (frame = 0 OR diff > 1024) AS is_keyframe
      |FROM d""".stripMargin

  // ---- q148: n-gram LM perplexity filter (the CCNet shape) ----

  /** [[graft.operators.TextAnalysis.ngramLmPerplexity]]: bigram LM
    * trained on the doc_id % 10 == 0 slice, every document scored by
    * its quantized negative log-likelihood in bits (exact integers —
    * the probability quantizes to q ∈ [1, 2^20] by integer division
    * and the floor-log2 is the binary digit count). The oracle
    * rebuilds the count tables and the per-pair arithmetic in SQL. */
  def lmPerplexity(s: SparkSession, d: String): DataFrame =
    graft.operators.TextAnalysis.ngramLmPerplexity(
      Tables.documents(s, d), "doc_id", "text")

  val lmPerplexitySql: String =
    s"""WITH toks AS (SELECT doc_id, $W AS w FROM documents),
       |pairs AS (SELECT doc_id,
       |    unnest(w[1:len(w)-1]) AS p,
       |    unnest(w[2:len(w)]) AS n
       |  FROM toks WHERE len(w) >= 2),
       |tru AS (SELECT unnest(w) AS t FROM toks WHERE doc_id % 10 = 0),
       |c1 AS (SELECT t, COUNT(*) AS c1 FROM tru GROUP BY t),
       |c2 AS (SELECT p, n, COUNT(*) AS c2 FROM pairs
       |  WHERE doc_id % 10 = 0 GROUP BY 1, 2),
       |v AS (SELECT COUNT(DISTINCT t) AS v FROM tru),
       |scored AS (SELECT doc_id,
       |    greatest(((COALESCE(c2.c2, 0) + 1) * 1048576)
       |      // (COALESCE(c1.c1, 0) + v.v + 1), 1) AS q
       |  FROM pairs
       |  LEFT JOIN c2 ON pairs.p = c2.p AND pairs.n = c2.n
       |  LEFT JOIN c1 ON pairs.p = c1.t, v)
       |SELECT doc_id, COUNT(*) AS n_pairs,
       |  CAST(SUM(21 - length(bin(q))) AS BIGINT) AS nll_bits,
       |  (CAST(SUM(21 - length(bin(q))) AS BIGINT) * 1000) // COUNT(*)
       |    AS ppl_q
       |FROM scored GROUP BY doc_id""".stripMargin

  // ---- q149: Goertzel single-bin spectral energies over real WAV ----

  /** [[Multimodal.audioSpectral]] end to end over the q137 WAV
    * family (24 + id%16 samples of a pure integer formula), framed
    * at 12 samples: the three integer-coefficient Goertzel bins
    * (w = π/3, π/2, 2π/3). The oracle replays the recurrence with a
    * recursive CTE — a hash match certifies the WAV round trip, the
    * framing, the recurrence, and the power identity, all in exact
    * integers. */
  def audioSpectralQ(s: SparkSession, d: String): DataFrame = {
    val media = Pipeline10.mediaFixture(s, d, "spectral_wav") { id =>
      val n = (24 + id % 16).toInt
      Multimodal.MediaRow(id, "audio",
        graft.sources.Codecs.encodeWav(Array.tabulate(n)(i =>
          ((id * 131 + i.toLong * 17) % 65536).toInt - 32768)),
        Map.empty)
    }
    Multimodal.audioSpectral(media, frameSize = 12)
      .toDF("doc_id", "frame", "n", "e_pi3", "e_pi2", "e_2pi3")
  }

  val audioSpectralSql: String =
    """WITH RECURSIVE p AS (SELECT doc_id, 24 + doc_id % 16 AS nn
      |  FROM documents),
      |s AS (SELECT doc_id, CAST(t.i AS INTEGER) AS i,
      |    CAST((doc_id*131 + t.i*17) % 65536 - 32768 AS BIGINT) AS v
      |  FROM p, range(40) t(i) WHERE t.i < nn),
      |f AS (SELECT doc_id, CAST(i // 12 AS INTEGER) AS frame,
      |    CAST(i % 12 AS INTEGER) AS j, v FROM s),
      |fl AS (SELECT doc_id, frame, CAST(COUNT(*) AS INTEGER) AS len
      |  FROM f GROUP BY 1, 2),
      |rec(doc_id, frame, c, j, s1, s2) AS (
      |  SELECT f.doc_id, f.frame, cs.c, 0, f.v, CAST(0 AS BIGINT)
      |  FROM f, (SELECT CAST(unnest([1, 0, -1]) AS BIGINT) AS c) cs
      |  WHERE f.j = 0
      |  UNION ALL
      |  SELECT r.doc_id, r.frame, r.c, r.j + 1,
      |    f.v + r.c * r.s1 - r.s2, r.s1
      |  FROM rec r JOIN f ON f.doc_id = r.doc_id AND f.frame = r.frame
      |    AND f.j = r.j + 1),
      |fin AS (SELECT rec.doc_id, rec.frame, rec.c,
      |    ANY_VALUE(fl.len) AS len,
      |    MAX(CASE WHEN rec.j = fl.len - 1
      |      THEN s1*s1 + s2*s2 - rec.c*s1*s2 END) AS e
      |  FROM rec JOIN fl ON fl.doc_id = rec.doc_id
      |    AND fl.frame = rec.frame
      |  GROUP BY 1, 2, 3)
      |SELECT doc_id, frame, ANY_VALUE(len) AS n,
      |  CAST(MAX(CASE WHEN c = 1 THEN e END) AS BIGINT) AS e_pi3,
      |  CAST(MAX(CASE WHEN c = 0 THEN e END) AS BIGINT) AS e_pi2,
      |  CAST(MAX(CASE WHEN c = -1 THEN e END) AS BIGINT) AS e_2pi3
      |FROM fin GROUP BY 1, 2""".stripMargin

  // ---- q150: URL canonicalization + URL-level dedup ----

  /** [[graft.operators.CorpusOps.urlDedup]] over a synthesized crawl
    * URL per document (scheme/host case noise, default :443 port,
    * utm_-prefixed and ref tracking params in varying order,
    * fragments, and — every 9th doc — a SCHEME-LESS url that must
    * pass through verbatim rather than collapse into one parsed-empty
    * dedup group): the
    * oracle replays the ENTIRE canonicalization — regexp parts,
    * default-port strip, tracking-param filter, param sort, the
    * scheme-less passthrough — in SQL, then the same
    * partitioned-window group stats. */
  def urlDedupQ(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val url = when(id % 9 === 0,
      // no scheme: the canonicalizer must NOT bucket these together
      concat(lit("www.site"), (id % 7).cast("string"), lit(".com/p"),
        (id % 50).cast("string"),
        when(id % 2 === 0, lit("#a?x=1")).otherwise(lit(""))))
      .otherwise(concat(
        when(id % 3 === 0, lit("HTTPS://WWW.Site"))
          .otherwise(lit("https://www.site")),
        (id % 7).cast("string"), lit(".com"),
        when(id % 4 === 0, lit(":443")).otherwise(lit("")),
        lit("/p"), (id % 50).cast("string"),
        // id%10==5: NO query but a '?' inside the fragment — the
        // canonicalizer must not read fragment content as a query
        when(id % 2 === 0,
          concat(lit("?utm_source=x&ref="), id.cast("string"),
            lit("&b="), (id % 5).cast("string"), lit("&a=1")))
          .when(id % 5 === 0, lit(""))
          .otherwise(concat(lit("?a=1&b="), (id % 5).cast("string"))),
        when(id % 5 === 0 && id % 2 =!= 0, lit("#a?x=1"))
          .when(id % 5 === 0, lit("#frag")).otherwise(lit(""))))
    graft.operators.CorpusOps.urlDedup(
      Tables.documents(s, d).select(id, url.as("url")), "doc_id", "url")
  }

  val urlDedupSql: String =
    """WITH u AS (SELECT doc_id,
       |    (CASE WHEN doc_id % 9 = 0
       |       THEN 'www.site' || CAST(doc_id % 7 AS VARCHAR) || '.com/p'
       |         || CAST(doc_id % 50 AS VARCHAR)
       |         || CASE WHEN doc_id % 2 = 0 THEN '#a?x=1' ELSE '' END
       |       ELSE
       |         CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.Site'
       |              ELSE 'https://www.site' END
       |      || CAST(doc_id % 7 AS VARCHAR) || '.com'
       |      || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
       |      || '/p' || CAST(doc_id % 50 AS VARCHAR)
       |      || CASE WHEN doc_id % 2 = 0
       |           THEN '?utm_source=x&ref=' || CAST(doc_id AS VARCHAR)
       |             || '&b=' || CAST(doc_id % 5 AS VARCHAR) || '&a=1'
       |           WHEN doc_id % 5 = 0 THEN ''
       |           ELSE '?a=1&b=' || CAST(doc_id % 5 AS VARCHAR) END
       |      || CASE WHEN doc_id % 5 = 0 AND doc_id % 2 <> 0
       |             THEN '#a?x=1'
       |           WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END
       |     END) AS url
       |  FROM documents),
       |c AS (SELECT doc_id, url,
       |    lower(regexp_extract(url,
       |      '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
       |    lower(regexp_extract(url,
       |      '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)) AS host0,
       |    regexp_extract(url,
       |      '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)', 1) AS path0,
       |    COALESCE(regexp_extract(url, '^[^#?]*\?([^#]*)', 1), '') AS q
       |  FROM u),
       |canon AS (SELECT doc_id,
       |    CASE WHEN scheme IS NULL OR scheme = ''
       |           OR host0 IS NULL OR host0 = '' THEN url ELSE
       |    scheme || '://' ||
       |    (CASE WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
       |          WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
       |          ELSE host0 END) ||
       |    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
       |    (CASE WHEN kept = '' THEN '' ELSE '?' || kept END)
       |    END AS canonical_url
       |  FROM (SELECT *, COALESCE(array_to_string(list_sort(list_filter(
       |      string_split(q, '&'),
       |      p -> NOT regexp_matches(p, '^(utm_[^=]*|ref|fbclid|gclid)=')
       |        AND p <> '')), '&'), '') AS kept FROM c))
       |SELECT doc_id, canonical_url,
       |  CAST(COUNT(*) OVER (PARTITION BY canonical_url) AS BIGINT)
       |    AS n_same,
       |  doc_id = MIN(doc_id) OVER (PARTITION BY canonical_url) AS keep
       |FROM canon""".stripMargin

  val queries: Map[String, Q] = Map(
    "q146_image_clusters" -> (imageClusters _),
    "q147_video_keyframes" -> (videoKeyframes _),
    "q148_lm_perplexity" -> (lmPerplexity _),
    "q149_audio_spectral" -> (audioSpectralQ _),
    "q150_url_dedup" -> (urlDedupQ _))

  def oracles: Map[String, String] = Map(
    "q146_image_clusters" -> imageClustersSql,
    "q147_video_keyframes" -> videoKeyframesSql,
    "q148_lm_perplexity" -> lmPerplexitySql,
    "q149_audio_spectral" -> audioSpectralSql,
    "q150_url_dedup" -> urlDedupSql)
}
