package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.Multimodal

/** Round-15 additions: the LAST synthetic seams connected to real
  * inputs — a 252-bit DCT perceptual hash computed FROM PIXELS
  * feeding the wide Hamming dedup family (q160), HTML→text
  * extraction ahead of the per-host boilerplate contract (q161), the
  * CLIP-style joint image-text similarity gate folded into pair
  * curation (q162), incremental CDC chunk dedup against a persisted
  * chunk index (q163), the unigram-LM (SentencePiece-style)
  * Viterbi tokenizer (q164), and the pixel-derived incremental image
  * re-crawl through the persisted wide index (q165). Same contract
  * as [[Pipeline]]: exact integer arithmetic only, so the DuckDB
  * oracle matches bit for bit. */
object Pipeline13 extends Registry {

  private val W = raw"regexp_split_to_array(trim(lower(text)), '\s+')"

  /** 1000-scaled integer quantization — DuckDB side of
    * VectorFunctions.quantize (same as Pipeline/Pipeline10/12). */
  private def qv(col: String) =
    s"list_transform($col, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))"

  // ---- q160: pixel-derived 252-bit DCT hash → wide image dedup ----

  /** The pixel fixture behind q160: grayscale PNGs on a 16×16 block
    * grid. Groups of 4 docs share base block values; members 1–3
    * perturb ONE block by m — a sub-least-significant-bit nudge in
    * DCT space, so members land identical to or a few Hamming bits
    * from their group base: exactly the near-duplicate mix a crawl
    * produces (re-encodes, tiny retouches). Every pixel is a formula
    * of (doc_id, block), so the oracle recomputes the plane, the
    * DCT, the median threshold, every hash bit, and the cluster
    * keep/drop from first principles. */
  private[queries] def pdqFixture(s: SparkSession, d: String) =
    Pipeline10.mediaFixture(s, d, "pdq_png") { id =>
      val g = id / 4
      val m = (id % 4).toInt
      val w = 16 * (1 + g % 2).toInt
      val h = 16 * (1 + (g / 2) % 2).toInt
      val bw = w / 16; val bh = h / 16
      val pb = ((id * 7) % 256).toInt
      val px = Array.tabulate(w * h) { i =>
        val b = ((i / w) / bh) * 16 + (i % w) / bw
        (((g * 37 + b.toLong * 13) % 250) +
          (if (m > 0 && b == pb) m else 0)).toInt
      }
      Multimodal.MediaRow(id, "image",
        graft.sources.Codecs.encodePng(w, h, 1, px), Map.empty)
    }

  /** The decoded-and-hashed frame, materialized once per (dir, JVM)
    * via [[StoreOnce]]: q160 references the hash frame from two plan
    * branches and q165 from four — without this, every branch would
    * re-run PNG decode + the 8192-multiply DCT per image (the same
    * encode-once rule as [[Pipeline10.mediaFixture]], one level up). */
  private def pdqHashes(s: SparkSession, d: String): DataFrame = {
    val path = StoreOnce.dir("pdqhashes", d) { p =>
      Multimodal.dctHash256(pdqFixture(s, d), Multimodal.BinaryDecoder)
        .toDF("doc_id", "width", "height", "h")
        // size the OUTPUT files, not the decode stage: the decode
        // keeps its 32-way fixture spread below this exchange, but
        // the store itself is ~40 bytes/image — without the rebalance
        // it inherits 32 near-empty files and every probe-side scan
        // (q160 reads it from 2 plan branches, q165 from 4) pays 32
        // scheduler tasks of pure overhead per branch; AQE coalesces
        // to byte-sized files here and to the advisory size at scale
        // (guide §6 output sizing)
        .hint("rebalance")
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(path)
  }

  /** [[Multimodal.dctHash256]] over real PNG decode →
    * [[graft.operators.Dedup.imageDedupClustersWide]] (nWords = 4):
    * the wide Hamming family fed by a hash computed from pixels —
    * closing the r14 seam where q151/q156/q157 ran on synthetic
    * fingerprints. Emits the full 252-bit hash as a bit string (MSB
    * first) next to each keep/drop decision, so the oracle certifies
    * the DCT bit for bit AND the clustering built on it. */
  def pdqClusters(s: SparkSession, d: String): DataFrame = {
    val hashes = pdqHashes(s, d)
    val clusters = graft.operators.Dedup.imageDedupClustersWide(
        hashes, "doc_id", "h", nWords = 4, maxDist = 6)
      .select(col("id").as("doc_id"), col("cluster_id"), col("keep"))
    hashes.select(col("doc_id"),
        concat(lpad(bin(element_at(col("h"), 4)), 63, "0"),
          lpad(bin(element_at(col("h"), 3)), 63, "0"),
          lpad(bin(element_at(col("h"), 2)), 63, "0"),
          lpad(bin(element_at(col("h"), 1)), 63, "0")).as("hash_bits"))
      .join(clusters, "doc_id")
      .select(col("doc_id"), col("hash_bits"), col("cluster_id"),
        col("keep"))
  }

  /** Shared oracle prefix — the CTE chain recomputing the four packed
    * hash words per document from the pixel formula (fixture plane →
    * block sums → both separable DCT passes → median threshold → bit
    * pack), ending with `h(doc_id, h0..h3)`. q160 appends the pair +
    * recursive-closure tail; q165 appends the batch-vs-corpus
    * brute-force tail. */
  private lazy val pdqHashCtes: String = {
    val tl = Multimodal.dctCosTable.mkString("[", ", ", "]")
    s"""p AS (
       |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m
       |  FROM documents),
       |dims AS (SELECT doc_id, g, m,
       |    16 * (1 + g % 2) AS w, 16 * (1 + (g // 2) % 2) AS h
       |  FROM p),
       |ct AS (SELECT $tl AS tl),
       |blocks AS (SELECT doc_id, CAST(t.b AS BIGINT) AS b,
       |    ((g*37 + t.b*13) % 250 + CASE WHEN m > 0
       |        AND t.b = (doc_id*7) % 256 THEN m ELSE 0 END)
       |      * ((w // 16) * (h // 16)) AS bsum
       |  FROM dims, range(256) t(b)),
       |rws AS (SELECT doc_id, CAST(uu.u AS BIGINT) AS u, b // 16 AS by,
       |    SUM(bsum *
       |      tl[CAST((uu.u*(2*(b % 16)+1)) % 64 AS INTEGER) + 1]) AS r
       |  FROM blocks, range(16) uu(u), ct
       |  GROUP BY 1, 2, 3),
       |coef AS (SELECT doc_id, u, CAST(vv.v AS BIGINT) AS v,
       |    CAST(SUM(r *
       |      tl[CAST((vv.v*(2*by+1)) % 64 AS INTEGER) + 1]) AS BIGINT)
       |      AS d
       |  FROM rws, range(16) vv(v), ct
       |  GROUP BY 1, 2, 3),
       |kept AS (SELECT doc_id,
       |    CAST(u*16 + v - CASE WHEN u*16 + v > 239 THEN 2 ELSE 1 END
       |      AS INTEGER) AS idx, d
       |  FROM coef WHERE u*16 + v NOT IN (0, 239, 254, 255)),
       |thr AS (SELECT doc_id, d AS t0 FROM (
       |    SELECT doc_id, d,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY d, idx)
       |        AS rk
       |    FROM kept)
       |  WHERE rk = 126),
       |bits AS (SELECT kept.doc_id, kept.idx,
       |    CASE WHEN kept.d > thr.t0 THEN 1 ELSE 0 END AS bit
       |  FROM kept JOIN thr ON kept.doc_id = thr.doc_id),
       |hb AS (SELECT doc_id,
       |    string_agg(CASE WHEN bit = 1 THEN '1' ELSE '0' END, ''
       |      ORDER BY idx DESC) AS hash_bits
       |  FROM bits GROUP BY 1),
       |h AS (SELECT doc_id,
       |    CAST(SUM(CASE WHEN idx // 63 = 0 THEN
       |      bit * (CAST(1 AS BIGINT) << (idx % 63)) ELSE 0 END)
       |      AS BIGINT) AS h0,
       |    CAST(SUM(CASE WHEN idx // 63 = 1 THEN
       |      bit * (CAST(1 AS BIGINT) << (idx % 63)) ELSE 0 END)
       |      AS BIGINT) AS h1,
       |    CAST(SUM(CASE WHEN idx // 63 = 2 THEN
       |      bit * (CAST(1 AS BIGINT) << (idx % 63)) ELSE 0 END)
       |      AS BIGINT) AS h2,
       |    CAST(SUM(CASE WHEN idx // 63 = 3 THEN
       |      bit * (CAST(1 AS BIGINT) << (idx % 63)) ELSE 0 END)
       |      AS BIGINT) AS h3
       |  FROM bits GROUP BY 1)""".stripMargin
  }

  val pdqClustersSql: String =
    s"""WITH RECURSIVE $pdqHashCtes,
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM h a JOIN h b ON a.doc_id < b.doc_id
       |  WHERE CAST(bit_count(xor(a.h0, b.h0)) AS INTEGER)
       |      + CAST(bit_count(xor(a.h1, b.h1)) AS INTEGER)
       |      + CAST(bit_count(xor(a.h2, b.h2)) AS INTEGER)
       |      + CAST(bit_count(xor(a.h3, b.h3)) AS INTEGER)
       |    <= 6),
       |sym AS (SELECT id_a AS u, id_b AS v FROM pairs
       |        UNION SELECT id_b, id_a FROM pairs),
       |reach(u, v) AS (SELECT u, v FROM sym
       |        UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
       |                WHERE s.v <> r.u),
       |comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |  FROM reach GROUP BY u)
       |SELECT hb.doc_id, hb.hash_bits,
       |  COALESCE(comp.cluster_id, hb.doc_id) AS cluster_id,
       |  hb.doc_id = COALESCE(comp.cluster_id, hb.doc_id) AS keep
       |FROM hb LEFT JOIN comp ON hb.doc_id = comp.doc_id""".stripMargin

  // ---- q161: HTML→text extraction (the crawl-side front door) ----

  /** The HTML fixture wraps each document in a realistic tag-soup
    * page: a style block, a script whose CONTENT contains unescaped
    * `<`/`>`/`&` (the hard case — must vanish wholesale), an HTML
    * comment hiding tag-like text, entities including the
    * double-escape `&amp;lt;` (must decode to the literal text
    * `&lt;`, never to `<`), inline vs block tags, and a per-residue
    * list. Every byte is a formula of (doc_id, text, source), so the
    * oracle rebuilds the page and replays the extraction chain. */
  private def htmlFixture(s: SparkSession, d: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>Doc</title>" +
        "<style type=\"text/css\">body { color: #fff; }</style>" +
        "<script>if (a < b && c > \"x\") { track('p&q'); }</script>" +
        "</head><body><h1 class=\"hd\">Doc "),
      col("doc_id").cast("string"),
      lit("</h1><!-- nav <p>not text</p> comment --><p>"),
      col("text"),
      lit("</p><div>Tom &amp; Jerry &lt;3 &quot;quoted&quot; " +
        "&#39;s&nbsp;&amp;lt;tag </div><span>from "),
      col("source"),
      lit("</span>"),
      when(col("doc_id") % 3 === 0,
        lit("<ul><li>alpha</li><li>beta</li></ul>")).otherwise(lit("")),
      lit("</body></html>"))
    Tables.documents(s, d).select(col("doc_id"), html.as("html"))
  }

  def htmlExtractQ(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusOps.htmlExtract(htmlFixture(s, d),
        "doc_id", "html")
      .select(col("doc_id"), col("n_blocks"),
        md5(col("text")).as("text_fp"))

  /** Shared oracle prefix: CTEs `src`..`b` rebuilding the HTML page
    * from the documents row and replaying the extraction chain,
    * ending with `b(doc_id, blocks)`. q161 fingerprints the blocks;
    * q166 feeds the extracted text into the Gopher quality CTEs. */
  private val htmlBlocksCtes: String =
    """src AS (SELECT doc_id,
      |    '<html><head><title>Doc</title><style type="text/css">body { color: #fff; }</style><script>if (a < b && c > "x") { track(''p&q''); }</script></head><body><h1 class="hd">Doc '
      |    || CAST(doc_id AS VARCHAR)
      |    || '</h1><!-- nav <p>not text</p> comment --><p>'
      |    || text
      |    || '</p><div>Tom &amp; Jerry &lt;3 &quot;quoted&quot; &#39;s&nbsp;&amp;lt;tag </div><span>from '
      |    || source || '</span>'
      |    || CASE WHEN doc_id % 3 = 0
      |         THEN '<ul><li>alpha</li><li>beta</li></ul>' ELSE '' END
      |    || '</body></html>' AS html
      |  FROM documents),
      |s1 AS (SELECT doc_id, regexp_replace(html,
      |    '(?is)<script\b[^<>]*>.*?</script[^<>]*>', ' ', 'g') AS h
      |  FROM src),
      |s2 AS (SELECT doc_id, regexp_replace(h,
      |    '(?is)<style\b[^<>]*>.*?</style[^<>]*>', ' ', 'g') AS h
      |  FROM s1),
      |s3 AS (SELECT doc_id,
      |    regexp_replace(h, '(?s)<!--.*?-->', ' ', 'g') AS h
      |  FROM s2),
      |s4 AS (SELECT doc_id, regexp_replace(h,
      |    '(?i)</?(p|div|br|h[1-6]|li|ul|ol|dl|dt|dd|tr|td|th|table|thead|tbody|section|article|aside|nav|main|header|footer|blockquote|pre|form|hr)\b[^<>]*>',
      |    chr(10), 'g') AS h
      |  FROM s3),
      |s5 AS (SELECT doc_id, regexp_replace(h, '<[^<>]*>', ' ', 'g') AS h
      |  FROM s4),
      |dec AS (SELECT doc_id,
      |    replace(replace(replace(replace(replace(replace(replace(h,
      |      '&nbsp;', ' '), '&quot;', '"'), '&#39;', ''''),
      |      '&apos;', ''''), '&lt;', '<'), '&gt;', '>'),
      |      '&amp;', '&') AS h
      |  FROM s5),
      |b AS (SELECT doc_id, list_filter(list_transform(
      |    string_split(h, chr(10)),
      |    x -> trim(regexp_replace(x, '\s+', ' ', 'g'))), x -> x <> '')
      |    AS blocks
      |  FROM dec)""".stripMargin

  // plain concatenation, NOT s"""…$htmlBlocksCtes…""".stripMargin:
  // the prefix's own `||` continuation lines start with whitespace+|
  // and an outer stripMargin would mangle them a second time
  val htmlExtractSql: String =
    "WITH " + htmlBlocksCtes + "\n" +
      """SELECT doc_id, CAST(len(blocks) AS BIGINT) AS n_blocks,
        |  md5(COALESCE(array_to_string(blocks, chr(10)), '')) AS text_fp
        |FROM b""".stripMargin

  // ---- q162: CLIP-style joint similarity gate in pair curation ----

  /** q155's LAION-shaped keep/drop extended with the missing third
    * signal — the joint image-text embedding similarity filter
    * (LAION's core rule: keep a pair only when cos(image_emb,
    * caption_emb) ≥ τ). The image embedding is the embeddings-table
    * vector (1000-scaled integer quantization, the oracle-proven
    * [[graft.functions.VectorFunctions.qcosine]] contract); the
    * caption embedding is a deterministic cross-modal perturbation
    * (per-dimension shift keyed on (doc_id, dim), sized to the
    * component scale so the cosine spreads across τ = 0.55 — 194 of
    * 500 pass at sf0.01). Exact integer dot/norms, one final double
    * division — bit-deterministic cross-engine. The final keep is
    * image_keep AND caption_pass AND clip_pass: one map-only
    * projection + one equi-join on top of q155's plan, nothing
    * quadratic. */
  def pairCurationClip(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFunctions
    val base = Pipeline12.pairCuration(s, d)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"),
        VectorFunctions.quantize(col("embedding")).as("q"))
    val cap = transform(col("q"), (x, i) =>
      x + (pmod(col("doc_id") * 13 + i * 7, lit(801)) - 400))
    val clip = e.select(col("doc_id"), col("q"), cap.as("cap"))
      .select(col("doc_id"),
        when(VectorFunctions.qdot(col("q"), col("q")) === 0L ||
            VectorFunctions.qdot(col("cap"), col("cap")) === 0L,
          lit(null).cast("double"))
          .otherwise(VectorFunctions.qcosine(col("q"), col("cap")))
          .as("clip_cos"))
    base.join(clip, "doc_id")
      .select(col("doc_id"), col("cluster_id"), col("image_keep"),
        col("caption_pass"), col("clip_cos"),
        (col("clip_cos").isNotNull && col("clip_cos") >= 0.55)
          .as("clip_pass"),
        (col("image_keep") && col("caption_pass") &&
          col("clip_cos").isNotNull && col("clip_cos") >= 0.55)
          .as("keep"))
  }

  val pairCurationClipSql: String =
    s"""WITH clip AS (
       |  SELECT vec_id AS doc_id,
       |    CASE WHEN nq = 0 OR nc = 0 THEN NULL
       |         ELSE dotqc / (sqrt(CAST(nq AS DOUBLE)) *
       |                       sqrt(CAST(nc AS DOUBLE))) END AS clip_cos
       |  FROM (
       |    SELECT vec_id,
       |      CAST(list_sum(list_transform(list_zip(q, cap),
       |        p -> p[1]*p[2])) AS DOUBLE) AS dotqc,
       |      list_sum(list_transform(q, x -> x*x)) AS nq,
       |      list_sum(list_transform(cap, x -> x*x)) AS nc
       |    FROM (SELECT vec_id, q,
       |        list_transform(range(len(q)),
       |          i -> q[i+1] + ((vec_id*13 + i*7) % 801 - 400)) AS cap
       |      FROM (SELECT vec_id, ${qv("embedding")} AS q
       |            FROM embeddings))))
       |SELECT pc.doc_id, pc.cluster_id, pc.image_keep, pc.caption_pass,
       |  clip.clip_cos,
       |  (clip.clip_cos IS NOT NULL AND clip.clip_cos >= 0.55)
       |    AS clip_pass,
       |  (pc.keep AND clip.clip_cos IS NOT NULL
       |    AND clip.clip_cos >= 0.55) AS keep
       |FROM (
       |${Pipeline12.pairCurationSql}
       |) pc JOIN clip ON pc.doc_id = clip.doc_id""".stripMargin

  // ---- q163: incremental CDC chunk dedup vs the persisted index ----

  /** [[graft.operators.Dedup.incrementalCdcChunkDedup]] end to end
    * through the PERSISTED chunk index (q158's re-crawl sibling, and
    * the CDC member of the q145/q156/q159 incremental family): src0's
    * content-defined chunk md5s land in the
    * [[graft.operators.BandIndexStore]] lifecycle under the `cdc4.2:`
    * key family, the non-src0 batch chunks probe the committed
    * vocabulary, the corpus is never rescanned. The oracle replays
    * boundary selection for BOTH slices and counts batch chunk
    * occurrences present in src0's distinct chunk set — md5-keyed on
    * the Spark side, text-keyed in SQL, equal by construction. */
  def cdcIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val path = StoreOnce.dir("cdcidx", d) { p =>
      graft.operators.BandIndexStore.writeBands(
        graft.operators.Dedup.cdcChunkBands(
          docs.where(col("source") === "src0"), "doc_id", "text"), p)
    }
    val index = graft.operators.BandIndexStore.read(s, path)
    graft.operators.Dedup.incrementalCdcChunkDedup(
      docs.where(col("source") =!= "src0"), "doc_id", "text", index)
  }

  val cdcIncrementalSql: String =
    s"""WITH t AS (SELECT doc_id, source, $W AS w FROM documents),
       |b AS (SELECT doc_id, source, w, len(w) AS n,
       |    CASE WHEN len(w) <= 4 THEN [0, len(w)]
       |      ELSE [0] || list_filter(range(4, len(w)), i ->
       |        substr(md5(array_to_string(w[(i-3):i], ' ')), 1, 1) < '2')
       |        || [len(w)]
       |    END AS bp
       |  FROM t),
       |c AS (SELECT doc_id, source, n,
       |    unnest(list_transform(range(1, len(bp)), j ->
       |      array_to_string(w[(bp[j]+1):(bp[j+1])], ' '))) AS chunk
       |  FROM b),
       |old AS (SELECT DISTINCT chunk FROM c WHERE source = 'src0')
       |SELECT c.doc_id, COUNT(*) AS n_chunks,
       |  CAST(SUM(CASE WHEN old.chunk IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dup_chunks,
       |  CAST(ANY_VALUE(c.n) AS BIGINT) AS n_tokens
       |FROM c LEFT JOIN old ON c.chunk = old.chunk
       |WHERE c.source <> 'src0'
       |GROUP BY 1""".stripMargin

  // ---- q164: unigram-LM (SentencePiece-style) Viterbi tokenizer ----

  /** [[graft.operators.TextAnalysis.unigramLmSegment]]: per document
    * the word count, the total piece count, and the total integer
    * Viterbi cost of the optimal unigram-LM segmentation. The oracle
    * brute-force enumerates every segmentation of each DISTINCT word
    * through a recursive CTE (words are ≤ 8 chars in this corpus, so
    * the path count is tetranacci-bounded and tiny) and takes the
    * (cost, pieces) lexicographic minimum — the DP's optimum, proven
    * against exhaustive search rather than a re-implementation. */
  def unigramLmQ(s: SparkSession, d: String): DataFrame =
    graft.operators.TextAnalysis.unigramLmSegment(
      // DP cost scales with rows, not parquet bytes: spread the
      // (tiny) doc table across the cores like the media fixtures do
      Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism),
      "doc_id", "text")

  val unigramLmSql: String =
    s"""WITH RECURSIVE t AS (SELECT doc_id, $W AS w FROM documents),
       |words AS (SELECT DISTINCT unnest(w) AS word FROM t),
       |paths(word, pos, cost, pieces) AS (
       |  SELECT word, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  FROM words
       |  UNION ALL
       |  SELECT p.word, p.pos + CAST(l.l AS INTEGER),
       |    p.cost + 1000 - 180 * l.l
       |      + (strpos('0123456789abcdef',
       |          substr(md5(substr(p.word, p.pos + 1,
       |            CAST(l.l AS INTEGER))), 2, 1)) - 1) * 16
       |      + strpos('0123456789abcdef',
       |          substr(md5(substr(p.word, p.pos + 1,
       |            CAST(l.l AS INTEGER))), 3, 1)) - 1,
       |    p.pieces + 1
       |  FROM paths p, range(1, 5) l(l)
       |  WHERE p.pos + l.l <= len(p.word)
       |    AND (l.l = 1 OR substr(md5(substr(p.word, p.pos + 1,
       |      CAST(l.l AS INTEGER))), 1, 1) < '8')),
       |best AS (SELECT word, cost, pieces FROM (
       |    SELECT word, cost, pieces,
       |      row_number() OVER (PARTITION BY word ORDER BY cost, pieces)
       |        AS rk
       |    FROM paths WHERE pos = len(word))
       |  WHERE rk = 1),
       |dw AS (SELECT doc_id, unnest(w) AS word FROM t)
       |SELECT dw.doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(best.pieces) AS BIGINT) AS n_pieces,
       |  CAST(SUM(best.cost) AS BIGINT) AS total_cost
       |FROM dw JOIN best ON dw.word = best.word
       |GROUP BY 1""".stripMargin

  // ---- q165: pixel-derived incremental image re-crawl ----

  /** The FULL production image re-crawl loop with nothing synthetic
    * left: pixels → [[Multimodal.dctHash256]] → the persisted-index
    * re-crawl ([[Pipeline10.fingerprintRecrawl]], `hw256.7.` keys) —
    * q156's plumbing fed by the hash the pixels actually produce. The
    * oracle brute-forces all batch-vs-corpus pairs over the
    * recomputed DCT hashes and the hash must match exactly. */
  def pdqIncremental(s: SparkSession, d: String): DataFrame =
    Pipeline10.fingerprintRecrawl(s, d, "pdqhashidx",
      graft.operators.Dedup.FpLayout.Words(4),
      pdqHashes(s, d).join(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        "doc_id"))

  val pdqIncrementalSql: String =
    s"""WITH $pdqHashCtes,
       |hs AS (SELECT h.doc_id, d.source, h.h0, h.h1, h.h2, h.h3
       |  FROM h JOIN documents d ON h.doc_id = d.doc_id)
       |SELECT batch_id, corpus_id, dist FROM (
       |  SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id,
       |    CAST(bit_count(xor(a.h0, b.h0)) AS INTEGER)
       |      + CAST(bit_count(xor(a.h1, b.h1)) AS INTEGER)
       |      + CAST(bit_count(xor(a.h2, b.h2)) AS INTEGER)
       |      + CAST(bit_count(xor(a.h3, b.h3)) AS INTEGER) AS dist
       |  FROM hs a JOIN hs b
       |    ON a.source <> 'src0' AND b.source = 'src0'
       |   AND a.doc_id <> b.doc_id)
       |WHERE dist <= 6""".stripMargin

  // ---- q166: the crawl front end to end (HTML → text → quality) ----

  /** The first two stages every real crawl pipeline chains —
    * [[graft.operators.CorpusOps.htmlExtract]] feeding
    * [[graft.operators.CorpusOps.gopherRules]] — as ONE oracle-gated
    * query: the quality decision is taken on the EXTRACTED text
    * (headers, entity-decoded fragments, list items and all), not on
    * clean input, which is exactly where production Gopher filters
    * run. The oracle splices the q161 extraction CTEs with the q84
    * quality CTEs over the extracted text. */
  def crawlCuration(s: SparkSession, d: String): DataFrame = {
    val ext = graft.operators.CorpusOps.htmlExtract(
      htmlFixture(s, d), "doc_id", "html")
    val g = graft.operators.CorpusOps.gopherRules(ext, "doc_id", "text")
    ext.select(col("doc_id"), col("n_blocks"))
      .join(g.select(col("doc_id"), col("n_words"), col("stop_hits"),
        col("alpha_words"), col("pass")), "doc_id")
  }

  val crawlCurationSql: String =
    "WITH " + htmlBlocksCtes + ",\n" +
    s"""ext AS (SELECT doc_id,
       |    CAST(len(blocks) AS BIGINT) AS n_blocks,
       |    regexp_split_to_array(trim(lower(
       |      COALESCE(array_to_string(blocks, chr(10)), ''))), '\\s+')
       |      AS w
       |  FROM b),
       |gm AS (SELECT doc_id, n_blocks,
       |    CAST(len(w) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT)
       |      AS nch,
       |    CAST(len(list_filter(w,
       |      x -> x IN ('the', 'a', 'of', 'and', 'data'))) AS BIGINT)
       |      AS sh,
       |    CAST(len(list_filter(w,
       |      x -> regexp_full_match(x, '[a-z]+'))) AS BIGINT) AS aw
       |  FROM ext)
       |SELECT doc_id, n_blocks, n_words, sh AS stop_hits,
       |  aw AS alpha_words,
       |  ((n_words >= 20 AND n_words <= 100000) AND
       |   (CAST(nch AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0 AND
       |    CAST(nch AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0) AND
       |   sh >= 2 AND aw * 10 >= n_words * 8) AS pass
       |FROM gm""".stripMargin

  val queries: Map[String, Q] = Map(
    "q160_pdq_clusters" -> (pdqClusters _),
    "q161_html_extract" -> (htmlExtractQ _),
    "q162_pair_curation_clip" -> (pairCurationClip _),
    "q163_cdc_incremental" -> (cdcIncremental _),
    "q164_unigram_lm" -> (unigramLmQ _),
    "q165_pdq_incremental" -> (pdqIncremental _),
    "q166_crawl_curation" -> (crawlCuration _))

  def oracles: Map[String, String] = Map(
    "q160_pdq_clusters" -> pdqClustersSql,
    "q161_html_extract" -> htmlExtractSql,
    "q162_pair_curation_clip" -> pairCurationClipSql,
    "q163_cdc_incremental" -> cdcIncrementalSql,
    "q164_unigram_lm" -> unigramLmSql,
    "q165_pdq_incremental" -> pdqIncrementalSql,
    "q166_crawl_curation" -> crawlCurationSql)
}
