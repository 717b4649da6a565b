package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{BandIndexStore, Dedup}
import graft.sources.Multimodal

/** Round-12 additions beyond the SQ8 tier: the IVF-SQ8 composition
  * (q134/q135 — the FAISS `IndexIVFScalarQuantizer` shape: coarse
  * partition pruning + scalar-quantized payloads), completing the
  * quantization matrix {flat, IVF} × {exact, SQ8, PQ}; and real
  * VIDEO frame sampling (q136 — AVI/MJPEG container parse →
  * select-before-decode → real JPEG decode); frame-level AUDIO
  * features (q137 — exact-integer energy/ZCR/peak/autocorrelation
  * over real WAV decode); the GIF/LZW codec (q138); and the image
  * curation trio — quality stats (q139), perceptual aHash (q140),
  * and the pigeonhole-banded Hamming near-dup join (q141). Same
  * contract as
  * [[Pipeline]]: exact integer arithmetic only, so the DuckDB oracle
  * matches bit for bit. */
object Pipeline10 extends Registry {

  private def cachedStore(kind: String, d: String)(
      build: String => Unit): String = StoreOnce.dir(kind, d)(build)

  /** Encoded media fixtures are deterministic functions of doc_id,
    * but re-encoding them on EVERY Spark action (Verify's write plus
    * Bench's count) pays the codec twice per query for zero extra
    * coverage — the oracle gates the DECODE of bytes produced by one
    * encode pass. So each fixture encodes once per (name, data dir)
    * into a scratch parquet via [[StoreOnce]] and is re-read
    * thereafter (round-12 verdict item 7). */
  private[queries] def mediaFixture(s: SparkSession, d: String, name: String)(
      gen: Long => Multimodal.MediaRow)
      : org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    import s.implicits._
    val path = StoreOnce.dir(s"fixture_$name", d) { p =>
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        // media DECODE cost scales with row count, not encoded bytes:
        // a size-based split of the (tiny) parquet would funnel the
        // whole decode through one task, so spread the rows across
        // the cluster's cores at write time (measured: q140 3×
        // faster; the same rule any 100 TB media table needs — see
        // COVERAGE round 13)
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map(gen))
        // overwrite: Scratch.dir pre-creates the (empty) directory
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(path).as[Multimodal.MediaRow]
  }

  private def embCorpus(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  /** 1000-scaled integer quantization — DuckDB side of
    * VectorFunctions.quantize (same as Pipeline/Pipeline3/9). */
  private def qv(col: String) =
    s"list_transform($col, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))"

  // ---- q134: IVF-SQ8 (coarse pruning + scalar-quantized payload) ----

  /** Builds the stored IVF-SQ8 index in a scratch directory and
    * serves the standard probe batch (vec_id < 8, k=5, nprobe=2). The
    * oracle rebuilds the whole route in SQL: coarse assignment,
    * probed cells, per-dimension affine codes, reconstruction-dot
    * scoring — restricted to candidates whose cell is probed. A hash
    * match certifies BOTH quantizers, the partitioned store round
    * trip, and the scoring identity 255·⟨q,recon⟩ = 255·⟨q,min⟩ +
    * ⟨q∘span, code⟩ composed with the coarse restriction. */
  def ivfSqTopK(s: SparkSession, d: String): DataFrame = {
    val e = embCorpus(s, d)
    val path = cachedStore("ivfsqidx", d)(
      graft.operators.IvfSqIndexStore.write(e, _))
    graft.operators.IvfSqIndexStore.probe(s, path,
      e.where(col("id") < 8), k = 5)
  }

  /** q25's coarse CTEs (centroid sample, argmax assignment, probes)
    * composed with q132's SQ8 CTEs (ranges, codes); scoring joins
    * candidates to probed cells first — the partition-pruning analog
    * — then reconstruction-scores them. */
  val ivfSqTopKSql: String =
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
       |ex AS (SELECT vec_id, CAST(unnest(range(len(q))) AS INTEGER) AS s,
       |    unnest(q) AS x FROM e),
       |stats AS (SELECT s, min(x) AS mn, max(x) - min(x) AS span
       |  FROM ex GROUP BY 1),
       |codes AS (SELECT vec_id, ex.s,
       |    CASE WHEN span = 0 THEN 0
       |         ELSE ((x - mn) * 510 + span) // (2 * span) END AS code,
       |    mn, span
       |  FROM ex JOIN stats ON ex.s = stats.s),
       |qs AS (SELECT vec_id AS qid, s, x AS qx FROM ex WHERE vec_id < 8),
       |sc AS (SELECT probes.qid, codes.vec_id AS nid,
       |    CAST(SUM(qx * (255 * mn + code * span)) AS BIGINT) AS score
       |  FROM probes
       |  JOIN asg ON asg.cid = probes.cid AND asg.nid <> probes.qid
       |  JOIN codes ON codes.vec_id = asg.nid
       |  JOIN qs ON qs.s = codes.s AND qs.qid = probes.qid
       |  GROUP BY 1, 2)
       |SELECT qid, nid, score, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY score DESC, nid ASC) AS INTEGER) AS rank FROM sc)
       |WHERE rank <= 5""".stripMargin

  // ---- q135: IVF-SQ8 shortlist + exact-cosine refine ----

  /** The `IndexRefineFlat` composition over the IVF-SQ8 base: the
    * compressed probe shortlists rerank=20 candidates per query from
    * the probed cells only, then the exact quantized cosine rescores
    * ONLY those (semi-join fetch of ≤ 20 full-precision rows per
    * query). The oracle reruns the q134 ranking to rank 20 and
    * rescores the shortlist with q25's exact cosine. */
  def ivfSqRerank(s: SparkSession, d: String): DataFrame = {
    val e = embCorpus(s, d)
    val path = cachedStore("ivfsqidx", d)(
      graft.operators.IvfSqIndexStore.write(e, _))
    graft.operators.IvfSqIndexStore.probeRerank(s, path, e,
      e.where(col("id") < 8), k = 5, rerank = 20)
  }

  val ivfSqRerankSql: String = {
    val shortlist20 = ivfSqTopKSql.replace("WHERE rank <= 5",
      "WHERE rank <= 20")
    s"""WITH shortlist AS (SELECT qid, nid FROM ($shortlist20)),
       |e3 AS (SELECT vec_id, ${qv("embedding")} AS q FROM embeddings),
       |n3 AS (SELECT vec_id, q,
       |    sqrt(CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE))
       |      AS nrm
       |  FROM e3),
       |rc AS (SELECT shortlist.qid, shortlist.nid,
       |    CAST(list_sum(list_transform(list_zip(qn.q, nn.q),
       |      p -> p[1] * p[2])) AS DOUBLE) / (qn.nrm * nn.nrm) AS cos
       |  FROM shortlist
       |  JOIN n3 qn ON qn.vec_id = shortlist.qid
       |  JOIN n3 nn ON nn.vec_id = shortlist.nid)
       |SELECT qid, nid, cos, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY cos DESC, nid ASC) AS INTEGER) AS rank FROM rc)
       |WHERE rank <= 5""".stripMargin
  }

  // ---- q136: video frame sampling over a REAL AVI/MJPEG container ----

  /** The video leg of the multimodal pipeline, end to end and REAL:
    * each document becomes an AVI container of 2–5 MJPEG frames (flat
    * even-grey 8×8 blocks — the exact-round-trip JPEG family, grey a
    * formula of (doc, frame, block)), [[Multimodal.sampleFrames]]
    * parses the container and keeps every 2nd frame WITHOUT decoding
    * pixels, and only the survivors pay the real JPEG decode. The
    * oracle recomputes per-sampled-frame dimensions and pixel sums
    * straight from the formula — a hash match certifies the RIFF/AVI
    * writer+parser, the sample-before-decode selection, and the JPEG
    * round trip, through the distributed mapPartitions plumbing. */
  def videoFrameSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
      // codec cost scales with rows, not bytes: spread across cores
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 8 * (2 + id % 3).toInt
          val h = 8 * (1 + id % 2).toInt
          val bxs = w / 8
          val nf = (2 + id % 4).toInt
          val frames = (0 until nf).map { f =>
            val px = Array.tabulate(w * h) { i =>
              val b = (i / w / 8) * bxs + (i % w) / 8
              2 * ((id * 29 + f.toLong * 19 + b.toLong * 7) % 128).toInt
            }
            graft.sources.Jpeg.encodeGray(w, h, px)
          }
          Multimodal.MediaRow(id, "video",
            graft.sources.Avi.encodeMjpeg(w, h, frames), Map.empty)
        }
      }
    val sampled = Multimodal.sampleFrames(media, 2)
    // composite id (frame index < 8) so the sampled frames flow
    // through the standard decodeStats operator unchanged
    val frameMedia = sampled.as[(Long, Int, Array[Byte])]
      .map { case (id, f, b) =>
        Multimodal.MediaRow(id * 8 + f, "image", b, Map.empty)
      }
    Multimodal.decodeStats(frameMedia, Multimodal.BinaryDecoder)
      .select(expr("id div 8").cast("long").as("doc_id"),
        pmod(col("id"), lit(8)).cast("int").as("frame"),
        col("width"), col("height"), col("pxSum").as("px_sum"))
  }

  val videoFrameSampleSql: String =
    """WITH p AS (SELECT doc_id,
      |    CAST(8 * (2 + doc_id % 3) AS INTEGER) AS w,
      |    CAST(8 * (1 + doc_id % 2) AS INTEGER) AS h,
      |    2 + doc_id % 4 AS nf
      |  FROM documents)
      |SELECT doc_id, CAST(t.f AS INTEGER) AS frame, w AS width,
      |  h AS height,
      |  CAST(64 * list_sum(list_transform(range(0, (w//8) * (h//8)),
      |    b -> 2 * ((doc_id*29 + t.f*19 + b*7) % 128))) AS BIGINT)
      |    AS px_sum
      |FROM p, range(5) t(f) WHERE t.f < nf AND t.f % 2 = 0""".stripMargin

  // ---- q137: frame-level audio features over REAL WAV payloads ----

  /** Audio feature extraction end to end: each document becomes a
    * real PCM16 WAV (samples a pure integer formula of (doc, index) —
    * the q123 audio family), and [[Multimodal.audioFrameFeatures]]
    * decodes it and emits per-8-sample-frame energy / zero-crossings
    * / peak / lag-1 autocorrelation — every feature an exact integer.
    * The oracle recomputes all four from the generating formula with
    * SQL window functions, so a hash match certifies the WAV round
    * trip AND the framing/feature arithmetic. */
  def audioFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
      // codec cost scales with rows, not bytes: spread across cores
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions { ids =>
        ids.map { id =>
          val n = (24 + id % 16).toInt
          Multimodal.MediaRow(id, "audio",
            graft.sources.Codecs.encodeWav(Array.tabulate(n)(i =>
              ((id * 131 + i.toLong * 17) % 65536).toInt - 32768)),
            Map.empty)
        }
      }
    Multimodal.audioFrameFeatures(media, frameSize = 8)
      .toDF("doc_id", "frame", "n", "energy", "zero_crossings",
        "peak", "ac1")
  }

  val audioFeaturesSql: String =
    """WITH p AS (SELECT doc_id, 24 + doc_id % 16 AS n FROM documents),
      |s AS (SELECT doc_id, CAST(t.i AS INTEGER) AS i,
      |    (doc_id*131 + t.i*17) % 65536 - 32768 AS v
      |  FROM p, range(40) t(i) WHERE t.i < n),
      |g AS (SELECT doc_id, i // 8 AS frame, v,
      |    lag(v) OVER (PARTITION BY doc_id, i // 8 ORDER BY i) AS pv
      |  FROM s)
      |SELECT doc_id, CAST(frame AS INTEGER) AS frame,
      |  CAST(COUNT(*) AS INTEGER) AS n,
      |  CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS energy,
      |  CAST(SUM(CASE WHEN pv IS NOT NULL AND CAST(pv AS BIGINT) * v < 0
      |    THEN 1 ELSE 0 END) AS INTEGER) AS zero_crossings,
      |  CAST(MAX(ABS(v)) AS INTEGER) AS peak,
      |  CAST(SUM(CASE WHEN pv IS NOT NULL THEN CAST(pv AS BIGINT) * v
      |    ELSE 0 END) AS BIGINT) AS ac1
      |FROM g GROUP BY 1, 2""".stripMargin

  // ---- q138: GIF (LZW) decode parity over arbitrary images ----

  /** The GIF/LZW codec under the hash gate. GIF is lossless, so —
    * unlike the JPEG families — the oracle covers ARBITRARY formula
    * images: every document becomes an RGB image whose channels are a
    * pure integer formula of (doc, pixel, channel), encoded by the
    * repo's own LZW (variable code width, clear/EOI, sub-block
    * framing; four-pass interlace for even doc_ids) and decoded by
    * the REAL [[Multimodal.BinaryDecoder]] GIF branch. The oracle
    * recomputes the channel sums straight from the formula — a hash
    * match certifies the entire LZW machinery both directions. */
  def gifDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
      // codec cost scales with rows, not bytes: spread across cores
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (5 + id % 6).toInt
          val h = (4 + (id / 3) % 5).toInt
          val rgb = Array.tabulate(w * h * 3) { j =>
            ((id * 31 + (j / 3).toLong * 7 + (j % 3).toLong * 11) % 256).toInt
          }
          Multimodal.MediaRow(id, "gif",
            graft.sources.Gif.encodeGif(w, h, rgb,
              interlaced = id % 2 == 0), Map.empty)
        }
      }
    Multimodal.decodeStats(media, Multimodal.BinaryDecoder)
      .toDF("doc_id", "fmt", "width", "height", "n_px", "px_sum")
  }

  val gifDecodeSql: String =
    """WITH p AS (SELECT doc_id,
      |    CAST(5 + doc_id % 6 AS INTEGER) AS w,
      |    CAST(4 + (doc_id // 3) % 5 AS INTEGER) AS h
      |  FROM documents)
      |SELECT doc_id, 'gif' AS fmt, w AS width, h AS height,
      |  w * h AS n_px,
      |  CAST(list_sum(list_transform(range(0, w*h),
      |    i -> (doc_id*31 + i*7) % 256 + (doc_id*31 + i*7 + 11) % 256
      |       + (doc_id*31 + i*7 + 22) % 256)) AS BIGINT) AS px_sum
      |FROM p""".stripMargin

  // ---- q139: image quality statistics (blank/contrast filters) ----

  /** Whole-image quality stats over a MIXED-format corpus (PNG for
    * even doc_ids, GIF for odd — the decoder sniffs, it never trusts
    * labels): exact integer min/max/Σ/Σ² of the channel-sum plane,
    * the signals an image curation pass filters on. The oracle
    * recomputes all four from the formula with list aggregates. */
  def imageStatsQ(s: SparkSession, d: String): DataFrame = {
    val media = mediaFixture(s, d, "stats_img") { id =>
          if (id % 2 == 0) {
            val w = (6 + id % 5).toInt
            val h = (5 + (id / 2) % 4).toInt
            Multimodal.MediaRow(id, "image",
              graft.sources.Codecs.encodePng(w, h, 1,
                Array.tabulate(w * h)(i =>
                  ((id * 31 + i.toLong * 7) % 256).toInt)), Map.empty)
          } else {
            val w = (5 + id % 6).toInt
            val h = (4 + (id / 3) % 5).toInt
            val rgb = Array.tabulate(w * h * 3) { j =>
              ((id * 31 + (j / 3).toLong * 7 + (j % 3).toLong * 11)
                % 256).toInt
            }
            Multimodal.MediaRow(id, "image",
              graft.sources.Gif.encodeGif(w, h, rgb), Map.empty)
          }
        }
    Multimodal.imageStats(media, Multimodal.BinaryDecoder)
      .toDF("doc_id", "width", "height", "px_min", "px_max",
        "px_sum", "px_sum_sq")
  }

  val imageStatsSql: String =
    """WITH p AS (SELECT doc_id,
      |    CAST(CASE WHEN doc_id % 2 = 0 THEN 6 + doc_id % 5
      |         ELSE 5 + doc_id % 6 END AS INTEGER) AS w,
      |    CAST(CASE WHEN doc_id % 2 = 0 THEN 5 + (doc_id // 2) % 4
      |         ELSE 4 + (doc_id // 3) % 5 END AS INTEGER) AS h
      |  FROM documents),
      |v AS (SELECT doc_id, w, h,
      |    list_transform(range(0, w*h), i -> CASE WHEN doc_id % 2 = 0
      |      THEN (doc_id*31 + i*7) % 256
      |      ELSE (doc_id*31 + i*7) % 256 + (doc_id*31 + i*7 + 11) % 256
      |         + (doc_id*31 + i*7 + 22) % 256 END) AS vals
      |  FROM p)
      |SELECT doc_id, w AS width, h AS height,
      |  CAST(list_min(vals) AS BIGINT) AS px_min,
      |  CAST(list_max(vals) AS BIGINT) AS px_max,
      |  CAST(list_sum(vals) AS BIGINT) AS px_sum,
      |  CAST(list_sum(list_transform(vals, x -> x*x)) AS BIGINT)
      |    AS px_sum_sq
      |FROM v""".stripMargin

  // ---- q140: perceptual hash (aHash) for image dedup ----

  /** The 64-bit average-hash every image-dedup pipeline groups on,
    * end to end through real GIF decode: flat 8×8-grid images whose
    * grid values are a formula of (doc, block), hashed by the exact
    * integer block-mean-vs-global-mean rule. The oracle reproduces
    * every BIT with a window over the 64 grid values — a hash match
    * certifies the block geometry, the exact comparison, and the bit
    * order. Emitted as the 64-char bit string (MSB first) to keep
    * the sign bit printable. */
  def imageAHash(s: SparkSession, d: String): DataFrame = {
    val media = mediaFixture(s, d, "ahash_gif") { id =>
      val w = 8 * (1 + id % 3).toInt
      val h = 8 * (1 + id % 2).toInt
      val bw = w / 8; val bh = h / 8
      val rgb = new Array[Int](w * h * 3)
      var i = 0
      while (i < w * h) {
        val b = ((i / w) / bh) * 8 + (i % w) / bw
        val v = ((id * 37 + b.toLong * 13) % 256).toInt
        rgb(3 * i) = v; rgb(3 * i + 1) = v; rgb(3 * i + 2) = v
        i += 1
      }
      Multimodal.MediaRow(id, "image",
        graft.sources.Gif.encodeGif(w, h, rgb), Map.empty)
    }
    Multimodal.aHash64(media, Multimodal.BinaryDecoder)
      .toDF("doc_id", "width", "height", "ahash")
      .select(col("doc_id"), col("width"), col("height"),
        lpad(bin(col("ahash")), 64, "0").as("ahash_bits"))
  }

  val imageAHashSql: String =
    """WITH p AS (SELECT doc_id,
      |    CAST(8 * (1 + doc_id % 3) AS INTEGER) AS w,
      |    CAST(8 * (1 + doc_id % 2) AS INTEGER) AS h
      |  FROM documents),
      |b AS (SELECT doc_id, w, h, CAST(t.b AS INTEGER) AS b,
      |    (doc_id*37 + t.b*13) % 256 AS v
      |  FROM p, range(64) t(b)),
      |tot AS (SELECT doc_id, SUM(v) AS total FROM b GROUP BY 1)
      |SELECT b.doc_id, ANY_VALUE(w) AS width, ANY_VALUE(h) AS height,
      |  string_agg(CASE WHEN 64*v > total THEN '1' ELSE '0' END, ''
      |    ORDER BY b DESC) AS ahash_bits
      |FROM b JOIN tot ON b.doc_id = tot.doc_id
      |GROUP BY b.doc_id""".stripMargin

  // ---- q141: Hamming near-dup over 64-bit fingerprints ----

  /** The q141/q145 fingerprint fixture: groups of 4 docs share a
    * 63-bit base pattern, each member XOR-flips up to 3 positions —
    * a pure integer bit formula both the Spark side and the DuckDB
    * oracles recompute identically. */
  private[queries] def fpHashes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .as[(Long, String)]
      .map { case (id, src) => (id, fpWords(id, 1)(0), src) }
      .toDF("doc_id", "h", "source")
  }

  /** The fixture's `nWords` little-endian words for doc `id`: global
    * position p < 63·nWords is bit p mod 63 of word p div 63 (the top
    * bit of each word stays clear); the base pattern and the flips
    * range over all 63·nWords positions. */
  private[queries] def fpWords(id: Long, nWords: Int): Array[Long] = {
    val bits = 63 * nWords
    val words = Array.fill(nWords)(0L)
    var p = 0
    while (p < bits) {
      var bit = if ((((id / 4) * 31 + p * 17) % 97) % 5 == 0) 1 else 0
      var f = 0
      while (f < (id % 4).toInt) {
        if ((id * 11 + f * 23) % bits == p) bit ^= 1
        f += 1
      }
      if (bit == 1) words(p / 63) |= 1L << (p % 63)
      p += 1
    }
    words
  }

  /** The scale path for perceptual-hash image dedup
    * ([[graft.operators.Dedup.hammingNearDup]]): pigeonhole banding
    * guarantees every pair within Hamming distance 6 shares one of 7
    * exact bands, so candidates are an equi-join, never all-pairs.
    * The oracle brute-forces ALL pairs with `bit_count(xor())` — a
    * hash match proves the banded join finds exactly that set. */
  def hammingPairs(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.hammingNearDup(fpHashes(s, d), "doc_id", "h",
        maxDist = 6)
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))

  val hammingPairsSql: String =
    """WITH p AS (SELECT doc_id FROM documents),
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
      |  GROUP BY 1)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS dist
      |FROM h a JOIN h b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.h, b.h)) <= 6""".stripMargin

  // ---- q142: OPQ-style rotated PQ (WHT pretransform) ----

  /** [[graft.operators.Similarity.rotatedPqTopK]] end to end: the ±1
    * sign diagonal is a fixed integer formula, the Walsh–Hadamard
    * butterfly is pure integer arithmetic, and everything downstream
    * is the q71 PQ machinery over the rotated vectors. The oracle
    * prepends six SQL butterfly passes to the q71 CTEs — a hash match
    * certifies the rotation bit for bit AND that train/encode/ADC all
    * ran in the rotated space. */
  def rotatedPq(s: SparkSession, d: String): DataFrame = {
    val e = embCorpus(s, d)
    val signs = IndexedSeq.tabulate(64)(i =>
      if ((i * 37 + 11) % 3 == 0) -1L else 1L)
    graft.operators.Similarity.rotatedPqTopK(
      e.where(col("id") < 8), e, k = 5, signs)
  }

  val rotatedPqSql: String = {
    val stages = Seq(1, 2, 4, 8, 16, 32).zipWithIndex.map {
      case (h, j) =>
        s"""r${j + 1} AS (SELECT vec_id, list_transform(range(64),
           |    i -> CASE WHEN (i & $h) = 0 THEN v[i+1] + v[xor(i, $h)+1]
           |         ELSE v[xor(i, $h)+1] - v[i+1] END) AS v
           |  FROM r$j),""".stripMargin
    }.mkString("\n")
    val rot =
      s"""WITH e0 AS (SELECT vec_id, ${qv("embedding")} AS q
         |  FROM embeddings),
         |r0 AS (SELECT vec_id, list_transform(range(64),
         |    i -> CASE WHEN (i*37 + 11) % 3 = 0
         |      THEN -q[i+1] ELSE q[i+1] END) AS v
         |  FROM e0),
         |$stages
         |e AS (SELECT vec_id, v AS q FROM r6),""".stripMargin
    val plain =
      s"WITH e AS (SELECT vec_id, ${qv("embedding")} AS q FROM embeddings),"
    val out = Pipeline3.pqAnnTopKSql.replace(plain, rot)
    require(out != Pipeline3.pqAnnTopKSql,
      "q142 oracle: q71 prefix CTE changed — update the rotation splice")
    out
  }

  // ---- q143: residual IVF-PQ (FAISS by_residual=true, the default) ----

  /** The residual-encoding IVFADC — the form FAISS actually defaults
    * to: PQ codes quantize (x − centroid(cell)), whose variance is a
    * fraction of the raw vector's, and the probe adds the
    * per-(query, cell) constant ⟨q, centroid⟩ back to the LUT sum
    * (score = ⟨q, centroid + recon(residual)⟩ by linearity). The
    * oracle rebuilds the whole residual route in SQL: assignment,
    * residuals, residual-trained codebook, residual codes, LUT over
    * RAW query subvectors, and the centroid-dot constant. */
  def ivfPqResidual(s: SparkSession, d: String): DataFrame = {
    val e = embCorpus(s, d)
    val path = cachedStore("ivfpqres", d)(p =>
      graft.operators.IvfPqIndexStore.write(e, p, byResidual = true))
    graft.operators.IvfPqIndexStore.probe(s, path,
      e.where(col("id") < 8), k = 5)
  }

  val ivfPqResidualSql: String = {
    val sqd = "list_sum(list_transform(list_zip(rsub.sub, cents.cv), " +
      "p -> (p[1]-p[2])*(p[1]-p[2])))"
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
       |rsd AS (SELECT e.vec_id,
       |    list_transform(list_zip(e.q, cent.cv), p -> p[1] - p[2]) AS r
       |  FROM e JOIN asg ON asg.nid = e.vec_id
       |  JOIN cent ON cent.cid = asg.cid),
       |rsub AS (SELECT vec_id, CAST(t.s AS INTEGER) AS s,
       |    r[(CAST(t.s AS INTEGER)*8+1):(CAST(t.s AS INTEGER)*8+8)] AS sub
       |  FROM rsd, range(8) t(s)),
       |cents AS (SELECT s, cid, cv FROM (
       |    SELECT s, vec_id AS cid, sub AS cv,
       |      row_number() OVER (PARTITION BY s ORDER BY vec_id) AS crk
       |    FROM rsub WHERE vec_id % 25 = 1)
       |  WHERE crk <= 256),
       |codes AS (SELECT nid, s, cid AS code FROM (
       |    SELECT rsub.vec_id AS nid, rsub.s, cents.cid,
       |      row_number() OVER (PARTITION BY rsub.vec_id, rsub.s
       |        ORDER BY $sqd ASC, cents.cid ASC) AS rk
       |    FROM rsub JOIN cents ON rsub.s = cents.s)
       |  WHERE rk = 1),
       |qsub AS (SELECT vec_id, CAST(t.s AS INTEGER) AS s,
       |    q[(CAST(t.s AS INTEGER)*8+1):(CAST(t.s AS INTEGER)*8+8)] AS sub
       |  FROM e, range(8) t(s) WHERE vec_id < 8),
       |lut AS (SELECT qsub.vec_id AS qid, cents.s, cents.cid AS code,
       |    CAST(list_sum(list_transform(list_zip(qsub.sub, cents.cv),
       |      p -> p[1]*p[2])) AS BIGINT) AS pdot
       |  FROM qsub JOIN cents ON qsub.s = cents.s),
       |qc AS (SELECT probes.qid, probes.cid,
       |    CAST(list_sum(list_transform(list_zip(n.q, cent.cv),
       |      p -> p[1]*p[2])) AS BIGINT) AS qcdot
       |  FROM probes JOIN n ON n.vec_id = probes.qid
       |  JOIN cent ON cent.cid = probes.cid),
       |sc AS (SELECT probes.qid, codes.nid,
       |    CAST(SUM(pdot) + ANY_VALUE(qcdot) AS BIGINT) AS score
       |  FROM probes
       |  JOIN asg ON asg.cid = probes.cid AND asg.nid <> probes.qid
       |  JOIN qc ON qc.qid = probes.qid AND qc.cid = probes.cid
       |  JOIN codes ON codes.nid = asg.nid
       |  JOIN lut ON lut.qid = probes.qid AND lut.s = codes.s
       |          AND lut.code = codes.code
       |  GROUP BY 1, 2)
       |SELECT qid, nid, score, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY score DESC, nid ASC) AS INTEGER) AS rank FROM sc)
       |WHERE rank <= 5""".stripMargin
  }

  // ---- q144: difference hash (dHash) for image dedup ----

  /** The gradient perceptual hash through real GIF decode: flat
    * 8×9-grid images whose grid values are a formula of (doc, cell),
    * hashed by the exact adjacent-block-sum comparison. The oracle
    * reproduces every bit; emitted as the 64-char bit string like
    * q140. */
  def imageDHash(s: SparkSession, d: String): DataFrame = {
    val media = mediaFixture(s, d, "dhash_gif") { id =>
      val w = 9 * (1 + id % 2).toInt
      val h = 8 * (1 + id % 3).toInt
      val bw = w / 9; val bh = h / 8
      val rgb = new Array[Int](w * h * 3)
      var i = 0
      while (i < w * h) {
        val b = ((i / w) / bh) * 9 + (i % w) / bw
        val v = ((id * 41 + b.toLong * 17) % 256).toInt
        rgb(3 * i) = v; rgb(3 * i + 1) = v; rgb(3 * i + 2) = v
        i += 1
      }
      Multimodal.MediaRow(id, "image",
        graft.sources.Gif.encodeGif(w, h, rgb), Map.empty)
    }
    Multimodal.dHash64(media, Multimodal.BinaryDecoder)
      .toDF("doc_id", "width", "height", "dhash")
      .select(col("doc_id"), col("width"), col("height"),
        lpad(bin(col("dhash")), 64, "0").as("dhash_bits"))
  }

  val imageDHashSql: String =
    """WITH p AS (SELECT doc_id,
      |    CAST(9 * (1 + doc_id % 2) AS INTEGER) AS w,
      |    CAST(8 * (1 + doc_id % 3) AS INTEGER) AS h
      |  FROM documents),
      |b AS (SELECT doc_id, w, h, CAST(t.b AS INTEGER) // 8 AS r,
      |    CAST(t.b AS INTEGER) % 8 AS c,
      |    (doc_id*41 + ((t.b // 8) * 9 + t.b % 8 + 1) * 17) % 256 AS vr,
      |    (doc_id*41 + ((t.b // 8) * 9 + t.b % 8) * 17) % 256 AS vl
      |  FROM p, range(64) t(b))
      |SELECT doc_id, ANY_VALUE(w) AS width, ANY_VALUE(h) AS height,
      |  string_agg(CASE WHEN vr > vl THEN '1' ELSE '0' END, ''
      |    ORDER BY r DESC, c DESC) AS dhash_bits
      |FROM b GROUP BY doc_id""".stripMargin

  // ---- q145: incremental image dedup vs the persisted hash index ----

  /** The image re-crawl over 64-bit fingerprints
    * ([[fingerprintRecrawl]]). Pigeonhole banding makes recall vs the
    * index 100% by construction, so the oracle can brute-force all
    * new-vs-old pairs and the hash must match exactly. */
  def hammingIncremental(s: SparkSession, d: String): DataFrame =
    fingerprintRecrawl(s, d, "hashidx", Dedup.FpLayout.Long64, fpHashes(s, d))

  /** The image re-crawl through a PERSISTED fingerprint index, shared
    * by q145, q156 and q165: src0's bands (`hashes` is doc_id, h,
    * source) are committed once into the [[BandIndexStore]] store
    * `kind`, the non-src0 batch probes the resolved index with the
    * corpus-hash routing and the write-time stats sidecar's hot set
    * (no per-probe O(index) aggregate; the probe gets the same
    * threshold the sidecar was read with), and an exact xor/popcount
    * over the hash table verifies (the index stores bands only). */
  private[queries] def fingerprintRecrawl(s: SparkSession, d: String,
      kind: String, fp: Dedup.FpLayout, hashes: DataFrame): DataFrame = {
    val maxDist = 6
    val corpus = hashes.where(col("source") === "src0")
      .select(col("doc_id"), col("h"))
    val batch = hashes.where(col("source") =!= "src0")
    val path = cachedStore(kind, d) { p =>
      BandIndexStore.writeBands(
        Dedup.fpBands(fp, corpus, "doc_id", "h", maxDist), p)
    }
    val cands = Dedup.fpProbe(fp, batch, "doc_id", "h",
      BandIndexStore.read(s, path), maxDist, corpusHashes = Some(corpus),
      maxBandDf = Dedup.DefaultMaxBandDf,
      hotBands = BandIndexStore.readHotBands(s, path, Dedup.DefaultMaxBandDf))
    cands
      .join(batch.select(col("doc_id").as("batch_id"), col("h").as("bh")),
        Seq("batch_id"))
      .join(corpus.select(col("doc_id").as("corpus_id"), col("h").as("ch")),
        Seq("corpus_id"))
      .select(col("batch_id"), col("corpus_id"),
        Dedup.fpDist(fp, col("bh"), col("ch")).cast("int").as("dist"))
      .where(col("dist") <= maxDist)
  }

  val hammingIncrementalSql: String =
    """WITH p AS (SELECT doc_id, source FROM documents),
      |bits AS (SELECT doc_id, source, CAST(t.i AS INTEGER) AS i,
      |    CASE WHEN (((doc_id//4)*31 + t.i*17) % 97) % 5 = 0
      |      THEN 1 ELSE 0 END AS b0
      |  FROM p, range(63) t(i)),
      |flips AS (SELECT doc_id, (doc_id*11 + f.f*23) % 63 AS i,
      |    COUNT(*) % 2 AS fl
      |  FROM p, range(3) f(f) WHERE f.f < doc_id % 4 GROUP BY 1, 2),
      |h AS (SELECT bits.doc_id, ANY_VALUE(bits.source) AS source,
      |    CAST(SUM(CAST((b0 + COALESCE(fl, 0)) % 2 AS BIGINT)
      |      * (CAST(1 AS BIGINT) << bits.i)) AS BIGINT) AS h
      |  FROM bits LEFT JOIN flips
      |    ON bits.doc_id = flips.doc_id AND bits.i = flips.i
      |  GROUP BY 1)
      |SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id,
      |  CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS dist
      |FROM h a JOIN h b
      |  ON a.source <> 'src0' AND b.source = 'src0'
      | AND a.doc_id <> b.doc_id
      |WHERE bit_count(xor(a.h, b.h)) <= 6""".stripMargin

  val queries: Map[String, Q] = Map(
    "q134_ivfsq_topk" -> (ivfSqTopK _),
    "q135_ivfsq_rerank" -> (ivfSqRerank _),
    "q136_video_frame_sample" -> (videoFrameSample _),
    "q137_audio_features" -> (audioFeatures _),
    "q138_gif_decode" -> (gifDecode _),
    "q139_image_stats" -> (imageStatsQ _),
    "q140_image_ahash" -> (imageAHash _),
    "q141_hamming_neardup" -> (hammingPairs _),
    "q142_rotated_pq" -> (rotatedPq _),
    "q143_ivfpq_residual" -> (ivfPqResidual _),
    "q144_image_dhash" -> (imageDHash _),
    "q145_hamming_incremental" -> (hammingIncremental _))

  def oracles: Map[String, String] = Map(
    "q134_ivfsq_topk" -> ivfSqTopKSql,
    "q135_ivfsq_rerank" -> ivfSqRerankSql,
    "q136_video_frame_sample" -> videoFrameSampleSql,
    "q137_audio_features" -> audioFeaturesSql,
    "q138_gif_decode" -> gifDecodeSql,
    "q139_image_stats" -> imageStatsSql,
    "q140_image_ahash" -> imageAHashSql,
    "q141_hamming_neardup" -> hammingPairsSql,
    "q142_rotated_pq" -> rotatedPqSql,
    "q143_ivfpq_residual" -> ivfPqResidualSql,
    "q144_image_dhash" -> imageDHashSql,
    "q145_hamming_incremental" -> hammingIncrementalSql)
}
