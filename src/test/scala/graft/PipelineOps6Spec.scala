package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}
import graft.sources.{Avi, Jpeg, Multimodal}

/** Round-13 additions: the O(N) image-dedup cluster output, video
  * shot-boundary detection, and the integer-quantized n-gram LM
  * perplexity filter. Expectations are hand-computed, not
  * re-derived. */
class PipelineOps6Spec extends SparkSpecBase {
  import spark.implicits._

  test("imageDedupClusters: one row per image, Hamming-closure clusters, O(N) output") {
    // cluster A: ids 0,1,2 — identical hash; cluster B: 10,11,12 —
    // a CHAIN (10~11 dist 2, 11~12 dist 2, 10~12 dist 4 > maxDist=3:
    // transitivity must still merge them); singleton: 20
    val h0 = 0x0f0f0f0f0f0f0f0fL
    val hB = 0x7000000000000000L
    val rows = Seq(
      (0L, h0), (1L, h0), (2L, h0),
      (10L, hB), (11L, hB ^ 3L), (12L, hB ^ 3L ^ 0x30L),
      (20L, 0x123456789abcdefL))
    assert(java.lang.Long.bitCount(hB ^ (hB ^ 3L)) == 2)
    assert(java.lang.Long.bitCount(hB ^ (hB ^ 3L ^ 0x30L)) == 4) // > 3
    val got = Dedup.imageDedupClusters(rows.toDF("id", "h"), "id", "h",
        maxDist = 3)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.length == rows.length) // O(N): one row per input
    assert(got.toSeq == Seq(
      (0L, 0L, true), (1L, 0L, false), (2L, 0L, false),
      (10L, 10L, true), (11L, 10L, false), (12L, 10L, false),
      (20L, 20L, true)))
    // a forcing cap now REFUSES loudly (round-14 escalation contract):
    // the three chained hashes agree on whole sub-bands, so no
    // pigeonhole depth can bound a cap of 1 — the guard surfaces the
    // measured density instead of silently joining quadratically
    val ex = intercept[Exception] {
      Dedup.imageDedupClusters(rows.toDF("id", "h"), "id", "h",
        maxDist = 3, maxBandDf = 1)
        .as[(Long, Long, Boolean)].collect()
    }
    val msg = ex.getMessage +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("level-2 sub-band"), s"got: $msg")
    // maxDist 0 clusters identical hashes only
    val exact = Dedup.imageDedupClusters(
        Seq((1L, 5L), (2L, 5L), (3L, 9L)).toDF("id", "h"), "id", "h",
        maxDist = 0)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(exact.toSeq ==
      Seq((1L, 1L, true), (2L, 1L, false), (3L, 3L, true)))
  }

  test("videoShotBoundaries: exact diffs, strict threshold, non-video skipped") {
    // 16x16, 4 blocks; frame values constant per 8x8 block so the
    // MJPEG round trip is exact. Frames: f0 = all 10; f1 = all 12
    // (diff 2*256 = 512); f2 = all 100 (diff 88*256 = 22528)
    def frame(v: Int) = Jpeg.encodeGray(16, 16, Array.fill(256)(v))
    val avi = Avi.encodeMjpeg(16, 16,
      Seq(frame(10), frame(12), frame(100)))
    val media = Seq(
      Multimodal.MediaRow(1L, "video", avi, Map.empty),
      Multimodal.MediaRow(2L, "audio", Array[Byte](1, 2, 3), Map.empty))
      .toDS()
    // threshold exactly at 512: frame 1's diff is NOT > 512 → same
    // shot; frame 2 opens one
    val got = Multimodal.videoShotBoundaries(media, threshold = 512)
      .collect().sortBy(_.frame)
    assert(got.length == 3 && got.forall(_.id == 1L)) // audio skipped
    assert(got.map(f => (f.frame, f.diff, f.isKeyframe)).toSeq == Seq(
      (0, 0L, true), (1, 512L, false), (2, 22528L, true)))
  }

  test("ngramLmPerplexity: hand-computed integer bits on a 3-doc corpus") {
    // train slice (doc 0): tokens a b a → c1(a)=2, c1(b)=1, V=2;
    // bigrams (a,b)=1, (b,a)=1
    val docs = Seq((0L, "a b a"), (1L, "A  b"), (2L, "c"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.ngramLmPerplexity(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // doc 0: (a,b): q = 2·2^20 // (2+2+1) = 419430 → 19 binary digits
    //        → 2 bits; (b,a): q = 2·2^20 // (1+2+1) = 524288 = 2^19
    //        → 1 bit. nll = 3, ppl_q = 1500
    // doc 1 (lowercased): (a,b) → 2 bits; ppl_q = 2000
    // doc 2: single token → no row
    assert(got == Seq((0L, 2L, 3L, 1500L), (1L, 1L, 2L, 2000L)))
  }

  test("audioSpectral: pure tones land in their Goertzel bin, off-bins exactly 0") {
    import graft.sources.Codecs
    // period-4 tone (w = π/2) and period-6 hexagon (w = π/3); over a
    // 12-sample frame every tested frequency divides the frame, so
    // cross-bin energies are EXACTLY zero in the integer arithmetic
    val p4 = Array.tabulate(24)(i => Seq(1000, 0, -1000, 0)(i % 4))
    val p6 = Array.tabulate(24)(i =>
      Seq(1000, 1000, 0, -1000, -1000, 0)(i % 6))
    val media = Seq(
      Multimodal.MediaRow(4L, "audio", Codecs.encodeWav(p4), Map.empty),
      Multimodal.MediaRow(6L, "audio", Codecs.encodeWav(p6), Map.empty))
      .toDS()
    val got = Multimodal.audioSpectral(media, frameSize = 12).collect()
    assert(got.length == 4 && got.forall(_.n == 12))
    got.filter(_.id == 4L).foreach { r =>
      assert(r.ePi2 > 0 && r.ePi3 == 0 && r.e2Pi3 == 0, r.toString)
    }
    got.filter(_.id == 6L).foreach { r =>
      assert(r.ePi3 > 0 && r.ePi2 == 0 && r.e2Pi3 == 0, r.toString)
    }
  }

  test("canonicalUrl: case, default ports, tracking params, fragments, sort") {
    import graft.operators.CorpusOps
    val in = Seq(
      (1L, "HTTPS://Example.COM:443/a/B?utm_source=x&z=2&a=1#frag"),
      (2L, "https://example.com/a/B?a=1&z=2"),
      (3L, "http://example.com:80"), // default port + empty path
      (4L, "http://example.com:8080/x"), // non-default port kept
      (5L, "https://example.com:80/x"), // :80 is NOT https' default
      (6L, "https://example.com/x?utm_a=1&ref=2")) // all params tracking
      .toDF("id", "url")
    val got = in
      .select($"id", CorpusOps.canonicalUrl($"url").as("c"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "https://example.com/a/B?a=1&z=2") // path case kept
    assert(got(2L) == "https://example.com/a/B?a=1&z=2") // same page
    assert(got(3L) == "http://example.com/")
    assert(got(4L) == "http://example.com:8080/x")
    assert(got(5L) == "https://example.com:80/x")
    assert(got(6L) == "https://example.com/x")
    // urlDedup: group stats + keep on the smallest id
    val dd = CorpusOps.urlDedup(in, "id", "url")
      .as[(Long, String, Long, Boolean)].collect()
      .map(t => t._1 -> ((t._3, t._4))).toMap
    assert(dd(1L) == ((2L, true)) && dd(2L) == ((2L, false)))
    assert(dd(4L) == ((1L, true)))
  }

  test("ngramLmPerplexity: empty train slice still scores (OOV slot)") {
    val docs = Seq((1L, "x y"), (3L, "x y z"))
      .toDF("doc_id", "text") // no doc_id % 10 == 0 → V = 0, all OOV
    val got = TextAnalysis.ngramLmPerplexity(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // every pair: q = 1·2^20 // (0+0+1) = 2^20 → 0 bits
    assert(got == Seq((1L, 1L, 0L, 0L), (3L, 2L, 0L, 0L)))
  }
}
