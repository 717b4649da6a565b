package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** Round-9 additions: global exact-substring dedup (duplicated-run
  * reconstruction and removal) and the degenerate-corpus BPE
  * contract. */
class PipelineOps5Spec extends SparkSpecBase {
  import spark.implicits._

  /** Two documents sharing one verbatim 30-token run, each padded
    * with ~120 distinct filler tokens — enough unshared shingles that
    * the MinHash minima disagree and LSH never surfaces the pair. */
  private def copyCorpus = {
    def filler(tag: String, n: Int) =
      (0 until n).map(i => s"$tag$i").mkString(" ")
    val run = (0 until 30).map(i => s"shared$i").mkString(" ")
    Seq(
      (1L, s"${filler("alpha", 120)} $run ${filler("beta", 120)}"),
      (2L, s"${filler("gamma", 120)} $run ${filler("delta", 120)}"),
      (3L, filler("omega", 80)))
      .toDF("doc_id", "text")
  }

  test("dupSpans surfaces a verbatim copy that MinHash cannot see") {
    val docs = copyCorpus
    // the pair is INVISIBLE to the LSH candidate machinery: with 240
    // unshared filler tokens per doc the band minima never collide
    val cand = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
      .as[(Long, Long)].collect()
    assert(!cand.contains((1L, 2L)) && !cand.contains((2L, 1L)),
      s"fixture broken: LSH surfaced the pair ($cand)")
    // ...but the global positioned-k-gram pass reconstructs the run
    // in BOTH documents, with the SAME content fingerprint
    val spans = Dedup.dupSpans(docs, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(spans.map(_._1).toSeq == Seq(1L, 2L))
    assert(spans.forall(_._3 == 30L), s"span lengths: ${spans.toSeq}")
    assert(spans(0)._4 == spans(1)._4, "same run must fingerprint equal")
    // 1-based start: doc 1's run begins right after 120 filler tokens
    assert(spans(0)._2 == 121L)
  }

  test("dupSpans reconstructs maximal runs, not fragments") {
    // doc 3 repeats doc 1's full text: EVERY 5-gram duplicates, so
    // each doc reports exactly one maximal span covering everything
    val docs = Seq(
      (1L, (0 until 40).map(i => s"t$i").mkString(" ")),
      (3L, (0 until 40).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val spans = Dedup.dupSpans(docs, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(spans.length == 2)
    assert(spans.forall(s => s._2 == 1L && s._3 == 40L))
  }

  test("dupSpans ignores short duplicated islands below minTokens") {
    // a single duplicated 5-gram yields a 5-token span — below the
    // 10-token floor, so nothing is reported
    val five = "p q r s t"
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 a5 a6 $five b1 b2 b3 b4 b5 b6"),
      (2L, s"c1 c2 c3 c4 c5 c6 $five d1 d2 d3 d4 d5 d6"))
      .toDF("doc_id", "text")
    assert(Dedup.dupSpans(docs, "doc_id", "text").count() == 0L)
    // lowering the floor surfaces them
    assert(Dedup.dupSpans(docs, "doc_id", "text", minTokens = 5)
      .count() == 2L)
  }

  test("stripDupSpans removes exactly the covered tokens, in order") {
    val docs = copyCorpus
    val r = Dedup.stripDupSpans(docs, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(r.size == 3)
    // docs 1/2: 270 tokens, the 30-token run removed
    assert(r(1L)._1 == 270L && r(1L)._2 == 30L)
    assert(r(2L)._1 == 270L && r(2L)._2 == 30L)
    // untouched doc: nothing removed, fingerprint = original tokens
    assert(r(3L)._2 == 0L)
    val omega = (0 until 80).map(i => s"omega$i").mkString(" ")
    assert(r(3L)._3 == org.apache.commons.codec.digest.DigestUtils
      .md5Hex(omega))
    // cleaned text of doc 1 is filler-only, original order
    val cleaned1 = ((0 until 120).map(i => s"alpha$i") ++
      (0 until 120).map(i => s"beta$i")).mkString(" ")
    assert(r(1L)._3 == org.apache.commons.codec.digest.DigestUtils
      .md5Hex(cleaned1))
  }

  test("stripDupSpans handles token-overlapping adjacent spans") {
    // two islands whose token ranges overlap (gap of 1 in start
    // space < k−1 tail): coverage must be position-distinct, never
    // double-removed
    val run1 = (0 until 12).map(i => s"x$i").mkString(" ")
    val run2 = (0 until 12).map(i => s"y$i").mkString(" ")
    val docs = Seq(
      (1L, s"$run1 mid $run2"),
      (2L, s"$run1 uno $run2"),
      (3L, "zzz"))
      .toDF("doc_id", "text")
    val r = Dedup.stripDupSpans(docs, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // both 12-token runs duplicate; 'mid'/'uno' differ so the middle
    // gram chain breaks — 25 tokens, 24 removed, 1 survivor
    assert(r(1L) == ((25L, 24L)))
    assert(r(2L) == ((25L, 24L)))
    assert(r(3L) == ((1L, 0L)))
  }

  test("BpeApplyExpr kernel replays the per-round replaces bit-equally") {
    // with the sample threshold above every md5 prefix the "sample"
    // is the whole corpus, so the sampled one-pass kernel must equal
    // the round-by-round bpeApply exactly, doc by doc
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val roundByRound = TextAnalysis
      .bpeApply(docs, "doc_id", "text", rounds = 4)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val onePass = TextAnalysis
      .bpeSampledCompression(docs, "doc_id", "text", rounds = 4,
        hexThreshold = "zz")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(onePass.toSeq == roundByRound.toSeq)
  }

  test("sampled BPE training learns only from the sample") {
    // doc 1 is OUT of a tiny sample; its dominant pair must not win
    // a merge round, while the in-sample pair does
    val docs = Seq(
      (1L, "x y x y x y x y x y x y"),
      (6L, "a b a b a b"),
      (7L, "a b a b"))
      .toDF("doc_id", "text")
    // md5 prefixes: pick a threshold that keeps 6,7 and drops 1
    val pre = docs.select($"doc_id",
      substring(md5($"doc_id".cast("string")), 1, 2).as("h"))
      .as[(Long, String)].collect().toMap
    val keep = Seq(pre(6L), pre(7L)).max
    assume(pre(1L) > keep, s"fixture md5 layout changed: $pre")
    val r = TextAnalysis.bpeSampledCompression(docs, "doc_id", "text",
        rounds = 1, hexThreshold = pre(1L))
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // merge learned from the sample is (a,b): docs 6/7 halve; doc 1,
    // although full of "x y", is untouched (x+y was never learned)
    assert(r(6L) == ((6L, 3L)))
    assert(r(7L) == ((4L, 2L)))
    assert(r(1L) == ((12L, 12L)))
  }

  test("hamming near-dup: pigeonhole banding has 100% recall vs brute force") {
    // deterministic 64-bit fingerprints in noisy clusters: groups of
    // three share a base pattern, each member flips a few bits. The
    // second fixture draws over all 64 bits, so the sign bit is set
    // in some bases and flipped in some members, as aHash64 does.
    for (width <- Seq(63, 64)) {
      val hashes = (0L until 60L).map { id =>
        val g = id / 3
        var h = 0L
        (0 until width).foreach { i =>
          if ((g * 31 + i * 17) % 5 == 0) h |= 1L << i
        }
        // flip (id%3)*2 distinct positions
        (0 until (id % 3).toInt * 2).foreach { f =>
          h ^= 1L << ((id * 11 + f * 23) % width).toInt
        }
        (id, h)
      }
      if (width == 64) assert(hashes.exists(_._2 < 0))
      val df = hashes.toDF("id", "h")
      val got = Dedup.hammingNearDup(df, "id", "h", maxDist = 5)
        .as[(Long, Long, Int)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      // brute force over all pairs
      val want = (for {
        (a, ha) <- hashes; (b, hb) <- hashes; if a < b
        d = java.lang.Long.bitCount(ha ^ hb); if d <= 5
      } yield (a, b) -> d).toMap
      assert(want.nonEmpty) // the fixture produces in-group pairs
      assert(got == want, s"width=$width") // exact: no missed pair, no junk
      // and the candidate stage is banded, not all-pairs: distance-6+
      // pairs never surface
      assert(got.values.forall(_ <= 5))
    }
  }

  test("hammingBands golden keys: the hb on-disk format") {
    // literal keys of persisted 64-bit indexes: `hb<nBands>.<b>:` plus
    // the unsigned band value (the whole signed hash in the one band
    // at maxDist 0); an index written by any earlier release must
    // keep equi-joining, so these strings never change
    val hashes = Seq(0x0123456789ABCDEFL, 0xFEDCBA9876543210L,
      0x5A5A5A5A5A5A5AL)
    val golden = Map(
      0 -> Seq(Seq("hb1.0:81985529216486895"),
        Seq("hb1.0:-81985529216486896"), Seq("hb1.0:25432092013386330")),
      3 -> Seq(Seq("hb4.0:52719", "hb4.1:35243", "hb4.2:17767", "hb4.3:291"),
        Seq("hb4.0:12816", "hb4.1:30292", "hb4.2:47768", "hb4.3:65244"),
        Seq("hb4.0:23130", "hb4.1:23130", "hb4.2:23130", "hb4.3:90")),
      6 -> Seq(Seq("hb7.0:495", "hb7.1:486", "hb7.2:106", "hb7.3:241",
          "hb7.4:86", "hb7.5:282", "hb7.6:4"),
        Seq("hb7.0:16", "hb7.1:25", "hb7.2:405", "hb7.3:270", "hb7.4:425",
          "hb7.5:229", "hb7.6:1019"),
        Seq("hb7.0:90", "hb7.1:301", "hb7.2:150", "hb7.3:331", "hb7.4:421",
          "hb7.5:210", "hb7.6:1")))
    val df = hashes.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      .toDF("id", "h")
    for ((maxDist, want) <- golden) {
      val got = Dedup.hammingBands(df, "id", "h", maxDist)
        .as[(Long, String)].collect().groupBy(_._1)
        .map { case (id, ks) => id -> ks.map(_._2).sorted.toSeq }
      assert(got == want.zipWithIndex.map { case (ks, i) => i.toLong -> ks }
        .toMap, s"maxDist=$maxDist")
    }
  }

  test("persisted fingerprint index: lifecycle + guaranteed candidate recall") {
    import graft.operators.BandIndexStore
    def mkHash(id: Long): Long = {
      val g = id / 3
      var h = 0L
      (0 until 63).foreach { i =>
        if ((g * 31 + i * 17) % 5 == 0) h |= 1L << i
      }
      (0 until (id % 3).toInt * 2).foreach { f =>
        h ^= 1L << ((id * 11 + f * 23) % 63).toInt
      }
      h
    }
    val corpus = (0L until 40L).map(id => (id, mkHash(id)))
    val batch = (40L until 60L).map(id => (id, mkHash(id)))
    val path = java.nio.file.Files
      .createTempDirectory("fpidx").toString
    try {
      BandIndexStore.writeBands(
        Dedup.hammingBands(corpus.toDF("id", "h"), "id", "h", 5), path)
      // maintenance batch through the SAME lifecycle as the minhash
      // index: add fingerprint 100 (a twin of 39), tombstone id 0
      BandIndexStore.appendBands(spark, path,
        Dedup.hammingBands(Seq((100L, mkHash(39L))).toDF("id", "h"),
          "id", "h", 5),
        Seq(0L).toDF("id"))
      val index = BandIndexStore.read(spark, path)
      val cands = Dedup.incrementalHammingCandidates(
        batch.toDF("id", "h"), "id", "h", index, maxDist = 5)
        .as[(Long, Long)].collect().toSet
      // pigeonhole guarantee: every true pair vs the RESOLVED corpus
      // (minus the tombstone, plus the appended twin) is a candidate
      val resolved = corpus.filter(_._1 != 0L) :+ (100L, mkHash(39L))
      val want = for {
        (b, hb) <- batch; (c, hc) <- resolved
        if java.lang.Long.bitCount(hb ^ hc) <= 5
      } yield (b, c)
      assert(want.nonEmpty)
      want.foreach(p => assert(cands.contains(p), s"missed $p"))
      // the tombstoned id never surfaces
      assert(!cands.exists(_._2 == 0L))
      // the appended twin surfaces for batch members near id 39
      if (want.exists(_._2 == 100L))
        assert(cands.exists(_._2 == 100L))
      // an index from before band-count encoding (`hb<b>:` keys)
      // cannot join the current keys: refused, not silently empty
      val legacy = java.nio.file.Files
        .createTempDirectory("fpidx_legacy").toString
      try {
        BandIndexStore.writeBands(corpus.flatMap { case (id, h) =>
          (0 until 6).map(b => (id, s"hb$b:${(h >>> (b * 64 / 6)) & 0x3ff}"))
        }.toDF("id", "band"), legacy)
        val ex = intercept[IllegalArgumentException] {
          Dedup.incrementalHammingCandidates(batch.toDF("id", "h"), "id",
            "h", BandIndexStore.read(spark, legacy), maxDist = 5).count()
        }
        assert(ex.getMessage.contains("predates band-count encoding") &&
          ex.getMessage.contains("rebuild the index"), ex.getMessage)
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(legacy))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(path))
  }

  test("hamming hot-band guard: adversarial flat-image corpus, exact at every cap") {
    // the corpus shape image dedup exists for: 30% of the corpus is
    // ONE identical fingerprint (blank thumbnails), plus noisy
    // clusters — with a tiny cap EVERY band goes hot, forcing both
    // the identical-hash fast path and the level-2 sub-band routing
    val flat = (0L until 30L).map(id => (id, 0x5a5a5a5a5a5a5aL))
    val noisy = (30L until 90L).map { id =>
      val g = id / 3
      var h = 0L
      (0 until 63).foreach { i =>
        if ((g * 29 + i * 13) % 7 == 0) h |= 1L << i
      }
      (0 until (id % 3).toInt).foreach { f =>
        h ^= 1L << ((id * 7 + f * 19) % 63).toInt
      }
      (id, h)
    }
    val all = flat ++ noisy
    val want = (for {
      (a, ha) <- all; (b, hb) <- all; if a < b
      d = java.lang.Long.bitCount(ha ^ hb); if d <= 4
    } yield (a, b) -> d).toMap
    assert(want.size > 500) // the flat block alone is 435 true pairs
    val df = all.toDF("id", "h")
    // identical results at a hot-forcing-but-bounded cap and the
    // default (base patterns repeat every 7 groups, so up to ~10
    // distinct hashes share a band key — 16 keeps sub-bands legal)
    Seq(16L, 100000L).foreach { cap =>
      val got = graft.operators.Dedup
        .hammingNearDup(df, "id", "h", maxDist = 4, maxBandDf = cap)
        .as[(Long, Long, Int)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      assert(got == want, s"cap=$cap: guard changed the result")
    }
    // maxDist = 0 degenerates to the identical-hash join only
    val d0 = graft.operators.Dedup
      .hammingNearDup(df, "id", "h", maxDist = 0)
      .as[(Long, Long, Int)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(d0 == want.filter(_._2 == 0))
    assert(d0.size >= 30 * 29 / 2) // at least the flat block
  }

  test("hamming level-2 routing: hot band, scattered sub-bands — exact") {
    // 40 distinct hashes all agreeing on band 0 (bits [0,12) zero for
    // maxDist=4) but spread across the complement, plus three planted
    // near-pairs: the band-0 key exceeds the cap, the level-2
    // sub-bands stay under it, and the routed join must still find
    // exactly the brute-force pair set (100% recall through level 2)
    def spread(id: Long): Long = {
      var h = 0L
      (12 until 63).foreach { i =>
        if ((id * 2654435761L + i * 40503L) % 997 % 3 == 0) h |= 1L << i
      }
      h
    }
    val base = (0L until 40L).map(id => (id, spread(id)))
    // near-pairs inside the hot band: ids 100/101 differ in 2 bits,
    // 102/103 in 4, 104/105 in 1 — all with band 0 zero
    val planted = Seq(
      (100L, spread(7L)), (101L, spread(7L) ^ (1L << 20) ^ (1L << 45)),
      (102L, spread(11L)),
      (103L, spread(11L) ^ (1L << 14) ^ (1L << 30) ^ (1L << 40) ^ (1L << 60)),
      (104L, spread(23L)), (105L, spread(23L) ^ (1L << 55)))
    val all = base ++ planted
    val want = (for {
      (a, ha) <- all; (b, hb) <- all; if a < b
      d = java.lang.Long.bitCount(ha ^ hb); if d <= 4
    } yield (a, b) -> d).toMap
    assert(want.exists(_._2 > 0), "fixture lost its planted near-pairs")
    val got = graft.operators.Dedup
      .hammingNearDup(all.toDF("id", "h"), "id", "h", maxDist = 4,
        maxBandDf = 10)
      .as[(Long, Long, Int)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(got == want, "level-2 routing changed the result")
  }

  test("hamming level-2 escalation: dense sub-band refused loudly") {
    // the verdict-item-3 shape: every hash shares 40+ low bits, so a
    // level-1 band AND its level-2 sub-bands are all identical — with
    // a small cap the two-level pigeonhole cannot bound the key width
    // and the operator must REFUSE with the measured density, never
    // silently revert to an output-quadratic join
    val dense = (0L until 30L).map { id =>
      // distinct hashes differing only in bits [58, 63)
      (id, (id % 31) << 58)
    }
    val ex = intercept[Exception] {
      graft.operators.Dedup.hammingNearDup(
        dense.toDF("id", "h"), "id", "h", maxDist = 4, maxBandDf = 3)
        .count()
    }
    val msg = ex.getMessage +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("level-2 sub-band"),
      s"expected the escalation guard, got: $msg")
  }

  test("incremental hamming guard: exact at a forcing cap; geometry mismatch refused") {
    import graft.operators.BandIndexStore
    def mkHash(id: Long): Long = {
      if (id % 5 == 0) 0x1111111111111L // flat block → hot bands
      else {
        var h = 0L
        (0 until 63).foreach { i =>
          if (((id / 4) * 23 + i * 11) % 6 == 0) h |= 1L << i
        }
        h ^ (1L << (id % 63).toInt)
      }
    }
    val corpus = (0L until 50L).map(id => (id, mkHash(id)))
    val batch = (50L until 80L).map(id => (id, mkHash(id)))
    val path = java.nio.file.Files
      .createTempDirectory("fpidx_guard").toString
    try {
      BandIndexStore.writeBands(
        Dedup.hammingBands(corpus.toDF("id", "h"), "id", "h", 4), path)
      val index = BandIndexStore.read(spark, path)
      val want = (for {
        (b, hb) <- batch; (c, hc) <- corpus
        if java.lang.Long.bitCount(hb ^ hc) <= 4
      } yield (b, c)).toSet
      // candidate SUPERSET must hold at every cap, with and without
      // the corpus hash table
      val chs = Seq(None, Some(corpus.toDF("id", "h")))
      for (cap <- Seq(1L, 100000L); ch <- chs) {
        val cands = Dedup.incrementalHammingCandidates(
          batch.toDF("id", "h"), "id", "h", index, maxDist = 4,
          corpusHashes = ch, maxBandDf = cap)
          .as[(Long, Long)].collect().toSet
        want.foreach(p =>
          assert(cands.contains(p), s"cap=$cap ch=${ch.isDefined}: missed $p"))
      }
      // an INCOMPLETE corpus hash table must not lose recall: ids
      // missing from it fall back to the direct route (review fix)
      val partial = Some(corpus.filter(_._1 % 3 != 0).toDF("id", "h"))
      val candsPartial = Dedup.incrementalHammingCandidates(
        batch.toDF("id", "h"), "id", "h", index, maxDist = 4,
        corpusHashes = partial, maxBandDf = 1)
        .as[(Long, Long)].collect().toSet
      want.foreach(p =>
        assert(candsPartial.contains(p), s"partial-ch: missed $p"))
      // duplicate (id, hash) batch rows still yield DISTINCT pairs
      val dupBatch = (batch ++ batch.take(10)).toDF("id", "h")
      val candsDup = Dedup.incrementalHammingCandidates(
        dupBatch, "id", "h", index, maxDist = 4)
        .as[(Long, Long)].collect()
      assert(candsDup.length == candsDup.distinct.length,
        "duplicate batch rows produced duplicate candidates")
      // probing with the wrong maxDist is refused loudly, not empty
      val ex = intercept[IllegalArgumentException] {
        Dedup.incrementalHammingCandidates(
          batch.toDF("id", "h"), "id", "h", index, maxDist = 3).count()
      }
      assert(ex.getMessage.contains("banded with maxDist 4"))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(path))
  }

  test("WHT rotation: exact driver parity, dot preservation, involution") {
    import graft.functions.VectorFunctions.quantize
    import graft.expressions.VectorExpressions.whtRotateN
    val n = 16
    val signs = IndexedSeq.tabulate(n)(i =>
      if ((i * 37 + 11) % 3 == 0) -1L else 1L)
    def wht(x: Array[Long]): Array[Long] = {
      val v = x.clone()
      var h = 1
      while (h < n) {
        (0 until n).foreach { i =>
          if ((i & h) == 0) {
            val a = v(i); val b = v(i | h)
            v(i) = a + b; v(i | h) = a - b
          }
        }
        h <<= 1
      }
      v
    }
    val raw = (1L to 4L).map(id =>
      (id, (0 until n).map(d =>
        math.sin(id * 0.7 + d * 1.3).toFloat).toSeq))
    val rotated = raw.toDF("id", "vec")
      .select($"id", whtRotateN(quantize($"vec"), signs).as("r"))
      .as[(Long, Seq[Long])].collect().toMap
    val q = raw.map { case (id, v) =>
      id -> v.map(x => math.round(x.toDouble * 1000)).toArray
    }.toMap
    // exact parity with the driver-side recomputation
    raw.foreach { case (id, _) =>
      val want = wht(q(id).indices.map(i => q(id)(i) * signs(i)).toArray)
      assert(rotated(id) == want.toSeq, s"id $id")
    }
    // orthogonality: ⟨Hx, Hy⟩ = n·⟨x, y⟩ exactly (signs square away)
    val (a, b) = (q(1L), q(2L))
    val dotPlain = a.indices.map(i => a(i) * b(i)).sum
    val dotRot = rotated(1L).zip(rotated(2L)).map(p => p._1 * p._2).sum
    assert(dotRot == n * dotPlain)
    // involution: H(Hx) = n·x (before the sign diagonal)
    val hx = wht(q(1L))
    assert(wht(hx).toSeq == q(1L).map(_ * n).toSeq)
    // a non-power-of-two or mismatched dimension fails loudly
    intercept[Exception] {
      graft.expressions.WhtRotateExpr(null, IndexedSeq(1L, 1L, 1L))
    }
    val e = intercept[Exception] {
      Seq((1L, Seq(0.1f, 0.2f))).toDF("id", "vec")
        .select(whtRotateN(quantize($"vec"), signs)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("rotation dim")))
  }

  test("rotated PQ spreads skewed energy and recovers true neighbors") {
    import graft.functions.VectorFunctions.quantize
    import graft.expressions.VectorExpressions.whtRotateN
    import graft.operators.Similarity
    val n = 64
    val signs = IndexedSeq.tabulate(n)(i =>
      if ((i * 37 + 11) % 3 == 0) -1L else 1L)
    // THE OPQ fact, stated exactly: a vector with all energy in the
    // first PQ subspace (dims 0..7) rotates to one with energy in
    // EVERY subspace — plain PQ would quantize 7 of 8 subspaces of
    // the original to a constant, discarding nothing but paying m-1
    // useless codes; after rotation every code discriminates
    val skewed = (0 until n).map(d =>
      if (d < 8) (0.3f + 0.1f * d) else 0.0f).toSeq
    val rot = Seq((1L, skewed)).toDF("id", "vec")
      .select(whtRotateN(quantize($"vec"), signs))
      .as[Seq[Long]].head()
    (0 until 8).foreach { s =>
      val slice = rot.slice(s * 8, s * 8 + 8)
      assert(slice.exists(_ != 0L), s"subspace $s has no energy")
    }
    // and the rotated pipeline recovers true top-1s end to end on a
    // well-conditioned corpus (hash-spread vectors, dense codebook)
    val raw = (1L to 120L).map { id =>
      (id, (0 until n).map(d =>
        (((id * 2654435761L + d * 40503L) % 2001L) - 1000L).toFloat
          / 1000.0f).toSeq)
    }
    val df = raw.toDF("id", "vec")
    val got = Similarity.rotatedPqTopK(
      df.where($"id" < 4), df, k = 3, signs, centroidEvery = 2)
      .select($"qid", $"nid", $"rank").as[(Long, Long, Int)].collect()
    assert(got.length == 9)
    val q = raw.map { case (id, v) =>
      id -> v.map(x => math.round(x.toDouble * 1000)).toArray
    }.toMap
    val hits = (1L to 3L).count { qid =>
      val best = q.collect { case (nid, v) if nid != qid =>
        nid -> q(qid).indices.map(d => q(qid)(d) * v(d)).sum
      }.toSeq.maxBy(t => (t._2, -t._1))._1
      got.exists(t => t._1 == qid && t._2 == best)
    }
    assert(hits >= 2, s"rotated-PQ recall(top1 in top3) $hits/3")
  }

  test("BPE engine on a degenerate corpus returns every doc (oracle parity)") {
    // corpus collapses to 1-token docs before `rounds` runs out: the
    // merge table stops growing and apply still reports ALL docs —
    // the engine side of the oracle's LEFT JOIN fallback
    val docs = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeMerges(docs, "text", rounds = 4)
      .as[(Int, String, String, String, Long)].collect()
    assert(merges.toSeq == Seq((1, "a", "b", "a+b", 2L)))
    val applied = TextAnalysis.bpeApply(docs, "doc_id", "text", rounds = 4)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(applied.toSeq == Seq((1L, 2L, 1L), (2L, 2L, 1L)))
  }
}
