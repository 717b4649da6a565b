package graft

import org.apache.spark.sql.functions._

import graft.operators.{BandIndexStore, Dedup}

/** WIDE (128/256-bit) Hamming fingerprint family: brute-force parity,
  * hot-band level-2 routing, the escalation refusal, and the
  * persisted-index geometry checks extended to hash width. */
class WideHammingSpec extends SparkSpecBase {
  import spark.implicits._

  /** deterministic hash-spread wide fingerprint (memory lesson: no
    * sine fixtures), nWords words, top bit of each word left clear */
  private def spread(id: Long, nWords: Int): Seq[Long] =
    (0 until nWords).map { w =>
      var h = 0L
      (0 until 63).foreach { i =>
        if ((id * 2654435761L + (w * 63 + i) * 40503L) % 1009 % 3 == 0)
          h |= 1L << i
      }
      h
    }

  private def dist(a: Seq[Long], b: Seq[Long]): Int =
    a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum

  private def flip(h: Seq[Long], ps: Int*): Seq[Long] = {
    val words = h.toArray
    ps.foreach(p => words(p / 63) ^= 1L << (p % 63))
    words.toSeq
  }

  test("wide near-dup: brute-force parity at 128 and 256 bits") {
    // nWords = 1 also checks the wide layout against hammingNearDup
    // on the same hashes as `long`
    for (nWords <- Seq(1, 2, 4)) {
      // clusters: groups of 3 share a base, members flip ≤ 4 positions
      val pos = (x: Long) => (x % 120 % (63 * nWords)).toInt
      val rows = (0L until 60L).map { id =>
        val base = spread(id / 3, nWords)
        val h = (id % 3) match {
          case 0 => base
          case 1 => flip(base, pos(id * 7))
          case _ => flip(base, pos(id * 7), pos(id * 13),
            pos(id * 17 + 5), pos(id * 19 + 9))
        }
        (id, h)
      } ++ Seq((200L, spread(0L, nWords)), (201L, spread(0L, nWords)))
      val want = (for {
        (a, ha) <- rows; (b, hb) <- rows; if a < b
        d = dist(ha, hb); if d <= 6
      } yield (a, b) -> d).toMap
      assert(want.nonEmpty && want.exists(_._2 == 0))
      val got = Dedup.hammingNearDupWide(rows.toDF("id", "h"), "id", "h",
          nWords = nWords, maxDist = 6)
        .as[(Long, Long, Int)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      assert(got == want, s"nWords=$nWords")
      if (nWords == 1) {
        val narrow = Dedup.hammingNearDup(
            rows.map { case (id, h) => (id, h.head) }.toDF("id", "h"),
            "id", "h", maxDist = 6)
          .as[(Long, Long, Int)].collect()
          .map(t => (t._1, t._2) -> t._3).toMap
        assert(narrow == got, "nWords=1 differs from hammingNearDup")
      }
    }
  }

  test("wide hot-band level-2 routing: exact under a forcing cap") {
    // all hashes agree on band 0 (its bits zeroed) → band 0 goes hot
    // at cap 8; sub-bands stay scattered; parity must hold exactly
    val nWords = 2
    val zeroBand0 = (h: Seq[Long]) => {
      // maxDist=6, 128 bits → 7 bands, band 0 = bits [0, 18)
      Seq(h.head & ~((1L << 18) - 1), h(1))
    }
    val rows = (0L until 40L).map(id => (id, zeroBand0(spread(id, nWords)))) ++
      Seq((100L, zeroBand0(spread(3L, nWords))),
        (101L, zeroBand0(flip(spread(3L, nWords), 40, 80, 110))))
    val want = (for {
      (a, ha) <- rows; (b, hb) <- rows; if a < b
      d = dist(ha, hb); if d <= 6
    } yield (a, b) -> d).toMap
    assert(want.exists(_._2 > 0), "fixture lost its planted near-pair")
    val got = Dedup.hammingNearDupWide(rows.toDF("id", "h"), "id", "h",
        nWords = nWords, maxDist = 6, maxBandDf = 8)
      .as[(Long, Long, Int)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(got == want, "level-2 routing changed the result")
  }

  test("wide escalation: dense sub-band refused loudly") {
    // every hash shares all but the top few bits of the LAST word —
    // level-1 and level-2 keys both collapse, cap 3 must refuse
    val rows = (0L until 30L).map(id => (id, Seq(0L, (id % 31) << 58)))
    val ex = intercept[Exception] {
      Dedup.hammingNearDupWide(rows.toDF("id", "h"), "id", "h",
        nWords = 2, maxDist = 4, maxBandDf = 3).count()
    }
    val msg = ex.getMessage +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("level-2 sub-band"), s"got: $msg")
  }

  test("wide persisted index: probe recall, geometry refusals") {
    val nWords = 2
    val corpus = (0L until 50L).map { id =>
      (id, if (id % 5 == 0) Seq(0x111111111111L, 0L)
      else flip(spread(id / 4, nWords), (id % 126).toInt))
    }
    val batch = (50L until 80L).map { id =>
      (id, if (id % 7 == 0) Seq(0x111111111111L, 0L)
      else flip(spread(id / 4, nWords), (id % 126).toInt))
    }
    val path = java.nio.file.Files
      .createTempDirectory("widefpidx").toString
    try {
      BandIndexStore.writeBands(
        Dedup.hammingBandsWide(corpus.toDF("id", "h"), "id", "h",
          nWords, maxDist = 5), path)
      val index = BandIndexStore.read(spark, path)
      val want = (for {
        (b, hb) <- batch; (c, hc) <- corpus
        if dist(hb, hc) <= 5
      } yield (b, c)).toSet
      assert(want.nonEmpty)
      // pigeonhole recall at every cap, with and without corpus hashes
      for (cap <- Seq(1L, 100000L);
           ch <- Seq(None, Some(corpus.toDF("id", "h")))) {
        val cands = Dedup.incrementalHammingCandidatesWide(
          batch.toDF("id", "h"), "id", "h", index, nWords, maxDist = 5,
          corpusHashes = ch, maxBandDf = cap)
          .as[(Long, Long)].collect().toSet
        want.foreach(p =>
          assert(cands.contains(p), s"cap=$cap ch=${ch.isDefined}: missed $p"))
      }
      // wrong maxDist → different band count → loud refusal
      val ex1 = intercept[IllegalArgumentException] {
        Dedup.incrementalHammingCandidatesWide(
          batch.toDF("id", "h"), "id", "h", index, nWords, maxDist = 3)
          .count()
      }
      assert(ex1.getMessage.contains("does not match wide probe geometry"))
      // wrong width (nWords=4 → hw256 prefix) → loud refusal
      val batch4 = batch.map { case (id, h) => (id, h ++ Seq(0L, 0L)) }
      val ex2 = intercept[IllegalArgumentException] {
        Dedup.incrementalHammingCandidatesWide(
          batch4.toDF("id", "h"), "id", "h", index, nWords = 4,
          maxDist = 5).count()
      }
      assert(ex2.getMessage.contains("does not match wide probe geometry"))
      // a WIDE index refuses the 64-bit probe API and vice versa
      val ex3 = intercept[IllegalArgumentException] {
        Dedup.incrementalHammingCandidates(
          (50L until 60L).map(id => (id, id * 31L)).toDF("id", "h"),
          "id", "h", index, maxDist = 5).count()
      }
      assert(ex3.getMessage.contains("WIDE fingerprint bands"))
      val path64 = java.nio.file.Files
        .createTempDirectory("fpidx64").toString
      try {
        BandIndexStore.writeBands(
          Dedup.hammingBands(
            (0L until 20L).map(id => (id, id * 131L)).toDF("id", "h"),
            "id", "h", maxDist = 5), path64)
        val idx64 = BandIndexStore.read(spark, path64)
        val ex4 = intercept[IllegalArgumentException] {
          Dedup.incrementalHammingCandidatesWide(
            batch.toDF("id", "h"), "id", "h", idx64, nWords,
            maxDist = 5).count()
        }
        assert(ex4.getMessage.contains("64-bit fingerprint bands"))
        // a MIXED index (wide bands appended into the 64-bit store)
        // is refused by BOTH probe APIs deterministically — each
        // family check is its own bounded lookup, not a single
        // whichever-row-comes-first sample
        BandIndexStore.appendBands(spark, path64,
          Dedup.hammingBandsWide(batch.take(5).toDF("id", "h"),
            "id", "h", nWords, maxDist = 5),
          Seq.empty[Long].toDF("id"))
        val mixed = BandIndexStore.read(spark, path64)
        val exM1 = intercept[IllegalArgumentException] {
          Dedup.incrementalHammingCandidates(
            (50L until 60L).map(id => (id, id * 31L)).toDF("id", "h"),
            "id", "h", mixed, maxDist = 5).count()
        }
        assert(exM1.getMessage.contains("WIDE fingerprint bands"))
        val exM2 = intercept[IllegalArgumentException] {
          Dedup.incrementalHammingCandidatesWide(
            batch.toDF("id", "h"), "id", "h", mixed, nWords,
            maxDist = 5).count()
        }
        assert(exM2.getMessage.contains("64-bit fingerprint bands"))
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(path64))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(path))
  }

  test("wide band keys: geometry in the key, values cover every bit") {
    // flipping ANY single bit of a 128-bit hash changes exactly one
    // band key — the slices tile the whole hash with no gap/overlap
    val h0 = spread(7L, 2)
    val rows = (0 until 126).map(p => (p.toLong + 1, flip(h0, p))) :+
      (0L, h0)
    val bands = Dedup.hammingBandsWide(rows.toDF("id", "h"), "id", "h",
        nWords = 2, maxDist = 6)
      .as[(Long, String)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val base = bands(0L)
    assert(base.forall(_.startsWith("hw128.7.")))
    (1 to 126).foreach { id =>
      val diff = bands(id.toLong).zip(base).count { case (a, b) => a != b }
      assert(diff == 1, s"flip ${id - 1}: $diff band keys changed")
    }
  }
}
