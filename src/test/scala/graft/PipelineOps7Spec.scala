package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** Round-14 additions: the integer linear classifier (q154) and the
  * wide image-dedup cluster composition. */
class PipelineOps7Spec extends SparkSpecBase {
  import spark.implicits._

  test("linearClassify: exact integer scores, argmax, empty-doc tie → class 0") {
    def bucket(f: String): Int = Integer.parseInt(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(f)
        .substring(0, 2), 16)
    def weight(b: Int, c: Int): Long = ((b * 31 + c * 17) % 201) - 100L
    def feats(t: String): Seq[String] = {
      val w = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      w ++ w.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "data data data"),
      (3L, "single"),
      (4L, "  ")) // no tokens → all class scores 0 → tie → class 0
    val got = TextAnalysis.linearClassify(
      docs.toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Int, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    docs.foreach { case (id, t) =>
      val f = feats(t)
      val scores = (0 until 4).map(c => f.map(x => weight(bucket(x), c)).sum)
      val bestScore = scores.max
      val bestClass = scores.indexOf(bestScore) // first max = min class
      assert(got(id) == ((f.size.toLong, bestClass, bestScore)),
        s"doc $id: got ${got(id)}, want (${f.size}, $bestClass, $bestScore)")
    }
    assert(got(4L) == ((0L, 0, 0L)))
  }

  test("cdcChunkDedup: insertion-robust — chunks re-sync after an edit") {
    // a long shared tail after a one-token insertion must still
    // deduplicate: fixed windows would shift every downstream chunk,
    // content-defined boundaries re-sync at the first boundary
    val words = (0 until 400).map(i => s"w${i * 37 % 211}").mkString(" ")
    val docs = Seq(
      (1L, words),
      (2L, "INSERTED " + words), // same text, one token prepended
      (3L, (0 until 50).map(i => s"z$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .cdcChunkDedup(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // doc 1 vs 2: everything after the first boundary is shared —
    // most chunks duplicate despite the offset
    val (n1, d1, t1) = got(1L)
    val (n2, d2, _) = got(2L)
    assert(t1 == 400)
    assert(n1 >= 5, s"expected several chunks, got $n1")
    assert(d1 >= n1 - 2, s"doc 1: only $d1 of $n1 chunks deduplicated")
    assert(d2 >= n2 - 2, s"doc 2: only $d2 of $n2 chunks deduplicated")
    // the unrelated doc shares nothing
    assert(got(3L)._2 == 0L)
    // contrast: FIXED 16-token windows shift — far fewer duplicates
    val fixed = graft.operators.Dedup
      .chunkDedup(docs, "doc_id", "text", chunkTokens = 16)
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> t._3).toMap
    assert(fixed(1L) < d1,
      s"fixed windows (${fixed(1L)} dups) should lose to CDC ($d1)")
  }

  test("imageDedupClustersWide: one row per image, closure clusters") {
    // groups of identical + near wide hashes; brute-force the closure
    def spread(id: Long): Seq[Long] = (0 until 2).map { w =>
      var h = 0L
      (0 until 63).foreach { i =>
        if ((id * 2654435761L + (w * 63 + i) * 40503L) % 1009 % 3 == 0)
          h |= 1L << i
      }
      h
    }
    def flip(h: Seq[Long], p: Int): Seq[Long] = {
      val a = h.toArray; a(p / 63) ^= 1L << (p % 63); a.toSeq
    }
    val rows = (0L until 60L).map { id =>
      val base = spread(id / 4)
      (id, if (id % 4 == 0) base else flip(base, (id % 126).toInt))
    } ++ (100L until 110L).map(id => (id, spread(0L))) // identical block
    def dist(a: Seq[Long], b: Seq[Long]): Int =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    // brute-force union-find over the true pair set
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    for ((a, ha) <- rows; (b, hb) <- rows
         if a < b && dist(ha, hb) <= 4) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val want = rows.map { case (id, _) => id -> find(id) }.toMap
    val got = Dedup.imageDedupClustersWide(rows.toDF("id", "h"), "id",
        "h", nWords = 2, maxDist = 4)
      .as[(Long, Long, Boolean)].collect()
    assert(got.length == rows.size) // exactly one row per image
    got.foreach { case (id, cl, keep) =>
      assert(cl == want(id), s"cluster of $id")
      assert(keep == (id == cl), s"keep of $id")
    }
    // maxDist 0 clusters identical hashes only
    val exact = Dedup.imageDedupClustersWide(
        Seq((1L, Seq(5L, 0L)), (2L, Seq(5L, 0L)), (3L, Seq(9L, 0L)))
          .toDF("id", "h"), "id", "h", nWords = 2, maxDist = 0)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(exact.toSeq ==
      Seq((1L, 1L, true), (2L, 1L, false), (3L, 3L, true)))
  }
}
