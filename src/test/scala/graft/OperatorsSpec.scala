package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.classic.ClassicUpdate
import graft.model.{OsmMember, OsmNode, OsmRelation, OsmWay}
import graft.operators.{Dedup, Expire, Middle, Similarity, Update}
import graft.sources.OsmXml.OsmDataFrames
import graft.sources.Validate

/** Operator semantics on tiny OSM-shaped fixtures (the Spark analog of
  * the reference's test-middle / test-expire / forward-dependency
  * coverage). */
class OperatorsSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val nodes = Seq(
    OsmNode(1, lon = 0, lat = 0), OsmNode(2, lon = 1, lat = 0),
    OsmNode(3, lon = 1, lat = 1), OsmNode(4, lon = 0, lat = 1),
    OsmNode(5, lon = 5, lat = 5)).toDF()

  private lazy val ways = Seq(
    OsmWay(10, nodes = Seq(1, 2, 3)),
    OsmWay(11, nodes = Seq(3, 4)),
    OsmWay(12, nodes = Seq(5, 5))).toDF()

  private lazy val rels = Seq(
    OsmRelation(20, members = Seq(OsmMember("w", 10, "outer"),
      OsmMember("w", 11, "inner"), OsmMember("n", 5, ""))),
    OsmRelation(21, members = Seq(OsmMember("w", 12, ""),
      OsmMember("w", 99, "")))).toDF()

  test("resolveWayNodes keeps node order, drops missing refs") {
    val r = Middle.resolveWayNodes(ways, "id", "nodes",
      nodes.select($"id".as("nid"), $"lon", $"lat"), "nid", Seq("lon", "lat"))
    val m = r.select($"id", transform($"resolved",
        x => x.getField("lon")).as("lons"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(m(10L) == Seq(0.0, 1.0, 1.0))
    assert(m(11L) == Seq(1.0, 0.0))
    assert(m(12L) == Seq(5.0, 5.0)) // duplicate refs resolve twice
  }

  test("parentsOfNodes finds containing ways (semi-join)") {
    val changed = Seq(3L).toDF("cid")
    val p = Middle.parentsOfNodes(ways, "id", "nodes", changed, "cid")
      .as[Long].collect().toSet
    assert(p == Set(10L, 11L))
  }

  test("parentsOfMembers filters by member type") {
    val p = Middle.parentsOfMembers(rels, "id", "members", "w",
      Seq(11L).toDF("cid"), "cid", typeField = "mtype")
      .as[Long].collect().toSet
    assert(p == Set(20L))
    val pn = Middle.parentsOfMembers(rels, "id", "members", "n",
      Seq(5L).toDF("cid"), "cid", typeField = "mtype")
      .as[Long].collect().toSet
    assert(pn == Set(20L))
  }

  test("resolveRelationMembers counts found vs referenced") {
    val r = Middle.resolveRelationMembers(rels, "id", "members", "w",
      ways.select($"id".as("wid")), "wid", Nil, typeField = "mtype")
    val m = r.select($"id", $"n_referenced", $"n_found")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(m(20L) == ((2L, 2L)))
    assert(m(21L) == ((2L, 1L))) // way 99 missing — still OK
  }

  test("dependency closure: changed node -> pending ways -> pending rels") {
    // the append's closure, on a change that holds node 4 only
    val closure = ClassicUpdate.closure(OsmDataFrames(nodes, ways, rels),
      OsmDataFrames(nodes.where($"id" === 4), Seq.empty[OsmWay].toDF(),
        Seq.empty[OsmRelation].toDF()))
    def ids(kind: String): Set[Long] =
      closure.where($"kind" === kind).select("id").as[Long].collect().toSet
    assert(ids("w") == Set(11L))
    assert(ids("r") == Set(20L))
  }

  test("latest-version-wins + op classification") {
    val changes = Seq(
      (100L, 1, true), (100L, 2, true), (100L, 3, false),
      (200L, 1, true)).toDF("oid", "version", "visible")
    val latest = Update.withOp(
      Update.latestVersion(changes, "oid", "version"), "visible", "version")
    val m = latest.select($"oid", $"version", $"op")
      .as[(Long, Int, String)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(m(100L) == ((3, "delete")))
    assert(m(200L) == ((1, "create")))
  }

  test("k-way merge keeps highest (version, priority) per id") {
    val f1 = Seq((1L, 1, "a"), (2L, 1, "b")).toDF("id", "version", "v")
      .withColumn("prio", lit(1))
    val f2 = Seq((1L, 2, "a2"), (2L, 1, "b2")).toDF("id", "version", "v")
      .withColumn("prio", lit(2))
    val merged = Validate.mergeFiles(Seq(f1, f2), "id", "version", "prio")
    val m = merged.select($"id", $"v").as[(Long, String)].collect().toMap
    assert(m == Map(1L -> "a2", 2L -> "b2"))
  }

  test("oversized relations dropped at the reference's 32767 cap") {
    val big = OsmRelation(30,
      members = (1 to 32768).map(i => OsmMember("n", i.toLong, "")))
    val ok = OsmRelation(31, members = Seq(OsmMember("n", 1, "")))
    val out = Validate.dropOversizeRelations(Seq(big, ok).toDF())
      .select("id").as[Long].collect().toSet
    assert(out == Set(31L))
  }

  test("expire: point cover + rollup dedups parents") {
    val pts = Seq((0.05, 0.05), (0.06, 0.06), (90.0, 45.0))
      .toDF("lon", "lat")
    val cover = Expire.pointCover(pts, $"lon", $"lat", 14)
    val tiles = cover.select($"x", $"y")
    val rolled = Expire.rollup(tiles, "x", "y", 14, 12)
    val byZoom = rolled.groupBy($"zoom").count()
      .as[(Int, Long)].collect().toMap
    assert(byZoom(14) == cover.count())
    assert(byZoom(12) <= byZoom(14))
    val formatted = Expire.formatTiles(rolled).as[String].collect()
    assert(formatted.forall(_.matches("\\d+/\\d+/\\d+")))
  }

  test("LSH top-k recovers most brute-force neighbors (recall)") {
    val dim = 16
    val rng = new scala.util.Random(7)
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat).toSeq)
    }.toDF("id", "vec")
    val queries = vecs.where($"id" < 5)
    val brute = Similarity.bruteForceTopK(queries, vecs, 5)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(queries, vecs, 5, planes = 12, bands = 6,
      dim = dim).select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }

  test("IVF top-k recovers most brute-force neighbors (recall)") {
    val dim = 16
    val rng = new scala.util.Random(11)
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat).toSeq)
    }.toDF("id", "vec")
    val queries = vecs.where($"id" < 5)
    val brute = Similarity.quantizedTopK(queries, vecs, 5)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    // 20 sampled centroids, probe 4 → ~1/5 of the corpus scored
    val ivf = Similarity.ivfTopK(queries, vecs, 5,
      nprobe = 4, centroidEvery = 10)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.4, s"IVF recall too low: $recall")
    // every IVF neighbor must be a real corpus vector in a probed cell
    assert(ivf.forall { case (q, n) => q != n && n >= 0 && n < 200 })
  }

  test("k-means-refined IVF: centroids move, recall stays competitive") {
    val dim = 16
    val rng = new scala.util.Random(11)
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat).toSeq)
    }.toDF("id", "vec")
    val queries = vecs.where($"id" < 5)
    val refined = Similarity.kmeansCentroids(vecs, every = 10, iters = 2)
    val cents = refined.select($"cid", $"cvec")
      .as[(Long, Seq[Double])].collect()
    assert(cents.nonEmpty && cents.length <= 20)
    // a Lloyd mean is an average of members — not any input vector
    val originals = vecs.where($"id" % 10 === 0)
      .select($"vec").as[Seq[Float]].collect()
      .map(_.map(_.toDouble)).toSet
    assert(cents.exists(c => !originals.contains(c._2)))

    val brute = Similarity.bruteForceTopK(queries, vecs, 5)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopKWith(queries, vecs, refined, 5, nprobe = 4)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.4, s"refined-IVF recall too low: $recall")
  }

  test("PQ top-k: exact on centroid-coincident vectors, sane recall") {
    val dim = 16
    val rng = new scala.util.Random(13)
    // 200 vectors; every 10th donates its subvectors to the codebooks,
    // so any vector EQUAL to a sampled one encodes losslessly
    val raw = (0 until 200).map { i =>
      if (i == 77) null // replaced below with a copy of vector 10
      else (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat).toSeq)
    }
    val v10 = raw(10)._2
    val vecs = raw.updated(77, (77L, v10)).toDF("id", "vec")
    val queries = vecs.where($"id" < 5 || $"id" === 77)
    val pq = Similarity.pqTopK(queries, vecs, 5, m = 4, centroidEvery = 10)
      .select($"qid", $"nid", $"rank").as[(Long, Long, Int)].collect()
    // 77 encodes exactly like 10 (codes point at 10's own codebook
    // entries, so its ADC score is the full |v10|²); top hit for this
    // fixed seed
    assert(pq.filter(_._1 == 77L).minBy(_._3)._2 == 10L)
    val brute = Similarity.quantizedTopK(queries.where($"id" < 5), vecs, 5)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val pqSet = pq.filter(_._1 < 5).map(t => (t._1, t._2)).toSet
    val recall = (brute & pqSet).size.toDouble / brute.size
    // ADC with 20-entry codebooks over Gaussian noise is coarse; the
    // structural guarantee (lossless on codebook members) is above
    assert(recall >= 0.2, s"PQ recall too low: $recall")
  }

  test("winnowing fingerprints block shared runs together") {
    // winnow guarantee: any shared token run of ≥ w+k-1 (= 6) tokens
    // yields at least one shared fingerprint
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "completely different words here except alpha beta gamma delta epsilon zeta"),
      (3L, "nothing in common with anybody at all whatsoever"))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text")
      .as[(Long, Int, String)].collect().map(t => t._1 -> t._3).toMap
    assert(fps.size == 3)
    // digests differ (docs differ) but the underlying selections share
    // a hash — check via the raw kernel
    val raw = docs.select($"doc_id",
      graft.expressions.VectorExpressions
        .winnowFpsN(graft.functions.TextFunctions.normToks($"text"), 3, 4)
        .as("fps"))
      .as[(Long, Seq[String])].collect().toMap
    assert((raw(1L).toSet & raw(2L).toSet).nonEmpty)
    assert((raw(1L).toSet & raw(3L).toSet).isEmpty)
    // fewer than k tokens → no fingerprints at all
    val tiny = Seq((9L, "one two")).toDF("doc_id", "text")
    assert(Dedup.winnowFingerprints(tiny, "doc_id", "text").count() == 0)
  }

  test("winnow kernel matches the higher-order-function mirror") {
    val rng = new scala.util.Random(3)
    val vocab = Seq("a", "bb", "ccc", "dd", "e", "ff", "g")
    val texts = (1 to 25).map(i =>
      (i.toLong, Seq.fill(rng.nextInt(12) + 3)(
        vocab(rng.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
    val toks = graft.functions.TextFunctions.normToks($"text")
    // HOF mirror of the kernel: md5 3-gram hashes, window-of-4 minima,
    // sorted distinct
    val hashes = transform(sequence(lit(1), size(toks) - 2),
      i => md5(concat_ws(" ", slice(toks, i, lit(3)))))
    val nWin = greatest(size(hashes) - lit(3), lit(1))
    val mirror = array_sort(array_distinct(transform(sequence(lit(1), nWin),
      j => array_min(slice(hashes, j, lit(4))))))
    val r = texts.where(size(toks) >= 3).select(
      graft.expressions.VectorExpressions.winnowFpsN(toks, 3, 4).as("n"),
      mirror.as("m")).as[(Seq[String], Seq[String])].collect()
    r.foreach { case (n, m) => assert(n == m) }
  }

  test("ngram jaccard finds reordered-run near-dups, respects maxDf") {
    val docs = Seq(
      (1L, "spark shuffles data across the cluster during wide joins"),
      (2L, "spark shuffles data across the cluster during wide aggregations"),
      (3L, "ducks swim on ponds quietly every single morning ok"))
      .toDF("doc_id", "text")
    val out = Dedup.ngramJaccard(docs, "doc_id", "text",
      n = 2, threshold = 0.5, maxDf = 100)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)]
      .collect()
    assert(out.map(t => (t._1, t._2)).toSet == Set((1L, 2L)))
    val j = out.head._3
    // 8 bigrams each, 7 shared → 7/9
    assert(math.abs(j - 7.0 / 9.0) < 1e-12)
    // maxDf = 1 drops every shared gram → no pairs at all
    assert(Dedup.ngramJaccard(docs, "doc_id", "text",
      n = 2, threshold = 0.0, maxDf = 1).count() == 0)
  }

  test("centroid numerators: unit square and orientation sign") {
    import graft.functions.GeomColumnFunctions._
    // CCW square (0,0)(2,0)(2,2)(0,2): 2A=8, centroid (1,1) → num6x=24
    val ccw = Seq((Seq(0, 2, 2, 0), Seq(0, 0, 2, 2))).toDF("xs", "ys")
    val r = ccw.select(
      shoelaceSigned2x($"xs", $"ys").as("a2x"),
      centroidNum6x($"xs", $"ys").as("cx6"),
      (-centroidNum6x($"ys", $"xs")).as("cy6"))
      .as[(Long, Long, Long)].head()
    assert(r == ((8L, 24L, 24L)))
    // CW orientation flips every sign; the cx6/(3·a2x) ratio survives
    val cw = Seq((Seq(0, 0, 2, 2), Seq(0, 2, 2, 0))).toDF("xs", "ys")
    val r2 = cw.select(
      shoelaceSigned2x($"xs", $"ys").as("a2x"),
      centroidNum6x($"xs", $"ys").as("cx6"))
      .as[(Long, Long)].head()
    assert(r2 == ((-8L, -24L)))
    assert(r2._2.toDouble / (3 * r2._1) == 1.0)
    // native one-pass kernel == the three HOF column forms
    val rng = new scala.util.Random(13)
    val rings = (1 to 40).map { _ =>
      val n = rng.nextInt(8) + 3
      (Seq.fill(n)(rng.nextInt(2000)), Seq.fill(n)(rng.nextInt(2000)))
    }.toDF("xs", "ys")
    val both = rings.select(
      graft.expressions.GeomExpressions.ringMetricsN($"xs", $"ys").as("m"),
      shoelaceSigned2x($"xs", $"ys").as("a2x"),
      centroidNum6x($"xs", $"ys").as("cx6"),
      (-centroidNum6x($"ys", $"xs")).as("cy6"))
      .select($"m.a2x", $"m.cx6", $"m.cy6", $"a2x", $"cx6", $"cy6")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    both.foreach { case (na, nx, ny, ha, hx, hy) =>
      assert(na == ha && nx == hx && ny == hy)
    }
    // array<long> input (the testdata shape) reads identically
    val asLong = rings.select(
      graft.expressions.GeomExpressions.ringMetricsN(
        $"xs".cast("array<long>"), $"ys".cast("array<long>")).as("m"),
      shoelaceSigned2x($"xs", $"ys").as("a2x"))
      .select($"m.a2x".as("na"), $"a2x")
      .as[(Long, Long)].collect()
    asLong.foreach { case (na, ha) => assert(na == ha) }
  }

  test("bpe token stats split letter/digit/punct runs") {
    val docs = Seq(
      ("en", "Hello, world! 42 times"),
      ("en", "a1b2")).toDF("lang", "text")
    val r = graft.operators.TextAnalysis.bpeTokenStats(docs, "lang", "text")
      .as[(String, Long, Long, Long, Long, Long, Double)].head()
    // doc1: hello , world ! 42 times → 6 bpe = 3 alpha + 1 num + 2 punct
    // doc2: a 1 b 2 → 4 bpe = 2 alpha + 2 num
    assert(r._2 == 2)            // n_docs
    assert(r._3 == 6 + 4)        // total_bpe
    assert(r._4 == 3 + 2)        // total_alpha
    assert(r._5 == 1 + 2)        // total_num
    assert(r._6 == 2)            // total_punct
  }

  test("exact + minhash dedup find planted duplicates") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "a completely different document about spark query engines ok"),
      (4L, "the quick brown fox jumps over the lazy dog again and again maybe"))
      .toDF("doc_id", "text")
    val exact = Dedup.exact(docs, "doc_id", "text")
    assert(exact.where($"n_docs" === 2).count() == 1)
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical docs always collide
    val jac = Dedup.jaccardOnPairs(
      Dedup.minhashCandidatePairs(docs, "doc_id", "text"), docs,
      "doc_id", "text")
    val j12 = jac.where($"id_a" === 1 && $"id_b" === 2)
      .select($"jaccard").as[Double].head()
    assert(j12 == 1.0)
  }

  test("keyword extraction ranks by tf, then rarity, then token") {
    val docs = Seq(
      (1L, "spark spark spark shuffle shuffle common"),
      (2L, "common common unique"),
      (3L, "common"))
      .toDF("doc_id", "text")
    val kw = graft.operators.TextAnalysis.keywords(docs, "doc_id", "text")
      .as[(Long, String, Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._5).map(_._2).toSeq).toMap
    // doc 1: spark(tf=3), shuffle(tf=2), common(tf=1)
    assert(kw(1L) == Seq("spark", "shuffle", "common"))
    // doc 2: common(tf=2), unique(tf=1, df=1)
    assert(kw(2L) == Seq("common", "unique"))
    // doc 3: only one token
    assert(kw(3L) == Seq("common"))
  }

  test("decontamination flags only docs sharing an n-gram run") {
    val bench = Seq((100L, "the capital of france is paris and it is large"))
      .toDF("doc_id", "text")
    val docs = Seq(
      // shares the full 8-gram run (verbatim leak)
      (1L, "quiz answer: the capital of france is paris and it is large ok"),
      // shares 7 tokens only — below the 8-gram bar
      (2L, "the capital of france is paris and nothing else here at all"),
      (3L, "completely unrelated text with plenty of tokens to spare here"))
      .toDF("doc_id", "text")
    val hits = graft.operators.TextAnalysis
      .decontaminate(docs, "doc_id", "text", bench, "text", n = 8)
      .as[(Long, Long)].collect().toMap
    assert(hits.contains(1L) && hits(1L) >= 1L)
    assert(!hits.contains(2L) && !hits.contains(3L))
  }

  test("bloom decontamination: superset of exact, bounded over-flag") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sfDir/documents.parquet").exists())
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val nDocs = docs.count()
    val bench = docs.where($"doc_id" % 37 === 0)
      .select($"text".as("btext"))
    val exact = graft.operators.TextAnalysis
      .decontaminate(docs, "doc_id", "text", bench, "btext", n = 8)
      .as[(Long, Long)].collect().toMap
    val bloom = graft.operators.TextAnalysis
      .decontaminateBloom(docs, "doc_id", "text", bench, "btext", n = 8)
      .as[(Long, Long)].collect().toMap
    // the safety contract: NO false negatives — every truly
    // contaminated doc is flagged with at least its exact hit count
    assert(exact.nonEmpty)
    exact.foreach { case (id, hits) =>
      assert(bloom.getOrElse(id, 0L) >= hits, s"doc $id under-flagged")
    }
    // over-flagging stays near the sketch's fp floor (~1e-4/gram):
    // allow a few percent of docs, not a wholesale drop
    val extra = bloom.keySet -- exact.keySet
    assert(extra.size <= math.max(2L, nDocs / 20),
      s"${extra.size} over-flagged docs of $nDocs")
  }

  test("bloom decontamination false-positive rate is bounded") {
    val bench = Seq((100L, "the capital of france is paris and it is large"))
      .toDF("doc_id", "text")
    val bloomBytes = graft.operators.TextAnalysis
      .benchmarkBloom(bench, "text", n = 8, fpp = 0.01)
    val hit = graft.operators.TextAnalysis.bloomHitUdf(spark, bloomBytes)
    // 10k grams disjoint from the benchmark's: observed fp rate must
    // stay near fpp (generous 5x bound keeps the test deterministic
    // against an unlucky hash seed)
    val probes = (1 to 10000)
      .map(i => Tuple1(Seq(s"novel gram number $i never in benchmark")))
      .toDF("gs")
    val fps = probes.where(hit($"gs")).count()
    assert(fps <= 500L, s"false-positive count $fps over 10000 probes")
  }

  test("connected components: chains, stars, multiple components") {
    // smallGraphEdges = 0 forces the distributed star rounds; the
    // size-gated union-find fast path must agree on every case
    def cc(edges: (Long, Long)*): Map[Long, Long] = {
      val df = edges.toSeq.toDF("a", "b")
      val stars = Dedup.connectedComponents(df, "a", "b",
        smallGraphEdges = 0L).as[(Long, Long)].collect().toMap
      val fast = Dedup.connectedComponents(df, "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(stars == fast, "fast path must equal star rounds")
      stars
    }

    // a 6-deep chain — the case O(diameter) label propagation crawls
    // through and large-star/small-star collapses in O(log n)
    assert(cc(2L -> 1L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L, 6L -> 7L)
      == (1L to 7L).map(_ -> 1L).toMap)
    // two components + reversed/duplicated/self edges
    assert(cc(10L -> 20L, 20L -> 10L, 20L -> 30L, 30L -> 30L,
      100L -> 200L)
      == Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
        100L -> 100L, 200L -> 100L))
    // a star centered on the largest id
    assert(cc(9L -> 1L, 9L -> 2L, 9L -> 3L)
      == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L))
  }

  test("connected components collapse a 512-node chain (log-round bound)") {
    // worst case for label propagation (diameter 511); the star
    // alternation must finish far under the 50-round cap — this is
    // the property that holds at planet scale
    val edges = (1L until 512L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = Dedup.connectedComponents(edges, "a", "b", maxRounds = 12,
      smallGraphEdges = 0L).as[(Long, Long)].collect()
    assert(labels.length == 512 && labels.forall(_._2 == 1L))
  }

  test("near-dup clusters merge transitive LSH pairs") {
    // LSH bands collide for 1~2 and 2~3 but NOT 1~3 (checked against
    // the salted-md5 scheme offline) — the cluster only closes over
    // {1,2,3} through the transitive edge; d4 is unrelated
    val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lam mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, base),
      (2L, base.replace("beta", "changed2")),
      (3L, base.replace("beta", "changed2").replace("theta", "changed3")),
      (4L, "entirely unrelated content about distributed query planning"))
      .toDF("doc_id", "text")
    val clusters = Dedup.nearDupClusters(docs, "doc_id", "text",
      minJaccard = 0.5).as[(Long, Long)].collect().toMap
    assert(clusters.getOrElse(1L, -1L) == 1L)
    assert(clusters.getOrElse(2L, -1L) == 1L)
    assert(clusters.getOrElse(3L, -1L) == 1L)
    assert(!clusters.contains(4L))
  }
}
