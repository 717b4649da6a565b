package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level curation operators beyond the per-document text
  * statistics in [[TextAnalysis]]: cross-document segment
  * deduplication (the C4 "remove duplicated lines across the corpus"
  * pass, re-expressed over word segments), Gopher-style document
  * quality rules, length-bucket packing statistics, and
  * quality-weighted deterministic sampling.
  *
  * Scale notes: segmentDedup is the only shuffling operator here —
  * explode to segments, one hash-aggregate on the segment key (the
  * same shape as exact dedup; partial aggregation halves the shuffle),
  * then one aggregate back on the document key. Everything else is a
  * narrow projection or a single small aggregate, and the sampling
  * predicate is a pure per-row expression (no global pass needed —
  * the weight threshold is a constant, not a corpus max).
  */
object CorpusOps {

  private def toks(textCol: Column): Column =
    split(trim(lower(textCol)), "\\s+")

  /** Non-overlapping `segWords`-word segments of every document —
    * the unit of cross-document dedup (C4 used lines; synthetic
    * corpora have no newlines, so a fixed word window is the
    * deterministic equivalent). */
  private def segments(textCol: Column, segWords: Int): Column =
    // codegen'd non-overlapping window kernel (last window partial) —
    // replaces the interpreted transform(sequence)+slice form
    graft.expressions.VectorExpressions.chunksN(toks(textCol), segWords)

  /** Cross-document duplicated-segment statistics: for every document
    * the number of segments and how many of them also appear in at
    * least one OTHER document. The global segment frequency is one
    * hash aggregate on the segment value. */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      segWords: Int = 10): DataFrame = {
    val segs = df
      .select(col(idCol), explode(segments(col(textCol), segWords))
        .as("seg"))
    val freq = segs.groupBy(col("seg"))
      .agg(countDistinct(col(idCol)).as("n_docs_with_seg"))
    segs.join(freq, "seg")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("n_docs_with_seg") > 1, 1L).otherwise(0L))
          .as("n_dup_segments"))
  }

  /** Gopher-style quality rules (public Gopher paper, table A1
    * shape), over deterministic integer arithmetic so the oracle
    * reproduces every flag exactly:
    * word count bounds, mean word length bounds, minimum stop-word
    * hits, and fraction of purely-alphabetic words. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 20, maxWords: Int = 100000,
      stopWords: Seq[String] = Seq("the", "a", "of", "and", "data"))
      : DataFrame = {
    val w = toks(col(textCol))
    val nWords = size(w).cast("long")
    val totalChars = aggregate(transform(w, t => length(t).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val stopHits = size(filter(w, t => t.isin(stopWords: _*)))
      .cast("long")
    val alphaWords = size(filter(w, t => t.rlike("^[a-z]+$")))
      .cast("long")
    val meanLen = totalChars.cast("double") / nWords.cast("double")
    df.select(
      col(idCol),
      nWords.as("n_words"),
      totalChars.as("n_chars_in_words"),
      stopHits.as("stop_hits"),
      alphaWords.as("alpha_words"),
      (nWords >= minWords && nWords <= maxWords).as("ok_word_count"),
      (meanLen >= 3.0 && meanLen <= 10.0).as("ok_mean_word_len"),
      (stopHits >= 2L).as("ok_stop_words"),
      (alphaWords * 10L >= nWords * 8L).as("ok_alpha_ratio"),
      ((nWords >= minWords && nWords <= maxWords) &&
        (meanLen >= 3.0 && meanLen <= 10.0) &&
        (stopHits >= 2L) &&
        (alphaWords * 10L >= nWords * 8L)).as("pass"))
  }

  /** Packing-efficiency histogram: documents bucketed by the
    * power-of-two ceiling of their token count; per bucket the doc
    * count, true token total, padded total (bucket × docs) and the
    * waste ratio a pad-to-bucket batching strategy would pay. */
  def lengthBuckets(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val n = size(toks(col(textCol))).cast("long")
    val bucket = pow(lit(2.0), ceil(log2(n.cast("double"))))
      .cast("long")
    df.select(greatest(bucket, lit(1L)).as("bucket"), n.as("n"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"))
      .withColumn("padded_tokens", col("bucket") * col("n_docs"))
      .withColumn("waste_ratio",
        lit(1.0) - col("total_tokens").cast("double") /
          col("padded_tokens").cast("double"))
  }

  /** Corpus-wide duplicated n-grams — the memorization-risk scan
    * (public "Deduplicating Training Data" analyses): every
    * `n`-word sliding window, counted by distinct documents and total
    * occurrences; only grams seen in more than one document survive.
    * Top-k by document count with the gram text as the deterministic
    * tiebreak.
    *
    * Scale: explode to sliding windows (bounded fan-out: one row per
    * word), one partial-aggregated hash aggregate on the gram key,
    * then a top-k sort on the (tiny) nd>1 survivor set. */
  def dupNgrams(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, topK: Int = 50): DataFrame = {
    val w = toks(col(textCol))
    // codegen'd n-gram kernel (ShinglesExpr): one straight-line pass,
    // empty for documents shorter than n words. The Column form
    // (transform(sequence)+slice) is CodegenFallback and measured 2×
    // slower at sf0.1 (3.3s vs 1.7s for the 8-gram scan).
    val grams = graft.expressions.VectorExpressions.shinglesN(w, n)
    // two cascaded aggregates instead of count(DISTINCT): the
    // (gram, doc) pre-aggregate avoids the distinct-expand doubling
    // the exploded rows, and the second aggregate reuses the same
    // hash partitioning on the gram key (no extra exchange)
    df.select(col(idCol), explode(grams).as("gram"))
      .groupBy(col("gram"), col(idCol))
      .agg(count(lit(1)).as("occ"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("n_occurrences"))
      .where(col("n_docs") > 1)
      .orderBy(col("n_docs").desc, col("gram"))
      .limit(topK)
  }

  /** Per-document n-gram novelty: of a document's DISTINCT n-grams,
    * how many appear in no other document. High novelty separates
    * fresh text from boilerplate/templated near-duplication — the
    * doc-level complement of [[dupNgrams]]'s corpus-level scan, and a
    * cheap pre-filter before fuzzy dedup. Same cascaded-aggregate
    * shape: the (gram, doc) pre-aggregate bounds every shuffle by the
    * distinct gram-doc pairs; no count(DISTINCT) expand anywhere. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2): DataFrame = {
    val w = toks(col(textCol))
    // codegen'd distinct-n-gram kernel (ShinglesExpr, one pass) —
    // within-doc dedup happens MAP-SIDE, so per-doc totals are a
    // shuffle-free projection and the only gram-cardinality shuffle
    // is the frequency aggregate. A gram with gdf=1 has exactly one
    // owner (min = that doc), so novelty counts reduce to doc
    // cardinality before the final join — nothing gram-sized is ever
    // joined back.
    val grams = graft.expressions.VectorExpressions
      .shinglesN(w, n, distinct = true)
    val docDistinct = (d: DataFrame) => d.select(col(idCol),
      grams.as("g")).where(size(col("g")) > 0)
    val totals = docDistinct(df)
      .select(col(idCol), size(col("g")).cast("long").as("n_grams"))
    val novel = docDistinct(df)
      .select(col(idCol), explode(col("g")).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("gdf"), min(col(idCol)).as("__owner"))
      .where(col("gdf") === 1)
      .groupBy(col("__owner")).agg(count(lit(1)).as("n_novel"))
      .withColumnRenamed("__owner", idCol)
    totals.join(novel, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
  }

  /** Cross-source leakage audit: for every pair of corpus sources,
    * the number of distinct `n`-grams appearing in BOTH — the matrix a
    * curation pipeline reads before deciding which sources double-count
    * content (mirror sites, syndication, benchmark bleed). One
    * (source, gram) distinct pass, then gram → sorted source-set via a
    * single aggregate (set size ≤ |sources|, i.e. tiny), then an
    * in-row pair expansion — the gram frame is never self-joined, so
    * the only gram-cardinality shuffles are the distinct and the
    * aggregate, both with map-side combine. */
  def sourceOverlap(df: DataFrame, srcCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val grams = graft.expressions.VectorExpressions.shinglesN(
      graft.functions.TextFunctions.normToks(col(textCol)), n,
      distinct = true)
    val g = Par.fanOut(df.select(col(srcCol), col(textCol)))
      .select(col(srcCol).as("src"), explode(grams).as("gram"))
      .distinct()
    val srcSets = g.groupBy(col("gram"))
      .agg(sort_array(collect_set(col("src"))).as("srcs"))
      .where(size(col("srcs")) > 1)
    // (srcs[i], srcs[j]) for i<j — bounded by |sources|²/2 per gram
    val pairs = flatten(transform(
      sequence(lit(1), size(col("srcs")) - 1),
      i => transform(slice(col("srcs"), i + 1, size(col("srcs"))),
        b => struct(element_at(col("srcs"), i).as("src_a"),
          b.as("src_b")))))
    srcSets.select(explode(pairs).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Quality-weighted deterministic sampling: a document survives iff
    * the first four hex digits of md5(id) fall below a per-row
    * threshold proportional to its weight column — P(keep) ≈
    * weight / fullWeight, reproducible on any engine with md5 and
    * hex formatting, no global pass over the data. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      fullWeight: Long): DataFrame = {
    // Spark's `/` on longs is a double divide: floor it back to the
    // integer quotient (exact here — the numerator is far from any
    // integer-quotient boundary) so %04x gets a long
    val t = least(lit(65535L),
      floor((col(weightCol).cast("long") * 65536L) / fullWeight)
        .cast("long"))
    df.withColumn("__thresh", format_string("%04x", t))
      .where(substring(md5(col(idCol).cast("string")), 1, 4) <
        col("__thresh"))
      .drop("__thresh")
  }

  /** Overlapping token-window chunking — the RAG/embedding prep step:
    * each document becomes ⌈len/stride⌉ windows of `k` tokens taken
    * every `stride` tokens (the standard sliding-window chunker with
    * overlap k−stride). Emits one narrow row per chunk — 1-based
    * index, token start offset, actual window length (the tail may be
    * short), and the md5 fingerprint of the window text (what a
    * downstream embedder or chunk-level dedup keys on; the text
    * itself is recoverable from (doc, start, len)).
    *
    * Scale: a pure per-row transform + posexplode — map-only, no
    * shuffle anywhere; output rows ≈ tokens/stride. */
  def overlappingChunks(df: DataFrame, idCol: String, textCol: String,
      k: Int = 32, stride: Int = 16): DataFrame = {
    val toks = graft.functions.TextFunctions.normToks(col(textCol))
    val nChunks = ((size(toks) - 1) / stride).cast("int") + 1
    // guard: sequence(1, 0) generates a DESCENDING range, so an empty
    // document must short-circuit to an empty chunk list
    val chunks = when(size(toks) <= 0, array().cast(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)))
      .otherwise(transform(sequence(lit(1), nChunks),
        i => concat_ws(" ", slice(toks, (i - lit(1)) * stride + 1, lit(k)))))
    Par.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"), posexplode(chunks))
      .select(col("doc_id"),
        (col("pos") + 1).as("chunk_idx"),
        (col("pos") * stride + 1).cast("long").as("start_tok"),
        size(graft.functions.TextFunctions.toks(col("col")))
          .cast("long").as("n_chunk_toks"),
        md5(col("col")).as("chunk_fp"))
  }

  /** Within-document repeated-segment removal — the C4-style "drop
    * duplicated spans inside one document" cleanup (navigation blocks,
    * repeated boilerplate paragraphs): the token stream is cut into
    * non-overlapping `k`-token segments (the codegen'd
    * [[graft.expressions.ChunksExpr]] kernel), every repeat of an
    * earlier segment is dropped, and the survivors are rejoined.
    * Returns per document the segment count, how many were removed,
    * and the md5 of the cleaned text (narrow row; the cleaned text
    * column itself is `cleaned`).
    *
    * Scale: pure per-row transform, no shuffle. The first-occurrence
    * filter is O(segments²) per row — segments = tokens/k, so a
    * 10k-token doc at k=8 scans ~1.5M string pairs worst case; bound k
    * accordingly (the cross-corpus form is [[segmentDedup]], which
    * aggregates instead). */
  def dropRepeatedSegments(df: DataFrame, idCol: String,
      textCol: String, k: Int = 8): DataFrame = {
    val toks = graft.functions.TextFunctions.normToks(col(textCol))
    val chunks = graft.expressions.VectorExpressions.chunksN(toks, k)
    val kept = filter(chunks, (c, i) =>
      !array_contains(slice(chunks, lit(1), i), c))
    df.select(col(idCol).as("doc_id"),
        size(chunks).cast("long").as("n_segments"),
        (size(chunks) - size(kept)).cast("long").as("n_removed"),
        concat_ws(" ", kept).as("cleaned"))
      .withColumn("clean_fp", md5(col("cleaned")))
  }

  /** Importance resampling toward a target source mix — the
    * distribution-matching step (think DoReMi-style domain
    * reweighting, resolved by rejection sampling): given per-source
    * target shares in permille, each document survives with
    * probability min(1, target_share / actual_share), decided by the
    * deterministic md5 threshold used by [[weightedSample]]. Sources
    * above their target thin down proportionally; sources at/below
    * their target keep everything EXCEPT ids whose md5 4-hex prefix
    * is exactly "ffff" (~1/65536 of them): the threshold string is
    * capped at "%04x" of 65535 and compared with strict `<`, so the
    * top prefix value can never pass — the documented cost of keeping
    * the filter a pure string compare that any engine reproduces.
    * No RNG, reproducible on any engine.
    *
    * Scale: per-source counts (map-side-combinable) + a 1-row total
    * broadcast (the justified corpus-stats nested loop) + a map-only
    * hash filter. */
  def importanceResample(df: DataFrame, srcCol: String, idCol: String,
      targetPermille: Map[String, Long],
      defaultPermille: Long): DataFrame = {
    val counts = df.groupBy(col(srcCol)).agg(count(lit(1)).as("__c"))
    val total = df.agg(count(lit(1)).as("__n"))
    val tgt = targetPermille.foldLeft(lit(defaultPermille)) {
      case (acc, (k, v)) => when(col(srcCol) === k, lit(v)).otherwise(acc)
    }
    df.join(counts, srcCol)
      .crossJoin(broadcast(total))
      .withColumn("__t", tgt)
      .withColumn("__thresh", format_string("%04x",
        least(lit(65535L), expr("(65536 * __t * __n) div (1000 * __c)"))))
      .where(substring(md5(col(idCol).cast("string")), 1, 4) <
        col("__thresh"))
      .select(col(idCol), col(srcCol))
  }

  /** Per-source dedup-effectiveness report — the audit every dedup
    * pass ships with: for each source, how many documents (and
    * tokens) it contributes, and how many SURVIVE near-dup
    * deduplication. The keeper of a cluster is its smallest doc id
    * (the [[graft.operators.Dedup.nearDupClusters]] canonical), so a
    * cluster spanning two sources counts its survivor in the keeper's
    * source — exactly what happens when the dedup pass runs.
    *
    * Scale: clusters frame = clustered subset; one equi-join back on
    * the id; one map-side-combinable aggregate on the source key. */
  /** Corpus snapshot diff — the data-versioning primitive a pipeline
    * runs between crawls: classify every document id across two
    * snapshots as added / removed / changed / unchanged by content
    * hash. One full-outer equi-join on the id key, both sides reduced
    * to (id, md5) before shuffling — at 100 TB the join moves 48-byte
    * rows, never text; co-partition/bucket both snapshots by id and
    * the exchange disappears entirely. Downstream: `removed` ids feed
    * [[BandIndexStore.append]] tombstones, `added`/`changed` feed its
    * adds — this is the change-detection front of that maintenance
    * loop (the same delete-before-add delta discipline as the OSM
    * middle's change ingest). */
  def corpusDiff(oldSnap: DataFrame, newSnap: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val a = oldSnap.select(col(idCol).cast("long").as("doc_id"),
      md5(col(textCol)).as("h_old"))
    val b = newSnap.select(col(idCol).cast("long").as("doc_id"),
      md5(col(textCol)).as("h_new"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") === col("h_new"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** URL canonicalization — the normalization a crawl pipeline runs
    * BEFORE content dedup (one page, many spellings): lowercases the
    * scheme and host, strips the scheme's default port (443/80),
    * drops the fragment, removes tracking query parameters (utm_*,
    * ref, fbclid, gclid), sorts the remaining parameters, and maps an
    * empty path to "/". Pure per-row string expression — codegen'd,
    * no UDF, no shuffle.
    *
    * URLs the parser cannot anchor — no `scheme://` prefix
    * (scheme-relative `//host/p`, bare `host/p`, malformed strings)
    * or an empty host — pass through VERBATIM as their own canonical
    * value: mapping them all onto one parsed-empty key would make
    * [[urlDedup]] group unrelated documents as duplicates of each
    * other and silently drop all but one. The query is taken from
    * the pre-fragment substring only (a `?` inside the fragment is
    * fragment content, not a query). */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url,
      "^([A-Za-z][A-Za-z0-9+.\\-]*)://", 1))
    val host0 = lower(regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)", 1))
    val host = when(scheme === "https",
        regexp_replace(host0, ":443$", ""))
      .when(scheme === "http", regexp_replace(host0, ":80$", ""))
      .otherwise(host0)
    val path0 = regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)", 1)
    val path = when(path0 === "", lit("/")).otherwise(path0)
    // query = first '?' up to '#', and only BEFORE any '#': the
    // pre-? class excludes both, so 'h/p#a?x=1' has no query
    val q = regexp_extract(url, "^[^#?]*\\?([^#]*)", 1)
    val kept = array_join(array_sort(filter(split(q, "&"), p =>
      !(p.rlike("^(utm_[^=]*|ref|fbclid|gclid)=") || p === ""))), "&")
    val canon = concat(scheme, lit("://"), host, path,
      when(kept === "", lit("")).otherwise(concat(lit("?"), kept)))
    when(scheme === "" || host0 === "", url).otherwise(canon)
  }

  /** URL-level dedup decisions: one row per document with its
    * canonical URL, the size of its canonical group, and `keep` on
    * the group's smallest doc id — O(N) output, like
    * [[Dedup.imageDedupClusters]]. One shuffle on the canonical URL
    * (a partitioned window — never a whole-corpus frame). */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("canonical_url"))
    df.select(col(idCol).as("doc_id"),
        canonicalUrl(col(urlCol)).as("canonical_url"))
      .withColumn("n_same", count(lit(1)).over(w))
      .withColumn("keep", col("doc_id") === min(col("doc_id")).over(w))
  }

  /** Per-host boilerplate segment removal — the CCNet preprocessing
    * step real crawl pipelines run FIRST (before any corpus-global
    * dedup): group text segments by (host, segment), and strip every
    * segment occurring in more than `maxPermille`/1000 of that host's
    * documents (headers, nav bars, cookie banners — content that is
    * boilerplate *for its site* even when globally rare). CCNet used
    * lines; synthetic corpora have no newlines, so the segment unit is
    * the same fixed `segWords`-word window as [[segmentDedup]].
    * `minDocs` keeps single-occurrence segments out on tiny hosts
    * (1/1 = 100% would strip everything a one-document host says).
    *
    * Returns one row per document: (doc_id, host, n_segments,
    * n_removed, cleaned_fp) — cleaned_fp is the md5 of the surviving
    * segments rejoined in order, so a re-run (or another engine)
    * proves the rewrite without shipping text.
    *
    * Scale: two hash aggregates (per-host doc counts — host-sized, it
    * broadcasts; per-(host, segment) frequencies with map-side
    * combine) + one equi-join of the segment rows against the (tiny)
    * boilerplate set + one per-doc ordered reassembly. No pairwise
    * comparisons, no corpus-global state beyond the host aggregates —
    * at 100 TB this shuffles segment-hash-sized rows once. */
  def hostBoilerplateStrip(df: DataFrame, idCol: String, hostCol: String,
      textCol: String, segWords: Int = 10, maxPermille: Long = 500,
      minDocs: Long = 2): DataFrame = {
    val segs = df.select(col(idCol).as("doc_id"), col(hostCol).as("host"),
      posexplode(segments(col(textCol), segWords)).as(Seq("pos", "seg")))
    val hostDocs = df.groupBy(col(hostCol).as("host"))
      .agg(count(lit(1)).as("n_host_docs"))
    // cascaded aggregates, not countDistinct: the (host, seg, doc)
    // dedup happens in the first hash aggregate (map-side combined),
    // the frequency count reuses its partitioning
    val segFreq = segs.select(col("host"), col("seg"), col("doc_id"))
      .distinct()
      .groupBy(col("host"), col("seg"))
      .agg(count(lit(1)).as("n_docs_with_seg"))
    val boiler = segFreq.join(hostDocs, "host")
      .where(col("n_docs_with_seg") >= minDocs &&
        col("n_docs_with_seg") * 1000L > lit(maxPermille) * col("n_host_docs"))
      .select(col("host"), col("seg"))
    // ONE aggregate over the exploded rows carries both the total
    // segment count and the kept reassembly, so each document
    // tokenizes exactly once (a left join with a boiler marker
    // replaces the earlier left_anti + a second segments() pass over
    // df; collect_list skips the nulls the marker introduces)
    val marked = segs.join(boiler.withColumn("__b", lit(true)),
      Seq("host", "seg"), "left")
    val perDoc = marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        count(col("__b")).as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__b").isNull,
            struct(col("pos"), col("seg"))))),
          p => p.getField("seg"))).as("cleaned"))
    df.select(col(idCol).as("doc_id"), col(hostCol).as("host"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("host"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        md5(coalesce(col("cleaned"), lit(""))).as("cleaned_fp"))
  }

  /** HTML→text extraction — the step every real crawl pipeline runs
    * BEFORE any text statistic, quality rule, or dedup pass (and
    * before [[hostBoilerplateStrip]]'s per-host contract):
    *
    *  1. script / style elements and HTML comments are removed WITH
    *     their contents (code and CSS are not text);
    *  2. block-level tags (p, div, br, headings, list items, table
    *     cells, …) become block separators;
    *  3. every remaining tag drops to a space (inline markup keeps
    *     its text);
    *  4. the standard named entities decode (`&amp;` LAST, so
    *     `&amp;lt;` yields the literal text `&lt;` exactly as a
    *     browser renders it);
    *  5. whitespace collapses within each block, empty blocks drop.
    *
    * Returns (doc_id, n_blocks, text) with `text` the surviving
    * blocks joined by newlines — the block structure downstream
    * line/segment-level cleaners key on. Tag-soup robust by
    * construction (regular patterns, no parser state), NOT an HTML5
    * conformance parser — the same trade Trafilatura-class crawl
    * extractors make.
    *
    * Scale: a pure per-row regexp/replace Column chain — codegen'd,
    * no UDF, no shuffle; the block array is bound through its own
    * projection so the chain evaluates once per document. */
  def htmlExtract(df: DataFrame, idCol: String, htmlCol: String)
      : DataFrame = {
    val noScript = regexp_replace(col(htmlCol),
      "(?is)<script\\b[^<>]*>.*?</script[^<>]*>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style\\b[^<>]*>.*?</style[^<>]*>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val blockTags = regexp_replace(noComment,
      "(?i)</?(p|div|br|h[1-6]|li|ul|ol|dl|dt|dd|tr|td|th|table|thead" +
        "|tbody|section|article|aside|nav|main|header|footer|blockquote" +
        "|pre|form|hr)\\b[^<>]*>", "\n")
    val noTags = regexp_replace(blockTags, "<[^<>]*>", " ")
    val decoded =
      replace(replace(replace(replace(replace(replace(replace(noTags,
        lit("&nbsp;"), lit(" ")),
        lit("&quot;"), lit("\"")),
        lit("&#39;"), lit("'")),
        lit("&apos;"), lit("'")),
        lit("&lt;"), lit("<")),
        lit("&gt;"), lit(">")),
        lit("&amp;"), lit("&"))
    val blocks = filter(transform(split(decoded, "\n"),
      b => trim(regexp_replace(b, "\\s+", " "))), b => b =!= "")
    df.select(col(idCol).as("doc_id"), blocks.as("blocks"))
      .select(col("doc_id"),
        size(col("blocks")).cast("long").as("n_blocks"),
        concat_ws("\n", col("blocks")).as("text"))
  }

  def dedupEffectiveness(df: DataFrame, idCol: String, textCol: String,
      srcCol: String, minJaccard: Double = 0.5): DataFrame = {
    val clusters = Dedup.nearDupClusters(df, idCol, textCol, minJaccard)
    val base = df.select(col(idCol).as("doc_id"),
      col(srcCol).as("source"),
      size(graft.functions.TextFunctions.normToks(col(textCol)))
        .cast("long").as("__t"))
    val keep = coalesce(col("cluster_id"), col("doc_id")) === col("doc_id")
    base.join(clusters, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        sum(col("__t")).as("n_tokens"),
        sum(when(keep, col("__t")).otherwise(0L)).as("kept_tokens"))
  }
}
