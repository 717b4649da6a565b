package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** The persisted vector store: one coarse quantizer and one cell
  * [[VectorStore.Codec]] — the FAISS `index_factory` composition
  * `IVF{n},{Flat|PQm|SQ8}` (IVFADC: Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011). A
  * production similarity-search pipeline trains the quantizers once,
  * assigns the corpus once, and then serves probe batches against the
  * stored cells without re-scanning the corpus. The public faces are
  * [[IvfIndexStore]] (Flat), [[IvfPqIndexStore]] (PQ),
  * [[IvfSqIndexStore]] (SQ8) and [[SqIndexStore]] (SQ8 with no coarse
  * quantizer); [[Similarity.ivfTopK]] / [[Similarity.pqTopK]] are the
  * in-plan forms they are bit-equal to (spec'd).
  *
  * Layout, under the [[VersionedStore]] crash-safe protocol (a reader
  * serves the highest version carrying `_COMMITTED`, so an interrupted
  * write is invisible; reader-safe GC keeps the superseded version):
  *   - `v=N/centroids` — (cid, cv, cn): the capped deterministic
  *     centroid sample (id % centroidEvery == 0, lowest centroidCap
  *     ids), quantized vectors + norms;
  *   - `v=N/cells/cell=K/` — the codec payload of every vector whose
  *     argmax-cosine centroid is K, one directory per Voronoi cell;
  *   - the codec's trained sidecars (codebook, stats, `params.json`);
  *   - a store with no coarse quantizer keeps one `v=N/codes` table
  *     instead of cells and centroids.
  *
  * The coarse layer is the same for every codec and lives only here:
  * the centroid sample, the argmax assignment, the salted cell write,
  * the probe ranking, the eager probe pin and the pruned cell read.
  * A codec supplies only what differs: its trained sidecars, the cell
  * payload, the per-query columns and the candidate score. Probe cost
  * tracks the probed cells: a batch of Q queries reads the ≤ Q·nprobe
  * probed cell directories, ~nprobe/|C| of the index. */
object VectorStore {

  /** The quantized cosine of two (vector, norm) pairs. */
  private val qcos = (v: Column, n1: Column, v2: Column, n2: Column) =>
    qdot(v, v2).cast("double") / (n1 * n2)

  /** Coarse quantizer parameters: the centroid stride (FAISS's nlist
    * axis: fewer, bigger cells → better recall per probe) and cap. */
  private[operators] final case class Coarse(every: Int, cap: Int) {
    /** The deterministic centroid sample over (nid, q). */
    def sample(base: DataFrame): DataFrame =
      base.where(col("nid") % every === 0)
        .select(col("nid").as("cid"), col("q").as("cv"))
        .orderBy(col("cid")).limit(cap)
        .withColumn("cn", sqrt(qdot(col("cv"), col("cv")).cast("double")))
  }

  /** A codec's write: the cell payload (nid, payload…[, cell]) and
    * the writer of its trained sidecars into a staged version dir. */
  private[operators] final case class Encoded(payload: DataFrame,
      sidecars: String => Unit)

  /** What a cell stores and how a candidate scores. */
  private[operators] sealed trait Codec[S <: Scorer] {
    /** The public store name, for messages. */
    def store(ivf: Boolean): String
    /** Train on the quantized corpus `base` (nid, q) and encode
      * `rows` — its coarse assignment (nid, q, nn, cell), or `base`
      * itself for a store with no coarse quantizer. */
    def encode(base: DataFrame, rows: DataFrame, coarse: Option[Coarse],
        store: String): Encoded
    /** The trained state a probe of the version at `vdir` scores with. */
    def open(spark: SparkSession, vdir: String, store: String): S
  }

  /** A codec's probe side, opened on one served version. */
  private[operators] sealed trait Scorer {
    /** Per-query columns, added to (qid, qv). */
    def prepare(q: DataFrame): DataFrame = q
    /** What each (query, probed centroid) row carries to the cell's
      * candidates, evaluated over the queries × centroids rows. */
    def carried: Seq[Column]
    /** The cell payload columns the score reads. */
    def payload: Seq[Column]
    /** (qid, nid, score) from the candidate pairs (qid, nid,
      * carried…, payload…); `q` is the prepared query frame. */
    def score(pairs: DataFrame, q: DataFrame): DataFrame
  }

  /** Exact vectors: payload (nid, nv, nn), score `cos` = quantized
    * cosine, so the probe is bit-equal to [[Similarity.ivfTopK]]. */
  private[operators] case object Flat extends Codec[Scorer] {
    def store(ivf: Boolean) = "IvfIndexStore"
    def encode(base: DataFrame, rows: DataFrame, coarse: Option[Coarse],
        store: String) =
      Encoded(rows.withColumnRenamed("q", "nv"), _ => ())
    def open(spark: SparkSession, vdir: String, store: String): Scorer =
      FlatScorer
  }

  private object FlatScorer extends Scorer {
    val carried = Seq(col("qv"), col("qn"))
    val payload = Seq(col("nv"), col("nn"))
    def score(pairs: DataFrame, q: DataFrame) = pairs.select(col("qid"),
      col("nid"), qcos(col("qv"), col("qn"), col("nv"), col("nn")).as("cos"))
  }

  /** Product codes scored by the ADC lookup table: payload (nid,
    * codes array<long>), score = ⟨q, reconstruction(codes)⟩ exactly
    * (integer LUT sums, same arithmetic as [[Similarity.pqTopK]]).
    * `codebookEvery` samples the PQ codebook (the fine axis,
    * independent of the coarse stride, as in IVFADC; ≤ 0 = the coarse
    * stride). `byResidual` is FAISS's by_residual: the PQ encodes
    * q − centroid(cell), whose lower variance buys lower quantization
    * error from the same codebook budget. At probe time only `m` is
    * the caller's (≤ 0 = derive it); the rest is read from the store. */
  private[operators] final case class Pq(m: Int = -1,
      codebookSize: Int = 256, codebookEvery: Int = -1,
      byResidual: Boolean = false) extends Codec[PqScorer] {
    def store(ivf: Boolean) = "IvfPqIndexStore"

    def encode(base: DataFrame, rows: DataFrame, coarse: Option[Coarse],
        store: String): Encoded = {
      val c = coarse.getOrElse(sys.error(s"$store needs a coarse quantizer"))
      val cbEvery = if (codebookEvery > 0) codebookEvery else c.every
      val toEncode =
        if (!byResidual) rows
        else rows
          .join(broadcast(c.sample(base)).select(col("cid"), col("cv")),
            rows("cell") === col("cid"))
          .select(col("nid"),
            zip_with(col("q"), col("cv"), (a, b) => a - b).as("q"),
            col("cell"))
      // residual codebooks sample residue class 1, not 0: class 0 IS
      // the centroid set, whose residuals are identically zero — a
      // degenerate codebook that reconstructs every vector to its
      // centroid (spec-asserted via the ADC-error comparison)
      val cbOffset = if (byResidual) 1 else 0
      val ck = Similarity.pqTrain(
        toEncode.select(col("nid").as("id"), col("q")),
        m, cbEvery, codebookSize, cbOffset)
      // the kernel runs after the assignment's collapse, ONCE per
      // vector: encoding before the cross join would let Catalyst
      // inline it into the joined projection and evaluate it |C|
      // times per vector (measured 4× slower at the 20× probe)
      val payload = toEncode.withColumn("codes", graft.expressions
          .VectorExpressions.pqEncodeN(col("q"), m, ck.cids, ck.cb, ck.cb2))
        .drop("q", "nn")
      Encoded(payload, vdir => {
        toEncode.where(col("nid") % cbEvery === cbOffset)
          .select(col("nid").as("id"), col("q"))
          .orderBy(col("id")).limit(codebookSize)
          .coalesce(1).write.mode("overwrite").parquet(s"$vdir/codebook")
        // probes read m and byResidual from here: a probe with a
        // different m would mis-slice the LUT subvectors, and
        // byResidual changes the scoring identity
        VersionedStore.writeText(base.sparkSession, s"$vdir/params.json",
          s"""{"m":$m,"codebookSize":$codebookSize,"centroidEvery":${c.every},"centroidCap":${c.cap},"byResidual":$byResidual}""")
      })
    }

    /** A caller m ≤ 0 derives m from `params.json`; a positive one
      * must match it. A store written before params records existed
      * stays readable with an explicit m; byResidual is then false. */
    def open(spark: SparkSession, vdir: String, store: String): PqScorer = {
      val params = VersionedStore.readTextIfExists(spark, s"$vdir/params.json")
      val stored = params.map(txt => """"m"\s*:\s*(\d+)""".r
        .findFirstMatchIn(txt).map(_.group(1).toInt)
        .getOrElse(sys.error(s"$store: no m in $vdir/params.json")))
      stored match {
        case Some(s) => require(m <= 0 || m == s,
          s"$store: probe m=$m != index m=$s (written at $vdir)")
        case None => require(m > 0, s"$store: $vdir predates " +
          "params.json — pass the m it was written with explicitly")
      }
      PqScorer(vdir, stored.getOrElse(m), params.exists(
        """"byResidual"\s*:\s*true""".r.findFirstIn(_).isDefined))
    }
  }

  private[operators] final case class PqScorer(vdir: String, m: Int,
      byResidual: Boolean) extends Scorer {
    // a residual index scores ⟨q, centroid(cell)⟩ + Σ LUT: the
    // per-(query, cell) constant rides on the probe rows
    val carried = Seq((if (byResidual) qdot(col("qv"), col("cv"))
      else lit(0L)).as("qcdot"))
    val payload = Seq(col("codes"))

    /** (s, cid, sub): the stored codebook's subvectors. */
    def codebook(spark: SparkSession): DataFrame = Similarity.pqSubspaces(
      spark.read.parquet(s"$vdir/codebook"), m, "cid")

    def score(pairs: DataFrame, q: DataFrame): DataFrame = {
      // per-query LUT (tiny, broadcast): (qid, s, code, pdot), the
      // integer dot of query subvector s with codebook entry `code`
      val lut = broadcast(
        Similarity.pqSubspaces(
            q.select(col("qid").as("id"), col("qv").as("q")), m, "qid")
          .join(codebook(q.sparkSession)
            .select(col("s"), col("cid").as("code"), col("sub").as("cv")),
            "s")
          .select(col("qid"), col("s"), col("code"),
            qdot(col("sub"), col("cv")).as("pdot")))
      pairs.select(col("qid"), col("nid"), col("qcdot"),
          posexplode(col("codes")))
        .withColumnRenamed("pos", "s").withColumnRenamed("col", "code")
        .join(lut, Seq("qid", "s", "code"))
        .groupBy(col("qid"), col("nid"))
        // each nid lives in exactly one cell, so qcdot is constant per
        // (qid, nid) group — max() just carries it through the agg
        .agg((sum(col("pdot")) + max(col("qcdot"))).as("score"))
    }
  }

  /** Per-dimension 8-bit codes (FAISS `ScalarQuantizer(QT_8bit)`):
    * payload (nid, codes array<long>), score 255·⟨q, recon(codes)⟩ =
    * `qmin·255 + qdot(qs, codes)` with qs = q∘span, qmin = ⟨q, min⟩ —
    * one per-query constant plus one codegen'd integer dot per
    * candidate, all exact integers (the q132–q135 oracles recompute
    * it in SQL). The ranges are corpus-global (FAISS by_residual =
    * false), so IVF-SQ8 scores are bit-equal to the flat SQ8 scores
    * on shared candidates (spec'd). Sidecars: `stats` (s, mn, span)
    * and `params.json` with the trained dim, against which probes and
    * frozen encodes check their width instead of zip-truncating. */
  private[operators] case object Sq8 extends Codec[Sq8Ranges] {
    def store(ivf: Boolean) = if (ivf) "IvfSqIndexStore" else "SqIndexStore"

    def encode(base: DataFrame, rows: DataFrame, coarse: Option[Coarse],
        store: String): Encoded = {
      // partial aggregation: the shuffle carries dim rows per map
      // partition, never corpus rows; the collect is dim-bounded
      val st = base.select(posexplode(col("q")).as(Seq("s", "x")))
        .groupBy(col("s"))
        .agg(min(col("x")).as("mn"), (max(col("x")) - min(col("x"))).as("span"))
        .orderBy("s").collect()
      require(st.nonEmpty, s"$store: empty corpus")
      val r = Sq8Ranges(store, st.length, st.map(_.getLong(1)),
        st.map(_.getLong(2)))
      Encoded(rows.withColumn("codes", r.encode).drop("q", "nn"), vdir => {
        // the COLLECTED rows, not the stats frame: re-running it would
        // re-scan the corpus (and could diverge from the ranges the
        // codes were encoded with)
        val spark = base.sparkSession
        import spark.implicits._
        st.map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSeq
          .toDF("s", "mn", "span")
          .coalesce(1).write.mode("overwrite").parquet(s"$vdir/stats")
        VersionedStore.writeText(spark, s"$vdir/params.json",
          s"""{"dim":${r.dim},"bits":8}""")
      })
    }

    def open(spark: SparkSession, vdir: String, store: String): Sq8Ranges = {
      val txt = VersionedStore.readText(spark, s"$vdir/params.json", store)
      val dim = """"dim"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toInt)
        .getOrElse(sys.error(s"$store: no dim in $vdir/params.json"))
      val st = spark.read.parquet(s"$vdir/stats").orderBy("s").collect()
      Sq8Ranges(store, dim, st.map(_.getLong(1)), st.map(_.getLong(2)))
    }
  }

  private[operators] final case class Sq8Ranges(store: String, dim: Int,
      mins: Array[Long], spans: Array[Long]) extends Scorer {

    /** The loud width guard over an already-quantized array column. */
    def checked(c: String, what: String): Column =
      when(size(col(c)) === lit(dim), col(c))
        .otherwise(raise_error(concat(
          lit(s"$store: $what dim != stored dim $dim: got "),
          size(col(c)).cast("string"))).cast("array<bigint>"))

    /** The code kernel over the quantized column `q`:
      * code_d = round_half_up(255 · (x_d − min_d) / span_d), computed
      * as (510·(x−min) + span) div (2·span) and clamped to [0, 255].
      * The clamp is a no-op on training data; for vectors encoded
      * later under FROZEN ranges it is the standard drift rule. In-range
      * numerators are non-negative, so Spark's truncating `div` and
      * DuckDB's flooring `//` agree. */
    def encode: Column = {
      val minsSql = mins.mkString("array(", "L,", "L)")
      val spansSql = spans.mkString("array(", "L,", "L)")
      expr(s"""transform(q, (x, i) -> CAST(CASE
         |  WHEN element_at($spansSql, i + 1) = 0 THEN 0
         |  ELSE greatest(0L, least(255L,
         |    ((x - element_at($minsSql, i + 1)) * 510
         |     + element_at($spansSql, i + 1))
         |    div (2 * element_at($spansSql, i + 1)))) END AS BIGINT))"""
        .stripMargin)
    }

    override def prepare(q: DataFrame): DataFrame = q
      .withColumn("qv", checked("qv", "query"))
      .withColumn("qs",
        zip_with(col("qv"), typedlit(spans.toSeq), (a, b) => a * b))
      .withColumn("qmin", qdot(col("qv"), typedlit(mins.toSeq)))
    val carried = Seq(col("qs"), col("qmin"))
    val payload = Seq(col("codes"))
    def score(pairs: DataFrame, q: DataFrame) = pairs.select(col("qid"),
      col("nid"),
      (col("qmin") * 255 + qdot(col("qs"), col("codes"))).as("score"))
  }

  /** Train + assign + encode + store, then commit. One corpus pass
    * for the assignment: the argmax-by-struct is map-side combinable
    * (one compact row per vector leaves the |corpus|×|C| broadcast
    * expansion), then one hash-partitioned write by cell — SALTED by
    * a hash of the vector id into `writeSplits` shards per cell, so a
    * hot Voronoi cell writes through `writeSplits` parallel tasks
    * instead of one. Each (cell, salt) shard is one sorted file;
    * readers only see the cell directory (spec'd: skewed fixture → >1
    * file per hot cell, probe bit-equal). With no coarse quantizer
    * the payload is salted into the one `codes` table.
    *
    * `failpoint` is a test seam: 1 aborts after the artifacts are
    * written but BEFORE the commit marker (the version must stay
    * invisible); 2 aborts AFTER the marker but before superseded
    * versions are cleaned (the new version serves; cleanup resumes on
    * the next write). 0 is the production path. */
  private[operators] def write(corpus: DataFrame, path: String,
      codec: Codec[_], coarse: Option[Coarse], writeSplits: Int,
      failpoint: Int = 0): Unit = {
    val spark = corpus.sparkSession
    val store = codec.store(coarse.isDefined)
    coarse.foreach(c => require(corpus.isEmpty ||
      !corpus.where(col("id") % c.every === 0).isEmpty,
      s"$store: IVF centroid sample is empty (no id % ${c.every} == 0 rows)"))
    val (current, next) = VersionedStore.prepareStage(spark, path)
    val vdir = s"$path/v=$next"

    val base = corpus.select(col("id").as("nid"), quantize(col("vec")).as("q"))
    val cent = coarse.map(_.sample(base))
    val rows = cent.fold(base) { c =>
      base.withColumn("nn", sqrt(qdot(col("q"), col("q")).cast("double")))
        .crossJoin(broadcast(c))
        .select(col("nid"), col("q"), col("nn"),
          struct(qcos(col("q"), col("nn"), col("cv"), col("cn")).as("c"),
            (-col("cid")).as("nc")).as("sc"))
        .groupBy(col("nid"))
        .agg(first(col("q")).as("q"), first(col("nn")).as("nn"),
          max(col("sc")).as("m"))
        .select(col("nid"), col("q"), col("nn"), (-col("m.nc")).as("cell"))
    }
    val enc = codec.encode(base, rows, coarse, store)
    val salted = enc.payload
      .withColumn("salt", pmod(xxhash64(col("nid")), lit(writeSplits)))
    cent match {
      case Some(c) =>
        salted.repartition(col("cell"), col("salt"))
          .sortWithinPartitions("cell", "nid").drop("salt")
          .write.partitionBy("cell").mode("overwrite").parquet(s"$vdir/cells")
        c.select(col("cid"), col("cv"), col("cn"))
          .coalesce(1).write.mode("overwrite").parquet(s"$vdir/centroids")
      case None =>
        salted.repartition(col("salt")).sortWithinPartitions("nid")
          .drop("salt").write.mode("overwrite").parquet(s"$vdir/codes")
    }
    enc.sidecars(vdir)
    if (failpoint == 1) sys.error("failpoint 1: before commit marker")
    VersionedStore.commitMarker(spark, vdir)
    if (failpoint == 2) sys.error("failpoint 2: after commit marker")
    VersionedStore.gcPrevious(spark, path, current)
  }

  /** One probe batch against the served version of a coarse-quantized
    * store: the opened scorer, the prepared queries, the pruned cells
    * scan and the unranked candidates (qid, nid, score). */
  private[operators] final case class Probe[S <: Scorer](scorer: S,
      q: DataFrame, cells: DataFrame, candidates: DataFrame)

  /** Rank the broadcast centroids per query, read ONLY the probed
    * cell partitions, score every (query, candidate) pair in them. */
  private[operators] def probe[S <: Scorer](spark: SparkSession,
      path: String, queries: DataFrame, codec: Codec[S],
      nprobe: Int): Probe[S] = {
    val store = codec.store(ivf = true)
    val vdir = VersionedStore.servingDir(spark, path, store)
    val scorer = codec.open(spark, vdir, store)
    val cent = broadcast(spark.read.parquet(s"$vdir/centroids"))
    val q = scorer.prepare(queries.select(col("id").as("qid"),
        quantize(col("vec")).as("qv")))
      .withColumn("qn", sqrt(qdot(col("qv"), col("qv")).cast("double")))
    val pw = Window.partitionBy(col("qid"))
      .orderBy(col("pcos").desc, col("cid").asc)
    // materialized once (≤ |queries| · nprobe rows): the pruning
    // collect and the cells join would otherwise each re-run the
    // crossJoin + ranking window. Deliberately EAGER: a lazy pin was
    // A/B-measured (family subset bench 12.0 s lazy vs 11.6 s eager) —
    // the barrier job is ~ms on the tiny probe set.
    val probes = q.crossJoin(cent)
      .select(Seq(col("qid"), col("cid"),
        qcos(col("qv"), col("qn"), col("cv"), col("cn")).as("pcos")) ++
        scorer.carried: _*)
      .withColumn("prank", row_number().over(pw))
      .where(col("prank") <= nprobe)
      .drop("pcos", "prank")
      .localCheckpoint()
    // bounded driver list (≤ |queries| · nprobe): the probed cell
    // directories are handed to the reader directly (see
    // VersionedStore.readProbedCells), so only they are listed and
    // scanned
    val probedCells = probes.select(col("cid")).distinct()
      .collect().map(_.getLong(0))
    val cells = VersionedStore
      .readProbedCells(spark, s"$vdir/cells", probedCells)
      .getOrElse(spark.read.parquet(s"$vdir/cells")
        .where(col("cell").cast("long").isInCollection(probedCells)))
      .select(col("nid") +: scorer.payload :+
        col("cell").cast("long").as("cell"): _*)
    // explicit hint: a checkpoint scan carries no size statistics, so
    // without it the bounded probe set can plan as the shuffle side of
    // a sort-merge join, shuffling every probed-cell row
    val pairs = broadcast(probes).join(cells, probes("cid") === cells("cell"))
      .where(col("qid") =!= col("nid"))
    Probe(scorer, q, cells, scorer.score(pairs, q))
  }

  /** The flat SQ8 probe: the broadcast prepared queries against the
    * whole `codes` table. The BroadcastNestedLoopJoin against the
    * bounded query set IS the flat-scan plan (same contract as
    * Similarity's exact scoring, PlanSpec-listed). */
  private[operators] def scanSq8(spark: SparkSession, path: String,
      queries: DataFrame): DataFrame = {
    val store = Sq8.store(ivf = false)
    val vdir = VersionedStore.servingDir(spark, path, store)
    val r = Sq8.open(spark, vdir, store)
    val q = broadcast(r.prepare(queries.select(col("id").as("qid"),
        quantize(col("vec")).as("qv"))).select(col("qid") +: r.carried: _*))
    r.score(spark.read.parquet(s"$vdir/codes").crossJoin(q)
      .where(col("qid") =!= col("nid")), q)
  }

  /** Encode vectors under the FROZEN serving version of an SQ8 store
    * — the ingest half of a train-once store: codes clamp to the
    * frozen ranges and, with `ivf`, the ≤ centroidCap coarse
    * centroids are read once driver-side and embedded in a codegen'd
    * argmax-cosine kernel ([[graft.expressions.IvfAssignExpr]],
    * bit-equal to [[write]]'s struct-max assignment). Stateless
    * per-row projection, NO shuffle — runs identically over a batch
    * frame or a micro-batch stream. Returns (nid, codes[, cell]). */
  private[operators] def encodeFrozenSq8(spark: SparkSession, path: String,
      vectors: DataFrame, ivf: Boolean): DataFrame = {
    val store = Sq8.store(ivf)
    val vdir = VersionedStore.servingDir(spark, path, store)
    val r = Sq8.open(spark, vdir, store)
    val cell = if (!ivf) Nil else {
      val cent = spark.read.parquet(s"$vdir/centroids")
        .select(col("cid"), col("cv"), col("cn")).collect()
        .sortBy(_.getLong(0))
      require(cent.nonEmpty, s"no centroids at $vdir/centroids")
      Seq(graft.expressions.VectorExpressions.ivfAssignN(col("q"),
        cent.map(_.getLong(0)).toIndexedSeq,
        cent.flatMap(_.getSeq[Long](1)).toIndexedSeq,
        cent.map(_.getDouble(2)).toIndexedSeq).as("cell"))
    }
    vectors.select(col("id").as("nid"), quantize(col("vec")).as("q"))
      .withColumn("q", r.checked("q", "vector"))
      .select(Seq(col("nid"), r.encode.as("codes")) ++ cell: _*)
  }

  /** Per-query top-k by `by` desc, nid asc (deterministic ties). */
  private[operators] def topK(df: DataFrame, by: String, k: Int): DataFrame =
    df.withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col(by).desc, col("nid").asc)))
      .where(col("rank") <= k)

  /** IVFADC + exact refine (FAISS `IndexRefineFlat`): the ADC pass
    * shortlists `rerank` candidates per query from the PQ store, then
    * ONLY those are rescored with the exact quantized cosine from a
    * sibling Flat store. Both stores share the deterministic coarse
    * assignment, so the refine reads the same probed cells: the
    * shortlist is semi-joined onto the UNRANKED Flat candidates, and
    * the ranking window sorts ≤ R rows per query. */
  private[operators] def pqRerankFlat(spark: SparkSession, pqPath: String,
      flatPath: String, queries: DataFrame, k: Int, rerank: Int,
      nprobe: Int, m: Int): DataFrame = {
    require(rerank >= k, s"rerank window $rerank must be >= k $k")
    // the two probes are independent until the final semi-join, and
    // each runs a chain of small driver actions (probe pin, pruning
    // collect, store listing) during CONSTRUCTION — build them side by
    // side so their jobs interleave instead of queuing
    val Seq(shortlist, cands) = Par.overlap(spark)(
      () => topK(probe(spark, pqPath, queries, Pq(m = m), nprobe)
        .candidates, "score", rerank).select(col("qid"), col("nid")),
      () => probe(spark, flatPath, queries, Flat, nprobe).candidates)
    topK(cands.join(shortlist, Seq("qid", "nid"), "left_semi"), "cos", k)
  }

  /** Rerank the ADC shortlist by the cosine against the PQ
    * RECONSTRUCTION, from the PQ store alone (FAISS's
    * reconstruction-based refinement). The dot IS the integer ADC
    * score (LUT linearity); ‖recon‖² is the integer sum of the chosen
    * codebook entries' squared norms — one broadcast (s, code, c2)
    * table joined on the shortlist's exploded codes, ≤ R·m rows per
    * query. Absolute codes only: a residual reconstruction adds the
    * centroid and cross terms. */
  private[operators] def pqRerankReconstructed(spark: SparkSession,
      path: String, queries: DataFrame, k: Int, rerank: Int, nprobe: Int,
      m: Int): DataFrame = {
    require(rerank >= k, s"rerank window $rerank must be >= k $k")
    val p = probe(spark, path, queries, Pq(m = m), nprobe)
    require(!p.scorer.byResidual, "probeRerankReconstructed does not " +
      "support a by_residual index; rerank against the flat store instead")
    val shortlist = topK(p.candidates, "score", rerank)
      .select(col("qid"), col("nid"), col("score"))
    val c2 = broadcast(p.scorer.codebook(spark)
      .select(col("s"), col("cid").as("code"),
        qdot(col("sub"), col("sub")).as("c2")))
    // codes live in the pruned cells scan (each nid in exactly one cell)
    val rn2 = p.cells
      .join(shortlist.select(col("nid")).distinct(), Seq("nid"), "left_semi")
      .select(col("nid"), posexplode(col("codes")))
      .withColumnRenamed("pos", "s").withColumnRenamed("col", "code")
      .join(c2, Seq("s", "code"))
      .groupBy(col("nid")).agg(sum(col("c2")).as("rn2"))
    topK(shortlist
      .join(rn2, Seq("nid"))
      .join(p.q.select(col("qid"), col("qn")), Seq("qid"))
      .select(col("qid"), col("nid"), (col("score").cast("double") /
        (col("qn") * sqrt(col("rn2").cast("double")))).as("cos")), "cos", k)
  }

  /** The exact-cosine refine of a bounded (qid, nid) shortlist
    * against the full-precision corpus — ≤ R rescores per query,
    * fetched by semi-join, so full-precision reads never track corpus
    * size. */
  private[operators] def rerankExact(shortlist: DataFrame,
      corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val exact = corpus
      .select(col("id").as("nid"), quantize(col("vec")).as("nv"))
      .join(shortlist, Seq("nid"), "left_semi")
      .withColumn("nn", sqrt(qdot(col("nv"), col("nv")).cast("double")))
    val q = broadcast(queries
      .select(col("id").as("qid"), quantize(col("vec")).as("qv"))
      .withColumn("qn", sqrt(qdot(col("qv"), col("qv")).cast("double"))))
    topK(shortlist
      .join(exact, Seq("nid"))
      .join(q, Seq("qid"))
      .select(col("qid"), col("nid"),
        qcos(col("qv"), col("qn"), col("nv"), col("nn")).as("cos")), "cos", k)
  }
}

/** The one definition every vector store face shares. */
sealed trait VersionedVectors {
  /** The version a reader serves: the highest committed one. */
  private[graft] def currentVersion(spark: SparkSession,
      path: String): Option[Long] =
    VersionedStore.currentVersion(spark, path)
}

/** Persisted IVF index with exact cells — [[VectorStore]] with the
  * Flat codec, the persisted form of [[Similarity.ivfTopK]]: a probe
  * ranks the broadcast centroids per query and reads only the probed
  * cells, scoring by the same quantized cosine, so
  * probe(write(corpus)) is bit-equal to the in-plan route (spec'd). */
object IvfIndexStore extends VersionedVectors {
  import VectorStore._

  def write(corpus: DataFrame, path: String,
      centroidEvery: Int = 25, centroidCap: Int = 256,
      writeSplits: Int = 8): Unit =
    writeWithFailpoint(corpus, path, centroidEvery, centroidCap,
      writeSplits, failpoint = 0)

  /** Test seam: see [[VectorStore.write]]'s `failpoint`. */
  private[graft] def writeWithFailpoint(corpus: DataFrame, path: String,
      centroidEvery: Int, centroidCap: Int, writeSplits: Int,
      failpoint: Int): Unit =
    VectorStore.write(corpus, path, Flat,
      Some(Coarse(centroidEvery, centroidCap)), writeSplits, failpoint)

  /** Top-k (qid, nid, cos, rank) over the probed cells. */
  def probe(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int = 2): DataFrame =
    topK(VectorStore.probe(spark, path, queries, Flat, nprobe).candidates,
      "cos", k)

  /** Incremental SEMANTIC dedup against the persisted index — the
    * SemDeDup keep/drop decision applied to a NEW batch vs the
    * existing corpus (the crawl-ingest shape: the batch's embeddings
    * arrive, the corpus index is already on disk): each batch vector
    * keeps iff its nearest indexed neighbor within the `nprobe` probed
    * cells has quantized cosine < `threshold`. Returns one row per
    * batch vector: (id, nearest_id, cos, kept) — nearest_id/cos null
    * when the probed cells held no candidate (kept). Same recall
    * trade-off as [[Dedup.semanticDedup]]: a twin assigned to an
    * unprobed cell is missed. */
  def dedupProbe(spark: SparkSession, path: String, batch: DataFrame,
      threshold: Double, nprobe: Int = 2): DataFrame = {
    val best = probe(spark, path, batch, k = 1, nprobe)
      .select(col("qid"), col("nid"), col("cos"))
    batch.select(col("id")).join(best, col("id") === col("qid"), "left")
      .select(col("id"), col("nid").as("nearest_id"), col("cos"),
        (col("cos").isNull || col("cos") < threshold).as("kept"))
  }
}

/** IVF-PQ (IVFADC) — [[VectorStore]] with the PQ codec: the coarse
  * quantizer prunes the scan to `nprobe` cells and the probed cells
  * are scored from their m product codes through the ADC lookup
  * table, so the full-precision vectors are never read at query time.
  * Scores are exact integer ADC sums, hash-comparable against the SQL
  * oracle (q124). `centroidEvery` samples the coarse quantizer and
  * `codebookEvery` (default: the same stride) the PQ codebook. */
object IvfPqIndexStore extends VersionedVectors {
  import VectorStore._

  def write(corpus: DataFrame, path: String,
      centroidEvery: Int = 25, centroidCap: Int = 256,
      m: Int = 8, codebookSize: Int = 256,
      writeSplits: Int = 8, codebookEvery: Int = -1,
      byResidual: Boolean = false): Unit =
    VectorStore.write(corpus, path,
      Pq(m, codebookSize, codebookEvery, byResidual),
      Some(Coarse(centroidEvery, centroidCap)), writeSplits)

  /** Top-k (qid, nid, score BIGINT, rank) by ADC score; `m` ≤ 0
    * derives m from the store, a positive m must match it. */
  def probe(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int = 2, m: Int = -1): DataFrame =
    topK(VectorStore.probe(spark, path, queries, Pq(m = m), nprobe)
      .candidates, "score", k)

  /** ADC shortlist of `rerank` per query, rescored by the exact
    * cosine from a sibling [[IvfIndexStore]] over the same corpus:
    * (qid, nid, cos, rank). */
  def probeRerank(spark: SparkSession, pqPath: String, ivfPath: String,
      queries: DataFrame, k: Int, rerank: Int = 20, nprobe: Int = 2,
      m: Int = -1): DataFrame =
    pqRerankFlat(spark, pqPath, ivfPath, queries, k, rerank, nprobe, m)

  /** ADC shortlist reranked by the cosine against the PQ
    * reconstruction — no flat store needed: (qid, nid, cos, rank).
    * Refuses a by_residual index. */
  def probeRerankReconstructed(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, rerank: Int = 20, nprobe: Int = 2,
      m: Int = -1): DataFrame =
    pqRerankReconstructed(spark, path, queries, k, rerank, nprobe, m)
}

/** IVF-SQ8 — [[VectorStore]] with the SQ8 codec, the FAISS
  * `IndexIVFScalarQuantizer(QT_8bit)` tier between exact cells (full
  * IO, full recall) and PQ cells (deepest compression): a probe reads
  * only the probed cells, at 1/4 the bytes of exact cells, and its
  * scores are bit-equal to the flat [[SqIndexStore]]'s on shared
  * candidates (spec'd; the q134 oracle recomputes the route in SQL). */
object IvfSqIndexStore extends VersionedVectors {
  import VectorStore._

  def write(corpus: DataFrame, path: String,
      centroidEvery: Int = 25, centroidCap: Int = 256,
      writeSplits: Int = 8): Unit =
    VectorStore.write(corpus, path, Sq8,
      Some(Coarse(centroidEvery, centroidCap)), writeSplits)

  /** (nid, codes, cell) under the FROZEN serving version (see
    * [[VectorStore.encodeFrozenSq8]]); append the rows under its
    * `cells/cell=K` partitions and the next probe sees them. */
  def encodeFrozen(spark: SparkSession, path: String,
      vectors: DataFrame): DataFrame =
    encodeFrozenSq8(spark, path, vectors, ivf = true)

  /** Top-k (qid, nid, score BIGINT, rank) by 255·⟨q, recon(codes)⟩. */
  def probe(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int = 2): DataFrame =
    topK(VectorStore.probe(spark, path, queries, Sq8, nprobe).candidates,
      "score", k)

  /** SQ8 shortlist of `rerank` per query, rescored by the exact
    * cosine against `corpus`: (qid, nid, cos, rank). */
  def probeRerank(spark: SparkSession, path: String, corpus: DataFrame,
      queries: DataFrame, k: Int, rerank: Int = 20,
      nprobe: Int = 2): DataFrame = {
    require(rerank >= k, s"rerank window $rerank must be >= k $k")
    rerankExact(probe(spark, path, queries, rerank, nprobe)
      .select(col("qid"), col("nid")), corpus, queries, k)
  }
}

/** Flat SQ8 — the SQ8 codec with no coarse quantizer (FAISS
  * `IndexScalarQuantizer(QT_8bit)`): one `v=N/codes` table scanned
  * whole against the broadcast queries, the recall-first tier. */
object SqIndexStore extends VersionedVectors {
  import VectorStore._

  def write(corpus: DataFrame, path: String, writeSplits: Int = 8): Unit =
    VectorStore.write(corpus, path, Sq8, None, writeSplits)

  /** (nid, codes) under the FROZEN serving version (see
    * [[VectorStore.encodeFrozenSq8]]); append the rows to its `codes`
    * table and the next probe sees them. */
  def encodeFrozen(spark: SparkSession, path: String,
      vectors: DataFrame): DataFrame =
    encodeFrozenSq8(spark, path, vectors, ivf = false)

  /** Top-k (qid, nid, score BIGINT, rank) by 255·⟨q, recon(codes)⟩. */
  def probe(spark: SparkSession, path: String, queries: DataFrame,
      k: Int): DataFrame =
    topK(scanSq8(spark, path, queries), "score", k)

  /** SQ8 shortlist of `rerank` per query, rescored by the exact
    * cosine against `corpus`: (qid, nid, cos, rank). */
  def probeRerank(spark: SparkSession, path: String, corpus: DataFrame,
      queries: DataFrame, k: Int, rerank: Int = 20): DataFrame = {
    require(rerank >= k, s"rerank window $rerank must be >= k $k")
    rerankExact(probe(spark, path, queries, rerank)
      .select(col("qid"), col("nid")), corpus, queries, k)
  }
}
