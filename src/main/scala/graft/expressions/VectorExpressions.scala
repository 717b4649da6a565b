package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst kernels for the vector/dedup hot path.
  *
  * Spark's higher-order functions (`transform`, `aggregate`,
  * `zip_with`, `array_sort`) are CodegenFallback: every call is
  * interpreted and materializes intermediate arrays. That is fine for
  * a projection evaluated once per row, but the dedup/similarity
  * operators evaluate these kernels once per *pair* (O(N²) in the
  * verification stages), where interpretation overhead dominates the
  * arithmetic by 10-100×. These expressions generate straight-line
  * Java loops over `ArrayData` instead — no intermediate arrays, no
  * closure dispatch — and stay inside whole-stage codegen.
  *
  * Semantics are bit-identical to the Column forms they replace (the
  * DuckDB oracle hash-compare is the proof): quantization reproduces
  * `round(cast(x as double) * scale)` exactly via the same
  * BigDecimal HALF_UP path Spark's Round uses, and the MinHash kernel
  * reproduces `array_min(transform(sh, s -> md5('sN|' || s)))` with
  * unsigned byte-wise digest comparison (== hex-string order, since
  * the hex alphabet is monotone in the nibble value).
  */
object VectorKernels {

  /** exact integer dot product of two long arrays */
  def qdot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  /** double dot product of two double arrays (sequential fold order —
    * same as `aggregate(zip_with(a, b, *), 0d, +)`) */
  def ddot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** SRP bucket keys — see [[graft.expressions.SrpKeysExpr]]. */
  def srpKeys(q: ArrayData, nTables: Int, bits: Int): ArrayData = {
    val dim = q.numElements()
    val keys = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var key = 0L
      var b = 0
      while (b < bits) {
        // stride 64 > max bits, so no (table, bit) pair ever reuses a
        // hyperplane seed (a 16-stride collided for bits > 16 and
        // broke the independent-tables recall formula)
        val h = 2654435761L * (t * 64 + b + 1)
        var dot = 0L
        var i = 0
        while (i < dim) {
          val sgn = if ((h * (i + 7919L)) % 1000003L % 2L == 0L) 1L else -1L
          dot += q.getLong(i) * sgn
          i += 1
        }
        if (dot > 0L) key += (1L << b)
        b += 1
      }
      keys(t) = key
      t += 1
    }
    new GenericArrayData(keys)
  }

  /** float array → quantized long array at `scale`; element rule is
    * exactly Spark's `round(cast(x as double)*scale)` (BigDecimal
    * HALF_UP on the decimal string value) followed by a long cast. */
  def quantize(a: ArrayData, scale: Int): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = a.getFloat(i).toDouble * scale
      out(i) = java.math.BigDecimal
        .valueOf(v)
        .setScale(0, java.math.RoundingMode.HALF_UP)
        .doubleValue()
        .toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  private val HexChars = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = HexChars(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** All `num` MinHash signatures in one pass over the `k`-shingles of
    * a token array: for salt s, min over shingles of
    * md5("s<s>|" ++ shingle), min taken byte-wise unsigned (== hex
    * string order). Returns an empty array when there are no shingles
    * (fewer than k tokens). */
  def minhashSigs(tokens: ArrayData, k: Int, num: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return new GenericArrayData(new Array[Any](0))
    val md = MessageDigest.getInstance("MD5")
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { toks(i) = tokens.getUTF8String(i).getBytes; i += 1 }
    val prefixes = Array.tabulate(num)(s => s"s$s|".getBytes("UTF-8"))
    val mins = new Array[Array[Byte]](num)
    i = 0
    while (i <= n - k) {
      var len = k - 1
      var j = 0
      while (j < k) { len += toks(i + j).length; j += 1 }
      val shingle = new Array[Byte](len)
      var off = 0
      j = 0
      while (j < k) {
        if (j > 0) { shingle(off) = ' '; off += 1 }
        val t = toks(i + j)
        System.arraycopy(t, 0, shingle, off, t.length)
        off += t.length
        j += 1
      }
      var s = 0
      while (s < num) {
        md.reset()
        md.update(prefixes(s))
        md.update(shingle)
        val d = md.digest()
        if (mins(s) == null ||
          java.util.Arrays.compareUnsigned(d, mins(s)) < 0) mins(s) = d
        s += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(d => hex(d): Any))
  }

  /** Word `k`-shingles (space-joined overlapping k-grams), optionally
    * first-occurrence-distinct — one pass, no per-element closure
    * dispatch (the HOF form `transform(sequence(…), i ->
    * concat_ws(slice(…)))` is interpreted and dominated q24's scan).
    * Fewer than k tokens → empty array. */
  def shingles(tokens: ArrayData, k: Int, distinct: Boolean): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return new GenericArrayData(new Array[Any](0))
    val sep = UTF8String.fromString(" ")
    val parts = new Array[UTF8String](k)
    val out = if (distinct) new java.util.LinkedHashSet[UTF8String]() else null
    val outArr = if (distinct) null else new Array[Any](n - k + 1)
    var i = 0
    while (i <= n - k) {
      var j = 0
      while (j < k) { parts(j) = tokens.getUTF8String(i + j); j += 1 }
      val sh = UTF8String.concatWs(sep, parts: _*)
      if (distinct) out.add(sh) else outArr(i) = sh
      i += 1
    }
    if (!distinct) return new GenericArrayData(outArr)
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var o = 0
    while (it.hasNext) { arr(o) = it.next(); o += 1 }
    new GenericArrayData(arr)
  }

  /** Non-overlapping `k`-token windows joined by spaces, last window
    * partial — the chunk/segment unit of cross-document dedup. Same
    * single-pass contract as [[shingles]]. */
  def chunks(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](0))
    val sep = UTF8String.fromString(" ")
    val m = (n + k - 1) / k
    val out = new Array[Any](m)
    var c = 0
    while (c < m) {
      val start = c * k
      val len = math.min(k, n - start)
      val parts = new Array[UTF8String](len)
      var j = 0
      while (j < len) { parts(j) = tokens.getUTF8String(start + j); j += 1 }
      out(c) = UTF8String.concatWs(sep, parts: _*)
      c += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD 2003): hash every
    * word `k`-gram (md5 of the space-joined gram), slide a window of
    * `w` consecutive hashes, select the minimum of each window, return
    * the sorted distinct selection. Guarantees a match for any shared
    * run of ≥ w+k-1 tokens while keeping ~2/(w+1) of the hashes — the
    * rolling-hash document-fingerprint scheme. Fewer than k tokens →
    * empty array; fewer hashes than the window → one whole-array window.
    * Min is byte-wise unsigned digest order (== hex string order). */
  def winnowFps(tokens: ArrayData, k: Int, w: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return new GenericArrayData(new Array[Any](0))
    val md = MessageDigest.getInstance("MD5")
    val nGrams = n - k + 1
    val hashes = new Array[Array[Byte]](nGrams)
    var i = 0
    while (i < nGrams) {
      md.reset()
      var j = 0
      while (j < k) {
        if (j > 0) md.update(' '.toByte)
        md.update(tokens.getUTF8String(i + j).getBytes)
        j += 1
      }
      hashes(i) = md.digest()
      i += 1
    }
    val selected = new java.util.TreeSet[UTF8String]()
    val nWindows = math.max(nGrams - w + 1, 1)
    var s = 0
    while (s < nWindows) {
      var min = hashes(s)
      var j = s + 1
      val end = math.min(s + w, nGrams)
      while (j < end) {
        if (java.util.Arrays.compareUnsigned(hashes(j), min) < 0)
          min = hashes(j)
        j += 1
      }
      selected.add(hex(min))
      s += 1
    }
    val out = new Array[Any](selected.size)
    val it = selected.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** md5 hex of the space-joined sorted distinct token set —
    * `md5(concat_ws(" ", array_sort(array_distinct(tokens))))` in one
    * pass (UTF8String natural order == Spark's binary string order). */
  def sortedTokenFp(tokens: ArrayData): UTF8String = {
    val n = tokens.numElements()
    val set = new java.util.TreeSet[UTF8String]()
    var i = 0
    while (i < n) { set.add(tokens.getUTF8String(i)); i += 1 }
    val md = MessageDigest.getInstance("MD5")
    val it = set.iterator()
    var first = true
    while (it.hasNext) {
      if (!first) md.update(' '.toByte)
      md.update(it.next().getBytes)
      first = false
    }
    hex(md.digest())
  }

  /** Longest common CONTIGUOUS token run between two token arrays —
    * the exact-substring half of fuzzy dedup (a shared 50-token run is
    * verbatim copying even when the Jaccard stays low). Classic
    * suffix-DP with one rolling row: O(|a|·|b|) time, O(|b|) space,
    * paid per CANDIDATE pair only (callers feed the banded LSH set). */
  def lcsTokens(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements(); val m = b.numElements()
    if (n == 0 || m == 0) return 0L
    val bs = new Array[UTF8String](m)
    var j = 0
    while (j < m) { bs(j) = b.getUTF8String(j); j += 1 }
    val row = new Array[Int](m)
    var best = 0
    var i = 0
    while (i < n) {
      val ai = a.getUTF8String(i)
      var diag = 0 // row(j-1) from the previous i
      j = 0
      while (j < m) {
        val cur = row(j)
        row(j) = if (ai.equals(bs(j))) diag + 1 else 0
        if (row(j) > best) best = row(j)
        diag = cur
        j += 1
      }
      i += 1
    }
    best.toLong
  }
}

/** word_counts(tokens, words): occurrence count of each listed word in
  * one pass over the token array (vs one interpreted `filter` scan per
  * word). Lookup is a prebuilt word→slot map, O(tokens) per row. */
case class WordCountsExpr(child: Expression, words: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // word → ALL slots listing it: a word listed twice (e.g. a marker word
  // shared by two families) increments every slot, instead of silently
  // keeping only the last one as a plain put() map would.
  @transient private lazy val slots: java.util.HashMap[UTF8String, Array[Int]] = {
    val m = new java.util.HashMap[UTF8String, Array[Int]]()
    words.zipWithIndex.foreach { case (w, i) =>
      val k = UTF8String.fromString(w)
      val prev = m.get(k)
      m.put(k, if (prev == null) Array(i) else prev :+ i)
    }
    m
  }

  override def nullSafeEval(v: Any): Any = {
    val tokens = v.asInstanceOf[ArrayData]
    val counts = new Array[Int](words.size)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val ss = slots.get(tokens.getUTF8String(i))
      if (ss != null) {
        var j = 0
        while (j < ss.length) { counts(ss(j)) += 1; j += 1 }
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  // eval does one hash probe per token; fresh codegen would buy nothing
  // over the fallback's per-row call here (no inner interpreted lambda)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordCountsExpr", this,
      classOf[WordCountsExpr].getName)
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** qdot(a, b): exact long dot product, codegen'd loop. */
case class QDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.qdot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |long $s = 0L;
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

/** ddot(a, b): double dot product, codegen'd loop. */
case class DDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.ddot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |double $s = 0.0;
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

/** quantize(float array, scale) → long array. */
case class QuantizeExpr(child: Expression, scale: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    VectorKernels.quantize(v.asInstanceOf[ArrayData], scale)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.VectorKernels.quantize($c, $scale)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** minhash_sigs(tokens, k, num) → array of `num` hex signature
  * strings (empty when fewer than k tokens). */
case class MinHashSigsExpr(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    VectorKernels.minhashSigs(v.asInstanceOf[ArrayData], k, numHashes)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.VectorKernels.minhashSigs($c, $k, $numHashes)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** shingles(tokens, k) → space-joined k-grams, optionally distinct. */
case class ShinglesExpr(child: Expression, k: Int, distinct: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    VectorKernels.shingles(v.asInstanceOf[ArrayData], k, distinct)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.VectorKernels.shingles($c, $k, $distinct)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** chunks(tokens, k) → non-overlapping k-token windows (last one
  * partial), space-joined — codegen'd replacement for the
  * transform(sequence)+slice chunker (interpreted HOFs). */
case class ChunksExpr(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    VectorKernels.chunks(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.VectorKernels.chunks($c, $k)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** winnow_fps(tokens, k, w) → sorted distinct window-min k-gram hashes
  * (empty when fewer than k tokens). */
case class WinnowFpsExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  // w <= 0 would make the window count exceed the hash count and read
  // out of bounds inside codegen — reject at plan construction
  require(k >= 1 && w >= 1, s"winnow needs k >= 1 and w >= 1, got k=$k w=$w")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    VectorKernels.winnowFps(v.asInstanceOf[ArrayData], k, w)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.VectorKernels.winnowFps($c, $k, $w)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** lcs_tokens(a, b) → length of the longest common contiguous token
  * run (codegen'd rolling-row DP, [[VectorKernels.lcsTokens]]). */
case class LcsTokensExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.lcsTokens(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.VectorKernels.lcsTokens($a, $b)")
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

/** sorted_token_fp(tokens) → md5 hex of sorted distinct token set. */
/** pq_encode(q) → array of m chosen centroid ids (err=false) or a
  * single total squared-L2 reconstruction error (err=true), against a
  * codebook embedded in the expression — the map-only "apply" half of
  * the PQ train/apply split. The argmin runs over the relative form
  * |c|² − 2a·c (|a|² is constant per subspace) with ties to the
  * lowest centroid id; all-integer, so bit-identical to the
  * relational oracle.
  *
  * @param cids   centroid ids, ascending (shared by all subspaces)
  * @param cb     codebook flattened as (s · |C| + c) · subDim + d
  * @param cb2    per-(s,c) squared norms, flattened s · |C| + c
  */
case class PqEncodeExpr(child: Expression, m: Int, cids: IndexedSeq[Long],
    cb: IndexedSeq[Long], cb2: IndexedSeq[Long], err: Boolean)
    extends UnaryExpression {
  override def dataType: DataType =
    if (err) LongType else ArrayType(LongType, containsNull = false)
  @transient private lazy val cidsArr = cids.toArray
  @transient private lazy val cbArr = cb.toArray
  @transient private lazy val cb2Arr = cb2.toArray
  override def nullSafeEval(v: Any): Any = {
    val q = v.asInstanceOf[ArrayData]
    val nC = cidsArr.length
    val subDim = q.numElements() / m
    val codes = if (err) null else new Array[Long](m)
    var totalErr = 0L
    var s = 0
    while (s < m) {
      val off = s * subDim
      var best = 0
      var bestRel = Long.MaxValue
      var c = 0
      while (c < nC) {
        val cbOff = (s * nC + c) * subDim
        var dot = 0L
        var d = 0
        while (d < subDim) {
          dot += q.getLong(off + d) * cbArr(cbOff + d); d += 1
        }
        val rel = cb2Arr(s * nC + c) - 2L * dot
        if (rel < bestRel) { bestRel = rel; best = c }
        c += 1
      }
      if (err) {
        var a2 = 0L
        var d = 0
        while (d < subDim) {
          val x = q.getLong(off + d); a2 += x * x; d += 1
        }
        totalErr += a2 + bestRel
      } else codes(s) = cidsArr(best)
      s += 1
    }
    if (err) totalErr
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }
  // one per-row call into the compiled kernel (all loops live in the
  // kernel, no interpreted lambda) — same strategy as WordCountsExpr
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncodeExpr", this,
      classOf[PqEncodeExpr].getName)
    val cast = if (err) "(Long)"
      else "(org.apache.spark.sql.catalyst.util.ArrayData)"
    defineCodeGen(ctx, ev, c => s"$cast $ref.nullSafeEval($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** srp_keys(q) → one `bits`-bit bucket key per table: bit b of table
  * t is the sign of the integer dot between q and the deterministic
  * ±1 hyperplane `(2654435761·(64t+b+1)·(i+7919)) mod 1000003 mod 2`.
  * Bit-identical to the nested-HOF Column form it replaces (and to
  * the q78 oracle) — the kernel exists because the HOF form dispatches
  * an interpreted lambda per (table, bit, dim) element, which at
  * nTables·bits·dim ≈ 2k evals/row dominated the arithmetic. */
case class SrpKeysExpr(child: Expression, nTables: Int, bits: Int)
    extends UnaryExpression {
  require(nTables >= 1 && bits >= 1 && bits <= 62,
    s"srp needs nTables >= 1 and 1 <= bits <= 62, got $nTables/$bits")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    VectorKernels.srpKeys(v.asInstanceOf[ArrayData], nTables, bits)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.VectorKernels.srpKeys($c, $nTables, $bits)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

case class SortedTokenFpExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    VectorKernels.sortedTokenFp(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.VectorKernels.sortedTokenFp($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** One-pass application of a LEARNED BPE merge table — the
  * corpus-wide half of sampled tokenizer training
  * (`TextAnalysis.bpeSampledCompression`). Applies each merge in
  * training order as a greedy left-to-right non-overlapping fuse over
  * the token array — exactly the semantics of the training loop's
  * wrapped-string literal replace (`[l][r]` → `[l+r]`), so a kernel
  * apply is bit-equal to replaying the per-round replaces. The win is
  * the pass structure: `rounds` merges cost ONE scan of the corpus
  * (O(merges × doc_len) per row inside whole-stage codegen) instead
  * of one full-corpus map job per round — at a real 32k-merge
  * vocabulary that is 1 job vs 32 000. Merge table is driver-embedded
  * (32k merges ≈ a few MB of literals — same strategy as
  * [[PqEncodeExpr]]'s codebooks). */
case class BpeApplyExpr(child: Expression, lhs: IndexedSeq[String],
    rhs: IndexedSeq[String]) extends UnaryExpression {
  require(lhs.length == rhs.length, "merge table halves must align")
  override def dataType: DataType = ArrayType(StringType, false)
  @transient private lazy val lArr = lhs.map(UTF8String.fromString).toArray
  @transient private lazy val rArr = rhs.map(UTF8String.fromString).toArray
  @transient private lazy val fArr = lhs.zip(rhs)
    .map(p => UTF8String.fromString(s"${p._1}+${p._2}")).toArray
  override def nullSafeEval(v: Any): Any = {
    var toks = v.asInstanceOf[ArrayData]
      .toObjectArray(StringType).asInstanceOf[Array[AnyRef]]
    var m = 0
    while (m < lArr.length) {
      if (toks.length >= 2) {
        val out = new Array[AnyRef](toks.length)
        var i = 0
        var j = 0
        while (i < toks.length) {
          if (i + 1 < toks.length && lArr(m).equals(toks(i)) &&
              rArr(m).equals(toks(i + 1))) {
            out(j) = fArr(m); i += 2
          } else { out(j) = toks(i); i += 1 }
          j += 1
        }
        toks = if (j == toks.length) out else java.util.Arrays
          .copyOf(out, j)
      }
      m += 1
    }
    new GenericArrayData(toks)
  }
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeApplyExpr", this,
      classOf[BpeApplyExpr].getName)
    defineCodeGen(ctx, ev,
      c => s"(org.apache.spark.sql.catalyst.util.ArrayData)" +
        s" $ref.nullSafeEval($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Nearest-centroid assignment against an embedded Lloyd state — the
  * map-only kernel behind every `Similarity.kmeansAssign*` path
  * (batch, store, and streaming). Centroid state is the exact
  * (sum-vector S, count n) pair; the per-centroid integer cost
  * n²·⟨q,q⟩ − 2n·⟨q,S⟩ + ⟨S,S⟩ = ‖n·q − S‖² equals n²·‖q − μ‖², so
  * raw costs of centroids with DIFFERENT member counts are NOT
  * comparable (a small cluster's cost is scaled down — comparing raw
  * costs biases the argmin toward small clusters). The kernel
  * therefore compares the exact rationals cost/n² by 128-bit
  * cross-multiplication (cost_a·n_b² vs cost_b·n_a², both nonnegative
  * 64×64→128 products via Math.multiplyHigh) — the true
  * nearest-exact-mean argmin, no floats, no rounding, ties → smallest
  * cid. Exactness bound: n ≤ 3 037 000 499 (n² must fit int64); at a
  * per-cluster population beyond 3.0e9 raise the seed density so
  * clusters split. ≤centroidCap·dim longs of literals — same
  * embedding strategy as [[PqEncodeExpr]]. */
case class KmeansAssignExpr(child: Expression, cids: IndexedSeq[Long],
    sums: IndexedSeq[Long], ss: IndexedSeq[Long], ns: IndexedSeq[Long])
    extends UnaryExpression {
  require(cids.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
    "centroid ids must be strictly ascending (tie-break contract)")
  override def dataType: DataType = LongType
  @transient private lazy val cidsArr = cids.toArray
  @transient private lazy val sumsArr = sums.toArray
  @transient private lazy val ssArr = ss.toArray
  @transient private lazy val nsArr = ns.toArray
  /** cost_a/n_a² < cost_b/n_b², exactly: cost_a·n_b² < cost_b·n_a²
    * in unsigned 128-bit (all four operands nonnegative int64). */
  private def rationalLess(costA: Long, na2: Long,
      costB: Long, nb2: Long): Boolean = {
    val hiA = Math.multiplyHigh(costA, nb2); val loA = costA * nb2
    val hiB = Math.multiplyHigh(costB, na2); val loB = costB * na2
    hiA < hiB || (hiA == hiB &&
      java.lang.Long.compareUnsigned(loA, loB) < 0)
  }
  override def nullSafeEval(v: Any): Any = {
    val q = v.asInstanceOf[ArrayData]
    val dim = q.numElements()
    var qq = 0L
    var d = 0
    while (d < dim) { val x = q.getLong(d); qq += x * x; d += 1 }
    var bestCost = -1L
    var bestN2 = 1L
    var bestCid = Long.MaxValue
    var c = 0
    while (c < cidsArr.length) {
      val n = nsArr(c)
      val n2 = n * n
      val off = c * dim
      var dot = 0L
      var i = 0
      while (i < dim) { dot += q.getLong(i) * sumsArr(off + i); i += 1 }
      val cost = n2 * qq - 2L * n * dot + ssArr(c)
      // cids are sorted ascending, so on an exact tie the FIRST seen
      // (smallest cid) wins — strict-less keeps it
      if (bestCost < 0L || rationalLess(cost, n2, bestCost, bestN2)) {
        bestCost = cost; bestN2 = n2; bestCid = cidsArr(c)
      }
      c += 1
    }
    bestCid
  }
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kmeansAssignExpr", this,
      classOf[KmeansAssignExpr].getName)
    defineCodeGen(ctx, ev, c => s"(Long) $ref.nullSafeEval($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Sign-flip + Walsh–Hadamard rotation of a quantized vector — the
  * integer-exact OPQ pretransform (FAISS `OPQMatrix`'s cheap cousin,
  * the structured random rotation of Ailon–Chazelle's fast JL /
  * FALCONN's pseudo-random rotations): y = H·D·x with D a ±1
  * diagonal and H the unnormalized Hadamard butterfly. Energy
  * spreads evenly across PQ subspaces — the whole point of OPQ —
  * while every output stays an exact integer (entries of H are ±1;
  * the common √n normalization cancels in ADC rank order), so the
  * q142 oracle reproduces the rotation bit for bit with six SQL
  * butterfly passes. Dimension must be a power of two and match
  * `signs`. */
case class WhtRotateExpr(child: Expression, signs: IndexedSeq[Long])
    extends UnaryExpression {
  require(signs.nonEmpty && (signs.length & (signs.length - 1)) == 0,
    s"dimension ${signs.length} is not a power of two")
  require(signs.forall(s => s == 1L || s == -1L), "signs must be ±1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  @transient private lazy val signsArr = signs.toArray
  override def nullSafeEval(v: Any): Any = {
    val q = v.asInstanceOf[ArrayData]
    val n = q.numElements()
    require(n == signsArr.length,
      s"vector dim $n != rotation dim ${signsArr.length}")
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = q.getLong(i) * signsArr(i); i += 1 }
    var h = 1
    while (h < n) {
      var i0 = 0
      while (i0 < n) {
        if ((i0 & h) == 0) {
          val a = out(i0); val b = out(i0 | h)
          out(i0) = a + b
          out(i0 | h) = a - b
        }
        i0 += 1
      }
      h <<= 1
    }
    new GenericArrayData(out)
  }
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("whtRotateExpr", this,
      classOf[WhtRotateExpr].getName)
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Argmax-cosine assignment of a quantized vector against ≤256
  * embedded IVF centroids — the map-only kernel behind the streaming
  * IVF-SQ8 ingest ([[graft.operators.VectorStore.encodeFrozenSq8]]).
  * Reproduces the batch assignment's struct-max BIT FOR BIT: the
  * score is the same double `dot.toDouble / (sqrt(qq) · cn)` with the
  * stored centroid norm `cn`, and an exact score tie keeps the
  * smallest cid (cids ascending, strict-greater comparison). Same
  * literal-embedding strategy as [[KmeansAssignExpr]]: cvs is the
  * flattened centroid matrix, ≤centroidCap·dim longs. */
case class IvfAssignExpr(child: Expression, cids: IndexedSeq[Long],
    cvs: IndexedSeq[Long], cns: IndexedSeq[Double])
    extends UnaryExpression {
  require(cids.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
    "centroid ids must be strictly ascending (tie-break contract)")
  require(cids.nonEmpty && cns.length == cids.length &&
    cvs.length % cids.length == 0, "ragged centroid state")
  require(cns.forall(_ > 0),
    "zero-norm centroid has no cosine cell (degenerate coarse sample)")
  override def dataType: DataType = LongType
  @transient private lazy val cidsArr = cids.toArray
  @transient private lazy val cvsArr = cvs.toArray
  @transient private lazy val cnsArr = cns.toArray
  override def nullSafeEval(v: Any): Any = {
    val q = v.asInstanceOf[ArrayData]
    val dim = q.numElements()
    require(cvsArr.length == cidsArr.length * dim,
      s"vector dim $dim != stored centroid dim " +
        s"${cvsArr.length / cidsArr.length}")
    var qq = 0L
    var d = 0
    while (d < dim) { val x = q.getLong(d); qq += x * x; d += 1 }
    // a zero-norm vector has no cosine cell: the batch assignment's
    // ANSI double division throws on it, so the frozen kernel must
    // refuse too — `NaN > x` being always false would otherwise park
    // the row silently in a sentinel cell no probe ever reads
    require(qq != 0L, "zero-norm vector has no cosine cell")
    val nn = java.lang.Math.sqrt(qq.toDouble)
    var bestCos = Double.NegativeInfinity
    var bestCid = Long.MaxValue
    var c = 0
    while (c < cidsArr.length) {
      val off = c * dim
      var dot = 0L
      var i = 0
      while (i < dim) { dot += q.getLong(i) * cvsArr(off + i); i += 1 }
      val cos = dot.toDouble / (nn * cnsArr(c))
      // ascending cids: strict-greater keeps the smallest on a tie
      if (cos > bestCos) { bestCos = cos; bestCid = cidsArr(c) }
      c += 1
    }
    bestCid
  }
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfAssignExpr", this,
      classOf[IvfAssignExpr].getName)
    defineCodeGen(ctx, ev, c => s"(Long) $ref.nullSafeEval($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object VectorExpressions {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  def qdotN(a: Column, b: Column): Column =
    column(QDotExpr(expression(a), expression(b)))
  def ddotN(a: Column, b: Column): Column =
    column(DDotExpr(expression(a), expression(b)))
  def quantizeN(a: Column, scale: Int): Column =
    column(QuantizeExpr(expression(a), scale))
  def minhashSigsN(tokens: Column, k: Int, num: Int): Column =
    column(MinHashSigsExpr(expression(tokens), k, num))
  def sortedTokenFpN(tokens: Column): Column =
    column(SortedTokenFpExpr(expression(tokens)))
  def wordCountsN(tokens: Column, words: Seq[String]): Column =
    column(WordCountsExpr(expression(tokens), words))
  def winnowFpsN(tokens: Column, k: Int, w: Int): Column =
    column(WinnowFpsExpr(expression(tokens), k, w))
  def shinglesN(tokens: Column, k: Int, distinct: Boolean = false): Column =
    column(ShinglesExpr(expression(tokens), k, distinct))
  def chunksN(tokens: Column, k: Int): Column =
    column(ChunksExpr(expression(tokens), k))
  def lcsTokensN(a: Column, b: Column): Column =
    column(LcsTokensExpr(expression(a), expression(b)))
  def pqEncodeN(q: Column, m: Int, cids: IndexedSeq[Long],
      cb: IndexedSeq[Long], cb2: IndexedSeq[Long],
      err: Boolean = false): Column =
    column(PqEncodeExpr(expression(q), m, cids, cb, cb2, err))
  def srpKeysN(q: Column, nTables: Int, bits: Int): Column =
    column(SrpKeysExpr(expression(q), nTables, bits))
  def bpeApplyN(tokens: Column, lhs: IndexedSeq[String],
      rhs: IndexedSeq[String]): Column =
    column(BpeApplyExpr(expression(tokens), lhs, rhs))
  def kmeansAssignN(q: Column, cids: IndexedSeq[Long],
      sums: IndexedSeq[Long], ss: IndexedSeq[Long],
      ns: IndexedSeq[Long]): Column =
    column(KmeansAssignExpr(expression(q), cids, sums, ss, ns))
  def ivfAssignN(q: Column, cids: IndexedSeq[Long],
      cvs: IndexedSeq[Long], cns: IndexedSeq[Double]): Column =
    column(IvfAssignExpr(expression(q), cids, cvs, cns))
  def whtRotateN(q: Column, signs: IndexedSeq[Long]): Column =
    column(WhtRotateExpr(expression(q), signs))
}
