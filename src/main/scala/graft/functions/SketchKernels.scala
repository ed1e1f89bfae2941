package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftops.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd signature kernels for the near-duplicate sketches.
  *
  * The interpreted forms these replace:
  *  - MinHash: `aggregate(hs, array_repeat(P, 64), (acc, h) =>
  *    zip_with(acc, perms, ...))` — every shingle allocates a fresh 64-long
  *    accumulator array and evaluates 64 interpreted lambda closures;
  *  - SimHash: the same fold shape with a counter array per token.
  *
  * Both are inherently straight-line integer loops over one input array, so
  * each becomes a single expression with local `long[]` state: one
  * allocation per ROW (not per element), no closures. Every kernel's loop
  * is written once, as a static `compute`: `nullSafeEval` calls it when
  * Spark evaluates without generated code, and `doGenCode` emits one call
  * of it inside whole-stage codegen, so both paths run the same body.
  * Results are bit-identical to the HOF forms (SketchKernelsSpec, and the
  * q40/q41/q43/q53 oracle hashes).
  */
object SketchKernels {

  /** MinHash signature of a hashed-shingle set: element i is
    * `min over h of (a(i)*h + b(i)) mod p`, i.e. the classic permutation
    * minimum. `hs` must be ARRAY<LONG> with values in [0, p); `a(i)` in
    * [1, p) and `b(i)` in [0, p) guarantee `a*h + b` stays below 2^62 for
    * p <= 2^31, so plain `%` equals `pmod` (all operands non-negative,
    * no overflow). Empty array → all-p signature (same as the fold's seed). */
  def minhashSignature(hs: Column, a: Array[Long], b: Array[Long], p: Long): Column =
    ColumnBridge.column(MinhashSignatureExpr(ColumnBridge.expression(hs), a, b, p))

  /** Membership probe against a serialized `org.apache.spark.util.sketch
    * .BloomFilter` — Catalyst's own `BloomFilterMightContain` (the codegen
    * expression Spark's runtime-filter rewrite injects), exposed for
    * explicit use: `value` must be LONG and the filter must have been
    * built over the same raw long values (`DataFrameStatFunctions
    * .bloomFilter` does exactly that for integral columns). May return
    * false positives, never false negatives — callers re-verify with the
    * real join. */
  def bloomMightContain(bloomBytes: Column, value: Column): Column =
    ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        ColumnBridge.expression(bloomBytes), ColumnBridge.expression(value)))

  /** SimHash of a token-hash multiset: bit k of the result is set iff
    * `sum over h of (bit k of h ? +1 : -1)` is positive. `bits` <= 63;
    * hashes must be non-negative. Empty array → 0. */
  def simhash(hashes: Column, bits: Int): Column =
    ColumnBridge.column(SimhashExpr(ColumnBridge.expression(hashes), bits))

  /** Fused tokenize→md5-hash kernel: whitespace-split the lowercased text,
    * drop empties, hash each token to the 60-bit md5 prefix — one compiled
    * pass per row. Drop-in for `transform(tokens(c), t => hash60(t))`
    * (mod <= 0) and for [[graft.llm.Similarity.hashedShingles]]
    * (mod = P, distinctSorted = true), bit-identical to both: the hash is
    * the value of the first 15 hex chars of md5 = the top 60 bits of the
    * digest, computed from the digest BYTES — no hex string, no substring,
    * no base-16 parse, no interpreted lambda dispatch per token (the HOF
    * forms evaluate `md5 → hex → substr → conv` as four expression nodes
    * per element inside an interpreted lambda). */
  def tokensHash60(text: Column, mod: Long, distinctSorted: Boolean): Column =
    ColumnBridge.column(TokensHash60Expr(ColumnBridge.expression(text), mod, distinctSorted))

  /** Fused char-n-gram bucket kernel: array of `hash60(substr(t, i, n))
    * % mod` over every CODE-POINT position i of `t` — one compiled pass
    * per row, drop-in for the HOF form `transform(sequence(1,
    * length(t) - n + 1), i -> pmod(conv(substring(md5(substring(t, i,
    * n)), 1, 15), 16, 10), mod))`, which evaluates a digest, a hex
    * string, a substring and a base-16 parse as four interpreted
    * expression nodes per POSITION (q191's trigram scoring scan was the
    * suite's slowest query on exactly this shape). hash60 is
    * non-negative, so `%` equals `pmod`. Text shorter than n → empty
    * array. NULL-propagating. */
  def charGramBuckets(text: Column, n: Int, mod: Long): Column =
    ColumnBridge.column(CharGramBucketsExpr(ColumnBridge.expression(text), n, mod))

  /** Fused word-3-gram hash kernel over a TOKEN ARRAY: for each window of
    * three consecutive tokens, hash the space-joined gram to the 60-bit
    * md5 prefix mod `mod`; return the DISTINCT values sorted ascending
    * (< 3 tokens → empty array). Drop-in for the HOF form
    * in SketchKernelsSpec — `array_sort(array_distinct(
    * transform(sequence(1, n-2), i => pmod(hash60(concat_ws(" ", t[i],
    * t[i+1], t[i+2])), mod))))` — which pays an interpreted lambda, a
    * three-way string concat, an md5→hex→substr→base-16-parse chain PLUS
    * a distinct and a sort allocation per ROW; this kernel md5s the three
    * tokens' bytes directly (each token's bytes extracted once per row,
    * not once per gram) in one compiled pass. Bit-identical
    * (spec-asserted over the corpus in SketchKernelsSpec), including
    * concat_ws's null-element skipping. The trigram-postings landing
    * runs this per document, so the per-gram cost is the landing's cost. */
  def wordGram3Hash60(toks: Column, mod: Long): Column =
    ColumnBridge.column(WordGram3Hash60Expr(ColumnBridge.expression(toks), mod))

  /** Fused winnowing kernel: hash every k-CODEPOINT gram of the (already
    * normalized) text to the 60-bit md5 prefix mod `mod`, take the
    * minimum of each w-wide window, return the DISTINCT minima sorted
    * ascending. One compiled pass replaces the HOF chain
    * `array_distinct(transform(seq, j => array_min(slice(transform(seq,
    * i => pmod(hash60(substr(norm,i,k)), p)), j, w))))`, which pays four
    * interpreted nodes per gram plus a slice allocation per window — and
    * which Catalyst will happily SUBSTITUTE wholesale into pushed-down
    * filters (see TextOps.decontaminate). Set-identical to the HOF form
    * (consumers use fps as a set: q54 digests size/min/max, q57 joins);
    * the HOF's first-occurrence order is not preserved. Substrings are
    * taken by CODE POINT, matching Spark's `substr` and DuckDB's
    * `substr` exactly (byte offsets would diverge on multibyte text).
    * NULL-propagating (standard UnaryExpression semantics) — callers
    * that need the HOF's NULL→[] contract coalesce the input to ''
    * (TextOps.winnowFps does). */
  def winnowFps(norm: Column, k: Int, w: Int, mod: Long): Column =
    ColumnBridge.column(WinnowFpsExpr(ColumnBridge.expression(norm), k, w, mod))

  /** Fused sliding-window span-md5 kernel over a TOKEN ARRAY: element
    * k−1 (0-based) is the lowercase md5 HEX of the space-joined window
    * `toks[k..k+w-1]` — bit-identical to the HOF form `transform(
    * sequence(1, n−w+1), k => md5(array_join(slice(toks, k, w), " ")))`
    * (q94/q182's span identity; the hex STRING is part of q94's output
    * schema, so the kernel keeps it), with array_join's null-skipping
    * semantics. The HOF pays a slice allocation, a join allocation and
    * an md5→hex expression chain per POSITION inside an interpreted
    * lambda; this extracts each token's bytes once per row and streams
    * each window through one reused MessageDigest. < w tokens → empty
    * array. */
  def spanMd5s(toks: Column, w: Int): Column =
    ColumnBridge.column(SpanMd5sExpr(ColumnBridge.expression(toks), w))

  /** Compiled 60-bit md5-prefix hash of a STRING — the engine-wide
    * `hash60` identity (`conv(substring(md5(s), 1, 15), 16, 10)` cast to
    * LONG) computed from the digest BYTES: no hex string render, no
    * substring, no base-16 re-parse, and one thread-local MessageDigest
    * instead of a fresh instance per call (Spark's `md5` allocates one
    * per evaluation). Value-identical by construction — the first 15 hex
    * chars of a digest ARE its top 60 bits — and spec-locked against the
    * expression form over the corpus. Used via
    * [[graft.llm.Similarity.hash60]], so every fingerprint/census call
    * site inherits it. */
  def hash60(c: Column): Column =
    ColumnBridge.column(Hash60Expr(ColumnBridge.expression(c)))
}

case class Hash60Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeChecks.one(this, child, StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "hash60"

  override def nullSafeEval(input: Any): Any =
    TokensHash60.hash60(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TokensHash60.hash60($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Hash60Expr =
    copy(child = newChild)
}

/** Loops shared by several kernels below. None takes a function argument:
  * a callback shared by many kernels would see many receiver types at one
  * call site and stop being inlined into the per-element loop. */
private[functions] object GramLoops {
  /** hash60 mod `mod` of every n-CODE-POINT gram of `s`, in position
    * order; fewer than n code points → empty. Grams are cut by code point
    * (Spark `substring` / DuckDB `substr` semantics, not UTF-16 units) and
    * hashed as UTF-8 bytes, exactly what `md5(substring(t, i, n))` hashes. */
  def gramHashes(s: String, n: Int, mod: Long): Array[Long] = {
    val cpStart = new Array[Int](s.codePointCount(0, s.length) + 1)
    var cps = 0
    var ci = 0
    while (ci < s.length) {
      cpStart(cps) = ci
      cps += 1
      ci += Character.charCount(s.codePointAt(ci))
    }
    cpStart(cps) = s.length
    val nGrams = cps - (n - 1)
    if (nGrams <= 0) return Array.emptyLongArray
    val out = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      val bytes = s.substring(cpStart(i), cpStart(i + n))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out(i) = TokensHash60.hash60(bytes) % mod
      i += 1
    }
    out
  }

  /** `a(0 until n)` sorted ascending with duplicates dropped (array_sort ∘
    * array_distinct on non-null longs); `a` itself when nothing is cut. */
  def sortedDistinct(a: Array[Long], n: Int): Array[Long] = {
    java.util.Arrays.sort(a, 0, n)
    var w = math.min(n, 1)
    var r = 1
    while (r < n) {
      if (a(r) != a(w - 1)) { a(w) = a(r); w += 1 }
      r += 1
    }
    if (w == a.length) a else java.util.Arrays.copyOf(a, w)
  }

  /** UTF-8 bytes of each element of a STRING array (null stays null),
    * extracted once per row, not once per window. */
  def elementBytes(arr: ArrayData): Array[Array[Byte]] = {
    val bytes = new Array[Array[Byte]](arr.numElements())
    var i = 0
    while (i < bytes.length) {
      val u = arr.getUTF8String(i)
      bytes(i) = if (u == null) null else u.getBytes
      i += 1
    }
    bytes
  }

  private val Space = Array(' '.toByte)

  /** md5 digest of elements `from until from + w` joined by single spaces,
    * nulls skipped together with their separator: the bytes both
    * `array_join(slice(...), " ")` and `concat_ws(" ", ...)` produce. */
  def joinedMd5(bytes: Array[Array[Byte]], from: Int, w: Int): Array[Byte] = {
    val md = TokensHash60.freshMd5()
    var first = true
    var j = from
    while (j < from + w) {
      val b = bytes(j)
      if (b != null) {
        if (!first) md.update(Space)
        md.update(b)
        first = false
      }
      j += 1
    }
    md.digest()
  }
}

object SpanMd5s {
  private val HexChars = "0123456789abcdef".getBytes

  /** Static entry the generated code calls. */
  def compute(arr: ArrayData, w: Int): ArrayData = {
    val m = arr.numElements() - w + 1
    if (m < 1) return new GenericArrayData(Array.empty[Any])
    val bytes = GramLoops.elementBytes(arr)
    val out = new Array[Any](m)
    var k = 0
    while (k < m) {
      val d = GramLoops.joinedMd5(bytes, k, w)
      val hex = new Array[Byte](32)
      var p = 0
      while (p < 16) {
        hex(2 * p) = HexChars((d(p) >> 4) & 0xf)
        hex(2 * p + 1) = HexChars(d(p) & 0xf)
        p += 1
      }
      out(k) = UTF8String.fromBytes(hex)
      k += 1
    }
    new GenericArrayData(out)
  }
}

case class SpanMd5sExpr(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, "window must be positive")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "span_md5s"

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.one(this, child, ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    SpanMd5s.compute(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, arr => s"graft.functions.SpanMd5s.compute($arr, $w)")

  override protected def withNewChildInternal(newChild: Expression): SpanMd5sExpr =
    copy(child = newChild)
}

case class MinhashSignatureExpr(child: Expression, a: Array[Long], b: Array[Long], p: Long)
    extends UnaryExpression {
  require(a.length == b.length, "permutation constant arrays must align")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.one(this, child, ArrayType(LongType))

  override def nullSafeEval(input: Any): Any =
    MinhashSignatureExpr.compute(input.asInstanceOf[ArrayData], a, b, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("permA", a, "long[]")
    val bRef = ctx.addReferenceObj("permB", b, "long[]")
    defineCodeGen(ctx, ev, hs =>
      s"graft.functions.MinhashSignatureExpr.compute($hs, $aRef, $bRef, ${p}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignatureExpr =
    copy(child = newChild)
}

object MinhashSignatureExpr {
  /** Static entry the generated code calls. */
  def compute(hs: ArrayData, a: Array[Long], b: Array[Long], p: Long): ArrayData = {
    val k = a.length
    val acc = new Array[Long](k)
    java.util.Arrays.fill(acc, p)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < k) {
        val v = (a(j) * h + b(j)) % p
        if (v < acc(j)) acc(j) = v
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(acc)
  }
}

object TokensHash60 {
  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** Top 60 bits of md5(bytes) == value of the first 15 hex chars. */
  def hash60(bytes: Array[Byte]): Long = top60(freshMd5().digest(bytes))

  /** Static entry the generated code calls. Matches Spark semantics piece
    * by piece: UTF8String.toLowerCase (same as the `lower` expression),
    * java.util.regex split on "\s+" with limit -1 (same as `split`),
    * empties dropped (same as the `filter` lambda). */
  def compute(text: UTF8String, mod: Long, distinctSorted: Boolean): ArrayData = {
    val toks = splitPattern.split(text.toLowerCase.toString, -1)
    val out = new Array[Long](toks.length)
    var n = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (!t.isEmpty) {
        val h = hash60(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out(n) = if (mod > 0) h % mod else h
        n += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (distinctSorted) GramLoops.sortedDistinct(out, n)
      else if (n == out.length) out
      else java.util.Arrays.copyOf(out, n))
  }

  private val splitPattern = java.util.regex.Pattern.compile("\\s+")

  /** Reset MD5 instance for sibling kernels in this file (one per thread,
    * never shared across). */
  private[functions] def freshMd5(): java.security.MessageDigest = {
    val md = digests.get()
    md.reset()
    md
  }

  /** Top 60 bits of a 16-byte md5 digest (== first 15 hex chars' value). */
  private[functions] def top60(d: Array[Byte]): Long =
    (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
      ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
}

object WordGram3Hash60 {
  /** Static entry the generated code calls. Matches the HOF chain piece by
    * piece: md5 hashes exactly the UTF-8 bytes `concat_ws(" ", t[i],
    * t[i+1], t[i+2])` would produce (null elements skipped, separator
    * only between present elements), value = top-60-bits mod `mod`, then
    * distinct ascending (array_sort ∘ array_distinct on non-null longs). */
  def compute(arr: ArrayData, mod: Long): ArrayData = {
    val n = arr.numElements()
    if (n < 3) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val bytes = GramLoops.elementBytes(arr)
    val out = new Array[Long](n - 2)
    var j = 0
    while (j < n - 2) {
      val h = TokensHash60.top60(GramLoops.joinedMd5(bytes, j, 3))
      out(j) = if (mod > 0) h % mod else h
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(GramLoops.sortedDistinct(out, out.length))
  }
}

case class WordGram3Hash60Expr(child: Expression, mod: Long)
    extends UnaryExpression {
  require(mod > 0, "modulus must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_gram3_hash60"

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.one(this, child, ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    WordGram3Hash60.compute(input.asInstanceOf[ArrayData], mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, arr => s"graft.functions.WordGram3Hash60.compute($arr, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): WordGram3Hash60Expr =
    copy(child = newChild)
}

object WinnowFps {
  /** Static entry the generated code calls. */
  def compute(norm: UTF8String, k: Int, w: Int, mod: Long): ArrayData = {
    val hs = GramLoops.gramHashes(norm.toString, k, mod)
    val nWins = hs.length - (w - 1)
    if (nWins <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val mins = new Array[Long](nWins)
    var j = 0
    while (j < nWins) {
      var m = hs(j)
      var q = 1
      while (q < w) { if (hs(j + q) < m) m = hs(j + q); q += 1 }
      mins(j) = m
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(GramLoops.sortedDistinct(mins, nWins))
  }
}

object CharGramBuckets {
  /** Static entry the generated code calls. */
  def compute(text: UTF8String, n: Int, mod: Long): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(GramLoops.gramHashes(text.toString, n, mod))
}

case class CharGramBucketsExpr(child: Expression, n: Int, mod: Long)
    extends UnaryExpression {
  require(n > 0 && mod > 0, "gram width and modulus must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "char_gram_buckets"

  override def checkInputDataTypes(): TypeCheckResult = GraftTypeChecks.one(this, child, StringType)

  override def nullSafeEval(input: Any): Any =
    CharGramBuckets.compute(input.asInstanceOf[UTF8String], n, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.CharGramBuckets.compute($s, $n, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): CharGramBucketsExpr =
    copy(child = newChild)
}

case class WinnowFpsExpr(child: Expression, k: Int, w: Int, mod: Long)
    extends UnaryExpression {
  require(k > 0 && w > 0 && mod > 0, "winnow parameters must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override def checkInputDataTypes(): TypeCheckResult = GraftTypeChecks.one(this, child, StringType)

  override def nullSafeEval(input: Any): Any =
    WinnowFps.compute(input.asInstanceOf[UTF8String], k, w, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.WinnowFps.compute($s, $k, $w, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFpsExpr =
    copy(child = newChild)
}

case class TokensHash60Expr(child: Expression, mod: Long, distinctSorted: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "tokens_hash60"

  override def checkInputDataTypes(): TypeCheckResult = GraftTypeChecks.one(this, child, StringType)

  override def nullSafeEval(input: Any): Any =
    TokensHash60.compute(input.asInstanceOf[UTF8String], mod, distinctSorted)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.functions.TokensHash60.compute($s, ${mod}L, $distinctSorted)")

  override protected def withNewChildInternal(newChild: Expression): TokensHash60Expr =
    copy(child = newChild)
}

case class SimhashExpr(child: Expression, bits: Int) extends UnaryExpression {
  require(bits > 0 && bits < 64, s"simhash bits must be in [1, 63], got $bits")

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash"

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.one(this, child, ArrayType(LongType))

  override def nullSafeEval(input: Any): Any =
    SimhashExpr.compute(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, hs => s"graft.functions.SimhashExpr.compute($hs, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SimhashExpr =
    copy(child = newChild)
}

object SimhashExpr {
  /** Static entry the generated code calls. */
  def compute(hs: ArrayData, bits: Int): Long = {
    val counters = new Array[Long](bits)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var k = 0
      while (k < bits) {
        counters(k) += (if (((h >> k) & 1L) != 0L) 1L else -1L)
        k += 1
      }
      i += 1
    }
    var sh = 0L
    var k = 0
    while (k < bits) {
      if (counters(k) > 0) sh |= 1L << k
      k += 1
    }
    sh
  }
}
