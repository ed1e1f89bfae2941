package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftops.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row-local text-statistics kernels (q174's digram self-information).
  *
  * Each statistic depends only on the document's own code-point grams, so
  * it is computed in one compiled pass per document (grams keyed into an
  * open-addressed long map) and the query plans no per-gram explode and no
  * (doc, gram) shuffle: q174 is map-only up to its output. The oracle SQL
  * keeps the explode formulation, so its hash gate pins kernel ≡ explode.
  *
  * Digrams are CODE-POINT pairs, matching Spark `substring(t, i, 2)`
  * and DuckDB `substr` character semantics on the same text. */
object TextKernels {

  /** STRUCT<n_digrams BIGINT, ent_units BIGINT>: the doc's digram total
    * and Σ c·(bits(N)−bits(c)) over its digram counts. */
  def digramSelfInfo(c: Column): Column =
    ColumnBridge.column(DigramSelfInfo(ColumnBridge.expression(c)))

  /** ARRAY<STRING>: the doc's top-k code-point TRIGRAMS in rank order
    * (count desc, gram asc — gram order on packed code points equals
    * UTF-8 binary string order, Spark's comparison). The Cavnar-Trenkle
    * document profile as one compiled pass — no per-doc explode, no
    * (doc, gram) shuffle; only k strings per doc leave the map side. */
  def triProfile(c: Column, k: Int): Column =
    ColumnBridge.column(TriProfile(ColumnBridge.expression(c), k))

  /** ARRAY<BIGINT>, one Cavnar-Trenkle OUT-OF-PLACE distance per entry
    * of `langProfiles` (caller supplies them in its language order):
    * Σ over the doc/window profile's grams of |docRank − langRank|, with
    * `defaultDist` for grams absent from that language's profile. One
    * compiled pass over the ALREADY-computed [[triProfile]] array with
    * hashed gram lookups — replacing |langs| interpreted
    * aggregate∘transform folds whose `element_at` probed a LITERAL map
    * (a linear scan of all [[graft.text.CorpusStats.LangProfK]] entries
    * per gram: the q238 sf1 profile put ~6G such comparisons in one
    * query). Bit-identical to the HOF form `ctDistHof` in CorpusStatsSpec,
    * spec-locked. */
  def ctDistances(prof: Column, langProfiles: Seq[Map[String, Int]],
      defaultDist: Int): Column =
    ColumnBridge.column(CtDistances(ColumnBridge.expression(prof),
      langProfiles.toList, defaultDist))

  /** ARRAY<STRUCT<gram STRING, n BIGINT>>: every distinct code-point
    * trigram with its in-doc count, gram-ascending — the compiled
    * replacement for `explode(transform(sequence...substring...))` when a
    * downstream aggregate only needs per-doc COUNTS (q186 training):
    * rows leaving the map side drop from one-per-occurrence to
    * one-per-distinct-gram, and the hot loop is compiled, not an
    * interpreted HOF chain. */
  def triCounts(c: Column): Column =
    ColumnBridge.column(TriCounts(ColumnBridge.expression(c)))

  /** STRUCT<n_tokens, n_chars, n_punct, n_digit, tok_chars, n_stop> (all
    * BIGINT) — the q90 quality-feature family in ONE compiled pass,
    * replacing two whole-text `regexp_replace` passes (which BUILD the
    * replaced string just to measure its length), a `split` + `filter`
    * token materialization, and two interpreted per-token folds.
    * Bit-identical to the HOF formulation (CorpusStatsSpec locks it over
    * the corpus + edge cases):
    *  - n_tokens  = size(filter(split(lower(text), "\\s+"), t -> t <> ''))
    *  - n_chars   = length(text)                      [code points]
    *  - n_punct   = length(regexp_replace(text, "[a-zA-Z0-9\\s]", ""))
    *  - n_digit   = length(regexp_replace(text, "[^0-9]", ""))
    *  - tok_chars = Σ length(token) over the tokens
    *  - n_stop    = count of tokens ∈ `stop`
    * Exactness notes: Java regex `\s` without UNICODE_CHARACTER_CLASS is
    * the ASCII set {space, \t, \n, \x0B, \f, \r} — in UTF-8 those bytes
    * never occur inside a multibyte sequence, so byte-level run splitting
    * is exact; every non-ASCII code point falls outside [a-zA-Z0-9\s]
    * and counts as punct; lowercasing goes through the same
    * UTF8String.toLowerCase as Spark's `lower`. */
  def textQualityStats(c: Column, stop: Seq[String]): Column =
    ColumnBridge.column(TextQualityStats(ColumnBridge.expression(c), stop.toList))

  /** INT count of whitespace tokens — the drop-in for
    * `size(tokens(text))` (= `size(filter(split(lower(text), "\\s+"),
    * t -> t <> ''))`) at the many call sites that only need the COUNT:
    * the HOF form materializes the lowercased copy, the split array and
    * the filtered array per row just to take a length. One compiled
    * byte-pass counts maximal non-\s runs instead — lowercasing cannot
    * move a token boundary (no case mapping produces or consumes an
    * ASCII whitespace char), so the count is computed on the raw bytes;
    * bit-identity vs the HOF form is spec-locked (CorpusStatsSpec) over
    * the corpus + edge cases. */
  def tokenCount(c: Column): Column =
    ColumnBridge.column(TokenCount(ColumnBridge.expression(c)))

  /** STRUCT<n_tokens, n_distinct, top_word_n, n_bigrams, top_bigram_n>
    * (all BIGINT) — q58's repetition signals in ONE compiled row-local
    * pass. The statistic depends only on the row's own tokens (the q174
    * digram lesson), yet the explode formulation shipped one row per
    * TOKEN plus one per BIGRAM into two corpus-sized (doc, gram) hash
    * aggregates and joined three frames back together. Token identity is
    * exact byte equality of the lowercased whitespace tokens; bigram
    * identity is exact pair equality (tokens cannot contain whitespace,
    * so (w1, w2) pair equality ≡ the `concat_ws(" ", w1, w2)` string
    * equality the HOF form groups by). Bit-identity vs the explode
    * formulation spec-locked over the corpus (CorpusStatsSpec). */
  def repetitionStats(c: Column): Column =
    ColumnBridge.column(RepetitionStats(ColumnBridge.expression(c)))

  /** (packed keys, counts) of every distinct n-CODE-POINT gram of `cps`
    * (n <= 3), unsorted, from an open-addressed map. Key = the gram's code
    * points packed 21 bits each, first one highest, plus 1: code points
    * are <= 0x10FFFF < 2^21, so the pack is injective and < 2^63, and +1
    * keeps 0 = empty. Numeric key order = code-point lexicographic order =
    * UTF-8 string order of the gram. */
  private def gramCounts(cps: Array[Int], n: Int): (Array[Long], Array[Long]) = {
    val grams = cps.length - (n - 1)
    if (grams < 1) return (Array.emptyLongArray, Array.emptyLongArray)
    val cap = Integer.highestOneBit(math.max(4, grams * 2) - 1) << 1
    val keys = new Array[Long](cap)
    val counts = new Array[Long](cap)
    val mask = cap - 1
    var i = 0
    while (i < grams) {
      var key = 0L
      var t = 0
      while (t < n) { key = key << 21 | cps(i + t); t += 1 }
      key += 1
      var slot = java.lang.Long.hashCode(key * 0x9e3779b97f4a7c15L) & mask
      while (keys(slot) != 0 && keys(slot) != key) slot = (slot + 1) & mask
      keys(slot) = key
      counts(slot) += 1
      i += 1
    }
    var m = 0
    var j = 0
    while (j < cap) { if (keys(j) != 0) m += 1; j += 1 }
    val ks = new Array[Long](m); val cs = new Array[Long](m)
    var p = 0; j = 0
    while (j < cap) {
      if (keys(j) != 0) { ks(p) = keys(j); cs(p) = counts(j); p += 1 }
      j += 1
    }
    (ks, cs)
  }

  private def unpackGram(packed: Long): UTF8String = {
    val key = packed - 1
    val sb = new java.lang.StringBuilder(6)
    sb.appendCodePoint(((key >> 42) & 0x1FFFFF).toInt)
    sb.appendCodePoint(((key >> 21) & 0x1FFFFF).toInt)
    sb.appendCodePoint((key & 0x1FFFFF).toInt)
    UTF8String.fromString(sb.toString)
  }

  // static entry point referenced from generated code
  def triProfile(s: UTF8String, k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val (ks, cs) = gramCounts(s.toString.codePoints().toArray, 3)
    val m = ks.length
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val idx = Array.range(0, m).sortWith { (a, b) =>
      cs(a) > cs(b) || (cs(a) == cs(b) && ks(a) < ks(b))
    }
    val out = new Array[Any](math.min(k, m))
    var r = 0
    while (r < out.length) {
      out(r) = unpackGram(ks(idx(r)))
      r += 1
    }
    new GenericArrayData(out)
  }

  // static entry point referenced from generated code
  def triCounts(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val (ks, cs) = gramCounts(s.toString.codePoints().toArray, 3)
    val m = ks.length
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val idx = Array.range(0, m).sortWith((a, b) => ks(a) < ks(b))
    val out = new Array[Any](m)
    var r = 0
    while (r < m) {
      out(r) = InternalRow(unpackGram(ks(idx(r))), cs(idx(r)))
      r += 1
    }
    new GenericArrayData(out)
  }

  @inline private def bits(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)

  // static entry point referenced from generated code
  def compute(s: UTF8String): InternalRow = {
    // code points, so a surrogate pair is ONE digram element (the same
    // unit Spark's substring and DuckDB's substr count by)
    val cps = s.toString.codePoints().toArray
    val n = cps.length - 1
    if (n < 1) return InternalRow(0L, 0L)
    val cs = gramCounts(cps, 2)._2
    val bn = bits(n.toLong)
    var ent = 0L
    var j = 0
    while (j < cs.length) { ent += cs(j) * (bn - bits(cs(j))); j += 1 }
    InternalRow(n.toLong, ent)
  }
}

case class TriCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = GraftTypeChecks.one(this, child, StringType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("gram", StringType, nullable = false),
    StructField("n", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "tri_counts"

  override def nullSafeEval(input: Any): Any =
    TextKernels.triCounts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.triCounts($c)")

  override protected def withNewChildInternal(newChild: Expression): TriCounts =
    copy(child = newChild)
}

case class TriProfile(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = GraftTypeChecks.one(this, child, StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "tri_profile"

  override def nullSafeEval(input: Any): Any =
    TextKernels.triProfile(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.triProfile($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): TriProfile =
    copy(child = newChild)
}

object CtDistances {
  /** Static entry the generated code calls. `maps` are the prebuilt
    * per-language gram→rank tables (UTF8String-keyed — the grams arrive
    * as UTF8String and hash/compare without a String round-trip). */
  def compute(prof: org.apache.spark.sql.catalyst.util.ArrayData,
      maps: Array[java.util.HashMap[UTF8String, Integer]],
      defaultDist: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = prof.numElements()
    val out = new Array[Long](maps.length)
    var j = 0
    while (j < n) {
      val g = prof.getUTF8String(j)
      var i = 0
      while (i < maps.length) {
        val r = maps(i).get(g)
        out(i) += (if (r == null) defaultDist.toLong
                   else math.abs(j + 1L - r.intValue()))
        i += 1
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

case class CtDistances(child: Expression, langProfiles: List[Map[String, Int]],
    defaultDist: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.one(this, child, ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ct_distances"

  // one table build per (executor, expression instance), not per row;
  // UTF8String keys so probe grams need no decode
  @transient private lazy val lookup: Array[java.util.HashMap[UTF8String, Integer]] =
    langProfiles.map { m =>
      val h = new java.util.HashMap[UTF8String, Integer](m.size * 2)
      m.foreach { case (g, r) => h.put(UTF8String.fromString(g), Integer.valueOf(r)) }
      h
    }.toArray

  override def nullSafeEval(input: Any): Any =
    CtDistances.compute(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      lookup, defaultDist)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapsRef = ctx.addReferenceObj("ctMaps", lookup,
      "java.util.HashMap[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CtDistances.compute($c, $mapsRef, $defaultDist)")
  }

  override protected def withNewChildInternal(newChild: Expression): CtDistances =
    copy(child = newChild)
}

object TokenCount {
  /** Static entry the generated code calls. */
  def compute(s: UTF8String): Int = {
    val b = s.getBytes
    var n = 0
    var inTok = false
    var i = 0
    while (i < b.length) {
      val ws = TextQualityStats.isAsciiWs(b(i))
      if (!ws && !inTok) n += 1
      inTok = !ws
      i += 1
    }
    n
  }
}

case class TokenCount(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeChecks.one(this, child, StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "token_count"

  override def nullSafeEval(input: Any): Any =
    TokenCount.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenCount.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}

object RepetitionStats {
  /** Static entry the generated code calls. */
  def compute(s: UTF8String): InternalRow = {
    val lb = s.toLowerCase.getBytes
    // token runs (Java regex \s delimiters, the tokens() contract);
    // UTF8String.fromBytes(array, offset, len) WRAPS the shared array —
    // no copy per token
    val words = new java.util.HashMap[UTF8String, Array[Long]]()
    val bigrams = new java.util.HashMap[BigramKey, Array[Long]]()
    var nTokens = 0L
    var prev: UTF8String = null
    var st = 0
    var j = 0
    while (j <= lb.length) {
      val delim = j == lb.length || TextQualityStats.isAsciiWs(lb(j))
      if (delim) {
        if (j > st) {
          nTokens += 1
          val tok = UTF8String.fromBytes(lb, st, j - st)
          val wc = words.get(tok)
          if (wc == null) words.put(tok, Array(1L)) else wc(0) += 1
          if (prev != null) {
            val key = new BigramKey(prev, tok)
            val bc = bigrams.get(key)
            if (bc == null) bigrams.put(key, Array(1L)) else bc(0) += 1
          }
          prev = tok
        }
        st = j + 1
      }
      j += 1
    }
    var topW = 0L
    val wit = words.values().iterator()
    while (wit.hasNext) { val c = wit.next()(0); if (c > topW) topW = c }
    var topB = 0L
    var nB = 0L
    val bit = bigrams.values().iterator()
    while (bit.hasNext) { val c = bit.next()(0); nB += c; if (c > topB) topB = c }
    InternalRow(nTokens, words.size.toLong, topW, nB, topB)
  }

  /** Exact (w1, w2) pair identity — equality and hash over both tokens'
    * bytes, never a lossy combined hash (a collision would merge counts
    * of DIFFERENT bigrams). */
  private[functions] final class BigramKey(val a: UTF8String, val b: UTF8String) {
    override def hashCode(): Int = 31 * a.hashCode() + b.hashCode()
    override def equals(o: Any): Boolean = o match {
      case k: BigramKey => a.equals(k.a) && b.equals(k.b)
      case _ => false
    }
  }
}

case class RepetitionStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeChecks.one(this, child, StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_word_n", LongType, nullable = false),
    StructField("n_bigrams", LongType, nullable = false),
    StructField("top_bigram_n", LongType, nullable = false)))
  override def prettyName: String = "repetition_stats"

  override def nullSafeEval(input: Any): Any =
    RepetitionStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RepetitionStats.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

object TextQualityStats {
  private[functions] def isAsciiWs(b: Byte): Boolean = // Java regex \s (no UNICODE flag)
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Static entry the generated code calls. */
  def compute(s: UTF8String, stopSet: java.util.HashSet[UTF8String],
      maxStopBytes: Int): InternalRow = {
    // pass 1 — the ORIGINAL text's per-code-point classes
    val ob = s.getBytes
    var nChars = 0L; var nPunct = 0L; var nDigit = 0L
    var i = 0
    while (i < ob.length) {
      val b = ob(i)
      if ((b & 0xc0) != 0x80) { // code-point lead byte
        nChars += 1
        if (b >= 0) { // ASCII
          if (b >= '0' && b <= '9') nDigit += 1
          else if (!((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
            isAsciiWs(b))) nPunct += 1
        } else nPunct += 1 // non-ASCII: outside [a-zA-Z0-9\s]
      }
      i += 1
    }
    // pass 2 — token runs of the LOWERCASED text (same lowercasing as
    // Spark's `lower`: UTF8String.toLowerCase)
    val lb = s.toLowerCase.getBytes
    var nTokens = 0L; var tokChars = 0L; var nStop = 0L
    var st = 0
    var j = 0
    while (j <= lb.length) {
      val delim = j == lb.length || isAsciiWs(lb(j))
      if (delim) {
        if (j > st) { // non-empty token [st, j)
          nTokens += 1
          var c = st
          while (c < j) { if ((lb(c) & 0xc0) != 0x80) tokChars += 1; c += 1 }
          if (j - st <= maxStopBytes && stopSet.contains(
            UTF8String.fromBytes(java.util.Arrays.copyOfRange(lb, st, j))))
            nStop += 1
        }
        st = j + 1
      }
      j += 1
    }
    InternalRow(nTokens, nChars, nPunct, nDigit, tokChars, nStop)
  }
}

case class TextQualityStats(child: Expression, stop: List[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = GraftTypeChecks.one(this, child, StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_chars", LongType, nullable = false),
    StructField("n_punct", LongType, nullable = false),
    StructField("n_digit", LongType, nullable = false),
    StructField("tok_chars", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false)))
  override def prettyName: String = "text_quality_stats"

  // built once per (executor, expression instance); UTF8String keys so
  // candidate tokens compare without a String round-trip
  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val h = new java.util.HashSet[UTF8String](stop.size * 2)
    stop.foreach(w => h.add(UTF8String.fromString(w)))
    h
  }
  @transient private lazy val maxStopBytes: Int =
    if (stop.isEmpty) 0 else stop.map(_.getBytes("UTF-8").length).max

  override def nullSafeEval(input: Any): Any =
    TextQualityStats.compute(input.asInstanceOf[UTF8String], stopSet, maxStopBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextQualityStats.compute($c, $setRef, $maxStopBytes)")
  }

  override protected def withNewChildInternal(newChild: Expression): TextQualityStats =
    copy(child = newChild)
}

case class DigramSelfInfo(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = GraftTypeChecks.one(this, child, StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_digrams", LongType, nullable = false),
    StructField("ent_units", LongType, nullable = false)))
  override def prettyName: String = "digram_self_info"

  override def nullSafeEval(input: Any): Any =
    TextKernels.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): DigramSelfInfo =
    copy(child = newChild)
}
