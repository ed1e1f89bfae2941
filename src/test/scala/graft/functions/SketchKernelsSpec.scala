package graft.functions

import graft.SparkSpec
import graft.llm.Similarity
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The codegen sketch kernels must be bit-identical to the interpreted
  * HOF folds they replaced (round 1 shipped the folds; their output is
  * locked in by the q40/q41/q43/q53 oracle hashes). These specs re-state
  * the fold forms inline and compare over the real sf0.001 corpus.
  */
class SketchKernelsSpec extends SparkSpec {

  import Similarity.{NumPerms, P, SimhashBits, hash60, hashedShingles, permA, permB, tokens}

  /** The pre-kernel HOF form of [[Similarity.hashedShingles]] — the
    * semantic definition the fused tokensHash60 kernel must match. */
  private def hashedShinglesHof(c: Column): Column =
    array_sort(array_distinct(transform(tokens(c), s => pmod(hash60(s), lit(P)))))

  /** The pre-kernel HOF form of [[Similarity.gram3Hashed]] — the semantic
    * definition the fused wordGram3Hash60 kernel must match. */
  private def gram3HashedHof(t: Column): Column =
    when(size(t) >= 3,
      array_sort(array_distinct(transform(
        sequence(lit(1), size(t) - 2),
        i => pmod(hash60(concat_ws(" ",
          element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))), lit(P))))))
      .otherwise(array().cast("array<long>"))

  /** Round-1 interpreted MinHash fold (the shape the kernel replaced). */
  private def minhashFold(hs: Column): Column = {
    val perms = typedLit(permA.zip(permB).toSeq)
    aggregate(hs,
      array_repeat(lit(P), NumPerms),
      (acc, h) => zip_with(acc, perms,
        (m, p) => least(m, pmod(p.getField("_1") * h + p.getField("_2"), lit(P)))))
  }

  /** Round-1 interpreted SimHash fold. */
  private def simhashFold(text: Column): Column = {
    val masks = typedLit((0 until SimhashBits).map(k => 1L << k))
    val hs = transform(tokens(text), t => hash60(t))
    val acc = aggregate(hs, array_repeat(lit(0L), SimhashBits),
      (a, h) => zip_with(a, masks,
        (x, m) => x + when(h.bitwiseAND(m) > 0, lit(1L)).otherwise(lit(-1L))))
    aggregate(zip_with(acc, masks, (v, w) => when(v > 0, w).otherwise(0L)),
      lit(0L), (x, y) => x + y)
  }

  test("minhash kernel ≡ interpreted fold over the document corpus") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(hashedShingles(col("text")).as("hs"))
    val diff = docs.select(
        Similarity.minhashSignature(col("hs")).as("kernel"),
        minhashFold(col("hs")).as("fold"))
      .filter(col("kernel") =!= col("fold"))
    assert(diff.count() == 0)
  }

  test("simhash kernel ≡ interpreted fold over the document corpus") {
    val diff = graft.Tables.documents(spark, sfDir)
      .select(Similarity.simhashOf(col("text")).as("kernel"),
        simhashFold(col("text")).as("fold"))
      .filter(col("kernel") =!= col("fold"))
    assert(diff.count() == 0)
  }

  test("fused tokensHash60 ≡ HOF tokenize∘hash chain over the corpus (all 3 modes)") {
    val hofRaw = transform(tokens(col("text")), t => hash60(t))
    val hofMod = transform(tokens(col("text")), t => pmod(hash60(t), lit(P)))
    val diff = graft.Tables.documents(spark, sfDir)
      .select(
        SketchKernels.tokensHash60(col("text"), 0L, distinctSorted = false).as("k_raw"),
        hofRaw.as("h_raw"),
        SketchKernels.tokensHash60(col("text"), P, distinctSorted = false).as("k_mod"),
        hofMod.as("h_mod"),
        Similarity.hashedShingles(col("text")).as("k_ds"),
        hashedShinglesHof(col("text")).as("h_ds"))
      .filter(col("k_raw") =!= col("h_raw") ||
        col("k_mod") =!= col("h_mod") || col("k_ds") =!= col("h_ds"))
    assert(diff.count() == 0)
  }

  test("fused wordGram3Hash60 ≡ HOF 3-gram chain over the corpus") {
    val diff = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(
        Similarity.gram3Hashed(col("t")).as("kernel"),
        gram3HashedHof(col("t")).as("hof"))
      .filter(col("kernel") =!= col("hof"))
    assert(diff.count() == 0)
  }

  test("wordGram3Hash60 edge cases: short, empty, null, null elements, unicode, dups") {
    import spark.implicits._
    // null token array: HOF's when() falls to otherwise → empty array;
    // null ELEMENTS: concat_ws skips them (separator only between present)
    val cases: Seq[Option[Seq[Option[String]]]] = Seq(
      None,
      Some(Seq()),
      Some(Seq(Some("a"))),
      Some(Seq(Some("a"), Some("b"))),
      Some(Seq(Some("a"), Some("b"), Some("c"))),
      Some(Seq(Some("a"), None, Some("c"), Some("d"))),
      Some(Seq(Some("ünï"), Some("日本"), Some("déjà"), Some("vu"))),
      Some(Seq(Some("x"), Some("x"), Some("x"), Some("x"), Some("x"))))
    val rows = cases.toDF("t")
      .select(
        Similarity.gram3Hashed(col("t")).as("kernel"),
        gram3HashedHof(col("t")).as("hof"))
      .collect()
    rows.zip(cases).foreach { case (r, c) =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"mismatch on $c")
    }
  }

  test("tokensHash60 edge cases: empty, whitespace-only, unicode, mixed case") {
    import spark.implicits._
    val texts = Seq("", "   \t\n  ", "Hello WORLD hello", "naïve Ünïcode déjà vu",
      "a  b\tc\nd", "repeated repeated repeated")
    val rows = texts.toDF("text")
      .select(
        SketchKernels.tokensHash60(col("text"), 0L, distinctSorted = false).as("kernel"),
        transform(tokens(col("text")), t => hash60(t)).as("hof"))
      .collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"mismatch on '$t'")
    }
  }

  /** HOF winnow formulation exactly as q54 shipped it in round 2
    * (codepoint substrings, md5-prefix hash, w-window minima, distinct;
    * sorted here for set comparison) — the ONE reference both the corpus
    * and edge-case winnow checks compare the kernel against. Input frame
    * needs a `norm` column; adds `fps_hof` and `fps_kernel`. */
  private def withWinnowBoth(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val K = graft.text.TextOps.WinnowK
    val W = graft.text.TextOps.WinnowW
    val nGrams = (length(col("norm")) - (K - 1)).cast("int")
    val nWins = (size(col("hs")) - (W - 1)).cast("int")
    df.withColumn("hs",
        when(nGrams > 0,
          transform(sequence(lit(1), nGrams), i =>
            pmod(hash60(col("norm").substr(i, lit(K))), lit(P))))
          .otherwise(array().cast("array<bigint>")))
      .withColumn("fps_hof",
        when(nWins > 0,
          array_sort(array_distinct(transform(sequence(lit(1), nWins), j =>
            array_min(slice(col("hs"), j, lit(W)))))))
          .otherwise(array().cast("array<bigint>")))
      .withColumn("fps_kernel", SketchKernels.winnowFps(col("norm"), K, W, P))
  }

  test("winnowFps kernel ≡ HOF gram-hash∘window-min chain as a SET over the corpus") {
    val rows = withWinnowBoth(
      graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"), lower(regexp_replace(col("text"), "\\s+", " ")).as("norm")))
      .select("doc_id", "fps_hof", "fps_kernel").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"winnow divergence at doc ${r.getLong(0)}")
    }
    // multibyte + short-text + null edges: codepoint (not byte/UTF-16)
    // substrings; NULL text goes through the coalesce('') callers apply
    import spark.implicits._
    val edge = withWinnowBoth(
      Seq(Some(""), Some("short"), Some("exactly8"), None,
        Some("ünïcödé ünïcödé ünïcödé"),
        Some("日本語のテキストです、これはテストです"), Some("a b c d e f g h i j k"))
        .toDF("text")
        .select(coalesce(col("text"), lit("")).as("norm")))
      .select("norm", "fps_hof", "fps_kernel").collect()
    edge.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"winnow divergence on edge case '${r.getString(0)}'")
    }
  }

  test("kernels handle empty and single-element arrays (fold seed semantics)") {
    import spark.implicits._
    val rows = Seq(Seq.empty[Long], Seq(7L), Seq(5L, 7L, 11L)).toDF("hs")
      .select(
        SketchKernels.minhashSignature(col("hs"), permA, permB, P).as("sig"),
        SketchKernels.simhash(col("hs"), SimhashBits).as("sh"))
      .collect()
    val emptySig = rows(0).getSeq[Long](0)
    assert(emptySig.size == NumPerms && emptySig.forall(_ == P),
      "empty input must yield the fold's all-P seed")
    assert(rows(0).getLong(1) == 0L, "empty simhash is 0")
    val single = rows(1).getSeq[Long](0)
    assert(single == (0 until NumPerms).map(i => (permA(i) * 7L + permB(i)) % P))
    // single-element simhash: every bit of the result equals that element's bit
    assert(rows(1).getLong(1) == (7L & ((1L << SimhashBits) - 1)))
  }


  test("fused spanMd5s ≡ HOF slice∘array_join∘md5 chain over the corpus") {
    val SpanW = graft.text.CorpusStats.SpanW
    val n = size(col("toks"))
    val hof = transform(sequence(lit(1), n - (SpanW - 1)), k =>
      md5(array_join(slice(col("toks"), k, lit(SpanW)), " ")))
    val diff = graft.Tables.documents(spark, sfDir)
      .select(tokens(lower(col("text"))).as("toks"))
      .filter(n >= SpanW)
      .select(SketchKernels.spanMd5s(col("toks"), SpanW).as("kernel"), hof.as("hof"))
      .filter(col("kernel") =!= col("hof"))
    assert(diff.count() == 0)
  }

  test("spanMd5s edge cases: short, exact-width, null elements, unicode") {
    import spark.implicits._
    val w = 3
    val rows = Seq(
      Seq.empty[String], Seq("a"), Seq("a", "b"),               // < w -> empty
      Seq("a", "b", "c"),                                       // exactly w
      Seq("a", null, "c", "d"),                                 // null skipped like array_join
      Seq("caf\u00e9", "\u65e5\u672c\u8a9e", "x", "\ud83d\ude00")).toDF("toks")
    val n = size(col("toks"))
    val hof = when(n >= w,
      transform(sequence(lit(1), n - (w - 1)), k =>
        md5(array_join(slice(col("toks"), k, lit(w)), " "))))
      .otherwise(array().cast("array<string>"))
    val got = rows.select(
      SketchKernels.spanMd5s(col("toks"), w).as("kernel"), hof.as("hof")).collect()
    got.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("hash60 kernel \u2261 conv\u2218substring\u2218md5 expression over corpus + edges") {
    import spark.implicits._
    val hof = (c: Column) => conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val diff = graft.Tables.documents(spark, sfDir)
      .select(col("text"))
      .select(SketchKernels.hash60(col("text")).as("k"), hof(col("text")).as("h"))
      .filter(col("k") =!= col("h"))
    assert(diff.count() == 0)
    val edges = Seq("", "a", "caf\u00e9", "\u65e5\u672c\u8a9e",
      "\ud83d\ude00", "x" * 10000).toDF("text")
      .select(SketchKernels.hash60(col("text")).as("k"), hof(col("text")).as("h"))
      .collect()
    edges.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // null propagates like the expression chain
    val nr = Seq[Option[String]](None).toDF("text")
      .select(SketchKernels.hash60(col("text")).as("k")).collect()
    assert(nr(0).isNullAt(0))
  }
}
