package graft.text

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Corpus-statistics operators: independent Scala recomputations (not the
  * DuckDB oracle, which the driver runs) plus targeted edge cases. */
class CorpusStatsSpec extends SparkSpec {

  private def scalaTokens(s: String): Seq[String] =
    s.split("\\s+").filter(_.nonEmpty).toSeq

  /** The pre-kernel HOF feature formulation — the semantic definition the
    * fused TextKernels.textQualityStats kernel must match. */
  private def qualityFeaturesHof(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(lower(col("text")))
    docs.select(col("doc_id"), col("text"), toks.as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", "")).cast("long").as("n_punct"),
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("long").as("n_digit"),
        aggregate(transform(col("toks"), t => length(t).cast("long")),
          lit(0L), (a, x) => a + x).as("tok_chars"),
        size(filter(col("toks"), t => t.isin(CorpusStats.QualityStop: _*)))
          .cast("long").as("n_stop"))
  }

  /** The pre-kernel HOF out-of-place distance for ONE language — the
    * semantic definition TextKernels.ctDistances must match. */
  private def ctDistHof(prof: Column, m: Map[String, Int]): Column = {
    val mapCol =
      if (m.isEmpty) typedLit(Map.empty[String, Int])
      else map(m.toSeq.sorted.flatMap { case (g, r) => Seq(lit(g), lit(r)) }: _*)
    aggregate(
      transform(prof, (g, j) =>
        coalesce(abs(j + lit(1) - element_at(mapCol, g)), lit(CorpusStats.LangProfK))
          .cast("long")),
      lit(0L), (a, x) => a + x)
  }

  test("q137 BM25 equals an independent Scala model (exact integer scores, top-10 cut)") {
    // plain-Scala BM25 with the same exact-rational formula, computed with
    // BigInt so any int64 overflow in the query would show as a mismatch
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> scalaTokens(r.getString(1).toLowerCase))
    val n = BigInt(docs.length)
    val s = BigInt(docs.map(_._2.length.toLong).sum)
    val dfm = CorpusStats.Bm25Terms.map { t =>
      t -> BigInt(docs.count(_._2.contains(t)))
    }.toMap
    val expected = docs.flatMap { case (id, toks) =>
      val dl = BigInt(toks.length)
      val scores = CorpusStats.Bm25Terms.flatMap { t =>
        val tf = BigInt(toks.count(_ == t))
        if (tf == 0) None
        else {
          val df = dfm(t)
          val num = BigInt(100000) * 22 * s * tf * (2 * n - 2 * df + 1)
          val den = (2 * df + 1) * (10 * tf * s + 3 * s + 9 * dl * n)
          Some(num / den)
        }
      }
      if (scores.isEmpty) None
      else Some((id, scores.size.toLong, scores.sum.toLong))
    }.sortBy { case (id, _, sc) => (-sc, id) }.take(10).toSeq
    val got = CorpusStats.bm25Retrieval(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // the rare term must dominate: every top-10 doc matches >= 1 term and
    // the #1 doc contains the discriminative term
    assert(expected.head._3 > 0)
    val topDoc = docs.find(_._1 == expected.head._1).get._2
    assert(topDoc.contains("dup"), "rare-term idf should put a 'dup' doc on top")
  }

  test("q155 dataset card: internal consistency across its own metrics") {
    val card = CorpusStats.datasetCard(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nDocs = graft.Tables.documents(spark, sfDir).count()
    assert(card("n_docs") == nDocs)
    assert(card("exact_dup_docs") == card("n_docs") - card("distinct_texts"))
    assert(card("clf_keep_docs") <= card("n_docs"))
    assert(card("heuristic_ok_docs") <= card("n_docs"))
    assert(card("top_lang_docs") <= card("n_docs"))
    assert(card("top_lang_docs") * card("n_langs") >= card("n_docs"),
      "mode times #langs must cover the corpus")
    assert(card("emb_vectors") > 0 && card("emb_labels") > 0)
    assert(card.size == 12)
  }

  test("q149 tokenizer fertility matches a Scala regex model") {
    val pat = java.util.regex.Pattern.compile(" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+")
    val docs = graft.Tables.documents(spark, sfDir)
      .select("lang", "text").collect().map(r => (r.getString(0), r.getString(1)))
    val model = docs.groupBy(_._1).map { case (lang, xs) =>
      val chars = xs.map(_._2.length.toLong).sum
      val ws = xs.map(t => scalaTokens(t._2.toLowerCase).size.toLong).sum
      val bpe = xs.map { t =>
        val m = pat.matcher(t._2.toLowerCase); var n = 0L
        while (m.find()) n += 1
        n
      }.sum
      (lang, xs.length.toLong, chars, ws, bpe, 10000 * bpe / ws, 10000 * chars / bpe)
    }.toSeq.sortBy(_._1)
    val got = CorpusStats.tokenizerFertility(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == model && got.nonEmpty)
  }

  test("q144 budget selection equals a sequential greedy-fill model; budget respected") {
    val clf = CorpusStats.qualityClassifier(spark, sfDir)
      .select("doc_id", "n_tokens", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val srcOf = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val total = clf.map(_._2).sum
    val budget = 4 * total / 10
    var cum = 0L
    val selected = clf.sortBy(t => (-t._3, t._1)).takeWhile { t =>
      cum += t._2; cum <= budget
    }
    val model = selected.groupBy(t => srcOf(t._1)).map { case (s, xs) =>
      (s, xs.length.toLong, xs.map(_._2).sum)
    }.toSeq.sortBy(_._1)
    val got = CorpusStats.tokenBudgetSelection(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == model)
    assert(selected.map(_._2).sum <= budget && selected.nonEmpty)
    // greedy maximality: the next-ranked doc would cross the budget
    val next = clf.sortBy(t => (-t._3, t._1)).drop(selected.length).headOption
    next.foreach(t => assert(selected.map(_._2).sum + t._2 > budget))
  }

  test("q142 calibration: cells partition the corpus, deciles balanced, ranges nest") {
    val rows = CorpusStats.qualityCalibration(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    val total = graft.Tables.documents(spark, sfDir).count()
    assert(rows.map(_._4).sum == total, "cells must partition every document")
    assert(rows.map(_._1).distinct.sorted.forall(d => d >= 0 && d <= 9))
    // per-decile sizes differ by at most 1 from N/10
    val byDec = rows.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    assert(byDec.values.forall(n => math.abs(n - total / 10) <= 1))
    // score ranges are consistent within a cell and ordered across deciles
    rows.foreach { case (_, _, _, _, lo, hi) => assert(lo <= hi) }
    val decMax = rows.groupBy(_._1).view.mapValues(_.map(_._6).max).toMap
    val decMin = rows.groupBy(_._1).view.mapValues(_.map(_._5).min).toMap
    for (d <- 0L to 8L if decMax.contains(d) && decMin.contains(d + 1))
      assert(decMax(d) <= decMin(d + 1), s"decile $d overlaps ${d + 1} in score")
    // the classifier label must agree with the score sign in every cell
    rows.foreach { case (_, label, _, _, lo, hi) =>
      if (label == "keep") assert(lo >= 0) else assert(hi < 0)
    }
  }

  test("q91 fuzzy join: deletion banding equals brute-force ed-1, incl. length-changing edits") {
    // banding property on strings of DIFFERENT lengths (customer names are
    // all same-length, so the registered query alone never exercises the
    // insert/delete case): a deletion-key model must pair s with every
    // single-char insert, delete and substitution of s
    def keys(s: String): Set[String] =
      Set(s) ++ s.indices.map(i => s.take(i) + s.drop(i + 1))
    def ed1(a: String, b: String): Boolean =
      a != b && (keys(a) & keys(b)).nonEmpty
    val base = "spark"
    // (variant, true edit distance): insert, delete, substitute, equal,
    // delete, substitute, far
    val variants = Seq("sparks" -> 1, "park" -> 1, "stark" -> 1,
      "spark" -> 0, "sprk" -> 1, "spars" -> 1, "batch" -> 5)
    variants.foreach { case (v, dist) =>
      // banding may overshoot (false positives die in the levenshtein
      // verify); it must never undershoot on a true ed-1 pair
      if (dist == 1) assert(ed1(base, v), s"banding missed true pair ($base, $v)")
    }
    // the registered query vs Spark brute force on the real table (sf0.001)
    val brute = {
      val c = graft.Tables.customer(spark, sfDir)
        .filter(col("c_custkey") <= 1000).select(col("c_custkey"), col("c_name"))
      c.select(col("c_custkey").as("key_a"), col("c_name").as("name_a"))
        .crossJoin(c.select(col("c_custkey").as("key_b"), col("c_name").as("name_b")))
        .filter(col("name_a") < col("name_b") &&
          levenshtein(col("name_a"), col("name_b")) === 1)
        .orderBy(col("name_a"), col("name_b"))
        .collect().toSeq
    }
    val banded = CorpusStats.fuzzyNameJoin(spark, sfDir).collect().toSeq
    assert(banded.nonEmpty, "sf0.001 customers must contain ed-1 name pairs")
    assert(banded == brute, "banded join must equal the brute-force cross join")
  }

  test("q94 span dedup matches a Scala sliding-window model; no distinct-expand") {
    val W = CorpusStats.SpanW
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), lower(col("text"))).collect()
      .map(r => r.getLong(0) -> scalaTokens(r.getString(1)))
    val occ = docs.toSeq.flatMap { case (id, toks) =>
      if (toks.length >= W) toks.sliding(W).map(s => (s.mkString(" "), id))
      else Iterator.empty
    }
    val model = occ.groupBy(_._1).collect {
      case (s, xs) if xs.map(_._2).distinct.size >= 2 =>
        val ds = xs.map(_._2)
        (md5hex(s), ds.distinct.size.toLong, ds.size.toLong, ds.min, ds.max)
    }.toSet
    val q = CorpusStats.spanDedup(spark, sfDir)
    val got = q.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty, "sf0.001 corpus must contain cross-document duplicated spans")
    assert(got.toSet == model, "span census must match the sliding-window model")
    // ordering is part of the contract (the oracle ORDER BY)
    assert(got.map(_._1).toSeq == got.map(_._1).toSeq.sorted)
    // two-level agg, not count(distinct): no Expand node anywhere
    val expand = allPlanNodes(executedPlanOf(q)).filter(
      _.isInstanceOf[org.apache.spark.sql.execution.ExpandExec])
    assert(expand.isEmpty, "distinct-doc counting must be the two-level agg, not expand")
  }

  test("q95 inverted index matches a Scala model; posting lists capped at PostK") {
    val K = CorpusStats.PostK
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), lower(col("text"))).collect()
      .map(r => r.getLong(0) -> scalaTokens(r.getString(1)))
    val occ = docs.toSeq.flatMap { case (id, toks) => toks.map(_ -> id) }
    val model = occ.groupBy(_._1).map { case (term, xs) =>
      val ds = xs.map(_._2).sorted
      val distinct = ds.distinct
      (term, distinct.size.toLong, ds.size.toLong, distinct.take(K).mkString(","))
    }.toSeq.sortBy(_._1)
    val q = CorpusStats.invertedIndex(spark, sfDir)
    val got = q.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == model, "inverted index must match the Scala model")
    assert(got.forall(_._4.count(_ == ',') < K), "postings must be capped at PostK")
    // df counts ALL docs even when the posting list is truncated
    assert(got.exists(r => r._2 > r._4.count(_ == ',') + 1),
      "some term must have df beyond the cap (cap must actually engage)")
    // the per-term window and the final term agg share one exchange:
    // exactly 2 hash exchanges — (term, doc_id) agg and term — plus the
    // output range sort
    val ex = shuffleExchanges(q).map(_.outputPartitioning.toString)
    assert(ex.count(_.contains("hashpartitioning")) == 2,
      s"window and term agg must share one exchange, got $ex")
  }

  test("q103 PPS sample: matches a Scala model, hit counts telescope to total div stride") {
    val S = CorpusStats.PpsStride
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> scalaTokens(r.getString(1)).length.toLong)
      .sortBy(_._1)
    var cum = 0L
    val model = docs.flatMap { case (id, w) =>
      val before = cum; cum += w
      val hits = cum / S - before / S
      if (hits > 0) Some((id, w, cum, hits)) else None
    }.toSeq
    val got = CorpusStats.ppsSample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.nonEmpty && got == model, "sample must match the sequential model")
    // telescoping: total sample points = floor(total_tokens / stride)
    val total = docs.map(_._2).sum
    assert(got.map(_._4).sum == total / S,
      "hit counts must telescope to total_tokens div stride")
    // PPS property: every doc with >= stride tokens is necessarily sampled
    val big = docs.filter(_._2 >= S).map(_._1).toSet
    assert(big.subsetOf(got.map(_._1).toSet))
  }

  test("q104 PMI pairs match a Scala model; unigram tables broadcast") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), lower(col("text"))).collect()
      .map(r => r.getLong(0) -> scalaTokens(r.getString(1)).distinct.toSet)
    val nd = docs.length.toLong
    val uni = docs.flatMap(_._2).groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val pairCounts = docs.toSeq.flatMap { case (_, ts) =>
      val sorted = ts.toSeq.sorted
      for (i <- sorted.indices; j <- (i + 1) until sorted.length)
        yield (sorted(i), sorted(j))
    }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val model = pairCounts.toSeq.collect {
      case ((a, b), nab) if nab >= CorpusStats.PmiMinPairs =>
        (a, b, nab, uni(a), uni(b), 1000000L * nab * nd / (uni(a) * uni(b)))
    }.sortBy { case (a, b, _, _, _, pmi) => (-pmi, a, b) }.take(30)
    val got = CorpusStats.pmiPairs(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got.nonEmpty && got == model, "PMI ranking must match the model")
    // the unigram attach must be broadcast joins, not shuffles
    val bhj = allPlanNodes(executedPlanOf(CorpusStats.pmiPairs(spark, sfDir)))
      .count(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
    assert(bhj >= 2, s"expected broadcast unigram joins, got $bhj")
  }

  test("q109 mixture plan matches a Scala model; rates cap at availability") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .map(r => r.getString(0) -> scalaTokens(r.getString(1)).length.toLong)
    val bySrc = docs.groupBy(_._1).map { case (s, xs) =>
      (s, xs.length.toLong, xs.map(_._2).sum) }.toSeq.sortBy(_._1)
    val total = bySrc.map(_._3).sum
    val nSources = bySrc.size.toLong
    val model = bySrc.map { case (s, nd, nt) =>
      val rate = math.min(10000L, (10000L * (total / nSources)) / nt)
      (s, nd, nt, (10000L * nt) / total, rate, (nt * rate) / 10000L)
    }
    val got = CorpusStats.mixturePlan(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got.nonEmpty && got == model, s"mixture plan mismatch:\n$got\nvs\n$model")
    // invariants: never plan more than exists; under-represented sources
    // are taken whole; downsampled sources land at <= the uniform share
    for ((_, _, nt, _, rate, planned) <- got) {
      assert(planned <= nt)
      if (nt <= total / nSources) assert(rate == 10000L)
      else assert(planned <= total / nSources)
    }
  }

  test("q171 temperature mixture: Scala model agreement; allocations sum to the budget exactly") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("lang"), col("text")).collect()
      .map(r => r.getString(0) -> scalaTokens(r.getString(1)).length.toLong)
    val byLang = docs.groupBy(_._1).map { case (l, xs) =>
      (l, xs.length.toLong, xs.map(_._2).sum) }.toSeq.sortBy(_._1)
    def isqrt(n: Long): Long = {
      var s = math.sqrt(n.toDouble).toLong
      while ((s + 1) * (s + 1) <= n) s += 1
      while (s * s > n) s -= 1
      s
    }
    val weights = byLang.map { case (l, _, nt) => l -> isqrt(nt) }.toMap
    val wsum = weights.values.sum
    val budget = byLang.map(_._3).sum / 2
    val base = byLang.map { case (l, _, _) => l -> (budget * weights(l)) / wsum }.toMap
    val rem = byLang.map { case (l, _, _) => l -> (budget * weights(l)) % wsum }.toMap
    val leftover = budget - base.values.sum
    val bonusLangs = byLang.map(_._1).sortBy(l => (-rem(l), l)).take(leftover.toInt).toSet
    val model = byLang.map { case (l, nd, nt) =>
      val alloc = base(l) + (if (bonusLangs(l)) 1L else 0L)
      (l, nd, nt, weights(l), alloc, 10000L * alloc / budget)
    }
    val got = CorpusStats.temperatureMixture(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got.nonEmpty && got == model, s"temperature mixture mismatch:\n$got\nvs\n$model")
    // Hamilton apportionment: the budget is allocated EXACTLY, and the
    // α=0.5 compromise keeps every language's allocation between the
    // uniform and proportional extremes' floors at most one unit apart
    assert(got.map(_._5).sum == budget)
    got.foreach { case (_, _, nt, w, _, _) =>
      assert(w * w <= nt && (w + 1) * (w + 1) > nt, "integer sqrt must be exact")
    }
  }

  test("q90 classifier: scores match a Scala model bit-for-bit; map-only plan") {
    val stop = Set("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
    // the exact left-associated chain the query and its oracle share —
    // any reassociation here or there shows up as a bit mismatch
    def model(text: String): Double = {
      val toks = scalaTokens(text.toLowerCase)
      val nTok = toks.size.toLong
      val nCh = text.length.toLong
      // mirror the ASCII-only regex classes ([a-zA-Z0-9\s] / [^0-9]), not
      // the Unicode-aware Character predicates — non-ASCII letters COUNT
      // as punctuation under the query's definition
      def asciiWordOrWs(c: Char) =
        (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9') || c == ' ' || (c >= '\t' && c <= '\r')
      val punct = if (nCh > 0) text.count(!asciiWordOrWs(_)).toDouble / nCh else 0.0
      val digit = if (nCh > 0) text.count(c => c >= '0' && c <= '9').toDouble / nCh else 0.0
      val stopf = if (nTok > 0) toks.count(stop).toDouble / nTok else 0.0
      val avgLen = if (nTok > 0) toks.map(_.length.toLong).sum.toDouble / nTok else 0.0
      -0.63 + 2.0 * stopf + -8.0 * punct + -6.0 * digit +
        1.5 * (math.min(nTok.toDouble, 400.0) / 400.0) +
        0.5 * (math.min(avgLen, 8.0) / 8.0)
    }
    val texts = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = CorpusStats.qualityClassifier(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length == texts.size)
    rows.foreach { r =>
      val expect = model(texts(r.getLong(0)))
      assert(r.getDouble(2) == expect, // bitwise, no tolerance
        s"doc ${r.getLong(0)}: got ${r.getDouble(2)}, model $expect")
      assert(r.getString(3) == (if (expect >= 0) "keep" else "drop"))
    }
    assert(rows.map(_.getString(3)).toSet == Set("keep", "drop"),
      "weights should split the corpus, not rubber-stamp it")
    // map-only: scoring adds no hash exchange; only the output sort ships rows
    val hashEx = shuffleExchanges(CorpusStats.qualityClassifier(spark, sfDir))
      .collect {
        case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => s
      }
    assert(hashEx.isEmpty, "classifier scoring must not shuffle")
  }

  test("q71 guard: a corpus whose 20th hitter misses N/(k+1) fails loudly, not silently") {
    import spark.implicits._
    // 70 distinct tokens, each once: N = 70, every count = 1, and
    // 1 * 65 > 70 is false → the exactness precondition is violated.
    val dir = java.nio.file.Files.createTempDirectory("graft-q71-guard").toString
    Seq((1L, (0 until 70).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val e = intercept[Exception] {
      CorpusStats.heavyHitters(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("q71 exactness invariant violated")),
      s"expected the q71 guard, got: $e")
    // and the real corpus still clears the guard
    assert(CorpusStats.heavyHitters(spark, sfDir).collect().length == 20)
  }

  test("redactPii scrubs emails, IPv4s and phones; leaves near-misses alone") {
    import spark.implicits._
    val cases = Seq(
      ("mail me at jane.doe+spam@sub.example.org today",
        "mail me at <EMAIL> today"),
      ("server 192.168.0.1 and 10.2.3.4 up", "server <IP> and <IP> up"),
      ("call 555-123-4567 or 555.987.6543", "call <PHONE> or <PHONE>"),
      ("a@b.co 1.2.3.4 111-222-3333", "<EMAIL> <IP> <PHONE>"),
      // near-misses stay: no TLD, 3 octets, 4-3-4 digit phone, version string
      ("a@b 1.2.3 5555-123-4567 v1.2.3.4beta", "a@b 1.2.3 5555-123-4567 v1.2.3.4beta"),
      ("no pii here", "no pii here"))
    val out = cases.map(_._1).toDF("t")
      .select(CorpusStats.redactPii(col("t")).as("r"))
      .collect().map(_.getString(0)).toSeq
    assert(out == cases.map(_._2))
  }

  test("repetitionSignals matches an independent Scala recomputation (sf0.001)") {
    val got = CorpusStats.repetitionSignals(spark, sfDir).collect()
    assert(got.nonEmpty)
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.length == docs.size)
    got.foreach { r =>
      val toks = scalaTokens(docs(r.getLong(0)).toLowerCase)
      val wc = toks.groupBy(identity).map(_._2.size)
      val bgs = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val bc = bgs.groupBy(identity).map(_._2.size)
      assert(r.getLong(1) == toks.size, s"n_tokens doc ${r.getLong(0)}")
      assert(r.getLong(2) == wc.size, s"n_distinct doc ${r.getLong(0)}")
      assert(r.getLong(3) == (if (wc.isEmpty) 0 else wc.max), s"top_word_n doc ${r.getLong(0)}")
      assert(r.getLong(4) == bgs.size, s"n_bigrams doc ${r.getLong(0)}")
      assert(r.getLong(5) == (if (bc.isEmpty) 0 else bc.max), s"top_bigram_n doc ${r.getLong(0)}")
      val dup = if (toks.isEmpty) 0.0 else (toks.size - wc.size).toDouble / toks.size
      assert(r.getDouble(6) == dup, s"dup_word_frac doc ${r.getLong(0)}")
    }
  }

  test("q66 tf-idf: matches Scala recomputation; one token pass (2 scans, no branch re-execution)") {
    val df = CorpusStats.tfidfTerms(spark, sfDir)
    val got = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4))).toSeq

    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> scalaTokens(r.getString(1).toLowerCase))
    val nDocs = docs.length
    val dfreq = docs.flatMap(_._2.distinct).groupBy(identity).map { case (w, g) => w -> g.size }
    val exp = docs.flatMap { case (id, ws) =>
      if (ws.isEmpty) Nil
      else {
        val tf = ws.groupBy(identity).map { case (w, g) => w -> g.size }
        tf.toSeq
          .map { case (w, f) =>
            (w, f, dfreq(w), (f.toDouble / ws.size) * (nDocs.toDouble / dfreq(w)))
          }
          .sortBy { case (w, _, _, s) => (-s, w) }
          .take(3).zipWithIndex
          .map { case ((w, f, d, _), i) => (id, (i + 1).toLong, w, f.toLong, d.toLong) }
      }
    }.sortBy(x => (x._1, x._2)).toSeq
    assert(got == exp)

    // the df/doc-length windows run over the ONE tf frame: exactly two
    // parquet scans (tf pipeline + the broadcast n_docs aggregate) — a
    // third scan means a self-joined branch re-executing the explode
    val scans = allPlanNodes(executedPlanOf(df))
      .count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(scans == 2, s"expected 2 documents scans, found $scans")
  }

  test("vocabCoverage: rank-1 is the corpus mode, coverage is monotone in (0,1]") {
    val rows = CorpusStats.vocabCoverage(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    val freq = graft.Tables.documents(spark, sfDir).select("text").collect()
      .flatMap(r => scalaTokens(r.getString(0).toLowerCase))
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val expectedTop = freq.toSeq.sortBy { case (w, n) => (-n, w) }.take(rows.length)
    rows.zip(expectedTop).zipWithIndex.foreach { case ((r, (w, n)), i) =>
      assert(r.getLong(0) == i + 1)
      assert(r.getString(1) == w, s"rank ${i + 1} word")
      assert(r.getLong(2) == n, s"rank ${i + 1} count")
    }
    val fracs = rows.map(_.getDouble(3))
    assert(fracs.zip(fracs.tail).forall { case (a, b) => a < b }, "cum_frac strictly increases")
    assert(fracs.head > 0.0 && fracs.last <= 1.0)
    // full-vocab sanity: if the whole vocab fits in 50 rows, coverage ends at 1
    if (freq.size <= 50) assert(fracs.last == 1.0)
  }

  test("stratifiedSample matches a Scala md5-bucket recomputation per language") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val rates = Map("en" -> 9000, "zh" -> 5000, "de" -> 7000, "es" -> 7000, "fr" -> 7000)
    def bucket(text: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(("mix:" + text).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % 10000
    }
    val expected = docs.groupBy(_._2).map { case (lang, g) =>
      val bp = rates.getOrElse(lang, 2500)
      val kept = g.filter(d => bucket(d._3) < bp)
      (lang, (g.length.toLong, kept.length.toLong,
        if (kept.isEmpty) None else Some(kept.map(_._1).min)))
    }
    val got = CorpusStats.stratifiedSample(spark, sfDir).collect()
    assert(got.map(_.getString(0)).toSet == expected.keySet)
    got.foreach { r =>
      val (nDocs, nKept, firstKept) = expected(r.getString(0))
      assert(r.getLong(2) == nDocs, s"n_docs ${r.getString(0)}")
      assert(r.getLong(3) == nKept, s"n_kept ${r.getString(0)}")
      assert((if (r.isNullAt(5)) None else Some(r.getLong(5))) == firstKept,
        s"first_kept ${r.getString(0)}")
    }
  }

  test("tokenWindows matches a Scala sliding-window recomputation (sf0.001)") {
    val W = CorpusStats.ChunkW
    val S = CorpusStats.ChunkS
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = docs.toSeq.flatMap { case (id, text) =>
      val toks = scalaTokens(text.toLowerCase)
      val nChunks = math.ceil(toks.size.toDouble / S).toInt
      (0 until nChunks).map { k =>
        val chunk = toks.slice(k * S, math.min(k * S + W, toks.size))
        (id, k.toLong, chunk.size.toLong, chunk.head)
      }
    }.sortBy(t => (t._1, t._2))
    val got = CorpusStats.tokenWindows(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == expected)
    // every token is covered: sum of chunk tokens >= total tokens, and
    // consecutive chunks overlap by exactly W - S when both are full
    assert(got.map(_._3).sum >=
      docs.valuesIterator.map(t => scalaTokens(t.toLowerCase).size.toLong).sum)
  }

  test("sequencePack: bins are contiguous per source and respect cumulative order") {
    val C = CorpusStats.PackC
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), scalaTokens(r.getString(2)).size.toLong))
    val expected = docs.toSeq.groupBy(_._2).toSeq.flatMap { case (src, g) =>
      var cum = 0L
      g.sortBy(_._1).map { case (id, _, n) =>
        cum += n
        (src, math.max(cum - 1, 0L) / C, id, n)
      }
    }.groupBy(t => (t._1, t._2)).map { case ((src, bin), rows) =>
      (src, bin, rows.size.toLong, rows.map(_._4).sum,
        rows.map(_._3).min, rows.map(_._3).max)
    }.toSeq.sortBy(t => (t._1, t._2))
    val got = CorpusStats.sequencePack(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
    // bins fill to ~C: every bin except possibly the last per source holds
    // > 0 tokens and bin ids are dense from 0
    got.groupBy(_._1).foreach { case (src, bins) =>
      val ids = bins.map(_._2).sorted
      assert(ids == (0L until ids.size).toSeq, s"dense bins for $src")
    }
  }

  private def shuffleCount(df: org.apache.spark.sql.DataFrame): Int =
    shuffleExchanges(df).size

  test("q166 vocab growth equals a sequential first-occurrence model") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), scalaTokens(r.getString(1).toLowerCase)))
    val byBucket = docs.groupBy(_._1 / 100)
    val firstDoc = scala.collection.mutable.Map[String, Long]()
    docs.sortBy(_._1).foreach { case (id, toks) =>
      toks.foreach(t => if (!firstDoc.contains(t)) firstDoc(t) = id)
    }
    val newPerBucket = firstDoc.values.groupBy(_ / 100).view
      .mapValues(_.size.toLong).toMap
    var cumT = 0L; var cumN = 0L
    val model = byBucket.toSeq.sortBy(_._1).map { case (b, ds) =>
      val toks = ds.map(_._2.size.toLong).sum
      val nt = newPerBucket.getOrElse(b, 0L)
      cumT += nt; cumN += toks
      (b, ds.size.toLong, toks, nt, cumT, cumN, 10000L * nt / toks)
    }
    val got = graft.text.CorpusStats.vocabGrowth(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == model && got.nonEmpty)
    // final cumulative vocabulary equals the corpus distinct-type count
    assert(got.last._5 == firstDoc.size.toLong)
  }

  test("q163 BPE merge candidates equal a word-frequency Scala model") {
    val texts = graft.Tables.documents(spark, sfDir)
      .select(col("text")).collect().map(_.getString(0))
    val wordFreq = texts.toSeq
      .flatMap(t => "[a-z]+".r.findAllIn(t.toLowerCase).toSeq)
      .filter(_.length > 1)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val pairCounts = wordFreq.toSeq.flatMap { case (w, n) =>
      w.sliding(2).map(p => (p, n))
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
    val model = pairCounts.sortBy { case (p, n) => (-n, p) }.take(20)
      .map { case (p, n) => (p, n) }
    val got = graft.text.CorpusStats.bpeMergeCandidates(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == model && got.nonEmpty)
    // every candidate is two adjacent letters
    assert(got.forall(_._1.matches("[a-z]{2}")))
  }

  test("q185 multi-round BPE training equals a sequential greedy-merge model") {
    val texts = graft.Tables.documents(spark, sfDir)
      .select(col("text")).collect().map(_.getString(0))
    var vocab: Seq[(Vector[String], Long)] = texts.toSeq
      .flatMap(t => "[a-z]+".r.findAllIn(t.toLowerCase).toSeq)
      .filter(_.length > 1)
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case (w, n) => (w.map(_.toString).toVector, n) }
    // sequential reference trainer: K rounds of count-argmax-merge with
    // leftmost-greedy non-overlapping replacement
    def mergeWord(syms: Vector[String], l: String, r: String): Vector[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, s) =>
        if (acc.nonEmpty && acc.last == l && s == r) acc.init :+ (l + r)
        else acc :+ s
      }
    val model = (1 to graft.text.CorpusStats.BpeRounds).map { k =>
      val counts = vocab.flatMap { case (syms, n) =>
        syms.sliding(2).filter(_.size == 2).map(p => ((p(0), p(1)), n))
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      val ((l, r), n) = counts.minBy { case ((a, b), c) => (-c, a, b) }
      vocab = vocab.map { case (syms, wn) => (mergeWord(syms, l, r), wn) }
      (k.toLong, l, r, l + r, n)
    }
    val got = graft.text.CorpusStats.bpeTrain(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4))).toSeq
    assert(got == model && got.size == graft.text.CorpusStats.BpeRounds)
    // merged symbols accumulate: a later merge may consume an earlier one,
    // and every merge count is positive
    assert(got.forall(_._5 > 0L))
  }

  test("q187 trained-BPE apply fertility equals the sequential model end-to-end") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val allWords = docs.flatMap { case (l, t) =>
      "[a-z]+".r.findAllIn(t.toLowerCase).map(w => (l, w))
    }
    // train on the length>1 global frequency table (the q185 model)
    var vocab: Seq[(Vector[String], Long)] = allWords.map(_._2).filter(_.length > 1)
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case (w, n) => (w.map(_.toString).toVector, n) }
    def mergeWord(syms: Vector[String], l: String, r: String): Vector[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, s) =>
        if (acc.nonEmpty && acc.last == l && s == r) acc.init :+ (l + r)
        else acc :+ s
      }
    val merges = (1 to graft.text.CorpusStats.BpeRounds).map { _ =>
      val counts = vocab.flatMap { case (syms, n) =>
        syms.sliding(2).filter(_.size == 2).map(p => ((p(0), p(1)), n))
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      val ((l, r), _) = counts.minBy { case ((a, b), c) => (-c, a, b) }
      vocab = vocab.map { case (syms, wn) => (mergeWord(syms, l, r), wn) }
      (l, r)
    }
    // apply to ALL words (single-letter ones included)
    def pieces(w: String): Long =
      merges.foldLeft(w.map(_.toString).toVector) {
        case (syms, (l, r)) => mergeWord(syms, l, r)
      }.size.toLong
    val pieceOf = allWords.map(_._2).distinct.map(w => w -> pieces(w)).toMap
    val model = allWords.groupBy(_._1).toSeq.map { case (lang, ws) =>
      val nw = ws.length.toLong
      val nc = ws.map(_._2.length.toLong).sum
      val np = ws.map(w => pieceOf(w._2)).sum
      (lang, nw, nc, np, 10000L * np / nw, 10000L * nc / np)
    }.sortBy(_._1)
    val got = graft.text.CorpusStats.bpeApplyFertility(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == model && got.nonEmpty)
    // the learned vocab can only help: fertility strictly below the
    // character baseline (10000 * n_chars / n_words)
    for ((_, nw, nc, _, fert, _) <- got) assert(fert < 10000L * nc / nw)
  }

  test("q188 DSIR selection equals the sequential importance-weight model") {
    import graft.text.CorpusStats.{DsirBuckets, DsirN, DsirTarget}
    def h60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    def bits(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val docGrams = docs.map { case (id, src, t) =>
      val ws = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      (id, src, ws.sliding(2).filter(_.length == 2)
        .map(p => h60(p(0) + " " + p(1)) % DsirBuckets).toSeq)
    }
    val nr = docGrams.flatMap(_._3).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nt = docGrams.filter(_._2 == DsirTarget).flatMap(_._3)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bitsR1 = bits(nr.values.sum + DsirBuckets)
    val bitsT1 = bits(nt.values.sum + DsirBuckets)
    def wu(g: Long): Long =
      bits(nt.getOrElse(g, 0L) + 1) - bits(nr(g) + 1) + bitsR1 - bitsT1
    val scored = docGrams.filter(_._3.nonEmpty)
      .map { case (id, src, gs) => (id, src, gs.map(wu).sum) }
    val sel = scored.sortBy { case (id, _, w) => (-w, id) }.take(DsirN)
    val model = sel.groupBy(_._2).toSeq.map { case (src, xs) =>
      (src, xs.length.toLong, xs.map(_._3).sum,
        xs.map(_._1).foldLeft(0L)(_ ^ _))
    }.sortBy(_._1)
    val got = graft.text.CorpusStats.dsirSelection(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == model && got.map(_._2).sum == DsirN.toLong)
    // selection is target-seeking: the mean selected weight exceeds the
    // corpus mean weight
    val meanAll = scored.map(_._3).sum.toDouble / scored.length
    val meanSel = sel.map(_._3).sum.toDouble / sel.length
    assert(meanSel > meanAll)
  }

  test("q193 epoch mixture equals the sequential greedy-knapsack model") {
    import graft.text.CorpusStats.EpochWeights
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySource = docs.groupBy(_._1).view.mapValues { ds =>
      val ws = ds.flatMap(_._2.toLowerCase.split("\\s+").filter(_.nonEmpty))
      (ws.size.toLong, ws.distinct.size.toLong)
    }.toMap
    val incr = bySource.toSeq.flatMap { case (src, (tok, dw)) =>
      val q = 1000L * dw / tok
      EpochWeights.map { case (e, w) => (src, e, q, q * w, tok) }
    }.sortBy { case (src, e, _, d, _) => (-d, src, e) }
    val budget = bySource.values.map(_._1).sum / 2
    var cum = 0L
    val model = incr.map { case (src, e, q, d, tok) =>
      val alloc = math.max(0L, math.min(tok, budget - cum))
      cum += tok
      val status = if (alloc == tok) "full" else if (alloc > 0) "partial" else "skipped"
      (src, e, q, d, tok, alloc, status)
    }
    val got = graft.text.CorpusStats.epochMixture(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6))).toSeq
    assert(got == model && got.nonEmpty)
    // the plan must exercise all three outcomes on this corpus, or the
    // greedy cut is vacuous at this budget
    assert(Set("full", "partial", "skipped").subsetOf(got.map(_._7).toSet))
    // epoch-consistency: a taken epoch e+1 implies epoch e fully taken
    got.groupBy(_._1).foreach { case (src, rows) =>
      val byEpoch = rows.map(r => r._2 -> r._6).toMap
      EpochWeights.map(_._1).sliding(2).foreach {
        case Seq(a, b) =>
          if (byEpoch(b) > 0L)
            assert(byEpoch(a) == rows.head._5, s"$src epoch $b taken before $a full")
        case _ =>
      }
    }
    // conservation: total allocated equals the budget exactly (the
    // straddling increment takes the remainder) unless supply ran out
    val totalAlloc = got.map(_._6).sum
    val supply = incr.map(_._5).sum
    assert(totalAlloc == math.min(budget, supply))
  }

  test("q195 quality perceptron equals the sequential training model") {
    import graft.text.CorpusStats.{PerceptronEpochs, PerceptronTarget}
    val stops = Set("the", "be", "to", "of", "and", "that", "have", "with")
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val feats = docs.flatMap { case (id, src, t) =>
      val ws = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (ws.isEmpty) None else {
        val nw = ws.length.toLong
        val chars = ws.map(_.length.toLong).sum
        val nAlpha = ws.count(_.exists(c => c >= 'a' && c <= 'z')).toLong
        val nStop = ws.count(stops.contains).toLong
        val x = Array(1L, nw, 100 * chars / nw, 1000 * nStop / nw, 1000 * nAlpha / nw)
        val y = if (src == PerceptronTarget) 1L else -1L
        Some((id, src, x, y))
      }
    }
    var w = Array.fill(5)(0L)
    for (_ <- 1 to PerceptronEpochs) {
      val mis = feats.filter { case (_, _, x, y) =>
        y * x.zip(w).map { case (a, b) => a * b }.sum <= 0 }
      w = w.indices.map(j => w(j) + mis.map { case (_, _, x, y) => y * x(j) }.sum).toArray
    }
    val scored = feats.map { case (id, src, x, _) =>
      (id, src, x.zip(w).map { case (a, b) => a * b }.sum) }
    val model = scored.groupBy(_._2).toSeq.map { case (src, xs) =>
      val pred = xs.filter(_._3 > 0)
      (src, xs.length.toLong, pred.length.toLong,
        10000 * pred.length / xs.length,
        pred.map(_._1).foldLeft(0L)(_ ^ _))
    }.sortBy(_._1)
    val got = graft.text.CorpusStats.qualityPerceptron(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == model && got.nonEmpty)
    // the learned weights must be non-trivial: at least one epoch moved them
    assert(w.exists(_ != 0L), "perceptron never updated — training is vacuous")
  }

  test("q195 perceptron separates a separable planted corpus exactly") {
    import spark.implicits._
    import graft.text.CorpusStats.PerceptronTarget
    // target docs: long, stopword-rich; crawl docs: short symbol soup —
    // linearly separable in the feature space, so the trained weights
    // must classify every doc correctly
    val target = (0L until 8L).map(i => (i, PerceptronTarget,
      ("the be to of and that have with " * 8) + s"alpha$i beta gamma"))
    val crawl = (100L until 108L).map(i => (i, "crawl", s"## ### #### v$i"))
    val df = (target ++ crawl).toDF("doc_id", "source", "text")
    val got = graft.text.CorpusStats.perceptronOf(spark, df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(PerceptronTarget)._2 == 8L,
      s"all target docs must score positive: $got")
    assert(got("crawl")._2 == 0L,
      s"no crawl doc may score positive: $got")
  }

  test("q196 dedup scaling curve equals the sequential model; planted growth detected") {
    // real corpus: exact model equality
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def model(ds: Seq[(Long, String)]): Seq[(Int, Long, Long, Long, Long)] =
      Seq(1, 2, 4).map { t =>
        val tier = ds.filter(d => java.lang.Math.floorMod(d._1, 4L) < t)
        val nd = tier.size.toLong
        val u = tier.map(_._2).distinct.size.toLong
        (if (t == 4) 100 else t * 25, nd, u, nd - u, 10000 * (nd - u) / nd)
      }
    val got = graft.text.CorpusStats.dedupScaling(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == model(docs.toSeq))

    // planted corpus where duplication concentrates in the LATE slice:
    // the 100% tier's dup rate must exceed the 25% tier's (the curve the
    // query exists to expose)
    import spark.implicits._
    val uniq = (0L until 40L).map(i => (i * 4, s"unique text number $i"))
    val dups = (0L until 30L).map(i => (i * 4 + 3, "the repeated crawl boilerplate page"))
    val planted = (uniq ++ dups).toDF("doc_id", "text")
    val curve = graft.text.CorpusStats.dedupScalingOf(planted).collect()
      .map(r => r.getInt(0) -> r.getLong(4)).toMap
    assert(curve(100) > curve(25),
      s"planted late-slice duplication must bend the curve upward: $curve")
  }

  test("q201 crawl-drift deciles equal the sequential model; deciles are equal-count") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val feats = docs.map { case (id, t) =>
      val ws = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      (id, ws, t)
    }.filter(_._2.nonEmpty).map { case (id, ws, t) =>
      // dup membership is on the RAW text (the query hashes md5(text))
      (id, ws.length.toLong, ws.distinct.length.toLong,
        ws.mkString(" ").length.toLong, t)
    }
    val dupTexts = feats.groupBy(_._5).filter(_._2.length > 1).keySet
    val n = feats.length
    val model = feats.sortBy(_._1).zipWithIndex.map { case ((id, w, dw, len, norm), i) =>
      (((i.toLong) * 10 / n + 1).toInt, w, dw, len,
        if (dupTexts(norm)) 1L else 0L)
    }.groupBy(_._1).toSeq.map { case (dec, xs) =>
      (dec, xs.length.toLong,
        xs.map(_._4).sum / xs.length,
        xs.map(x => 1000 * x._3 / x._2).sum / xs.length,
        10000 * xs.map(_._5).sum / xs.length)
    }.sortBy(_._1)
    val got = graft.text.CorpusStats.crawlDrift(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == model && got.size == 10)
    // equal-count: decile sizes differ by at most one
    val sizes = got.map(_._2)
    assert(sizes.max - sizes.min <= 1, s"unbalanced deciles: $sizes")
  }

  test("q202 vocabulary churn equals the sequential half-split model") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val model = docs.groupBy(_._1).toSeq.map { case (src, ds) =>
      val ordered = ds.sortBy(_._2)
      val n = ordered.length
      def vocab(xs: Seq[(String, Long, String)]): Set[String] =
        xs.flatMap(_._3.toLowerCase.split("\\s+").filter(_.nonEmpty)).toSet
      val (a, b) = ordered.splitAt(n / 2) // rn*2 <= n ⟺ rn <= n/2
      val (v1, v2) = (vocab(a.toSeq), vocab(b.toSeq))
      val shared = (v1 & v2).size.toLong
      val retired = (v1 -- v2).size.toLong
      val fresh = (v2 -- v1).size.toLong
      (src, shared, retired, fresh,
        10000 * shared / (shared + retired + fresh),
        10000 * fresh / (shared + fresh))
    }.sortBy(_._1)
    val got = graft.text.CorpusStats.vocabChurn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == model && got.nonEmpty)
    // bounds: shares are basis points; both halves contribute vocabulary
    assert(got.forall(r => r._5 <= 10000 && r._6 <= 10000))
    assert(got.forall(r => r._2 + r._4 > 0), "second half must have vocabulary")
  }

  test("q189 Gopher rule battery equals a sequential per-doc model") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val perDoc = docs.map { case (src, t) =>
      val ws = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val nw = ws.size.toLong
      val chars = ws.map(_.length.toLong).sum
      val nAlpha = ws.count(_.exists(c => c >= 'a' && c <= 'z')).toLong
      val nSym = ws.count(w => w.contains("#") || w.contains("…")).toLong
      val nStop = stops.count(ws.contains).toLong
      val topChars =
        if (nw < 2) 0L
        else {
          val bgs = ws.sliding(2).map(_.mkString(" ")).toSeq
          val (g, c) = bgs.groupBy(identity).view.mapValues(_.size).toSeq
            .minBy { case (g, c) => (-c, g) }
          c.toLong * (g.length - 1)
        }
      (src, Seq(
        nw >= 50 && nw <= 100000,
        3 * nw <= chars && chars <= 10 * nw,
        10 * nSym <= nw,
        5 * nAlpha >= 4 * nw,
        nStop >= 2,
        nw < 2 || 5 * topChars <= chars))
    }
    val model = perDoc.groupBy(_._1).toSeq.map { case (src, xs) =>
      val fs = (0 until 6).map(k => xs.count(x => !x._2(k)).toLong)
      (src, xs.length.toLong, fs(0), fs(1), fs(2), fs(3), fs(4), fs(5),
        xs.count(_._2.forall(identity)).toLong)
    }.sortBy(_._1)
    val got = graft.text.CorpusStats.gopherRules(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))).toSeq
    assert(got == model && got.nonEmpty)
    // conservation: pass + at-least-one-failure = docs
    for (r <- got) assert(r._9 <= r._2)
  }

  test("q190 contamination screen equals a sequential n-gram overlap model") {
    import graft.text.CorpusStats.{ContamMod, ContamN, ContamRes}
    def h60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def grams(t: String): Seq[Long] = {
      val ws = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (ws.length < ContamN) Seq()
      else ws.sliding(ContamN).map(g => h60(g.mkString(" "))).toSeq
    }
    val (ev, tr) = docs.partition(_._1 % ContamMod == ContamRes)
    val evSet = ev.flatMap(d => grams(d._3)).toSet
    val perDoc = tr.map { case (id, src, t) => (id, src, grams(t).count(evSet)) }
    val model = tr.groupBy(_._2).toSeq.map { case (src, xs) =>
      val hit = perDoc.filter(d => d._2 == src && d._3 > 0)
      (src, xs.length.toLong, hit.length.toLong, hit.map(_._3.toLong).sum,
        hit.map(_._1).foldLeft(0L)(_ ^ _))
    }.sortBy(_._1)
    val got = graft.text.CorpusStats.contaminationScreen(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == model && got.nonEmpty)
  }

  test("q190 flags exactly the planted eval-copying train doc") {
    import spark.implicits._
    // eval doc 7 (7 % 101 == 7); train doc 100 copies an 8-word span of
    // it, train doc 101 shares only shorter overlaps
    val evalText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val rows = Seq(
      (7L, evalText, "en", "srcE", evalText.length.toLong),
      (100L, "x y " + evalText.split(" ").take(8).mkString(" ") + " z", "en", "srcA", 10L),
      (101L, "alpha beta gamma delta epsilon zeta eta unrelated words here", "en", "srcA", 10L),
      (102L, "completely different content with no overlap at all whatsoever now", "en", "srcB", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.text.CorpusStats.contaminationOf(rows).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(("srcA", 2L, 1L, 1L, 100L), ("srcB", 1L, 0L, 0L, 0L)))
  }

  test("q191 perplexity buckets equal the sequential trigram-LM model") {
    import graft.text.CorpusStats.{PpxBuckets, PpxTarget, PpxTiles}
    def h60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    def bits(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    def grams(t: String): Seq[Long] = {
      val s = t.toLowerCase
      if (s.length < 3) Seq()
      else (0 to s.length - 3).map(i => h60(s.substring(i, i + 3)) % PpxBuckets)
    }
    val nt = docs.filter(_._3 == PpxTarget).flatMap(d => grams(d._4))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bitsT1 = bits(nt.values.sum + PpxBuckets)
    def wu(g: Long): Long = bitsT1 - bits(nt.getOrElse(g, 0L) + 1)
    val scored = docs.map { case (id, lang, _, t) => (id, lang, grams(t)) }
      .filter(_._3.nonEmpty)
      .map { case (id, lang, gs) => (id, lang, 100L * gs.map(wu).sum / gs.size) }
    val n = scored.size.toLong
    val ranked = scored.sortBy { case (id, _, cb) => (cb, id) }.zipWithIndex
      .map { case ((id, lang, cb), i) => (id, lang, cb, i.toLong * PpxTiles / n + 1) }
    val model = ranked.groupBy(x => (x._2, x._4)).toSeq.map { case ((lang, b), xs) =>
      (lang, b, xs.length.toLong, xs.map(_._3).sum, xs.map(_._1).foldLeft(0L)(_ ^ _))
    }.sortBy(x => (x._1, x._2))
    val got = graft.text.CorpusStats.perplexityBuckets(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == model && got.nonEmpty)
    // equal-depth: bucket sizes differ by at most 1 per lang-marginal sum
    val sizes = (1 to PpxTiles).map(b => got.filter(_._2 == b).map(_._3).sum)
    assert(sizes.max - sizes.min <= 1)
  }

  test("q191 sends a target-trigram-poor outlier to the tail tier") {
    import spark.implicits._
    // target (src0) docs establish the LM; nine lookalikes score low,
    // the digit-soup outlier (doc 99) must land in bucket 3
    val like = "the quick brown fox jumps over the lazy dog again and again"
    val rows = (0L until 9L).map(i => (i, like + " run " + like, "en",
        if (i < 4) "src0" else "srcX", 10L)) :+
      (99L, "09182 73645 56473 82910 47382 91827 36455 64738 29104 73829", "en", "srcX", 10L)
    val got = graft.text.CorpusStats
      .perplexityOf(spark, rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4))).toSeq
    // 10 docs -> tiers of 4/3/3 (rn 1-4, 5-7, 8-10). Docs 0-8 share one
    // text (equal scores, doc_id tie-break), the outlier has the unique
    // max score -> tail = {7, 8, 99}: membership pinned by the xor
    // fingerprint, head/middle sizes by the census counts.
    assert(got.map(x => (x._2, x._3)) == Seq((1L, 4L), (2L, 3L), (3L, 3L)))
    assert(got.find(_._2 == 3L).get._4 == (7L ^ 8L ^ 99L))
  }

  test("q186 trigram-profile kernel equals a hand-computed Cavnar-Trenkle profile") {
    import spark.implicits._
    val df = Seq("ababab", "xy", "").toDF("text")
      .select(graft.functions.TextKernels
        .triProfile(lower(col("text")), 20).as("p"))
    val got = df.collect().map(_.getSeq[String](0).toSeq).toSeq
    // "ababab": trigrams aba(2) bab(2) — ties break gram-asc; "xy"/"" too short
    assert(got == Seq(Seq("aba", "bab"), Seq(), Seq()))
  }

  test("ct-distances kernel ≡ HOF out-of-place fold over the corpus and edges") {
    import spark.implicits._
    // real trained profiles from the harness corpus, scored over every
    // doc's profile — the exact frames q186/q237/q238 run the kernel on
    val docs = graft.Tables.documents(spark, sfDir)
    val langs = docs.select(col("lang")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val profiles = CorpusStats.langTrigramProfiles(docs)
    val maps = langs.map(l => profiles.getOrElse(l, Map.empty[String, Int]))
    val base = docs
      .select(graft.functions.TextKernels
        .triProfile(lower(coalesce(col("text"), lit(""))), 20).as("prof"))
    val diff = base
      .withColumn("kernel",
        graft.functions.TextKernels.ctDistances(col("prof"), maps, 100))
      .withColumn("hof", array(maps.map(m =>
        ctDistHof(col("prof"), m)): _*))
      .filter(col("kernel") =!= col("hof"))
    assert(diff.count() == 0)
    // edges: empty profile (all-zero distances), absent grams (default
    // distance), empty category profile, exact-rank hits
    val edge = Seq(Seq.empty[String], Seq("zzz"), Seq("aba", "bab"))
      .toDF("prof")
    val m = Map("aba" -> 1, "bab" -> 7)
    val got = edge
      .select(
        graft.functions.TextKernels.ctDistances(col("prof"), Seq(m, Map.empty), 100)
          .as("kernel"),
        array(ctDistHof(col("prof"), m),
          ctDistHof(col("prof"), Map.empty)).as("hof"))
      .collect()
    got.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
      s"edge mismatch: ${r.getSeq[Long](0)} vs ${r.getSeq[Long](1)}"))
    // hand value: prof=[aba,bab] vs m: |1-1| + |2-7| = 5; vs empty: 200
    assert(got(2).getSeq[Long](0) == Seq(5L, 200L))
  }

  test("q186 recovers planted mislabeled docs exactly on a separable corpus") {
    import spark.implicits._
    // three synthetic languages with disjoint alphabets; 5 of the 60 docs
    // are PLANTED with a wrong label (content from another language)
    val words = Map("aa" -> Seq("aba", "bac", "cab"), "bb" -> Seq("xyx", "yzx", "zxy"),
      "cc" -> Seq("mnm", "nom", "omn"))
    def text(trueLang: String, seed: Int): String =
      (0 until 12).map(i => words(trueLang)((seed + i) % 3)).mkString(" ")
    val rows = (for {
      (l, li) <- Seq("aa", "bb", "cc").zipWithIndex
      i <- 0 until 20
    } yield {
      val id = (li * 20 + i).toLong
      val planted = id % 12 == 7 // 5 of 60
      val label = if (planted) Seq("aa", "bb", "cc")((li + 1) % 3) else l
      (id, text(l, i), label, s"src${id % 3}", planted, l)
    })
    val docs = rows.map(t => (t._1, t._2, t._3, t._4))
      .toDF("doc_id", "text", "lang", "source")
    val langs = Seq("aa", "bb", "cc")
    val profiles = graft.text.CorpusStats.langTrigramProfiles(docs)
    val scored = graft.text.CorpusStats.langIdScored(docs, langs, profiles)
      .select(col("doc_id"), col("lang"), col("pred_lang")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    for ((id, _, label, _, planted, trueLang) <- rows) {
      val (gotLabel, pred) = scored(id)
      assert(gotLabel == label)
      // the classifier recovers the CONTENT language for every doc, so
      // disagreement flags exactly the planted set
      assert(pred == trueLang, s"doc $id: pred $pred != true $trueLang")
      assert((pred != gotLabel) == planted, s"doc $id planted=$planted")
    }
  }

  test("plan locks: chunking is shuffle-free, sampling/packing/redaction one-shuffle") {
    // the documented 100 TB shapes, made checkable: q62's only exchange is
    // the presentation sort; q60 adds its audit aggregation, q63 its
    // per-source window (whose partitioning the report agg reuses), and
    // q61 the fanOut round-robin that parallelizes its regex passes above
    // the unsplittable scan
    assert(shuffleCount(CorpusStats.tokenWindows(spark, sfDir)) == 1, "q62: sort only")
    assert(shuffleCount(CorpusStats.stratifiedSample(spark, sfDir)) == 2, "q60: agg + sort")
    assert(shuffleCount(CorpusStats.sequencePack(spark, sfDir)) == 2, "q63: window + sort")
    assert(shuffleCount(CorpusStats.piiRedact(spark, sfDir)) == 2, "q61: fanOut + sort")
  }

  test("piiRedact plants and scrubs exactly one of each PII class per doc") {
    val rows = CorpusStats.piiRedact(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == 1L, s"n_emails doc ${r.getLong(0)}")
      assert(r.getLong(2) == 1L, s"n_ips doc ${r.getLong(0)}")
      assert(r.getLong(3) == 1L, s"n_phones doc ${r.getLong(0)}")
    }
  }

  test("q124: Hare allocation telescopes to S, quotas within ±1 of proportional, every quota filled") {
    val rows = CorpusStats.exactStratifiedSample(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val n = rows.map(_._2).sum
    val s = n / 10
    // largest-remainder invariants: Σalloc == S exactly, and each alloc is
    // floor or ceil of the exact proportional share n_l·S/N
    assert(rows.map(_._3).sum == s, s"allocation must telescope to S=$s")
    rows.foreach { case (lang, nl, alloc, nSampled, _) =>
      val base = (nl * s) / n
      assert(alloc == base || alloc == base + 1,
        s"$lang: alloc $alloc outside [floor, ceil] of proportional ${nl * s}/$n")
      assert(nSampled == alloc, s"$lang: selection must fill the quota exactly")
    }
    // determinism: repeated run yields identical audit rows (pure function
    // of the data — no RNG, no partitioning dependence)
    val again = CorpusStats.exactStratifiedSample(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(again.toSeq == rows.toSeq)
  }

  test("q127 takedown: counts telescope, requests really delete, survivors re-fingerprint") {
    val rows = CorpusStats.takedownPropagation(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, n, del, kept, _) =>
      assert(del + kept == n, s"$src: deleted + kept must equal total")
      assert(del >= 0 && kept >= 0)
    }
    assert(rows.map(_._3).sum > 0, "the fixture deletion list must be non-empty")
    // survivors-only fingerprint differs from the all-docs fingerprint for
    // any source that lost a doc (XOR of a non-empty removed set ≠ 0)
    import org.apache.spark.sql.functions._
    val fullFp = graft.Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .agg(expr("bit_xor(cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint))").as("fp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.filter(_._3 > 0).foreach { case (src, _, _, _, keptFp) =>
      assert(keptFp != fullFp(src), s"$src: fingerprint must change after deletion")
    }
  }

  test("q130 shard balance: serpentine model match, every stratum placed once, loads bounded") {
    import org.apache.spark.sql.functions._
    val n = CorpusStats.BalanceShards
    val rows = CorpusStats.shardBalance(spark, sfDir).collect()
    assert(rows.length == n)
    assert(rows.map(_.getInt(0)).toSeq == (0 until n))

    // independent model: strata sizes from a plain aggregate, serpentine in Scala
    val strata = graft.Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("n_chars")).cast("long").as("chars"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy { case (src, lang, c) => (-c, src, lang) }
    val model = strata.zipWithIndex.map { case ((src, lang, c), rnk) =>
      val pass = rnk / n; val pos = rnk % n
      val shard = if (pass % 2 == 0) pos else n - 1 - pos
      (shard, src, lang, c)
    }
    assert(model.map(m => (m._2, m._3)).distinct.length == strata.length,
      "a stratum placed twice")
    val loads = model.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    for (r <- rows)
      assert(r.getLong(2) == loads(r.getInt(0)),
        s"shard ${r.getInt(0)}: total ${r.getLong(2)} != model ${loads(r.getInt(0))}")
    assert(rows.map(_.getLong(1)).sum == strata.length)

    // serpentine keeps loads within one max-stratum of each other here —
    // an empirical lock on THIS distribution, guarding placement drift
    val largest = strata.head._3
    assert(loads.values.max - loads.values.min <= largest,
      s"spread ${loads.values.max - loads.values.min} exceeds largest stratum $largest")
  }

  test("q174 digram self-information equals a Scala model; repetition scores lowest") {
    def bits(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // admission on RAW length (the oracle's WHERE), digrams on lowered
    val model = docs.filter(_._2.length >= 2).map { case (id, raw) =>
      val t = raw.toLowerCase
      val grams = (0 until t.length - 1).map(i => t.substring(i, i + 2))
      val counts = grams.groupBy(identity).view.mapValues(_.size.toLong)
      val n = grams.length.toLong
      val ent = counts.values.map(c => c * (bits(n) - bits(c))).sum
      val bp = if (n > 1) 10000L * ent / (n * (bits(n) - 1)) else 0L
      (id, n, ent, bp, bp < 3000L)
    }.sortBy(_._1).toSeq
    val got = CorpusStats.entropyQuality(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq
    assert(got == model && got.nonEmpty)
    // discriminative sanity: a pathological repeated-char doc must score
    // below every natural-text doc of comparable length
    import spark.implicits._
    val synth = Seq((1L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("entropy").toString
    synth.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val degenerate = CorpusStats.entropyQuality(spark, tmp).collect()(0)
    assert(degenerate.getLong(2) == 0L && degenerate.getBoolean(4),
      "an all-identical-digram doc must have zero self-information and flag low")
  }

  test("q176 padding waste equals a Scala model; length-sorting never loses") {
    val b = CorpusStats.PadBatch.toInt
    val lens = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), scalaTokens(r.getString(1).toLowerCase).size.toLong))
    def audit(tag: String, ordered: Seq[Long]): (String, Long, Long, Long, Long) = {
      val batches = ordered.grouped(b).toSeq
      val total = ordered.sum
      val padded = batches.map(g => g.size * g.max).sum
      (tag, batches.size.toLong, total, padded, 10000L * (padded - total) / padded)
    }
    val model = Seq(
      audit("1_arrival", lens.sortBy(_._1).map(_._2).toSeq),
      audit("2_length_sorted", lens.sortBy(l => (l._2, l._1)).map(_._2).toSeq))
    val got = CorpusStats.paddingWaste(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == model)
    // sorting by length can only reduce the padded volume
    assert(got(1)._4 <= got(0)._4, "length-sorted batching must not pad more")
  }

  test("q177 Gini equals a Scala model and a transfer raises it") {
    def gini(xs: Seq[Long]): Long = {
      val s = xs.sorted
      val n = s.size.toLong
      val tot = s.sum
      val ix = s.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      10000L * (2 * ix - (n + 1) * tot) / (n * tot)
    }
    val mass = graft.Tables.documents(spark, sfDir)
      .select("source", "text").collect()
      .map(r => r.getString(0) -> scalaTokens(r.getString(1).toLowerCase).size.toLong)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
    val xs = mass.map(_._2).toSeq
    val row = CorpusStats.sourceConcentration(spark, sfDir).collect()(0)
    assert(row.getLong(0) == xs.size.toLong && row.getLong(1) == xs.sum)
    assert(row.getLong(2) == gini(xs))
    val sorted = mass.sortBy(m => (m._2, m._1))
    val topHalf = sorted.zipWithIndex
      .collect { case ((_, x), i) if (i + 1) * 2 > sorted.size => x }.sum
    assert(row.getLong(3) == 10000L * topHalf / xs.sum)
    assert(row.getLong(2) >= 0 && row.getLong(2) < 10000)
    // Pigou-Dalton direction: moving mass from the poorest source to the
    // richest must increase Gini (model-level sanity of the formula)
    if (xs.size >= 2) {
      val s = xs.sorted
      val transfer = (s.head + 1) / 2
      val moved = (s.head - transfer) +: s.tail.init :+ (s.last + transfer)
      assert(gini(moved) >= gini(xs))
    }
  }

  test("q175 source divergence equals a BigInt Scala model; TV within [0, 10000]") {
    val rows = graft.Tables.documents(spark, sfDir)
      .select("source", "text").collect()
      .map(r => r.getString(0) -> scalaTokens(r.getString(1).toLowerCase))
    val st = rows.flatMap { case (s, ts) => ts.map(s -> _) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nT = st.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val nS = st.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val total = nS.values.sum
    val model = nS.keys.toSeq.sorted.map { s =>
      val present = st.collect { case ((`s`, w), n) => (w, n) }
      val dev = present.map { case (w, n) =>
        (BigInt(n) * total - BigInt(nT(w)) * nS(s)).abs
      }.sum
      val presentMass = present.map { case (w, _) => nT(w) }.sum
      val tvNum = dev + BigInt(nS(s)) * (total - presentMass)
      val bp = (BigInt(10000) * tvNum / (BigInt(2) * nS(s) * total)).toLong
      (s, nS(s), present.size.toLong, bp)
    }
    val got = CorpusStats.sourceDivergence(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == model && got.nonEmpty)
    assert(got.forall(r => r._4 >= 0 && r._4 <= 10000), "TV is a probability distance")
  }

  test("q180 mojibake: repair inverts the damage, detector flags exactly the planted docs") {
    import CorpusStats.{MojibakePairs, MojiTrueSuffix, mojibakeCorrupt}
    // the repair chain as the engine runs it: reverse pair order so the
    // 3-char artifacts are consumed before any pattern could see their tails
    def repair(s: String): String =
      MojibakePairs.reverse.foldLeft(s) { case (acc, (g, b)) => acc.replace(b, g) }
    // round-trip on the suffix itself (this is what first failed: a
    // sequential corrupt chain corrupted '–'s own artifact via '“')
    assert(repair(mojibakeCorrupt(MojiTrueSuffix)) == MojiTrueSuffix)
    // the TRUE accented suffix carries zero artifacts — the detector
    // flags double-encoding, not non-ASCII
    val re = CorpusStats.MojibakeRe.r
    assert(re.findAllIn(MojiTrueSuffix).isEmpty)
    val artifactsPerDoc = re.findAllIn(mojibakeCorrupt(MojiTrueSuffix)).size
    assert(artifactsPerDoc == MojibakePairs.map(p =>
      MojiTrueSuffix.count(_ == p._1.charAt(0))).sum, "every damaged char detected")

    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.map("%02x".format(_)).mkString.take(15), 16)
    }
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val planted = docs.filter { case (id, _) => h60(s"moj:$id") % 100 < 20 }.map(_._1).toSet
    assert(planted.nonEmpty && planted.size < docs.length, "plant rate must split the corpus")

    val got = CorpusStats.mojibakeRepair(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val bySource = docs.groupBy(_._2)
    assert(got.keySet == bySource.keySet)
    bySource.foreach { case (src, ds) =>
      val nPlanted = ds.count(d => planted(d._1)).toLong
      val (nDocs, nFlagged, nArt, nOk) = got(src)
      assert(nDocs == ds.length.toLong, s"$src n_docs")
      assert(nFlagged == nPlanted, s"$src flags exactly the planted docs")
      assert(nArt == nPlanted * artifactsPerDoc, s"$src artifact count")
      assert(nOk == nDocs, s"$src every doc repairs to its undamaged twin")
    }
  }

  test("q182 span excision equals a Scala model; conservation and <12-token docs untouched") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def h60(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    val W = CorpusStats.SpanW
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), scalaTokens(r.getString(2).toLowerCase)))

    // duplicated spans: md5 of each W-token window, present in >= 2 docs
    val spanDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
    docs.foreach { case (id, _, toks) =>
      toks.sliding(W).filter(_.size == W).foreach { w =>
        val h = md5hex(w.mkString(" "))
        spanDocs(h) = spanDocs.getOrElse(h, Set.empty) + id
      }
    }
    val dup = spanDocs.filter(_._2.size >= 2).keySet
    // repaired doc = tokens at positions not covered by any duplicated span
    val model = docs.map { case (id, src, toks) =>
      val covered = Array.fill(toks.size)(false)
      toks.sliding(W).zipWithIndex.foreach { case (w, i) =>
        if (w.size == W && dup(md5hex(w.mkString(" "))))
          (i until i + W).foreach(covered(_) = true)
      }
      val kept = toks.zipWithIndex.collect { case (t, i) if !covered(i) => t }
      (id, src, toks.size.toLong, kept.size.toLong, kept.mkString(" "))
    }
    assert(model.exists { case (_, _, b, a, _) => a < b },
      "fixture must exercise the excision path (some doc touched)")
    assert(model.filter(_._3 < W).forall { case (_, _, b, a, _) => a == b },
      "docs shorter than one span are never touched")

    val got = CorpusStats.spanExcision(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val bySource = model.groupBy(_._2)
    assert(got.keySet == bySource.keySet)
    bySource.foreach { case (src, ms) =>
      val (nDocs, nTouched, tokB, tokA, fp) = got(src)
      assert(nDocs == ms.length.toLong, s"$src n_docs")
      assert(nTouched == ms.count { case (_, _, b, a, _) => a < b }.toLong, s"$src n_touched")
      assert(tokB == ms.map(_._3).sum, s"$src tokens before")
      assert(tokA == ms.map(_._4).sum, s"$src tokens after (conservation)")
      val expFp = ms.map { case (id, _, _, _, rep) => h60(s"$id\u001f$rep") }
        .foldLeft(0L)(_ ^ _)
      assert(fp == expFp, s"$src repaired-content fingerprint")
    }
  }

  test("textQualityStats kernel \u2261 HOF feature chain over the corpus + edges") {
    import spark.implicits._
    val kernelOf = (df: org.apache.spark.sql.DataFrame) => df.select(col("doc_id"),
        graft.functions.TextKernels
          .textQualityStats(col("text"), CorpusStats.QualityStop).as("q"))
      .select(col("doc_id"), col("q.n_tokens").as("n_tokens"),
        col("q.n_chars").as("n_chars"), col("q.n_punct").as("n_punct"),
        col("q.n_digit").as("n_digit"), col("q.tok_chars").as("tok_chars"),
        col("q.n_stop").as("n_stop"))
    val corpus = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val a = qualityFeaturesHof(corpus)
    val b = kernelOf(corpus)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "kernel != HOF over the corpus")
    // edges: empty, whitespace-only (every Java \\s char), non-ASCII
    // (punct class), digits, stop words at boundaries, Kelvin sign
    // (\u212A lowercases to ASCII k), non-BMP emoji, tabs/newlines
    val edges = Seq(
      (1L, ""), (2L, " \t\n\u000b\f\r "), (3L, "caf\u00e9 the THE tHe"),
      (4L, "a1b2 33 ...!!"), (5L, "\u212A \u212Aelvin"), (6L, "\ud83d\ude00 x"),
      (7L, "the"), (8L, "  leading and trailing  "),
      (9L, "\u65e5\u672c\u8a9e 12 it")).toDF("doc_id", "text")
    val ae = qualityFeaturesHof(edges).orderBy("doc_id").collect()
    val be = kernelOf(edges).orderBy("doc_id").collect()
    ae.zip(be).foreach { case (x, y) => assert(x == y, s"edge divergence: $x vs $y") }
  }

  test("tokenCount kernel \u2261 size(tokens(text)) over the corpus + edges") {
    import spark.implicits._
    import graft.llm.Similarity.tokens
    val corpus = graft.Tables.documents(spark, sfDir).select("text")
    val diff = corpus.select(
        size(tokens(col("text"))).as("hof"),
        graft.functions.TextKernels.tokenCount(col("text")).as("k"))
      .filter(col("hof") =!= col("k"))
    assert(diff.count() == 0)
    val edges = Seq("", " \t\n\u000b\f\r ", "a", " a ", "a b  c",
      "caf\u00e9\u00a0x", "\u3000two\u3000", "\ud83d\ude00 \u212A x")
      .toDF("text")
    val got = edges.select(size(tokens(col("text"))).as("hof"),
      graft.functions.TextKernels.tokenCount(col("text")).as("k")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1), s"edge: $r"))
  }

  test("repetitionStats kernel \u2261 explode formulation over the corpus + edges") {
    import spark.implicits._
    import graft.llm.Similarity.tokens
    def hofOf(df: org.apache.spark.sql.DataFrame) = {
      val base = df.select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      val words = base.select(col("doc_id"), explode(col("toks")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).cast("long").as("n_tokens"),
          count(lit(1)).cast("long").as("n_distinct"),
          max(col("n")).cast("long").as("top_word_n"))
      val nBg = size(col("toks")) - 1
      val bigramArr = when(nBg > 0,
        transform(sequence(lit(1), nBg), i =>
          concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1))))
        .otherwise(array().cast("array<string>"))
      val bigrams = base.select(col("doc_id"), explode(bigramArr).as("b"))
        .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).cast("long").as("n_bigrams"),
          max(col("n")).cast("long").as("top_bigram_n"))
      df.select(col("doc_id")).join(words, Seq("doc_id"), "left")
        .join(bigrams, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_tokens"), lit(0L)),
          coalesce(col("n_distinct"), lit(0L)), coalesce(col("top_word_n"), lit(0L)),
          coalesce(col("n_bigrams"), lit(0L)), coalesce(col("top_bigram_n"), lit(0L)))
    }
    def kernelOf(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
        graft.functions.TextKernels.repetitionStats(col("text")).as("r"))
      .select(col("doc_id"), coalesce(col("r.n_tokens"), lit(0L)),
        coalesce(col("r.n_distinct"), lit(0L)), coalesce(col("r.top_word_n"), lit(0L)),
        coalesce(col("r.n_bigrams"), lit(0L)), coalesce(col("r.top_bigram_n"), lit(0L)))
    val corpus = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val a = hofOf(corpus); val b = kernelOf(corpus)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    val edges = Seq((1L, ""), (2L, "  "), (3L, "a"), (4L, "a a a"),
      (5L, "a b a b a"), (6L, "A a \u00c9 \u00e9"), (7L, "x y"),
      (8L, "one two one two two one")).toDF("doc_id", "text")
    val ae = hofOf(edges).orderBy("doc_id").collect()
    val be = kernelOf(edges).orderBy("doc_id").collect()
    ae.zip(be).foreach { case (x, y) => assert(x == y, s"edge: $x vs $y") }
  }
}
