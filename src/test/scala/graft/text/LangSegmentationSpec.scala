package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q237's exact-recovery proof: on a corpus whose "languages" have fully
  * DISJOINT character vocabularies, the windowed Cavnar-Trenkle
  * segmenter must recover the planted segment structure exactly — every
  * mixed doc is body[2 windows] ++ insert[1 window] ++ body[2 windows]
  * with window-aligned boundaries, so a correct classifier yields
  * precisely (body_lang: 2 segments / 4 windows, ins_lang: 1 segment /
  * 1 window). The harness-corpus oracle gate (CORRECTNESS) pins the
  * cross-engine arithmetic; THIS spec pins that the algorithm segments,
  * not merely that two engines agree. */
class LangSegmentationSpec extends SparkSpec {

  private val W = CorpusStats.SegWinTokens

  // Three "languages" over disjoint alphabets: every character trigram of
  // one (including space-straddling grams) is absent from the others, so
  // the out-of-place distance to a wrong language is maximal by
  // construction.
  private def word(alpha: String, i: Int): String = {
    val a = alpha(i % 3); val b = alpha((i / 3) % 3); val c = alpha((i / 9) % 3)
    s"$a$b$c"
  }
  private def docText(alpha: String, seed: Int, n: Int): String =
    (0 until n).map(i => word(alpha, seed + i)).mkString(" ")

  test("planted mixed-language docs are segmented exactly on a disjoint-vocab corpus") {
    val spark0 = spark
    import spark0.implicits._
    val alphabets = Map("la" -> "abc", "lb" -> "def", "lc" -> "ghi")
    val rows = for {
      (lang, base) <- Seq("la" -> 0L, "lb" -> 100L, "lc" -> 200L)
      j <- 1 to 10
    } yield (base + j, lang, docText(alphabets(lang), j * 7, 5 * W))
    val docs = rows.toDF("doc_id", "lang", "text")

    val got = CorpusStats.langSegmentationOn(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5)))

    // partner = next lang sorted-cyclically: la->lb, lb->lc, lc->la
    val partner = Map("la" -> "lb", "lb" -> "lc", "lc" -> "la")
    val expectedDocs = for {
      (lang, base) <- Seq("la" -> 0L, "lb" -> 100L, "lc" -> 200L)
      j <- 1 to CorpusStats.SegPairsPerLang
    } yield (base + j, lang, partner(lang))
    assert(got.map(_._1).distinct.sorted.toSeq == expectedDocs.map(_._1).sorted,
      s"wrong planted doc set: ${got.map(_._1).distinct.sorted.toSeq}")

    // exact recovery: body lang in 2 segments / 4 windows, insert lang in
    // 1 segment / 1 window — nothing else predicted anywhere
    val byDoc = got.groupBy(_._1)
    for ((docId, body, ins) <- expectedDocs) {
      val rows = byDoc(docId).sortBy(_._4).toSeq
      assert(rows == Seq(
        (docId, body, ins, body, 2L, 4L),
        (docId, body, ins, ins, 1L, 1L)).sortBy(_._4),
        s"doc $docId (body=$body ins=$ins) mis-segmented: $rows")
    }
  }

  test("corpus-wide span census: pure docs are one segment, a planted mixed doc splits") {
    val spark0 = spark
    import spark0.implicits._
    // 4 pure docs per lang at 2 windows each, plus ONE hand-mixed doc:
    // la-window ++ lb-window ++ la-window (3 segments, window-aligned)
    val pure = for {
      (lang, base) <- Seq("la" -> 0L, "lb" -> 100L)
      j <- 1 to 4
    } yield (base + j, "web", lang, docText(Map("la" -> "abc", "lb" -> "def")(lang), j * 5, 2 * W))
    val mixedText = docText("abc", 3, W) + " " + docText("def", 3, W) +
      " " + docText("abc", 17, W)
    val docs = (pure :+ ((500L, "web", "la", mixedText)))
      .toDF("doc_id", "source", "lang", "text")
    val got = CorpusStats.spanLangCensusOn(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // pure: 4 docs/lang x (1 segment, 2 windows); mixed doc (labeled la):
    // 2 la-segments/2 windows + 1 lb-segment/1 window
    assert(got == Seq(
      ("web", "la", "la", 5L, 4L + 2L, 8L + 2L),
      ("web", "la", "lb", 1L, 1L, 1L),
      ("web", "lb", "lb", 4L, 4L, 8L)), s"census wrong: $got")
  }

  test("segment merge handles the all-one-language degenerate case") {
    val spark0 = spark
    import spark0.implicits._
    // one language only: partner(cyclic) = itself, so the planted doc is
    // 5 windows of ONE language — exactly one segment must come back
    val docs = (1 to 3)
      .map(j => (j.toLong, "la", docText("abc", j * 11, 5 * W)))
      .toDF("doc_id", "lang", "text")
    val got = CorpusStats.langSegmentationOn(docs).collect()
      .map(r => (r.getLong(0), r.getString(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq.sorted == Seq((1L, "la", 1L, 5L), (2L, "la", 1L, 5L),
      (3L, "la", 1L, 5L)), s"degenerate census wrong: ${got.toSeq.sorted}")
  }

  test("q238 scores above its doc_id exchange, with the exchange count of its one-task plan") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = executedPlanOf(CorpusStats.spanLangCensus(spark, sfDir))
    val shuffles = allPlanNodes(plan).collect { case s: ShuffleExchangeExec => s }
    // the doc_id partitioning (it replaced the segment window's own), the
    // census aggregate and the single-partition sort: the count the plan
    // had when scoring ran in the scan's one task
    assert(shuffles.size == 3, s"q238 plans ${shuffles.size} shuffle exchanges")
    def byDocId(p: SparkPlan): Boolean = p match {
      case s: ShuffleExchangeExec => s.outputPartitioning match {
        case h: HashPartitioning => h.references.map(_.name).toSet == Set("doc_id")
        case _ => false
      }
      case _ => false
    }
    // the scoring kernel runs in the stage that reads the doc_id exchange,
    // not in the scan's stage below it
    val scoring = allPlanNodes(plan).filter(_.expressions.exists(_.exists(
      _.isInstanceOf[graft.functions.CtDistances])))
    assert(scoring.nonEmpty, "no CtDistances in the plan")
    assert(scoring.forall(n => allPlanNodes(n).exists(byDocId)),
      "the window scoring runs below the doc_id exchange")
  }
}
