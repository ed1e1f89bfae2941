package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.Similarity

/** The streaming twin of q218's composition: ONE discovered-crawl
  * scenario driven through all FOUR ingest doors (frontier, exact-hash,
  * near-dup, containment), each door's stream output checked against a
  * batch recomputation of the same verdict, and the COMPOSED admit set
  * (pass every door) checked against the hand-derived truth. Each door
  * has its own spec (FrontierStreamSpec, StreamingSpec's ingest dedup,
  * NearDupStreamSpec, ContainmentStreamSpec — state/restart semantics
  * live there); what THIS spec pins is the composition: a doc admitted
  * by one door must still be vetoed by another, with no double
  * counting and no door consuming another's rejects. */
class CrawlIngestStreamSpec extends SparkSpec {

  private val base = 1700000000000L
  private def ts(i: Int) = new java.sql.Timestamp(base + i * 10000L)

  test("four doors, one discovered stream: per-door ≡ batch, composed admit") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // corpus doc B: 40 distinct tokens (long enough that one appended
    // token stays above the 0.9 Jaccard cut and a 30-token prefix
    // stays below it while its trigrams remain fully contained)
    val bToks = (1 to 40).map(i => f"btok$i%02d")
    val textB = bToks.mkString(" ")
    val textC = (1 to 20).map(i => f"ctok$i%02d").mkString(" ")
    val corpus = Seq((100L, "https://corpus.example/100", textB),
      (101L, "https://corpus.example/101", textC)).toDF("doc_id", "url", "text")
    val cat = Streaming.ensureIngestCatalog(spark, "crawl_ingest_stream_spec", corpus)
    val landedFrontier = Seq("https://seen.com/old?id=1").toDF("url")

    val uniq1 = "unique first document with its own words"
    // (url, ts-index, doc_id, text, expected fate)
    val d1 = ("https://new.com/a", 0, 1L, uniq1) // admitted
    val d2 = ("HTTPS://NEW.com:443/a#f", 1, 2L, "another unique text two") // frontier dup
    val d3 = ("https://seen.com/old?utm_source=z&id=1", 2, 3L, "unique text three") // landed
    val d4 = ("https://new.com/b", 3, 4L, textB) // exact corpus dup
    val d5 = ("https://new.com/c", 9, 5L, uniq1) // stream dup of d1 (later batch)
    val d6 = ("https://new.com/d", 5, 6L, textB + " extraword") // near-dup of B
    val d7 = ("https://new.com/e", 6, 7L, bToks.take(30).mkString(" ")) // contained in B
    val d8 = ("not a url", 7, 8L, "junk url text")
    val batch1 = Seq(d1, d2, d3, d4, d6, d7, d8)
    val batch2 = Seq(d5)
    val all = batch1 ++ batch2

    // ---------------- batch recomputation of each door's verdict
    val canonOf = all.map { case (u, _, id, _) => id -> graft.web.Url.canonicalize(u) }.toMap
    val landedCanon = Set(graft.web.Url.canonicalize("https://seen.com/old?id=1"))
    val frontierAdmit = all
      .filter { case (_, _, id, _) => canonOf(id) != null && !landedCanon(canonOf(id)) }
      .groupBy { case (_, _, id, _) => canonOf(id) }
      .map { case (_, rows) => rows.minBy(_._2)._3 }.toSet

    def md5Of(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val corpusHashes = Set(md5Of(textB), md5Of(textC))
    val exactAdmit = all.groupBy { case (_, _, _, t) => md5Of(t) }
      .filter { case (h, _) => !corpusHashes(h) }
      .map { case (_, rows) => rows.minBy(_._2)._3 }.toSet

    // near-dup batch model (NearDupStreamSpec's): band collision + exact verify
    def setsOf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .select(col("doc_id"), Similarity.hashedShingles(col("text")).as("hs"),
        Similarity.minhashSignature(Similarity.hashedShingles(col("text"))).as("sig"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet,
        r.getSeq[Long](2).toVector))
    val corSets = setsOf(Seq(100L -> textB, 101L -> textC))
    val incSets = setsOf(all.map { case (_, _, id, t) => id -> t })
    def bandsOf(sig: Vector[Long]) = (0 until Similarity.Bands)
      .map(b => sig.slice(b * Similarity.RowsPerBand, (b + 1) * Similarity.RowsPerBand))
    val nearDupFlagged = incSets.filter { case (_, hi, si) =>
      corSets.exists { case (_, hc, sc) =>
        bandsOf(si).zip(bandsOf(sc)).exists { case (x, y) => x == y } && {
          val (a, b) = (hi.size.toLong, hc.size.toLong)
          math.min(a, b) * 10 >= math.max(a, b) * 9 && {
            val n = hi.intersect(hc).size.toLong
            10000 * n / (a + b - n) >= 9000
          }
        }
      }
    }.map(_._1).toSet

    // containment batch model: hashed-trigram subset ratio ≥ 0.9
    def triSets(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .select(col("doc_id"),
        Similarity.gram3Hashed(Similarity.tokens(col("text"))).as("hs"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet))
    val corTris = triSets(Seq(100L -> textB, 101L -> textC))
    val containedFlagged = triSets(all.map { case (_, _, id, t) => id -> t })
      .filter { case (_, hi) => hi.nonEmpty && corTris.exists { case (_, hc) =>
        10 * hc.size >= 9 * hi.size &&
          10 * hi.intersect(hc).size >= 9 * hi.size } }
      .map(_._1).toSet

    // hand-derived truth: only d1 survives every door
    assert(frontierAdmit == Set(1L, 4L, 5L, 6L, 7L), frontierAdmit)
    assert(exactAdmit == Set(1L, 2L, 3L, 6L, 7L, 8L), exactAdmit)
    assert(nearDupFlagged == Set(4L, 6L), nearDupFlagged)
    assert(containedFlagged.contains(7L) && containedFlagged.contains(4L)
      && !containedFlagged.contains(1L), containedFlagged)
    val admitModel = frontierAdmit intersect exactAdmit diff
      nearDupFlagged diff containedFlagged
    assert(admitModel == Set(1L))

    // ---------------- the four streaming doors on the same data
    def docRows(rows: Seq[(String, Int, Long, String)]) =
      rows.map { case (_, i, id, t) => Streaming.DocIngestRow(id, ts(i), "s", t) }
    val sentinel = Streaming.DocIngestRow(-1L,
      new java.sql.Timestamp(base + 48L * 3600 * 1000), "zz", "zz zz zz zz")

    val urlStream = MemoryStream[Streaming.UrlIngestRow]
    val exStream = MemoryStream[Streaming.DocIngestRow]
    val ndStream = MemoryStream[Streaming.DocIngestRow]
    val ctStream = MemoryStream[Streaming.DocIngestRow]
    val corpusDf = corpus
    val qs = Seq(
      Streaming.frontierIngestStream(urlStream.toDF()
        .select(col("url"), col("ts")), landedFrontier)
        .writeStream.format("memory").queryName("ci_frontier")
        .outputMode("append").start(),
      Streaming.ingestDedup(ndRename(exStream.toDF()), corpusDf)
        .writeStream.format("memory").queryName("ci_exact")
        .outputMode("append").start(),
      Streaming.nearDupIngestStream(ndStream.toDF(), cat)
        .writeStream.format("memory").queryName("ci_neardup")
        .outputMode("append").start(),
      Streaming.containmentIngestStream(ctStream.toDF(), cat)
        .writeStream.format("memory").queryName("ci_contain")
        .outputMode("append").start())
    try {
      urlStream.addData(batch1.map { case (u, i, _, _) =>
        Streaming.UrlIngestRow(u, ts(i)) })
      exStream.addData(docRows(batch1)); ndStream.addData(docRows(batch1))
      ctStream.addData(docRows(batch1))
      qs.foreach(_.processAllAvailable())
      urlStream.addData(batch2.map { case (u, i, _, _) =>
        Streaming.UrlIngestRow(u, ts(i)) })
      exStream.addData(docRows(batch2)); ndStream.addData(docRows(batch2))
      ctStream.addData(docRows(batch2))
      qs.foreach(_.processAllAvailable())
      // advance the watermark so the aggregation doors emit
      ndStream.addData(sentinel); ctStream.addData(sentinel)
      qs.foreach(_.processAllAvailable())
      // composition must not smuggle in join state anywhere
      for (q <- qs) {
        val ops = q.recentProgress.flatMap(_.stateOperators)
          .map(_.operatorName).distinct.toSeq
        assert(ops.forall(o => !o.toLowerCase.contains("join")),
          s"${q.name}: $ops")
      }
    } finally qs.foreach(_.stop())

    val gotFrontier = spark.table("ci_frontier").collect()
      .map(_.getString(0)).toSet
    val urlById = all.map { case (u, _, id, _) => id -> u }.toMap
    assert(gotFrontier == frontierAdmit.map(urlById), gotFrontier)
    val gotExact = spark.table("ci_exact").collect().map(_.getLong(0)).toSet
    assert(gotExact == exactAdmit, gotExact)
    val gotNd = spark.table("ci_neardup").collect().map(_.getLong(0)).toSet
    assert(gotNd == nearDupFlagged, gotNd)
    val gotCt = spark.table("ci_contain").collect().map(_.getLong(0))
      .toSet.filter(_ > 0)
    assert(gotCt == containedFlagged.filter(all.map(_._3).toSet), gotCt)

    // ---------------- the composed admit verdict, stream-side
    val frontierDocs = all.filter { case (u, _, _, _) => gotFrontier(u) }
      .map(_._3).toSet
    val admitStream = frontierDocs intersect gotExact diff gotNd diff gotCt
    assert(admitStream == admitModel, admitStream)
  }

  /** ingestDedup expects (doc_id, ts, text). */
  private def ndRename(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), col("ts"), col("text"))
}
