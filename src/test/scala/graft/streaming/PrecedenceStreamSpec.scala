package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The composed ingest PRECEDENCE census (q233's ordering) on the stream:
  * the four doors are individually stream-proven, but the first-match
  * ordering dup_url ≻ exact_dup ≻ near_dup ≻ contained ≻ ingested was
  * only batch-gated before this. The fixture plants a doc in EVERY
  * overlap class (a URL re-discovery that is also a verbatim copy, a
  * verbatim copy under a fresh URL, a one-token mutation, a snippet, a
  * novel doc), so a wrong precedence — not just a wrong screen — moves a
  * status. Stream and batch must agree doc-by-doc, and the job may hold
  * no join state. */
class PrecedenceStreamSpec extends SparkSpec {

  private def toks(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  test("streamed precedence census ≡ batch, all five classes exercised, no join state") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val textA = toks("aa", 30); val textB = toks("bb", 30)
    val textC = toks("cc", 30); val textD = toks("dd", 30)
    val corpus = Seq(
      (1L, "https://x.example/p1", textA),
      (2L, "https://x.example/p2", textB),
      (3L, "https://x.example/p3", textC),
      (4L, "https://x.example/p4", textD)
    ).toDF("doc_id", "url", "text")
    val cat = Streaming.ensureIngestCatalog(spark, "precedence_stream_spec", corpus)

    val mutatedC = (textC.split(" ").dropRight(1) :+ "zzplanted").mkString(" ")
    // one-token mutation: |∩| = 29 of |∪| = 31 → jaccard ≈ 0.935 ≥ 0.9
    assert(10000L * 29 / 31 >= 9000)
    val halfD = textD.split(" ").take(15).mkString(" ")
    val incoming = Seq(
      // URL re-discovery AND verbatim copy: every screen fires → dup_url
      (101L, "https://x.example/p1", textA, "dup_url"),
      // verbatim copy under a fresh URL: e/n/c fire → exact_dup wins
      (102L, "https://x.example/q102", textB, "exact_dup"),
      // one-token mutation: near fires (contained may not) → near_dup
      (103L, "https://x.example/q103", mutatedC, "near_dup"),
      // contiguous snippet: contained fires, jaccard 0.5 → contained
      (104L, "https://x.example/q104", halfD, "contained"),
      // novel vocabulary → ingested
      (105L, "https://x.example/q105", toks("nn", 25), "ingested"))
    val expected = incoming.map { case (id, _, _, st) => (id, st) }.sorted

    // batch twin: the SAME function over a batch frame (watermark no-ops)
    val batchRows = incoming.map { case (id, u, t, _) =>
      (id, new java.sql.Timestamp(1700000000000L), u, t)
    }.toDF("doc_id", "ts", "url", "text")
    val batchGot = Streaming.ingestPrecedenceStream(batchRows, cat)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(batchGot == expected, s"batch census wrong: $batchGot")

    val base = 1700000000000L
    val rows = incoming.zipWithIndex.map { case ((id, u, t, _), i) =>
      Streaming.UrlDocIngestRow(id, new java.sql.Timestamp(base + i * 20000L), u, t)
    }
    val stream = MemoryStream[Streaming.UrlDocIngestRow]
    val q = Streaming.ingestPrecedenceStream(stream.toDF(), cat)
      .writeStream.format("memory").queryName("precedence_stream")
      .outputMode("append").start()
    try {
      val (a, b) = rows.splitAt(2)
      stream.addData(a.toSeq); q.processAllAvailable()
      stream.addData(b.toSeq); q.processAllAvailable()
      // horizon-advancing poison row finalizes every window
      stream.addData(Streaming.UrlDocIngestRow(-1L,
        new java.sql.Timestamp(base + 48L * 3600 * 1000),
        "https://x.example/poison", "pp1 pp2 pp3 pp4"))
      q.processAllAvailable()
      // the only state is the final (window, doc) fold — every corpus
      // join is stream-static; join state here would mean a door
      // composition re-introduced a stream-stream join
      val ops = q.recentProgress.flatMap(_.stateOperators)
        .map(_.operatorName).distinct.toSeq
      assert(ops.nonEmpty && ops.forall(o => !o.toLowerCase.contains("join")),
        s"precedence census must hold no join state, found: $ops")
    } finally q.stop()

    val streamGot = spark.table("precedence_stream").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      .filter(_._1 >= 0).sorted
    assert(streamGot.map(_._1).distinct.length == streamGot.length,
      "a doc emitted twice")
    assert(streamGot == expected,
      s"stream census $streamGot != expected $expected")
  }

  test("landed-catalog door ≡ inline door; a stream RESTART re-lands nothing") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val textA = toks("la", 30); val textB = toks("lb", 30)
    val corpusRows = Seq(
      (11L, "https://y.example/p11", textA),
      (12L, "https://y.example/p12", textB))
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingate-").toString
    corpusRows.toDF("doc_id", "url", "text").write.parquet(s"$tmp/corpus")
    // FILE-backed corpus: ensureBucketed's fingerprint is then the input
    // files' (path, length, mtime) — the metadata-only mtime lock this
    // test exists to exercise (an in-memory fixture would fall back to
    // the content-aggregate fingerprint, which re-scans on every check)
    val corpus = spark.read.parquet(s"$tmp/corpus")

    val mutatedB = (textB.split(" ").dropRight(1) :+ "qqplanted").mkString(" ")
    val incoming = Seq(
      (201L, "https://y.example/p11", textA, "dup_url"),
      (202L, "https://y.example/q202", textA, "exact_dup"),
      (203L, "https://y.example/q203", mutatedB, "near_dup"),
      (204L, "https://y.example/q204", textB.split(" ").take(15).mkString(" "),
        "contained"),
      (205L, "https://y.example/q205", toks("qq", 25), "ingested"))
    val expected = incoming.map { case (id, _, _, st) => (id, st) }.sorted
    val base = 1700000000000L
    val batchRows = incoming.map { case (id, u, t, _) =>
      (id, new java.sql.Timestamp(base), u, t)
    }.toDF("doc_id", "ts", "url", "text")

    graft.io.Layout.drainLandingSecs() // reset the global landing log
    val cat = Streaming.ensureIngestCatalog(spark, s"$tmp/corpus", corpus)
    val landed1 = graft.io.Layout.drainLandingSecs().keySet
    assert(landed1.exists(_.startsWith("graft_ingate_")),
      "first ensure must actually land the catalog")

    val landedGot = Streaming.ingestPrecedenceStream(batchRows, cat)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(landedGot == expected, s"landed census diverged: $landedGot")

    // the near-dup and containment doors over the same catalog
    val nearGot = Streaming.nearDupIngestStream(batchRows, cat)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(nearGot == Set(201L, 202L, 203L), s"landed near door: $nearGot")
    val contGot = Streaming.containmentIngestStream(batchRows, cat)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(contGot == Set(201L, 202L, 203L, 204L), s"landed containment door: $contGot")

    // RESTART: a second ensure + a fresh streaming query. The fingerprint
    // lock must re-validate from file metadata and land NOTHING — at
    // 100 TB this is the difference between a restart and a corpus rescan.
    val cat2 = Streaming.ensureIngestCatalog(spark, s"$tmp/corpus", corpus)
    assert(cat2 == cat)
    val reland = graft.io.Layout.drainLandingSecs().keySet
      .filter(_.startsWith("graft_ingate_"))
    assert(reland.isEmpty, s"restart re-landed: $reland")

    val rows = incoming.zipWithIndex.map { case ((id, u, t, _), i) =>
      Streaming.UrlDocIngestRow(id, new java.sql.Timestamp(base + i * 20000L), u, t)
    }
    val stream = MemoryStream[Streaming.UrlDocIngestRow]
    val q = Streaming.ingestPrecedenceStream(stream.toDF(), cat2)
      .writeStream.format("memory").queryName("precedence_landed")
      .outputMode("append").start()
    try {
      stream.addData(rows)
      q.processAllAvailable()
      stream.addData(Streaming.UrlDocIngestRow(-1L,
        new java.sql.Timestamp(base + 48L * 3600 * 1000),
        "https://y.example/poison", "pp1 pp2 pp3 pp4"))
      q.processAllAvailable()
      val ops = q.recentProgress.flatMap(_.stateOperators)
        .map(_.operatorName).distinct.toSeq
      assert(ops.nonEmpty && ops.forall(o => !o.toLowerCase.contains("join")),
        s"landed census must hold no join state, found: $ops")
    } finally q.stop()
    val streamGot = spark.table("precedence_landed").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      .filter(_._1 >= 0).sorted
    assert(streamGot == expected,
      s"landed stream census $streamGot != expected $expected")
    assert(graft.io.Layout.drainLandingSecs()
        .keySet.forall(!_.startsWith("graft_ingate_")),
      "running the landed stream must not re-land the catalog")
  }
}
