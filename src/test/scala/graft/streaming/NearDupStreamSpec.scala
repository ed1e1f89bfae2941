package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.Similarity

/** The streaming near-dup ingest gate must flag exactly the documents the
  * batch band+verify pipeline flags (shared band-key definition, shared
  * verify contract), with the exact best match, each emitted once. */
class NearDupStreamSpec extends SparkSpec {

  test("streamed near-dup gate ≡ sequential band+verify model, exactly once") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.llm.Similarity.{Bands, RowsPerBand}

    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val corpusRows = docs.filter(_._1 % 10 != 7)
    // incoming = the q68 residue slice, plus one PLANTED near-dup: a
    // corpus doc with one token changed (jaccard just under 1, above 0.9
    // for any reasonably long doc)
    val donor = corpusRows.maxBy(_._3.split("\\s+").length)
    val mutated = {
      val ws = donor._3.split("\\s+")
      (ws.dropRight(1) :+ "zzzplanted").mkString(" ")
    }
    val plantedId = 2000007L
    assert(plantedId % 10 == 7)
    val incoming = docs.filter(_._1 % 10 == 7) :+ ((plantedId, "srcX", mutated))

    // sequential model: shingle sets + sig-slice band collisions + exact
    // bp verify, best match by (bp desc, cor_id asc)
    def setsOf(rows: Seq[(Long, String, String)]) = {
      val df = rows.toDF("doc_id", "source", "text")
        .select(col("doc_id"),
          Similarity.hashedShingles(col("text")).as("hs"),
          Similarity.minhashSignature(Similarity.hashedShingles(col("text"))).as("sig"))
      df.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet,
        r.getSeq[Long](2).toVector)).filter(_._2.nonEmpty)
    }
    val corSets = setsOf(corpusRows.toSeq)
    val incSets = setsOf(incoming.toSeq)
    def bandsOf(sig: Vector[Long]): Seq[Vector[Long]] =
      (0 until Bands).map(b => sig.slice(b * RowsPerBand, (b + 1) * RowsPerBand))
    val model = incSets.flatMap { case (id, hi, si) =>
      val hits = corSets.filter { case (_, _, sc) =>
        bandsOf(si).zip(bandsOf(sc)).exists { case (x, y) => x == y } }
        .flatMap { case (cid, hc, _) =>
          val (a, b) = (hi.size.toLong, hc.size.toLong)
          if (math.min(a, b) * 10 < math.max(a, b) * 9) None
          else {
            val n = hi.intersect(hc).size.toLong
            val bp = 10000 * n / (a + b - n)
            if (bp >= 9000) Some((cid, bp)) else None
          }
        }
      if (hits.isEmpty) None
      else {
        val best = hits.minBy { case (cid, bp) => (-bp, cid) }
        Some((id, best._1, best._2))
      }
    }.toSeq.sortBy(_._1)
    assert(model.exists(_._1 == plantedId), "planted near-dup must verify in the model")

    val base = 1700000000000L
    val rows = incoming.zipWithIndex.map { case ((id, s, t), i) =>
      Streaming.DocIngestRow(id, new java.sql.Timestamp(base + i * 20000L), s, t)
    }
    val corpusDf = corpusRows.toSeq.toDF("doc_id", "source", "text")
      .select(col("doc_id"),
        concat(lit("https://corpus.example/"), col("doc_id")).as("url"), col("text"))
    val cat = Streaming.ensureIngestCatalog(spark, "neardup_stream_spec", corpusDf)
    val stream = MemoryStream[Streaming.DocIngestRow]
    val q = Streaming.nearDupIngestStream(stream.toDF(), cat)
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      stream.addData(a.toSeq); q.processAllAvailable()
      stream.addData(b.toSeq); q.processAllAvailable()
      stream.addData(Streaming.DocIngestRow(-1L,
        new java.sql.Timestamp(rows.last.ts.getTime + 48L * 3600 * 1000),
        "zz", "zz zz"))
      q.processAllAvailable()
      // the job's ONLY state is the watermark-evicted best-match
      // aggregation: a stream-stream self-join (the slim-bands +
      // re-join-for-payload shape) would surface here as join state
      // whose buffers never evict
      val ops = q.recentProgress.flatMap(_.stateOperators).map(_.operatorName).distinct.toSeq
      assert(ops.nonEmpty && ops.forall(o => !o.toLowerCase.contains("join")),
        s"near-dup gate must hold no join state, found operators: $ops")
    } finally q.stop()

    val got = spark.table("neardup_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(got.map(_._1).distinct.length == got.length, "a doc emitted twice")
    assert(got == model, s"streamed verdicts ${got.length} vs model ${model.length}")
  }

  test("near-dup gate: checkpointed restart emits a pre-stop doc exactly once") {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    import org.apache.spark.sql.types.StructType
    val spark0 = spark
    import spark0.implicits._
    def deleteRecursively(p: Path): Unit =
      if (Files.exists(p))
        Files.walk(p).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))

    val base = Files.createTempDirectory("graft-neardup-restart")
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()
    try {
      val corpusText = (1 to 20).map(i => s"w$i").mkString(" ")
      val nearText = (1 to 20).map(i => s"w$i").mkString(" ") + " extra"
      val corpus = Seq((100L, "https://corpus.example/100", corpusText))
        .toDF("doc_id", "url", "text")
      val cat = Streaming.ensureIngestCatalog(spark, "neardup_restart_spec", corpus)
      // sanity: the planted pair must clear the 0.9 cut (20 shared of 21)
      assert(10000L * 20 / 21 >= 9000)
      val schema = StructType.fromDDL(
        "doc_id BIGINT, ts TIMESTAMP, source STRING, text STRING")
      def ts(h: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:30:00")
      def start() = Streaming.nearDupIngestStream(
          spark.readStream.schema(schema).parquet(in), cat)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()

      // batch 1: a near-dup and a clean doc; their 1-hour windows are NOT
      // final when the query stops (watermark hasn't passed them)
      Seq((1L, ts(10), "s", nearText), (2L, ts(10), "s", "totally different words"))
        .toDF("doc_id", "ts", "source", "text")
        .coalesce(1).write.mode("append").parquet(in)
      val q1 = start(); q1.processAllAvailable(); q1.stop(); q1.awaitTermination()
      assert(spark.read.schema("doc_id BIGINT, best_match BIGINT, bp BIGINT")
        .parquet(out).count() == 0, "window emitted before finality")

      // while DOWN: another near-dup lands, plus a far-future clean doc
      // that advances the watermark past every earlier window
      Seq((3L, ts(12), "s", nearText), (4L, ts(20), "s", "zz zz"))
        .toDF("doc_id", "ts", "source", "text")
        .coalesce(1).write.mode("append").parquet(in)
      val q2 = start(); q2.processAllAvailable(); q2.stop(); q2.awaitTermination()

      val got = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val bp = 10000L * 20 / 21
      assert(got == Set((1L, 100L, bp), (3L, 100L, bp)),
        s"expected docs 1 and 3 flagged exactly once against corpus 100, got $got")
      // exactly-once: the restarted query must not have replayed batch 1
      assert(spark.read.parquet(out).count() == 2)
    } finally deleteRecursively(base)
  }
}
