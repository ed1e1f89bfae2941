package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.Similarity

/** The streaming containment ingest gate must flag exactly the documents
  * q178's batch probe flags as 'contained' (shared trigram shingling,
  * shared verify contract, same best-match tie-break), each emitted once,
  * holding no join state. */
class ContainmentStreamSpec extends SparkSpec {

  test("streamed containment gate ≡ q178 batch 'contained' verdicts, exactly once") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // q178's own fixture convention: incoming = doc_id ≡ 7 (mod 10),
    // corpus = the rest. The batch query is the model.
    val model = Similarity.containmentIngest(spark, sfDir)
      .filter(col("status") === "contained")
      .select(col("doc_id"), col("best_match"), col("containment_bp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    assert(model.nonEmpty, "fixture must contain at least one contained doc")

    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val corpusDf = docs.filter(_._1 % 10 != 7).toSeq
      .toDF("doc_id", "source", "text")
      .select(col("doc_id"),
        concat(lit("https://corpus.example/"), col("doc_id")).as("url"), col("text"))
    val cat = Streaming.ensureIngestCatalog(spark, "containment_stream_spec", corpusDf)
    val base = 1700000000000L
    val rows = docs.filter(_._1 % 10 == 7).zipWithIndex.map { case ((id, s, t), i) =>
      Streaming.DocIngestRow(id, new java.sql.Timestamp(base + i * 20000L), s, t)
    }

    val stream = MemoryStream[Streaming.DocIngestRow]
    val q = Streaming.containmentIngestStream(stream.toDF(), cat)
      .writeStream.format("memory").queryName("containment_stream")
      .outputMode("append").start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      stream.addData(a.toSeq); q.processAllAvailable()
      stream.addData(b.toSeq); q.processAllAvailable()
      // far-future clean doc advances the watermark past every window
      stream.addData(Streaming.DocIngestRow(-1L,
        new java.sql.Timestamp(rows.last.ts.getTime + 48L * 3600 * 1000),
        "zz", "zz zz zz zz"))
      q.processAllAvailable()
      // only the watermark-evicted aggregation may hold state — a
      // stream-stream join here would never evict its buffers
      val ops = q.recentProgress.flatMap(_.stateOperators).map(_.operatorName).distinct.toSeq
      assert(ops.nonEmpty && ops.forall(o => !o.toLowerCase.contains("join")),
        s"containment gate must hold no join state, found operators: $ops")
    } finally q.stop()

    val got = spark.table("containment_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(got.map(_._1).distinct.length == got.length, "a doc emitted twice")
    assert(got == model, s"streamed verdicts ${got.length} vs batch model ${model.length}")
  }

  test("containment gate: checkpointed restart emits a pre-stop doc exactly once") {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    import org.apache.spark.sql.types.StructType
    val spark0 = spark
    import spark0.implicits._
    def deleteRecursively(p: Path): Unit =
      if (Files.exists(p))
        Files.walk(p).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))

    val base = Files.createTempDirectory("graft-containment-restart")
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()
    try {
      // corpus doc = 30 tokens (28 trigrams); the contained probe is its
      // 20-token prefix (18 trigrams, all inside) → containment 10000 bp
      val corpusText = (1 to 30).map(i => s"w$i").mkString(" ")
      val containedText = (1 to 20).map(i => s"w$i").mkString(" ")
      val corpus = Seq((100L, "https://corpus.example/100", corpusText))
        .toDF("doc_id", "url", "text")
      val cat = Streaming.ensureIngestCatalog(spark, "containment_restart_spec", corpus)
      val schema = StructType.fromDDL(
        "doc_id BIGINT, ts TIMESTAMP, source STRING, text STRING")
      def ts(h: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:30:00")
      def start() = Streaming.containmentIngestStream(
          spark.readStream.schema(schema).parquet(in), cat)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()

      // batch 1: a contained doc and a novel doc; windows not yet final
      Seq((1L, ts(10), "s", containedText),
          (2L, ts(10), "s", (1 to 10).map(i => s"z$i").mkString(" ")))
        .toDF("doc_id", "ts", "source", "text")
        .coalesce(1).write.mode("append").parquet(in)
      val q1 = start(); q1.processAllAvailable(); q1.stop(); q1.awaitTermination()
      assert(spark.read
        .schema("doc_id BIGINT, best_match BIGINT, containment_bp BIGINT")
        .parquet(out).count() == 0, "window emitted before finality")

      // while DOWN: another contained doc, plus a far-future novel doc
      // that advances the watermark past every earlier window
      Seq((3L, ts(12), "s", containedText),
          (4L, ts(20), "s", "zz zz zz zz"))
        .toDF("doc_id", "ts", "source", "text")
        .coalesce(1).write.mode("append").parquet(in)
      val q2 = start(); q2.processAllAvailable(); q2.stop(); q2.awaitTermination()

      val got = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((1L, 100L, 10000L), (3L, 100L, 10000L)),
        s"expected docs 1 and 3 contained exactly once in corpus 100, got $got")
      // exactly-once: the restarted query must not have replayed batch 1
      assert(spark.read.parquet(out).count() == 2)
    } finally deleteRecursively(base)
  }
}
