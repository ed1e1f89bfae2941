package graft.web

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PDF payload tier through the oracle gate — after HTML, the next
  * payload class a crawl pipeline must extract. Two gates:
  *
  *  - q220: the FIXTURE gate (q88/q206 discipline): the independent
  *    spec-based writer's corpus (tools/gen_pdf_fixtures.py) lands in a
  *    write-once folder, every page's extracted text hash-compares
  *    against the literals the writer printed, and the damaged/junk
  *    files must quarantine as all-null rows;
  *  - q221: the CORPUS gate (q210 discipline): every documents row
  *    renders as a real two-line PDF (FlateDecoded content stream,
  *    escapes applied) through an independent in-engine writer, the
  *    parser must recover both lines byte-exactly, and the census binds
  *    counts + a mod-prime md5 fingerprint sum per source. The fixture
  *    gate anchors the parser against the OUT-OF-ENGINE writer, so the
  *    in-engine round-trip cannot be self-consistently wrong (the
  *    q205/q213 two-sided closure discipline).
  *
  * Scale shape: per-row kernels, slim rows out; a real crawl feeds PDF
  * payloads from the WARC record stream exactly like HTML ones. */
object PdfExtract {

  private val FixtureNames = Seq("doc_simple.pdf", "doc_flate.pdf",
    "doc_pages.pdf", "doc_tounicode.pdf", "doc_type0.pdf",
    "doc_winansi.pdf", "trunc.pdf", "junk.pdf")

  private def resourceBytes(path: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing fixture resource $path")
    try in.readAllBytes() finally in.close()
  }

  /** The PDF fixture folder, landed once per (application, dir). */
  def pdfFolder(spark: SparkSession, dir: String): String =
    graft.io.Layout.landFiles(spark, "pdf_fixtures", dir)(
      FixtureNames.map(name => name -> resourceBytes(s"/pdf/$name")))

  private val extractPages = udf { (bytes: Array[Byte]) =>
    Pdf.extract(bytes).map { case (page, text) => (page, text.orNull) }
  }

  /** q220: every page of every fixture file as one row (page number,
    * char count, full text); a file extracting ZERO pages emits one
    * all-null quarantine row. The oracle's literals are the independent
    * writer's ground truth. */
  def pdfExtract(spark: SparkSession, dir: String): DataFrame = {
    val folder = pdfFolder(spark, dir)
    spark.read.format("binaryFile").load(folder)
      .select(element_at(split(col("path"), "/"), -1).as("file"),
        extractPages(col("content")).as("pages"))
      .select(col("file"),
        explode_outer(when(size(col("pages")) > 0, col("pages"))).as("p"))
      .select(col("file"), col("p._1").as("page"),
        length(col("p._2")).as("n_chars"), col("p._2").as("text"))
      .orderBy(col("file"), col("page"))
  }

  val pdfExtractSql: String =
    """SELECT file, page, CAST(length(text) AS INT) AS n_chars, text
      |FROM (VALUES
      |  ('doc_flate.pdf', 1, 'Hello flate
      |Hex bytes!
      |second via quote
      |third via dquote'),
      |  ('doc_pages.pdf', 1, 'Page one text'),
      |  ('doc_pages.pdf', 2, 'Split content part one
      |part two'),
      |  ('doc_pages.pdf', 3, 'Page three text'),
      |  ('doc_simple.pdf', 1, 'First line with A octal
      |Paren (test) and backslash \ done'),
      |  ('doc_tounicode.pdf', 1, 'Zürich café'),
      |  ('doc_type0.pdf', 1, 'GRΔΩ'),
      |  ('doc_winansi.pdf', 1, 'café a’b …c'),
      |  ('junk.pdf', CAST(NULL AS INT), CAST(NULL AS VARCHAR)),
      |  ('trunc.pdf', CAST(NULL AS INT), CAST(NULL AS VARCHAR))
      |) AS t(file, page, text)
      |ORDER BY file, page NULLS FIRST""".stripMargin

  // ----------------------------------------------- in-engine PDF writer

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

  /** Minimal valid single-page PDF with a FlateDecoded content stream
    * showing each line via Tj/Td — the WRITE half of the tier (q213's
    * discipline: pipelines also EMIT documents). Independent of the
    * fixture generator; q220 anchors the parser against that
    * out-of-engine writer so this round-trip is not self-referential. */
  def renderSimple(lines: Seq[String]): Array[Byte] = {
    val iso = java.nio.charset.StandardCharsets.ISO_8859_1
    val shows = lines.zipWithIndex.map { case (l, i) =>
      val move = if (i == 0) "72 720 Td" else "0 -14 Td"
      s"$move (${esc(l)}) Tj"
    }.mkString(" ")
    val content = s"BT /F1 12 Tf $shows ET".getBytes(iso)
    val deflated = {
      val d = new java.util.zip.Deflater()
      d.setInput(content); d.finish()
      val out = new java.io.ByteArrayOutputStream(content.length)
      val buf = new Array[Byte](8192)
      while (!d.finished()) { val n = d.deflate(buf); out.write(buf, 0, n) }
      d.end(); out.toByteArray
    }
    val objs = Vector(
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>".getBytes(iso),
      (s"<< /Length ${deflated.length} /Filter /FlateDecode >>\nstream\n"
        .getBytes(iso) ++ deflated ++ "\nendstream".getBytes(iso)),
      "<< /Type /Pages /Kids [4 0 R] /Count 1 >>".getBytes(iso),
      ("<< /Type /Page /Parent 3 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 1 0 R >> >> /Contents 2 0 R >>").getBytes(iso),
      "<< /Type /Catalog /Pages 3 0 R >>".getBytes(iso))
    val out = new java.io.ByteArrayOutputStream()
    out.write("%PDF-1.4\n".getBytes(iso))
    val offsets = new Array[Int](objs.length + 1)
    objs.zipWithIndex.foreach { case (body, i) =>
      offsets(i + 1) = out.size()
      out.write(s"${i + 1} 0 obj\n".getBytes(iso))
      out.write(body)
      out.write("\nendobj\n".getBytes(iso))
    }
    val xrefAt = out.size()
    out.write(s"xref\n0 ${objs.length + 1}\n".getBytes(iso))
    out.write("0000000000 65535 f \n".getBytes(iso))
    for (i <- 1 to objs.length)
      out.write(f"${offsets(i)}%010d 00000 n \n".getBytes(iso))
    out.write((s"trailer\n<< /Size ${objs.length + 1} /Root 5 0 R >>\n" +
      s"startxref\n$xrefAt\n%%EOF\n").getBytes(iso))
    out.toByteArray
  }

  private val renderExtract = udf { (text: String, docId: Long) =>
    val pdf = renderSimple(Seq(text, s"pdfdoc $docId"))
    Pdf.extract(pdf) match {
      case Seq((1, Some(t))) => t
      case _ => null
    }
  }

  /** q221: the PDF tier at corpus scale — every documents row renders
    * as a real two-line PDF and must come back byte-exactly through the
    * full parser (object scan, flate, content-stream interpretation).
    * Census binds counts + fingerprints per source. */
  def pdfPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val expected = concat(col("text"), lit("\npdfdoc "), col("doc_id").cast("string"))
    docs
      .select(col("source"), expected.as("want"),
        renderExtract(col("text"), col("doc_id")).as("rec"))
      .select(col("source"), (col("rec") === col("want")).as("ok"),
        pmod(conv(substring(md5(col("rec")), 1, 15), 16, 10).cast("long"),
          lit(1000000007L)).as("rfp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_recovered"),
        sum(col("rfp")).as("fp_sum"))
      .orderBy(col("source"))
  }

  val pdfPipelineSql: String =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_recovered,
      |  CAST(SUM(CAST(concat('0x', substr(md5(
      |      text || chr(10) || 'pdfdoc ' || doc_id::VARCHAR), 1, 15)) AS BIGINT)
      |    % 1000000007) AS BIGINT) AS fp_sum
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------- q222 mixed-payload crawl route

  private val Iso = java.nio.charset.StandardCharsets.ISO_8859_1
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** Render one fetched page as WARC bytes carrying EITHER an HTML or a
    * PDF payload (mime routed), then read it back through the real
    * chain: Warc.parseFile → route BY MIME → Html.extractText or
    * Pdf.extract. Returns the recovered text (null = quarantine). */
  private val mixedRoundtrip = udf { (text: String, docId: Long, kind: String) =>
    val uri = s"https://mix.example.com/d/$docId"
    val body: Array[Byte] = kind match {
      case "pdf" => renderSimple(Seq(text, s"docmark $docId"))
      case _ =>
        (s"<html><body><p>$text</p><p>docmark $docId</p></body></html>")
          .getBytes(Utf8)
    }
    val mime = if (kind == "pdf") "application/pdf" else "text/html"
    val http = (s"HTTP/1.1 200 OK\r\nContent-Type: $mime\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes(Iso) ++ body
    val warc = Warc.renderGzMembers(Warc.renderRecord("response", Some(uri),
      "application/http; msgtype=response", http))
    Warc.parseFile(warc) match {
      case Seq(r) if r.httpStatus.contains(200) =>
        r.httpContentType match {
          case Some("application/pdf") =>
            Pdf.extract(r.payload) match {
              case Seq((1, Some(t))) => t
              case _ => null
            }
          case Some("text/html") =>
            Html.extractText(new String(r.payload, Utf8))
          case _ => null
        }
      case _ => null
    }
  }

  /** q222: the crawl pipeline with PDF as a SECOND payload kind beside
    * HTML — per documents row the payload format is chosen by residue,
    * wrapped in a real WARC response with the matching Content-Type,
    * and the reader must ROUTE by mime (an HTML extractor fed PDF
    * bytes, or vice versa, recovers garbage and moves the fingerprint).
    * Both kinds must recover the identical two-line text. Census per
    * (source, kind) binds counts + fingerprints. Scale shape: per-row
    * kernels, slim census out — exactly how a production pipeline fans
    * payload classes out of one WARC record stream. */
  def mixedPayloadPipeline(spark: SparkSession, dir: String): DataFrame = {
    // fanOut: the harness parquet is one row group -> one task, and the
    // per-row cost here is a full PDF/HTML render + parse-back (~ms/row)
    // -- exactly the compute >> row-bytes regime where the one-time
    // round-robin exchange pays (sf1 isolated min-of-3: 6.0 -> 1.5 s)
    val docs = graft.Dist.fanOut(graft.Tables.documents(spark, dir))
    val kind = when(pmod(col("doc_id"), lit(3)) === 2, "pdf").otherwise("html")
    val expected = concat(col("text"), lit("\ndocmark "), col("doc_id").cast("string"))
    docs
      .select(col("source"), kind.as("kind"), expected.as("want"),
        mixedRoundtrip(col("text"), col("doc_id"), kind).as("rec"))
      .select(col("source"), col("kind"), (col("rec") === col("want")).as("ok"),
        pmod(conv(substring(md5(col("rec")), 1, 15), 16, 10).cast("long"),
          lit(1000000007L)).as("rfp"))
      .groupBy(col("source"), col("kind"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_recovered"),
        sum(col("rfp")).as("fp_sum"))
      .orderBy(col("source"), col("kind"))
  }

  val mixedPayloadPipelineSql: String =
    """SELECT source,
      |  CASE WHEN doc_id % 3 = 2 THEN 'pdf' ELSE 'html' END AS kind,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_recovered,
      |  CAST(SUM(CAST(concat('0x', substr(md5(
      |      text || chr(10) || 'docmark ' || doc_id::VARCHAR), 1, 15)) AS BIGINT)
      |    % 1000000007) AS BIGINT) AS fp_sum
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q220_pdf_extract", pdfExtract, Some(pdfExtractSql)),
    QueryDef("q221_pdf_pipeline", pdfPipeline, Some(pdfPipelineSql)),
    QueryDef("q222_mixed_payload_pipeline", mixedPayloadPipeline,
      Some(mixedPayloadPipelineSql)))
}
