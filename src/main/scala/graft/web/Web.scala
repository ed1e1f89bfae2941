package graft.web

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row shapes of the [[Web]] UDF kernels — top-level (not nested in the
  * object) so Catalyst's generated code can reach the accessors and the
  * scans stay inside whole-stage codegen. */
final case class Rec(rec: Int, warc_type: String, target_uri: String,
                     http_status: Option[Int], mime: String,
                     http_charset: String, payload: Array[Byte])
final case class Extracted(title: String, n_links: Int, n_lines: Int,
                           text_joined: String)
final case class Edge(href: String, dst: String, anchor: String)

/** The web-crawl ingestion tier: WARC records → HTTP payloads → HTML
  * text → domain-scoped boilerplate removal, plus URL canonicalization
  * at corpus scale — the front end a 100 TB training-data pipeline runs
  * BEFORE any operator this engine already has (dedup, quality,
  * tokenization all assume clean text; Common Crawl assumes none of it).
  *
  * Gating follows the q88/q204 fixture discipline
  * (multimodal/Fixtures.scala): a deterministic corpus of real WARC
  * files is built once per session, scanned with binaryFile, and every
  * stage's output hash-compares against oracle literals that state the
  * ground truth the fixtures were BUILT with (expected record fields,
  * hand-derived extraction text, hand-derived boilerplate verdicts);
  * the payload hashes are computed INDEPENDENTLY by DuckDB's md5 over
  * the same page literals. q208 runs at data scale over `documents`
  * with ground-truth-by-construction (the oracle builds the canonical
  * form directly; Spark must reach it by canonicalizing the messy
  * variant).
  */
object Web {

  // ---------------------------------------------------------- the pages
  // Single-line HTML (tags themselves delimit text lines), apostrophe-
  // free so the same literal embeds in the DuckDB oracle unescaped.

  private[web] val PageN1: String =
    "<html><head><title>Budget Vote</title><style>p{color:#333}</style></head>" +
      "<body><div id=\"nav\">Home | World | Tech</div>" +
      "<h1>Budget vote passes</h1>" +
      "<p>The measure passed by a wide margin &amp; takes effect in May.</p>" +
      "<p>Opposition leaders promised a court challenge.</p>" +
      "<a href=\"/articles/item2\">next</a>" +
      "<script>track(1);</script>" +
      "<div class=\"footer\">Copyright 2026 News Example</div></body></html>"

  private[web] val PageN2: String =
    "<html><head><title>Harbor Cleanup</title></head>" +
      "<body><div id=\"nav\">Home | World | Tech</div>" +
      "<h1>Harbor cleanup begins</h1>" +
      "<p>Volunteers removed twelve tons of debris.</p>" +
      "<p>The effort continues through <b>August</b>.</p>" +
      "<a href=\"/articles/item1\">prev</a> <a href=\"/articles/item3\">next</a>" +
      "<div class=\"footer\">Copyright 2026 News Example</div></body></html>"

  private[web] val PageN3: String =
    "<html><head><title>Rail Strike Ends</title></head>" +
      "<body><div id=\"nav\">Home | World | Tech</div>" +
      "<h1>Rail strike ends</h1>" +
      "<p>Trains resume service tonight after a six&#45;day stoppage.</p>" +
      "<!-- draft note -->" +
      "<div class=\"footer\">Copyright 2026 News Example</div></body></html>"

  private[web] val PageB1: String =
    "<html><head><title>On Sourdough</title></head>" +
      "<body><p>About Archive Contact</p>" +
      "<h2>On sourdough starters</h2>" +
      "<p>Feed the starter twice a day in warm weather.</p>" +
      "<p>Powered by QuillPress</p></body></html>"

  private[web] val PageB2: String =
    "<html><head><title>On Rye</title></head>" +
      "<body><p>About Archive Contact</p>" +
      "<h2>Notes on rye flour</h2>" +
      "<p>Rye ferments faster &amp; needs less yeast.</p>" +
      "<p>Powered by QuillPress</p></body></html>"

  private val WarcInfoBody = "software: graft-crawler/0.9"
  private val MetaBody = "fetchDurationMs: 120"
  private val MissBody = "not here"
  private val MovedBody = "Moved."

  private val UriN1 = "https://news.example.com/articles/item1"
  private val UriN2 = "https://news.example.com/articles/item2"
  private val UriN3 = "https://news.example.com/articles/item3"
  private val UriMiss = "https://news.example.com/articles/item9"
  private val UriOld = "https://news.example.com/old/item3"
  private val UriB1 = "https://blog.sample.co.uk/posts/sourdough"
  private val UriB2 = "https://blog.sample.co.uk/posts/rye"

  // -------------------------------------------------------- warc builders

  private val Iso = java.nio.charset.StandardCharsets.ISO_8859_1

  private def warcRecord(wtype: String, uri: Option[String], ctype: String,
                         block: Array[Byte]): Array[Byte] =
    Warc.renderRecord(wtype, uri, ctype, block)

  private def httpResponse(status: Int, reason: String, ctype: String,
                           body: Array[Byte]): Array[Byte] =
    (s"HTTP/1.1 $status $reason\r\nContent-Type: $ctype\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes(Iso) ++ body

  private def httpRequest(path: String, host: String): Array[Byte] =
    s"GET $path HTTP/1.1\r\nHost: $host\r\nUser-Agent: graft-crawler/0.9\r\n\r\n"
      .getBytes(Iso)

  private def response(uri: String, status: Int, reason: String,
                       mime: String, body: String): Array[Byte] =
    warcRecord("response", Some(uri), "application/http; msgtype=response",
      httpResponse(status, reason, s"$mime; charset=utf-8", body.getBytes(Iso)))

  private def gzMembers(members: Array[Byte]*): Array[Byte] =
    Warc.renderGzMembers(members: _*)

  /** All five fixture files' bytes. */
  private[web] def fixtureFiles(): Seq[(String, Array[Byte])] = Seq(
    "crawl_a.warc.gz" -> gzMembers(
      warcRecord("warcinfo", None, "application/warc-fields",
        WarcInfoBody.getBytes(Iso)),
      response(UriN1, 200, "OK", "text/html", PageN1),
      warcRecord("request", Some(UriN1), "application/http; msgtype=request",
        httpRequest("/articles/item1", "news.example.com"))),
    // one member carrying TWO records (both layouts are legal)
    "crawl_b.warc.gz" -> gzMembers(
      response(UriN2, 200, "OK", "text/html", PageN2) ++
        response(UriMiss, 404, "Not Found", "text/plain", MissBody)),
    // uncompressed .warc
    "crawl_c.warc" ->
      (response(UriN3, 200, "OK", "text/html", PageN3) ++
        warcRecord("metadata", Some(UriN3), "application/warc-fields",
          MetaBody.getBytes(Iso)) ++
        response(UriOld, 301, "Moved Permanently", "text/html", MovedBody)),
    // two good members, then a corrupt third member: JDK gzip treats a
    // malformed follow-on header as end-of-stream, so both records
    // survive — per-item isolation (the reference's decode `continue`)
    "crawl_d.warc.gz" -> (gzMembers(
      response(UriB1, 200, "OK", "text/html", PageB1),
      response(UriB2, 200, "OK", "text/html", PageB2)) ++
      Array[Byte](0x1f.toByte, 0x8b.toByte, 0x08, 0x1f, 0x55, 0x11, 0x22, 0x33)),
    "junk_w.warc" -> "this is not a warc file".getBytes(Iso))

  /** The WARC fixture folder, landed once per (application, dir). */
  def warcFolder(spark: SparkSession, dir: String): String =
    graft.io.Layout.landFiles(spark, "warc_fixtures", dir)(fixtureFiles())

  // ------------------------------------------------------------ kernels

  /** HTML extraction summary; lines join with " / " (array outputs are
    * not driver-comparable; the joined form is). */
  private val extractHtml = udf { (payload: Array[Byte]) =>
    val html = new String(payload, java.nio.charset.StandardCharsets.UTF_8)
    val text = Html.extractText(html)
    val lines = if (text.isEmpty) Array.empty[String] else text.split('\n')
    Extracted(Html.title(html).orNull, Html.links(html).size,
      lines.length, lines.mkString(" / "))
  }

  private val canonicalizeUdf = udf { (u: String) => Url.canonicalize(u) }
  private val domainUdf = udf { (u: String) => Url.registeredDomain(Url.host(u)) }

  // ------------------------------------------------------- q206 records

  /** q206: the WARC source through the oracle gate — every record of
    * every fixture file lands as one row (type, URI, HTTP status, mime,
    * payload length + md5); a file parsing to ZERO records emits one
    * all-null quarantine row (q88 contract). Payload hashes in the
    * oracle are DuckDB-computed md5 over the same page literals, so a
    * parser that returns one wrong payload byte (head/body split,
    * member boundary, Content-Length walk) breaks the gate. Scale
    * shape: the SPLITTABLE reader ([[WarcScan]]) — gzip member index →
    * slice descriptors shuffle → ranged reads — so a 1 GiB .warc.gz is
    * N tasks bounded by the largest member, never whole-file rows;
    * only slim summary rows reach any exchange. */
  def warcRecords(spark: SparkSession, dir: String): DataFrame = {
    val folder = warcFolder(spark, dir)
    val recs = WarcScan.recordsNumbered(spark, folder)
      .select(col("file"), col("rec"),
        col("r.warc_type").as("warc_type"),
        col("r.target_uri").as("target_uri"),
        col("r.http_status").as("http_status"), col("r.mime").as("mime"),
        length(col("r.payload")).cast("long").as("payload_len"),
        md5(col("r.payload")).as("payload_md5"))
    WarcScan.fileListing(spark, folder)
      .join(recs, Seq("file"), "left")
      .orderBy(col("file"), col("rec"))
  }

  private def sqlStr(s: String): String = "'" + s + "'"

  /** Ground truth the fixtures were built with; payload md5/len are
    * DuckDB-computed over the identical literals. */
  val warcRecordsSql: String = {
    def row(file: String, rec: Int, wt: String, uri: String, status: String,
            mime: String, payload: String): String =
      s"  ($file, $rec, $wt, $uri, CAST($status AS INT), $mime, " +
        s"CAST(strlen($payload) AS BIGINT), md5($payload))"
    val rows = Seq(
      row("'crawl_a.warc.gz'", 0, "'warcinfo'", "CAST(NULL AS VARCHAR)",
        "NULL", "CAST(NULL AS VARCHAR)", sqlStr(WarcInfoBody)),
      row("'crawl_a.warc.gz'", 1, "'response'", sqlStr(UriN1), "200",
        "'text/html'", sqlStr(PageN1)),
      row("'crawl_a.warc.gz'", 2, "'request'", sqlStr(UriN1), "NULL",
        "CAST(NULL AS VARCHAR)", "''"),
      row("'crawl_b.warc.gz'", 0, "'response'", sqlStr(UriN2), "200",
        "'text/html'", sqlStr(PageN2)),
      row("'crawl_b.warc.gz'", 1, "'response'", sqlStr(UriMiss), "404",
        "'text/plain'", sqlStr(MissBody)),
      row("'crawl_c.warc'", 0, "'response'", sqlStr(UriN3), "200",
        "'text/html'", sqlStr(PageN3)),
      row("'crawl_c.warc'", 1, "'metadata'", sqlStr(UriN3), "NULL",
        "CAST(NULL AS VARCHAR)", sqlStr(MetaBody)),
      row("'crawl_c.warc'", 2, "'response'", sqlStr(UriOld), "301",
        "'text/html'", sqlStr(MovedBody)),
      row("'crawl_d.warc.gz'", 0, "'response'", sqlStr(UriB1), "200",
        "'text/html'", sqlStr(PageB1)),
      row("'crawl_d.warc.gz'", 1, "'response'", sqlStr(UriB2), "200",
        "'text/html'", sqlStr(PageB2)),
      "  ('junk_w.warc', CAST(NULL AS INT), CAST(NULL AS VARCHAR), " +
        "CAST(NULL AS VARCHAR), CAST(NULL AS INT), CAST(NULL AS VARCHAR), " +
        "CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR))")
    "SELECT * FROM (VALUES\n" + rows.mkString(",\n") +
      "\n) AS t(file, rec, warc_type, target_uri, http_status, mime, " +
      "payload_len, payload_md5)\nORDER BY file, rec NULLS FIRST"
  }

  // ------------------------------------------------------- q207 extract

  /** The 200/text/html record stream — q207 and q209's shared front
    * (splittable read path; record order is irrelevant here, so no
    * ordinal window is paid). */
  private def htmlPages(spark: SparkSession, dir: String): DataFrame = {
    val folder = warcFolder(spark, dir)
    WarcScan.records(spark, folder)
      .filter(col("r.warc_type") === "response" &&
        col("r.http_status") === 200 && col("r.mime") === "text/html")
      .select(col("r.target_uri").as("uri"), col("r.payload").as("payload"))
  }

  /** q207: HTML→text extraction through the oracle gate — title, link
    * count, line count, and the full extracted text (lines joined with
    * " / ") per fetched page, hash-compared against the HAND-DERIVED
    * extraction of each fixture page (comment/script/style dropped,
    * inline tags removed in place, block tags segmenting, entities
    * decoded, whitespace normalized). The redirect and 404 records must
    * NOT appear (the mime/status route). Scale shape: per-row kernel
    * over the page payload; output is the slim summary. */
  def htmlExtract(spark: SparkSession, dir: String): DataFrame =
    htmlPages(spark, dir)
      .select(col("uri"), extractHtml(col("payload")).as("e"))
      .select(col("uri"), col("e.title").as("title"),
        col("e.n_links").as("n_links"), col("e.n_lines").as("n_lines"),
        col("e.text_joined").as("text_joined"))
      .orderBy(col("uri"))

  val htmlExtractSql: String =
    s"""SELECT * FROM (VALUES
      |  (${sqlStr(UriB2)}, 'On Rye', 0, 5,
      |   'On Rye / About Archive Contact / Notes on rye flour / Rye ferments faster & needs less yeast. / Powered by QuillPress'),
      |  (${sqlStr(UriB1)}, 'On Sourdough', 0, 5,
      |   'On Sourdough / About Archive Contact / On sourdough starters / Feed the starter twice a day in warm weather. / Powered by QuillPress'),
      |  (${sqlStr(UriN1)}, 'Budget Vote', 1, 7,
      |   'Budget Vote / Home | World | Tech / Budget vote passes / The measure passed by a wide margin & takes effect in May. / Opposition leaders promised a court challenge. / next / Copyright 2026 News Example'),
      |  (${sqlStr(UriN2)}, 'Harbor Cleanup', 2, 7,
      |   'Harbor Cleanup / Home | World | Tech / Harbor cleanup begins / Volunteers removed twelve tons of debris. / The effort continues through August. / prev next / Copyright 2026 News Example'),
      |  (${sqlStr(UriN3)}, 'Rail Strike Ends', 0, 5,
      |   'Rail Strike Ends / Home | World | Tech / Rail strike ends / Trains resume service tonight after a six-day stoppage. / Copyright 2026 News Example')
      |) AS t(uri, title, n_links, n_lines, text_joined)
      |ORDER BY uri""".stripMargin

  // --------------------------------------------------- q209 boilerplate

  /** q209: domain-scoped boilerplate line removal (the CCNet/jusText
    * move): a text line occurring on ≥2 distinct pages of the same
    * registered domain is chrome (nav, footer, theme credit), not
    * content — drop it, keep everything else in page order. Oracle =
    * hand-derived verdicts for every fixture page. Scale shape (the
    * q210 discipline, now shared): exploded lines ride every exchange
    * as 32-char md5 HASHES, never as payload — counts groupBy(domain,
    * lh) with map-side combine, verdict join-back on the same slim key,
    * kept POSITIONS aggregate per page, and the text re-attaches once
    * per PAGE (a page-count-sized join, not a line-count-sized one),
    * re-deriving kept lines page-locally. Exactly the shape CCNet runs
    * per shard at crawl scale; the exchange hygiene is plan-asserted
    * (no `line` attribute below any shuffle). */
  def boilerplateLines(spark: SparkSession, dir: String): DataFrame = {
    val pages = htmlPages(spark, dir)
      .select(col("uri"), domainUdf(col("uri")).as("domain"),
        extractHtml(col("payload")).getField("text_joined").as("tj"))
    val lineHashes = pages
      .select(col("uri"), col("domain"),
        posexplode(split(col("tj"), " / ")).as(Seq("pos", "line")))
      .select(col("uri"), col("domain"), col("pos"), md5(col("line")).as("lh"))
    val counts = lineHashes.groupBy(col("domain"), col("lh"))
      .agg(countDistinct(col("uri")).as("n_pages"))
    val verdicts = lineHashes.join(counts, Seq("domain", "lh"))
      .groupBy(col("domain"), col("uri"))
      .agg(count(lit(1)).cast("int").as("n_lines"),
        sum(when(col("n_pages") < 2, 1).otherwise(0)).cast("int").as("n_kept"),
        array_sort(collect_list(when(col("n_pages") < 2, col("pos"))))
          .as("kept_pos"))
    verdicts.join(pages, Seq("domain", "uri"))
      .select(col("domain"), col("uri"), col("n_lines"), col("n_kept"),
        array_join(transform(col("kept_pos"),
          p => element_at(split(col("tj"), " / "), p + 1)), " / ")
          .as("kept_text"))
      .orderBy(col("domain"), col("uri"))
  }

  val boilerplateLinesSql: String =
    s"""SELECT * FROM (VALUES
      |  ('example.com', ${sqlStr(UriN1)}, 7, 5,
      |   'Budget Vote / Budget vote passes / The measure passed by a wide margin & takes effect in May. / Opposition leaders promised a court challenge. / next'),
      |  ('example.com', ${sqlStr(UriN2)}, 7, 5,
      |   'Harbor Cleanup / Harbor cleanup begins / Volunteers removed twelve tons of debris. / The effort continues through August. / prev next'),
      |  ('example.com', ${sqlStr(UriN3)}, 5, 3,
      |   'Rail Strike Ends / Rail strike ends / Trains resume service tonight after a six-day stoppage.'),
      |  ('sample.co.uk', ${sqlStr(UriB2)}, 5, 3,
      |   'On Rye / Notes on rye flour / Rye ferments faster & needs less yeast.'),
      |  ('sample.co.uk', ${sqlStr(UriB1)}, 5, 3,
      |   'On Sourdough / On sourdough starters / Feed the starter twice a day in warm weather.')
      |) AS t(domain, uri, n_lines, n_kept, kept_text)
      |ORDER BY domain, uri""".stripMargin

  // ---------------------------------------------------- q208 url dedup

  /** q208: URL canonicalization at corpus scale — every `documents` row
    * synthesizes one messy-but-equivalent URL (eight documented
    * spelling variants by doc_id residue: host case, default port, dot
    * segments, tracking params, fragment, unreserved percent-escape,
    * kept query param) over five hosts spanning three registered
    * domains (incl. a co.uk and a gov.uk multi-part suffix). Spark must
    * CANONICALIZE the messy form; the oracle builds the canonical form
    * DIRECTLY from doc_id — ground truth by construction, so any
    * canonicalization defect (missed variant, over-normalization)
    * splits or merges groups and breaks counts. doc_id is non-negative
    * in the harness data (the residue-slice family's documented
    * precondition, q196). Scale shape: per-row kernel + one groupBy —
    * the cheapest dedup a crawl pipeline runs, BEFORE any content
    * hash. */
  def urlCanonical(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val base = expr("doc_id div 8")
    val v = pmod(col("doc_id"), lit(8))
    val hostIdx = pmod(base, lit(5))
    val host0 = when(hostIdx === 0, "news.example.com")
      .when(hostIdx === 1, "www.sample.co.uk")
      .when(hostIdx === 2, "cdn.assets.example.com")
      .when(hostIdx === 3, "shop.example.org")
      .otherwise("data.gov.uk")
    val item = concat(lit("/a/item"), base.cast("string"))
    val raw = when(v === 0, concat(lit("https://"), host0, item))
      .when(v === 1, concat(lit("HTTPS://"), upper(host0), item))
      .when(v === 2, concat(lit("https://"), host0, lit(":443"), item))
      .when(v === 3, concat(lit("https://"), host0, lit("/a/x/../item"),
        base.cast("string")))
      .when(v === 4, concat(lit("https://"), host0, item, lit("?utm_source=feed")))
      .when(v === 5, concat(lit("https://"), host0, item, lit("#frag")))
      .when(v === 6, concat(lit("https://"), host0,
        regexp_replace(item, "item", "it%65m")))
      .otherwise(concat(lit("https://"), host0, item,
        lit("?id="), base.cast("string"), lit("&utm_medium=x")))
    docs.select(raw.as("raw"))
      .select(col("raw"), canonicalizeUdf(col("raw")).as("canon"),
        domainUdf(col("raw")).as("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("raw")).as("n_raw"),
        countDistinct(col("canon")).as("n_canon"))
      .orderBy(col("domain"))
  }

  val urlCanonicalSql: String =
    """WITH u AS (
      |  SELECT
      |    CASE (doc_id // 8) % 5
      |      WHEN 0 THEN 'news.example.com' WHEN 1 THEN 'www.sample.co.uk'
      |      WHEN 2 THEN 'cdn.assets.example.com' WHEN 3 THEN 'shop.example.org'
      |      ELSE 'data.gov.uk' END AS host,
      |    CASE (doc_id // 8) % 5
      |      WHEN 0 THEN 'example.com' WHEN 1 THEN 'sample.co.uk'
      |      WHEN 2 THEN 'example.com' WHEN 3 THEN 'example.org'
      |      ELSE 'data.gov.uk' END AS domain,
      |    (doc_id // 8)::VARCHAR AS base, doc_id % 8 AS v
      |  FROM documents
      |), b AS (
      |  SELECT domain,
      |    CASE v
      |      WHEN 0 THEN 'https://' || host || '/a/item' || base
      |      WHEN 1 THEN 'HTTPS://' || upper(host) || '/a/item' || base
      |      WHEN 2 THEN 'https://' || host || ':443/a/item' || base
      |      WHEN 3 THEN 'https://' || host || '/a/x/../item' || base
      |      WHEN 4 THEN 'https://' || host || '/a/item' || base || '?utm_source=feed'
      |      WHEN 5 THEN 'https://' || host || '/a/item' || base || '#frag'
      |      WHEN 6 THEN 'https://' || host || '/a/it%65m' || base
      |      ELSE 'https://' || host || '/a/item' || base || '?id=' || base || '&utm_medium=x'
      |    END AS raw,
      |    'https://' || host || '/a/item' || base ||
      |      CASE WHEN v = 7 THEN '?id=' || base ELSE '' END AS canon
      |  FROM u
      |)
      |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
      |  CAST(count(DISTINCT raw) AS BIGINT) AS n_raw,
      |  CAST(count(DISTINCT canon) AS BIGINT) AS n_canon
      |FROM b GROUP BY domain ORDER BY domain""".stripMargin

  // ------------------------------------------------- q210 web pipeline

  /** Lines of the extracted text (internal; arrays never reach a
    * registered output). */
  private val extractLinesUdf = udf { (html: String) =>
    val t = Html.extractText(html)
    if (t == null || t.isEmpty) Array.empty[String] else t.split('\n')
  }

  private val regDomainUdf = udf { (host: String) => Url.registeredDomain(host) }

  /** q210: the web tier at CORPUS scale — every `documents` row renders
    * as a page on its source's site (shared per-site chrome around the
    * document text), then the full pipeline runs: HTML→text extraction,
    * domain-scoped boilerplate removal (q209's ≥2-pages rule), and
    * recovery verification. Ground truth by construction: extraction +
    * boilerplate removal must return EXACTLY the original document text
    * (or blank it, when the same text appears on ≥2 pages of one site —
    * the oracle models that case too), so the census binds doc counts,
    * recovery verdicts AND a content fingerprint sum per site. A
    * one-character extraction defect — a dropped entity, a glued line, a
    * mis-scoped boilerplate count — moves fp_sum and breaks the gate.
    *
    * Scale shape (the CCNet per-shard move): chrome detection is
    * groupBy(domain, line-hash) with map-side combine over exploded
    * lines — exploded rows carry ONLY a 32-char md5, never line text —
    * the verdict joins back on the same slim (domain, lh) key into a
    * kept-POSITIONS aggregate per doc, and text re-attaches once per
    * PAGE (kept lines re-derive page-locally from the lines array).
    * The join-back carries NO broadcast hint: at sf0.1 the
    * planner broadcasts the small counts side (the right call), and
    * because the estimate derives from the scan size, at crawl scale
    * the same plan flips to the shuffle join on its own — the stats
    * decide, nothing pins a corpus-growing frame to the driver. fp_sum
    * folds mod-prime so it stays in int64 headroom at any corpus
    * size. */
  def webPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val html = concat(
      lit("<html><body><div>Welcome to "), col("source"),
      lit(" portal</div><p>"), col("text"),
      lit("</p><div>Contact "), col("source"), lit(" admin</div></body></html>"))
    val pages = docs.select(col("doc_id"),
      regDomainUdf(concat(lit("www."), col("source"), lit(".com"))).as("domain"),
      md5(col("text")).as("orig_fp"),
      extractLinesUdf(html).as("lines"))
    val lineHashes = pages.select(col("doc_id"), col("domain"),
        posexplode(col("lines")).as(Seq("pos", "line")))
      .select(col("doc_id"), col("domain"), col("pos"), md5(col("line")).as("lh"))
    val counts = lineHashes.groupBy(col("domain"), col("lh"))
      .agg(countDistinct(col("doc_id")).as("n_pages"))
    val keptPos = lineHashes.join(counts, Seq("domain", "lh"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(when(col("n_pages") < 2, col("pos"))))
        .as("kept_pos"))
    pages.join(keptPos, Seq("doc_id"))
      .select(col("domain"), col("orig_fp"),
        array_join(transform(col("kept_pos"),
          p => element_at(col("lines"), p + 1)), "\n").as("recovered"))
      .select(col("domain"),
        (md5(col("recovered")) === col("orig_fp")).as("ok"),
        pmod(conv(substring(md5(col("recovered")), 1, 15), 16, 10).cast("long"),
          lit(1000000007L)).as("rfp"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_recovered"),
        sum(col("rfp")).as("fp_sum"))
      .orderBy(col("domain"))
  }

  /** Oracle: recovery modeled directly — a doc recovers its own text
    * unless that text appears on ≥2 pages of the same site (then the
    * pipeline correctly blanks it as chrome). */
  val webPipelineSql: String =
    """WITH r AS (
      |  SELECT source || '.com' AS domain,
      |    CASE WHEN COUNT(*) OVER (PARTITION BY source, text) > 1
      |      THEN '' ELSE text END AS recovered,
      |    (CASE WHEN COUNT(*) OVER (PARTITION BY source, text) > 1
      |      THEN 0 ELSE 1 END)::BIGINT AS ok
      |  FROM documents
      |)
      |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(ok) AS BIGINT) AS n_recovered,
      |  CAST(SUM(CAST(concat('0x', substr(md5(recovered), 1, 15)) AS BIGINT)
      |    % 1000000007) AS BIGINT) AS fp_sum
      |FROM r GROUP BY domain ORDER BY domain""".stripMargin

  // ------------------------------------------------ q215 charset decode

  private def responseRaw(uri: String, ctype: String,
                          body: Array[Byte]): Array[Byte] =
    warcRecord("response", Some(uri), "application/http; msgtype=response",
      httpResponse(200, "OK", ctype, body))

  /** The charset fixture corpus: one page per declaration mechanism —
    * BOM, HTTP header parameter, meta tag, and none (the legacy
    * windows-1252 default, with bytes 0x92/0x85 that only decode right
    * under 1252). Separate folder from the q206 corpus so record
    * censuses stay independent. */
  private[web] def charsetFixtureFiles(): Seq[(String, Array[Byte])] = {
    def l1(s: String) = s.getBytes("ISO-8859-1")
    def w1252(s: String) = s.getBytes("windows-1252")
    def u8(s: String) = s.getBytes("UTF-8")
    val bom = Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte)
    Seq(
      "cs_bom.warc.gz" -> gzMembers(responseRaw(
        "https://enc.example.com/bom", "text/html",
        bom ++ u8("<html><body><p>Héllo café</p></body></html>"))),
      "cs_header.warc.gz" -> gzMembers(responseRaw(
        "https://enc.example.com/header", "text/html; charset=ISO-8859-1",
        l1("<html><body><p>naïve résumé</p></body></html>"))),
      "cs_meta.warc" -> responseRaw(
        "https://enc.example.com/meta", "text/html",
        u8("<html><head><meta charset=\"utf-8\"></head>" +
          "<body><p>Zürich Straße</p></body></html>")),
      "cs_none.warc.gz" -> gzMembers(responseRaw(
        "https://enc.example.com/none", "text/html",
        w1252("<html><body><p>a’b…c</p></body></html>"))))
  }

  /** The charset fixture folder, landed once per (application, dir). */
  def charsetFolder(spark: SparkSession, dir: String): String =
    graft.io.Layout.landFiles(spark, "warc_charset", dir)(charsetFixtureFiles())

  /** Charset-aware decode → extract; emits the charset actually used. */
  private val decodeExtract = udf { (httpCharset: String, payload: Array[Byte]) =>
    val (html, cs) = Html.decodePayload(Option(httpCharset), payload)
    (cs, Html.extractText(html))
  }

  /** q215: charset sniffing + transcoding through the oracle gate — the
    * step a crawl pipeline runs between WARC payload bytes and every
    * text operator. WHATWG precedence (BOM > HTTP `charset=` parameter
    * > meta tag in the head > the legacy windows-1252 default), decoded
    * with U+FFFD replacement (per-item totality). One fixture per
    * mechanism; the no-declaration page carries 0x92/0x85 bytes that
    * ONLY decode to the expected ’/… under 1252 — a UTF-8-by-default
    * or Latin-1-by-default implementation breaks the gate. Scale shape:
    * per-row kernel, slim summary out. */
  def charsetDecode(spark: SparkSession, dir: String): DataFrame = {
    val folder = charsetFolder(spark, dir)
    WarcScan.records(spark, folder)
      .select(col("file"),
        decodeExtract(col("r.http_charset"), col("r.payload")).as("d"))
      .select(col("file"), col("d._1").as("charset"),
        col("d._2").as("text"), length(col("d._2")).as("n_chars"))
      .orderBy(col("file"))
  }

  val charsetDecodeSql: String =
    """SELECT * FROM (VALUES
      |  ('cs_bom.warc.gz',    'utf-8',        'Héllo café', 10),
      |  ('cs_header.warc.gz', 'iso-8859-1',   'naïve résumé', 12),
      |  ('cs_meta.warc',      'utf-8',        'Zürich Straße', 13),
      |  ('cs_none.warc.gz',   'windows-1252', 'a’b…c', 5)
      |) AS t(file, charset, text, n_chars)
      |ORDER BY file""".stripMargin

  // ---------------------------------------------- q216 link graph

  private val LinksP1 = "https://links.example.com/dir/page1"
  private val LinksP2 = "https://links.example.com/page2"

  private[web] val PageL1: String =
    "<html><body>" +
      "<a href=\"sub/p2\">deeper page</a>" +
      "<a href=\"../up\">parent page</a>" +
      "<a href=\"/root\">site root</a>" +
      "<a href=\"//cdn.example.org/lib\">cdn lib</a>" +
      "<a href=\"https://other.sample.co.uk/x?utm_source=z&amp;id=9\">tracked external</a>" +
      "<a href=\"#sec\">same page</a>" +
      "<a href=\"?id=2\">query variant</a>" +
      "<a href=\"mailto:a@b.example\">mail me</a>" +
      "</body></html>"

  private[web] val PageL2: String =
    "<html><body><p>See <a href=\"/a/b\"><b>bold</b> link &amp; more</a> here.</p>" +
      "<a href='p3'>quoted single</a></body></html>"

  /** The link-graph fixture folder, landed once per (application, dir).
    * It is kept apart from q206's folder, so q206's record census stays
    * untouched. */
  def linksFolder(spark: SparkSession, dir: String): String =
    graft.io.Layout.landFiles(spark, "warc_links", dir)(Seq(
      "links_a.warc.gz" -> gzMembers(response(LinksP1, 200, "OK", "text/html", PageL1)),
      "links_b.warc" -> response(LinksP2, 200, "OK", "text/html", PageL2)))

  /** Anchors → RFC 3986 resolution against the page URI → canonical
    * target. Non-fetch schemes (mailto:, javascript:) drop — a link
    * graph holds crawl targets only. */
  private val edgesUdf = udf { (uri: String, payload: Array[Byte]) =>
    val html = new String(payload, java.nio.charset.StandardCharsets.UTF_8)
    Html.anchors(html).flatMap { case (href, text) =>
      Option(Url.resolve(uri, href))
        .flatMap(t => Option(Url.canonicalize(t)))
        .map(dst => Edge(href, dst, text))
    }
  }

  /** q216: the crawl link graph through the oracle gate — every anchor
    * of every fetched page becomes an edge (source page, raw href,
    * RESOLVED+CANONICALIZED target, target registered domain, extracted
    * anchor text). The fixture exercises the whole RFC 3986 §5 surface:
    * path-relative (against the directory, not the file),
    * parent-relative (dot segments resolved by the canonical pass),
    * absolute-path, protocol-relative, absolute-with-tracking-params,
    * fragment-only (self edge), query-only, and a mailto: that must NOT
    * appear; anchor text flattens nested markup and decodes entities
    * (it is training signal). Scale shape: per-row kernel + explode —
    * edges shuffle as slim strings; at crawl scale this feeds the
    * bucketed graph tier (q110/q114's shapes) directly. */
  def linkGraph(spark: SparkSession, dir: String): DataFrame = {
    val folder = linksFolder(spark, dir)
    WarcScan.records(spark, folder)
      .filter(col("r.http_status") === 200 && col("r.mime") === "text/html")
      .select(col("r.target_uri").as("src"),
        explode(edgesUdf(col("r.target_uri"), col("r.payload"))).as("e"))
      .select(col("src"), col("e.href").as("href"), col("e.dst").as("dst"),
        domainUdf(col("e.dst")).as("dst_domain"),
        col("e.anchor").as("anchor"))
      .orderBy(col("src"), col("href"))
  }

  val linkGraphSql: String = {
    val p1 = sqlStr(LinksP1); val p2 = sqlStr(LinksP2)
    s"""SELECT * FROM (VALUES
      |  ($p1, '#sec', 'https://links.example.com/dir/page1', 'example.com', 'same page'),
      |  ($p1, '../up', 'https://links.example.com/up', 'example.com', 'parent page'),
      |  ($p1, '//cdn.example.org/lib', 'https://cdn.example.org/lib', 'example.org', 'cdn lib'),
      |  ($p1, '/root', 'https://links.example.com/root', 'example.com', 'site root'),
      |  ($p1, '?id=2', 'https://links.example.com/dir/page1?id=2', 'example.com', 'query variant'),
      |  ($p1, 'https://other.sample.co.uk/x?utm_source=z&id=9', 'https://other.sample.co.uk/x?id=9', 'sample.co.uk', 'tracked external'),
      |  ($p1, 'sub/p2', 'https://links.example.com/dir/sub/p2', 'example.com', 'deeper page'),
      |  ($p2, '/a/b', 'https://links.example.com/a/b', 'example.com', 'bold link & more'),
      |  ($p2, 'p3', 'https://links.example.com/p3', 'example.com', 'quoted single')
      |) AS t(src, href, dst, dst_domain, anchor)
      |ORDER BY src, href""".stripMargin
  }

  // ---------------------------------------------- q217 sitemap audit

  private[web] def sitemapFixtureFiles(): Seq[(String, Array[Byte])] = {
    def u8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val index =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |<sitemap><loc>https://maps.example.com/sm_a.xml</loc><lastmod>2026-07-01</lastmod></sitemap>
        |<sitemap><loc>https://maps.example.com/sm_b.xml.gz</loc></sitemap>
        |</sitemapindex>""".stripMargin
    val smA =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |<url><loc>https://maps.example.com/a/item1</loc><lastmod>2026-08-01</lastmod><changefreq>daily</changefreq><priority>0.8</priority></url>
        |<url><loc>https://maps.example.com/a/item2?x=1&amp;y=2</loc><priority>0.5</priority></url>
        |<url><loc>https://maps.example.com/a/item3</loc><changefreq>monthly</changefreq></url>
        |</urlset>""".stripMargin
    val smB =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |<url><loc>HTTPS://Maps.Example.COM:443/b/page1#frag</loc></url>
        |<url><loc>https://maps.example.com/b/page2</loc><lastmod>2026-06-15</lastmod></url>
        |<url><loc></loc></url>
        |<url><lastmod>2026-01-01</lastmod></url>
        |</urlset>""".stripMargin
    Seq(
      "sm_index.xml.gz" -> Warc.renderGzMembers(u8(index)),
      "sm_a.xml" -> u8(smA),
      "sm_b.xml.gz" -> Warc.renderGzMembers(u8(smB)),
      "junk_sm.xml" -> u8("this is not xml at all"))
  }

  /** The sitemap fixture folder, landed once per (application, dir). */
  def sitemapFolder(spark: SparkSession, dir: String): String =
    graft.io.Layout.landFiles(spark, "sitemap", dir)(sitemapFixtureFiles())

  private val parseSitemap = udf { (bytes: Array[Byte]) =>
    Sitemap.parse(bytes).zipWithIndex.map { case (e, i) =>
      (i, e.kind, e.loc, e.lastmod.orNull, e.changefreq.orNull, e.priority)
    }
  }

  /** q217: sitemap ingestion through the oracle gate — the discovery
    * side of the crawl-policy pair (q211 robots = may-fetch; sitemap =
    * wants-fetched, with freshness/priority hints q223's revisit
    * scheduler consumes). Both document kinds parse (index + urlset), .xml.gz
    * inflates, XML entities decode, the canonical form of each loc ties
    * into the URL kernel (case/port/fragment spellings collapse), and
    * the fixture's defective entries (empty loc, loc-less url) plus the
    * junk file must quarantine, not throw. Scale shape: per-file
    * parallel scan, per-row kernel, slim rows out — sitemap files are
    * capped at 50k URLs by the protocol, so one file is always one
    * task's worth of work. */
  def sitemapAudit(spark: SparkSession, dir: String): DataFrame = {
    val folder = sitemapFolder(spark, dir)
    spark.read.format("binaryFile").load(folder)
      .select(element_at(split(col("path"), "/"), -1).as("file"),
        parseSitemap(col("content")).as("es"))
      .select(col("file"),
        explode_outer(when(size(col("es")) > 0, col("es"))).as("e"))
      .select(col("file"), col("e._1").as("seq"), col("e._2").as("kind"),
        col("e._3").as("loc"), canonicalizeUdf(col("e._3")).as("canon"),
        col("e._4").as("lastmod"), col("e._5").as("changefreq"),
        col("e._6").as("priority"))
      .orderBy(col("file"), col("seq"))
  }

  val sitemapAuditSql: String =
    """SELECT * FROM (VALUES
      |  ('junk_sm.xml', CAST(NULL AS INT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
      |     CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)),
      |  ('sm_a.xml', 0, 'url', 'https://maps.example.com/a/item1', 'https://maps.example.com/a/item1',
      |     '2026-08-01', 'daily', CAST(0.8 AS DOUBLE)),
      |  ('sm_a.xml', 1, 'url', 'https://maps.example.com/a/item2?x=1&y=2', 'https://maps.example.com/a/item2?x=1&y=2',
      |     CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(0.5 AS DOUBLE)),
      |  ('sm_a.xml', 2, 'url', 'https://maps.example.com/a/item3', 'https://maps.example.com/a/item3',
      |     CAST(NULL AS VARCHAR), 'monthly', CAST(NULL AS DOUBLE)),
      |  ('sm_b.xml.gz', 0, 'url', 'HTTPS://Maps.Example.COM:443/b/page1#frag', 'https://maps.example.com/b/page1',
      |     CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)),
      |  ('sm_b.xml.gz', 1, 'url', 'https://maps.example.com/b/page2', 'https://maps.example.com/b/page2',
      |     '2026-06-15', CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)),
      |  ('sm_index.xml.gz', 0, 'sitemap', 'https://maps.example.com/sm_a.xml', 'https://maps.example.com/sm_a.xml',
      |     '2026-07-01', CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)),
      |  ('sm_index.xml.gz', 1, 'sitemap', 'https://maps.example.com/sm_b.xml.gz', 'https://maps.example.com/sm_b.xml.gz',
      |     CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE))
      |) AS t(file, seq, kind, loc, canon, lastmod, changefreq, priority)
      |ORDER BY file, seq NULLS FIRST""".stripMargin

  // ---------------------------------------------- q213 WET conversion

  /** Extract → render a WET conversion record (.warc.gz, one member) →
    * strict re-parse. Null iff anything in the chain degrades. */
  private val wetRoundtrip = udf { (uri: String, payload: Array[Byte]) =>
    val text = Html.extractText(
      new String(payload, java.nio.charset.StandardCharsets.UTF_8))
    val wet = Warc.renderGzMembers(Warc.renderConversion(uri, text))
    Warc.parseFile(wet) match {
      case Seq(r) if r.warcType == "conversion" && r.targetUri.contains(uri) =>
        Some(new String(r.payload, java.nio.charset.StandardCharsets.UTF_8))
      case _ => None
    }
  }

  /** q213: the WRITE half of the WARC source under the oracle gate (the
    * FLAC-encode discipline applied to the crawl tier): every fetched
    * page extracts, renders as a WET-style `conversion` record in a
    * fresh single-member .warc.gz, and re-parses through the SAME
    * strict reader — emitted text must round-trip byte-exactly, and the
    * oracle binds it to the hand-derived extraction literals (q207's
    * ground truth with the line separator restored to real newlines).
    * A writer defect — wrong Content-Length, a mangled header, a
    * non-splittable member layout — kills the re-parse and breaks the
    * gate. Scale shape: per-row kernel; this is exactly how a cluster
    * emits WET shards (one conversion record per response, member per
    * record keeps the output splittable). */
  def wetConversion(spark: SparkSession, dir: String): DataFrame =
    htmlPages(spark, dir)
      .select(col("uri"), wetRoundtrip(col("uri"), col("payload")).as("wet_text"))
      .select(col("uri"),
        when(col("wet_text").isNotNull, md5(col("wet_text"))).as("wet_md5"),
        length(col("wet_text")).cast("long").as("wet_chars"))
      .orderBy(col("uri"))

  /** Oracle: md5/length computed by DuckDB over q207's hand-derived
    * extraction literals with '\n' lines restored. */
  val wetConversionSql: String =
    s"""SELECT uri, md5(replace(text_joined, ' / ', chr(10))) AS wet_md5,
      |  CAST(strlen(replace(text_joined, ' / ', chr(10))) AS BIGINT) AS wet_chars
      |FROM (VALUES
      |  (${sqlStr(UriB2)},
      |   'On Rye / About Archive Contact / Notes on rye flour / Rye ferments faster & needs less yeast. / Powered by QuillPress'),
      |  (${sqlStr(UriB1)},
      |   'On Sourdough / About Archive Contact / On sourdough starters / Feed the starter twice a day in warm weather. / Powered by QuillPress'),
      |  (${sqlStr(UriN1)},
      |   'Budget Vote / Home | World | Tech / Budget vote passes / The measure passed by a wide margin & takes effect in May. / Opposition leaders promised a court challenge. / next / Copyright 2026 News Example'),
      |  (${sqlStr(UriN2)},
      |   'Harbor Cleanup / Home | World | Tech / Harbor cleanup begins / Volunteers removed twelve tons of debris. / The effort continues through August. / prev next / Copyright 2026 News Example'),
      |  (${sqlStr(UriN3)},
      |   'Rail Strike Ends / Home | World | Tech / Rail strike ends / Trains resume service tonight after a six-day stoppage. / Copyright 2026 News Example')
      |) AS t(uri, text_joined)
      |ORDER BY uri""".stripMargin

  // -------------------------------------------- q212 crawl frontier

  /** q212: crawl-frontier planning — the two operators a fetch
    * scheduler runs on discovered URLs, composed: (1) canonical
    * first-seen dedup (q208's eight spelling variants collapse; the
    * EARLIEST discovering doc keeps the fetch — min doc_id per
    * canonical), then (2) the per-domain politeness schedule: keepers
    * fetch in discovery order, spaced by the domain's crawl delay
    * (fetch slot i → i·delay ms), the RFC 9309 Crawl-delay discipline.
    * The census binds frontier sizes, makespan, and the full schedule
    * (sum of fetch times per domain) — a wrong keeper, a wrong order,
    * or a collapsed/split canonical all move it. Ground truth by
    * construction (oracle reaches the same canonical directly).
    * Scale shape: one groupBy(canonical) min-aggregate (map-side
    * combined), then slot assignment via
    * [[graft.Dist.globalRowNumberWithin]] — range-partitioned on
    * (domain, keeper), so a single HOT domain's queue SPLITS across
    * partitions instead of serializing into one window task (the r9
    * SURVEY caveat, closed r11; DistSpec bounds the max task under a
    * 50%-hot-domain synthetic). Nothing corpus-sized is broadcast: the
    * offsets attach is the ≤ numParts−1-row boundary-spill frame. */
  def crawlFrontier(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val base = expr("doc_id div 8")
    val v = pmod(col("doc_id"), lit(8))
    val hostIdx = pmod(base, lit(5))
    val host0 = when(hostIdx === 0, "news.example.com")
      .when(hostIdx === 1, "www.sample.co.uk")
      .when(hostIdx === 2, "cdn.assets.example.com")
      .when(hostIdx === 3, "shop.example.org")
      .otherwise("data.gov.uk")
    val item = concat(lit("/a/item"), base.cast("string"))
    val raw = when(v === 0, concat(lit("https://"), host0, item))
      .when(v === 1, concat(lit("HTTPS://"), upper(host0), item))
      .when(v === 2, concat(lit("https://"), host0, lit(":443"), item))
      .when(v === 3, concat(lit("https://"), host0, lit("/a/x/../item"),
        base.cast("string")))
      .when(v === 4, concat(lit("https://"), host0, item, lit("?utm_source=feed")))
      .when(v === 5, concat(lit("https://"), host0, item, lit("#frag")))
      .when(v === 6, concat(lit("https://"), host0,
        regexp_replace(item, "item", "it%65m")))
      .otherwise(concat(lit("https://"), host0, item,
        lit("?id="), base.cast("string"), lit("&utm_medium=x")))
    val delay = when(col("domain") === "example.com", 2000L)
      .when(col("domain") === "sample.co.uk", 1000L)
      .when(col("domain") === "example.org", 5000L)
      .otherwise(10000L)
    val keepers = docs
      .select(col("doc_id"), canonicalizeUdf(raw).as("canon"),
        domainUdf(raw).as("domain"))
      .groupBy(col("domain"), col("canon"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_spellings"))
    val slots = graft.Dist.globalRowNumberWithin(keepers, "domain", col("keeper"))
      .withColumn("slot", col("rn") - 1)
      .withColumn("fetch_at_ms", col("slot") * delay)
    slots.groupBy(col("domain"))
      .agg(sum(col("n_spellings")).as("n_discovered"),
        count(lit(1)).as("n_frontier"),
        max(col("fetch_at_ms")).as("makespan_ms"),
        // per-row mod before the sum (overflow-safe at any domain size;
        // same residue as the oracle's exact sum-then-mod)
        pmod(sum(pmod(col("fetch_at_ms"), lit(1000000007L))),
          lit(1000000007L)).as("sched_fp"))
      .orderBy(col("domain"))
  }

  val crawlFrontierSql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    CASE (doc_id // 8) % 5
      |      WHEN 0 THEN 'example.com' WHEN 1 THEN 'sample.co.uk'
      |      WHEN 2 THEN 'example.com' WHEN 3 THEN 'example.org'
      |      ELSE 'data.gov.uk' END AS domain,
      |    'https://' || CASE (doc_id // 8) % 5
      |      WHEN 0 THEN 'news.example.com' WHEN 1 THEN 'www.sample.co.uk'
      |      WHEN 2 THEN 'cdn.assets.example.com' WHEN 3 THEN 'shop.example.org'
      |      ELSE 'data.gov.uk' END
      |      || '/a/item' || (doc_id // 8)::VARCHAR
      |      || CASE WHEN doc_id % 8 = 7 THEN '?id=' || (doc_id // 8)::VARCHAR ELSE '' END
      |      AS canon
      |  FROM documents
      |), k AS (
      |  SELECT domain, canon, MIN(doc_id) AS keeper,
      |    CAST(COUNT(*) AS BIGINT) AS n_spellings
      |  FROM u GROUP BY domain, canon
      |), s AS (
      |  SELECT domain, n_spellings,
      |    (ROW_NUMBER() OVER (PARTITION BY domain ORDER BY keeper) - 1) *
      |      CASE domain WHEN 'example.com' THEN 2000 WHEN 'sample.co.uk' THEN 1000
      |        WHEN 'example.org' THEN 5000 ELSE 10000 END AS fetch_at_ms
      |  FROM k
      |)
      |SELECT domain, CAST(SUM(n_spellings) AS BIGINT) AS n_discovered,
      |  CAST(COUNT(*) AS BIGINT) AS n_frontier,
      |  CAST(MAX(fetch_at_ms) AS BIGINT) AS makespan_ms,
      |  CAST(SUM(fetch_at_ms) % 1000000007 AS BIGINT) AS sched_fp
      |FROM s GROUP BY domain ORDER BY domain""".stripMargin

  // ------------------------------------------------ q211 robots audit

  /** The fixture crawl policy: a deny-all default group PLUS a specific
    * graftbot group — evaluating as graftbot must pick the specific
    * group (a broken group-match denies everything and the gate
    * breaks). The rules exercise longest-match precedence (Allow
    * /private/pub/ overriding Disallow /private/), wildcard+anchor
    * (the anchored `*.pdf` rule), bare prefix (/tmp), comments, and ignorable
    * directives. */
  private[web] val RobotsTxt: String =
    """# fixture policy
      |User-agent: *
      |Disallow: /
      |
      |User-agent: graftbot
      |Allow: /a/
      |Disallow: /private/
      |Allow: /private/pub/
      |Disallow: /*.pdf$
      |Disallow: /tmp
      |Crawl-delay: 2
      |Sitemap: https://news.example.com/sitemap.xml
      |""".stripMargin

  /** q211: crawl-compliance audit at corpus scale — each `documents`
    * row synthesizes one fetched path in five documented classes
    * (plain content, private, private-but-published, pdf artifact,
    * tmp), the RFC 9309 engine evaluates every path against the parsed
    * policy AS graftbot, and the census per class must match the
    * hand-derived verdicts (ground truth by construction: the oracle
    * states the expected verdict per class; Spark must REACH it through
    * group selection + longest-match + wildcard/anchor matching).
    * doc_id is non-negative in the harness data (residue-slice family
    * precondition, q196). Scale shape: the policy parses ONCE on the
    * driver (a policy object is bytes, not a frame), evaluation is a
    * per-row kernel, then one groupBy census. */
  def robotsAudit(spark: SparkSession, dir: String): DataFrame = {
    val policy = Robots.policyFor(RobotsTxt, "graftbot")
    val allowedUdf = udf { (path: String) => policy.allowed(path) }
    val docs = graft.Tables.documents(spark, dir)
    val base = expr("doc_id div 5").cast("string")
    val v = pmod(col("doc_id"), lit(5))
    val path = when(v === 0, concat(lit("/a/item"), base))
      .when(v === 1, concat(lit("/private/p"), base))
      .when(v === 2, concat(lit("/private/pub/d"), base))
      .when(v === 3, concat(lit("/docs/file"), base, lit(".pdf")))
      .otherwise(concat(lit("/tmp/x"), base))
    docs.select(v.cast("long").as("variant"), allowedUdf(path).as("ok"))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n_paths"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_allowed"))
      .orderBy(col("variant"))
  }

  /** Hand-derived verdicts: v0 allowed (Allow /a/), v1 disallowed
    * (Disallow /private/), v2 allowed (Allow /private/pub/ is longer),
    * v3 disallowed (the anchored `*.pdf` rule), v4 disallowed (/tmp
    * prefix). */
  val robotsAuditSql: String =
    """SELECT doc_id % 5 AS variant, CAST(COUNT(*) AS BIGINT) AS n_paths,
      |  CAST(SUM(CASE doc_id % 5 WHEN 0 THEN 1 WHEN 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- defs

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q206_warc_records", warcRecords, Some(warcRecordsSql)),
    QueryDef("q207_html_extract", htmlExtract, Some(htmlExtractSql)),
    QueryDef("q208_url_canonical", urlCanonical, Some(urlCanonicalSql)),
    QueryDef("q209_boilerplate_lines", boilerplateLines,
      Some(boilerplateLinesSql)),
    QueryDef("q210_web_pipeline", webPipeline, Some(webPipelineSql)),
    QueryDef("q211_robots_audit", robotsAudit, Some(robotsAuditSql)),
    QueryDef("q212_crawl_frontier", crawlFrontier, Some(crawlFrontierSql)),
    QueryDef("q213_wet_conversion", wetConversion, Some(wetConversionSql)),
    QueryDef("q215_charset_decode", charsetDecode, Some(charsetDecodeSql)),
    QueryDef("q216_link_graph", linkGraph, Some(linkGraphSql)),
    QueryDef("q217_sitemap_audit", sitemapAudit, Some(sitemapAuditSql)))
}
