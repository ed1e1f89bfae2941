package graft.web

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The crawl link graph at CORPUS scale — q216 proves the kernels on a
  * fixture; this runs them over every `documents` row and feeds the
  * resulting edge set into the engine's iterative graph tier (q114's
  * integer PageRank discipline), closing "crawl container → ranked
  * pages" end to end.
  *
  * Ground truth by construction (the q208/q210 family): every document
  * renders as a page whose anchors are four documented SPELLING
  * classes (path-relative, absolute-path, protocol-relative with a
  * tracking param, dot-segmented); Spark must reach each edge through
  * the real chain — `Html.anchors` → RFC 3986 §5 `Url.resolve` →
  * canonicalize — while the oracle constructs the canonical targets
  * DIRECTLY from doc_id arithmetic. A resolution or canonicalization
  * defect (wrong base directory, kept utm param, unresolved dot
  * segment) splits or merges vertices and moves the ranking.
  *
  * Graph shape: docs cluster in groups of 16 sharing one host; every
  * page links its group hub (first doc of the group), its predecessor,
  * the NEXT group's hub (cross-host edge; the last group's target
  * doesn't exist and drops from the vertex set on both engines), and a
  * half-position page — hubs accumulate in-degree ∝ group size, so the
  * two-round damped integer PageRank (q114's exact update:
  * score' = 0.15·10⁶ + 85·Σ(score div out_deg) div 100) ranks them
  * deterministically, ties broken by URL.
  */
object CrawlGraph {

  private val resolveEdges = udf { (pageUrl: String, html: String) =>
    Html.anchors(html).flatMap { case (href, _) =>
      Option(Url.resolve(pageUrl, href))
        .flatMap(t => Option(Url.canonicalize(t)))
    }
  }

  def crawlPagerank(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val g = expr("doc_id div 16")
    val gs = g.cast("string")
    val i = col("doc_id").cast("string")
    val host = concat(lit("s"), pmod(g, lit(5)).cast("string"),
      lit(".crawl.example"))
    val pageUrl = concat(lit("https://"), host, lit("/d/"), gs, lit("/p"), i)
    val hub = (g * 16).cast("string")
    val nextG = (g + 1).cast("string")
    val nextHub = ((g + 1) * 16).cast("string")
    val half = (g * 16 + expr("(doc_id % 16) div 2")).cast("string")
    val html = concat(
      lit("<html><body>"),
      lit("<a href=\"p"), hub, lit("\">hub</a>"),
      when(pmod(col("doc_id"), lit(16)) =!= 0,
        concat(lit("<a href=\"/d/"), gs, lit("/p"),
          (col("doc_id") - 1).cast("string"), lit("\">prev</a>")))
        .otherwise(lit("")),
      lit("<a href=\"//s"), pmod(g + 1, lit(5)).cast("string"),
      lit(".crawl.example/d/"), nextG, lit("/p"), nextHub,
      lit("?utm_source=x\">next hub</a>"),
      lit("<a href=\"x/../p"), half, lit("\">half</a>"),
      lit("</body></html>"))
    // the real chain: anchor extraction → resolution → canonicalization;
    // page URLs are canonical by construction (src side needs no kernel)
    graft.relational.Relational.pagerankTop20(docs
      .select(pageUrl.as("src"), explode(resolveEdges(pageUrl, html)).as("dst"))
      .distinct())
  }

  /** Oracle: canonical edges straight from doc_id arithmetic (no HTML,
    * no URL kernels), then the identical two unrolled integer PageRank
    * rounds (q114's SQL tail, CTEs materialized). */
  val crawlPagerankSql: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id // 16 AS g FROM documents
      |), pages AS (
      |  SELECT doc_id, g,
      |    'https://s' || (g % 5)::VARCHAR || '.crawl.example/d/' || g::VARCHAR
      |      || '/p' AS base
      |  FROM d
      |), e0 AS (
      |  SELECT base || doc_id::VARCHAR AS src, base || (g * 16)::VARCHAR AS dst
      |  FROM pages
      |  UNION ALL
      |  SELECT base || doc_id::VARCHAR, base || (doc_id - 1)::VARCHAR
      |  FROM pages WHERE doc_id % 16 <> 0
      |  UNION ALL
      |  SELECT base || doc_id::VARCHAR,
      |    'https://s' || ((g + 1) % 5)::VARCHAR || '.crawl.example/d/'
      |      || (g + 1)::VARCHAR || '/p' || ((g + 1) * 16)::VARCHAR
      |  FROM pages
      |  UNION ALL
      |  SELECT base || doc_id::VARCHAR,
      |    base || (g * 16 + (doc_id % 16) // 2)::VARCHAR
      |  FROM pages
      |), e AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0),
      |""".stripMargin + graft.relational.Relational.pagerankTop20Sql

  // ------------------------------------------------ q230 anchor text

  private val resolveAnchors = udf { (pageUrl: String, html: String) =>
    Html.anchors(html).flatMap { case (href, text) =>
      Option(Url.resolve(pageUrl, href))
        .flatMap(t => Option(Url.canonicalize(t)))
        .map(t => (t, text))
    }
  }

  private val hostUdf = udf { (u: String) => Url.host(u) }

  /** q230: anchor-text aggregation — what the WEB says each page is
    * about. Anchor text describes a link's TARGET better than the
    * target's own page (the classic web-search ranking signal, and a
    * training corpus in its own right: query-document pairs for
    * retrieval models come from exactly this aggregate). It also covers
    * pages never fetched — a target that only exists as a link still
    * accumulates a description, which is how a crawler prioritizes the
    * unfetched frontier.
    *
    * q219's page construction with class-specific anchor texts: hub
    * links say "hub {g}" (so a group's hub accumulates the same text
    * from its own 16 pages AND the upstream group — the dominant
    * anchor), prev links say "prev {id}", section links "sec {id}".
    * Per target: counts per distinct text, the TOP text (max count,
    * ties to the lexicographically first), then a census per target
    * HOST binding target/edge/pair counts and a fingerprint over every
    * (target, top text, count) triple — a resolution defect, a lost
    * anchor, or a wrong argmax moves it. Spark reaches the aggregate
    * through the real chain (Html.anchors → Url.resolve →
    * canonicalize → Url.host); the oracle rebuilds the edge set from
    * doc_id arithmetic.
    *
    * Scale shape: one (dst, text) digest-keyed aggregate with map-side
    * combine (the exchange carries counts, text rides once per
    * distinct pair), one row_number window per dst (digest key), one
    * 5-row host census. */
  def anchorText(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.Tables.documents(spark, dir)
    val g = expr("doc_id div 16")
    val gs = g.cast("string")
    val i = col("doc_id").cast("string")
    val host = concat(lit("s"), pmod(g, lit(5)).cast("string"),
      lit(".crawl.example"))
    val pageUrl = concat(lit("https://"), host, lit("/d/"), gs, lit("/p"), i)
    val hub = (g * 16).cast("string")
    val nextG = (g + 1).cast("string")
    val nextHub = ((g + 1) * 16).cast("string")
    val half = (g * 16 + expr("(doc_id % 16) div 2")).cast("string")
    val html = concat(
      lit("<html><body>"),
      lit("<a href=\"p"), hub, lit("\">hub "), gs, lit("</a>"),
      when(pmod(col("doc_id"), lit(16)) =!= 0,
        concat(lit("<a href=\"/d/"), gs, lit("/p"),
          (col("doc_id") - 1).cast("string"), lit("\">prev "),
          (col("doc_id") - 1).cast("string"), lit("</a>")))
        .otherwise(lit("")),
      lit("<a href=\"//s"), pmod(g + 1, lit(5)).cast("string"),
      lit(".crawl.example/d/"), nextG, lit("/p"), nextHub,
      lit("?utm_source=x\">hub "), nextG, lit("</a>"),
      lit("<a href=\"x/../p"), half, lit("\">sec "), half, lit("</a>"),
      lit("</body></html>"))
    val pairs = docs
      .select(pageUrl.as("src"), explode(resolveAnchors(pageUrl, html)).as("a"))
      .select(col("a._1").as("dst"), col("a._2").as("text"))
      .groupBy(col("dst"), col("text")).agg(count(lit(1)).as("n"))
      .transform(graft.Dist.durableCkpt) // feeds the top AND totals branches
    val top = pairs
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("dst")).orderBy(col("n").desc, col("text"))))
      .filter(col("rk") === 1)
      .select(col("dst"), col("text").as("top_text"), col("n").as("top_n"))
    val totals = pairs.groupBy(col("dst"))
      .agg(sum(col("n")).as("n_edges"), count(lit(1)).as("n_texts"))
    top.join(totals, Seq("dst"))
      .groupBy(hostUdf(col("dst")).as("host"))
      .agg(count(lit(1)).as("n_targets"),
        sum(col("n_edges")).as("n_edges"),
        sum(col("n_texts")).as("n_texts"),
        pmod(sum(pmod(conv(substring(md5(concat(col("dst"), lit("|"),
          col("top_text"), lit("#"), col("top_n").cast("string"))), 1, 15),
          16, 10).cast("long"), lit(1000000007L))), lit(1000000007L))
          .as("top_fp"))
      .orderBy(col("host"))
  }

  /** Oracle: the four anchor classes with their texts from doc_id
    * arithmetic, the same argmax rule, the same host census. */
  val anchorTextSql: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id // 16 AS g FROM documents
      |), pages AS (
      |  SELECT doc_id, g,
      |    's' || (g % 5)::VARCHAR || '.crawl.example' AS host,
      |    'https://s' || (g % 5)::VARCHAR || '.crawl.example/d/' || g::VARCHAR
      |      || '/p' AS base
      |  FROM d
      |), e AS (
      |  SELECT host, base || (g * 16)::VARCHAR AS dst,
      |    'hub ' || g::VARCHAR AS text FROM pages
      |  UNION ALL
      |  SELECT host, base || (doc_id - 1)::VARCHAR,
      |    'prev ' || (doc_id - 1)::VARCHAR
      |  FROM pages WHERE doc_id % 16 <> 0
      |  UNION ALL
      |  SELECT 's' || ((g + 1) % 5)::VARCHAR || '.crawl.example',
      |    'https://s' || ((g + 1) % 5)::VARCHAR || '.crawl.example/d/'
      |      || (g + 1)::VARCHAR || '/p' || ((g + 1) * 16)::VARCHAR,
      |    'hub ' || (g + 1)::VARCHAR
      |  FROM pages
      |  UNION ALL
      |  SELECT host, base || (g * 16 + (doc_id % 16) // 2)::VARCHAR,
      |    'sec ' || (g * 16 + (doc_id % 16) // 2)::VARCHAR
      |  FROM pages
      |), p AS MATERIALIZED (
      |  SELECT host, dst, text, COUNT(*) AS n FROM e GROUP BY 1, 2, 3
      |), t AS (
      |  SELECT host, dst, text, n,
      |    ROW_NUMBER() OVER (PARTITION BY dst ORDER BY n DESC, text) AS rk
      |  FROM p
      |), tot AS (
      |  SELECT dst, SUM(n) AS n_edges, COUNT(*) AS n_texts FROM p GROUP BY 1
      |)
      |SELECT t.host,
      |  CAST(COUNT(*) AS BIGINT) AS n_targets,
      |  CAST(SUM(tot.n_edges) AS BIGINT) AS n_edges,
      |  CAST(SUM(tot.n_texts) AS BIGINT) AS n_texts,
      |  CAST(SUM(CAST(concat('0x', substr(md5(t.dst || '|' || t.text || '#'
      |    || t.n::VARCHAR), 1, 15)) AS BIGINT) % 1000000007)
      |    % 1000000007 AS BIGINT) AS top_fp
      |FROM t JOIN tot ON t.dst = tot.dst
      |WHERE t.rk = 1
      |GROUP BY t.host ORDER BY t.host""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q219_crawl_pagerank", crawlPagerank, Some(crawlPagerankSql)),
    QueryDef("q230_anchor_text", anchorText, Some(anchorTextSql)))
}
