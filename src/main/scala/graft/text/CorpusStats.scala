package graft.text

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus-level statistics and hygiene operators for training-data
  * pipelines — the quality/mixing tier that sits between the per-doc
  * scoring in [[TextOps]] (q24-q27, q34-q35) and the dedup cascade in
  * `llm.Similarity` (q40-q55):
  *
  *  - repetition signals (Gopher-style): per-doc duplicate-word and
  *    top-n-gram fractions, the standard heuristics for machine-generated
  *    or boilerplate text [Rae et al., Gopher, arXiv:2112.11446 §A1.1];
  *  - vocabulary coverage: corpus word-frequency table with cumulative
  *    coverage — the first step of tokenizer/vocab construction;
  *  - stratified sampling: deterministic hash-bucket sampling at
  *    per-language rates — the "data mixing" step that reweights corpus
  *    composition without a shuffle or RNG state;
  *  - PII redaction: regex scrubbing of emails / IPv4s / phone numbers,
  *    the pre-release hygiene pass.
  *
  * All four are expressed as declarative DataFrame plans over the harness
  * `documents` table with DuckDB oracle twins.
  */
object CorpusStats {
  import TextOps.tokens

  // ---------------------------------------------------------------------
  // q58: repetition signals (Gopher-style quality heuristics)
  // ---------------------------------------------------------------------

  /** Per-document repetition stats: duplicate-word fraction, most-frequent
    * word fraction, most-frequent word-bigram fraction, and a composite
    * `repetitious` flag.
    *
    * 100 TB shape: one explode per n-gram order, each feeding a two-level
    * hash aggregation — (doc_id, term) partial counts combine map-side, so
    * the shuffle carries at most |doc| distinct terms per doc, not raw
    * tokens. Bigrams come from a per-row array transform over the
    * materialized token array (NOT a window `lead` over an exploded frame:
    * that would globally sort every token of every document per doc —
    * a far bigger exchange than re-scanning the column-pruned text field,
    * which is all the second branch costs). The two branches are both
    * hash-partitioned by doc_id after their final aggregation, so the join
    * that recombines them reuses that partitioning without a new exchange.
    * Docs too short for grams keep a row via the left joins (all-zero
    * stats), so the output is total over the corpus. */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame = {
    // r13: the signals are row-LOCAL (each doc's stats depend only on
    // its own tokens — the q174 digram lesson), yet the explode
    // formulation shipped one row per token plus one per bigram into
    // two corpus-sized (doc, gram) hash aggregates and joined three
    // frames back. One compiled kernel pass computes the same five
    // integers map-only (bit-identity spec-locked in CorpusStatsSpec;
    // plan: 18 -> 2 Exchanges, both for the final global order).
    // fanOut: per-row token/bigram maps are the compute >> bytes regime.
    val base = graft.Dist.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"),
        graft.functions.TextKernels.repetitionStats(col("text")).as("r"))

    // ratios are double divisions of identical integers => exact in both
    // engines (same pattern as q25)
    base
      .select(col("doc_id"),
        coalesce(col("r.n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("r.n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("r.top_word_n"), lit(0L)).as("top_word_n"),
        coalesce(col("r.n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("r.top_bigram_n"), lit(0L)).as("top_bigram_n"))
      .withColumn("dup_word_frac",
        when(col("n_tokens") > 0,
          (col("n_tokens") - col("n_distinct")) / col("n_tokens")).otherwise(lit(0.0)))
      .withColumn("top_word_frac",
        when(col("n_tokens") > 0, col("top_word_n") / col("n_tokens")).otherwise(lit(0.0)))
      .withColumn("top_bigram_frac",
        when(col("n_bigrams") > 0, col("top_bigram_n") / col("n_bigrams")).otherwise(lit(0.0)))
      .withColumn("repetitious",
        col("dup_word_frac") > 0.5 || col("top_word_frac") > 0.1 || col("top_bigram_frac") > 0.05)
      .orderBy(col("doc_id"))
  }

  val repetitionSignalsSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      |  FROM documents
      |), wc AS (
      |  SELECT doc_id, w, COUNT(*) AS n
      |  FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY 1, 2
      |), ws AS (
      |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
      |    CAST(MAX(n) AS BIGINT) AS top_word_n
      |  FROM wc GROUP BY 1
      |), bc AS (
      |  SELECT doc_id, b, COUNT(*) AS n
      |  FROM (SELECT doc_id,
      |          unnest([toks[i] || ' ' || toks[i+1] for i in range(1, greatest(len(toks) - 1, 0) + 1)]) AS b
      |        FROM t) GROUP BY 1, 2
      |), bs AS (
      |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams, CAST(MAX(n) AS BIGINT) AS top_bigram_n
      |  FROM bc GROUP BY 1
      |), j AS (
      |  SELECT t.doc_id,
      |    COALESCE(n_tokens, 0) AS n_tokens, COALESCE(n_distinct, 0) AS n_distinct,
      |    COALESCE(top_word_n, 0) AS top_word_n,
      |    COALESCE(n_bigrams, 0) AS n_bigrams, COALESCE(top_bigram_n, 0) AS top_bigram_n
      |  FROM t LEFT JOIN ws ON t.doc_id = ws.doc_id LEFT JOIN bs ON t.doc_id = bs.doc_id
      |)
      |SELECT doc_id, n_tokens, n_distinct, top_word_n, n_bigrams, top_bigram_n,
      |  CASE WHEN n_tokens > 0 THEN (n_tokens - n_distinct) / n_tokens ELSE 0.0 END AS dup_word_frac,
      |  CASE WHEN n_tokens > 0 THEN top_word_n / n_tokens ELSE 0.0 END AS top_word_frac,
      |  CASE WHEN n_bigrams > 0 THEN top_bigram_n / n_bigrams ELSE 0.0 END AS top_bigram_frac,
      |  (CASE WHEN n_tokens > 0 THEN (n_tokens - n_distinct) / n_tokens ELSE 0.0 END > 0.5
      |   OR CASE WHEN n_tokens > 0 THEN top_word_n / n_tokens ELSE 0.0 END > 0.1
      |   OR CASE WHEN n_bigrams > 0 THEN top_bigram_n / n_bigrams ELSE 0.0 END > 0.05) AS repetitious
      |FROM j ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q59: vocabulary coverage (tokenizer-construction prep)
  // ---------------------------------------------------------------------

  /** Corpus word-frequency table with cumulative coverage: the top-50
    * words by frequency, each with its share and the running share of the
    * vocabulary so far — the curve a tokenizer builder reads to size a
    * vocab.
    *
    * 100 TB shape: the distributed work is the explode + hash aggregation
    * (map-side partial combine reduces each partition to its distinct
    * words). The top-50 is then a DISTRIBUTED ordered take
    * (`orderBy.limit` → TakeOrderedAndProject: per-partition top-50,
    * 50·parts rows merged at the driver) — never a full-vocab sort
    * through one task, which matters because the distinct-token table of
    * a web corpus is typo/noise-inflated to 10⁸–10⁹ rows. The ranking
    * windows run over the LIMIT-BOUNDED 50-row frame, and the corpus
    * total attaches via the broadcast one-row scalar frame (the q137
    * idiom) instead of a whole-vocab `sum over ()`. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(tokens(lower(col("text")))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      // both the top-50 take and the grand total read this frame: cut the
      // lineage so the corpus-sized tokenize+agg runs once, not per branch
      .transform(graft.Dist.durableCkpt)
    val total = counts.agg(sum(col("n")).as("total_n"))
    val order = Window.orderBy(col("n").desc, col("w"))
    counts
      .orderBy(col("n").desc, col("w")).limit(50)
      .withColumn("rank", row_number().over(order).cast("long"))
      .withColumn("cum_n",
        sum(col("n")).over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("w"), col("n").cast("long").as("n"),
        (col("cum_n") / col("total_n")).as("cum_frac"))
      .orderBy(col("rank"))
  }

  val vocabCoverageSql: String =
    """WITH c AS (
      |  SELECT w, COUNT(*) AS n
      |  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
      |        FROM documents)
      |  GROUP BY w
      |), r AS (
      |  SELECT w, CAST(n AS BIGINT) AS n,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n DESC, w) AS BIGINT) AS rank,
      |    CAST(SUM(n) OVER (ORDER BY n DESC, w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
      |    CAST(SUM(n) OVER () AS BIGINT) AS total_n
      |  FROM c
      |)
      |SELECT rank, w, n, cum_n / total_n AS cum_frac
      |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------
  // q60: deterministic stratified sampling (data mixing)
  // ---------------------------------------------------------------------

  /** Per-language sampling rates in basis points (integer, so the keep
    * test is an exact integer comparison in both engines). The shape of a
    * training-mix config: downsample the dominant language, keep the rest
    * at intermediate rates. */
  private val MixRatesBp: Seq[(String, Int)] =
    Seq("en" -> 9000, "zh" -> 5000, "de" -> 7000, "es" -> 7000, "fr" -> 7000)
  private val MixDefaultBp = 2500

  /** Deterministic stratified (per-language) sample: bucket =
    * md5("mix:" ++ text) mod 10000, keep iff bucket < rate_bp(lang).
    * Content-hash bucketing (not `rand()`) means the sample is
    * reproducible across runs/retries/engines, duplicate texts sample
    * identically, and — because the decision is a per-row expression — the
    * whole pass is shuffle-free until the reporting aggregation. The
    * "mix:" salt makes this decision independent of q35's split bucketing
    * (different salt ⇒ uncorrelated buckets from the same md5 machinery).
    *
    * Output: per-language audit of the mix — docs/tokens kept vs total. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rateBp = MixRatesBp.foldRight(lit(MixDefaultBp)) { case ((l, bp), acc) =>
      when(col("lang") === l, lit(bp)).otherwise(acc)
    }
    val bucket = pmod(
      conv(substring(md5(concat(lit("mix:"), col("text"))), 1, 15), 16, 10).cast("long"),
      lit(10000))
    Tables.documents(spark, dir)
      .withColumn("rate_bp", rateBp)
      .withColumn("keep", bucket < col("rate_bp"))
      .groupBy(col("lang"), col("rate_bp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("n_kept"),
        sum(when(col("keep"), graft.functions.TextKernels.tokenCount(col("text"))).otherwise(0)).cast("long").as("kept_tokens"),
        min(when(col("keep"), col("doc_id"))).as("first_kept"))
      .withColumn("rate_bp", col("rate_bp").cast("long"))
      .orderBy(col("lang"))
  }

  val stratifiedSampleSql: String = {
    val cases = MixRatesBp.map { case (l, bp) => s"WHEN lang = '$l' THEN $bp" }.mkString(" ")
    s"""WITH s AS (
       |  SELECT doc_id, lang, text,
       |    CASE $cases ELSE $MixDefaultBp END AS rate_bp,
       |    CAST(concat('0x', substr(md5('mix:' || text), 1, 15)) AS BIGINT) % 10000 AS bucket
       |  FROM documents
       |)
       |SELECT lang, CAST(rate_bp AS BIGINT) AS rate_bp, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN bucket < rate_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN bucket < rate_bp
       |    THEN len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) ELSE 0 END) AS BIGINT) AS kept_tokens,
       |  MIN(CASE WHEN bucket < rate_bp THEN doc_id END) AS first_kept
       |FROM s GROUP BY lang, rate_bp ORDER BY lang NULLS FIRST""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q61: PII redaction
  // ---------------------------------------------------------------------

  /** PII patterns, kept to constructs Java regex and DuckDB's RE2 read
    * identically: no backreferences, no lookaround; word boundaries and
    * non-capturing groups are common to both. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val PhoneRe = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"

  /** Redact emails → `<EMAIL>`, IPv4s → `<IP>`, phone-shaped numbers →
    * `<PHONE>`. Email first: its pattern can contain dots+digits that the
    * later passes would otherwise partially consume. Pure codegen'd
    * expressions — no UDF. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** q61: redaction over contact-enriched documents. The harness corpus is
    * synthetic word soup with no PII, so the query plants deterministic
    * contact strings derived from real columns (doc_id, source) and then
    * proves the scrubber removes them: counts per PII class before
    * redaction, and the md5 of the redacted text — which the DuckDB oracle
    * recomputes independently, so both the planting and the scrubbing are
    * cross-engine-verified. The operator itself ([[redactPii]]) is the
    * deliverable; the enrichment is the verification harness.
    *
    * 100 TB shape: narrow per-row string expressions only — no shuffle,
    * no UDF; whole-stage codegen end to end until the final sort. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val enriched = concat(
      col("text"),
      lit(" contact u"), col("doc_id").cast("string"), lit("@"), col("source"),
      lit(".example.com via "),
      lit("10.0."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".7 tel 555-"),
      lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
      lit("-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    // fanOut: six regex passes per row (~200µs) dwarf the ~400 B the
    // exchange re-ships — the one registered query where per-row compute
    // is heavy enough that parallelizing the single-row-group scan pays
    // (measured: 1.18s → see README; the sketch kernels measured the
    // opposite and stay un-fanned)
    graft.Dist.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), enriched.as("enriched"))
      // materialize the redaction once: the chain is non-cheap and
      // multi-referenced, so CollapseProject keeps the alias instead of
      // inlining the three regex passes into both consumers
      .withColumn("redacted", redactPii(col("enriched")))
      .select(col("doc_id"),
        size(regexp_extract_all(col("enriched"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("enriched"), lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
        size(regexp_extract_all(col("enriched"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
        length(col("redacted")).cast("long").as("redacted_len"),
        md5(col("redacted")).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  val piiRedactSql: String =
    s"""WITH e AS (
       |  SELECT doc_id,
       |    text || ' contact u' || doc_id || '@' || source || '.example.com via ' ||
       |    '10.0.' || (doc_id % 256) || '.7 tel 555-' ||
       |    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
       |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS enriched
       |  FROM documents
       |), r AS (
       |  SELECT doc_id, enriched,
       |    regexp_replace(regexp_replace(regexp_replace(enriched,
       |      '$EmailRe', '<EMAIL>', 'g'),
       |      '$Ipv4Re', '<IP>', 'g'),
       |      '$PhoneRe', '<PHONE>', 'g') AS redacted
       |  FROM e
       |)
       |SELECT doc_id,
       |  len(regexp_extract_all(enriched, '$EmailRe')) AS n_emails,
       |  len(regexp_extract_all(enriched, '$Ipv4Re')) AS n_ips,
       |  len(regexp_extract_all(enriched, '$PhoneRe')) AS n_phones,
       |  length(redacted) AS redacted_len,
       |  md5(redacted) AS redacted_md5
       |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q62: fixed-stride token windows (context chunking)
  // ---------------------------------------------------------------------

  /** Window/stride for chunking: 32-token windows advancing 24 tokens, so
    * consecutive chunks overlap by 8 tokens (the standard long-document
    * chunking shape for fixed-context training/embedding). */
  val ChunkW = 32
  val ChunkS = 24

  /** Split each document into overlapping fixed-stride token windows:
    * chunk k covers tokens [k·S, min(k·S+W, n)) for k in [0, ceil(n/S)).
    * The last windows may be shorter than W; every token belongs to ≥ 1
    * chunk. Emits one row per chunk with its token count, first token and
    * an md5 digest of the joined window (so the oracle verifies CONTENT,
    * not just shape).
    *
    * 100 TB shape: tokenize once into a materialized array column, then a
    * per-row transform + explode — narrow, shuffle-free, whole-stage
    * codegen until the output sort. Chunk fan-out is bounded by n/S per
    * doc, so output size is ~(W/S)× input tokens by construction. */
  def tokenWindows(spark: SparkSession, dir: String): DataFrame = {
    val n = size(col("toks"))
    val nChunks = ceil(n.cast("double") / ChunkS).cast("int")
    // sequence(0, nChunks-1) DESCENDS when nChunks-1 < 0 — guard empties
    val chunks = when(n > 0,
      transform(sequence(lit(0), nChunks - 1), k =>
        struct(k.cast("long").as("chunk_id"),
          slice(col("toks"), k * ChunkS + 1, least(lit(ChunkW), n - k * ChunkS)).as("chunk"))))
      .otherwise(array().cast("array<struct<chunk_id:bigint,chunk:array<string>>>"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), explode(chunks).as("c"))
      .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
        size(col("c.chunk")).cast("long").as("n_ctoks"),
        element_at(col("c.chunk"), 1).as("first_tok"),
        md5(array_join(col("c.chunk"), " ")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val tokenWindowsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
       |  FROM documents
       |), c AS (
       |  SELECT doc_id,
       |    unnest([{'chunk_id': k,
       |             'chunk': toks[k*$ChunkS+1 : least(k*$ChunkS+$ChunkW, len(toks))]}
       |            for k in range(0, CAST(ceil(len(toks) / $ChunkS.0) AS BIGINT))]) AS ch
       |  FROM t
       |)
       |SELECT doc_id, ch.chunk_id AS chunk_id,
       |  len(ch.chunk) AS n_ctoks,
       |  ch.chunk[1] AS first_tok,
       |  md5(array_to_string(ch.chunk, ' ')) AS chunk_md5
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------------
  // q63: sequence packing into fixed token budgets
  // ---------------------------------------------------------------------

  /** Context budget for packing (tokens per training sequence). */
  val PackC = 256

  /** Pack documents into fixed token budgets: within each source (the
    * pipeline's shard key), docs are taken in doc_id order and assigned to
    * bin floor((cumulative_tokens − 1) / C) — i.e. each doc lands in the
    * bin where its token interval ENDS. This is the contiguous-cumsum
    * approximation of greedy first-fit packing: deterministic, one window
    * pass, no sequential driver loop; a doc whose interval straddles a
    * boundary counts against the bin it finishes in (real packers truncate
    * or pad there — this audit reports `bin_tokens` so overflow is
    * visible).
    *
    * 100 TB shape: the running sum partitions by source — each shard packs
    * independently in parallel, which is exactly how a real pipeline packs
    * (global sequential packing would serialize the corpus). One shuffle
    * (by source) + per-partition sort; the report agg reuses the same
    * partitioning. */
  def sequencePack(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        graft.functions.TextKernels.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      // exact integer division (not floor(double)); greatest() keeps a
      // leading zero-token doc at bin 0 (Spark `div` truncates toward 0,
      // DuckDB `//` floors — they disagree only below zero)
      .withColumn("bin_id", expr(s"greatest(cum - 1, 0L) div $PackC"))
      .groupBy(col("source"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("bin_id"))
  }

  val sequencePackSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS n_tokens
       |  FROM documents
       |), b AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(greatest(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) - 1, 0) // $PackC AS BIGINT) AS bin_id
       |  FROM d
       |)
       |SELECT source, bin_id, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM b GROUP BY source, bin_id ORDER BY source NULLS FIRST, bin_id""".stripMargin

  // ---------------------------------------------------------------------
  // q66: TF-IDF keyword extraction (linear idf)
  // ---------------------------------------------------------------------

  /** Top-3 salient terms per document by tf-idf with a LINEAR idf:
    * score = (tf / n_tokens) · (n_docs / df). The idf is deliberately
    * log-free: every float op here is a single correctly-rounded IEEE
    * division or multiply, so Spark and DuckDB produce bit-identical
    * scores and the hash gate can cover the doubles (ln() is only
    * 1-ulp-accurate and differs between libm implementations — the same
    * reasoning as Exact.narrow for wide decimals). Linear idf ranks more
    * aggressively toward rare terms than log idf but is the same
    * "frequent here, rare elsewhere" salience signal.
    *
    * 100 TB shape: ONE tf aggregation (map-side combine over the
    * exploded tokens), then df and document length as window aggregates
    * OVER THE TF FRAME — no self-joined branches, so the token explode
    * runs exactly once (DataFrame unions/self-joins re-execute shared
    * subtrees; windows don't). Three exchanges total, each on a
    * high-cardinality key ((doc,term) → term → doc); the rank window
    * shares the doc_id exchange with the length window. n_docs rides in
    * as a broadcast 1-row aggregate, never a driver-side count. */
  def tfidfTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("w"))))
      .withColumn("n_tokens", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf").cast("double") / col("n_tokens")) *
          (col("n_docs").cast("double") / col("df")))
    val rankW = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("w"))
    scored
      .withColumn("rnk", row_number().over(rankW).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("w").as("term"),
        col("tf").cast("long").as("tf"), col("df").cast("long").as("df"), col("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  val tfidfTermsSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, w, COUNT(*) AS tf FROM t GROUP BY 1, 2
      |), x AS (
      |  SELECT doc_id, w, tf,
      |    COUNT(*) OVER (PARTITION BY w) AS df,
      |    SUM(tf) OVER (PARTITION BY doc_id) AS n_tokens
      |  FROM tf
      |), n AS (SELECT COUNT(*) AS n_docs FROM documents), s AS (
      |  SELECT doc_id, w, tf, df,
      |    (CAST(tf AS DOUBLE) / n_tokens) * (CAST(n_docs AS DOUBLE) / df) AS score
      |  FROM x CROSS JOIN n
      |), r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rnk FROM s
      |)
      |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, w AS term,
      |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
      |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // q71: heavy hitters via the Misra-Gries sketch
  // ---------------------------------------------------------------------

  /** Top-20 most frequent tokens, EXACT, via the textbook TWO-PASS
    * distributed heavy hitter: pass 1 is a 64-counter Misra-Gries sketch
    * ([[graft.functions.MisraGries]] — O(k) state per partition, merged
    * map-side) that nominates ≤ 64 candidate tokens; pass 2 re-counts
    * ONLY the candidates exactly (broadcast semi-join prunes the token
    * stream before its aggregate, so the exact groupBy's key domain is
    * ≤ 64 — a constant-size shuffle, not the unbounded-vocabulary
    * aggregate q59 pays). At 100 TB the corpus is scanned twice, which is
    * inherent to exact heavy hitters in bounded memory; each pass is a
    * constant-state reduction.
    *
    * Exactness: MG guarantees every token with true count > N/(k+1) is
    * among the candidates, so the output is the true top-20 whenever the
    * 20th hitter clears N/65 — with k=64 ≥ 3× the output size that holds
    * at every harness SF (oracle-verified), and the spec keeps the
    * sketch-only error bounds covered for the regime where it wouldn't.
    * Estimates from pass 1 are never emitted: `est` is the exact count,
    * which is what makes the DuckDB oracle hash-checkable.
    *
    * The exactness precondition is GUARDED in-query, not assumed: the
    * same pass-1 aggregate also counts the stream (one extra counter),
    * and every emitted row must clear `est·(k+1) > N` — the MG guarantee
    * that no un-nominated token can outrank it. A future corpus/SF where
    * the 20th hitter dips below N/65 then fails loudly (assert_true in a
    * filter, which column pruning cannot drop) instead of silently
    * emitting a wrong "exact" top-20 only the external oracle would
    * catch. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHittersAt(spark, dir, 64)

  /** The production entry point: `k` is the Misra-Gries width, and it
    * must scale with the distribution's FLATNESS, not its size — the MG
    * certificate needs the 20th hitter above N/(k+1). The BENCH_SF1 10×
    * sweep demonstrated the failure honestly: the isomorphically-scaled
    * corpus holds every per-token count constant while N grows 10×
    * (copies never share tokens), so the registered k = 64 guard REFUSED
    * to emit (assert_true fired) rather than shipping a wrong "exact"
    * top-20; re-running with k ∝ the flattening (640 at 10×) certifies
    * again — the same k-scales-with-data policy as q118's SemDeDup
    * (`semanticDedupAt`), locked by ScalingSpec. */
  def heavyHittersAt(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(tokens(lower(col("text")))).as("tok"))
    // one row; feeds the candidate explode AND the guard → checkpoint so
    // the sketch pass runs once (no plan CSE across branches)
    val sk = toks
      .agg(graft.functions.MisraGries.sketch(col("tok"), k).as("hh"),
        count(lit(1)).as("n_total"))
      .transform(graft.Dist.durableCkpt)
    val cand = sk.select(explode(col("hh")).as("c"))
      .select(col("c").getField("item").as("tok"))
    val exact = toks.join(broadcast(cand), Seq("tok"), "left_semi")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // ≤ 64 rows remain: rank in one tiny array (negated count sorts the
    // struct ascending = count desc, token asc — total order, no window)
    exact
      .agg(slice(sort_array(collect_list(
        struct((-col("cnt")).as("negc"), col("tok").as("item")))), 1, 20).as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("col.item").as("item"), (-col("col.negc")).as("est"))
      .crossJoin(broadcast(sk.select(col("n_total"))))
      .filter(coalesce(
        assert_true(col("est") * (k + 1) > col("n_total"),
          concat(lit("q71 exactness invariant violated: emitted count "),
            col("est").cast("string"),
            lit(s" does not clear N/(k+1) with k=$k, N="), col("n_total").cast("string"))),
        lit(true)))
      .select(col("rank"), col("item"), col("est"))
  }

  val heavyHittersSql: String =
    """WITH toks AS (
      |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
      |  FROM documents
      |), c AS (
      |  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
      |), r AS (
      |  SELECT tok, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk FROM c
      |)
      |SELECT CAST(rnk AS BIGINT) AS rank, tok AS item, CAST(cnt AS BIGINT) AS est
      |FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin

  /** q71b: the ADAPTIVE heavy-hitter entry — k derived from a MEASURED
    * flatness bound instead of fixed, so the query reports a real answer
    * (and a real time) on distributions where the k = 64 certificate of
    * [[heavyHitters]] correctly refuses: the BENCH_SF1 isomorphic corpus
    * holds per-token counts constant while N grows 10×, the flattest
    * possible scaling, and q71 carried a −1 refusal sentinel through two
    * rounds (r12 judge task 4).
    *
    * Measure-then-act, ≤ 2 attempts by construction: attempt k₀ = 64 and
    * read back (N, c_min) — stream total and the smallest emitted exact
    * count, both bounded one-row actions over checkpointed ≤ 20-row
    * frames. The MG certificate is c_min·(k+1) > N. If it fails, the
    * FAILED attempt's own numbers prescribe a sufficient width:
    * k₁ = ⌊N / c_min⌋ + 1 (≥ the escalation floor 10·k₀). Proof the
    * second attempt always certifies: the true 20th count c₂₀ ≥ c_min
    * (c_min is the 20th-largest among a candidate SUBSET's exact
    * counts), and k₁ + 1 > N / c_min ≥ N / c₂₀, so every true top-20
    * token clears MG's nomination bound N/(k₁+1), is re-counted exactly,
    * and the emitted c_min′ = c₂₀ satisfies the certificate. On a flat
    * distribution k₁ approaches the vocabulary size — the honest,
    * information-theoretic cost of an EXACT top-20 there (it does not
    * exist in sublinear state; MG's map is capped at k entries either
    * way). Oracle: identical to q71 (the exact top-20). */
  def heavyHittersAdaptive(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(tokens(lower(col("text")))).as("tok"))
    // one (result, N, c_min) attempt at width k; both reads are bounded
    // actions (one row each) over checkpointed ≤20-row frames
    def attempt(k: Int): (DataFrame, Long, Long) = {
      val sk = toks
        .agg(graft.functions.MisraGries.sketch(col("tok"), k).as("hh"),
          count(lit(1)).as("n_total"))
        .transform(graft.Dist.durableCkpt)
      val cand = sk.select(explode(col("hh")).as("c"))
        .select(col("c").getField("item").as("tok"))
      val exact = toks.join(broadcast(cand), Seq("tok"), "left_semi")
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val res = exact
        .agg(slice(sort_array(collect_list(
          struct((-col("cnt")).as("negc"), col("tok").as("item")))), 1, 20).as("top"))
        .select(posexplode(col("top")))
        .select((col("pos") + 1).cast("long").as("rank"),
          col("col.item").as("item"), (-col("col.negc")).as("est"))
        .transform(graft.Dist.durableCkpt)
      val n = sk.select(col("n_total")).head().getLong(0)
      val cMinRow = res.agg(min(col("est"))).head()
      // empty corpus → empty top-20, certificate trivially holds
      val cMin = if (cMinRow.isNullAt(0)) Long.MaxValue else cMinRow.getLong(0)
      (res, n, cMin)
    }
    val k0 = 64
    val (r0, n0, c0) = attempt(k0)
    if (c0 == Long.MaxValue || c0 * (k0 + 1L) > n0) r0
    else {
      val k1 = math.min(Int.MaxValue.toLong,
        math.max(10L * k0, n0 / c0 + 1L)).toInt
      val (r1, n1, c1) = attempt(k1)
      // always true by the proof above; loud if the invariant ever breaks
      require(c1 == Long.MaxValue || c1 * (k1 + 1L) > n1,
        s"q71b flatness bound failed to certify at derived k=$k1 (N=$n1, c_min=$c1)")
      r1
    }
  }

  // ---------------------------------------------------------------------
  // q80: per-source contribution cap
  // ---------------------------------------------------------------------

  /** Cap each source's contribution to the corpus at K docs, keeping the
    * highest-quality ones — the anti-domination rule every web-scale mix
    * applies (one crawler-friendly domain must not become 40% of
    * training data). Quality here is the q25 signal reduced to its
    * dominant term (doc length), with doc_id as the total tie-break.
    *
    * Shape: one window rank per source (`row_number` over the source
    * partition) then the cap filter — a single shuffle keyed by source;
    * skew (one giant source) is the window's partition, which is exactly
    * the case `Dist.saltedJoin`-style mitigation or AQE handles upstream
    * at 100 TB. Reports per-source kept/dropped census so the cap's
    * effect is visible. */
  def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    val K = 40
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("rk") <= K, 1)).as("n_kept"),
        count(when(col("rk") > K, 1)).as("n_dropped"),
        min(when(col("rk") <= K, col("n_chars"))).cast("long").as("min_kept_chars"))
      .orderBy(col("source"))
  }

  val sourceCapSql: String =
    """WITH r AS (
      |  SELECT doc_id, source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
      |  FROM documents
      |)
      |SELECT source, COUNT(*) AS n_docs,
      |  COUNT(CASE WHEN rk <= 40 THEN 1 END) AS n_kept,
      |  COUNT(CASE WHEN rk > 40 THEN 1 END) AS n_dropped,
      |  CAST(MIN(CASE WHEN rk <= 40 THEN n_chars END) AS BIGINT) AS min_kept_chars
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q90: deterministic linear quality classifier
  // ---------------------------------------------------------------------

  /** Model-scoring stage of the curation pipeline as a DECLARATIVE plan: a
    * fixed-weight linear classifier over engine-portable text features
    * (punctuation/digit ratios, stopword fraction, capped length and
    * token-length signals — the same feature family as fastText-style
    * quality filters). Deliberately TRANSCENDENTAL-FREE: the score is a
    * fixed left-associated chain of IEEE +/∗/÷ on exactly-representable
    * operands, so Spark and DuckDB produce bit-identical doubles and the
    * whole scoring surface sits under the hash gate (a sigmoid would add
    * exp(), which neither engine guarantees correctly rounded — the
    * decision boundary is identical on the linear score anyway).
    *
    * Scale shape: one corpus scan, all features computed inside
    * whole-stage codegen, no shuffle until the final order — at 100 TB
    * this is a map-only pass; swapping the linear model for a real one is
    * exactly the `mapPartitions`-batched scoring shape
    * `multimodal.Multimodal.extractFeaturesBatched` demonstrates. */
  /** The q90 feature weights' stop-word list — also the
    * [[graft.functions.TextKernels.textQualityStats]] kernel's table. */
  private[text] val QualityStop =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    // fanOut: heavy per-row feature kernel from a one-task scan
    // (sf1: q90 7.7 -> 4.4 s isolated min-of-3; q142 9.2 -> 4.9 s composing it)
    val docs = graft.Dist.fanOut(Tables.documents(spark, dir))
    // ONE compiled pass for all six features: the HOF form pays two
    // full-text regexp_replace passes (each BUILDING the replaced string
    // just to take its length), a split+filter token materialization and
    // two interpreted per-token folds per row, and the q90 scan feeds
    // q90/q142/q144/q235. Kernel ≡ HOF form is spec-locked over the corpus
    // (CorpusStatsSpec); the oracle sees the same integers either way.
    val base = docs.select(col("doc_id"),
        graft.functions.TextKernels.textQualityStats(col("text"), QualityStop).as("q"))
      .select(col("doc_id"), col("q.n_tokens").as("n_tokens"),
        col("q.n_chars").as("n_chars"), col("q.n_punct").as("n_punct"),
        col("q.n_digit").as("n_digit"), col("q.tok_chars").as("tok_chars"),
        col("q.n_stop").as("n_stop"))
    // guards: empty/token-free docs score from zeroed ratios, not NaN/NULL
    val punct = when(col("n_chars") > 0,
      col("n_punct").cast("double") / col("n_chars")).otherwise(0.0)
    val digit = when(col("n_chars") > 0,
      col("n_digit").cast("double") / col("n_chars")).otherwise(0.0)
    val stopf = when(col("n_tokens") > 0,
      col("n_stop").cast("double") / col("n_tokens")).otherwise(0.0)
    val avgLen = when(col("n_tokens") > 0,
      col("tok_chars").cast("double") / col("n_tokens")).otherwise(0.0)
    // fixed weights; ONE left-associated chain, mirrored verbatim in SQL
    val score = lit(-0.63) +
      lit(2.0) * stopf +
      lit(-8.0) * punct +
      lit(-6.0) * digit +
      lit(1.5) * (least(col("n_tokens").cast("double"), lit(400.0)) / 400.0) +
      lit(0.5) * (least(avgLen, lit(8.0)) / 8.0)
    base.select(col("doc_id"), col("n_tokens"), score.as("score"),
        when(score >= 0, "keep").otherwise("drop").as("label"))
      .orderBy(col("doc_id"))
  }

  val qualityClassifierSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS BIGINT) AS n_punct,
      |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
      |    CAST(list_aggregate(list_transform(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''), t -> length(t)), 'sum') AS BIGINT) AS tok_chars,
      |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS n_stop
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, n_tokens,
      |    -0.63 +
      |    2.0 * (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) +
      |    -8.0 * (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END) +
      |    -6.0 * (CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE) / n_chars ELSE 0.0 END) +
      |    1.5 * (LEAST(CAST(n_tokens AS DOUBLE), 400.0) / 400.0) +
      |    0.5 * (LEAST(CASE WHEN n_tokens > 0 THEN CAST(tok_chars AS DOUBLE) / n_tokens ELSE 0.0 END, 8.0) / 8.0) AS score
      |  FROM f
      |)
      |SELECT doc_id, n_tokens, score,
      |  CASE WHEN score >= 0 THEN 'keep' ELSE 'drop' END AS label
      |FROM s ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q91: edit-distance-1 fuzzy token join (SymSpell deletion banding)
  // ---------------------------------------------------------------------

  /** Typo-tolerant entity reconciliation: all pairs of customer names
    * within Levenshtein distance 1 — the fuzzy-matching primitive behind
    * record linkage, vocab normalization and query-log canonicalization.
    * (The documents table can't host this: its synthetic vocabulary is 31
    * tokens with no close pairs — customer names are a dense ed-1 space.)
    *
    * The naive formulation is an all-pairs edit-distance cross join —
    * O(n²), dead at any scale. The scale path is SymSpell-style
    * DELETION-NEIGHBORHOOD banding [Garbe, 2012, public-domain algorithm]:
    * key every name by itself plus each single-character deletion
    * (|s|+1 keys); two distinct strings are within edit distance 1 iff
    * they share a key (substitution → same deletion position; insert/
    * delete → the shorter IS a deletion of the longer). The self-join is
    * then an EQUI-join on the key — linear fan-out, shuffle keyed on
    * short strings — and a `levenshtein == 1` verify removes banding
    * false positives (two different deletes colliding). Candidates are
    * deduped BEFORE the verify here (unlike q41's dedup-after) because
    * the verify is O(|s|²) per pair, not a merge-walk.
    *
    * The key set is capped at c_custkey ≤ 1000 so the oracle's quadratic
    * twin stays cheap; the banding is what you'd run uncapped at 100 TB.
    * The frame feeds both join sides, so it is lazily checkpointed. */
  def fuzzyNameJoin(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 1000)
      .select(col("c_custkey"), col("c_name"))
      .transform(graft.Dist.durableCkpt)
    val keyed = names.select(col("c_custkey"), col("c_name"), explode(array_union(
        array(col("c_name")),
        expr("transform(sequence(1, length(c_name)), i -> concat(substr(c_name, 1, i-1), substr(c_name, i+1)))")))
      .as("key"))
    keyed.select(col("key"), col("c_custkey").as("key_a"), col("c_name").as("name_a"))
      .join(keyed.select(col("key"), col("c_custkey").as("key_b"), col("c_name").as("name_b")),
        Seq("key"))
      .filter(col("name_a") < col("name_b"))
      .select(col("key_a"), col("name_a"), col("key_b"), col("name_b")).distinct()
      .filter(levenshtein(col("name_a"), col("name_b")) === 1)
      .orderBy(col("name_a"), col("name_b"))
  }

  val fuzzyNameJoinSql: String =
    """WITH c AS (
      |  SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 1000
      |)
      |SELECT a.c_custkey AS key_a, a.c_name AS name_a,
      |       b.c_custkey AS key_b, b.c_name AS name_b
      |FROM c a JOIN c b ON a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) = 1
      |ORDER BY name_a, name_b""".stripMargin

  // ---------------------------------------------------------------------
  // q94: duplicated-span detection (substring-level dedup)
  // ---------------------------------------------------------------------

  /** Span width (tokens) for duplicate-span detection. */
  val SpanW = 12

  /** Cross-document duplicated token spans: every run of [[SpanW]]
    * consecutive tokens (stride 1) is fingerprinted, and spans occurring
    * in ≥ 2 distinct documents are reported with their occurrence census.
    * This is SUBSTRING-level dedup — the signal document-level dedup
    * (q20) and near-dup (q41) both miss: boilerplate headers, license
    * blocks and quoted passages duplicated inside otherwise-distinct
    * documents [Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499 — their suffix-array substring
    * dedup; this is the hashed fixed-width formulation that distributes].
    *
    * 100 TB shape: one narrow pass per doc (tokenize → per-row transform
    * over a token `sequence` → explode), then a TWO-level hash
    * aggregation — (span, doc) partials combine map-side so the exchange
    * carries one row per distinct span per doc, each a 16-byte digest +
    * counts, never the text. No distinct-expand, no self-join, no window
    * over raw tokens. Output is only the duplicated tail (HAVING ≥ 2
    * docs). At 100 TB this is the standard scalable alternative to a
    * distributed suffix array: shuffle volume ≈ one digest per
    * corpus token. */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    val n = size(col("toks"))
    // fanOut: one md5 per token position from a one-task scan (sf1
    // isolated min-of-3: 9.2 -> 2.4 s)
    graft.Dist.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .filter(n >= SpanW)
      // fused span-md5 kernel: one compiled pass per row replaces the
      // interpreted slice+array_join+md5 chain per POSITION (bit-identity
      // vs the HOF form spec-locked in SketchKernelsSpec; r13 measured
      // q94 1.46 -> 0.9 s isolated min-of-3 at sf0.1)
      .select(col("doc_id"), explode(
        graft.functions.SketchKernels.spanMd5s(col("toks"), SpanW)).as("span_md5"))
      .groupBy(col("span_md5"), col("doc_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("span_md5"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).cast("long").as("n_occ"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("span_md5"))
  }

  val spanDedupSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
       |  FROM documents
       |), s AS (
       |  SELECT doc_id,
       |    unnest([md5(array_to_string(toks[k : k+${SpanW - 1}], ' '))
       |            for k in range(1, len(toks) - ${SpanW - 2})]) AS span_md5
       |  FROM t WHERE len(toks) >= $SpanW
       |), pd AS (
       |  SELECT span_md5, doc_id, COUNT(*) AS n FROM s GROUP BY 1, 2
       |)
       |SELECT span_md5, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_occ,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM pd GROUP BY span_md5 HAVING COUNT(*) >= 2
       |ORDER BY span_md5""".stripMargin

  // ---------------------------------------------------------------------
  // q182: duplicated-span excision (the ACT to q94's measure)
  // ---------------------------------------------------------------------

  /** q182: duplicated-span EXCISION — q94 detects cross-document
    * duplicated [[SpanW]]-token spans (boilerplate headers, license
    * blocks, quoted passages); this REMOVES them and certifies the
    * repaired corpus, the way q151 enforces what q135 measures and q128
    * applies what q181 recovers. A token position is covered when any
    * duplicated span overlaps it; the repaired doc is the uncovered
    * tokens in original order [the excision step of Lee et al.,
    * arXiv:2107.06499 — their suffix-array substring dedup cuts the
    * duplicated bytes out of the training text, not just the census].
    * Output: per-source census — docs touched, token counts before/after
    * (conservation: kept + removed = original by construction), and a
    * bit_xor content fingerprint of every repaired doc, so the hash gate
    * certifies the repaired TEXT, not just counts.
    *
    * 100 TB shape: the span frame (one 16-byte digest + int offset per
    * corpus token) is RE-DERIVED on each of its two uses rather than
    * materialized — landing 10^13 narrow rows costs more than a second
    * map-only scan, so the plan is three scans (dup census, hit
    * collection, rebuild), each narrow and shuffle-light: the dup
    * decision exchanges one digest row per distinct (span, doc); hit
    * starts come back as (doc_id, int) pairs collapsed to one int-array
    * row per TOUCHED doc; the rebuild joins that slim frame to the
    * corpus on doc_id and excises row-locally (`filter` over positions ×
    * `exists` over the doc's hit list — no token ever shuffles). No
    * window, no self-join, no distinct-expand. */
  def spanExcision(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Similarity.hash60
    val n = size(col("toks"))
    // fanOut: the harness parquet is one row group → one task; per-row
    // work here (tokenize + one md5 per token, then the excision filter)
    // is exactly the compute ≫ row-bytes regime where the extra exchange
    // pays (sf0.1 min-of-3: 2.74 → 1.52 s; q41's codegen kernels don't)
    def base = graft.Dist.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), tokens(lower(col("text"))).as("toks"))
    // fused span-md5 kernel (q94's), position recovered from posexplode:
    // element pos holds the window starting at token pos+1
    def spanStarts = base.filter(n >= SpanW)
      .select(col("doc_id"),
        posexplode(graft.functions.SketchKernels.spanMd5s(col("toks"), SpanW)))
      .select(col("doc_id"), (col("pos") + 1).as("k"), col("col").as("span"))
    val dup = spanStarts
      .groupBy(col("span"), col("doc_id")).agg(count(lit(1)).as("n"))
      .groupBy(col("span")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("span"))
    val hits = spanStarts.join(dup, "span")
      .groupBy(col("doc_id")).agg(collect_set(col("k")).as("hit_ks"))
    val positions = when(n >= 1, sequence(lit(1), n))
      .otherwise(array().cast("array<int>"))
    base.join(hits, Seq("doc_id"), "left")
      .withColumn("hit_ks", coalesce(col("hit_ks"), array().cast("array<int>")))
      .withColumn("kept", filter(positions, p =>
        !exists(col("hit_ks"), h => p >= h && p <= h + lit(SpanW - 1))))
      .select(col("doc_id"), col("source"),
        n.cast("long").as("tok_before"),
        size(col("kept")).cast("long").as("tok_after"),
        array_join(transform(col("kept"), p => element_at(col("toks"), p)), " ")
          .as("rep"))
      .withColumn("fp", hash60(concat_ws("\u001f", col("doc_id"), col("rep"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("tok_after") < col("tok_before")).cast("long")).as("n_touched"),
        sum(col("tok_before")).cast("long").as("n_tok_before"),
        sum(col("tok_after")).cast("long").as("n_tok_after"),
        expr("bit_xor(fp)").cast("long").as("repaired_fp"))
      .orderBy(col("source"))
  }

  val spanExcisionSql: String =
    s"""WITH t AS MATERIALIZED (
       |  SELECT doc_id, source,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
       |  FROM documents
       |), sh AS MATERIALIZED (
       |  SELECT doc_id, k, md5(array_to_string(toks[k : k + ${SpanW - 1}], ' ')) AS span
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(1, len(toks) - ${SpanW - 1})) AS k
       |        FROM t WHERE len(toks) >= $SpanW)
       |), dup AS (
       |  SELECT span FROM (SELECT span, doc_id FROM sh GROUP BY 1, 2)
       |  GROUP BY span HAVING COUNT(*) >= 2
       |), hit AS MATERIALIZED (
       |  SELECT DISTINCT sh.doc_id, sh.k FROM sh JOIN dup USING (span)
       |), pos AS (
       |  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS p
       |  FROM t WHERE len(toks) >= 1
       |), kept AS (
       |  SELECT pos.doc_id, pos.p, pos.toks[pos.p] AS tok
       |  FROM pos WHERE NOT EXISTS (
       |    SELECT 1 FROM hit h
       |    WHERE h.doc_id = pos.doc_id AND pos.p BETWEEN h.k AND h.k + ${SpanW - 1})
       |), rep AS (
       |  SELECT t.doc_id, t.source, len(t.toks) AS tok_before,
       |    COALESCE(r.n_kept, 0) AS tok_after, COALESCE(r.rep, '') AS rep
       |  FROM t LEFT JOIN (
       |    SELECT doc_id, COUNT(*) AS n_kept,
       |      string_agg(tok, ' ' ORDER BY p) AS rep
       |    FROM kept GROUP BY doc_id) r USING (doc_id)
       |)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN tok_after < tok_before THEN 1 ELSE 0 END) AS BIGINT) AS n_touched,
       |  CAST(SUM(tok_before) AS BIGINT) AS n_tok_before,
       |  CAST(SUM(tok_after) AS BIGINT) AS n_tok_after,
       |  CAST(bit_xor(CAST(concat('0x', substr(md5(concat_ws(chr(31), doc_id, rep)), 1, 15)) AS BIGINT)) AS BIGINT) AS repaired_fp
       |FROM rep GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q95: inverted index (posting lists with bounded truncation)
  // ---------------------------------------------------------------------

  /** Posting-list cap: only the first K doc_ids materialize per term. */
  val PostK = 20

  /** Inverted index over the corpus: per term, its document frequency,
    * total occurrence count, and the posting list truncated to the first
    * [[PostK]] doc_ids — the retrieval-side primitive behind BM25/keyword
    * search over a training corpus.
    *
    * 100 TB shape: the exchange carries one row per DISTINCT (term, doc)
    * — the (term, doc) hash agg combines raw occurrences map-side — and
    * the posting list is capped BEFORE any collect: a per-term
    * `row_number` window marks the first K doc_ids, and `collect_list`
    * only ever sees rows the window admitted (collect_list skips the
    * NULLs the cap produces), so per-term driver/executor state is O(K)
    * no matter how frequent the term. df/n_occ stay exact over ALL
    * postings. The window and the final term agg share one exchange
    * (partitioning exprs ⊆ grouping exprs); an UNCAPPED collect_list
    * would be the classic "collect the whole posting list into one
    * aggregation buffer" OOM at web scale. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val wTerm = Window.partitionBy(col("term")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(wTerm))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sum(col("n")).cast("long").as("n_occ"),
        // CSV-joined, not ARRAY: the driver's hash-compare sorts rows by
        // every output column and array cells don't sort/hash
        array_join(sort_array(collect_list(when(col("rn") <= PostK, col("doc_id")))), ",")
          .as("postings"))
      .orderBy(col("term"))
  }

  val invertedIndexSql: String =
    s"""WITH s AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS term
       |  FROM documents
       |), td AS (
       |  SELECT term, doc_id, COUNT(*) AS n FROM s GROUP BY 1, 2
       |), r AS (
       |  SELECT *, row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn FROM td
       |)
       |SELECT term, COUNT(*) AS df, CAST(SUM(n) AS BIGINT) AS n_occ,
       |  array_to_string(list(doc_id ORDER BY doc_id) FILTER (WHERE rn <= $PostK), ',') AS postings
       |FROM r GROUP BY term ORDER BY term""".stripMargin

  // ---------------------------------------------------------------------
  // q103: systematic PPS sampling (probability proportional to size)
  // ---------------------------------------------------------------------

  /** One sample point per this many corpus tokens. */
  val PpsStride = 1000L

  /** Systematic probability-proportional-to-size sampling: lay the corpus
    * out as one token interval per doc (in doc_id order), drop a sample
    * point every [[PpsStride]] tokens, keep the docs whose interval
    * contains ≥ 1 point. Long documents are proportionally more likely to
    * be hit — the classic PPS design for survey sampling and
    * token-budgeted corpus subsampling — and the whole scheme is
    * DETERMINISTIC integer arithmetic (no RNG, no transcendentals), so
    * the oracle gates it exactly. `n_hits` telescopes: its sum is exactly
    * `total_tokens div stride` (the spec locks this).
    *
    * 100 TB shape: the global running sum uses [[graft.Dist.globalCumSum]]
    * — range partition + local window + broadcast offsets — never the
    * single-partition `Window.orderBy` cumsum. Selection is then a
    * per-row integer predicate. */
  def ppsSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), graft.functions.TextKernels.tokenCount(col("text")).cast("long").as("n_tokens"))
    graft.Dist.globalCumSum(docs, col("doc_id"), col("n_tokens"))
      .withColumn("n_hits",
        expr(s"cum div $PpsStride - (cum - n_tokens) div $PpsStride"))
      .filter(col("n_hits") > 0)
      .select(col("doc_id"), col("n_tokens"), col("cum"), col("n_hits"))
      .orderBy(col("doc_id"))
  }

  val ppsSampleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM d
       |)
       |SELECT doc_id, n_tokens, cum,
       |  CAST(cum // $PpsStride - (cum - n_tokens) // $PpsStride AS BIGINT) AS n_hits
       |FROM c WHERE cum // $PpsStride > (cum - n_tokens) // $PpsStride
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q104: PMI collocation mining (integer-scaled)
  // ---------------------------------------------------------------------

  /** Minimum co-occurrence count for a pair to be scored. */
  val PmiMinPairs = 5

  /** Pointwise-mutual-information collocation mining at the document
    * level: which token pairs co-occur in the same document far more than
    * their individual frequencies predict. The PMI ORDERING needs no
    * logarithm — log is monotone, so ranking by the scaled integer ratio
    * `1e6·n_ab·N div (n_a·n_b)` ranks identically to log-PMI while
    * staying exact integer arithmetic both engines agree on (same policy
    * as q66's linear idf and q90's transcendental-free classifier).
    *
    * Shape: per-doc distinct-token baskets (q96's generator — the
    * quadratic pair step bounded per basket, never crossing an exchange;
    * at web scale you'd cap baskets to the top-k informative terms
    * first), pair and unigram counts each one map-combined hash agg, the
    * 31-term unigram table BROADCAST back onto the pairs, and the corpus
    * size attached as a broadcast one-row aggregate — never a driver-side
    * count. The basket frame feeds three subtrees, so it is lazily
    * checkpointed (no plan CSE across branches). */
  def pmiPairs(spark: SparkSession, dir: String): DataFrame = {
    // fanOut BEFORE the checkpoint: a ckpt of the one-task scan stays one
    // partition, and the |toks|^2/2 pair flatten below it then runs on
    // one core (sf1 isolated min-of-3: 11.5 -> 1.4 s)
    val d = graft.Dist.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), sort_array(array_distinct(tokens(lower(col("text"))))).as("toks"))
      .transform(graft.Dist.durableCkpt)
    val uni = d.select(explode(col("toks")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
    val nDocs = d.agg(count(lit(1)).as("nd"))
    val pairs = d.select(explode(expr(
      """flatten(transform(toks, (x, i) ->
        |  transform(slice(toks, i + 2, size(toks) - i - 1), y ->
        |    struct(x AS t_a, y AS t_b))))""".stripMargin)).as("p"))
      .groupBy(col("p.t_a").as("t_a"), col("p.t_b").as("t_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= PmiMinPairs)
    pairs
      .join(broadcast(uni.select(col("t").as("t_a"), col("n").as("n_a"))), Seq("t_a"))
      .join(broadcast(uni.select(col("t").as("t_b"), col("n").as("n_b"))), Seq("t_b"))
      .crossJoin(broadcast(nDocs))
      .withColumn("pmi_scaled", expr("(1000000 * n_ab * nd) div (n_a * n_b)"))
      .select(col("t_a"), col("t_b"), col("n_ab"), col("n_a"), col("n_b"),
        col("pmi_scaled"))
      .orderBy(col("pmi_scaled").desc, col("t_a"), col("t_b"))
      .limit(30)
  }

  val pmiPairsSql: String =
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_distinct(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS toks
       |  FROM documents
       |), td AS (
       |  SELECT doc_id, unnest(toks) AS t FROM d
       |), uni AS (
       |  SELECT t, COUNT(*) AS n FROM td GROUP BY 1
       |), nd AS (SELECT COUNT(*) AS nd FROM d),
       |pairs AS (
       |  SELECT a.t AS t_a, b.t AS t_b, COUNT(*) AS n_ab
       |  FROM td a JOIN td b ON a.doc_id = b.doc_id AND a.t < b.t
       |  GROUP BY 1, 2
       |)
       |SELECT t_a, t_b, n_ab, ua.n AS n_a, ub.n AS n_b,
       |  (1000000 * n_ab * nd.nd) // (ua.n * ub.n) AS pmi_scaled
       |FROM pairs JOIN uni ua ON ua.t = t_a JOIN uni ub ON ub.t = t_b CROSS JOIN nd
       |WHERE n_ab >= $PmiMinPairs
       |ORDER BY pmi_scaled DESC, t_a, t_b LIMIT 30""".stripMargin

  // ---------------------------------------------------------------------
  // q109: data-mixture plan (uniform-target, availability-capped)
  // ---------------------------------------------------------------------

  /** q109: the data-MIXING planning step — given per-source token
    * inventories, compute the deterministic sampling rate (basis points)
    * that moves the corpus toward a UNIFORM source mix, capped at 100%
    * by availability (a source below the uniform share is taken whole —
    * the single-pass approximation of water-filling; over-represented
    * sources are downsampled toward `total div n_sources` tokens). The
    * planner that sits in front of q60's stratified sampler: q60
    * EXECUTES given rates, this derives them from the corpus itself.
    * All integer arithmetic (basis points, floor division), so the plan
    * hash-gates exactly.
    *
    * Shape: one map-combined source aggregation (sources are few by
    * construction), the corpus totals attached as a broadcast one-row
    * aggregate — never a driver-side collect. */
  def mixturePlan(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.functions.TextKernels.tokenCount(col("text"))).cast("long").as("n_tokens"))
    val t = s.agg(sum(col("n_tokens")).cast("long").as("total"),
      count(lit(1)).as("n_sources"))
    s.crossJoin(broadcast(t))
      .withColumn("share_bp", expr("(10000 * n_tokens) div total"))
      .withColumn("rate_bp",
        least(lit(10000L), expr("(10000 * (total div n_sources)) div n_tokens")))
      .withColumn("planned_tokens", expr("(n_tokens * rate_bp) div 10000"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("share_bp"), col("rate_bp"), col("planned_tokens"))
      .orderBy(col("source"))
  }

  val mixturePlanSql: String =
    """WITH s AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1
      |), t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total, COUNT(*) AS n_sources FROM s)
      |SELECT source, n_docs, n_tokens,
      |  (10000 * n_tokens) // total AS share_bp,
      |  least(10000, (10000 * (total // n_sources)) // n_tokens) AS rate_bp,
      |  (n_tokens * least(10000, (10000 * (total // n_sources)) // n_tokens)) // 10000 AS planned_tokens
      |FROM s CROSS JOIN t ORDER BY source NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q171: temperature-rebalanced language mixture (α = 0.5, exact
  // largest-remainder apportionment)
  // ---------------------------------------------------------------------

  /** q171: the MULTILINGUAL rebalancing step (the α-temperature sampling
    * of XLM-R/mT5): language ℓ's sampling weight is n_tokensℓ^α with
    * α = 0.5, which boosts low-resource languages without letting them
    * dominate. q109 flattens SOURCES toward uniform (α = 0); this keeps
    * a power-law compromise across LANGUAGES and allocates a fixed
    * token budget (half the corpus) EXACTLY:
    *
    *  - weight = integer √n_tokens (floor), made exact by a ±1 Newton
    *    correction on both engines, so α = 0.5 never touches floats;
    *  - allocations use Hamilton's largest-remainder method — floor the
    *    proportional quota, then hand the `budget − Σfloor` leftover
    *    units to the largest remainders (ties by language code). Unlike
    *    q109's independent floor rates, the allocations SUM TO THE
    *    BUDGET EXACTLY (spec-asserted), which is what a downstream
    *    sharder actually needs.
    *
    * Shape: ONE corpus-sized hash(lang) aggregate; every subsequent
    * step (weight, quota, remainder rank, leftover bonus) is a window
    * over the ≤|langs| frame (q168's unpartitioned-window idiom — no
    * scalar branch re-executes the corpus scan). Long arithmetic holds
    * to ~10^18: budget·weight overflows int64 only past ~10^12 tokens ·
    * 10^6 weight — at that corpus scale lift the quota products to
    * DECIMAL(38,0). */
  def temperatureMixture(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.functions.TextKernels.tokenCount(col("text"))).cast("long").as("n_tokens"))
      .withColumn("s0", expr("cast(floor(sqrt(cast(n_tokens AS double))) AS bigint)"))
      .withColumn("weight", expr(
        """CASE WHEN (s0 + 1) * (s0 + 1) <= n_tokens THEN s0 + 1
          |     WHEN s0 * s0 > n_tokens THEN s0 - 1 ELSE s0 END""".stripMargin))
      .withColumn("wsum", sum(col("weight")).over(all))
      .withColumn("budget", expr("sum(n_tokens) OVER () div 2"))
      .withColumn("base", expr("(budget * weight) div wsum"))
      .withColumn("rem", expr("(budget * weight) % wsum"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("rem").desc, col("lang"))))
      .withColumn("leftover", expr("budget - sum(base) OVER ()"))
      .withColumn("alloc_tokens",
        expr("base + (CASE WHEN rnk <= leftover THEN 1 ELSE 0 END)"))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        col("weight"), col("alloc_tokens").cast("long").as("alloc_tokens"),
        expr("(10000 * alloc_tokens) div budget").cast("long").as("alloc_bp"))
      .orderBy(col("lang"))
  }

  val temperatureMixtureSql: String =
    """WITH s AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |    CAST(SUM(len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1
      |), w AS (
      |  SELECT *, CAST(CASE WHEN (s0 + 1) * (s0 + 1) <= n_tokens THEN s0 + 1
      |                      WHEN s0 * s0 > n_tokens THEN s0 - 1 ELSE s0 END AS BIGINT) AS weight
      |  FROM (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS s0 FROM s)
      |), q AS (
      |  SELECT *,
      |    CAST(SUM(weight) OVER () AS BIGINT) AS wsum,
      |    CAST(SUM(n_tokens) OVER () // 2 AS BIGINT) AS budget
      |  FROM w
      |), r AS (
      |  SELECT *, (budget * weight) // wsum AS base,
      |    (budget * weight) % wsum AS rem
      |  FROM q
      |), k AS (
      |  SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rnk,
      |    CAST(budget - SUM(base) OVER () AS BIGINT) AS leftover
      |  FROM r
      |)
      |SELECT lang, n_docs, n_tokens, weight,
      |  CAST(base + (CASE WHEN rnk <= leftover THEN 1 ELSE 0 END) AS BIGINT) AS alloc_tokens,
      |  CAST(10000 * (base + (CASE WHEN rnk <= leftover THEN 1 ELSE 0 END)) // budget AS BIGINT) AS alloc_bp
      |FROM k ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // q119: deterministic training-order shuffle + sharding
  // ---------------------------------------------------------------------

  /** Shard capacity for the training order (docs per shard). */
  val ShufDocsPerShard = 64L

  /** q119: the LAST pipeline step before a trainer consumes the corpus —
    * a globally-shuffled, sharded reading order that is byte-reproducible
    * across runs, engines and machines. Three deterministic stages:
    *
    *  1. MIX: join q109's mixture plan and keep each doc iff
    *     `hash("ord:" ++ text) mod 10⁴ < rate_bp(source)` — the same
    *     content-hash downsampling idiom as q60, under a distinct salt
    *     so the decision is uncorrelated with the q60/q35 buckets;
    *  2. SHUFFLE: order by `hash60("shuf:" ++ doc_id)` — pseudo-random
    *     but a pure function of the doc id, so the training order never
    *     depends on partitioning, retries or RNG state (the property
    *     that makes a crashed 100 TB run resumable mid-epoch);
    *  3. SHARD: global position via [[graft.Dist.globalRowNumber]]
    *     (range partition + broadcast offsets — never a single-partition
    *     window), then `shard_id = pos div N`, `pos` within shard.
    *
    * The (okey, doc_id) struct key makes the order total even under a
    * 60-bit hash collision. `io.Sinks.writeTrainingShards` materializes
    * the actual shard files from this frame (byte-exact spec). */
  def trainingOrder(spark: SparkSession, dir: String): DataFrame = {
    val rates = mixturePlan(spark, dir).select(col("source"), col("rate_bp"))
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .join(broadcast(rates), Seq("source"))
      .filter(pmod(graft.llm.Similarity.hash60(concat(lit("ord:"), col("text"))),
        lit(10000)) < col("rate_bp"))
      .withColumn("okey",
        graft.llm.Similarity.hash60(concat(lit("shuf:"), col("doc_id").cast("string"))))
      .select(col("doc_id"), col("source"), col("okey"))
    graft.Dist.globalRowNumber(keyed, struct(col("okey"), col("doc_id")))
      .withColumn("shard_id", expr(s"(rn - 1) div $ShufDocsPerShard"))
      .withColumn("pos", expr(s"(rn - 1) % $ShufDocsPerShard"))
      .select(col("doc_id"), col("source"), col("okey"), col("shard_id"), col("pos"))
      .orderBy(col("doc_id"))
  }

  val trainingOrderSql: String =
    s"""WITH s AS (
       |  SELECT source,
       |    CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1
       |), t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total, COUNT(*) AS n_sources FROM s),
       |r AS (
       |  SELECT source,
       |    least(10000, (10000 * (total // n_sources)) // n_tokens) AS rate_bp
       |  FROM s CROSS JOIN t
       |), k AS (
       |  SELECT d.doc_id, d.source,
       |    CAST(concat('0x', substr(md5('shuf:' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS okey
       |  FROM documents d JOIN r USING (source)
       |  WHERE CAST(concat('0x', substr(md5('ord:' || d.text), 1, 15)) AS BIGINT) % 10000 < r.rate_bp
       |), o AS (
       |  SELECT doc_id, source, okey,
       |    ROW_NUMBER() OVER (ORDER BY okey, doc_id) AS rn
       |  FROM k
       |)
       |SELECT doc_id, source, okey,
       |  (rn - 1) // $ShufDocsPerShard AS shard_id,
       |  (rn - 1) % $ShufDocsPerShard AS pos
       |FROM o ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q124: exact-count stratified sample (largest-remainder allocation)
  // ---------------------------------------------------------------------

  /** q124: EXACT-COUNT stratified sampling — the eval-set constructor.
    * q60 samples at per-stratum RATES (content-hash bucket < rate_bp), so
    * realized counts are binomial; an evaluation set instead needs a
    * FIXED total size with exact per-stratum quotas. Three all-integer
    * stages, each a pure function of the data (no RNG, engine-exact):
    *
    *  1. ALLOCATE: total S = N div 10, Hare quota by largest remainder —
    *     `base_l = (n_l·S) div N`, the `S − Σbase` leftover seats go to
    *     the strata with the largest `(n_l·S) mod N`, ties broken by
    *     lang. Integer cross-multiplication, no division of doubles.
    *  2. SELECT: within each stratum take the `alloc_l` smallest
    *     `hash60("strat:" ++ doc_id)` keys (doc_id tie-break) — the
    *     deterministic analog of uniform-without-replacement, same idiom
    *     as q119's shuffle key under a distinct salt.
    *  3. AUDIT: per-stratum (n_docs, alloc, n_sampled, id_sum) where
    *     id_sum = Σ doc_id over the SELECTED rows — the output
    *     hash-gates the exact membership of the sample, not just its
    *     size.
    *
    * Scale shape: the per-stratum rank is a window partitioned by lang
    * over a slim (doc_id, lang, skey) projection — one hash exchange.
    * A dominant stratum makes that window's partition large; the scale
    * escape is the same as q80's cap (a pre-filter on skey below a
    * per-stratum threshold found via a first aggregate pass) — not
    * needed at harness SF where the biggest stratum fits a task. The
    * allocation windows run over the ~|strata|-row aggregated frame,
    * never raw rows. */
  def exactStratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        graft.llm.Similarity.hash60(
          concat(lit("strat:"), col("doc_id").cast("string"))).as("skey"))
    val strata = d.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val tot = strata.agg(sum(col("n_docs")).as("n_total"))
    val alloc = strata.crossJoin(broadcast(tot))
      .withColumn("s_total", expr("n_total div 10"))
      .withColumn("base", expr("(n_docs * s_total) div n_total"))
      .withColumn("rem", expr("(n_docs * s_total) % n_total"))
      .withColumn("leftover",
        col("s_total") - sum(col("base")).over(Window.partitionBy()))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("rem").desc, col("lang"))))
      .withColumn("alloc",
        col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
      .select(col("lang"), col("n_docs"), col("alloc"))
    val sampled = d
      .withColumn("srk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("skey"), col("doc_id"))))
      .join(broadcast(alloc.select(col("lang"), col("alloc"))), Seq("lang"))
      .filter(col("srk") <= col("alloc"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).as("id_sum"))
    alloc.join(sampled, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("alloc"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("id_sum"), lit(0L)).cast("long").as("id_sum"))
      .orderBy(col("lang"))
  }

  val exactStratifiedSampleSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST(concat('0x', substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS skey
      |  FROM documents
      |), s AS (
      |  SELECT lang, COUNT(*) AS n_docs FROM d GROUP BY 1
      |), t AS (
      |  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM s
      |), a0 AS (
      |  SELECT lang, n_docs, n_total // 10 AS s_total,
      |    (n_docs * (n_total // 10)) // n_total AS base,
      |    (n_docs * (n_total // 10)) % n_total AS rem
      |  FROM s CROSS JOIN t
      |), a AS (
      |  SELECT lang, n_docs,
      |    base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, lang)
      |      <= s_total - SUM(base) OVER () THEN 1 ELSE 0 END AS alloc
      |  FROM a0
      |), sel AS (
      |  SELECT lang, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY skey, doc_id) AS srk
      |  FROM d
      |), fs AS (
      |  SELECT sel.lang, COUNT(*) AS n_sampled, SUM(doc_id) AS id_sum
      |  FROM sel JOIN a USING (lang) WHERE srk <= alloc GROUP BY 1
      |)
      |SELECT a.lang, CAST(a.n_docs AS BIGINT) AS n_docs,
      |  CAST(a.alloc AS BIGINT) AS alloc,
      |  CAST(COALESCE(fs.n_sampled, 0) AS BIGINT) AS n_sampled,
      |  CAST(COALESCE(fs.id_sum, 0) AS BIGINT) AS id_sum
      |FROM a LEFT JOIN fs USING (lang) ORDER BY a.lang""".stripMargin

  // ---------------------------------------------------------------------
  // q127: takedown / right-to-erasure propagation
  // ---------------------------------------------------------------------

  /** q127: TAKEDOWN propagation — the governance sibling of q57's
    * decontamination: an externally-supplied deletion list (DMCA /
    * right-to-erasure requests) must be removed from the corpus and the
    * resulting snapshot re-certified. The fixture deletion list is a
    * deterministic ~1.5% of doc ids (`hash60("del:"++doc_id) mod 1000 <
    * 15` — a pure function, so the oracle derives the same list), but
    * the QUERY treats it as what it is in production: a separate small
    * frame, BROADCAST and left-anti-joined against the corpus — one
    * corpus scan, zero corpus-side shuffle, the only join build side is
    * the request list. Output: per-source audit (n_docs, n_deleted,
    * n_kept) plus `kept_fp`, the q125-style order-independent `bit_xor`
    * fingerprint of the SURVIVING doc ids — the number you publish with
    * the post-takedown snapshot so downstream consumers can verify they
    * hold exactly the purged corpus. Oracle uses NOT EXISTS (not NOT IN,
    * whose three-valued logic zeroes the check if any key is NULL). */
  def takedownPropagation(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Similarity.hash60
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val requests = docs
      .filter(pmod(hash60(concat(lit("del:"), col("doc_id").cast("string"))),
        lit(1000)) < 15)
      .select(col("doc_id"))
    val kept = docs.join(broadcast(requests), Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        expr("bit_xor(" +
          "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint))")
          .as("kept_fp"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_deleted"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_fp"), lit(0L)).cast("long").as("kept_fp"))
      .orderBy(col("source"))
  }

  val takedownPropagationSql: String =
    """WITH req AS (
      |  SELECT doc_id FROM documents
      |  WHERE CAST(concat('0x', substr(md5('del:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 15
      |), kept AS (
      |  SELECT d.source, COUNT(*) AS n_kept,
      |    bit_xor(CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)) AS kept_fp
      |  FROM documents d
      |  WHERE NOT EXISTS (SELECT 1 FROM req r WHERE r.doc_id = d.doc_id)
      |  GROUP BY 1
      |), tot AS (
      |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1
      |)
      |SELECT t.source, CAST(t.n_docs AS BIGINT) AS n_docs,
      |  CAST(t.n_docs - COALESCE(k.n_kept, 0) AS BIGINT) AS n_deleted,
      |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
      |  CAST(COALESCE(k.kept_fp, 0) AS BIGINT) AS kept_fp
      |FROM tot t LEFT JOIN kept k USING (source) ORDER BY t.source""".stripMargin

  // ---------------------------------------------------------------------
  // q130: size-balanced shard planning (serpentine placement)
  // ---------------------------------------------------------------------

  /** Shard count for [[shardBalance]]; small so the oracle's 8 rows stay
    * human-auditable. */
  val BalanceShards = 8

  /** q130: SIZE-BALANCED shard planning — the complement of q119's
    * order-random sharding: q119 fixes WITHIN-shard order for a known
    * shard count; this query decides WHICH unit goes to which shard so
    * no worker drags the epoch. Units are (source, lang) strata with
    * their total char mass; placement is SERPENTINE (boustrophedon):
    * strata ranked by size descending are dealt 0..N-1, then N-1..0, and
    * so on — each full pass adds one stratum per shard from an
    * interleaved size band, so shard loads track each other without the
    * sequential state a true LPT greedy needs. Serpentine is what
    * training-data writers actually use for static file planning: it is
    * a PURE FUNCTION of the rank — embarrassingly parallel, reproducible
    * and SQL-expressible — while LPT's bin-choice depends on all prior
    * placements (a driver-side loop at planning scale, not a scan).
    *
    * Scale shape: strata stats are ONE hash aggregate over the corpus;
    * ranking and placement run over the AGGREGATED frame (hundreds of
    * rows — the window never sees raw data). `asg_fp` is the q125-style
    * bit_xor fingerprint over (source, lang, shard), so the hash gate
    * certifies the full ASSIGNMENT, not just the per-shard totals. */
  def shardBalance(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.llm.Similarity.hash60
    val n = BalanceShards
    val strata = Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("n_chars")).cast("long").as("chars"))
    val ranked = strata.withColumn("rnk",
      row_number().over(
        Window.orderBy(col("chars").desc, col("source"), col("lang"))) - 1)
    val placed = ranked
      .withColumn("pass", expr(s"rnk div $n"))
      .withColumn("pos", pmod(col("rnk"), lit(n)))
      .withColumn("shard",
        when(pmod(col("pass"), lit(2)) === 0, col("pos"))
          .otherwise(lit(n - 1) - col("pos")).cast("int"))
    placed
      .select(col("shard"), col("chars"),
        hash60(concat_ws("\u001f", col("source"), col("lang"),
          col("shard"))).as("fp"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_strata"),
        sum(col("chars")).cast("long").as("total_chars"),
        max(col("chars")).cast("long").as("max_stratum_chars"),
        expr("bit_xor(fp)").cast("long").as("asg_fp"))
      .orderBy(col("shard"))
  }

  val shardBalanceSql: String = {
    val n = BalanceShards
    s"""WITH strata AS (
       |  SELECT source, lang, CAST(SUM(n_chars) AS BIGINT) AS chars
       |  FROM documents GROUP BY 1, 2
       |), ranked AS (
       |  SELECT source, lang, chars,
       |    ROW_NUMBER() OVER (ORDER BY chars DESC, source, lang) - 1 AS rnk
       |  FROM strata
       |), placed AS (
       |  SELECT source, lang, chars,
       |    CASE WHEN (rnk // $n) % 2 = 0 THEN rnk % $n
       |         ELSE ${n - 1} - (rnk % $n) END AS shard
       |  FROM ranked
       |)
       |SELECT CAST(shard AS INT) AS shard, COUNT(*) AS n_strata,
       |  CAST(SUM(chars) AS BIGINT) AS total_chars,
       |  CAST(MAX(chars) AS BIGINT) AS max_stratum_chars,
       |  CAST(bit_xor(CAST(concat('0x', substr(md5(
       |    concat_ws(chr(31), source, lang, shard)), 1, 15)) AS BIGINT)) AS BIGINT) AS asg_fp
       |FROM placed GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q137: BM25 retrieval scoring (integer-exact Okapi ranking)
  // ---------------------------------------------------------------------

  /** The fixed retrieval query for [[bm25Retrieval]]: one genuinely rare
    * corpus term (`dup`, df ≈ 5% of docs — the discriminative signal) plus
    * five mid-frequency terms, so the ranking exercises both ends of the
    * idf range. */
  val Bm25Terms: Seq[String] = Seq("dup", "spark", "window", "join", "vector", "slow")

  /** q137: Okapi BM25 document ranking — the standard lexical retrieval
    * scorer (Robertson & Spärck Jones; the BM25 in Lucene/Elasticsearch)
    * over the corpus, top-10 documents for a fixed six-term query.
    *
    * Scoring is BM25 with k1 = 6/5 and b = 3/4 EXCEPT the idf log: like
    * q66's linear idf and q90's transcendental-free classifier, the idf
    * RATIO (N − df + ½)/(df + ½) is used un-logged so every quantity stays
    * rational. With k1 and b exact rationals the whole per-term score is
    * one integer-valued fraction:
    *
    *   score_t = 22·S·tf·(2N − 2df + 1)
    *             ─────────────────────────────────────
    *             (2df + 1)·(10·tf·S + 3·S + 9·dl·N)
    *
    * (S = total corpus tokens, N = docs, dl = doc length; derived by
    * clearing avgdl = S/N from tf + k1·(1 − b + b·dl/avgdl)). Scaled by
    * 10^5 and floored with integer `div`, per-term scores are exact
    * int64s, their per-doc SUM is exact, and Spark and DuckDB agree
    * bit-for-bit — no float enters the plan. At harness scale the widest
    * intermediate is ≲ 10^17 (10^5·22·S·tf·(2N−2df+1)); a corpus where
    * S·N approaches 10^13 must lift the numerator to DECIMAL(38,0), which
    * changes no value — `div` is exact either way.
    *
    * 100 TB shape: dl comes from a per-row `size(tokens)` — no explode,
    * no aggregate; the exploded token stream is filtered to the six query
    * terms BEFORE its (doc, term) aggregate, so the tf shuffle carries
    * only matching tokens; df is a six-row aggregate OF THE TF FRAME,
    * broadcast back; corpus totals ride in as a broadcast one-row
    * aggregate (the q66 scalar-subquery shape). Top-10 is
    * `orderBy.limit` = TakeOrderedAndProject — per-partition top-k merged
    * on the driver, never a global sort — with the (score, doc_id) total
    * order making the cut deterministic. */
  def bm25Retrieval(spark: SparkSession, dir: String): DataFrame = {
    val withDl = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val stats = withDl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("s_tokens"))
    val tf = withDl
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("w"))
      .filter(col("w").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("w")).agg(count(lit(1)).as("tf"))
    val dfPerTerm = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfPerTerm), Seq("w"))
      .crossJoin(broadcast(stats))
      .withColumn("score_u", expr(
        """(CAST(100000 AS BIGINT) * 22 * s_tokens * tf * (2*n_docs - 2*df + 1))
          | div ((2*df + 1) * (10*tf*s_tokens + 3*s_tokens + 9*dl*n_docs))""".stripMargin))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("matched_terms"),
        sum(col("score_u")).cast("long").as("score_u"))
      .orderBy(col("score_u").desc, col("doc_id"))
      .limit(10)
  }

  val bm25RetrievalSql: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH dd AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
       |  FROM documents
       |), dl AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM dd
       |), stats AS (
       |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS s_tokens FROM dl
       |), t AS (
       |  SELECT doc_id, dl, unnest(toks) AS w FROM dl
       |), tf AS (
       |  SELECT doc_id, dl, w, COUNT(*) AS tf FROM t
       |  WHERE w IN ($terms) GROUP BY 1, 2, 3
       |), dfx AS (
       |  SELECT w, COUNT(*) AS df FROM tf GROUP BY 1
       |), s AS (
       |  SELECT tf.doc_id,
       |    (CAST(100000 AS BIGINT) * 22 * s_tokens * tf * (2*n_docs - 2*df + 1))
       |      // ((2*df + 1) * (10*tf*s_tokens + 3*s_tokens + 9*dl*n_docs)) AS score_u
       |  FROM tf JOIN dfx USING (w) CROSS JOIN stats
       |)
       |SELECT doc_id, COUNT(*) AS matched_terms,
       |  CAST(SUM(score_u) AS BIGINT) AS score_u
       |FROM s GROUP BY 1 ORDER BY score_u DESC, doc_id LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q142: quality-filter calibration audit
  // ---------------------------------------------------------------------

  /** q142: calibration audit between the two quality filters the engine
    * ships — the model-based classifier (q90's linear scorer) and the
    * rule-based heuristic (q25's length/punct gate). Docs are ranked by
    * classifier score, cut into DETERMINISTIC deciles, and each
    * (decile, classifier label, heuristic verdict) cell reports its count
    * and score range. The MLOps question this answers: where on the score
    * axis do the two filters disagree, and is the disagreement
    * concentrated at the decision boundary (expected, calibrated) or
    * spread across confident deciles (a filter bug)?
    *
    * Determinism: the decile is `(rank−1)·10 div N` over the total order
    * (score, doc_id) — not ntile over a single-partition window. The rank
    * comes from `Dist.globalRowNumber` (range partition + broadcast
    * offsets), N rides in as the broadcast one-row aggregate. Scores are
    * q90's bit-identical cross-engine doubles; only MIN/MAX of them are
    * emitted (order statistics — exact), never an order-dependent SUM. */
  def qualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    val clf = qualityClassifier(spark, dir)
      .select(col("doc_id"), col("score"), col("label"))
    val heur = TextOps.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality_ok"))
    val joined = clf.join(heur, Seq("doc_id"))
    val n = joined.agg(count(lit(1)).as("n_docs"))
    graft.Dist.globalRowNumber(joined, struct(col("score"), col("doc_id")))
      .crossJoin(broadcast(n))
      .withColumn("decile", expr("(rn - 1) * 10 div n_docs"))
      .groupBy(col("decile"), col("label"), col("quality_ok"))
      .agg(count(lit(1)).cast("long").as("n"),
        min(col("score")).as("min_score"), max(col("score")).as("max_score"))
      .orderBy(col("decile"), col("label"), col("quality_ok"))
  }

  val qualityCalibrationSql: String =
    s"""WITH clf AS (
       |  SELECT doc_id, score, label FROM ($qualityClassifierSql) c
       |), heur AS (
       |  SELECT doc_id, quality_ok FROM (${TextOps.qualityScoreSql}) h
       |), j AS (
       |  SELECT clf.doc_id, score, label, quality_ok
       |  FROM clf JOIN heur USING (doc_id)
       |), r AS (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score, doc_id) AS rn,
       |    COUNT(*) OVER () AS n_docs
       |  FROM j
       |)
       |SELECT (rn - 1) * 10 // n_docs AS decile, label, quality_ok,
       |  CAST(COUNT(*) AS BIGINT) AS n, MIN(score) AS min_score,
       |  MAX(score) AS max_score
       |FROM r GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------------
  // q144: token-budget curriculum selection
  // ---------------------------------------------------------------------

  /** q144: greedy token-budget selection — rank the corpus by the q90
    * classifier score (best first) and keep documents until 40% of the
    * corpus's tokens are spent. The "train on the best X tokens" selector
    * every data-constrained run uses (quality-pruned pretraining,
    * curriculum front-loading); q109 plans per-source RATES, this cuts a
    * single global QUALITY frontier under a hard budget.
    *
    * Determinism and scale: the global running token total comes from
    * `Dist.globalCumSum` over the total order (score desc, doc_id) —
    * range partition + broadcast offsets, never a single-partition
    * window; the budget (40% of total tokens) rides in as the broadcast
    * one-row aggregate; selection is `cum ≤ budget` (inclusive greedy
    * fill). Scores are q90's cross-engine-exact doubles used ONLY for
    * ordering; all emitted numbers are integers. The per-source census
    * carries `sel_fp` — the q125-style bit_xor membership fingerprint —
    * so the hash gate certifies WHICH documents were selected, not just
    * how many. */
  def tokenBudgetSelection(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Similarity.hash60
    val clf = qualityClassifier(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("score"))
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val total = clf.agg(sum(col("n_tokens")).cast("long").as("total_toks"))
    graft.Dist.globalCumSum(clf.join(src, Seq("doc_id")),
        struct((-col("score")).as("negs"), col("doc_id")), col("n_tokens"))
      .crossJoin(broadcast(total))
      .filter(col("cum") <= expr("4 * total_toks div 10"))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        hash60(concat(lit("sel:"), col("doc_id"))).as("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_sel"),
        sum(col("n_tokens")).cast("long").as("tok_sel"),
        expr("bit_xor(fp)").cast("long").as("sel_fp"))
      .orderBy(col("source"))
  }

  val tokenBudgetSelectionSql: String =
    s"""WITH clf AS (
       |  SELECT doc_id, n_tokens, score FROM ($qualityClassifierSql) c
       |), j AS (
       |  SELECT clf.doc_id, clf.n_tokens, clf.score, d.source
       |  FROM clf JOIN documents d USING (doc_id)
       |), r AS (
       |  SELECT *, SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(n_tokens) OVER () AS total_toks
       |  FROM j
       |), sel AS (
       |  SELECT source, doc_id, n_tokens FROM r WHERE cum <= 4 * total_toks // 10
       |)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sel,
       |  CAST(SUM(n_tokens) AS BIGINT) AS tok_sel,
       |  CAST(bit_xor(CAST(concat('0x', substr(md5(concat('sel:', doc_id)), 1, 15)) AS BIGINT)) AS BIGINT) AS sel_fp
       |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q166: vocabulary growth (Heaps curve)

  /** q166: vocabulary-growth census — the empirical Heaps curve: walking
    * the corpus in doc_id order in 100-doc buckets, how many NEW word
    * types does each bucket contribute, against its token volume. The
    * curve answers the collection questions scaling laws need (is the
    * corpus still contributing vocabulary, or is it re-treading — a
    * flattening novelty rate is the "more of the same data" signal
    * dedup/mixture planning acts on).
    *
    * Shape: a type's first occurrence is `min(doc_id)` per token — ONE
    * inverted-index-shaped hash aggregate (the only corpus-sized step,
    * map-side combinable), bucketed by integer division; per-bucket
    * token volume is a second corpus aggregate that never explodes
    * (per-row `size(tokens)`). The bucket frame GROWS with the corpus
    * (|docs|/100 rows — 10⁷ at 10⁹ docs), so the cumulative sums run
    * through [[graft.Dist.globalCumSum]] (range partition + broadcast
    * offsets, the q103/q144 primitive), never a single-partition
    * window. Novelty in integer basis points. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    // r13: per-bucket token volume counts via the tokenCount kernel (the
    // branch never needs the token ARRAY), and the two cumulative series
    // share ONE range partitioning via Dist.globalCumSum2 — the chained
    // form paid two range exchanges + two checkpoints + two window
    // passes over the identical bucket ordering (guide §2.4).
    val perBucket = Tables.documents(spark, dir)
      .select(expr("doc_id div 100").as("bucket"),
        graft.functions.TextKernels.tokenCount(col("text")).cast("long").as("n_toks"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("bucket_tokens"))
    val newTypes = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .select(explode(col("toks")).as("tok"), col("doc_id"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("fd"))
      .groupBy(expr("fd div 100").as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val joined = perBucket.join(newTypes, Seq("bucket"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
    graft.Dist.globalCumSum2(joined, col("bucket"),
        col("new_types"), col("bucket_tokens"))
      .withColumnRenamed("cum1", "cum_types")
      .withColumnRenamed("cum2", "cum_tokens")
      .withColumn("novelty_bp", expr("10000 * new_types div bucket_tokens"))
      .select(col("bucket"), col("n_docs").cast("long").as("n_docs"),
        col("bucket_tokens").cast("long").as("bucket_tokens"),
        col("new_types").cast("long").as("new_types"),
        col("cum_types").cast("long").as("cum_types"),
        col("cum_tokens").cast("long").as("cum_tokens"),
        col("novelty_bp").cast("long").as("novelty_bp"))
      .orderBy(col("bucket"))
  }

  val vocabGrowthSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      |  FROM documents
      |), pb AS (
      |  SELECT doc_id // 100 AS bucket, COUNT(*) AS n_docs,
      |    SUM(len(toks)) AS bucket_tokens
      |  FROM d GROUP BY 1
      |), ft AS (
      |  SELECT tok, MIN(doc_id) AS fd FROM (
      |    SELECT doc_id, unnest(toks) AS tok FROM d
      |  ) GROUP BY 1
      |), nt AS (
      |  SELECT fd // 100 AS bucket, COUNT(*) AS new_types FROM ft GROUP BY 1
      |), j AS (
      |  SELECT pb.bucket, n_docs, bucket_tokens,
      |    COALESCE(new_types, 0) AS new_types
      |  FROM pb LEFT JOIN nt ON pb.bucket = nt.bucket
      |)
      |SELECT bucket, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(bucket_tokens AS BIGINT) AS bucket_tokens,
      |  CAST(new_types AS BIGINT) AS new_types,
      |  CAST(SUM(new_types) OVER w AS BIGINT) AS cum_types,
      |  CAST(SUM(bucket_tokens) OVER w AS BIGINT) AS cum_tokens,
      |  CAST(10000 * new_types // bucket_tokens AS BIGINT) AS novelty_bp
      |FROM j
      |WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY bucket""".stripMargin

  // q163: BPE merge candidates

  /** q163: BPE merge-candidate counting — the TRAINING step of the
    * tokenizer tier (q34 applies a byte-pair-ish tokenizer, q149 measures
    * its fertility; this computes what tokenizer training actually
    * iterates): the top-20 adjacent symbol pairs by corpus frequency,
    * i.e. the first BPE merge round over a character-initialized
    * vocabulary (Sennrich et al., ACL 2016).
    *
    * The shape IS the classic BPE-training optimization: pair counts are
    * computed over the WORD-FREQUENCY TABLE, not over token occurrences —
    * collapse the corpus to (word, count) first (one hash aggregate, the
    * only corpus-sized step; distinct words grow ~Heaps-sublinearly), then
    * expand each distinct word once into its ≤ len−1 adjacent pairs and
    * weight by the word count. At 100 TB the vocab frame is millions of
    * rows where the token stream is trillions. Top-20 via
    * TakeOrderedAndProject with the (n desc, pair) total order. */
  def bpeMergeCandidates(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(spark, dir)
      .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
        .as("w"))
      .filter(length(col("w")) > 1)
      .groupBy(col("w")).agg(count(lit(1)).as("wn"))
    vocab
      .select(col("wn"),
        explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
      .groupBy(col("pair")).agg(sum(col("wn")).cast("long").as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)
  }

  val bpeMergeCandidatesSql: String =
    """WITH v AS (
      |  SELECT w, COUNT(*) AS wn FROM (
      |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |    FROM documents
      |  ) WHERE strlen(w) > 1 GROUP BY 1
      |), i AS (
      |  -- DuckDB's range() table function rejects lateral column args;
      |  -- the list-returning generate_series + unnest does the same job
      |  SELECT w, wn, unnest(generate_series(1, strlen(w) - 1)) AS i FROM v
      |), p AS (
      |  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, wn FROM i
      |)
      |SELECT pair, CAST(SUM(wn) AS BIGINT) AS n
      |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin

  // q185: multi-round BPE training

  /** Fixed unroll depth (the q114/q169 fixed-rounds discipline): both the
    * Spark trainer and the DuckDB oracle run exactly this many merges. */
  val BpeRounds = 10

  /** q185: MULTI-ROUND BPE TRAINING — the full tokenizer-training loop
    * that q163 computes one step of (Sennrich et al., ACL 2016):
    * initialize every distinct word as its character sequence, then
    * repeat K times: count adjacent symbol pairs weighted by word
    * frequency, MERGE the most frequent pair everywhere (leftmost-greedy,
    * non-overlapping), re-count over the merged segmentation. The output
    * is the learned merge list — the artifact a BPE tokenizer ships.
    *
    * Segmentations live as space-joined symbol strings; the merge is a
    * row-local fold over the symbol array with a string accumulator:
    * append `r` WITHOUT a separator when the accumulator's last token is
    * `l` (so the trailing `l` becomes `lr`), else append ` x`. The fold
    * is leftmost-greedy and non-overlapping by construction — a
    * just-merged `lr` never equals the single token `l` again (r is
    * non-empty), exactly the reference BPE semantics. The identical
    * lambda runs on both engines (Spark `aggregate`, DuckDB
    * `list_reduce`), so the merge list hash-gates.
    *
    * 100 TB shape: the ONLY corpus-sized step is the one word-frequency
    * hash aggregate (q163's observation: distinct words grow
    * Heaps-sublinearly — millions of rows where the token stream is
    * trillions). Every training round then runs on the checkpointed
    * vocab frame: pair counting is one explode + hash agg over distinct
    * words, the argmax is a 1-row TakeOrderedAndProject (the bounded
    * per-round collect that also materializes the round's lazy
    * checkpoint, q169's discipline), and the merge itself is row-local —
    * no joins, no windows, no shuffle beyond the small pair agg. */
  /** The leftmost-greedy merge of pair (l, r) as a SQL fold over the
    * space-joined segmentation in column `segCol` — shared by the trainer
    * rounds and the q187 apply chain. Symbols are [a-z]+ only, safe to
    * inline as literals. */
  private def bpeMergeExpr(segCol: String, l: String, r: String): Column = expr(
    s"aggregate(slice(split($segCol, ' '), 2, size(split($segCol, ' ')) - 1), " +
      s"element_at(split($segCol, ' '), 1), (acc, x) -> " +
      s"CASE WHEN (acc = '$l' OR endswith(acc, ' $l')) AND x = '$r' " +
      s"THEN concat(acc, '$r') ELSE concat(acc, ' ', x) END)")

  // training is consumed by BOTH q185 (the merge list) and q187 (the
  // apply/fertility report): land the K bounded-collect rounds once
  private val bpeMemo =
    new graft.SessionMemo[graft.SessionMemos.DirKey, Seq[(String, String, Long)]]("bpe_merges")

  /** Run the K training rounds; returns the ordered merge list (l, r, n). */
  def bpeTrainMerges(spark: SparkSession, dir: String): Seq[(String, String, Long)] =
    bpeMemo.getOrLand(spark, dir) {
      var segs = Tables.documents(spark, dir)
        .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
          .as("w"))
        .filter(length(col("w")) > 1)
        .groupBy(col("w")).agg(count(lit(1)).as("wn"))
        .select(trim(regexp_replace(col("w"), "(.)", "$1 ")).as("seg"), col("wn"))
        .transform(graft.Dist.durableCkpt)
      val merges = Seq.newBuilder[(String, String, Long)]
      for (_ <- 1 to BpeRounds) {
        val top = segs
          .select(col("wn"), split(col("seg"), " ").as("ss"))
          .select(col("wn"), explode(expr(
            "transform(sequence(1, size(ss) - 1), i -> " +
              "struct(element_at(ss, i) AS l, element_at(ss, i + 1) AS r))")).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("wn")).as("n"))
          .orderBy(col("n").desc, col("l"), col("r"))
          .limit(1).collect()(0) // bounded 1-row action per round
        val (l, r, n) = (top.getString(0), top.getString(1), top.getLong(2))
        merges += ((l, r, n))
        segs = segs
          .select(bpeMergeExpr("seg", l, r).as("seg"), col("wn"))
          .transform(graft.Dist.durableCkpt)
      }
      merges.result()
    }

  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeTrainMerges(spark, dir).zipWithIndex
      .map { case ((l, r, n), i) => ((i + 1).toLong, l, r, l + r, n) }
      .toDF("merge_no", "lhs", "rhs", "merged", "n")
      .orderBy(col("merge_no"))
  }

  /** Unrolled K-round oracle: each round's vocab CTE is referenced twice
    * (next round's pair counts + next merge) and MUST be MATERIALIZED or
    * DuckDB's CTE inlining goes exponential in K. */
  val bpeTrainSql: String = {
    val sb = new StringBuilder
    sb.append(
      """WITH v0 AS MATERIALIZED (
        |  SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS seg, wn FROM (
        |    SELECT w, COUNT(*) AS wn FROM (
        |      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |      FROM documents)
        |    WHERE strlen(w) > 1 GROUP BY 1))""".stripMargin)
    for (k <- 1 to BpeRounds) {
      sb.append(s""",
        |p$k AS (
        |  SELECT ss[i] AS lhs, ss[i+1] AS rhs, SUM(wn) AS n FROM (
        |    SELECT string_split(seg, ' ') AS ss, wn,
        |      unnest(generate_series(1, len(string_split(seg, ' ')) - 1)) AS i
        |    FROM v${k - 1})
        |  GROUP BY 1, 2),
        |m$k AS MATERIALIZED (
        |  SELECT lhs, rhs, n FROM p$k ORDER BY n DESC, lhs, rhs LIMIT 1)""".stripMargin)
      if (k < BpeRounds) sb.append(s""",
        |v$k AS MATERIALIZED (
        |  SELECT list_reduce(string_split(seg, ' '), (acc, x) ->
        |    CASE WHEN (acc = m.lhs OR ends_with(acc, ' ' || m.lhs)) AND x = m.rhs
        |    THEN acc || m.rhs ELSE acc || ' ' || x END) AS seg, wn
        |  FROM v${k - 1}, m$k m)""".stripMargin)
    }
    sb.append((1 to BpeRounds).map(k =>
      s"\nSELECT CAST($k AS BIGINT) AS merge_no, lhs, rhs, " +
        s"lhs || rhs AS merged, CAST(n AS BIGINT) AS n FROM m$k")
      .mkString("", "\nUNION ALL", "\nORDER BY merge_no"))
    sb.toString
  }

  // q187: trained-BPE apply + fertility report

  /** q187: APPLY THE TRAINED TOKENIZER — closes q185's train loop the way
    * q151 closes q135's measure (the measure→act discipline): the K
    * learned merges are applied IN TRAINING ORDER to every word of the
    * corpus (all words this time, including single-letter ones the
    * trainer's pair counts never see), and the result is the per-language
    * fertility report a tokenizer review actually reads — how many pieces
    * per word the LEARNED vocab costs each language, next to q149's
    * fixed-regex fertility.
    *
    * The apply runs on the DISTINCT-WORD frame (the q163/q185
    * observation: Heaps-sublinear where the token stream is trillions):
    * all K merge folds chain in ONE row-local projection per distinct
    * word, then piece counts join back to the (lang, word) occurrence
    * table — two vocab-sized frames, never the token stream. Training
    * itself lands once ([[bpeTrainMerges]]'s memo), so q185
    * and q187 share the K bounded collects.
    *
    * All-integer ratios (basis points, `div`): fertility_bp = pieces per
    * 100·100 words, compression_bp = chars per 100·100 pieces. */
  def bpeApplyFertility(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeTrainMerges(spark, dir)
    val words = Tables.documents(spark, dir)
      .select(col("lang"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
          .as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("wn"))
      .transform(graft.Dist.durableCkpt) // feeds the apply AND the join
    val vocab0 = words.select(col("w")).distinct()
      .withColumn("seg", trim(regexp_replace(col("w"), "(.)", "$1 ")))
    val segged = merges.foldLeft(vocab0) { case (df, (l, r, _)) =>
      df.withColumn("seg", bpeMergeExpr("seg", l, r))
    }
    val pieces = segged
      .select(col("w"), size(split(col("seg"), " ")).cast("long").as("pieces"))
    words.join(pieces, Seq("w"))
      .groupBy(col("lang"))
      .agg(sum(col("wn")).cast("long").as("n_words"),
        sum(col("wn") * length(col("w"))).cast("long").as("n_chars"),
        sum(col("wn") * col("pieces")).cast("long").as("n_pieces"))
      .withColumn("fertility_bp", expr("10000 * n_pieces div n_words"))
      .withColumn("compression_bp", expr("10000 * n_chars div n_pieces"))
      .orderBy(col("lang"))
  }

  /** Oracle: the q185 chain re-derived CARRYING the word column (and
    * without the length>1 filter — single-letter words contribute no
    * pairs, so every argmax is provably identical), through all K
    * applications, then the fertility aggregate. Multi-referenced CTEs
    * MATERIALIZED as ever. */
  val bpeApplyFertilitySql: String = {
    val sb = new StringBuilder
    sb.append(
      """WITH wf AS MATERIALIZED (
        |  SELECT lang, w, COUNT(*) AS wn FROM (
        |    SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |    FROM documents)
        |  GROUP BY 1, 2),
        |v0 AS MATERIALIZED (
        |  SELECT w, trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS seg,
        |    SUM(wn) AS wn
        |  FROM wf GROUP BY 1)""".stripMargin)
    for (k <- 1 to BpeRounds) {
      sb.append(s""",
        |p$k AS (
        |  SELECT ss[i] AS lhs, ss[i+1] AS rhs, SUM(wn) AS n FROM (
        |    SELECT string_split(seg, ' ') AS ss, wn,
        |      unnest(generate_series(1, len(string_split(seg, ' ')) - 1)) AS i
        |    FROM v${k - 1})
        |  GROUP BY 1, 2),
        |m$k AS MATERIALIZED (
        |  SELECT lhs, rhs, n FROM p$k ORDER BY n DESC, lhs, rhs LIMIT 1),
        |v$k AS MATERIALIZED (
        |  SELECT w, list_reduce(string_split(seg, ' '), (acc, x) ->
        |    CASE WHEN (acc = m.lhs OR ends_with(acc, ' ' || m.lhs)) AND x = m.rhs
        |    THEN acc || m.rhs ELSE acc || ' ' || x END) AS seg, wn
        |  FROM v${k - 1}, m$k m)""".stripMargin)
    }
    sb.append(s"""
        |SELECT lang, n_words, n_chars, n_pieces,
        |  10000 * n_pieces // n_words AS fertility_bp,
        |  10000 * n_chars // n_pieces AS compression_bp
        |FROM (
        |  SELECT lang, CAST(SUM(wf.wn) AS BIGINT) AS n_words,
        |    CAST(SUM(wf.wn * length(w)) AS BIGINT) AS n_chars,
        |    CAST(SUM(wf.wn * len(string_split(v.seg, ' '))) AS BIGINT) AS n_pieces
        |  FROM wf JOIN v$BpeRounds v USING (w) GROUP BY 1)
        |ORDER BY lang""".stripMargin)
    sb.toString
  }

  // q188: DSIR importance-resampling selection

  /** Hashed-feature bucket count. */
  val DsirBuckets = 4096
  /** The target-domain exemplar source. */
  val DsirTarget = "src0"
  /** Docs selected. */
  val DsirN = 100

  /** q188: DATA SELECTION VIA IMPORTANCE RESAMPLING (DSIR, Xie et al.,
    * NeurIPS 2023) — the modern pretraining-data selection step: score
    * every document by how much more likely its hashed-n-gram features
    * are under a TARGET domain (here the `src0` exemplar source) than
    * under the raw corpus, and keep the top-N. The published method uses
    * hashed word-bigram unigram-LM log-ratios; this keeps the exact
    * integer discipline (q174): log₂ in WHOLE BITS via binary digit
    * count, and the ratio in the overflow-free SUM-OF-BITS form
    * bits(n_t+1) − bits(n_r+1) + bits(R+B) − bits(T+B) per gram
    * occurrence (never a count PRODUCT, so the arithmetic survives
    * 100 TB-scale counts where bits(a·b) would need int128; the form
    * differs from bits-of-product by ≤1 unit, a constant the ranking is
    * insensitive to).
    *
    * 100 TB shape: two corpus-sized explode+hash aggregates build the
    * B=4096-bucket count tables (map-side combined to ≤B rows per
    * partition); the per-gram weight frame is ≤B rows — its grand totals
    * attach via an unpartitioned window over that bounded frame (the
    * q168 idiom) and it BROADCASTS into the scoring join; scoring is one
    * more explode + per-doc sum (combine collapses to 1 row/doc before
    * the exchange); the top-N is a TakeOrderedAndProject; the census is
    * over N rows. Nothing lands, nothing windows over a corpus-growing
    * frame. */
  def dsirSelection(spark: SparkSession, dir: String): DataFrame = {
    val h = "CAST(conv(substring(md5(concat(element_at(toks, i), ' ', " +
      "element_at(toks, i + 1))), 1, 15), 16, 10) AS BIGINT)"
    val gramsOf = s"CASE WHEN size(toks) >= 2 THEN " +
      s"transform(sequence(1, size(toks) - 1), i -> pmod($h, $DsirBuckets)) " +
      s"ELSE CAST(array() AS ARRAY<BIGINT>) END"
    // fanOut: per-token md5 bigram hashing from a one-task scan, twice
    // (counts + selection) -- compute >> row bytes (sf1 isolated
    // min-of-3: 11.0 -> 1.6 s)
    def grams(df: DataFrame): DataFrame = graft.Dist.fanOut(df)
      .select(col("doc_id"), col("source"), tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), col("source"),
        explode_outer(expr(gramsOf)).as("g"))
      .filter(col("g").isNotNull)
    // ONE corpus-sized aggregate yields both count tables (the target is
    // a conditional sum, not a second scan)
    val counts = grams(Tables.documents(spark, dir))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("nr"),
        sum(when(col("source") === DsirTarget, 1L).otherwise(0L)).as("nt"))
    val tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val weights = counts
      // grand totals over the ≤B-row bucket frame: bounded unpartitioned
      // window (PlanHygieneSpec census, bound = DsirBuckets)
      .withColumn("bits_r1",
        length(bin(sum(col("nr")).over(tot) + DsirBuckets)).cast("long"))
      .withColumn("bits_t1",
        length(bin(sum(col("nt")).over(tot) + DsirBuckets)).cast("long"))
      .select(col("g"),
        (length(bin(col("nt") + 1)).cast("long") - length(bin(col("nr") + 1))
          + col("bits_r1") - col("bits_t1")).as("wu"))
    val selected = grams(Tables.documents(spark, dir))
      .join(broadcast(weights), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(min(col("source")).as("source"), sum(col("wu")).as("w"))
      .orderBy(col("w").desc, col("doc_id"))
      .limit(DsirN)
    selected
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_selected"),
        sum(col("w")).cast("long").as("w_units"),
        expr("bit_xor(doc_id)").cast("long").as("sel_fp"))
      .orderBy(col("source"))
  }

  val dsirSelectionSql: String = {
    val h60 = "CAST(concat('0x', substr(md5(concat(ws[i], ' ', ws[i+1])), 1, 15)) AS BIGINT)"
    s"""WITH grams AS MATERIALIZED (
       |  SELECT doc_id, source, $h60 % $DsirBuckets AS g FROM (
       |    SELECT doc_id, source,
       |      list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws,
       |      unnest(generate_series(1,
       |        len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) - 1)) AS i
       |    FROM documents)
       |), cnt AS (
       |  SELECT g, CAST(COUNT(*) AS BIGINT) AS nr,
       |    CAST(SUM(CASE WHEN source = '$DsirTarget' THEN 1 ELSE 0 END) AS BIGINT) AS nt
       |  FROM grams GROUP BY 1
       |), w AS MATERIALIZED (
       |  SELECT g,
       |    length(format('{:b}', nt + 1))
       |      - length(format('{:b}', nr + 1))
       |      + length(format('{:b}', CAST(SUM(nr) OVER () AS BIGINT) + $DsirBuckets))
       |      - length(format('{:b}', CAST(SUM(nt) OVER () AS BIGINT) + $DsirBuckets)) AS wu
       |  FROM cnt
       |), sc AS (
       |  SELECT g2.doc_id, MIN(g2.source) AS source, SUM(w.wu) AS w
       |  FROM grams g2 JOIN w USING (g) GROUP BY 1
       |), sel AS (SELECT * FROM sc ORDER BY w DESC, doc_id LIMIT $DsirN)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_selected,
       |  CAST(SUM(w) AS BIGINT) AS w_units,
       |  CAST(bit_xor(doc_id) AS BIGINT) AS sel_fp
       |FROM sel GROUP BY 1 ORDER BY source""".stripMargin
  }

  // q189: Gopher quality-rule battery

  private val GopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** q189: the GOPHER QUALITY-RULE BATTERY (Rae et al. 2021, §A1.1) —
    * the published heuristic filter set most pretraining pipelines start
    * from, reported with PER-RULE failure attribution per source (a
    * source failing mostly the stopword rule is a different problem from
    * one failing the repetition rule). Rules, each exact-integer
    * (cross-multiplied rationals, no division):
    *  - word count in [50, 100000];
    *  - mean word length in [3, 10]  (3·nw ≤ chars ≤ 10·nw);
    *  - symbol-to-word ratio ≤ 0.1 ('#'/'…' words; 10·n_sym ≤ nw);
    *  - ≥80% of words alphabetic  (5·n_alpha ≥ 4·nw);
    *  - ≥2 of the 8 Gopher stopwords present;
    *  - top word-bigram character fraction ≤ 0.2 (5·top_chars ≤ chars)
    *    — the repetition screen; the line-based bullet/ellipsis rules are
    *    inapplicable to this corpus's flat one-line documents.
    *
    * 100 TB shape: everything per-doc is ROW-LOCAL (tokenize once into a
    * column, HOF filters/folds over it; the top-bigram screen is the
    * sorted-runs array kernel — no per-doc explode, no (doc, gram)
    * shuffle); the only aggregate is the ≤|sources| census. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Dist.fanOut(
        Tables.documents(spark, dir).select(col("source"), col("text")))
      .select(col("source"), tokens(lower(col("text"))).as("ws"))
      .withColumn("nw", size(col("ws")).cast("long"))
      .withColumn("chars", expr(
        "aggregate(ws, CAST(0 AS BIGINT), (a, w) -> a + length(w))"))
      .withColumn("n_alpha", expr(
        "CAST(size(filter(ws, w -> w rlike '[a-z]')) AS BIGINT)"))
      .withColumn("n_sym", expr(
        "CAST(size(filter(ws, w -> w LIKE '%#%' OR w LIKE '%…%')) AS BIGINT)"))
      .withColumn("n_stop", expr(
        s"CAST(size(filter(array(${GopherStops.map(s => s"'$s'").mkString(",")}), " +
          "s -> array_contains(ws, s))) AS BIGINT)"))
      // top word-bigram by (count desc, gram asc): sorted-runs kernel
      .withColumn("sbg", expr(
        "array_sort(CASE WHEN size(ws) >= 2 THEN transform(sequence(1, size(ws) - 1), " +
          "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))) " +
          "ELSE CAST(array() AS ARRAY<STRING>) END)"))
      .withColumn("starts", expr(
        "CASE WHEN size(sbg) = 0 THEN CAST(array() AS ARRAY<INT>) " +
          "ELSE filter(sequence(1, size(sbg)), " +
          "i -> i = 1 OR element_at(sbg, i) <> element_at(sbg, i - 1)) END"))
      .withColumn("top", expr(
        "array_min(transform(starts, (p, j) -> struct(" +
          "CAST(p - (CASE WHEN j + 2 <= size(starts) THEN element_at(starts, j + 2) " +
          "ELSE size(sbg) + 1 END) AS BIGINT) AS negc, element_at(sbg, p) AS gram)))"))
      .withColumn("top_chars", expr(
        "CASE WHEN top IS NULL THEN CAST(0 AS BIGINT) " +
          "ELSE (-top.negc) * (length(top.gram) - 1) END"))
    val flags = base.select(col("source"),
      (col("nw") >= 50 && col("nw") <= 100000).as("r_wc"),
      (lit(3) * col("nw") <= col("chars") && col("chars") <= lit(10) * col("nw")).as("r_mwl"),
      (lit(10) * col("n_sym") <= col("nw")).as("r_sym"),
      (lit(5) * col("n_alpha") >= lit(4) * col("nw")).as("r_alpha"),
      (col("n_stop") >= 2).as("r_stop"),
      (col("nw") < 2 || lit(5) * col("top_chars") <= col("chars")).as("r_rep"))
    def fails(c: String) = sum(when(!col(c), 1L).otherwise(0L)).cast("long").as(s"f_${c.stripPrefix("r_")}")
    flags
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        fails("r_wc"), fails("r_mwl"), fails("r_sym"), fails("r_alpha"),
        fails("r_stop"), fails("r_rep"),
        sum(when(col("r_wc") && col("r_mwl") && col("r_sym") && col("r_alpha") &&
          col("r_stop") && col("r_rep"), 1L).otherwise(0L)).cast("long").as("n_pass"))
      .orderBy(col("source"))
  }

  val gopherRulesSql: String = {
    val stops = GopherStops.map(s => s"'$s'").mkString(", ")
    s"""WITH d AS MATERIALIZED (
       |  SELECT source, ROW_NUMBER() OVER (ORDER BY doc_id) AS rid,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
       |  FROM documents
       |), m AS (
       |  SELECT rid, source, CAST(len(ws) AS BIGINT) AS nw,
       |    CAST(COALESCE(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS chars,
       |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
       |    CAST(len(list_filter(ws, w -> w LIKE '%#%' OR w LIKE '%…%')) AS BIGINT) AS n_sym,
       |    CAST(len(list_filter([$stops], s -> list_contains(ws, s))) AS BIGINT) AS n_stop
       |  FROM d
       |), bg AS (
       |  SELECT rid, ws[i] || ' ' || ws[i+1] AS g FROM (
       |    SELECT rid, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM d)
       |), top AS (
       |  SELECT rid, CAST(c * (length(g) - 1) AS BIGINT) AS top_chars FROM (
       |    SELECT rid, g, c, ROW_NUMBER() OVER (PARTITION BY rid ORDER BY c DESC, g) AS rn
       |    FROM (SELECT rid, g, COUNT(*) AS c FROM bg GROUP BY 1, 2))
       |  WHERE rn = 1
       |), f AS (
       |  SELECT m.source,
       |    m.nw >= 50 AND m.nw <= 100000 AS r_wc,
       |    3 * m.nw <= m.chars AND m.chars <= 10 * m.nw AS r_mwl,
       |    10 * m.n_sym <= m.nw AS r_sym,
       |    5 * m.n_alpha >= 4 * m.nw AS r_alpha,
       |    m.n_stop >= 2 AS r_stop,
       |    m.nw < 2 OR 5 * COALESCE(t.top_chars, 0) <= m.chars AS r_rep
       |  FROM m LEFT JOIN top t USING (rid)
       |)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN NOT r_wc THEN 1 ELSE 0 END) AS BIGINT) AS f_wc,
       |  CAST(SUM(CASE WHEN NOT r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS f_mwl,
       |  CAST(SUM(CASE WHEN NOT r_sym THEN 1 ELSE 0 END) AS BIGINT) AS f_sym,
       |  CAST(SUM(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS f_alpha,
       |  CAST(SUM(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS f_stop,
       |  CAST(SUM(CASE WHEN NOT r_rep THEN 1 ELSE 0 END) AS BIGINT) AS f_rep,
       |  CAST(SUM(CASE WHEN r_wc AND r_mwl AND r_sym AND r_alpha AND r_stop AND r_rep
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
       |FROM f GROUP BY 1 ORDER BY source""".stripMargin
  }

  // q190: benchmark-contamination screen (n-gram decontamination)

  /** Contamination n-gram width (published pipelines use 8–13-word
    * grams; GPT-3 App. C used 13-grams, PaLM 8-grams). */
  val ContamN = 8
  /** Deterministic eval-slice selector modulus/residue: doc_id % 101 == 7. */
  val ContamMod = 101
  val ContamRes = 7

  /** Core of [[contaminationScreen]] over an explicit documents frame —
    * factored so the spec can plant a KNOWN contaminated train doc in a
    * synthetic corpus and assert it (and only it) is flagged. */
  /** Row-local [[ContamN]]-gram md5-60-bit hash array of a `toks`
    * token-array column — q190's expansion kernel, shared with the
    * streaming screen ([[graft.streaming.Streaming.contaminationStream]])
    * so stream and batch flag the IDENTICAL gram space. */
  private[graft] val ContamGramArraySql: String = {
    val h = s"CAST(conv(substring(md5(array_join(slice(toks, i, $ContamN), ' ')), " +
      "1, 15), 16, 10) AS BIGINT)"
    s"CASE WHEN size(toks) >= $ContamN THEN " +
      s"transform(sequence(1, size(toks) - ${ContamN - 1}), i -> $h) " +
      "ELSE CAST(array() AS ARRAY<BIGINT>) END"
  }

  /** The distinct gram-hash set of the eval slice — the benchmark-sized
    * static frame the streaming screen joins against (batch-landed once;
    * benchmarks change rarely). */
  def evalGramSet(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(ContamMod)) === ContamRes)
      .select(tokens(lower(col("text"))).as("toks"))
      .select(explode_outer(expr(ContamGramArraySql)).as("g"))
      .filter(col("g").isNotNull)
      .distinct()

  private[graft] def contaminationOf(docs: DataFrame): DataFrame = {
    val gramsOf = ContamGramArraySql
    val base = docs.select(col("doc_id"), col("source"),
      (pmod(col("doc_id"), lit(ContamMod)) === ContamRes).as("is_eval"),
      tokens(lower(col("text"))).as("toks"))
    def grams(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("source"),
          explode_outer(expr(gramsOf)).as("g"))
        .filter(col("g").isNotNull)
    // the eval slice is SMALL by construction (benchmarks are): its
    // distinct gram-hash set broadcasts
    val evalGrams = grams(base.filter(col("is_eval"))).select(col("g")).distinct()
    val perDoc = grams(base.filter(!col("is_eval")))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(min(col("source")).as("source"), count(lit(1)).cast("long").as("n_hits"))
    val totals = base.filter(!col("is_eval"))
      .groupBy(col("source")).agg(count(lit(1)).cast("long").as("n_train"))
    val census = perDoc.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_contam"),
        sum(col("n_hits")).cast("long").as("hit_occurrences"),
        expr("bit_xor(doc_id)").cast("long").as("contam_fp"))
    totals.join(census, Seq("source"), "left_outer")
      .select(col("source"), col("n_train"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"),
        coalesce(col("hit_occurrences"), lit(0L)).as("hit_occurrences"),
        coalesce(col("contam_fp"), lit(0L)).as("contam_fp"))
      .orderBy(col("source"))
  }

  /** q190: BENCHMARK-CONTAMINATION SCREEN — the decontamination step
    * every published pretraining pipeline runs before training (GPT-3
    * App. C; PaLM; Llama): flag every training document that shares at
    * least one word-[[ContamN]]-gram with the held-out evaluation set,
    * so eval numbers aren't inflated by memorized training text. The
    * eval set here is the deterministic doc_id % [[ContamMod]] ==
    * [[ContamRes]] slice (a benchmark is just a fixed small doc set);
    * grams are md5-60-bit hashes of the space-joined 8 words — the SAME
    * hash on both engines, so the comparison is exact (60-bit collisions
    * are deterministic and shared).
    *
    * 100 TB shape: gram expansion is ROW-LOCAL (transform over the token
    * array — no (doc, gram) shuffle before the join); the eval gram set
    * is benchmark-sized and BROADCASTS into a left-semi join that prunes
    * the corpus to matched occurrences before the per-doc combine; the
    * per-source census and the n_train branch (a column-pruned
    * doc_id/source scan) are ≤|sources| rows. Nothing corpus-sized
    * shuffles except the matched remnant. */
  def contaminationScreen(spark: SparkSession, dir: String): DataFrame =
    // fanOut: one md5 per token position (sf1 isolated min-of-3:
    // 7.0 -> 1.5 s)
    contaminationOf(graft.Dist.fanOut(Tables.documents(spark, dir)))

  val contaminationScreenSql: String = {
    val h60 = "CAST(concat('0x', substr(md5(array_to_string(ws[i:i+" +
      s"${ContamN - 1}], ' ')), 1, 15)) AS BIGINT)"
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id, source, doc_id % $ContamMod = $ContamRes AS is_eval,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
       |  FROM documents
       |), g AS MATERIALIZED (
       |  SELECT doc_id, source, is_eval, $h60 AS g FROM (
       |    SELECT doc_id, source, is_eval, ws,
       |      unnest(generate_series(1, len(ws) - ${ContamN - 1})) AS i
       |    FROM d)
       |), ev AS (SELECT DISTINCT g FROM g WHERE is_eval
       |), hits AS (
       |  SELECT doc_id, MIN(source) AS source, CAST(COUNT(*) AS BIGINT) AS n_hits
       |  FROM g JOIN ev USING (g) WHERE NOT is_eval GROUP BY 1
       |), tot AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_train
       |  FROM d WHERE NOT is_eval GROUP BY 1
       |)
       |SELECT t.source, t.n_train,
       |  CAST(COUNT(h.doc_id) AS BIGINT) AS n_contam,
       |  CAST(COALESCE(SUM(h.n_hits), 0) AS BIGINT) AS hit_occurrences,
       |  CAST(COALESCE(bit_xor(h.doc_id), 0) AS BIGINT) AS contam_fp
       |FROM tot t LEFT JOIN hits h USING (source)
       |GROUP BY 1, 2 ORDER BY source""".stripMargin
  }

  // q191: CCNet-style perplexity bucketing

  /** Hashed char-trigram LM bucket count. */
  val PpxBuckets = 4096
  /** The clean target domain the LM is trained on (CCNet: Wikipedia). */
  val PpxTarget = "src0"
  /** Equi-depth quality tiers (CCNet: head / middle / tail). */
  val PpxTiles = 3

  /** Core of [[perplexityBuckets]] over an explicit documents frame —
    * factored so the spec can plant a corpus with a KNOWN
    * target-trigram-poor outlier and assert it lands in the tail tier. */
  private[graft] def perplexityOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    // compiled trigram→md5-60→bucket kernel (one pass per row; the HOF
    // transform form paid 4 interpreted nodes + a hex round-trip per
    // CHAR and made q191 the suite's slowest query: 3.93 → ~1.3 s)
    // fanOut: the gram kernel emits one row per CHARACTER of the corpus
    // from a one-task scan -- per-row compute >> row bytes (sf1 isolated
    // min-of-3: 11.4 -> 2.3 s)
    val base = graft.Dist.fanOut(docs).select(col("doc_id"), col("lang"),
      col("source"), lower(col("text")).as("t"))
    def grams(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("lang"),
          explode_outer(graft.functions.SketchKernels.charGramBuckets(
            col("t"), 3, PpxBuckets)).as("g"))
        .filter(col("g").isNotNull)
    val target = grams(base.filter(col("source") === PpxTarget))
      .groupBy(col("g")).agg(count(lit(1)).as("nt"))
    // complete the B-row bucket table so unseen buckets carry the
    // add-one default weight (no scalar side-channel needed)
    val full = spark.range(PpxBuckets).select(col("id").as("g"))
      .join(target, Seq("g"), "left_outer")
      .select(col("g"), coalesce(col("nt"), lit(0L)).as("nt"))
    val tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val weights = full
      // grand total over the B-row bucket frame: bounded unpartitioned
      // window (PlanHygieneSpec census, bound = PpxBuckets)
      .withColumn("bits_t1",
        length(bin(sum(col("nt")).over(tot) + PpxBuckets)).cast("long"))
      .select(col("g"),
        (col("bits_t1") - length(bin(col("nt") + 1)).cast("long")).as("wu"))
    val scored = grams(base)
      .join(broadcast(weights), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(min(col("lang")).as("lang"), sum(col("wu")).as("s"),
        count(lit(1)).as("ng"))
      .withColumn("cb", expr("(100 * s) div ng"))
      // feeds the global rank AND the totals — one materialization
      .transform(graft.Dist.durableCkpt)
    val totals = scored.agg(count(lit(1)).as("n"))
    graft.Dist.globalRowNumber(scored, struct(col("cb"), col("doc_id")))
      .crossJoin(broadcast(totals))
      .withColumn("bucket", expr(s"((rn - 1) * $PpxTiles) div n + 1"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("cb")).cast("long").as("cb_sum"),
        expr("bit_xor(doc_id)").cast("long").as("fp"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** q191: CCNet-STYLE PERPLEXITY BUCKETING (Wenzek et al., LREC 2020) —
    * the other published quality-screen family beside Gopher's rules
    * (q189): score every document by its perplexity under a language
    * model trained on a CLEAN target domain (CCNet: Wikipedia; here the
    * [[PpxTarget]] source), then cut the corpus into equal-count head /
    * middle / tail tiers — head reads like the target, tail is the
    * noise most pipelines drop or down-weight. The LM is the hashed
    * char-trigram add-one model ([[PpxBuckets]] buckets, the q188
    * feature discipline); surprisal stays EXACT-integer in whole bits
    * (bits(T+B) − bits(n_t+1) per trigram occurrence, the q174 binary
    * digit count), and the per-doc score normalizes to centi-bits per
    * trigram by integer division — so ranks, tier cuts and fingerprints
    * hash-gate where a float log-perplexity never could.
    *
    * 100 TB shape: the trigram LM is ONE filtered corpus scan collapsing
    * to ≤[[PpxBuckets]] rows (map-side combined); its grand total rides
    * an unpartitioned window over that bounded frame (q168 idiom) and
    * the completed weight table BROADCASTS into the scoring join;
    * scoring collapses to one row per doc before any exchange; the
    * equal-count tiers come from [[graft.Dist.globalRowNumber]] (range
    * partition + broadcast offsets — never a single-partition rank over
    * the corpus, the q117 idiom); the census is ≤|langs|·[[PpxTiles]]
    * rows. */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame =
    perplexityOf(spark, Tables.documents(spark, dir))

  val perplexityBucketsSql: String = {
    val h60 = "CAST(concat('0x', substr(md5(substr(t, i, 3)), 1, 15)) AS BIGINT)"
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id, lang, source, lower(text) AS t FROM documents
       |), g AS MATERIALIZED (
       |  SELECT doc_id, lang, source, $h60 % $PpxBuckets AS g FROM (
       |    SELECT doc_id, lang, source, t,
       |      unnest(generate_series(1, length(t) - 2)) AS i
       |    FROM d)
       |), cnt AS (
       |  SELECT g, CAST(COUNT(*) AS BIGINT) AS nt FROM g
       |  WHERE source = '$PpxTarget' GROUP BY 1
       |), b AS MATERIALIZED (
       |  SELECT r.range AS g, COALESCE(cnt.nt, 0) AS nt
       |  FROM range(0, $PpxBuckets) r LEFT JOIN cnt ON r.range = cnt.g
       |), w AS MATERIALIZED (
       |  SELECT g,
       |    length(format('{:b}', CAST(SUM(nt) OVER () AS BIGINT) + $PpxBuckets))
       |      - length(format('{:b}', nt + 1)) AS wu
       |  FROM b
       |), sc AS MATERIALIZED (
       |  SELECT g2.doc_id, MIN(g2.lang) AS lang,
       |    CAST(100 * SUM(w.wu) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS cb
       |  FROM g g2 JOIN w USING (g) GROUP BY 1
       |), rk AS (
       |  SELECT doc_id, lang, cb,
       |    ROW_NUMBER() OVER (ORDER BY cb, doc_id) AS rn,
       |    COUNT(*) OVER () AS n
       |  FROM sc
       |)
       |SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(cb) AS BIGINT) AS cb_sum,
       |  CAST(bit_xor(doc_id) AS BIGINT) AS fp
       |FROM (SELECT lang, doc_id, cb,
       |        CAST(((rn - 1) * $PpxTiles) // n + 1 AS BIGINT) AS bucket
       |      FROM rk)
       |GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin
  }

  // q186: trained language-ID audit (Cavnar-Trenkle)

  /** Category-profile depth (top trigrams per language). */
  val LangProfK = 100
  /** Document-profile depth. */
  val DocProfK = 20

  private def loweredText: Column = lower(coalesce(col("text"), lit("")))

  /** Train the per-language category profiles: top-[[LangProfK]] character
    * trigrams by corpus frequency, ranked (count desc, gram asc). One
    * corpus-sized explode + (lang, gram) hash aggregate — map-side combine
    * collapses each partition to its distinct grams — then ranks over the
    * DOMAIN-bounded (lang, gram) frame (≤ charset³·|langs| rows, not
    * corpus-growing). Returned collected: ≤ |langs|·K rows. */
  def langTrigramProfiles(docs: DataFrame): Map[String, Map[String, Int]] =
    graft.Dist.fanOut(docs.select(col("lang"), loweredText.as("t")))
      // compiled per-doc distinct-gram counts: rows leaving the map side
      // drop from one-per-occurrence to one-per-distinct-gram, and the
      // kernel pass is the compute≫bytes regime fanOut pays in (q174)
      .select(col("lang"),
        explode_outer(graft.functions.TextKernels.triCounts(col("t"))).as("e"))
      .filter(col("e").isNotNull) // short docs explode_outer to a null row
      .groupBy(col("lang"), col("e.gram").as("gram"))
      .agg(sum(col("e.n")).as("n"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("n").desc, col("gram"))))
      .filter(col("rk") <= LangProfK)
      .select(col("lang"), col("gram"), col("rk"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (l, rows) =>
        l -> rows.map(r => r.getString(1) -> r.getInt(2)).toMap
      }

  /** Score every doc against every candidate language by Cavnar-Trenkle
    * OUT-OF-PLACE distance: Σ over the doc's top-[[DocProfK]] trigrams of
    * |doc_rank − lang_rank|, with [[LangProfK]] for grams absent from the
    * category profile; predict the argmin (ties → lang asc). MAP-ONLY:
    * the doc profile is one compiled kernel pass ([[graft.functions
    * .TextKernels.triProfile]]), the distances a second
    * ([[graft.functions.TextKernels.ctDistances]] — one hashed-lookup
    * pass for ALL languages, replacing |langs| interpreted HOF folds
    * whose `element_at` linear-scanned a 100-entry literal map per gram),
    * the argmin a row-local `array_min` over |langs| structs.
    * All-integer — no transcendental ever enters the plan (q90's
    * discipline). Kernel ≡ HOF form (CorpusStatsSpec) is spec-locked; the
    * oracle hashes are the cross-engine gate. */
  def langIdScored(docs: DataFrame, langs: Seq[String],
                   profiles: Map[String, Map[String, Int]]): DataFrame = {
    val base = graft.Dist.fanOut(
        docs.select(col("doc_id"), col("lang"), col("source"), loweredText.as("t")))
      .select(col("doc_id"), col("lang"), col("source"),
        graft.functions.TextKernels.triProfile(col("t"), DocProfK).as("prof"))
    base
      .withColumn("dists", graft.functions.TextKernels.ctDistances(col("prof"),
        langs.map(l => profiles.getOrElse(l, Map.empty)), LangProfK))
      .withColumn("best", array_min(array(langs.zipWithIndex.map { case (l, i) =>
        struct(element_at(col("dists"), i + 1).as("dist"), lit(l).as("lang"))
      }: _*)))
      .select(col("doc_id"), col("lang"), col("source"),
        col("best.lang").as("pred_lang"), col("best.dist").as("dist"))
  }

  /** q186: TRAINED LANGUAGE-ID AUDIT — the pipeline TRUSTS the corpus's
    * `lang` column (mixture planning q109, fertility q149 and the
    * stratified samplers all key on it); this closes the measure-before-
    * act loop (q131/q147's discipline) by auditing the labels with a
    * classifier TRAINED ON THE CORPUS ITSELF: Cavnar-Trenkle character-
    * trigram rank profiles (n-gram text categorization — the integer
    * ancestor of fastText's char-n-gram scorer), scored by out-of-place
    * distance, reported as the per-source label-vs-prediction confusion
    * census. A source whose disagreement rate spikes is mislabeled or
    * mis-ingested BEFORE the mixture planner trusts it.
    *
    * 100 TB shape: training is ONE corpus-sized explode + hash aggregate
    * (map-side combined; the ranked frame is domain-bounded at
    * charset³·|langs|); two bounded driver actions collect |langs| and
    * the ≤ |langs|·100-row profiles; scoring is map-only (compiled
    * trigram-profile kernel + broadcast literal maps + row-local argmin);
    * the census aggregate is bounded by |sources|·|langs|². */
  /** Session memo of the TRAINED category profiles per corpus dir: q186,
    * q237 and q238 all train the identical Cavnar-Trenkle profiles from
    * the identical corpus — at 100 TB that is three full corpus passes
    * for one ≤ |langs|·[[LangProfK]]-entry artifact. Train once; the
    * `*On` spec cores keep training directly (their fixtures are
    * arbitrary frames, not dir-identified corpora). Values are plain
    * driver-side collections — no plan/RDD retention. */
  private val profMemo = new graft.SessionMemo[graft.SessionMemos.DirKey,
    (Seq[String], Map[String, Map[String, Int]])]("ct_profiles")

  private def trainedProfiles(spark: SparkSession, dir: String)
      : (Seq[String], Map[String, Map[String, Int]]) =
    profMemo.getOrLand(spark, dir) {
      val docs = Tables.documents(spark, dir)
      val langs = docs.select(col("lang")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq // bounded: |langs|
      (langs, langTrigramProfiles(docs))
    }

  def langIdAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (langs, profiles) = trainedProfiles(spark, dir)
    langIdScored(docs, langs, profiles)
      .groupBy(col("source"), col("lang"), col("pred_lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .orderBy(col("source"), col("lang"), col("pred_lang"))
  }

  val langIdAuditSql: String =
    s"""WITH tri AS MATERIALIZED (
       |  SELECT doc_id, lang, substr(t, CAST(i AS INTEGER), 3) AS gram FROM (
       |    SELECT doc_id, lang, lower(coalesce(text, '')) AS t,
       |      unnest(generate_series(1, length(coalesce(text, '')) - 2)) AS i
       |    FROM documents)
       |), lp AS MATERIALIZED (
       |  SELECT lang, gram,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS lrk
       |  FROM (SELECT lang, gram, COUNT(*) AS n FROM tri GROUP BY 1, 2)
       |  QUALIFY lrk <= $LangProfK
       |), dp AS MATERIALIZED (
       |  SELECT doc_id, gram,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, gram) AS drk
       |  FROM (SELECT doc_id, gram, COUNT(*) AS n FROM tri GROUP BY 1, 2)
       |  QUALIFY drk <= $DocProfK
       |), langs AS MATERIALIZED (SELECT DISTINCT lang FROM documents),
       |scored AS (
       |  SELECT dp.doc_id, l.lang AS cand,
       |    SUM(COALESCE(ABS(dp.drk - lp.lrk), $LangProfK)) AS dist
       |  FROM dp CROSS JOIN langs l
       |  LEFT JOIN lp ON lp.lang = l.lang AND lp.gram = dp.gram
       |  GROUP BY 1, 2
       |), pred AS (
       |  SELECT doc_id, cand AS pred_lang,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY dist, cand) AS rn
       |  FROM scored QUALIFY rn = 1
       |), base AS (
       |  SELECT d.source, d.lang,
       |    COALESCE(p.pred_lang, (SELECT MIN(lang) FROM langs)) AS pred_lang
       |  FROM documents d LEFT JOIN pred p USING (doc_id)
       |)
       |SELECT source, lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM base GROUP BY 1, 2, 3 ORDER BY source, lang, pred_lang""".stripMargin

  // ---------------------------------------------------------------------
  // q237: per-span language segmentation (windowed Cavnar-Trenkle)
  // ---------------------------------------------------------------------

  /** Segmentation window width in TOKENS. */
  val SegWinTokens = 8
  /** Planted mixed docs per language pair. */
  val SegPairsPerLang = 8

  /** Classify each [[SegWinTokens]]-token window of `mixed` docs by
    * Cavnar-Trenkle out-of-place distance against the trained per-language
    * profiles (the q186 scorer, at WINDOW granularity), then merge
    * adjacent same-prediction windows into SEGMENTS. Map-only scoring:
    * the window explode is one generator, the window profile one compiled
    * kernel pass, the category profiles broadcast literal maps, the
    * argmin a row-local `array_min`; the only shuffle is the per-doc
    * window for segment-merge (partitioned by doc_id — bounded windows
    * per doc, never an unpartitioned corpus window). All-integer.
    * `mixed` needs (doc_id, toks) plus the `carry` passthrough columns;
    * trailing partial windows are dropped (the q237 planter emits exact
    * multiples; for the corpus-wide census a trailing sub-window has no
    * stable profile depth and is excluded on both engines). */
  def langSegmentsScored(mixed: DataFrame, langs: Seq[String],
      profiles: Map[String, Map[String, Int]],
      carry: Seq[String]): DataFrame = {
    // one index per full window: a short or null-text doc gets an empty
    // or null array, never a size filter (Catalyst would push one below
    // the projection that computes toks and tokenize every text twice)
    val wins = mixed
      .select(col("*"), posexplode(expr(
        s"transform(array_repeat(0, CAST(size(toks) div $SegWinTokens AS INT)), " +
          s"(x, w) -> concat_ws(' ', slice(toks, w * $SegWinTokens + 1, $SegWinTokens)))")))
      .withColumnRenamed("pos", "win_id")
      .withColumnRenamed("col", "wtext")
      .drop("toks")
      .withColumn("prof",
        graft.functions.TextKernels.triProfile(col("wtext"), DocProfK))
    // q186's scorer at window granularity: one kernel pass for all
    // languages' out-of-place distances (see langIdScored)
    val scored = wins
      .withColumn("dists", graft.functions.TextKernels.ctDistances(col("prof"),
        langs.map(l => profiles.getOrElse(l, Map.empty)), LangProfK))
      .withColumn("best", array_min(array(langs.zipWithIndex.map { case (l, i) =>
        struct(element_at(col("dists"), i + 1).as("dist"), lit(l).as("lang"))
      }: _*)))
      .select(col("doc_id") +: carry.map(col) :+
        col("win_id") :+ col("best.lang").as("pred_lang"): _*)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("win_id"))
    scored
      // first window's lag is NULL → sentinel no real lang equals → new
      // segment, so seg ids start at 1 (oracle: IS DISTINCT FROM lag)
      .withColumn("new_seg",
        when(coalesce(lag(col("pred_lang"), 1).over(byDoc), lit("\u0000"))
          =!= col("pred_lang"), 1L).otherwise(0L))
      .withColumn("seg_id", sum(col("new_seg")).over(byDoc))
  }

  /** q237 core over an arbitrary documents frame (doc_id, lang, text) —
    * the spec drives it with a disjoint-vocabulary fixture where exact
    * recovery of the planted segment structure is provable; the
    * registered query feeds it the harness corpus. */
  def langSegmentationOn(docs: DataFrame): DataFrame = {
    val langs = docs.select(col("lang")).filter(col("lang").isNotNull)
      .distinct().collect().map(_.getString(0)).sorted.toSeq // bounded: |langs|
    val profiles = langTrigramProfiles(docs)
    langSegmentationCore(docs, langs, profiles)
  }

  private def langSegmentationCore(docs: DataFrame, langs: Seq[String],
      profiles: Map[String, Map[String, Int]]): DataFrame = {
    // each lang's insert partner is the NEXT lang (sorted, cyclic) — the
    // English-boilerplate-inside-a-foreign-page shape, deterministically
    val nextLang = langs.zipWithIndex
      .map { case (l, i) => l -> langs((i + 1) % langs.size) }.toMap
    // eligible bodies/inserts: >= 4 windows of tokens, first
    // SegPairsPerLang per lang by doc_id. Checkpointed once — the body
    // and insert branches below both read it.
    val elig = docs
      .select(col("doc_id"), col("lang"),
        TextOps.tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 4 * SegWinTokens)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("doc_id"))))
      .filter(col("rk") <= SegPairsPerLang)
      .transform(graft.Dist.durableCkpt)
    val ins = elig.select(col("lang").as("ins_lang"), col("rk").as("ins_rk"),
      col("toks").as("ins_toks"))
    // planted mixed doc: body[1..2W] ++ insert[1..W] ++ body[2W+1..4W] —
    // boundaries window-ALIGNED by construction, so segmentation quality
    // is a classifier property, not a windowing artifact
    val mixed = elig
      .withColumn("p_lang", element_at(typedLit(nextLang), col("lang")))
      .join(ins, col("p_lang") === col("ins_lang") && col("rk") === col("ins_rk"))
      .select(col("doc_id"), col("lang").as("body_lang"), col("ins_lang"),
        concat(
          slice(col("toks"), 1, 2 * SegWinTokens),
          slice(col("ins_toks"), 1, SegWinTokens),
          slice(col("toks"), 2 * SegWinTokens + 1, 2 * SegWinTokens)).as("toks"))
    // census per (doc, predicted lang): segment and window counts. Two
    // stacked aggs instead of countDistinct (no Expand); the seg window's
    // doc_id hash partitioning satisfies both groupings — one exchange.
    langSegmentsScored(mixed, langs, profiles, Seq("body_lang", "ins_lang"))
      .groupBy(col("doc_id"), col("body_lang"), col("ins_lang"),
        col("seg_id"), col("pred_lang"))
      .agg(count(lit(1)).cast("long").as("n_win"))
      .groupBy(col("doc_id"), col("body_lang"), col("ins_lang"), col("pred_lang"))
      .agg(count(lit(1)).cast("long").as("n_segments"),
        sum(col("n_win")).cast("long").as("n_windows"))
      .repartition(1).sortWithinPartitions(col("doc_id"), col("pred_lang"))
  }

  /** q237: PER-SPAN LANGUAGE SEGMENTATION — q27/q186 label whole docs,
    * but real crawl documents MIX languages (code-switching, English
    * boilerplate inside a foreign page); the curation stage between
    * langid and the mixture planner must segment, not just label. Planted
    * mixed-language fixtures (a body doc with a partner-language span
    * spliced in at window-aligned token offsets) are segmented by scoring
    * every [[SegWinTokens]]-token window with the q186-trained
    * Cavnar-Trenkle profiles and merging adjacent same-prediction
    * windows; output is the per-(doc, predicted-lang) census of segments
    * and windows, with the planted body/insert languages alongside —
    * integer-exact end-to-end (the q186 discipline), so the DuckDB oracle
    * hash-gates the whole chain: training, planting, window scoring,
    * argmin tie-break, segment merge.
    *
    * 100 TB shape: training is q186's (one corpus explode + map-side
    * combined hash agg, domain-bounded rank frame); planting joins two
    * ≤|langs|·[[SegPairsPerLang]]-row slices of ONE checkpointed
    * eligibility frame; scoring is map-only over the planted docs; the
    * only per-doc shuffle is the doc_id-partitioned segment-merge window.
    * On a real mixed corpus the plant disappears and the same
    * [[langSegmentsScored]] core runs over every doc — work linear in
    * corpus tokens, state bounded by |langs|·[[LangProfK]] literals. */
  def langSegmentation(spark: SparkSession, dir: String): DataFrame = {
    val (langs, profiles) = trainedProfiles(spark, dir)
    langSegmentationCore(Tables.documents(spark, dir),
      langs.filter(_ != null), profiles)
  }

  val langSegmentationSql: String =
    s"""WITH tri AS MATERIALIZED (
       |  SELECT lang, substr(t, CAST(i AS INTEGER), 3) AS gram FROM (
       |    SELECT lang, lower(coalesce(text, '')) AS t,
       |      unnest(generate_series(1, length(coalesce(text, '')) - 2)) AS i
       |    FROM documents)
       |), lp AS MATERIALIZED (
       |  SELECT lang, gram,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS lrk
       |  FROM (SELECT lang, gram, COUNT(*) AS n FROM tri GROUP BY 1, 2)
       |  QUALIFY lrk <= $LangProfK
       |), langs AS MATERIALIZED (SELECT DISTINCT lang FROM documents WHERE lang IS NOT NULL),
       |lidx AS MATERIALIZED (
       |  SELECT lang, ROW_NUMBER() OVER (ORDER BY lang) - 1 AS i,
       |    COUNT(*) OVER () AS nl
       |  FROM langs
       |), elig AS MATERIALIZED (
       |  SELECT doc_id, lang, toks,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rk
       |  FROM (
       |    SELECT doc_id, lang,
       |      list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
       |    FROM documents WHERE text IS NOT NULL)
       |  WHERE len(toks) >= ${4 * SegWinTokens}
       |  QUALIFY rk <= $SegPairsPerLang
       |), mixed AS MATERIALIZED (
       |  SELECT b.doc_id, b.lang AS body_lang, p.lang AS ins_lang,
       |    list_concat(list_concat(
       |      list_slice(b.toks, 1, ${2 * SegWinTokens}),
       |      list_slice(i2.toks, 1, $SegWinTokens)),
       |      list_slice(b.toks, ${2 * SegWinTokens + 1}, ${4 * SegWinTokens})) AS toks
       |  FROM elig b
       |  JOIN lidx li ON li.lang = b.lang
       |  JOIN lidx p ON p.i = (li.i + 1) % li.nl
       |  JOIN elig i2 ON i2.lang = p.lang AND i2.rk = b.rk
       |), wins AS MATERIALIZED (
       |  SELECT doc_id, body_lang, ins_lang, w,
       |    array_to_string(list_slice(toks, w * $SegWinTokens + 1,
       |      w * $SegWinTokens + $SegWinTokens), ' ') AS wtext
       |  FROM mixed CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS w)
       |), wp AS MATERIALIZED (
       |  SELECT doc_id, w, gram,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id, w ORDER BY n DESC, gram) AS drk
       |  FROM (
       |    SELECT doc_id, w, gram, COUNT(*) AS n FROM (
       |      SELECT doc_id, w, substr(wtext, CAST(i AS INTEGER), 3) AS gram
       |      FROM (SELECT doc_id, w, wtext,
       |              unnest(generate_series(1, length(wtext) - 2)) AS i
       |            FROM wins))
       |    GROUP BY 1, 2, 3)
       |  QUALIFY drk <= $DocProfK
       |), scored AS (
       |  SELECT wp.doc_id, wp.w, l.lang AS cand,
       |    SUM(COALESCE(ABS(wp.drk - lp.lrk), $LangProfK)) AS dist
       |  FROM wp CROSS JOIN langs l
       |  LEFT JOIN lp ON lp.lang = l.lang AND lp.gram = wp.gram
       |  GROUP BY 1, 2, 3
       |), pred AS (
       |  SELECT doc_id, w, cand AS pred_lang,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id, w ORDER BY dist, cand) AS rn
       |  FROM scored QUALIFY rn = 1
       |), seg AS (
       |  SELECT wi.doc_id, wi.body_lang, wi.ins_lang, p.w, p.pred_lang,
       |    CASE WHEN p.pred_lang IS DISTINCT FROM
       |      lag(p.pred_lang) OVER (PARTITION BY wi.doc_id ORDER BY p.w)
       |    THEN 1 ELSE 0 END AS new_seg
       |  FROM pred p
       |  JOIN (SELECT DISTINCT doc_id, body_lang, ins_lang FROM wins) wi
       |    ON wi.doc_id = p.doc_id
       |), segid AS (
       |  SELECT *, SUM(new_seg) OVER (PARTITION BY doc_id ORDER BY w) AS seg_id
       |  FROM seg
       |), per_seg AS (
       |  SELECT doc_id, body_lang, ins_lang, seg_id, pred_lang,
       |    COUNT(*) AS n_win
       |  FROM segid GROUP BY 1, 2, 3, 4, 5
       |)
       |SELECT doc_id, body_lang, ins_lang, pred_lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_segments,
       |  CAST(SUM(n_win) AS BIGINT) AS n_windows
       |FROM per_seg GROUP BY 1, 2, 3, 4
       |ORDER BY doc_id, pred_lang""".stripMargin

  /** q238: CORPUS-WIDE SPAN-LANGUAGE CENSUS — q237's segmenter run over
    * EVERY corpus document (no plant): each doc with ≥ one full window is
    * windowed, window-scored, segment-merged, and the census reports, per
    * (source, labeled lang, predicted span lang): documents touched,
    * segments, windows — q186's label-vs-prediction confusion at SPAN
    * granularity. This is the operator a curation pipeline actually runs:
    * a source whose docs fragment into many short foreign-language
    * segments has boilerplate/code-switching the doc-level label hides,
    * and the mixture planner (q109) should see the per-span volumes, not
    * the doc-level labels.
    *
    * 100 TB shape: training and scoring as q237 (one corpus explode +
    * domain-bounded rank frame; map-only window scoring with broadcast
    * literal profiles); the segment-merge window is doc_id-partitioned
    * (≤ tokens/W rows per doc); census aggregates are map-side combined
    * and bounded by |sources|·|langs|². Work linear in corpus tokens. */
  def spanLangCensus(spark: SparkSession, dir: String): DataFrame = {
    val (langs, profiles) = trainedProfiles(spark, dir)
    spanLangCensusCore(Tables.documents(spark, dir),
      langs.filter(_ != null), profiles)
  }

  /** q238 core over an arbitrary (doc_id, source, lang, text) frame —
    * spec-driven with the q237 disjoint-vocab fixture. */
  def spanLangCensusOn(docs: DataFrame): DataFrame = {
    val langs = docs.select(col("lang")).filter(col("lang").isNotNull)
      .distinct().collect().map(_.getString(0)).sorted.toSeq // bounded: |langs|
    val profiles = langTrigramProfiles(docs)
    spanLangCensusCore(docs, langs, profiles)
  }

  private def spanLangCensusCore(docs: DataFrame, langs: Seq[String],
      profiles: Map[String, Map[String, Int]]): DataFrame = {
    // Score on every core: the scan is one task, and the segment window
    // and per-doc aggregates reuse this doc_id partitioning. AQE keeps an
    // explicit partition count, so it cannot coalesce the scoring stage.
    val toks = docs
      .select(col("doc_id"), col("source"), col("lang"),
        TextOps.tokens(lower(col("text"))).as("toks"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
    val perDoc = langSegmentsScored(toks, langs, profiles, Seq("source", "lang"))
      .groupBy(col("doc_id"), col("source"), col("lang"), col("seg_id"),
        col("pred_lang"))
      .agg(count(lit(1)).cast("long").as("n_win"))
      .groupBy(col("doc_id"), col("source"), col("lang"), col("pred_lang"))
      .agg(count(lit(1)).cast("long").as("n_segs"),
        sum(col("n_win")).cast("long").as("n_wins"))
    perDoc
      .groupBy(col("source"), col("lang"), col("pred_lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_segs")).cast("long").as("n_segments"),
        sum(col("n_wins")).cast("long").as("n_windows"))
      .repartition(1).sortWithinPartitions(
        col("source"), col("lang"), col("pred_lang"))
  }

  val spanLangCensusSql: String =
    s"""WITH tri AS MATERIALIZED (
       |  SELECT lang, substr(t, CAST(i AS INTEGER), 3) AS gram FROM (
       |    SELECT lang, lower(coalesce(text, '')) AS t,
       |      unnest(generate_series(1, length(coalesce(text, '')) - 2)) AS i
       |    FROM documents)
       |), lp AS MATERIALIZED (
       |  SELECT lang, gram,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS lrk
       |  FROM (SELECT lang, gram, COUNT(*) AS n FROM tri GROUP BY 1, 2)
       |  QUALIFY lrk <= $LangProfK
       |), langs AS MATERIALIZED (SELECT DISTINCT lang FROM documents WHERE lang IS NOT NULL),
       |toks AS MATERIALIZED (
       |  SELECT doc_id, source, lang,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
       |  FROM documents WHERE text IS NOT NULL
       |), wins AS MATERIALIZED (
       |  SELECT doc_id, source, lang, w,
       |    array_to_string(list_slice(toks, w * $SegWinTokens + 1,
       |      w * $SegWinTokens + $SegWinTokens), ' ') AS wtext
       |  FROM (
       |    SELECT doc_id, source, lang, toks,
       |      unnest(generate_series(0,
       |        CAST(len(toks) // $SegWinTokens AS INTEGER) - 1)) AS w
       |    FROM toks WHERE len(toks) >= $SegWinTokens)
       |), wp AS MATERIALIZED (
       |  SELECT doc_id, w, gram,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id, w ORDER BY n DESC, gram) AS drk
       |  FROM (
       |    SELECT doc_id, w, gram, COUNT(*) AS n FROM (
       |      SELECT doc_id, w, substr(wtext, CAST(i AS INTEGER), 3) AS gram
       |      FROM (SELECT doc_id, w, wtext,
       |              unnest(generate_series(1, length(wtext) - 2)) AS i
       |            FROM wins))
       |    GROUP BY 1, 2, 3)
       |  QUALIFY drk <= $DocProfK
       |), scored AS (
       |  SELECT wp.doc_id, wp.w, l.lang AS cand,
       |    SUM(COALESCE(ABS(wp.drk - lp.lrk), $LangProfK)) AS dist
       |  FROM wp CROSS JOIN langs l
       |  LEFT JOIN lp ON lp.lang = l.lang AND lp.gram = wp.gram
       |  GROUP BY 1, 2, 3
       |), pred AS (
       |  SELECT doc_id, w, cand AS pred_lang,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id, w ORDER BY dist, cand) AS rn
       |  FROM scored QUALIFY rn = 1
       |), seg AS (
       |  SELECT wi.doc_id, wi.source, wi.lang, p.w, p.pred_lang,
       |    CASE WHEN p.pred_lang IS DISTINCT FROM
       |      lag(p.pred_lang) OVER (PARTITION BY wi.doc_id ORDER BY p.w)
       |    THEN 1 ELSE 0 END AS new_seg
       |  FROM pred p
       |  JOIN (SELECT DISTINCT doc_id, source, lang FROM wins) wi
       |    ON wi.doc_id = p.doc_id
       |), segid AS (
       |  SELECT *, SUM(new_seg) OVER (PARTITION BY doc_id ORDER BY w) AS seg_id
       |  FROM seg
       |), per_seg AS (
       |  SELECT doc_id, source, lang, seg_id, pred_lang, COUNT(*) AS n_win
       |  FROM segid GROUP BY 1, 2, 3, 4, 5
       |), per_doc AS (
       |  SELECT doc_id, source, lang, pred_lang,
       |    COUNT(*) AS n_segs, SUM(n_win) AS n_wins
       |  FROM per_seg GROUP BY 1, 2, 3, 4
       |)
       |SELECT source, lang, pred_lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_segs) AS BIGINT) AS n_segments,
       |  CAST(SUM(n_wins) AS BIGINT) AS n_windows
       |FROM per_doc GROUP BY 1, 2, 3
       |ORDER BY source, lang, pred_lang""".stripMargin

  // q149: tokenizer fertility per language
  // ---------------------------------------------------------------------

  /** q149: tokenizer-fertility report — per language: corpus volume and
    * the bytes-per-token / pieces-per-word ratios for BOTH tokenizers the
    * engine ships (whitespace and q34's BPE-ish pre-tokenizer). This is
    * the table a tokenizer budget review reads: a language whose
    * fertility (BPE pieces per word) runs high is under-served by the
    * vocab and will eat disproportionate context length at training
    * time; compression (chars per BPE piece) is the same story from the
    * bytes side.
    *
    * All ratios are integer basis points (`10000·a div b`) over exact
    * per-language sums — one narrow scan with per-row counting
    * expressions feeding ONE hash aggregate (map-side combined); no
    * window, no join, no float. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val pat = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+"
    val pieces = regexp_extract_all(lower(col("text")), lit(pat), lit(0))
    Tables.documents(spark, dir)
      .select(col("lang"),
        length(col("text")).cast("long").as("chars"),
        graft.functions.TextKernels.tokenCount(col("text")).cast("long").as("ws"),
        size(pieces).cast("long").as("bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("chars")).cast("long").as("n_chars"),
        sum(col("ws")).cast("long").as("n_ws_tokens"),
        sum(col("bpe")).cast("long").as("n_bpe_pieces"))
      .withColumn("fertility_bp", expr("10000 * n_bpe_pieces div n_ws_tokens"))
      .withColumn("chars_per_piece_bp", expr("10000 * n_chars div n_bpe_pieces"))
      .orderBy(col("lang"))
  }

  val tokenizerFertilitySql: String =
    """WITH f AS (
      |  SELECT lang, CAST(length(text) AS BIGINT) AS chars,
      |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS ws,
      |    CAST(len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+')) AS BIGINT) AS bpe
      |  FROM documents
      |)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(chars) AS BIGINT) AS n_chars,
      |  CAST(SUM(ws) AS BIGINT) AS n_ws_tokens,
      |  CAST(SUM(bpe) AS BIGINT) AS n_bpe_pieces,
      |  10000 * CAST(SUM(bpe) AS BIGINT) // CAST(SUM(ws) AS BIGINT) AS fertility_bp,
      |  10000 * CAST(SUM(chars) AS BIGINT) // CAST(SUM(bpe) AS BIGINT) AS chars_per_piece_bp
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q155: dataset card
  // ---------------------------------------------------------------------

  /** q155: the DATASET CARD — the one-page accounting a training-data
    * release ships with (volumes, composition, dedup rate, quality-gate
    * pass rates, embedding coverage), emitted as (metric, value) rows so
    * the schema never changes as metrics are added. This is the
    * publishing step: every number is exact, integer, and re-derivable
    * by the oracle, so the card itself is under the hash gate — a card
    * whose numbers can't drift from the data they describe.
    *
    * Shape: ONE slim joined per-doc frame (documents ⋈ q90 classifier ⋈
    * q25 heuristic) feeds one aggregate (the multi-countDistinct Expand
    * runs over the aggregated-width frame, the q105 pattern); the lang
    * mode and embedding stats are two more tiny aggregates; `stack`
    * melts wide → long. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    // r13: the single wide aggregate carried THREE countDistincts, which
    // planned an Expand x4 over the fat joined rows (md5 fp + every
    // classifier column) BEFORE the partial agg — 4x corpus rows through
    // one aggregate, the q105 disease with a join underneath. Split by
    // concern instead: the distinct-free census aggregates the joined
    // frame once (map-combined, no Expand); each distinct count runs as
    // its own single-distinct no-Expand aggregate over a SLIM pruned
    // scan (fp needs only md5(text); source/lang need two small
    // columns). Branches union — same 9 rows, no Expand anywhere, no
    // scalar crossJoin. Identical values: same inputs, same counts.
    val clf = qualityClassifier(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("label"))
    val qs = TextOps.qualityScore(spark, dir).select(col("doc_id"), col("quality_ok"))
    val census = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
      .join(clf, Seq("doc_id")).join(qs, Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens")).as("total_ws_tokens"),
        sum(when(col("label") === "keep", 1L).otherwise(0L)).as("clf_keep_docs"),
        sum(when(col("quality_ok"), 1L).otherwise(0L)).as("heuristic_ok_docs"))
      .selectExpr(
        """stack(5,
          |  'clf_keep_docs', clf_keep_docs,
          |  'heuristic_ok_docs', heuristic_ok_docs,
          |  'n_docs', n_docs,
          |  'total_chars', total_chars,
          |  'total_ws_tokens', total_ws_tokens) AS (metric, value)""".stripMargin)
    val texts = Tables.documents(spark, dir)
      .select(md5(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("distinct_texts"))
      .selectExpr(
        """stack(2,
          |  'distinct_texts', distinct_texts,
          |  'exact_dup_docs', n_docs - distinct_texts) AS (metric, value)""".stripMargin)
    val srcLang = Tables.documents(spark, dir)
      .select(col("source")).agg(countDistinct(col("source")).as("v"))
      .select(lit("n_sources").as("metric"), col("v").as("value"))
      .unionByName(Tables.documents(spark, dir)
        .select(col("lang")).agg(countDistinct(col("lang")).as("v"))
        .select(lit("n_langs").as("metric"), col("v").as("value")))
    val docsLong = census.unionByName(texts).unionByName(srcLang)
    val topLang = Tables.documents(spark, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("v"))
      .select(lit("top_lang_docs").as("metric"), col("v").as("value"))
    val emb = Tables.embeddings(spark, dir)
      .agg(count(lit(1)).as("n_vecs"), countDistinct(col("label")).as("n_labels"))
      .selectExpr("stack(2, 'emb_labels', n_labels, 'emb_vectors', n_vecs) AS (metric, value)")
    docsLong.unionByName(topLang).unionByName(emb)
      .select(col("metric"), col("value").cast("long").as("value"))
      .orderBy(col("metric"))
  }

  val datasetCardSql: String =
    s"""WITH j AS (
       |  SELECT d.doc_id, d.source, d.lang, d.n_chars, md5(d.text) AS fp,
       |    c.n_tokens, c.label, q.quality_ok
       |  FROM documents d
       |  JOIN ($qualityClassifierSql) c USING (doc_id)
       |  JOIN (${TextOps.qualityScoreSql}) q USING (doc_id)
       |)
       |SELECT 'clf_keep_docs' AS metric,
       |  CAST(SUM(CASE WHEN label = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS value FROM j
       |UNION ALL SELECT 'distinct_texts', CAST(COUNT(DISTINCT fp) AS BIGINT) FROM j
       |UNION ALL SELECT 'exact_dup_docs',
       |  CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) FROM j
       |UNION ALL SELECT 'heuristic_ok_docs',
       |  CAST(SUM(CASE WHEN quality_ok THEN 1 ELSE 0 END) AS BIGINT) FROM j
       |UNION ALL SELECT 'n_docs', CAST(COUNT(*) AS BIGINT) FROM j
       |UNION ALL SELECT 'n_langs', CAST(COUNT(DISTINCT lang) AS BIGINT) FROM j
       |UNION ALL SELECT 'n_sources', CAST(COUNT(DISTINCT source) AS BIGINT) FROM j
       |UNION ALL SELECT 'total_chars', CAST(SUM(n_chars) AS BIGINT) FROM j
       |UNION ALL SELECT 'total_ws_tokens', CAST(SUM(n_tokens) AS BIGINT) FROM j
       |UNION ALL SELECT 'top_lang_docs',
       |  CAST(MAX(n) AS BIGINT) FROM (SELECT COUNT(*) AS n FROM documents GROUP BY lang)
       |UNION ALL SELECT 'emb_labels', CAST(COUNT(DISTINCT label) AS BIGINT) FROM embeddings
       |UNION ALL SELECT 'emb_vectors', CAST(COUNT(*) AS BIGINT) FROM embeddings
       |ORDER BY metric""".stripMargin

  // ---------------------------------------------------------------------
  // q174: digram self-information (compression-proxy quality signal)
  // ---------------------------------------------------------------------

  /** q174: per-doc character-digram SELF-INFORMATION — the exact-integer
    * stand-in for the compression-ratio gibberish filter (Gopher/C4-style
    * pipelines zlib-compress each doc and drop the too-compressible;
    * zlib output is not an engine-portable oracle, but the signal it
    * thresholds — repetitive low-entropy character structure — is).
    * Score: Σ over digram occurrences of (bits(N) − bits(n_d)) where n_d
    * is the digram's in-doc count, N the doc's digram total and bits(x)
    * the BINARY DIGIT COUNT ⌊log2 x⌋+1 (the q173 idiom: `length(bin(x))`
    * ≡ DuckDB `length(format('{:b}', x))`, exact where double log2
    * wobbles at power-of-two boundaries). That is N·H(digrams) in whole
    * bits — low for "aaaa…"/boilerplate, high for natural prose —
    * normalized to basis points of the distinct-digram maximum
    * N·(bits(N)−1) and flagged below 3000 bp.
    *
    * Scale shape: the statistic is row-LOCAL, so it runs as ONE compiled
    * kernel pass per document ([[graft.functions.TextKernels]] — code
    * points into an open-addressed long map), a map-only plan with zero
    * pre-output shuffles; `Dist.fanOut` unlocks cores above the
    * one-row-group harness scan (per-row compute ≫ bytes, the q143
    * precedent). The first registered shape exploded one row per digram
    * through a (doc, digram) hash aggregate — 10M shuffled rows and
    * 4.99 s at sf0.1 vs 0.4 s for the kernel; the oracle still runs the
    * explode formulation, so the hash gate pins the two equal. All
    * arithmetic int64: ent_units ≤ N·63, overflow at N ≈ 1.5·10¹⁷
    * digrams PER DOC — unreachable. */
  def entropyQuality(spark: SparkSession, dir: String): DataFrame = {
    // the admission filter is on RAW text length, matching the oracle's
    // WHERE length(text) >= 2 exactly — filtering the LOWERED length
    // diverges on case mappings that change code-point count (U+0130)
    graft.Dist.fanOut(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"),
        graft.functions.TextKernels.digramSelfInfo(col("t")).as("k"))
      .select(col("doc_id"), col("k.n_digrams").as("n_digrams"),
        col("k.ent_units").as("ent_units"))
      .withColumn("ent_bp",
        when(col("n_digrams") > 1,
          expr("10000 * ent_units div (n_digrams * (length(bin(n_digrams)) - 1))"))
          .otherwise(0L).cast("long"))
      .select(col("doc_id"), col("n_digrams"), col("ent_units"),
        col("ent_bp"), (col("ent_bp") < 3000).as("low_entropy"))
      .orderBy(col("doc_id"))
  }

  val entropyQualitySql: String =
    """WITH d AS (
      |  SELECT doc_id, lower(text) AS t FROM documents WHERE length(text) >= 2
      |), g AS (
      |  SELECT doc_id, unnest([substr(t, i, 2) for i in range(1, length(t))]) AS dg
      |  FROM d
      |), c AS (
      |  SELECT doc_id, dg, COUNT(*) AS n FROM g GROUP BY 1, 2
      |), c2 AS (
      |  SELECT doc_id, n, CAST(SUM(n) OVER (PARTITION BY doc_id) AS BIGINT) AS nd
      |  FROM c
      |), p AS (
      |  SELECT doc_id, CAST(MAX(nd) AS BIGINT) AS n_digrams,
      |    CAST(SUM(n * (length(format('{:b}', nd)) - length(format('{:b}', n))))
      |      AS BIGINT) AS ent_units
      |  FROM c2 GROUP BY 1
      |), r AS (
      |  SELECT doc_id, n_digrams, ent_units,
      |    CASE WHEN n_digrams > 1 THEN CAST(10000 * ent_units
      |      // (n_digrams * (length(format('{:b}', n_digrams)) - 1)) AS BIGINT)
      |    ELSE 0 END AS ent_bp
      |  FROM p
      |)
      |SELECT doc_id, n_digrams, ent_units, ent_bp, ent_bp < 3000 AS low_entropy
      |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q175: per-source token-distribution divergence (total variation)
  // ---------------------------------------------------------------------

  /** q175: how token-distributionally UNUSUAL is each source vs the
    * whole corpus — the mixture-monitoring companion of q109/q171: a
    * source whose unigram distribution drifts far from the pool is the
    * one to re-weight or re-crawl. Distance is TOTAL VARIATION (½·L1),
    * the q162 discipline applied to text: integer-exact, scale-free, no
    * log and no divide-by-near-zero (KL explodes on tokens absent from a
    * source; TV doesn't).
    *
    * Exactness trick: TV needs the sum over ALL corpus tokens including
    * those ABSENT from source s. Over the common denominator n_s·N the
    * absent-token mass is n_s·(N − Σ_{t∈s} n_t) — computable from the
    * PRESENT rows alone, so nothing is zero-filled:
    * `2·TV·n_s·N = Σ_{t∈s} |n_st·N − n_t·n_s| + n_s·(N − Σ_{t∈s} n_t)`.
    *
    * Scale shape: ONE corpus-sized (source, token) aggregate
    * (checkpointed — it feeds the token-total branch and the join), the
    * token-total aggregate derives FROM it (never a second corpus scan),
    * source totals and the one-row N broadcast onto the per-source
    * rollup. int64 holds to n_st·N ≈ 10¹⁸; at larger volumes lift the
    * two products to DECIMAL(38,0). */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(lower(col("text")))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n_st"))
      .transform(graft.Dist.durableCkpt)
    val tokTotals = st.groupBy(col("w")).agg(sum(col("n_st")).as("n_t"))
    val srcTotals = st.groupBy(col("source")).agg(sum(col("n_st")).as("n_s"))
    // the one-row grand total attaches to the |sources|-row frame (never
    // to the corpus-sized join) before broadcasting both columns at once
    val srcWithTotal = srcTotals
      .crossJoin(broadcast(srcTotals.agg(sum(col("n_s")).as("n_total"))))
    st.join(tokTotals, Seq("w"))
      .join(broadcast(srcWithTotal), Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_distinct"),
        max(col("n_s")).as("n_s"),
        max(col("n_total")).as("n_total"),
        sum(abs(col("n_st") * col("n_total") - col("n_t") * col("n_s")))
          .as("present_dev"),
        sum(col("n_t")).as("present_mass"))
      .withColumn("tv_num",
        col("present_dev") + col("n_s") * (col("n_total") - col("present_mass")))
      .select(col("source"), col("n_s").cast("long").as("n_tokens"),
        col("n_distinct").cast("long").as("n_distinct"),
        expr("10000 * tv_num div (2 * n_s * n_total)").cast("long").as("tv_bp"))
      .orderBy(col("source"))
  }

  val sourceDivergenceSql: String =
    """WITH st AS MATERIALIZED (
      |  SELECT source, w, COUNT(*) AS n_st FROM (
      |    SELECT source,
      |      unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
      |    FROM documents
      |  ) GROUP BY 1, 2
      |), tt AS (
      |  SELECT w, CAST(SUM(n_st) AS BIGINT) AS n_t FROM st GROUP BY 1
      |), ss AS (
      |  SELECT source, CAST(SUM(n_st) AS BIGINT) AS n_s FROM st GROUP BY 1
      |), g AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_total FROM ss)
      |SELECT st.source, CAST(MAX(ss.n_s) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |  CAST(10000 * (CAST(SUM(ABS(st.n_st * g.n_total - tt.n_t * ss.n_s)) AS BIGINT)
      |        + MAX(ss.n_s) * (MAX(g.n_total) - CAST(SUM(tt.n_t) AS BIGINT)))
      |     // (2 * MAX(ss.n_s) * MAX(g.n_total)) AS BIGINT) AS tv_bp
      |FROM st JOIN tt USING (w) JOIN ss USING (source) CROSS JOIN g
      |GROUP BY st.source ORDER BY st.source""".stripMargin

  // ---------------------------------------------------------------------
  // q176: padding-waste audit (length-bucketed batching)
  // ---------------------------------------------------------------------

  /** Batch size for the padding audit (docs per training batch). */
  val PadBatch = 32L

  /** q176: PADDING-WASTE audit — the measurement behind length-grouped
    * batching (HF `group_by_length`, the dynamic-batching default in
    * every serious trainer): batching docs in arrival order pads every
    * sequence to its batch's max length, so mixed-length batches burn
    * compute on pad tokens; sorting by length first makes batch members
    * similar and collapses the waste. Reports, per strategy, the padded
    * token volume, the pad fraction in basis points, and the savings —
    * the number that justifies turning the trainer knob on.
    *
    * Batches are rank div B under each order: arrival = doc_id rank,
    * length-sorted = (n_tokens, doc_id) rank — BOTH via
    * [[graft.Dist.globalRowNumber]] (range partition + broadcast
    * offsets; never a single-partition window). Waste per batch is
    * n_b·max_b − Σlen (the trailing partial batch pays its true n_b).
    * One corpus-sized tokenize pass feeds both rankings; everything
    * after the ranks is a two-level aggregate over batch keys. All
    * integer, so the hash gate covers every cell. */
  def paddingWaste(spark: SparkSession, dir: String): DataFrame = {
    val lens = Tables.documents(spark, dir)
      .select(col("doc_id"), graft.functions.TextKernels.tokenCount(col("text")).cast("long").as("len"))
      .transform(graft.Dist.durableCkpt) // feeds both rankings
    def audit(tag: String, ranked: DataFrame): DataFrame =
      ranked
        .withColumn("batch", expr(s"(rn - 1) div $PadBatch"))
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("tok"),
          max(col("len")).as("mx"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("tok")).as("total_tokens"),
          sum(col("n_docs") * col("mx")).as("padded_tokens"))
        .select(lit(tag).as("strategy"),
          col("n_batches").cast("long").as("n_batches"),
          col("total_tokens").cast("long").as("total_tokens"),
          col("padded_tokens").cast("long").as("padded_tokens"),
          expr("10000 * (padded_tokens - total_tokens) div padded_tokens")
            .cast("long").as("waste_bp"))
    audit("1_arrival", graft.Dist.globalRowNumber(lens, col("doc_id")))
      .unionByName(audit("2_length_sorted",
        graft.Dist.globalRowNumber(lens, struct(col("len"), col("doc_id")))))
      .orderBy(col("strategy"))
  }

  val paddingWasteSql: String = {
    val b = PadBatch
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS BIGINT) AS len
       |  FROM documents
       |), arr AS (
       |  SELECT len, (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // $b AS batch FROM d
       |), srt AS (
       |  SELECT len, (ROW_NUMBER() OVER (ORDER BY len, doc_id) - 1) // $b AS batch FROM d
       |), pa AS (
       |  SELECT batch, COUNT(*) AS n_docs, SUM(len) AS tok, MAX(len) AS mx FROM arr GROUP BY 1
       |), ps AS (
       |  SELECT batch, COUNT(*) AS n_docs, SUM(len) AS tok, MAX(len) AS mx FROM srt GROUP BY 1
       |), ra AS (
       |  SELECT '1_arrival' AS strategy, CAST(COUNT(*) AS BIGINT) AS n_batches,
       |    CAST(SUM(tok) AS BIGINT) AS total_tokens,
       |    CAST(SUM(n_docs * mx) AS BIGINT) AS padded_tokens
       |  FROM pa
       |), rs AS (
       |  SELECT '2_length_sorted', CAST(COUNT(*) AS BIGINT),
       |    CAST(SUM(tok) AS BIGINT), CAST(SUM(n_docs * mx) AS BIGINT)
       |  FROM ps
       |), u AS (SELECT * FROM ra UNION ALL SELECT * FROM rs)
       |SELECT strategy, n_batches, total_tokens, padded_tokens,
       |  CAST(10000 * (padded_tokens - total_tokens) // padded_tokens AS BIGINT) AS waste_bp
       |FROM u ORDER BY strategy""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q177: source-concentration audit (exact Gini + Lorenz shares)
  // ---------------------------------------------------------------------

  /** q177: how CONCENTRATED is the corpus over sources — the dataset-card
    * risk metric behind "is this corpus basically one domain": exact
    * integer Gini coefficient over per-source token mass plus the Lorenz
    * reading marketing actually quotes (the token share of the top
    * half of sources). Gini via the rank identity
    * G = (2·Σᵢ i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted x,
    * cross-multiplied to basis points with a single floor division:
    * gini_bp = (10⁴·(2·Σ i·xᵢ − (n+1)·Σx)) div (n·Σx).
    *
    * Scale shape: per-source mass is ONE corpus-sized hash(source)
    * aggregate; ranking and sums run over the ≤|sources| frame
    * (domain-bounded — the hygiene-whitelisted census class); output is
    * one row. Everything integer-exact under the hash gate. */
  def sourceConcentration(spark: SparkSession, dir: String): DataFrame = {
    val mass = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(sum(graft.functions.TextKernels.tokenCount(col("text"))).cast("long").as("x"))
    val ranked = mass
      .withColumn("i",
        row_number().over(Window.orderBy(col("x"), col("source"))).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("long"))
    ranked
      .agg(max(col("n")).as("n_sources"),
        sum(col("x")).as("total_tokens"),
        sum(col("i") * col("x")).as("ix"),
        sum(when(col("i") * 2 > col("n"), col("x")).otherwise(0L))
          .as("top_half_tokens"))
      .select(col("n_sources").cast("long").as("n_sources"),
        col("total_tokens").cast("long").as("total_tokens"),
        expr("10000 * (2 * ix - (n_sources + 1) * total_tokens) div (n_sources * total_tokens)")
          .cast("long").as("gini_bp"),
        expr("10000 * top_half_tokens div total_tokens")
          .cast("long").as("top_half_share_bp"))
  }

  val sourceConcentrationSql: String =
    """WITH m AS (
      |  SELECT source,
      |    CAST(SUM(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS BIGINT) AS x
      |  FROM documents GROUP BY 1
      |), r AS (
      |  SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x, source) AS BIGINT) AS i,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS n
      |  FROM m
      |)
      |SELECT CAST(MAX(n) AS BIGINT) AS n_sources,
      |  CAST(SUM(x) AS BIGINT) AS total_tokens,
      |  CAST(10000 * (2 * CAST(SUM(i * x) AS BIGINT) - (MAX(n) + 1) * CAST(SUM(x) AS BIGINT))
      |    // (MAX(n) * CAST(SUM(x) AS BIGINT)) AS BIGINT) AS gini_bp,
      |  CAST(10000 * CAST(SUM(CASE WHEN i * 2 > n THEN x ELSE 0 END) AS BIGINT)
      |    // CAST(SUM(x) AS BIGINT) AS BIGINT) AS top_half_share_bp
      |FROM r""".stripMargin

  // ---------------------------------------------------------------------
  // q193: data-constrained epoch plan (repeats under a token budget)
  // ---------------------------------------------------------------------

  /** q193: the "Scaling Data-Constrained Language Models" planning step
    * (Muennighoff et al., NeurIPS 2023): when the training token budget
    * exceeds what the corpus supplies fresh, sources get REPEATED — but a
    * repeated token is worth less each epoch (their R* ≈ 4: beyond four
    * repeats the marginal value is ≈ 0). This emits the per-(source,
    * epoch) allocation plan for a budget of HALF the corpus token mass:
    *
    *  - per-source token mass Tₛ and integer quality weight
    *    qₛ = 1000·distinct_words div words (lexical diversity per mille —
    *    the q59/q166 vocabulary signal) from ONE (source, word) hash
    *    aggregate;
    *  - epoch increments (s, e ∈ 1..4) carry density d = qₛ·wₑ with
    *    geometric repeat-decay weights w = (100, 50, 25, 12);
    *  - the exact greedy (fractional-knapsack) fill: increments sorted by
    *    density take their Tₛ tokens until the budget cuts off; the
    *    straddling increment takes the exact remainder; later ones take 0.
    *
    * Within a source the decay makes densities STRICTLY decreasing, so the
    * greedy order can never take epoch e+1 before epoch e — the plan is
    * epoch-consistent by construction, no constraint join needed. This is
    * the repeats-aware completion of the mixture tier: q109 plans rates,
    * q144 selects one pass under a budget, q193 decides how many PASSES
    * each source earns.
    *
    * Scale shape: the corpus is touched by one tokenize-once explode +
    * (source, word) hash aggregate (map-side combined, the q59 class);
    * everything downstream — budget total, cumulative cut — runs over the
    * 4·|sources| increment frame (domain-bounded census windows,
    * hygiene-whitelisted). All-integer output under the hash gate. */
  val EpochWeights: Seq[(Int, Int)] = Seq(1 -> 100, 2 -> 50, 3 -> 25, 4 -> 12)

  def epochMixture(spark: SparkSession, dir: String): DataFrame = {
    val bySource = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(lower(col("text")))).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).cast("long").as("tokens"),
        count(lit(1)).cast("long").as("distinct_words"))
      .withColumn("quality_pm", expr("1000 * distinct_words div tokens"))
    val eps = EpochWeights.map { case (e, w) =>
      struct(lit(e).as("epoch"), lit(w).as("w")) }
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val greedy = Window.orderBy(col("density").desc, col("source"), col("epoch"))
      .rowsBetween(Window.unboundedPreceding, -1)
    bySource
      .select(col("source"), col("tokens"), col("quality_pm"),
        explode(array(eps: _*)).as("ew"))
      .select(col("source"), col("tokens"), col("quality_pm"),
        col("ew.epoch").cast("int").as("epoch"),
        (col("quality_pm") * col("ew.w")).cast("long").as("density"))
      .withColumn("total",
        sum(when(col("epoch") === 1, col("tokens")).otherwise(0L)).over(all))
      .withColumn("budget", expr("total div 2"))
      .withColumn("cum_before",
        coalesce(sum(col("tokens")).over(greedy), lit(0L)))
      .withColumn("allocated", greatest(lit(0L),
        least(col("tokens"), col("budget") - col("cum_before"))))
      .withColumn("status",
        when(col("allocated") === col("tokens"), lit("full"))
          .when(col("allocated") > 0L, lit("partial"))
          .otherwise(lit("skipped")))
      .select(col("source"), col("epoch"), col("quality_pm"), col("density"),
        col("tokens"), col("allocated"), col("status"))
      .orderBy(col("density").desc, col("source"), col("epoch"))
  }

  val epochMixtureSql: String = {
    val vals = EpochWeights.map { case (e, w) => s"($e, $w)" }.mkString(", ")
    s"""WITH wcount AS (
       |  SELECT source, w, COUNT(*) AS n FROM (
       |    SELECT source,
       |      unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS w
       |    FROM documents) GROUP BY 1, 2
       |), q AS (
       |  SELECT source, CAST(SUM(n) AS BIGINT) AS tokens,
       |    1000 * CAST(COUNT(*) AS BIGINT) // CAST(SUM(n) AS BIGINT) AS quality_pm
       |  FROM wcount GROUP BY 1
       |), incr AS (
       |  SELECT source, tokens, quality_pm, e.epoch,
       |    CAST(quality_pm * e.w AS BIGINT) AS density
       |  FROM q, (VALUES $vals) e(epoch, w)
       |), cut AS (
       |  SELECT *,
       |    CAST(SUM(CASE WHEN epoch = 1 THEN tokens ELSE 0 END) OVER () AS BIGINT) // 2 AS budget,
       |    CAST(COALESCE(SUM(tokens) OVER (ORDER BY density DESC, source, epoch
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM incr
       |)
       |SELECT source, CAST(epoch AS INT) AS epoch, quality_pm, density, tokens,
       |  GREATEST(0, LEAST(tokens, budget - cum_before)) AS allocated,
       |  CASE WHEN GREATEST(0, LEAST(tokens, budget - cum_before)) = tokens THEN 'full'
       |       WHEN GREATEST(0, LEAST(tokens, budget - cum_before)) > 0 THEN 'partial'
       |       ELSE 'skipped' END AS status
       |FROM cut ORDER BY density DESC, source, epoch""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q195: trained quality classifier (integer batch perceptron)
  // ---------------------------------------------------------------------

  /** q195: TRAIN the quality classifier instead of shipping fixed
    * weights — the fastText-style seed-vs-crawl filter GPT-3 (App. A),
    * CCNet and DCLM actually run: label the trusted domain ([[
    * PerceptronTarget]]) +1 and the rest −1, train a linear separator on
    * integer text-quality features, then score the whole corpus with the
    * learned weights. q90 applies a FIXED linear scorer; q195 closes the
    * loop by LEARNING one from the corpus itself (the q185/q186
    * train-on-the-data discipline).
    *
    * Algorithm: batch perceptron, [[PerceptronEpochs]] fixed rounds (the
    * q114/q169/q185 fixed-rounds discipline — determinism over
    * convergence): round k adds Σ y·x over currently-misclassified docs
    * (margin y·(w·x) ≤ 0) to the weight vector. Everything is integer —
    * features are the q189 signal family (bias, word count, centi mean
    * word length, stopword-occurrence per-mille, alphabetic-word
    * per-mille), updates are exact sums, so weights and margins
    * hash-gate. Overflow: |feature| ≤ ~10⁵, so |w_j| after K epochs is ≤
    * K·N·10⁵ and the margin ≤ 5·10⁵·|w| — int64-safe past 10⁹ training
    * docs; at larger N, train on a fixed-size sample (the classifier is
    * benchmark-sized either way).
    *
    * Scale shape: features land ONCE (durable checkpoint), then each
    * round is one map-side-combined 5-column aggregate with a bounded
    * ONE-ROW collect (the q169/q185 per-round driver action); scoring is
    * map-only with the 5-long broadcast literal; the census is
    * ≤|sources| rows with an xor fingerprint certifying the predicted
    * SET. */
  val PerceptronEpochs = 6
  val PerceptronTarget = "src0"

  private[graft] def perceptronOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    val stops = GopherStops.map(s => s"'$s'").mkString(",")
    val feats = docs
      .select(col("doc_id"), col("source"), tokens(lower(col("text"))).as("ws"))
      .filter(size(col("ws")) > 0)
      .withColumn("nw", size(col("ws")).cast("long"))
      .withColumn("chars", expr(
        "aggregate(ws, CAST(0 AS BIGINT), (a, w) -> a + length(w))"))
      .withColumn("n_alpha", expr(
        "CAST(size(filter(ws, w -> w rlike '[a-z]')) AS BIGINT)"))
      .withColumn("n_stop", expr(
        s"CAST(size(filter(ws, w -> w IN ($stops))) AS BIGINT)"))
      .select(col("doc_id"), col("source"),
        array(lit(1L), col("nw"), expr("100 * chars div nw"),
          expr("1000 * n_stop div nw"), expr("1000 * n_alpha div nw")).as("x"),
        when(col("source") === PerceptronTarget, 1L).otherwise(-1L).as("y"))
      .transform(graft.Dist.durableCkpt)
    var w = Array.fill(5)(0L)
    for (_ <- 1 to PerceptronEpochs) {
      val upd = feats
        .withColumn("m", col("y") *
          graft.functions.ArrayKernels.dotLong(col("x"), typedLit(w.toSeq)))
        .filter(col("m") <= 0L)
        .select((0 until 5).map(j =>
          sum(col("y") * element_at(col("x"), j + 1)).as(s"d$j")): _*)
        .collect()(0) // bounded one-row driver action per round
      w = w.zipWithIndex.map { case (wj, j) =>
        wj + (if (upd.isNullAt(j)) 0L else upd.getLong(j)) }
    }
    feats
      .withColumn("s", graft.functions.ArrayKernels.dotLong(col("x"), typedLit(w.toSeq)))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("s") > 0L, 1L).otherwise(0L)).cast("long").as("n_pred_target"),
        expr("bit_xor(CASE WHEN s > 0 THEN doc_id ELSE 0 END)")
          .cast("long").as("pred_fp"))
      .withColumn("pred_bp", expr("10000 * n_pred_target div n_docs"))
      .select(col("source"), col("n_docs"), col("n_pred_target"),
        col("pred_bp"), col("pred_fp"))
      .orderBy(col("source"))
  }

  def qualityPerceptron(spark: SparkSession, dir: String): DataFrame =
    perceptronOf(spark, Tables.documents(spark, dir))

  /** Unrolled K-round oracle; each weight CTE is MATERIALIZED (it is
    * referenced by the next round's margin filter — the q185 rule). */
  val qualityPerceptronSql: String = {
    val stops = GopherStops.map(s => s"'$s'").mkString(", ")
    def dot(wRef: String) = s"list_sum([x[i] * $wRef[i] for i in range(1, 6)])"
    val sb = new StringBuilder
    sb.append(
      s"""WITH f AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    [CAST(1 AS BIGINT), nw, 100 * chars // nw, 1000 * n_stop // nw,
         |     1000 * n_alpha // nw] AS x,
         |    CASE WHEN source = '$PerceptronTarget' THEN CAST(1 AS BIGINT)
         |      ELSE CAST(-1 AS BIGINT) END AS y
         |  FROM (
         |    SELECT doc_id, source, CAST(len(ws) AS BIGINT) AS nw,
         |      CAST(COALESCE(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS chars,
         |      CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
         |      CAST(len(list_filter(ws, w -> list_contains([$stops], w))) AS BIGINT) AS n_stop
         |    FROM (SELECT doc_id, source,
         |      list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS ws
         |      FROM documents))
         |  WHERE nw > 0
         |), w0 AS (SELECT [CAST(0 AS BIGINT), 0, 0, 0, 0] AS w)""".stripMargin)
    for (k <- 1 to PerceptronEpochs) {
      val upd = (1 to 5).map(j =>
        s"w[$j] + CAST(COALESCE(SUM(CASE WHEN y * ${dot("w")} <= 0 " +
          s"THEN y * x[$j] ELSE 0 END), 0) AS BIGINT)").mkString(",\n        ")
      sb.append(s""",
         |w$k AS MATERIALIZED (
         |  SELECT [$upd] AS w
         |  FROM f, w${k - 1} GROUP BY w)""".stripMargin)
    }
    sb.append(
      s""",
         |scored AS (
         |  SELECT source, doc_id, ${dot("w")} AS s FROM f, w$PerceptronEpochs
         |)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_target,
         |  10000 * CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) // COUNT(*) AS pred_bp,
         |  CAST(COALESCE(bit_xor(CASE WHEN s > 0 THEN doc_id ELSE 0 END), 0) AS BIGINT) AS pred_fp
         |FROM scored GROUP BY 1 ORDER BY source""".stripMargin)
    sb.toString
  }

  // ---------------------------------------------------------------------
  // q196: exact-duplication scaling curve
  // ---------------------------------------------------------------------

  /** q196: HOW FAST DOES DUPLICATION GROW WITH CRAWL SIZE — the planning
    * number behind Lee et al. (2022)'s observation that duplicate rate
    * rises with corpus size (dup pairs grow ~quadratically in the number
    * of copies), so a dedup budget tuned on a pilot crawl undershoots at
    * full scale. Measures the EXACT-duplicate rate at three NESTED
    * corpus prefixes — 25 %, 50 %, 100 % by the deterministic
    * pmod(doc_id, 4) slice (nested: r < 1 ⊂ r < 2 ⊂ all) — so the curve
    * is apples-to-apples the way a growing crawl is. FLOOR-mod on both
    * engines (`pmod` here, `((doc_id % 4) + 4) % 4` in the oracle): the
    * residue is non-negative for negative ids too, so the three tiers
    * stay nested prefixes of the id space under any id signing.
    *
    * ONE corpus scan: per md5(text) group, conditional counts per tier;
    * per-tier duplicates = n_docs − n_distinct_hashes. The scaling
    * readout: if dup_bp grows from 25 % → 100 %, duplication is
    * super-linear in crawl size and full-corpus dedup (q20/q55) is
    * mandatory, not optional.
    *
    * Scale shape: one hash-keyed aggregate (map-side combined; the same
    * shuffle q20's dedup already pays), then a 3-row census via a
    * single-row global aggregate + row-local stack. */
  private[graft] def dedupScalingOf(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(pmod(col("doc_id"), lit(4)).as("r"), md5(col("text")).as("h"))
      .groupBy(col("h"))
      .agg(sum(when(col("r") < 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("r") < 2, 1L).otherwise(0L)).as("c2"),
        count(lit(1)).as("c4"))
    counts
      .agg(
        sum(col("c1")).cast("long").as("d1"),
        sum(when(col("c1") > 0, 1L).otherwise(0L)).cast("long").as("u1"),
        sum(col("c2")).cast("long").as("d2"),
        sum(when(col("c2") > 0, 1L).otherwise(0L)).cast("long").as("u2"),
        sum(col("c4")).cast("long").as("d4"),
        sum(when(col("c4") > 0, 1L).otherwise(0L)).cast("long").as("u4"))
      .selectExpr(
        "stack(3, 25, d1, u1, 50, d2, u2, 100, d4, u4) AS (pct, n_docs, n_distinct)")
      .withColumn("n_dup", (col("n_docs") - col("n_distinct")).cast("long"))
      .withColumn("dup_bp", expr("10000 * n_dup div n_docs"))
      .orderBy(col("pct"))
  }

  def dedupScaling(spark: SparkSession, dir: String): DataFrame =
    dedupScalingOf(Tables.documents(spark, dir))

  val dedupScalingSql: String =
    """WITH h AS (
      |  SELECT ((doc_id % 4) + 4) % 4 AS r, md5(text) AS h FROM documents
      |), c AS (
      |  SELECT h,
      |    CAST(SUM(CASE WHEN r < 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN r < 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
      |    CAST(COUNT(*) AS BIGINT) AS c4
      |  FROM h GROUP BY 1
      |), t AS (
      |  SELECT 25 AS pct, CAST(SUM(c1) AS BIGINT) AS n_docs,
      |    CAST(SUM(CASE WHEN c1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_distinct FROM c
      |  UNION ALL SELECT 50, CAST(SUM(c2) AS BIGINT),
      |    CAST(SUM(CASE WHEN c2 > 0 THEN 1 ELSE 0 END) AS BIGINT) FROM c
      |  UNION ALL SELECT 100, CAST(SUM(c4) AS BIGINT),
      |    CAST(SUM(CASE WHEN c4 > 0 THEN 1 ELSE 0 END) AS BIGINT) FROM c
      |)
      |SELECT CAST(pct AS INT) AS pct, n_docs, n_distinct,
      |  n_docs - n_distinct AS n_dup,
      |  10000 * (n_docs - n_distinct) // n_docs AS dup_bp
      |FROM t ORDER BY pct""".stripMargin

  // ---------------------------------------------------------------------
  // q201: crawl-order quality-drift deciles
  // ---------------------------------------------------------------------

  /** q201: ORDERING-BIAS audit — does data quality DRIFT along the crawl
    * order? doc_id is the ingest sequence; if a pipeline trains in (or
    * stratifies by) that order, a quality trend across it biases the
    * curriculum and silently shifts every "first N tokens" ablation.
    * Common Crawl dumps show exactly this (later segments skew toward
    * recently-discovered, lower-quality hosts), which is why published
    * pipelines shuffle (q119) — this query is the measurement that says
    * whether they had to.
    *
    * The corpus is cut into 10 equal-count CRAWL-ORDER deciles (rank by
    * doc_id via [[graft.Dist.globalRowNumber]] — the q117 idiom, range
    * partition + broadcast offsets, never a single-partition window);
    * each decile reports mean document length, mean lexical diversity
    * (per-mille distinct tokens, the q193 quality signal), and its
    * exact-duplicate share — three drift axes in one 10-row table, all
    * integer (mean = sum div n).
    *
    * Scale shape: one row-local per-doc feature pass; duplicate
    * membership is the q20-class md5 hash aggregate joined back slim;
    * the rank is distributed; the census is 10 rows. */
  def crawlDrift(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h"),
        tokens(lower(col("text"))).as("ws"))
      .filter(size(col("ws")) > 0) // token-free docs have no diversity signal
      .select(col("doc_id"), col("h"),
        size(col("ws")).cast("long").as("words"),
        size(array_distinct(col("ws"))).cast("long").as("dwords"),
        length(concat_ws(" ", col("ws"))).cast("long").as("len"))
      .transform(graft.Dist.durableCkpt) // feeds dup counts, rank, totals
    val dupHashes = perDoc.groupBy(col("h"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).select(col("h"))
    val flagged = perDoc
      .join(broadcast(dupHashes.withColumn("is_dup", lit(1L))), Seq("h"), "left")
      .select(col("doc_id"), col("words"), col("dwords"), col("len"),
        coalesce(col("is_dup"), lit(0L)).as("is_dup"))
    val totals = flagged.agg(count(lit(1)).as("n"))
    graft.Dist.globalRowNumber(flagged, col("doc_id"))
      .crossJoin(broadcast(totals))
      .withColumn("decile", expr("((rn - 1) * 10) div n + 1").cast("int"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        expr("sum(len) div count(1)").cast("long").as("mean_len"),
        expr("sum(1000 * dwords div words) div count(1)")
          .cast("long").as("mean_diversity_pm"),
        expr("10000 * sum(is_dup) div count(1)").cast("long").as("dup_bp"))
      .orderBy(col("decile"))
  }

  val crawlDriftSql: String =
    """WITH d AS (
      |  SELECT doc_id, md5(text) AS h,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
      |  FROM documents
      |), f AS (
      |  SELECT doc_id, h, CAST(len(ws) AS BIGINT) AS words,
      |    CAST(len(list_distinct(ws)) AS BIGINT) AS dwords,
      |    CAST(strlen(array_to_string(ws, ' ')) AS BIGINT) AS len
      |  FROM d WHERE len(ws) > 0
      |), dup AS (
      |  SELECT h FROM f GROUP BY h HAVING COUNT(*) > 1
      |), g AS (
      |  SELECT f.doc_id, f.words, f.dwords, f.len,
      |    CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END AS is_dup,
      |    ROW_NUMBER() OVER (ORDER BY f.doc_id) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM f LEFT JOIN dup USING (h)
      |)
      |SELECT CAST((rn - 1) * 10 // n + 1 AS INT) AS decile,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(len) // COUNT(*) AS BIGINT) AS mean_len,
      |  CAST(SUM(1000 * dwords // words) // COUNT(*) AS BIGINT) AS mean_diversity_pm,
      |  CAST(10000 * SUM(is_dup) // COUNT(*) AS BIGINT) AS dup_bp
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q202: vocabulary churn between crawl halves (tokenizer staleness)
  // ---------------------------------------------------------------------

  /** q202: VOCABULARY CHURN — how much of each source's vocabulary turns
    * over between the first and second half of its crawl order. This is
    * the tokenizer-STALENESS audit beside q201's quality drift: a BPE
    * tokenizer trained on the early crawl (q185) fragments words it
    * never saw, so a high new-vocab share in the late half says the
    * tokenizer (and every fertility number derived from it, q187/q149)
    * is measured against data it wasn't trained for. q166 measures how
    * vocabulary GROWS; this measures how it is REPLACED.
    *
    * Per source: docs split into equal-count crawl-order halves (rank
    * within source — a source-partitioned window, never global), word
    * SETS per half, then the census: shared vocab, retired (first-half
    * only), new (second-half only), half-overlap Jaccard in basis
    * points and the new-vocab share of the late half. All integer.
    *
    * Scale shape: one tokenize pass, one distinct on (source, half,
    * word) — the q59-class vocabulary shuffle, Heaps-sublinear in the
    * token stream — one (source, word) aggregate, and a ≤|sources|
    * census. */
  def vocabChurn(spark: SparkSession, dir: String): DataFrame = {
    val bySrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val halves = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), tokens(lower(col("text"))).as("ws"))
      .withColumn("rn", row_number().over(bySrc))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
      .withColumn("h", when(col("rn") * 2 <= col("n"), 1L).otherwise(2L))
      .select(col("source"), col("h"), explode(col("ws")).as("w"))
      .distinct()
    halves
      .groupBy(col("source"), col("w"))
      .agg(max(when(col("h") === 1L, 1L).otherwise(0L)).as("in1"),
        max(when(col("h") === 2L, 1L).otherwise(0L)).as("in2"))
      .groupBy(col("source"))
      .agg(sum(when(col("in1") === 1L && col("in2") === 1L, 1L).otherwise(0L))
          .cast("long").as("n_shared"),
        sum(when(col("in1") === 1L && col("in2") === 0L, 1L).otherwise(0L))
          .cast("long").as("n_retired"),
        sum(when(col("in1") === 0L && col("in2") === 1L, 1L).otherwise(0L))
          .cast("long").as("n_new"))
      .withColumn("overlap_bp", expr(
        "10000 * n_shared div (n_shared + n_retired + n_new)"))
      .withColumn("new_share_bp", expr(
        "10000 * n_new div (n_shared + n_new)"))
      .orderBy(col("source"))
  }

  val vocabChurnSql: String =
    """WITH r AS (
      |  SELECT source, doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM documents
      |), hw AS (
      |  SELECT DISTINCT source,
      |    CASE WHEN rn * 2 <= n THEN 1 ELSE 2 END AS h, unnest(ws) AS w
      |  FROM r
      |), m AS (
      |  SELECT source, w,
      |    MAX(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS in1,
      |    MAX(CASE WHEN h = 2 THEN 1 ELSE 0 END) AS in2
      |  FROM hw GROUP BY 1, 2
      |), c AS (
      |  SELECT source,
      |    CAST(SUM(CASE WHEN in1 = 1 AND in2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
      |    CAST(SUM(CASE WHEN in1 = 1 AND in2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_retired,
      |    CAST(SUM(CASE WHEN in1 = 0 AND in2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      |  FROM m GROUP BY 1
      |)
      |SELECT source, n_shared, n_retired, n_new,
      |  10000 * n_shared // (n_shared + n_retired + n_new) AS overlap_bp,
      |  10000 * n_new // (n_shared + n_new) AS new_share_bp
      |FROM c ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q180: mojibake (encoding-damage) audit + repair
  // ---------------------------------------------------------------------

  /** CP1252/UTF-8 double-encode victims: each true char's UTF-8 byte
    * sequence re-decoded as CP1252 (the classic "Ã©" corruption a
    * web crawl accumulates when a downstream stage guesses Latin-1 for
    * UTF-8 bytes — what ftfy repairs). Only chars whose corrupted form
    * is fully printable CP1252 are modeled (0x9D-class bytes are
    * undefined there and need sloppy-1252 semantics; out of scope).
    * Left = true char, right = its mojibake. */
  val MojibakePairs: Seq[(String, String)] = Seq(
    "é" -> "Ã©", // é  (C3 A9)
    "ï" -> "Ã¯", // ï  (C3 AF)
    "ç" -> "Ã§", // ç  (C3 A7)
    "ü" -> "Ã¼", // ü  (C3 BC)
    "ñ" -> "Ã±", // ñ  (C3 B1)
    "“" -> "â€œ", // “ (E2 80 9C; 0x9C ↦ U+0153)
    "’" -> "â€™", // ’ (E2 80 99; 0x99 ↦ U+2122)
    "–" -> "â€“") // – (E2 80 93; 0x93 ↦ U+201C)

  /** Apply the double-encode damage (test-harness side of the audit):
    * a SINGLE pass over characters, like the byte-level re-decode it
    * models. (A sequential replace chain would be wrong here: '–'s
    * mojibake "â€“" CONTAINS the true char '“', so a later '“' pass
    * would corrupt the corruption — caught when n_repair_ok first ran
    * exactly n_docs − n_flagged.) The repair chain in
    * [[mojibakeRepair]] runs in REVERSE pair order for the same
    * reason, so the 3-char artifacts are consumed before any shorter
    * pattern could see their tails. */
  def mojibakeCorrupt(s: String): String = {
    val m = MojibakePairs.map { case (g, b) => g.charAt(0) -> b }.toMap
    s.flatMap(c => m.getOrElse(c, c.toString))
  }

  /** Artifact detector: a mojibake LEAD ('Ã' before a Latin-1 symbol
    * byte, or the 'â€' digram) never occurs in healthy text — accented
    * TRUE characters ('é' itself) do NOT match, so the detector flags
    * double-encoding, not non-ASCII. Same RE2/Java-portable construct
    * class as q61's patterns. */
  val MojibakeRe: String = "Ã[ -¿]|â€."

  /** Accented suffix planted on every doc; contains every mapped char
    * (10 artifact sites when corrupted). */
  val MojiTrueSuffix: String =
    " résumé naïve façade – café’s “señor menü"

  /** q180: encoding-damage audit + repair — the ftfy stage of web-corpus
    * hygiene. The harness corpus is clean ASCII, so the query plants an
    * accented suffix on every doc and DOUBLE-ENCODES it (CP1252-decoded
    * UTF-8, the dominant real-world damage class) on a deterministic
    * ~20% of docs, then (a) flags damaged docs by artifact digrams,
    * (b) repairs them with the inverse mapping, and (c) proves IN-ENGINE
    * that every repaired doc equals its undamaged twin (`n_repair_ok`),
    * with a bit_xor content fingerprint over the repaired corpus so the
    * hash gate certifies the repaired BYTES, not just counts. Both the
    * planting and the repair are recomputed independently by the DuckDB
    * oracle (q61's discipline: the operator — detector + repair chain —
    * is the deliverable; the enrichment is the verification harness).
    *
    * 100 TB shape: narrow per-row string kernels only (no UDF, no
    * shuffle until the ≤|sources| census aggregate); the repair chain is
    * 8 literal `replace` passes, whole-stage codegen end to end. */
  def mojibakeRepair(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Similarity.hash60
    val planted = pmod(hash60(concat(lit("moj:"), col("doc_id").cast("string"))),
      lit(100L)) < 20
    val trueText = concat(col("text"), lit(MojiTrueSuffix))
    val observed = when(planted,
      concat(col("text"), lit(mojibakeCorrupt(MojiTrueSuffix))))
      .otherwise(trueText)
    val repaired = MojibakePairs.reverse.foldLeft(col("observed")) {
      case (c, (good, bad)) => replace(c, lit(bad), lit(good))
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), observed.as("observed"),
        trueText.as("true_text"))
      .withColumn("n_art",
        size(regexp_extract_all(col("observed"), lit(MojibakeRe), lit(0)))
          .cast("long"))
      .withColumn("repaired", repaired)
      .withColumn("fp", hash60(concat_ws("\u001f", col("doc_id"), col("repaired"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("n_art") > 0).cast("long")).as("n_flagged"),
        sum(col("n_art")).as("n_artifacts"),
        sum((col("repaired") === col("true_text")).cast("long")).as("n_repair_ok"),
        expr("bit_xor(fp)").cast("long").as("repaired_fp"))
      .orderBy(col("source"))
  }

  val mojibakeRepairSql: String = {
    val repairChain = MojibakePairs.reverse.foldLeft("observed") {
      case (e, (good, bad)) => s"replace($e, '$bad', '$good')"
    }
    s"""WITH o AS (
       |  SELECT doc_id, source,
       |    CASE WHEN CAST(concat('0x', substr(md5('moj:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 20
       |      THEN text || '${mojibakeCorrupt(MojiTrueSuffix)}'
       |      ELSE text || '$MojiTrueSuffix' END AS observed,
       |    text || '$MojiTrueSuffix' AS true_text
       |  FROM documents
       |), r AS (
       |  SELECT doc_id, source, observed, true_text,
       |    len(regexp_extract_all(observed, '$MojibakeRe')) AS n_art,
       |    $repairChain AS repaired
       |  FROM o
       |)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN n_art > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |  CAST(SUM(n_art) AS BIGINT) AS n_artifacts,
       |  CAST(SUM(CASE WHEN repaired = true_text THEN 1 ELSE 0 END) AS BIGINT) AS n_repair_ok,
       |  CAST(bit_xor(CAST(concat('0x', substr(md5(concat_ws(chr(31), doc_id, repaired)), 1, 15)) AS BIGINT)) AS BIGINT) AS repaired_fp
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q58_repetition_signals", repetitionSignals, Some(repetitionSignalsSql)),
    QueryDef("q59_vocab_coverage", vocabCoverage, Some(vocabCoverageSql)),
    QueryDef("q60_stratified_sample", stratifiedSample, Some(stratifiedSampleSql)),
    QueryDef("q61_pii_redact", piiRedact, Some(piiRedactSql)),
    QueryDef("q62_token_windows", tokenWindows, Some(tokenWindowsSql)),
    QueryDef("q63_sequence_pack", sequencePack, Some(sequencePackSql)),
    QueryDef("q66_tfidf_terms", tfidfTerms, Some(tfidfTermsSql)),
    QueryDef("q71_heavy_hitters", heavyHitters, Some(heavyHittersSql)),
    QueryDef("q71b_heavy_hitters_adaptive", heavyHittersAdaptive,
      Some(heavyHittersSql)),
    QueryDef("q90_quality_classifier", qualityClassifier, Some(qualityClassifierSql)),
    QueryDef("q91_fuzzy_name_join", fuzzyNameJoin, Some(fuzzyNameJoinSql)),
    QueryDef("q94_span_dedup", spanDedup, Some(spanDedupSql)),
    QueryDef("q182_span_excision", spanExcision, Some(spanExcisionSql)),
    QueryDef("q95_inverted_index", invertedIndex, Some(invertedIndexSql)),
    QueryDef("q103_pps_sample", ppsSample, Some(ppsSampleSql)),
    QueryDef("q104_pmi_pairs", pmiPairs, Some(pmiPairsSql)),
    QueryDef("q109_mixture_plan", mixturePlan, Some(mixturePlanSql)),
    QueryDef("q171_temperature_mixture", temperatureMixture,
      Some(temperatureMixtureSql)),
    QueryDef("q119_training_order", trainingOrder, Some(trainingOrderSql)),
    QueryDef("q124_exact_stratified_sample", exactStratifiedSample,
      Some(exactStratifiedSampleSql)),
    QueryDef("q127_takedown_propagation", takedownPropagation,
      Some(takedownPropagationSql)),
    QueryDef("q80_source_cap", sourceCap, Some(sourceCapSql)),
    QueryDef("q130_shard_balance", shardBalance, Some(shardBalanceSql)),
    QueryDef("q137_bm25_retrieval", bm25Retrieval, Some(bm25RetrievalSql)),
    QueryDef("q142_quality_calibration", qualityCalibration, Some(qualityCalibrationSql)),
    QueryDef("q144_token_budget_selection", tokenBudgetSelection,
      Some(tokenBudgetSelectionSql)),
    QueryDef("q149_tokenizer_fertility", tokenizerFertility,
      Some(tokenizerFertilitySql)),
    QueryDef("q155_dataset_card", datasetCard, Some(datasetCardSql)),
    QueryDef("q163_bpe_merge_candidates", bpeMergeCandidates,
      Some(bpeMergeCandidatesSql)),
    QueryDef("q185_bpe_train", bpeTrain, Some(bpeTrainSql)),
    QueryDef("q186_langid_audit", langIdAudit, Some(langIdAuditSql)),
    QueryDef("q237_lang_segmentation", langSegmentation,
      Some(langSegmentationSql)),
    QueryDef("q238_span_lang_census", spanLangCensus,
      Some(spanLangCensusSql)),
    QueryDef("q187_bpe_apply_fertility", bpeApplyFertility,
      Some(bpeApplyFertilitySql)),
    QueryDef("q188_dsir_selection", dsirSelection, Some(dsirSelectionSql)),
    QueryDef("q189_gopher_rules", gopherRules, Some(gopherRulesSql)),
    QueryDef("q190_contamination_screen", contaminationScreen,
      Some(contaminationScreenSql)),
    QueryDef("q191_perplexity_buckets", perplexityBuckets,
      Some(perplexityBucketsSql)),
    QueryDef("q166_vocab_growth", vocabGrowth, Some(vocabGrowthSql)),
    QueryDef("q174_entropy_quality", entropyQuality, Some(entropyQualitySql)),
    QueryDef("q175_source_divergence", sourceDivergence, Some(sourceDivergenceSql)),
    QueryDef("q176_padding_waste", paddingWaste, Some(paddingWasteSql)),
    QueryDef("q177_source_concentration", sourceConcentration,
      Some(sourceConcentrationSql)),
    QueryDef("q180_mojibake_repair", mojibakeRepair, Some(mojibakeRepairSql)),
    QueryDef("q193_epoch_mixture", epochMixture, Some(epochMixtureSql)),
    QueryDef("q195_quality_perceptron", qualityPerceptron,
      Some(qualityPerceptronSql)),
    QueryDef("q196_dedup_scaling", dedupScaling, Some(dedupScalingSql)),
    QueryDef("q201_crawl_drift", crawlDrift, Some(crawlDriftSql)),
    QueryDef("q202_vocab_churn", vocabChurn, Some(vocabChurnSql))
  )
}
