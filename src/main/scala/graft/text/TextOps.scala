package graft.text

import graft.{Dist, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-dataset operators, generalizing the reference's text pipeline
  * (`/root/reference/modules/other_tasks.py`) to distributed tables.
  *
  * Reference semantics preserved:
  *  - dedup keeps the FIRST occurrence in original order and reports the
  *    removed count (`other_tasks.py:100-125`);
  *  - merge concatenates with a blank-line separator in a deterministic
  *    (we fix: key-ordered) sequence (`other_tasks.py:6-26`);
  *  - split re-chunks with the reference's +2-per-line counter, i.e. a UI
  *    value of N lines/file yields ceil(N/2) records per chunk
  *    (`other_tasks.py:69-98`).
  *
  * The row identity used for "original order" is `doc_id` (the harness
  * tables have explicit keys). Raw text files are read whole and split
  * with [[fileLines]], so a line's position in its file is its identity —
  * never monotonically_increasing_id, whose values depend on partition
  * layout and would make results non-deterministic across runs.
  */
object TextOps {

  /** Tokenize on whitespace, dropping empties (leading/trailing runs). */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= lit(""))

  /** A wholetext file's lines: one trailing newline is stripped (a final
    * "\n" does not open an empty last line, matching line-iterator
    * semantics) and the rest is split on "\n", so "a\n\n" is ["a", ""].
    * The strip anchors on `\z`: Java's `$` also matches before a final
    * line terminator and would drop that blank last line too. */
  private[text] def fileLines(text: Column): Column =
    split(regexp_replace(text, "\n\\z", ""), "\n", -1)

  /** Order-preserving exact dedup (reference D1): first occurrence wins.
    * One hash-aggregate shuffle on the value — same cost shape as
    * dropDuplicates but with deterministic survivor choice. */
  def dedupFirstOccurrence(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("first_id"), count(lit(1)).as("n_copies"))
      .select(col("first_id"), col("n_copies"), col("text"))
      .orderBy(col("first_id"))

  val dedupFirstOccurrenceSql: String =
    """SELECT MIN(doc_id) AS first_id, COUNT(*) AS n_copies, text
      |FROM documents GROUP BY text ORDER BY first_id""".stripMargin

  /** Dedup summary: the reference's removed-count report, distributed. */
  def dedupStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("text")).as("n_distinct"),
      (count(lit(1)) - countDistinct(col("text"))).as("removed_count"))

  val dedupStatsSql: String =
    """SELECT COUNT(*) AS n_rows, COUNT(DISTINCT text) AS n_distinct,
      |  COUNT(*) - COUNT(DISTINCT text) AS removed_count
      |FROM documents""".stripMargin

  /** Guard for single-row materialization: fail fast (with the offending
    * keys) when any group's total payload exceeds `maxBytes`, BEFORE a
    * collect_list concentrates it into one row and OOMs an executor. One
    * cheap aggregate pass over (key, size) — at 100 TB this is the
    * difference between a clear error and a dead executor mid-job. */
  def requireBoundedGroups(df: DataFrame, key: Column, sizeExpr: Column,
                           maxBytes: Long): Unit = {
    val over = df.groupBy(key.as("__key"))
      .agg(sum(sizeExpr).as("__bytes"))
      .filter(col("__bytes") > maxBytes)
      .select(col("__key"), col("__bytes"))
      .limit(5)
      .collect()
    if (over.nonEmpty) {
      val desc = over.map(r => s"${r.get(0)}=${r.get(1)}B").mkString(", ")
      throw new IllegalStateException(
        s"merge groups exceed $maxBytes bytes: $desc — split the source or raise the bound")
    }
  }

  /** Merge (reference U1): concatenate all docs of a source with blank-line
    * separators, in doc_id order. collect_list+array_sort keeps the
    * aggregation single-pass; per-group payload is bounded by source size —
    * enforced by [[requireBoundedGroups]] (default 256 MiB), which turns
    * the would-be executor OOM on an oversized source into a fail-fast
    * error naming the source. */
  def mergePerSource(spark: SparkSession, dir: String,
                     maxGroupBytes: Long = 256L << 20): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // octet_length, not length: the guard bounds BYTES and multi-byte
    // UTF-8 text is up to 4× its character count; +2 per doc for the
    // blank-line separators the merge adds
    requireBoundedGroups(docs, col("source"),
      octet_length(col("text")).cast("long") + 2L, maxGroupBytes)
    docs
      .groupBy(col("source"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x.getField("text")),
          "\n\n").as("merged"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("source"))
  }

  val mergePerSourceSql: String =
    """SELECT source,
      |  string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS merged,
      |  COUNT(*) AS n_docs
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Split/chunk (reference G6) with lines_per_file=100: the reference's
    * counter adds 2 per record, so each chunk holds ceil(100/2)=50 records.
    * The global row numbering uses Dist.globalRowNumber (range partition +
    * local window + offset join) — never the single-partition
    * `Window.orderBy` that serializes the whole table through one task. */
  def splitChunks(spark: SparkSession, dir: String): DataFrame = {
    val recordsPerChunk = 50
    graft.Dist.globalRowNumber(
        Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")),
        col("doc_id"))
      .withColumn("chunk", expr(s"(rn - 1) div $recordsPerChunk"))
      .groupBy(col("chunk"))
      .agg(count(lit(1)).as("n_records"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(col("n_chars")).as("n_chars_total"))
      .orderBy(col("chunk"))
  }

  val splitChunksSql: String =
    """WITH r AS (
      |  SELECT doc_id, n_chars, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
      |  FROM documents
      |)
      |SELECT (rn - 1) // 50 AS chunk, COUNT(*) AS n_records,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
      |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
      |FROM r GROUP BY chunk ORDER BY chunk""".stripMargin

  /** Token counting per document (whitespace tokenizer). */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextKernels.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_measured"),
        col("n_chars"))
      .orderBy(col("doc_id"))

  val tokenCountsSql: String =
    """SELECT doc_id,
      |  len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS n_tokens,
      |  length(text) AS n_chars_measured,
      |  n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality scoring: length, punctuation ratio, stopword ratio, flag.
    * All ratios are double divisions of identical integers => exact. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "for")
    // fanOut: two regex strips + per-token folds from a one-task scan
    // (sf1 isolated min-of-3: 5.4 -> 1.3 s)
    graft.Dist.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("len"),
        length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", "")).cast("long").as("n_punct"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => t.isInCollection(stop))).cast("long").as("n_stop"))
      .withColumn("punct_ratio", col("n_punct") / col("len"))
      .withColumn("stop_ratio",
        when(col("n_tokens") > 0, col("n_stop") / col("n_tokens")).otherwise(lit(0.0)))
      .withColumn("quality_ok",
        col("len") >= 40 && col("len") <= 5000 && col("punct_ratio") < 0.2)
      .orderBy(col("doc_id"))
  }

  val qualityScoreSql: String =
    """SELECT doc_id, lang,
      |  length(text) AS len,
      |  length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS n_punct,
      |  len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS n_tokens,
      |  len(list_filter(string_split_regex(text, '\s+'),
      |      t -> t IN ('the','a','of','and','to','in','is','for'))) AS n_stop,
      |  length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) / length(text) AS punct_ratio,
      |  CASE WHEN len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) > 0
      |    THEN len(list_filter(string_split_regex(text, '\s+'),
      |           t -> t IN ('the','a','of','and','to','in','is','for')))
      |         / len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
      |    ELSE 0.0 END AS stop_ratio,
      |  (length(text) >= 40 AND length(text) <= 5000
      |   AND length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) / length(text) < 0.2) AS quality_ok
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Document fingerprint: md5 of whitespace-normalized lowercased text.
    * Groups byte-identical-after-normalization docs; the cheap first stage
    * of a dedup cascade (exact -> fingerprint -> MinHash). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_id"))
      .orderBy(col("first_id"))

  val fingerprintSql: String =
    """SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS first_id
      |FROM (SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
      |      FROM documents)
      |GROUP BY fp ORDER BY first_id""".stripMargin

  /** Heuristic language ID: stopword-hit scoring per language. On this
    * synthetic corpus it mostly predicts 'und'; the point is deterministic,
    * oracle-checkable plumbing for the scoring pipeline. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val en = Seq("the", "and", "of", "to", "a", "in", "is")
    val fr = Seq("le", "la", "et", "les", "des", "un", "une")
    val de = Seq("der", "die", "und", "das", "ein", "nicht")
    // tokenize ONCE into a column, then filter the materialized array per
    // language — round 1 inlined `tokens(lower(text))` into each of the
    // three hit counters, re-splitting every document 3×. CollapseProject
    // keeps the alias (multi-referenced non-cheap expressions don't get
    // inlined back), so the split runs once per row.
    def hits(ws: Seq[String]) = size(filter(col("toks"), t => t.isInCollection(ws)))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), col("lang"),
        hits(en).cast("long").as("en_hits"),
        hits(fr).cast("long").as("fr_hits"),
        hits(de).cast("long").as("de_hits"))
      .withColumn("pred_lang",
        when(col("en_hits") >= col("fr_hits") && col("en_hits") >= col("de_hits") && col("en_hits") > 0, "en")
          .when(col("fr_hits") >= col("de_hits") && col("fr_hits") > 0, "fr")
          .when(col("de_hits") > 0, "de")
          .otherwise("und"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  val langIdSql: String =
    """WITH h AS (
      |  SELECT doc_id, lang,
      |    len(list_filter(string_split_regex(lower(text), '\s+'),
      |        t -> t IN ('the','and','of','to','a','in','is'))) AS en_hits,
      |    len(list_filter(string_split_regex(lower(text), '\s+'),
      |        t -> t IN ('le','la','et','les','des','un','une'))) AS fr_hits,
      |    len(list_filter(string_split_regex(lower(text), '\s+'),
      |        t -> t IN ('der','die','und','das','ein','nicht'))) AS de_hits
      |  FROM documents
      |)
      |SELECT lang,
      |  CASE WHEN en_hits >= fr_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
      |       WHEN fr_hits >= de_hits AND fr_hits > 0 THEN 'fr'
      |       WHEN de_hits > 0 THEN 'de'
      |       ELSE 'und' END AS pred_lang,
      |  COUNT(*) AS n_docs
      |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** BPE-ish subword segmentation via regex: runs of letters, runs of
    * digits, runs of other symbols, each optionally preceded by one space —
    * the shape of GPT-2's pre-tokenizer, kept to constructs Java regex and
    * DuckDB RE2 interpret identically. Compares against the whitespace
    * tokenizer per doc. */
  def bpeTokens(spark: SparkSession, dir: String): DataFrame = {
    val pat = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+"
    val pieces = regexp_extract_all(lower(col("text")), lit(pat), lit(0))
    // fanOut: the BPE-ish regex extract-all is the heaviest per-row regex
    // in the suite (sf1 isolated min-of-3: 4.0 -> 0.9 s)
    graft.Dist.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"),
        size(pieces).cast("long").as("n_bpe"),
        size(array_distinct(pieces)).cast("long").as("n_bpe_distinct"),
        graft.functions.TextKernels.tokenCount(col("text")).cast("long").as("n_ws"))
      .withColumn("bpe_per_ws",
        when(col("n_ws") > 0, col("n_bpe") / col("n_ws")).otherwise(lit(0.0)))
      .orderBy(col("doc_id"))
  }

  val bpeTokensSql: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+')) AS n_bpe,
      |  len(list_distinct(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+'))) AS n_bpe_distinct,
      |  len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS n_ws,
      |  CASE WHEN len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) > 0
      |    THEN CAST(len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+')) AS DOUBLE)
      |         / len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
      |    ELSE 0.0 END AS bpe_per_ws
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Deterministic train/val/test split by content hash: bucket =
    * md5(text) mod 100 → 90/5/5. Hash-based (not random) so the split is
    * reproducible run-to-run and machine-to-machine, duplicate documents
    * land in the same split (no train/test leakage through near-identical
    * text), and no shuffle is needed to assign — the standard way to split
    * a 100 TB corpus. */
  def trainValSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long"), lit(100))
    Tables.documents(spark, dir)
      .withColumn("split",
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.functions.TextKernels.tokenCount(col("text"))).cast("long").as("n_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("split"))
  }

  val trainValSplitSql: String =
    """WITH s AS (
      |  SELECT doc_id, text,
      |    CASE WHEN CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 100 < 90 THEN 'train'
      |      WHEN CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 100 < 95 THEN 'val'
      |      ELSE 'test' END AS split
      |  FROM documents
      |)
      |SELECT split, COUNT(*) AS n_docs,
      |  CAST(SUM(len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))) AS BIGINT) AS n_tokens,
      |  MIN(doc_id) AS first_doc
      |FROM s GROUP BY split ORDER BY split""".stripMargin

  /** Winnowing document fingerprint (the rolling-hash dedup tier between
    * whole-text md5 (q26) and MinHash (q40): robust to local edits, far
    * cheaper than MinHash). Classic scheme [Schleimer/Wilkerson/Aiken,
    * SIGMOD'03]: hash every k-char gram of the whitespace-normalized
    * lowercased text, then keep the minimum hash of each w-wide sliding
    * window — any shared substring of length ≥ k+w-1 guarantees a shared
    * fingerprint. All hashes are the engine-portable md5-based hash60, so
    * the DuckDB oracle reproduces them bit-for-bit.
    *
    * Plan shape: pure per-row array expressions (no explode/shuffle until
    * the final per-doc digest). `norm`/`hs`/`mins` are materialized
    * columns between projections — each is referenced by several
    * downstream expressions, and inlining a non-trivial expression into a
    * HOF lambda re-evaluates it per element (the round-1 64× md5 blowup).
    * Guarded for texts shorter than one gram / one window. */
  val WinnowK = 8 // gram length (codepoints)
  val WinnowW = 4 // winnow window (grams)

  /** (doc_id, n_grams, fps) — the winnow fingerprint SET per document,
    * shared by q54's digest and q57's decontamination join. Fingerprints
    * come from the fused codegen kernel (SketchKernels.winnowFps): one
    * compiled pass per row instead of four interpreted HOF nodes per
    * gram plus a slice per window. Set-identical to the HOF formulation
    * (spec-asserted in SketchKernelsSpec); every consumer treats fps as
    * a set. Normalization stays in Spark expressions so the oracle twin
    * is line-for-line. */
  private def winnowFps(spark: SparkSession, dir: String): DataFrame =
    // coalesce: the kernel is null-propagating (UnaryExpression), but the
    // round-2 HOF contract — and the oracle twin — give a NULL text an
    // EMPTY fingerprint set; '' produces exactly that
    // fanOut: the winnow kernel hashes every 8-gram of every char from a
    // one-task scan -- per-row compute >> row bytes (sf1 isolated
    // min-of-3: q54 11.0 -> 1.3 s, q132 9.3 -> 3.9 s, q57 -> 1.3 s)
    graft.Dist.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"),
        lower(regexp_replace(coalesce(col("text"), lit("")), "\\s+", " ")).as("norm"))
      .select(col("doc_id"),
        greatest(length(col("norm")) - (WinnowK - 1), lit(0)).cast("long").as("n_grams"),
        graft.functions.SketchKernels
          .winnowFps(col("norm"), WinnowK, WinnowW, graft.llm.Similarity.P).as("fps"))


  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame =
    winnowFps(spark, dir)
      .select(col("doc_id"), col("n_grams"),
        size(col("fps")).cast("long").as("n_fp"),
        array_min(col("fps")).as("fp_min"),
        array_max(col("fps")).as("fp_max"))
      .orderBy(col("doc_id"))

  /** Shared oracle CTE prefix: per-doc winnow fingerprint sets (twin of
    * [[winnowFps]]). MATERIALIZED — q57 references `w` twice. */
  private val winnowCteSql: String = {
    val p = graft.llm.Similarity.P
    s"""nrm AS (
       |  SELECT doc_id, lower(regexp_replace(COALESCE(text, ''), '\\s+', ' ', 'g')) AS norm
       |  FROM documents
       |), g AS (
       |  SELECT doc_id,
       |    [CAST(concat('0x', substr(md5(substr(norm, i, 8)), 1, 15)) AS BIGINT) % $p
       |     for i in range(1, greatest(length(norm) - 7, 0) + 1)] AS hs
       |  FROM nrm
       |), w AS MATERIALIZED (
       |  SELECT doc_id, len(hs) AS n_grams,
       |    list_distinct([list_min(hs[j:j+3]) for j in range(1, greatest(len(hs) - 3, 0) + 1)]) AS fps
       |  FROM g
       |)""".stripMargin
  }

  val winnowFingerprintsSql: String =
    s"""WITH $winnowCteSql
       |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       |  CAST(len(fps) AS BIGINT) AS n_fp,
       |  list_min(fps) AS fp_min, list_max(fps) AS fp_max
       |FROM w ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination (q57) — the training-data hygiene step the
    * other dedup tiers don't cover: before training, any corpus document
    * that textually overlaps an EVALUATION/benchmark document must be
    * dropped, or downstream eval scores are contaminated. Overlap test =
    * shared winnow fingerprints (q54's scheme): a shared fingerprint is
    * implied by any shared normalized substring of length ≥ k+w-1 = 11
    * chars, the standard n-gram-overlap decontamination shape.
    *
    * Here the "benchmark" probe set is doc_id < 20 (self-contained on the
    * harness tables); a real deployment passes its eval suite instead.
    * Output: each contaminated corpus doc with its count of matching
    * fingerprints (n_hits) — review-then-drop, not silent deletion.
    *
    * 100 TB shape: benchmarks are tiny (thousands of docs), so the probe
    * fingerprint set is collected into a BROADCAST and the corpus side is
    * one narrow explode + broadcast hash join + per-doc count — no
    * shuffle of corpus data at all beyond the final doc_id aggregation,
    * and the corpus is scanned exactly once. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    // The checkpoint is a CORRECTNESS-OF-COST barrier, not a cache nicety:
    // explode() makes Catalyst infer `size(fps) > 0 AND isnotnull(fps)`
    // and push it below the projections, SUBSTITUTING the whole winnow
    // expression chain into a per-row Filter — where the hs-transform gets
    // inlined inside the window lambda and re-evaluated per window, an
    // O(n_grams²)-md5 interpreted blowup (observed: sf0.01 ran >20 min on
    // one core; with the barrier the whole query is sub-second). It also
    // keeps the probe and corpus branches from computing the fingerprints
    // twice (no plan CSE).
    val fps = winnowFps(spark, dir).transform(Dist.durableCkpt)
    val probe = fps.filter(col("doc_id") < 20)
      .select(explode(col("fps")).as("fp")).distinct()
    fps.filter(col("doc_id") >= 20)
      .select(col("doc_id"), explode(col("fps")).as("fp"))
      .join(broadcast(probe), Seq("fp"))
      // fps is distinct within a doc and probe is distinct, so each
      // (doc_id, fp) row is unique — count(*) IS the distinct-hit count
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  val decontaminateSql: String =
    s"""WITH $winnowCteSql,
       |probe AS (SELECT DISTINCT unnest(fps) AS fp FROM w WHERE doc_id < 20),
       |corp AS (SELECT doc_id, unnest(fps) AS fp FROM w WHERE doc_id >= 20)
       |SELECT doc_id, COUNT(*) AS n_hits
       |FROM corp JOIN probe USING (fp)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q76: snapshot diff (reconciliation) — given two corpus snapshots,
    * report per doc_id whether it was added, removed, changed or
    * unchanged. The CDC primitive behind incremental corpus refreshes:
    * at 100 TB you diff yesterday's crawl against today's by content
    * digest, not by re-reading both texts twice.
    *
    * Snapshots are carved deterministically from the harness table so
    * both engines see the same inputs: A = doc_id % 11 ≠ 0,
    * B = doc_id % 13 ≠ 0, and B's text is REVERSED for doc_id % 17 = 0
    * (a synthetic in-place edit, so every status actually occurs).
    *
    * Shape: one full-outer join on doc_id carrying (id, md5) only — the
    * text payload never flows through the join; digests are computed at
    * the scan and compared as 32-byte strings. Output is the per-status
    * census plus id bounds (bounded rows, scale-independent). */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // presence is tracked by a flag, NOT by digest nullness: md5(NULL
    // text) is NULL, so a null-text doc present on one side would
    // otherwise masquerade as absent ('added'/'removed' misclassified).
    // The digest compare is null-safe (<=>) for the same reason: two
    // present null-text versions are 'unchanged', matching the oracle's
    // IS NOT DISTINCT FROM.
    val a = docs.filter(pmod(col("doc_id"), lit(11)) =!= 0)
      .select(col("doc_id"), md5(col("text")).as("h_a"), lit(true).as("in_a"))
    val b = docs.filter(pmod(col("doc_id"), lit(13)) =!= 0)
      .select(col("doc_id"),
        md5(when(pmod(col("doc_id"), lit(17)) === 0, reverse(col("text")))
          .otherwise(col("text"))).as("h_b"), lit(true).as("in_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("in_a").isNull, "added")
          .when(col("in_b").isNull, "removed")
          .when(col("h_a") <=> col("h_b"), "unchanged")
          .otherwise("changed"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("status"))
  }

  val snapshotDiffSql: String =
    """WITH a AS (
      |  SELECT doc_id, md5(text) AS h_a FROM documents WHERE doc_id % 11 <> 0
      |), b AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 17 = 0 THEN reverse(text) ELSE text END) AS h_b
      |  FROM documents WHERE doc_id % 13 <> 0
      |), j AS (
      |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
      |    CASE WHEN a.doc_id IS NULL THEN 'added'
      |         WHEN b.doc_id IS NULL THEN 'removed'
      |         WHEN h_a IS NOT DISTINCT FROM h_b THEN 'unchanged'
      |         ELSE 'changed' END AS status
      |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
      |)
      |SELECT status, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM j GROUP BY status ORDER BY status""".stripMargin

  /** q77: NFC-normalized fingerprint census — the dedup fingerprint tier
    * (q26) with Unicode normalization composed in, reported as a
    * class-size histogram: for each duplicate-class size, how many
    * classes exist. Composition-variant spellings (é vs e+◌́) fingerprint
    * identically ([[graft.functions.TextNormalize]]); the DuckDB twin
    * uses `nfc_normalize`, so the oracle gates the normalization itself,
    * not just the counting. Two-level aggregation: (fingerprint) then
    * (class size) — both hash aggs with map-side partials. */
  def normalizedFingerprintCensus(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(graft.functions.TextNormalize.nfc(lower(col("text")))).as("nfp"))
      .groupBy(col("nfp"))
      .agg(count(lit(1)).as("class_size"), min(col("doc_id")).as("first_doc"))
      .groupBy(col("class_size"))
      .agg(count(lit(1)).as("n_classes"), min(col("first_doc")).as("sample_doc"))
      .orderBy(col("class_size"))

  val normalizedFingerprintCensusSql: String =
    """WITH fp AS (
      |  SELECT doc_id, md5(nfc_normalize(lower(text))) AS nfp FROM documents
      |), cls AS (
      |  SELECT nfp, COUNT(*) AS class_size, MIN(doc_id) AS first_doc
      |  FROM fp GROUP BY nfp
      |)
      |SELECT class_size, COUNT(*) AS n_classes, MIN(first_doc) AS sample_doc
      |FROM cls GROUP BY class_size ORDER BY class_size""".stripMargin

  /** q97: SCD Type-2 dimension build — q76's snapshot diff turned into
    * versioned HISTORY rows: one row per (doc, version) with
    * valid_from/valid_to snapshot labels and an is_current flag. The
    * warehouse primitive behind "what did this record look like when":
    * changed docs close their v1 row and open a v2, removed docs close
    * v1, added docs open at the new snapshot, unchanged docs stay open.
    *
    * Same scale shape as q76 — ONE full-outer join carrying (id, digest)
    * only, the text never flows through the join — plus a per-row
    * GENERATOR (explode of a conditional row array) emitting 1–2 version
    * rows per doc. No UNION of per-status branches: DataFrame union
    * re-executes the shared join subtree once per branch (round-3
    * gotcha), a generator emits all versions in one pass. */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val a = docs.filter(pmod(col("doc_id"), lit(11)) =!= 0)
      .select(col("doc_id"), md5(col("text")).as("h_a"), lit(true).as("in_a"))
    val b = docs.filter(pmod(col("doc_id"), lit(13)) =!= 0)
      .select(col("doc_id"),
        md5(when(pmod(col("doc_id"), lit(17)) === 0, reverse(col("text")))
          .otherwise(col("text"))).as("h_b"), lit(true).as("in_b"))
    val rowT = "array<struct<version:int,content_md5:string,valid_from:string,valid_to:string,is_current:boolean>>"
    def v(version: Int, h: Column, from: String, to: Column, cur: Boolean) =
      struct(lit(version).as("version"), h.as("content_md5"),
        lit(from).as("valid_from"), to.as("valid_to"),
        lit(cur).as("is_current"))
    val versions =
      when(col("in_a").isNull, // added in B
        array(v(1, col("h_b"), "B", lit(null).cast("string"), cur = true)))
        .when(col("in_b").isNull, // removed after A
          array(v(1, col("h_a"), "A", lit("A"), cur = false)))
        .when(col("h_a") <=> col("h_b"), // unchanged: one open row
          array(v(1, col("h_a"), "A", lit(null).cast("string"), cur = true)))
        .otherwise( // changed: close v1, open v2
          array(v(1, col("h_a"), "A", lit("A"), cur = false),
            v(2, col("h_b"), "B", lit(null).cast("string"), cur = true)))
          .cast(rowT)
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), explode(versions).as("r"))
      .select(col("doc_id"), col("r.version"), col("r.content_md5"),
        col("r.valid_from"), col("r.valid_to"), col("r.is_current"))
      .orderBy(col("doc_id"), col("version"))
  }

  val scd2HistorySql: String =
    """WITH a AS (
      |  SELECT doc_id, md5(text) AS h_a FROM documents WHERE doc_id % 11 <> 0
      |), b AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 17 = 0 THEN reverse(text) ELSE text END) AS h_b
      |  FROM documents WHERE doc_id % 13 <> 0
      |), j AS MATERIALIZED (
      |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, h_a, h_b,
      |    a.doc_id IS NOT NULL AS in_a, b.doc_id IS NOT NULL AS in_b
      |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
      |), v AS (
      |  -- v1 row for every doc present in A
      |  SELECT doc_id, 1 AS version, h_a AS content_md5, 'A' AS valid_from,
      |    CASE WHEN NOT in_b OR NOT (h_a IS NOT DISTINCT FROM h_b) THEN 'A' END AS valid_to,
      |    in_b AND (h_a IS NOT DISTINCT FROM h_b) AS is_current
      |  FROM j WHERE in_a
      |  UNION ALL
      |  -- v1 row for docs added in B
      |  SELECT doc_id, 1, h_b, 'B', NULL, true FROM j WHERE NOT in_a
      |  UNION ALL
      |  -- v2 row for changed docs
      |  SELECT doc_id, 2, h_b, 'B', NULL, true
      |  FROM j WHERE in_a AND in_b AND NOT (h_a IS NOT DISTINCT FROM h_b)
      |)
      |SELECT * FROM v ORDER BY doc_id, version""".stripMargin

  // ------------------------------------------------- q132 source overlap

  /** q132: CROSS-SOURCE content overlap census — the dedup PLANNING
    * query: before running the q68/q87 incremental cascade you want to
    * know WHICH source pairs actually share content (two mirrors of one
    * crawl? a re-scrape?) and which are disjoint, so pairwise dedup runs
    * where it pays instead of corpus-wide every time. Overlap unit =
    * shared winnow fingerprints (q54/q57's scheme: any shared normalized
    * substring of length ≥ 11 chars implies a shared fingerprint), so
    * the census sees copied PASSAGES, not just byte-identical documents
    * (this corpus has none of the latter across sources). Jaccard over
    * each source's DISTINCT fingerprint set, in integer basis points
    * (`div`) — exact on both engines.
    *
    * Shape: the per-doc fingerprint arrays (checkpointed once — shared
    * with q54/q57's build) explode into a (source, fp) DISTINCT collapse
    * — a hash aggregate that shrinks the corpus to per-source distinct
    * fingerprints (doc→source attaches by a slim co-keyed doc_id join
    * before the collapse); then an fp-keyed equi self-join of the
    * collapsed frame (bucket width ≤ #sources per fingerprint — never a
    * row-level blowup), pair counts, and a broadcast of the tiny
    * per-source totals for the jaccard denominator. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val srcOf = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val fps = winnowFps(spark, dir).transform(Dist.durableCkpt)
      .select(col("doc_id"), explode(col("fps")).as("fp"))
      .join(srcOf, Seq("doc_id"))
      .select(col("source"), col("fp"))
      .distinct()
      .transform(Dist.durableCkpt)
    val perSrc = fps.groupBy(col("source")).agg(count(lit(1)).as("n_fp"))
    val a = fps.select(col("source").as("source_a"), col("fp"))
    val b = fps.select(col("source").as("source_b"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .join(broadcast(perSrc.select(col("source").as("source_a"),
        col("n_fp").as("n_fp_a"))), Seq("source_a"))
      .join(broadcast(perSrc.select(col("source").as("source_b"),
        col("n_fp").as("n_fp_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared_fp"),
        col("n_fp_a"), col("n_fp_b"),
        expr("10000 * n_shared_fp div (n_fp_a + n_fp_b - n_shared_fp)")
          .as("jaccard_bp"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val sourceOverlapSql: String =
    s"""WITH $winnowCteSql,
      |fps AS MATERIALIZED (
      |  SELECT DISTINCT d.source, u.fp
      |  FROM w JOIN documents d USING (doc_id), unnest(w.fps) AS u(fp)
      |), per AS MATERIALIZED (
      |  SELECT source, COUNT(*) AS n_fp FROM fps GROUP BY 1
      |), p AS (
      |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
      |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared_fp,
      |  CAST(pa.n_fp AS BIGINT) AS n_fp_a, CAST(pb.n_fp AS BIGINT) AS n_fp_b,
      |  CAST(10000 * n_shared // (pa.n_fp + pb.n_fp - n_shared) AS BIGINT) AS jaccard_bp
      |FROM p JOIN per pa ON pa.source = p.source_a
      |JOIN per pb ON pb.source = p.source_b
      |ORDER BY source_a, source_b""".stripMargin

  // ------------------------------------------ q150 theta-sketch overlap

  /** q150: cross-source DISTINCT-TOKEN overlap via mergeable Theta
    * sketches — the sketched scale path beside q132's exact census. One
    * pass builds a `theta_sketch_agg` per source (O(2^lgK) state,
    * mergeable map-side like every sketch in this engine); all pairwise
    * set algebra (union, intersection, Jaccard) then runs on the tiny
    * per-source sketch frame — NO token-keyed pairwise join ever
    * happens. At 100 TB this is the difference between shipping 20
    * sketches and shuffling the token↔source postings for every pair;
    * sketches also persist (binary column) so tomorrow's overlap report
    * unions yesterday's sketches instead of rescanning.
    *
    * Oracle-less by design (DuckDB has no Theta sketches) — the q14/q82
    * discipline: the EXACT twin q150b carries the hash gate, and the
    * spec pins this query to the twin. Theta sketches are exact below
    * 2^lgK distinct values, a regime the spec asserts for this corpus;
    * beyond it the estimate error is ~1/√(2^lgK) relative. */
  def thetaSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sk = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(lower(col("text")))).as("tok"))
      .groupBy(col("source"))
      .agg(expr("theta_sketch_agg(tok, 12)").as("sk"))
    val a = sk.select(col("source").as("src_a"), col("sk").as("sk_a"))
    val b = sk.select(col("source").as("src_b"), col("sk").as("sk_b"))
    a.join(b, col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        expr("CAST(theta_sketch_estimate(sk_a) AS BIGINT)").as("est_a"),
        expr("CAST(theta_sketch_estimate(sk_b) AS BIGINT)").as("est_b"),
        expr("CAST(theta_sketch_estimate(theta_union(sk_a, sk_b)) AS BIGINT)")
          .as("est_union"),
        expr("CAST(theta_sketch_estimate(theta_intersection(sk_a, sk_b)) AS BIGINT)")
          .as("est_inter"))
      .withColumn("jaccard_est_bp", expr("10000 * est_inter div est_union"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** q150b: the EXACT twin — per source pair, distinct-token overlap via
    * the (source, token) postings join. Two-level: the distinct pass
    * collapses to one row per (source, token) BEFORE the token-keyed
    * self-join, so candidate volume is bounded by sources-per-token
    * (the q132 discipline); per-source distinct counts broadcast onto
    * the pair frame. This is what q150 estimates without the join. */
  def sourceTokenOverlapExact(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(lower(col("text")))).as("tok"))
      .distinct()
      .transform(graft.Dist.durableCkpt)
    val counts = st.groupBy(col("source")).agg(count(lit(1)).cast("long").as("n"))
    val pairs = st.select(col("tok"), col("source").as("src_a"))
      .join(st.select(col("tok"), col("source").as("src_b")), Seq("tok"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
    pairs
      .join(broadcast(counts.select(col("source").as("src_a"), col("n").as("n_a"))),
        Seq("src_a"))
      .join(broadcast(counts.select(col("source").as("src_b"), col("n").as("n_b"))),
        Seq("src_b"))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_shared"))
      .withColumn("jaccard_bp", expr("10000 * n_shared div n_union"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_union"), col("n_shared"), col("jaccard_bp"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val sourceTokenOverlapExactSql: String =
    """WITH st AS (
      |  SELECT DISTINCT source,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
      |  FROM documents
      |), counts AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM st GROUP BY 1
      |), pairs AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_shared
      |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT p.src_a, p.src_b, ca.n AS n_a, cb.n AS n_b,
      |  ca.n + cb.n - p.n_shared AS n_union, p.n_shared,
      |  10000 * p.n_shared // (ca.n + cb.n - p.n_shared) AS jaccard_bp
      |FROM pairs p
      |JOIN counts ca ON ca.source = p.src_a
      |JOIN counts cb ON cb.source = p.src_b
      |ORDER BY 1, 2""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q150_theta_overlap", thetaSourceOverlap, None),
    QueryDef("q150b_overlap_exact", sourceTokenOverlapExact,
      Some(sourceTokenOverlapExactSql)),
    QueryDef("q20_dedup_first_occurrence", dedupFirstOccurrence, Some(dedupFirstOccurrenceSql)),
    QueryDef("q21_dedup_stats", dedupStats, Some(dedupStatsSql)),
    QueryDef("q22_merge_per_source", (s, d) => mergePerSource(s, d), Some(mergePerSourceSql)),
    QueryDef("q23_split_chunks", splitChunks, Some(splitChunksSql)),
    QueryDef("q24_token_counts", tokenCounts, Some(tokenCountsSql)),
    QueryDef("q25_quality_score", qualityScore, Some(qualityScoreSql)),
    QueryDef("q26_fingerprint_dups", fingerprint, Some(fingerprintSql)),
    QueryDef("q27_lang_id", langId, Some(langIdSql)),
    QueryDef("q34_bpe_tokens", bpeTokens, Some(bpeTokensSql)),
    QueryDef("q35_train_val_split", trainValSplit, Some(trainValSplitSql)),
    QueryDef("q54_winnow_fingerprints", winnowFingerprints, Some(winnowFingerprintsSql)),
    QueryDef("q57_decontaminate", decontaminate, Some(decontaminateSql)),
    QueryDef("q76_snapshot_diff", snapshotDiff, Some(snapshotDiffSql)),
    QueryDef("q97_scd2_history", scd2History, Some(scd2HistorySql)),
    QueryDef("q77_normalized_census", normalizedFingerprintCensus,
      Some(normalizedFingerprintCensusSql)),
    QueryDef("q132_source_overlap", sourceOverlap, Some(sourceOverlapSql))
  )
}
