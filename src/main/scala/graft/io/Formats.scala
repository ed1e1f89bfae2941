package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Interchange formats beyond parquet: JSONL and CSV, configured so a
  * round-trip is LOSSLESS for arbitrary document text — the property
  * that actually bites in corpus work (embedded quotes, commas,
  * newlines, unicode).
  *
  * Deliberate choices, each load-bearing:
  *  - explicit schema on read, never inference: inference is an extra
  *    full pass over 100 TB AND makes the schema data-dependent (a batch
  *    with no nulls infers a different type than one with);
  *  - CSV writes with quoteAll + escaped quotes and `multiLine` read, so
  *    embedded newlines/commas/quotes survive;
  *  - JSONL is the default interchange for document corpora (one JSON
  *    object per line — splittable, appendable); Spark's json source
  *    escapes control characters, so embedded newlines survive without
  *    multiLine handling.
  * Both sources are splittable at scale (JSONL by line; CSV only when
  * multiLine=false — the spec documents that trade: lossless CSV with
  * embedded newlines costs per-file parallelism, which is why JSONL is
  * the recommended corpus format). q232's round trip lands its five
  * layouts once per application as one warehouse folder, through
  * [[Layout.landOnce]]. */
object Formats {

  def writeJsonl(df: DataFrame, outDir: String): Unit =
    df.write.mode("errorifexists").json(outDir)

  /** Pure-Java Hadoop zstd codec (aircompressor, bundled in Spark's own
    * jars): Spark's built-in "zstd" short name resolves to Hadoop's
    * ZStandardCodec, which needs native libhadoop-zstd — absent on
    * plain-JVM deployments (and in this environment). Spark's
    * `compression` option also accepts a fully-qualified codec CLASS
    * name, which is how [[writeJsonlCompressed]] reaches this one. */
  val ZstdCodecClass = "io.airlift.compress.zstd.ZstdCodec"

  /** Register [[ZstdCodecClass]] for EXTENSION-based resolution (the read
    * path): text sources resolve a shard's decompressor from
    * `io.compression.codecs` via the file extension, and `.zst` isn't in
    * the default list. Setting that key replaces Hadoop's ServiceLoader
    * discovery entirely, so the standard codecs must be re-listed; the
    * native ZStandardCodec is deliberately NOT (it would also claim
    * `.zst` and lose to/fight ours by registration order). Idempotent;
    * call before any read of `.zst` shards. */
  def ensureZstdReadable(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val current = conf.get("io.compression.codecs", "")
    if (!current.contains(ZstdCodecClass)) {
      val std = Seq(
        "org.apache.hadoop.io.compress.DefaultCodec",
        "org.apache.hadoop.io.compress.GzipCodec",
        "org.apache.hadoop.io.compress.BZip2Codec",
        "org.apache.hadoop.io.compress.DeflateCodec",
        "org.apache.hadoop.io.compress.Lz4Codec")
      val base = if (current.isEmpty) std else current.split(",").toSeq
      conf.set("io.compression.codecs", (base :+ ZstdCodecClass).mkString(","))
    }
  }

  /** COMPRESSED JSONL shards (`.json.gz` / `.json.zst` …) — how LLM
    * corpora actually ship between organizations (r12 judge task 5).
    * `codec` is a Hadoop codec short name Spark's json sink accepts
    * ("gzip", "bzip2", …) or a fully-qualified codec class
    * ([[ZstdCodecClass]] for zstd — see there for why not the short
    * name). The operational contract, spec-pinned in FormatsSpec:
    * gzip/zstd TEXT shards are NOT splittable — one task per shard file,
    * the WARC lesson (web/WarcScan.scala) — so shard SIZE is the
    * parallelism knob: write many ~64–128 MB shards (repartition before
    * writing), never one giant file, or a 1000-executor cluster reads
    * the corpus on one core. Reading back needs no codec option: the
    * extension selects the decompressor ([[ensureZstdReadable]] first
    * for `.zst`). */
  def writeJsonlCompressed(df: DataFrame, outDir: String, codec: String): Unit =
    df.write.mode("errorifexists").option("compression", codec).json(outDir)

  def readJsonl(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(dir)

  def writeCsv(df: DataFrame, outDir: String): Unit =
    df.write.mode("errorifexists")
      .option("header", "true")
      .option("quoteAll", "true")
      .option("escape", "\"")
      .csv(outDir)

  /** ORC: the OTHER columnar interchange beside parquet — corpora arrive
    * in it from Hive-era warehouses. Spark's native orc source gives the
    * same scale machinery parquet gets: predicate pushdown + column
    * pruning reach the scan (FormatsSpec locks `PushedFilters` on the
    * plan), splittable stripes, zstd compression. Lossless for arbitrary
    * text (binary-safe strings, no quoting layer to get wrong). */
  def writeOrc(df: DataFrame, outDir: String): Unit =
    df.write.mode("errorifexists").option("compression", "zstd").orc(outDir)

  def readOrc(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(dir)

  /** emptyValue "" is load-bearing: without it Spark's CSV reader maps a
    * quoted empty field to NULL (its default nullValue is the empty
    * string), so `""` does not round-trip. With it, empty strings
    * survive; a true NULL also comes back as "" — CSV fundamentally
    * conflates the two without a sentinel value that could collide with
    * real text (spec documents the trade; JSONL has no such ambiguity,
    * one more reason it is the recommended corpus format). */
  def readCsv(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("header", "true")
      .option("escape", "\"")
      .option("multiLine", "true")
      .option("emptyValue", "")
      // default nullValue is "" — it reclassifies the quoted empty field
      // back to NULL even with emptyValue set; point it at a sentinel no
      // real text contains (U+0000) so "" survives the round trip
      .option("nullValue", "\u0000")
      .csv(dir)

  // ------------------------------------------------------ q232 gate

  private val P = 1000000007L

  /** Adversarial round-trip suffix: quotes, backslash, an embedded
    * NEWLINE and TAB, accented text and a symbol — the characters each
    * quoting layer historically loses. */
  private[io] val RtSuffix =
    " \"quoted\" back\\slash\nline2\ttab \u00fcn\u00efc\u00f6d\u00e9 \u2603"

  /** Non-null text only, on BOTH engines: a NULL would round-trip
    * faithfully through JSONL/ORC but null-compare to 0 in n_ok (and
    * CSV reads a written NULL back as "" by the emptyValue trade), so
    * the gate pins the defined-text corpus and the oracle filters
    * identically. */
  private def planted(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        concat(col("text"), lit(RtSuffix)).as("text"))
  }

  /** q232: interchange round-trip at corpus scale — every document
    * (suffixed with the adversarial characters above) is WRITTEN to
    * real JSONL (plain, gzip-compressed, zstd-compressed), CSV and ORC
    * shard files and READ BACK; the census per
    * format binds row counts, an in-engine byte-equality audit against
    * the pre-write frame (n_ok), total characters, and a mod-prime md5
    * fingerprint of every recovered text. All five format rows must
    * carry IDENTICAL numbers — the lossless-interchange statement — and
    * the oracle reconstructs them from `documents` + the same suffix,
    * so a quoting/escaping/decompression defect in any one format breaks
    * exactly that format's row. (Parser independence is covered at spec
    * level; this gate pins the CONTENT through the whole file cycle.)
    *
    * Scale shape: five writes + five scans, all splittable except
    * multiLine CSV (documented trade in [[readCsv]]) and the compressed
    * JSONL shards (file-per-split — shard size is the parallelism knob,
    * [[writeJsonlCompressed]]); census aggregates
    * are map-side combined; recovered text never shuffles (the audit
    * joins on doc_id and only digests ride into the sum). */
  def interchangeRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    ensureZstdReadable(spark) // .zst shards resolve by extension on read
    val root = Layout.landOnce(spark, "interchange", dir) { p =>
      val df = planted(spark, dir)
      writeJsonl(df, s"$p/jsonl")
      writeJsonlCompressed(df, s"$p/jsonl_gz", "gzip")
      writeJsonlCompressed(df, s"$p/jsonl_zst", ZstdCodecClass)
      writeCsv(df, s"$p/csv")
      writeOrc(df, s"$p/orc")
    }
    val base = planted(spark, dir)
    // materialized once: three census branches join against it, and
    // without the checkpoint each branch would re-scan the corpus
    val expected = base.select(col("doc_id"), col("text").as("expect"))
      .localCheckpoint(false)
    val schema = base.schema
    def census(format: String, back: DataFrame): DataFrame =
      back.join(expected, Seq("doc_id"))
        .select(col("text"), (col("text") === col("expect")).as("ok"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_ok"),
          sum(length(col("text"))).cast("long").as("chars"),
          pmod(sum(pmod(graft.llm.Similarity.hash60(col("text")), lit(P))), lit(P))
            .as("fp_sum"))
        .select(lit(format).as("format"), col("n_docs"), col("n_ok"),
          col("chars"), col("fp_sum"))
    census("csv", readCsv(spark, s"$root/csv", schema))
      .unionByName(census("jsonl", readJsonl(spark, s"$root/jsonl", schema)))
      // compressed shards read through the SAME reader (codec from the
      // file extension) and must carry the identical census — the
      // "corpora ship as .jsonl.gz/.jsonl.zst" interchange gate
      .unionByName(census("jsonl_gz", readJsonl(spark, s"$root/jsonl_gz", schema)))
      .unionByName(census("jsonl_zst", readJsonl(spark, s"$root/jsonl_zst", schema)))
      .unionByName(census("orc", readOrc(spark, s"$root/orc", schema)))
      .orderBy(col("format"))
  }

  /** Oracle: one census from `documents` + the same suffix, replicated
    * across the three format rows — identical numbers by construction. */
  val interchangeRoundtripSql: String =
    s"""WITH e AS (
       |  SELECT text || ' "quoted" back\\slash' || chr(10) || 'line2'
       |    || chr(9) || 'tab ' || chr(252) || 'n' || chr(239) || 'c'
       |    || chr(246) || 'd' || chr(233) || ' ' || chr(9731) AS t
       |  FROM documents WHERE text IS NOT NULL
       |), c AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(COUNT(*) AS BIGINT) AS n_ok,
       |    CAST(SUM(length(t)) AS BIGINT) AS chars,  -- chars, not strlen: the suffix is non-ASCII
       |    CAST(SUM(CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % $P)
       |      % $P AS BIGINT) AS fp_sum
       |  FROM e
       |)
       |SELECT f.format, c.n_docs, c.n_ok, c.chars, c.fp_sum
       |FROM (VALUES ('csv'), ('jsonl'), ('jsonl_gz'), ('jsonl_zst'), ('orc'))
       |  f(format) CROSS JOIN c
       |ORDER BY f.format""".stripMargin

  def defs: Seq[graft.QueryDef] = Seq(
    graft.QueryDef("q232_interchange_roundtrip", interchangeRoundtrip,
      Some(interchangeRoundtripSql)))
}
