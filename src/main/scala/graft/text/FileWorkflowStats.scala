package graft.text

import graft.{QueryDef, Tables}
import graft.io.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-gated stats over the [[FileWorkflows]] twins (reference S3/D1/
  * U1/G6/M5 surfaces — `other_tasks.py:6-125`), closing the round-4/5
  * carry-over: the file workflows were spec-covered but invisible to the
  * driver's hash gate because their outputs are FILES, not frames. Each
  * query here runs a workflow on a deterministic fixture derived from the
  * `documents` table, then reduces the produced files to a tiny frame —
  * byte counts and an md5 of the exact output bytes — that DuckDB can
  * reconstruct from `documents` with pure string aggregation. A green row
  * is therefore a BYTE-EXACT check of the whole folder-in/file-out path
  * (naming, separators, trailing newlines, the split's empty-trailing-file
  * quirk), not just a row count.
  *
  * The fixture + workflow runs land once per (application, dir) through
  * `io.Layout.landOnce`: the queries measure reading the produced files,
  * and re-running a file workflow over a non-empty output dir is an error
  * by contract (reference K6).
  *
  * Frame-combining note: the one-row stats frames attach via
  * `crossJoin(broadcast(...))` — the whitelisted scalar-subquery shape
  * (a broadcast ONE-ROW aggregate, bounded by construction; an equi-join
  * on a literal key does not survive Catalyst, which constant-folds the
  * condition to `true` and plans the same nested-loop anyway). q120/q121
  * carry PlanHygieneSpec whitelist entries like q66/q71. */
object FileWorkflowStats {

  private def cleanText: org.apache.spark.sql.Column =
    regexp_replace(col("text"), "[\\r\\n]", " ")

  /** First `n` documents by doc_id, newline-free text. Deterministic and
    * DuckDB-reconstructible (`ORDER BY doc_id LIMIT n` + the same
    * regexp_replace). */
  private def docs(spark: SparkSession, dir: String, n: Int): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .orderBy(col("doc_id")).limit(n)
      .select(col("doc_id"), cleanText.as("clean"))

  private def joinedBody(d: DataFrame, sep: String, trailing: String) =
    d.agg(array_join(
        transform(array_sort(collect_list(struct(col("doc_id"), col("clean")))),
          x => x.getField("clean")), sep).as("j"))
      .select(encode(concat(col("j"), lit(trailing)), "UTF-8").as("data"))

  /** Build the fixtures and run all three workflows once per
    * (application, dir); returns the landed folder. The workflows write
    * through `java.nio`, so they get the folder's local path, not a URI. */
  private def ensureRuns(spark: SparkSession, dir: String): String =
    graft.io.Layout.landOnce(spark, "fw", dir) { p =>
      val root = p.toUri.getPath
      // merge fixture: one zero-padded file per doc (lexical order ==
      // doc_id order — the merge sorts by decoded filename)
      Sinks.writeFilePerRow(
        docs(spark, dir, 20).select(
          format_string("doc_%08d.txt", col("doc_id")).as("file_name"),
          encode(col("clean"), "UTF-8").as("data")),
        s"$root/merge_in")
      // dedup fixture: the first 100 docs' lines TWICE (pass 0 then pass
      // 1) so the first-occurrence dedup has real duplicates to remove —
      // a same-content fixture would make the oracle a pass-through
      val d100 = docs(spark, dir, 100)
      val doubled = d100.withColumn("pass", lit(0))
        .union(d100.withColumn("pass", lit(1)))
        .agg(array_join(
          transform(array_sort(collect_list(
            struct(col("pass"), col("doc_id"), col("clean")))),
            x => x.getField("clean")), "\n").as("j"))
        .select(lit("input.txt").as("file_name"),
          encode(concat(col("j"), lit("\n")), "UTF-8").as("data"))
      Sinks.writeFilePerRow(doubled, s"$root/dedup_in")
      Sinks.writeFilePerRow(
        joinedBody(docs(spark, dir, 100), "\n", "\n")
          .select(lit("input.txt").as("file_name"), col("data")),
        s"$root/split_in")
      FileWorkflows.mergeTextFolder(spark, s"$root/merge_in", s"$root/merge_out")
      FileWorkflows.removeDuplicatesFile(
        spark, s"$root/dedup_in/input.txt", s"$root/dedup_out")
      // linesPerFile=20 → ceil(20/2)=10 records per chunk; 100 % 10 == 0
      // exercises the reference's empty-trailing-file quirk (split_11)
      FileWorkflows.splitTextFile(
        spark, s"$root/split_in/input.txt", s"$root/split_out", linesPerFile = 20)
    }

  /** Attach a one-row aggregate to a one-row frame (scalar-subquery
    * shape; both sides bounded). */
  private def joinOne(a: DataFrame, b: DataFrame): DataFrame =
    a.crossJoin(broadcast(b))

  /** q120: merged_output.txt byte-exactness — file count from the input
    * listing, byte length and md5 of the merged file's exact bytes. */
  def mergeStats(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureRuns(spark, dir)
    val ins = spark.read.format("binaryFile").option("pathGlobFilter", "*.txt")
      .load(s"$root/merge_in")
      .agg(count(lit(1)).as("n_files"))
    val out = spark.read.format("binaryFile")
      .load(s"$root/merge_out/merged_output.txt")
      .select(length(col("content")).cast("long").as("n_bytes"),
        md5(col("content")).as("md5_hex"))
    joinOne(ins, out)
  }

  val mergeStatsSql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_replace(text, '[\r\n]', ' ', 'g') AS clean
      |  FROM documents WHERE text IS NOT NULL ORDER BY doc_id LIMIT 20
      |), m AS (
      |  SELECT string_agg(clean, chr(10) || chr(10) ORDER BY doc_id) AS s,
      |    COUNT(*) AS n_files
      |  FROM d
      |)
      |SELECT CAST(n_files AS BIGINT) AS n_files,
      |  CAST(strlen(s) AS BIGINT) AS n_bytes, md5(s) AS md5_hex
      |FROM m""".stripMargin

  /** q121: first-occurrence line dedup — input/output line counts plus
    * byte length and md5 of the purged file's exact bytes. */
  def dedupStats(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureRuns(spark, dir)
    val ins = spark.read.text(s"$root/dedup_in/input.txt")
      .agg(count(lit(1)).as("n_lines_in"))
    val out = spark.read.format("binaryFile")
      .load(s"$root/dedup_out/input_purged.txt")
      .select(decode(col("content"), "UTF-8").as("s"), col("content"))
      .select(
        (octet_length(col("s")) -
          octet_length(expr("replace(s, chr(10), '')"))).cast("long")
          .as("n_lines_out"),
        length(col("content")).cast("long").as("n_bytes"),
        md5(col("content")).as("md5_hex"))
    joinOne(ins, out)
  }

  val dedupStatsSql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_replace(text, '[\r\n]', ' ', 'g') AS clean
      |  FROM documents WHERE text IS NOT NULL ORDER BY doc_id LIMIT 100
      |), u AS (
      |  SELECT clean, MIN(doc_id) AS fid FROM d GROUP BY clean
      |), s AS (
      |  SELECT string_agg(clean, chr(10) ORDER BY fid) || chr(10) AS body FROM u
      |)
      |SELECT (SELECT CAST(2 * COUNT(*) AS BIGINT) FROM d) AS n_lines_in,
      |  CAST(strlen(body) - strlen(replace(body, chr(10), '')) AS BIGINT) AS n_lines_out,
      |  CAST(strlen(body) AS BIGINT) AS n_bytes, md5(body) AS md5_hex
      |FROM s""".stripMargin

  /** q122: split chunks — one row per produced file (including the
    * empty trailing chunk the reference's rollover leaves behind), byte
    * length and md5 of each chunk's exact bytes.
    *
    * The row set comes from an FS LISTING, not the binaryFile scan:
    * Spark's file sources silently skip zero-length files at planning, so
    * a scan-driven frame would lose exactly the empty-trailing-file quirk
    * this query exists to check. The listing is the shard-manifest
    * pattern — bounded by the file count (⌈N/perChunk⌉+1), driver-side
    * metadata only — with contents equi-joined back from the scan. */
  def splitStats(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureRuns(spark, dir)
    import spark.implicits._
    val outPath = new org.apache.hadoop.fs.Path(s"$root/split_out")
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = fs.listStatus(outPath).filter(_.isFile)
      .map(st => (st.getPath.getName, st.getLen)).toSeq
      .toDF("name", "n_bytes")
    val contents = spark.read.format("binaryFile").option("pathGlobFilter", "*.txt")
      .load(s"$root/split_out")
      .select(element_at(split(col("path"), "/"), -1).as("name"),
        md5(col("content")).as("content_md5"))
    listed.join(contents, Seq("name"), "left")
      .select(
        regexp_extract(col("name"), "split_(\\d+)\\.txt", 1).cast("long").as("chunk"),
        col("n_bytes").cast("long").as("n_bytes"),
        // md5 of zero bytes — the scan never yields the empty file's row
        coalesce(col("content_md5"),
          lit("d41d8cd98f00b204e9800998ecf8427e")).as("md5_hex"))
      .orderBy(col("chunk"))
  }

  val splitStatsSql: String =
    """WITH d0 AS (
      |  SELECT doc_id, regexp_replace(text, '[\r\n]', ' ', 'g') AS clean
      |  FROM documents WHERE text IS NOT NULL ORDER BY doc_id LIMIT 100
      |), d AS (
      |  SELECT clean, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn FROM d0
      |), c AS (
      |  SELECT ((rn - 1) // 10) + 1 AS chunk,
      |    string_agg(clean || chr(10) || chr(10), '' ORDER BY rn) AS body
      |  FROM d GROUP BY 1
      |)
      |SELECT CAST(chunk AS BIGINT) AS chunk,
      |  CAST(strlen(body) AS BIGINT) AS n_bytes, md5(body) AS md5_hex
      |FROM c
      |UNION ALL
      |SELECT CAST((SELECT COUNT(*) FROM d0) // 10 + 1 AS BIGINT), 0, md5('')
      |WHERE (SELECT COUNT(*) FROM d0) % 10 = 0
      |ORDER BY chunk""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q120_file_merge_oracle",
      (s, d) => mergeStats(s, d), Some(mergeStatsSql)),
    QueryDef("q121_file_dedup_oracle",
      (s, d) => dedupStats(s, d), Some(dedupStatsSql)),
    QueryDef("q122_file_split_oracle",
      (s, d) => splitStats(s, d), Some(splitStatsSql)))
}
