package graft.io

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

import java.io.IOException
import java.nio.file.{Files, Path, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.jdk.CollectionConverters._

/** Sinks the reference needs that Spark lacks natively (SURVEY.md §2.6).
  *
  * Spark's writers emit part-files; the reference emits ONE file per row
  * (tile images + caption sidecars, `/root/reference/modules/tiling.py:64-75`).
  * `writeFilePerRow` does that with one mapPartitions action — executors
  * write concurrently and return only their file counts. Destinations are
  * computed per-row upstream, so routing (e.g. compatible vs incompatible
  * folders, `filter_crop.py:49-63`) is a column, not a mutation of inputs.
  */
object Sinks {

  /** Reference K6 precondition (`modules/utils.py:11-16`): output folder
    * must exist and be empty — the SaveMode.ErrorIfExists semantic. */
  def requireEmptyDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) { Files.createDirectories(p); return }
    if (!Files.isDirectory(p)) throw new IOException(s"$dir is not a directory")
    val it = Files.list(p)
    try if (it.iterator().hasNext)
      throw new IOException(s"Output folder $dir is not empty")
    finally it.close()
  }

  /** One file per row: df must have (fileName STRING, data BINARY) columns.
    * Rows with a null name or null data (decode failures upstream) are
    * skipped — the reference's per-file try/except-continue. Returns the
    * number of files written, counted by the same job that writes them:
    * each partition yields its count, summed after `collect`. */
  def writeFilePerRow(df: DataFrame, outDir: String,
                      fileCol: String = "file_name", dataCol: String = "data"): Long = {
    val out = outDir // avoid capturing `this`
    df.select(fileCol, dataCol).mapPartitions { (rows: Iterator[Row]) =>
      val base = Paths.get(out)
      Files.createDirectories(base)
      var written = 0L
      rows.foreach { r =>
        val name = r.getString(0)
        val data = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (name != null && data != null) {
          val target = base.resolve(name).normalize()
          require(target.startsWith(base), s"path escape: $name")
          Files.write(target, data)
          written += 1
        }
      }
      Iterator.single(written)
    }(Encoders.scalaLong).collect().sum
  }

  /** Java `String.trim` non-emptiness as a column: some char above U+0020. */
  private def nonBlank(text: Column): Column =
    length(regexp_replace(text, "[\\x00-\\x20]", "")) > 0

  /** Sidecar text files: (fileName STRING, text STRING) written as UTF-8;
    * blank text rows are skipped (reference writes captions only when
    * non-empty, `tiling.py:71-75`). Returns the number of files written. */
  def writeTextPerRow(df: DataFrame, outDir: String,
                      fileCol: String = "file_name", textCol: String = "text"): Long =
    writeFilePerRow(df.select(col(fileCol).as("file_name"),
      when(nonBlank(col(textCol)), encode(col(textCol), "UTF-8")).as("data")), outDir)

  /** Reference K5 ZIP sink (`tiling.py:96-108`): zip every file in a folder,
    * flattened arcnames, excluding the zip itself. Driver-side packaging of
    * an already-written output — not dataflow. */
  def zipDir(dir: String, zipName: String = "output.zip"): Path = {
    val base = Paths.get(dir)
    val zipPath = base.resolve(zipName)
    val zos = new ZipOutputStream(Files.newOutputStream(zipPath))
    try {
      val files = Files.walk(base).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p != zipPath)
        .toSeq.sortBy(_.getFileName.toString)
      files.foreach { p =>
        zos.putNextEntry(new ZipEntry(p.getFileName.toString)) // flattened
        Files.copy(p, zos)
        zos.closeEntry()
      }
    } finally zos.close()
    zipPath
  }

  /** Reference K3 merged single file: a one-partition text write + rename.
    * Only for genuinely small merged outputs (the reference's use case);
    * large outputs should stay multi-part. */
  def writeMergedText(df: DataFrame, outFile: String, textCol: String = "value"): Unit = {
    val tmp = outFile + ".spark-tmp"
    df.select(textCol).coalesce(1).write.mode("overwrite").text(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.head
    Files.createDirectories(Paths.get(outFile).toAbsolutePath.getParent)
    Files.move(part, Paths.get(outFile),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // clean temp dir
    Files.walk(Paths.get(tmp)).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  /** Reference K4 chunked files: partitionBy(chunk) text write — each chunk
    * directory holds that chunk's records, parallel-safe at any scale.
    * Record format matches the reference's splitter, which writes
    * `line.rstrip("\n") + "\n\n"` (`other_tasks.py:87`): each record is
    * followed by a blank line, so we append one "\n" to the value and let
    * the text sink add the terminating newline. */
  def writeChunkedText(df: DataFrame, outDir: String,
                       chunkCol: String = "chunk", textCol: String = "value"): Unit = {
    df.select(col(chunkCol), concat(col(textCol), lit("\n")).as(textCol))
      .write.mode("errorifexists").partitionBy(chunkCol).text(outDir)
  }

  /** q119's file sink: materialize a TRAINING-ORDER frame (doc_id,
    * shard_id, pos — `text.CorpusStats.trainingOrder`'s output joined
    * back to the doc text) as one file per shard, docs concatenated in
    * `pos` order with the "\n\n" record separator. Returns the manifest
    * (one row per written shard). Each shard holds ≤ ShufDocsPerShard
    * docs by construction, so the per-group collect_list is bounded; the
    * one-pass groupBy is the distributed shape (each shard assembles in
    * exactly one task, shards spread across the cluster). All-blank
    * shards are dropped under writeTextPerRow's non-blank guard, same
    * accounting rule as [[writePackedShards]]. */
  def writeTrainingShards(ordered: DataFrame, outDir: String): DataFrame = {
    val shards = ordered
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("text")))),
            s => s.getField("text")),
          "\n\n").as("shard_text"))
      .withColumn("shard_file",
        concat(lit("train_shard"), col("shard_id"), lit(".txt")))
      .filter(nonBlank(col("shard_text")))
      .localCheckpoint(true)
    writeTextPerRow(shards, outDir, fileCol = "shard_file", textCol = "shard_text")
    shards.select(col("shard_id"), col("shard_file"), col("n_docs"), col("first_doc"))
      .orderBy(col("shard_id"))
  }

  /** Training-shard sink: pack `(doc_id, source, text)` documents into
    * token-budget shards (q63's contiguous-cumsum bin assignment — each
    * source packs independently, in doc_id order), write ONE text file
    * per shard (docs joined by "\n\n", the reference's record separator),
    * and return the MANIFEST — the table a downstream trainer reads
    * instead of listing directories: one row per shard with its file
    * name, doc range and token count.
    *
    * Shard text is assembled with the bounded-group guarantee the token
    * budget provides (a shard holds ≤ budget tokens plus the one doc that
    * straddles the boundary — collect_list is safe by construction, no
    * separate guard pass needed). The shard frame is checkpointed ONCE so
    * the written files and the returned manifest come from the same
    * materialization (at 100 TB, trade the cache for a recompute — the
    * plan is deterministic either way). */
  def writePackedShards(docs: DataFrame, outDir: String,
                        tokensPerShard: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.text.TextOps.tokens(col("text"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val shards = docs
      .select(col("doc_id"), col("source"), col("text"),
        size(toks).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin_id", expr(s"greatest(cum - 1, 0L) div $tokensPerShard"))
      .groupBy(col("source"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        array_join(
          transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
            s => s.getField("text")),
          "\n\n").as("shard_text"))
      .withColumn("shard_file",
        concat(col("source"), lit("_shard"), col("bin_id"), lit(".txt")))
      // An all-blank shard (every doc empty/whitespace — token-free docs
      // exist) would be SKIPPED by writeTextPerRow's non-blank guard while
      // still appearing in the manifest: a manifest row pointing at a file
      // that does not exist. Such shards carry zero tokens, so dropping
      // them keeps the manifest's token accounting exact AND every listed
      // file real (spec asserts both). Same predicate as the guard.
      .filter(nonBlank(col("shard_text")))
      .localCheckpoint(true)
    writeTextPerRow(shards, outDir, fileCol = "shard_file", textCol = "shard_text")
    shards.select(col("source"), col("bin_id"), col("shard_file"),
        col("n_docs"), col("n_tokens"), col("first_doc"), col("last_doc"))
      .orderBy(col("source"), col("bin_id"))
  }
}
