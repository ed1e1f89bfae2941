package graft.text

import graft.io.Sinks
import org.apache.hadoop.fs.{FileStatus, GlobFilter, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8

/** File-level twins of the reference's text entry points — the exact
  * folder-in/file-out workflows a user of the reference runs, built on
  * the table-level operators (which the oracle checks at scale):
  *
  *  - [[mergeTextFolder]]  ← `merge_text_files` (`other_tasks.py:6-26`)
  *  - [[removeDuplicatesFile]] ← `remove_duplicates` (`other_tasks.py:100-125`)
  *  - [[splitTextFile]]    ← `split_jsonl` (`other_tasks.py:69-98`)
  *
  * Outputs are byte-exact vs the reference (spec-verified against an
  * inline reimplementation of the Python loops) with one documented
  * deviation: the reference iterates `os.listdir` (OS-dependent order);
  * we merge in SORTED filename order so results are deterministic
  * everywhere. Inputs are assumed newline-terminated (POSIX text files) —
  * the reference's own outputs always are.
  *
  * Scale shape: each workflow is one task and one job, since each output
  * file is one row and the reference's one-file contract puts the whole
  * input behind it. Merge reads the folder's files as wholetext rows,
  * lists them without a Spark job and aggregates them in one partition
  * (the size guard bounds that partition, as TextOps.requireBoundedGroups
  * does per source). Dedup and split read their ONE file as one
  * wholetext row and work on its line array where it lies.
  */
object FileWorkflows {

  /** The one-file contract of dedup and split: their line ids and chunk
    * numbers are ordinals within ONE file, so a directory or a glob
    * matching several files would collide them. Returns that file's
    * status; fails naming the path otherwise. */
  private def requireOneFile(spark: SparkSession, path: String): FileStatus = {
    val p = new Path(path)
    val matches = Option(p.getFileSystem(spark.sparkContext.hadoopConfiguration).globStatus(p))
      .getOrElse(Array.empty[FileStatus])
    matches match {
      case Array(one) if one.isFile => one
      case Array(_) => throw new IllegalArgumentException(
        s"$path is a directory; expected exactly one regular file")
      case _ => throw new IllegalArgumentException(
        s"$path matches ${matches.length} paths; expected exactly one regular file")
    }
  }

  /** `input_file_name()` is a percent-ENCODED URI — sorting it directly
    * would order `a b.txt` after `a!b.txt` (%20 > !). Decode to the real
    * filename first. java.net.URI decoding (not URLDecoder, which eats
    * `+` as space). */
  private val decodedName = udf { (uri: String) =>
    val path = try new java.net.URI(uri).getPath catch { case _: Exception => uri }
    path.substring(path.lastIndexOf('/') + 1)
  }

  /** Concatenate the `*.txt` files of `inDir` (sorted filename order) with
    * a blank-line separator into `outDir/merged_output.txt` (empty when
    * there are none, as the reference's is).
    *
    * The filter's character classes match any case of the extension
    * (`a.TXT`, `a.Txt`, …), mirroring the reference's
    * `fname.lower().endswith(".txt")` (`other_tasks.py:16`).
    *
    * Like the reference's `os.listdir`, only the folder's own files are
    * read; other subdirectories are skipped. A subdirectory named `*.txt`
    * is refused — the reference's `open` fails on it — and so is one named
    * `k=v`, which would make Spark read the folder as a partitioned table.
    *
    * The whole folder becomes ONE output row, so the merge guard runs
    * first: a folder whose total payload exceeds `maxBytes` fails fast
    * with the folder named instead of OOM-ing the executor that would
    * have collected it (same policy as TextOps.mergePerSource). */
  def mergeTextFolder(spark: SparkSession, inDir: String, outDir: String,
                      maxBytes: Long = 256L << 20): String = {
    Sinks.requireEmptyDir(outDir)
    val pattern = "*.[tT][xX][tT]"
    // Size guard from file METADATA, not a data pass: a wholetext row's
    // octet_length equals the file's byte length, so summing FileStatus
    // lengths is the same bound at listing cost — the payload is read
    // exactly once (by the merge itself). It sees the files the reader
    // reads: the folder's top-level files that `pathGlobFilter` (a Hadoop
    // GlobFilter) accepts. Like any listing-based bound, files appended
    // between this check and the merge read escape it — same TOCTOU
    // window the reference's sequential loop has.
    val dir = new Path(inDir)
    val statuses = dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
    val txt = new GlobFilter(pattern)
    // Names HIDDEN to Spark's file reader are skipped even when the
    // filter matches them — the guard must skip them too or a large
    // _backup.txt would abort a merge whose actual read payload is tiny.
    // The rule that decides what the reader treats as DATA is
    // PartitioningAwareFileIndex.isDataPath (verified against the Spark
    // 4.1 bytecode, and empirically in the spec): hidden iff
    // (`_`-prefixed AND not containing '=') OR `.`-prefixed. Note this is
    // NOT HadoopFSUtils.shouldFilterOutPathName — that listing-time rule
    // exempts `_metadata*`, but such files are still excluded as DATA, so
    // they must not count toward the bound (a spec plants one and proves
    // the reader skips it); `_`-names containing '=' ARE data and count.
    def hidden(p: Path): Boolean = {
      val n = p.getName
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    }
    val visible = statuses.filterNot(st => hidden(st.getPath))
    visible.find(st => st.isDirectory &&
        (txt.accept(st.getPath) || st.getPath.getName.contains("=")))
      .foreach(st => throw new IllegalStateException(
        s"merge input $inDir has a subdirectory ${st.getPath.getName}; " +
          "expected its *.txt entries to be files"))
    val totalBytes =
      visible.filter(st => st.isFile && txt.accept(st.getPath)).map(_.getLen + 2L).sum
    if (totalBytes > maxBytes)
      throw new IllegalStateException(
        s"merge groups exceed $maxBytes bytes: $inDir=${totalBytes}B — " +
          "split the source or raise the bound")
    // One root path, so Spark lists it in-process (a glob expanding to
    // more than 32 paths is listed by a Spark job); coalesce(1) puts the
    // rows where the global aggregate needs them, with no exchange.
    val joined = spark.read.option("wholetext", "true").option("pathGlobFilter", pattern)
      .text(inDir)
      .select(decodedName(input_file_name()).as("file"), col("value"))
      .coalesce(1)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("file"), col("value")))),
          x => x.getField("value")),
        "\n\n").as("merged"))
      .select(lit("merged_output.txt").as("file_name"),
        encode(col("merged"), "UTF-8").as("data"))
    Sinks.writeFilePerRow(joined, outDir)
    s"$outDir/merged_output.txt"
  }

  /** First-occurrence line dedup of one text file into
    * `outDir/{name}_purged{ext}` — the reference's `seen`-set loop is
    * `array_distinct` over the file's lines, which keeps first occurrences
    * in order. The file is one wholetext row, so this is one task and one
    * job. `inFile` must be exactly one file. */
  def removeDuplicatesFile(spark: SparkSession, inFile: String, outDir: String): String = {
    val file = requireOneFile(spark, inFile)
    Sinks.requireEmptyDir(outDir)
    val base = new java.io.File(inFile).getName
    val dot = base.lastIndexOf('.')
    val outName =
      if (dot >= 0) base.substring(0, dot) + "_purged" + base.substring(dot)
      else base + "_purged"
    val purged =
      if (file.getLen == 0) // Spark's file sources skip an empty file
        spark.range(1).select(lit(outName).as("file_name"), lit("\n".getBytes(UTF_8)).as("data"))
      else spark.read.option("wholetext", "true").text(inFile)
        .select(lit(outName).as("file_name"),
          encode(concat(array_join(array_distinct(TextOps.fileLines(col("value"))), "\n"),
            lit("\n")), "UTF-8").as("data"))
    Sinks.writeFilePerRow(purged, outDir)
    s"$outDir/$outName"
  }

  /** Split one text file into `outDir/split_{k}.txt` chunks: the
    * reference counts +2 per record (record + blank line) and rolls the
    * file at `linesPerFile`, i.e. ceil(linesPerFile/2) records per chunk;
    * every record is written as `line + "\n\n"`. The file is one
    * wholetext row, so chunk k is the slice of its line array starting at
    * line k·perChunk — one pass, no numbering shuffle. Returns the number
    * of files written.
    *
    * Exact-fill quirk, matched byte-for-byte: when the last record
    * exactly fills a chunk (or the input is empty), the reference's
    * rollover has already opened the NEXT file, so an empty
    * `split_{k+1}.txt` exists on disk and is counted in the result
    * (`other_tasks.py:88-95`: the counter resets, `file_count` is
    * incremented and the file is opened before the loop ends). Hence
    * n div perChunk + 1 chunks for n lines, the last one possibly empty. */
  def splitTextFile(spark: SparkSession, inFile: String, outDir: String,
                    linesPerFile: Int): Long = {
    val file = requireOneFile(spark, inFile)
    Sinks.requireEmptyDir(outDir)
    val perChunk = math.max(1, math.ceil(linesPerFile / 2.0).toInt)
    val chunks =
      if (file.getLen == 0) // Spark's file sources skip an empty file
        spark.range(1).select(lit("split_1.txt").as("file_name"),
          lit(Array.emptyByteArray).as("data"))
      else spark.read.option("wholetext", "true").text(inFile)
        .select(TextOps.fileLines(col("value")).as("lines"))
        .select(col("lines"),
          explode(sequence(lit(0), expr(s"size(lines) div $perChunk").cast("int"))).as("chunk"))
        .select(format_string("split_%d.txt", col("chunk") + 1).as("file_name"),
          // records + one empty string: "a\n\nb\n\n" for [a, b], "" for []
          encode(array_join(concat(
            slice(col("lines"), col("chunk") * perChunk + 1, lit(perChunk)),
            array(lit(""))), "\n\n"), "UTF-8").as("data"))
    Sinks.writeFilePerRow(chunks, outDir)
  }
}
