package graft.text

import graft.SparkSpec

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Byte-exact parity with the reference's file workflows: each test
  * reimplements the Python loop inline (the model) and compares output
  * files byte-for-byte. */
class FileWorkflowsSpec extends SparkSpec {

  private def tmp(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  private def bytes(p: Path): Seq[Byte] = Files.readAllBytes(p).toSeq

  test("mergeTextFolder == reference merge_text_files (sorted file order)") {
    val in = tmp("fw-merge-in")
    val contents = Map(
      "a.txt" -> "alpha line 1\nalpha line 2\n",
      "b.txt" -> "bravo\n",
      "c.txt" -> "charlie 1\n\ncharlie 3\n") // interior blank line survives
    contents.foreach { case (n, c) => Files.write(in.resolve(n), c.getBytes(UTF_8)) }
    Files.write(in.resolve("ignored.md"), "not a txt\n".getBytes(UTF_8))
    val outDir = tmp("fw-merge-out").resolve("out")
    val outFile = FileWorkflows.mergeTextFolder(spark, in.toString, outDir.toString)
    // reference model: concat file DATA with "\n\n" between files
    val model = contents.toSeq.sortBy(_._1).map(_._2).mkString("\n\n")
    assert(bytes(java.nio.file.Paths.get(outFile)) == model.getBytes(UTF_8).toSeq)
  }

  test("removeDuplicatesFile == reference remove_duplicates (order + count)") {
    val in = tmp("fw-dedup-in").resolve("input.txt")
    val lines = Seq("a", "b", "a", "c", "b", "a", "", "d", "")
    Files.write(in, (lines.mkString("\n") + "\n").getBytes(UTF_8))
    val outDir = tmp("fw-dedup-out").resolve("out")
    val outFile = FileWorkflows.removeDuplicatesFile(spark, in.toString, outDir.toString)
    assert(outFile.endsWith("input_purged.txt"))
    // reference model: seen-set over "line\n" strings, first occurrence wins
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    lines.foreach(seen.add)
    val model = seen.toSeq.mkString("\n") + "\n"
    assert(bytes(java.nio.file.Paths.get(outFile)) == model.getBytes(UTF_8).toSeq)
    // a blank LAST line is a record too (readlines gives ["a\n", "\n"])
    val blankIn = tmp("fw-dedup-blank-in").resolve("input.txt")
    Files.write(blankIn, "a\n\n".getBytes(UTF_8))
    val blankOut = FileWorkflows.removeDuplicatesFile(
      spark, blankIn.toString, tmp("fw-dedup-blank-out").resolve("out").toString)
    assert(bytes(java.nio.file.Paths.get(blankOut)) == "a\n\n".getBytes(UTF_8).toSeq)
  }

  test("splitTextFile == reference split_jsonl (ceil(N/2) records, blank-line records)") {
    val in = tmp("fw-split-in").resolve("input.txt")
    val lines = (1 to 7).map(i => s"""{"id": $i}""")
    Files.write(in, (lines.mkString("\n") + "\n").getBytes(UTF_8))
    val outDir = tmp("fw-split-out").resolve("out")
    val nFiles = FileWorkflows.splitTextFile(spark, in.toString, outDir.toString, linesPerFile = 4)
    // reference model: counter += 2 per record, roll at 4 → 2 records/file
    val modelChunks = lines.grouped(2).map(_.map(_ + "\n\n").mkString).toSeq
    assert(nFiles == modelChunks.size)
    modelChunks.zipWithIndex.foreach { case (body, i) =>
      val f = outDir.resolve(s"split_${i + 1}.txt")
      assert(Files.exists(f), s"missing ${f.getFileName}")
      assert(bytes(f) == body.getBytes(UTF_8).toSeq, s"chunk ${i + 1} bytes differ")
    }
    // split ∘ re-merge preserves the record multiset (separator round-trip)
    val back = (1 to nFiles.toInt).flatMap { i =>
      new String(Files.readAllBytes(outDir.resolve(s"split_$i.txt")), UTF_8)
        .split("\n\n").filter(_.nonEmpty).toSeq
    }
    assert(back.sorted == lines.sorted)
    // a blank LAST line is a record too: records ["a", ""] fill the first
    // 2-record chunk exactly, so an empty split_2.txt follows
    val blankIn = tmp("fw-split-blank-in").resolve("input.txt")
    Files.write(blankIn, "a\n\n".getBytes(UTF_8))
    val blankOut = tmp("fw-split-blank-out").resolve("out")
    assert(FileWorkflows.splitTextFile(
      spark, blankIn.toString, blankOut.toString, linesPerFile = 4) == 2)
    assert(bytes(blankOut.resolve("split_1.txt")) == "a\n\n\n\n".getBytes(UTF_8).toSeq)
    assert(bytes(blankOut.resolve("split_2.txt")).isEmpty)
  }

  test("splitTextFile exact fill leaves a counted trailing empty file (reference rollover)") {
    val in = tmp("fw-splitx-in").resolve("input.txt")
    val lines = (1 to 8).map(i => s"line $i")
    Files.write(in, (lines.mkString("\n") + "\n").getBytes(UTF_8))
    val outDir = tmp("fw-splitx-out").resolve("out")
    // 8 lines at 4 records/file (linesPerFile=8 → counter rolls at 8 =
    // 4 records): the reference's rollover fires on the LAST record too,
    // opening (and counting) an empty split_3.txt — other_tasks.py:88-95
    val nFiles = FileWorkflows.splitTextFile(spark, in.toString, outDir.toString, linesPerFile = 8)
    assert(nFiles == 3)
    val full = lines.grouped(4).map(_.map(_ + "\n\n").mkString).toSeq
    full.zipWithIndex.foreach { case (body, i) =>
      assert(bytes(outDir.resolve(s"split_${i + 1}.txt")) == body.getBytes(UTF_8).toSeq)
    }
    assert(Files.exists(outDir.resolve("split_3.txt")), "trailing empty file missing")
    assert(bytes(outDir.resolve("split_3.txt")).isEmpty, "trailing file must be empty")
  }

  test("mergeTextFolder matches any case of the .txt extension (reference lower())") {
    val in = tmp("fw-case-in")
    val contents = Map(
      "A.TXT" -> "upper\n",
      "b.Txt" -> "mixed\n",
      "c.txt" -> "lower\n")
    contents.foreach { case (n, c) => Files.write(in.resolve(n), c.getBytes(UTF_8)) }
    val outDir = tmp("fw-case-out").resolve("out")
    val outFile = FileWorkflows.mergeTextFolder(spark, in.toString, outDir.toString)
    val model = contents.toSeq.sortBy(_._1).map(_._2).mkString("\n\n")
    assert(bytes(java.nio.file.Paths.get(outFile)) == model.getBytes(UTF_8).toSeq)
  }

  test("mergeTextFolder fails fast (naming the folder) before collecting an oversized folder") {
    val in = tmp("fw-big-in")
    Files.write(in.resolve("big.txt"), ("x" * 4096 + "\n").getBytes(UTF_8))
    val outDir = tmp("fw-big-out").resolve("out")
    val e = intercept[IllegalStateException] {
      FileWorkflows.mergeTextFolder(spark, in.toString, outDir.toString, maxBytes = 1024L)
    }
    assert(e.getMessage.contains(in.toString), s"folder not named in: ${e.getMessage}")
  }

  test("mergeTextFolder guard agrees with Spark's data-file rule (isDataPath), both directions") {
    // Spark's DATA selection (PartitioningAwareFileIndex.isDataPath)
    // hides `_`/`.`-prefixed names — including `_metadata.txt`, despite
    // the listing-time HadoopFSUtils exemption — but `_`-names containing
    // '=' ARE data. The guard must agree in BOTH directions or it either
    // spuriously aborts tiny merges or waves through OOM-sized ones.
    val in = tmp("fw-hidden-in")
    Files.write(in.resolve("a.txt"), "visible\n".getBytes(UTF_8))
    Files.write(in.resolve("_backup.txt"), ("z" * 4096 + "\n").getBytes(UTF_8))
    Files.write(in.resolve("_metadata.txt"), ("m" * 4096 + "\n").getBytes(UTF_8))
    val outDir = tmp("fw-hidden-out").resolve("out")
    // succeeds under a bound either hidden file would blow: guard skipped
    // them, and the reader proves it right — no 'z'/'m' payload in output
    val outFile = FileWorkflows.mergeTextFolder(spark, in.toString, outDir.toString,
      maxBytes = 1024L)
    assert(bytes(java.nio.file.Paths.get(outFile)) == "visible\n".getBytes(UTF_8).toSeq)

    // the '=' exemption: `_v=2.txt` IS data → must count toward the bound
    val in2 = tmp("fw-eq-in")
    Files.write(in2.resolve("a.txt"), "visible\n".getBytes(UTF_8))
    Files.write(in2.resolve("_v=2.txt"), ("e" * 4096 + "\n").getBytes(UTF_8))
    val e = intercept[IllegalStateException] {
      FileWorkflows.mergeTextFolder(spark, in2.toString,
        tmp("fw-eq-out1").resolve("out").toString, maxBytes = 1024L)
    }
    assert(e.getMessage.contains(in2.toString))
    // and the reader really reads it: unrestricted merge contains it
    val outFile2 = FileWorkflows.mergeTextFolder(spark, in2.toString,
      tmp("fw-eq-out2").resolve("out").toString)
    val merged = new String(Files.readAllBytes(java.nio.file.Paths.get(outFile2)), UTF_8)
    assert(merged.contains("eee"), "_v=2.txt was not read — guard premise broken")
    assert(merged.contains("visible"))
  }

  test("mergeTextFolder guard counts the CONTENTS of a directory matching the glob") {
    // a directory named *.txt matches the glob; spark.read.text reads the
    // files inside it, so the guard must bound those bytes, not the
    // directory's ~0-byte metadata length
    val in = tmp("fw-dirglob-in")
    val dir = in.resolve("nested.txt")
    Files.createDirectory(dir)
    Files.write(dir.resolve("payload.txt"), ("y" * 4096 + "\n").getBytes(UTF_8))
    val outDir = tmp("fw-dirglob-out").resolve("out")
    val e = intercept[IllegalStateException] {
      FileWorkflows.mergeTextFolder(spark, in.toString, outDir.toString, maxBytes = 1024L)
    }
    assert(e.getMessage.contains(in.toString), s"folder not named in: ${e.getMessage}")
  }

  test("removeDuplicatesFile refuses a directory or a multi-file glob (one-file contract)") {
    val dir = tmp("fw-dedup-many")
    Seq("a.txt", "b.txt").foreach(n => Files.write(dir.resolve(n), "x\ny\n".getBytes(UTF_8)))
    for (in <- Seq(dir.toString, s"$dir/*.txt")) {
      val e = intercept[IllegalArgumentException] {
        FileWorkflows.removeDuplicatesFile(spark, in, tmp("fw-dedup-many-out").resolve("out").toString)
      }
      assert(e.getMessage.contains(in) && e.getMessage.contains("exactly one regular file"),
        e.getMessage)
    }
  }

  test("splitTextFile refuses a directory or a multi-file glob (one-file contract)") {
    val dir = tmp("fw-split-many")
    Seq("a.txt", "b.txt").foreach(n => Files.write(dir.resolve(n), "x\ny\n".getBytes(UTF_8)))
    for (in <- Seq(dir.toString, s"$dir/*.txt", s"$dir/missing.txt")) {
      val out = tmp("fw-split-many-out").resolve("out")
      val e = intercept[IllegalArgumentException] {
        FileWorkflows.splitTextFile(spark, in, out.toString, linesPerFile = 4)
      }
      assert(e.getMessage.contains(in) && e.getMessage.contains("exactly one regular file"),
        e.getMessage)
      assert(!Files.exists(out), "nothing may be written for a refused input")
    }
  }

  test("splitTextFile of an empty file writes one empty split_1.txt (reference rollover)") {
    val in = tmp("fw-split-empty-in").resolve("input.txt")
    Files.write(in, Array.emptyByteArray)
    val outDir = tmp("fw-split-empty-out").resolve("out")
    assert(FileWorkflows.splitTextFile(spark, in.toString, outDir.toString, linesPerFile = 4) == 1)
    assert(Files.list(outDir).iterator().asScala.map(_.getFileName.toString).toSeq == Seq("split_1.txt"))
    assert(bytes(outDir.resolve("split_1.txt")).isEmpty)
  }

  test("removeDuplicatesFile of an empty file writes a single newline") {
    // Spark's reader skips an empty file; the output is what a global
    // aggregate over zero lines gave: an empty join plus the final "\n"
    val in = tmp("fw-dedup-empty-in").resolve("input.txt")
    Files.write(in, Array.emptyByteArray)
    val outDir = tmp("fw-dedup-empty-out").resolve("out")
    val outFile = FileWorkflows.removeDuplicatesFile(spark, in.toString, outDir.toString)
    assert(Files.list(outDir).iterator().asScala.map(_.getFileName.toString).toSeq ==
      Seq("input_purged.txt"))
    assert(bytes(java.nio.file.Paths.get(outFile)) == "\n".getBytes(UTF_8).toSeq)
  }

  test("mergeTextFolder of a folder with no *.txt file writes an empty merged file") {
    // the reference opens its output file and writes nothing into it
    val in = tmp("fw-none-in")
    Files.write(in.resolve("notes.md"), "notes\n".getBytes(UTF_8))
    val outFile = FileWorkflows.mergeTextFolder(spark, in.toString,
      tmp("fw-none-out").resolve("out").toString)
    assert(bytes(java.nio.file.Paths.get(outFile)).isEmpty)
  }

  test("mergeTextFolder reads the folder's own files: a *.txt or k=v subdirectory is refused") {
    // the reference's os.listdir + open: other subdirectories are skipped,
    // and open() fails on a directory named *.txt — refused here before
    // any read, whatever it holds (notes.md included)
    val in = tmp("fw-subdir-in")
    Files.write(in.resolve("a.txt"), "top\n".getBytes(UTF_8))
    val sub = Files.createDirectory(in.resolve("sub"))
    Files.write(sub.resolve("s.txt"), ("s" * 4096 + "\n").getBytes(UTF_8))
    // guard and reader both skip sub/: a bound its file would blow holds,
    // and none of its bytes are merged
    val outFile = FileWorkflows.mergeTextFolder(spark, in.toString,
      tmp("fw-subdir-out").resolve("out").toString, maxBytes = 1024L)
    assert(bytes(java.nio.file.Paths.get(outFile)) == "top\n".getBytes(UTF_8).toSeq)
    for (name <- Seq("nested.txt", "k=1")) {
      val dir = Files.createDirectory(in.resolve(name))
      Files.write(dir.resolve("payload.txt"), "payload\n".getBytes(UTF_8))
      Files.write(dir.resolve("notes.md"), "notes\n".getBytes(UTF_8))
      val out = tmp("fw-subdir-out").resolve("out")
      val e = intercept[IllegalStateException] {
        FileWorkflows.mergeTextFolder(spark, in.toString, out.toString)
      }
      assert(e.getMessage.contains(in.toString) && e.getMessage.contains(name), e.getMessage)
      assert(Files.list(out).count() == 0, s"$name: nothing may be written")
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    }
  }
}
