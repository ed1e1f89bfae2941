package graft

import graft.images.Tiling
import graft.images.TilingSpec.{gradientPng, tmpDirWith}
import graft.text.FileWorkflows
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Structural lock on the file pipelines: each call is one write pass.
  * Job counts and persisted RDDs are exact where wall-clock timings are
  * noise, so a re-introduced cache, count or re-numbering shuffle fails
  * here even when a benchmark run cannot tell. */
class FilePipelineJobsSpec extends SparkSpec {

  private def footprint(body: => Any): CallFootprint = CallFootprint.of(spark)(body)

  private def assertNoPersistence(f: CallFootprint, call: String): Unit =
    assert(f.persistedJobs == 0 && f.leftPersisted.isEmpty,
      s"$call ran ${f.persistedJobs} job(s) over a persisted RDD, left ${f.leftPersisted}")

  private def images() = tmpDirWith(
    "good.png" -> gradientPng(160, 112), // compatible at tile 64, overlap 0.25
    "bad.png" -> gradientPng(150, 100))

  private def outDir() = Files.createTempDirectory("graft-jobs").resolve("out").toString

  test("convertImages and writeTiles each run one job and persist nothing") {
    val in = images().toString
    val convert = footprint(Tiling.convertImages(spark, in, outDir(), "jpg"))
    assert(convert.jobs == 1, s"convertImages ran ${convert.jobs} jobs")
    assertNoPersistence(convert, "convertImages")
    val tile = footprint(Tiling.writeTiles(spark, in, outDir(),
      Tiling.TileParams(tileSize = 64, caption = "c")))
    assert(tile.jobs == 1, s"writeTiles ran ${tile.jobs} jobs")
    assertNoPersistence(tile, "writeTiles")
  }

  test("prepareImages runs one job, counts included, and persists nothing") {
    val prep = footprint(Tiling.prepareImages(spark, images().toString, outDir(), 64, 0.25))
    assert(prep.jobs == 1, s"prepareImages ran ${prep.jobs} jobs")
    assertNoPersistence(prep, "prepareImages")
  }

  test("splitTextFile runs one job, persists nothing, checkpoints nothing") {
    val in = Files.createTempDirectory("graft-jobs-in").resolve("lines.txt")
    Files.write(in, (1 to 40).map(i => s"line $i\n").mkString.getBytes(UTF_8))
    def split() = FileWorkflows.splitTextFile(spark, in.toString, outDir(), 8)
    // without a checkpoint dir a lineage cut would persist an RDD ...
    val local = CallFootprint.withCheckpointDir(spark, None)(footprint(split()))
    assert(local.jobs == 1, s"splitTextFile ran ${local.jobs} jobs")
    assertNoPersistence(local, "splitTextFile")
    // ... and with one it would write there
    val ckpt = Files.createTempDirectory("graft-jobs-ckpt")
    CallFootprint.withCheckpointDir(spark, Some(ckpt.toString))(split())
    val written = Files.walk(ckpt).filter(Files.isRegularFile(_)).count()
    assert(written == 0, s"splitTextFile wrote $written file(s) under the checkpoint dir")
  }

  test("mergeTextFolder and removeDuplicatesFile each run one job and persist nothing") {
    // the listing of the merge folder counts: a Spark listing job would
    // run under the same local property
    val texts = Files.createTempDirectory("graft-jobs-texts")
    (1 to 40).foreach(i => Files.write(texts.resolve(f"t$i%02d.txt"), s"text $i\n".getBytes(UTF_8)))
    val merge = footprint(FileWorkflows.mergeTextFolder(spark, texts.toString, outDir()))
    assert(merge.jobs == 1, s"mergeTextFolder ran ${merge.jobs} jobs")
    assertNoPersistence(merge, "mergeTextFolder")
    val lines = Files.createTempDirectory("graft-jobs-in").resolve("lines.txt")
    Files.write(lines, (1 to 40).map(i => s"line ${i % 7}\n").mkString.getBytes(UTF_8))
    val dedup = footprint(FileWorkflows.removeDuplicatesFile(spark, lines.toString, outDir()))
    assert(dedup.jobs == 1, s"removeDuplicatesFile ran ${dedup.jobs} jobs")
    assertNoPersistence(dedup, "removeDuplicatesFile")
  }

  test("the image header is parsed once per row in tiles and compatibility") {
    // Catalyst would substitute the dims UDF into each filter it pushes
    // below withDims' projection (isnotnull(dims), the explode's inferred
    // size(boxes) > 0), parsing the header once per use
    val scan = Tiling.scanImages(spark, images().toString)
    def dimsCalls(df: DataFrame): Int =
      (df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).collect { case node => node.expressions.map(_.collect {
        case u: ScalaUDF if u.udfName.contains("imageDims") => u
      }.size).sum }.sum
    assert(dimsCalls(Tiling.tiles(scan, Tiling.TileParams(tileSize = 64))) == 1)
    assert(dimsCalls(Tiling.compatibility(scan, 64, 0.25)) == 1)
  }
}
