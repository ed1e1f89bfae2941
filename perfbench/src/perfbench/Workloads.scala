package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.images.Tiling
import graft.text.FileWorkflows

/** One call into a layer's public entry point. `run` writes under `out`
  * (file pipelines) or through the noop sink (queries). */
final case class Job(name: String, layer: String, run: (SparkSession, File) => Unit)

object Workloads {
  val LlmCorpus = Seq("q41_minhash_lsh_pairs", "q87_bucketed_incremental_dedup",
    "q238_span_lang_census")

  val FilePrep = Seq("prepare", "tile", "convert", "merge", "split", "dedup")

  val tileParams: Tiling.TileParams =
    Tiling.TileParams(tileSize = Gen.Tile, overlap = Gen.Overlap, caption = Gen.Caption)

  /** Counts the last file-pipeline calls returned, for the layer metrics. */
  @volatile var lastTiles = 0L
  @volatile var lastConverted = 0L

  private def queryJob(name: String, tables: String): Job = {
    val build = graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    Job(name, "query", (spark, _) =>
      build(spark, tables).write.format("noop").mode("overwrite").save())
  }

  private def fileJob(name: String, in: File): Job = {
    def at(out: File) = new File(out, name).getPath
    val images = new File(in, "images").getPath
    val lines = new File(in, "lines.txt").getPath
    name match {
      case "prepare" => Job(name, "images.prepare", (s, out) =>
        Tiling.prepareImages(s, images, at(out), Gen.Tile, Gen.Overlap))
      case "tile" => Job(name, "images.tile", (s, out) =>
        lastTiles = Tiling.writeTiles(s, images, at(out), tileParams))
      case "convert" => Job(name, "images.convert", (s, out) =>
        lastConverted = Tiling.convertImages(s, images, at(out), "jpg"))
      case "merge" => Job(name, "text.merge", (s, out) =>
        FileWorkflows.mergeTextFolder(s, new File(in, "texts").getPath, at(out)))
      case "split" => Job(name, "text.split", (s, out) =>
        FileWorkflows.splitTextFile(s, lines, at(out), Gen.LinesPerSplitFile))
      case "dedup" => Job(name, "text.dedup", (s, out) =>
        FileWorkflows.removeDuplicatesFile(s, lines, at(out)))
    }
  }

  /** The workload's job list. */
  def jobs(workload: String, tables: String, in: File): Seq[Job] = workload match {
    case "file_prep" => FilePrep.map(fileJob(_, in))
    case "llm_corpus" => LlmCorpus.map(queryJob(_, tables))
    case other => sys.error(s"unknown workload $other")
  }

  /** Query results for the oracle check: one parquet directory each. */
  def dumpQuery(spark: SparkSession, name: String, tables: String, out: File): Unit =
    graft.SparkEntry.queries(name)(spark, tables)
      .write.mode("overwrite").parquet(new File(out, name).getPath)

  def oracleSql(names: Seq[String]): Map[String, String] =
    names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap

  /** `writeTiles` split into its public stages, each materialized through
    * noop; returns cumulative seconds after scan, dims and tiles. */
  def tileStages(spark: SparkSession, in: File): (Double, Double, Double) = {
    val images = new File(in, "images").getPath
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(name: String)(f: => Unit): Double = Tracer.span(name) {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val scan = timed("images.scan")(noop(Tiling.scanImages(spark, images)))
    val dims = timed("images.dims")(noop(Tiling.withDims(Tiling.scanImages(spark, images))))
    val tiles = timed("images.tiles")(noop(Tiling.tiles(Tiling.scanImages(spark, images), tileParams)))
    (scan, dims, tiles)
  }

  /** The tile sink on an already-cached tile frame: seconds, files, bytes. */
  def sinkWrite(spark: SparkSession, in: File, out: File): (Double, Long, Long) = {
    val t = Tiling.tiles(Tiling.scanImages(spark, new File(in, "images").getPath), tileParams)
      .filter(col("data").isNotNull).cache()
    try {
      t.count()
      val dir = new File(out, "sinks").getPath
      val t0 = System.nanoTime()
      Tracer.span("io.sinks.write") {
        graft.io.Sinks.writeFilePerRow(t, dir)
        graft.io.Sinks.writeTextPerRow(
          t.withColumn("sidecar",
            org.apache.spark.sql.functions.regexp_replace(col("file_name"), "\\.[^.]+$", ".txt")),
          dir, fileCol = "sidecar", textCol = "caption")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val files = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
        .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      (secs, files.length.toLong, files.map(_.length).sum)
    } finally { t.unpersist(); () }
  }
}
