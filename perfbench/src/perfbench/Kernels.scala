package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{SketchKernels, TextKernels}

/** Cost per row of each compiled kernel in `graft.functions`, measured
  * inside a Spark plan: the kernel projected over the documents through
  * noop, minus a pass-through projection of the same cached input. */
object Kernels {
  val Names = Seq("hash60", "tokensHash60", "charGramBuckets", "spanMd5s",
    "minhashSignature", "winnowFps", "textQualityStats", "tokenCount", "ctDistances")

  private val Stop = Seq("a", "the", "and", "of", "to")
  private val Mod = 1L << 20
  private val Reps = 3
  private val Copies = 20

  def nsPerRow(spark: SparkSession, tables: String): Map[String, Double] = {
    val docs = graft.Tables.documents(spark, tables)
    val input = docs
      .select(explode(sequence(lit(1), lit(Copies))).as("copy"), col("text"), col("lang"))
      .withColumn("toks", split(lower(col("text")), " "))
      .withColumn("hs", SketchKernels.tokensHash60(col("text"), graft.llm.Similarity.P, true))
      .withColumn("prof", TextKernels.triProfile(col("text"), 50))
      .cache()
    try {
      val rows = input.count()
      val profiles = langProfiles(input)
      val kernels: Map[String, Column] = Map(
        "hash60" -> SketchKernels.hash60(col("text")),
        "tokensHash60" -> SketchKernels.tokensHash60(col("text"), 0L, false),
        "charGramBuckets" -> SketchKernels.charGramBuckets(col("text"), 3, Mod),
        "spanMd5s" -> SketchKernels.spanMd5s(col("toks"), 5),
        "minhashSignature" -> graft.llm.Similarity.minhashSignature(col("hs")),
        "winnowFps" -> SketchKernels.winnowFps(col("text"), 5, 4, Mod),
        "textQualityStats" -> TextKernels.textQualityStats(col("text"), Stop),
        "tokenCount" -> TextKernels.tokenCount(col("text")),
        "ctDistances" -> TextKernels.ctDistances(col("prof"), profiles, 300))
      val inputCol = Map("spanMd5s" -> "toks", "minhashSignature" -> "hs", "ctDistances" -> "prof")
      def best(c: Column): Double = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        input.select(c.as("k")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }.min
      Names.map { n =>
        val base = best(col(inputCol.getOrElse(n, "text")))
        val k = Tracer.span(s"functions.$n")(best(kernels(n)))
        n -> (k - base) / rows
      }.toMap
    } finally { input.unpersist(); () }
  }

  /** Cavnar-Trenkle style rank profiles per language, from the documents. */
  private def langProfiles(input: DataFrame): Seq[Map[String, Int]] =
    input.select(col("lang"), explode(col("prof")).as("g"))
      .groupBy("lang", "g").count()
      .collect().groupBy(_.getString(0)).toSeq.sortBy(_._1).map { case (_, rows) =>
        rows.sortBy(r => (-r.getLong(2), r.getString(1))).take(300)
          .zipWithIndex.map { case (r, i) => r.getString(1) -> i }.toMap
      }
}
