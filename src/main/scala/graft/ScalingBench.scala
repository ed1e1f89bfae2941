package graft

import org.apache.spark.sql.DataFrame
import org.json4s._
import org.json4s.jackson.JsonMethods.compact

/** Empirical scaling curves for the dedup/ANN tier (SCALING.md): build
  * deterministic 1×/3×/10× corpora from a base SF via
  * [[graft.llm.Scaling]], then measure candidate-pair counts and
  * wall-time for q41 (MinHash LSH), q94 (span dedup), q118 (SemDeDup,
  * k scaled with the corpus) and q143 (containment PPJoin). Prints one
  * markdown table plus one JSON line; tools/scaling_readme.py folds the
  * output into SCALING.md.
  *
  * Candidate counts are DETERMINISTIC (no RNG anywhere in the pipeline),
  * so ScalingSpec asserts their sub-quadratic growth in CI; wall-times
  * are recorded here for the committed artifact but never asserted
  * (they swing with host load). */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(GraftSession.envCores(default = 4))

    val work = java.nio.file.Files.createTempDirectory("graft_scaling").toString
    val factors = Seq(1, 3, 10)
    val dirs = factors.map { f =>
      val d = s"$work/x$f"
      graft.llm.Scaling.materialize(spark, baseDir, d, f)
      f -> d
    }

    def time(build: => DataFrame): Double = {
      // min-of-2 noop writes (the honest action, same as Bench)
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        build.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
    }

    val rows = dirs.map { case (f, d) =>
      val q41cand = graft.llm.Scaling.lshCandidateCount(spark, d)
      val q41t = time(graft.llm.Similarity.minhashLshPairs(spark, d))
      val q94rows = graft.text.CorpusStats.spanDedup(spark, d).count()
      val q94t = time(graft.text.CorpusStats.spanDedup(spark, d))
      val k = 8 * f
      val q118vol = graft.llm.Scaling.semanticPairVolume(spark, d, k)
      val q118t = time(graft.llm.Similarity.semanticDedupAt(spark, d, k))
      val q143cand = graft.llm.Scaling.containmentCandidateCount(spark, d)
      val q143t = time(graft.llm.Similarity.containmentPairs(spark, d))
      (f, q41cand, q41t, q94rows, q94t, k, q118vol, q118t, q143cand, q143t)
    }

    println("| scale | q41 candidates | q41 s | q94 dup spans | q94 s | k | q118 pair volume | q118 s | q143 candidates | q143 s |")
    println("|---|---|---|---|---|---|---|---|---|---|")
    rows.foreach { case (f, c41, t41, r94, t94, k, v118, t118, c143, t143) =>
      println(f"| ${f}x | $c41 | $t41%.2f | $r94 | $t94%.2f | $k | $v118 | $t118%.2f | $c143 | $t143%.2f |")
    }
    val json = rows.map { case (f, c41, t41, r94, t94, k, v118, t118, c143, t143) =>
      JObject("scale" -> JInt(f), "q41_cand" -> JLong(c41), "q41_s" -> Bench.secs(t41),
        "q94_rows" -> JLong(r94), "q94_s" -> Bench.secs(t94), "k" -> JInt(k),
        "q118_vol" -> JLong(v118), "q118_s" -> Bench.secs(t118),
        "q143_cand" -> JLong(c143), "q143_s" -> Bench.secs(t143))
    }
    println(compact(JObject("metric" -> JString("scaling"),
      "base" -> JString(baseDir), "rows" -> JArray(json.toList))))
    spark.stop()
  }
}
