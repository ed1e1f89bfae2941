package graft.functions

import graft.SparkSpec
import graft.llm.Similarity.{NumPerms, P, SimhashBits, permA, permB}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType}

import scala.util.Random

/** Randomized model tests (fixed seed — reproducible): the codegen kernels
  * and the imperative top-k must agree with trivially-correct Scala models
  * on arbitrary inputs, not just the corpus fixtures. All Spark-side cases
  * are batched into ONE DataFrame per property so the overhead stays flat.
  */
class KernelPropertySpec extends SparkSpec {

  private val rnd = new Random(20260812L)

  test("minhash/simhash kernels match the pure-Scala model on random arrays") {
    import spark.implicits._
    val cases: Seq[Seq[Long]] = (Seq.empty[Long] +: Seq(0L) +: Seq(P - 1) +:
      Seq.fill(60)(Seq.fill(rnd.nextInt(50))(rnd.nextLong().abs % P))).map(_.toSeq)
    onBothEvalPaths { codegen =>
      val df = cases.toDF("hs")
        .select(
          col("hs"),
          SketchKernels.minhashSignature(col("hs"), permA, permB, P).as("sig"),
          SketchKernels.simhash(col("hs"), SimhashBits).as("sh"))
      if (codegen) assertCodegenProject(df, "minhash_signature", "simhash")
      for (r <- df.collect()) {
        val hs = r.getSeq[Long](0)
        val sig = r.getSeq[Long](1)
        val modelSig = (0 until NumPerms).map { i =>
          if (hs.isEmpty) P else hs.map(h => (permA(i) * h + permB(i)) % P).min
        }
        assert(sig == modelSig, s"minhash mismatch for $hs (codegen=$codegen)")
        val modelSh = (0 until SimhashBits).map { k =>
          val s = hs.map(h => if (((h >> k) & 1L) != 0L) 1L else -1L).sum
          if (s > 0) 1L << k else 0L
        }.sum
        assert(r.getLong(2) == modelSh, s"simhash mismatch for $hs (codegen=$codegen)")
      }
    }
  }

  test("sorted-intersect and dot kernels match set/sum models on random arrays") {
    import spark.implicits._
    val cases = Seq.fill(80) {
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      (a, b)
    }
    onBothEvalPaths { codegen =>
      val df = cases.toDF("a", "b")
        .select(col("a"), col("b"),
          ArrayKernels.sortedIntersectCount(col("a"), col("b")).as("n"),
          ArrayKernels.dotLong(col("a"), col("b")).as("d"))
      if (codegen) assertCodegenProject(df, "sorted_intersect_count", "dot_long")
      for (r <- df.collect()) {
        val a = r.getSeq[Long](0); val b = r.getSeq[Long](1)
        assert(r.getLong(2) == (a.toSet & b.toSet).size.toLong, s"codegen=$codegen")
        assert(r.getLong(3) == a.zip(b).map { case (x, y) => x * y }.sum, s"codegen=$codegen")
      }
    }
  }

  test("TopKBuffer equals sort-based top-k under random inserts and merges") {
    def d(unscaled: Int) = Decimal(java.math.BigDecimal.valueOf(unscaled.toLong, 2), 14, 2)
    for (_ <- 1 to 200) {
      val k = 1 + rnd.nextInt(5)
      val n = rnd.nextInt(40)
      // small value domain → many score ties, exercising the id tiebreak
      val items = Seq.fill(n)((rnd.nextInt(8), rnd.nextInt(1000).toLong))
      // split into random partial buffers, then merge (the map/reduce path)
      val parts = items.grouped(1 + rnd.nextInt(6)).toSeq.map { chunk =>
        val b = new TopKBuffer(k)
        chunk.foreach { case (s, id) => b.insert(d(s), id) }
        b
      }
      val merged = parts.foldLeft(new TopKBuffer(k)) { (acc, b) => acc.mergeFrom(b); acc }
      val got = (0 until merged.n).map(i => (merged.scores(i).toJavaBigDecimal, merged.ids(i)))
      val want = items
        .map { case (s, id) => (d(s).toJavaBigDecimal, id) }
        .sortBy { case (s, id) => (s.negate, id) }
        .take(k)
      assert(got == want, s"k=$k items=$items")
    }
  }
}
