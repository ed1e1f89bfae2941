package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ArrayKernelsSpec extends SparkSpec {

  test("sortedIntersectCount equals size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    val cases = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(3L, 4L, 5L, 10L)), // partial overlap -> 2
      (Seq.empty[Long], Seq(1L, 2L)),               // empty -> 0
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),           // identical -> 3
      (Seq(-5L, 0L, 7L), Seq(8L, 9L))               // disjoint, negatives -> 0
    )
    val df = cases.toDF("a", "b").select(
      ArrayKernels.sortedIntersectCount(col("a"), col("b")).as("k"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("dotLong equals aggregate(zip_with) fold") {
    import spark.implicits._
    val cases = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),   // 32
      (Seq(-2L, 7L), Seq(3L, -1L)),         // -13
      (Seq.empty[Long], Seq.empty[Long])    // 0
    )
    val df = cases.toDF("a", "b").select(
      ArrayKernels.dotLong(col("a"), col("b")).as("k"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0L), (s, x) => s + x).as("ref"))
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("dotByte equals dotLong on byte-range values; random property") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val cases = (1 to 60).map { _ =>
      val n = rnd.nextInt(70)
      (Seq.fill(n)((rnd.nextInt(255) - 127).toByte),
        Seq.fill(n)((rnd.nextInt(255) - 127).toByte))
    }
    val expected = cases.map { case (a, b) =>
      a.zip(b).map { case (x, y) => x.toLong * y }.sum }
    onBothEvalPaths { codegen =>
      // a plain cast, not a transform lambda: a lambda is CodegenFallback
      // and would keep the whole projection out of whole-stage codegen
      val df = cases.toDF("a", "b").select(
        ArrayKernels.dotByte(col("a"), col("b")).as("k"),
        ArrayKernels.dotLong(
          col("a").cast("array<bigint>"), col("b").cast("array<bigint>")).as("ref"))
      if (codegen) assertCodegenProject(df, "dot_int8")
      val rows = df.collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1), s"codegen=$codegen"))
      assert(rows.map(_.getLong(0)).toSeq == expected, s"codegen=$codegen")
    }
  }

  test("null array input yields null") {
    import spark.implicits._
    val df = Seq((Some(Seq(1L)), Option.empty[Seq[Long]])).toDF("a", "b")
      .select(ArrayKernels.sortedIntersectCount(col("a"), col("b")).as("k"),
        ArrayKernels.dotLong(col("a"), col("b")).as("d"))
    val r = df.collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("property: intersect count matches Scala set intersection (sorted distinct inputs)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val cases = (1 to 60).map { _ =>
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextLong() % 50).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextLong() % 50).distinct.sorted
      (a, b)
    }
    val got = cases.toDF("a", "b")
      .select(ArrayKernels.sortedIntersectCount(col("a"), col("b")))
      .collect().map(_.getLong(0)).toSeq
    val expected = cases.map { case (a, b) => a.toSet.intersect(b.toSet).size.toLong }
    assert(got == expected)
  }

  test("kernels run inside whole-stage codegen (plan shows WholeStageCodegen)") {
    // read a real table so ConvertToLocalRelation cannot pre-evaluate
    val arr = sequence(lit(1L), col("doc_id") + 1)
    val df = graft.Tables.documents(spark, sfDir)
      .select(ArrayKernels.sortedIntersectCount(arr, arr).as("k"),
        ArrayKernels.dotLong(arr, arr).as("d"))
    // "*(n)" prefixes mark operators fused into a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [sorted_intersect_count"),
      s"kernel not inside a codegen stage:\n$plan")
    val r = df.where(col("k") === 0).count()
    assert(r == 0, "every row intersects itself fully")
  }
}
