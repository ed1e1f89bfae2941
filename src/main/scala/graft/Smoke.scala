package graft


/** t1-style smoke: SparkEntry.entry must return >0 rows on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"SMOKE entry rows=$n ${if (n > 0) "PASS" else "FAIL"}")
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
