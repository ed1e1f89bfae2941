package graft


/** Dev diagnostic: print the formatted physical plan of one registered
  * query (plan-shape auditing — broadcasts placed, filters pushed,
  * whole-stage codegen spans). Usage:
  *   sbt "runMain graft.Explain q41_minhash_lsh_pairs [sfDir]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Explain <queryName> [sfDir]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(4)
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name; have: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    fn(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
