package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.compact

/** Materialize a factor-F twin of a full harness dataset — the input for
  * the WHOLE-SUITE scaling sweep (BENCH_SF1.json / SCALING.md): every
  * table grows ×F with referential integrity intact, so each registered
  * query runs against a dataset with the same join/aggregate structure
  * at F× the volume.
  *
  *  - region/nation: fixed dimension tables, copied verbatim (TPC-H
  *    semantics — dimensions don't grow with scale factor).
  *  - customer/supplier/part/orders/lineitem: F copies with entity-key
  *    offsets (stride = max(key)+1 per entity, applied consistently to
  *    every foreign key), so each copy reproduces the base join graph
  *    exactly and no key collides across copies. Dates/prices stay —
  *    ×F orders over the same period is precisely how a larger SF looks.
  *  - events: F copies offsetting event_id and user_id; timestamps stay
  *    (×F event density over the same window — more users, same period).
  *  - documents/embeddings: [[graft.llm.Scaling]]'s ISOMORPHIC scaling
  *    (token-prefix bijection per copy, norm-preserving embedding
  *    rotation) so duplicate/similarity density is held constant — the
  *    invariant the dedup-tier measurements depend on.
  *
  * Usage: runMain graft.ScaleAll [baseDir] [outDir] [factor]
  */
object ScaleAll {

  private def keyStride(df: DataFrame, col0: String): Long = {
    val r = df.agg(max(col(col0))).head()
    if (r.isNullAt(0)) 1L else r.getLong(0) + 1L
  }

  /** F copies of `df`, adding `copy * stride(entity)` to each listed
    * (column → entity stride) pair. */
  private def copies(df: DataFrame, factor: Int,
                     offsets: Seq[(String, Long)]): DataFrame = {
    val base = df.withColumn("__c", explode(sequence(lit(0), lit(factor - 1), lit(1))))
    val shifted = offsets.foldLeft(base) { case (d, (c, stride)) =>
      d.withColumn(c, col(c) + col("__c") * stride)
    }
    shifted.drop("__c")
  }

  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local(GraftSession.envCores(default = 32))

    def read(t: String) = spark.read.parquet(s"$base/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$t.parquet")

    val custS = keyStride(read("customer"), "c_custkey")
    val suppS = keyStride(read("supplier"), "s_suppkey")
    val partS = keyStride(read("part"), "p_partkey")
    val orderS = keyStride(read("orders"), "o_orderkey")
    val eventS = keyStride(read("events"), "event_id")
    val userS = keyStride(read("events"), "user_id")

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(copies(read("customer"), factor, Seq("c_custkey" -> custS)), "customer")
    write(copies(read("supplier"), factor, Seq("s_suppkey" -> suppS)), "supplier")
    write(copies(read("part"), factor, Seq("p_partkey" -> partS)), "part")
    write(copies(read("orders"), factor,
      Seq("o_orderkey" -> orderS, "o_custkey" -> custS)), "orders")
    write(copies(read("lineitem"), factor,
      Seq("l_orderkey" -> orderS, "l_partkey" -> partS, "l_suppkey" -> suppS)),
      "lineitem")
    write(copies(read("events"), factor,
      Seq("event_id" -> eventS, "user_id" -> userS)), "events")
    write(graft.llm.Scaling.scaleDocuments(Tables.documents(spark, base), factor),
      "documents")
    write(graft.llm.Scaling.scaleEmbeddings(Tables.embeddings(spark, base), factor),
      "embeddings")
    println(compact(JObject("scaled" -> JString(out), "factor" -> JInt(factor))))
    spark.stop()
  }
}
