package graft.llm

import graft.{CallFootprint, SparkSpec, Tables}
import graft.io.Layout
import org.apache.spark.sql.functions._

/** Structural lock on the fixed cost of a warm `llm_corpus` call: table
  * reads, landing checks and q87's plan. On 50-row batches these costs
  * are the call, so a schema job, a SQL round trip or a checkpoint that
  * comes back fails here even when a timing cannot tell. */
class CorpusCallCostSpec extends SparkSpec {

  private def footprint(body: => Any): CallFootprint = CallFootprint.of(spark)(body)

  test("Tables.documents on an unchanged file starts no job") {
    Tables.documents(spark, sfDir)
    val f = footprint(Tables.documents(spark, sfDir))
    assert(f.jobs == 0 && f.sqlExecutions == 0,
      s"a warm table read ran ${f.jobs} job(s) and ${f.sqlExecutions} SQL execution(s)")
  }

  test("an ensureBucketed reuse starts no SQL execution and no job") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-reuse-src").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val table = "graft_reuse_cost_spec"
    def land(): Unit = Layout.ensureBucketed(spark, table, "k", numBuckets = 2)(
      spark.read.schema(schema).parquet(src).select(col("k"), col("v")))
    land()
    val f = footprint(land())
    assert(f.sqlExecutions == 0 && f.jobs == 0,
      s"a reuse ran ${f.sqlExecutions} SQL execution(s) and ${f.jobs} job(s)")
    spark.sql(s"DROP TABLE $table")
  }

  test("a warm landing hit on an unchanged dir starts no job and no SQL execution") {
    def calls() = Seq(Similarity.landedRepPairs(spark, sfDir),
      Layout.partitionedOrdersPath(spark, sfDir), graft.text.CorpusStats.bpeTrainMerges(spark, sfDir))
    val cold = calls()
    val f = footprint(calls())
    assert(f.jobs == 0 && f.sqlExecutions == 0,
      s"warm landing hits ran ${f.jobs} job(s) and ${f.sqlExecutions} SQL execution(s)")
    val warm = calls()
    assert(warm.head.asInstanceOf[AnyRef] eq cold.head.asInstanceOf[AnyRef],
      "the memo built the pair frame again")
    assert(warm.tail == cold.tail)
  }

  test("a second q87 call runs at most 7 jobs, none before its query, and reads no checkpoint") {
    // a checkpoint dir makes a lineage cut a reliable checkpoint, as in
    // the benchmark's sessions
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q87-ckpt").toString
    CallFootprint.withCheckpointDir(spark, Some(ckpt)) {
      def call() = Similarity.bucketedIncrementalDedup(spark, sfDir)
      call().write.format("noop").mode("overwrite").save()
      val build = footprint(call())
      assert(build.jobs == 0 && build.sqlExecutions == 0,
        s"building q87 ran ${build.jobs} job(s) and ${build.sqlExecutions} SQL execution(s)")
      val run = footprint(call().write.format("noop").mode("overwrite").save())
      assert(run.sqlExecutions == 1, s"q87 ran ${run.sqlExecutions} SQL executions")
      assert(run.jobs <= 7, s"q87 ran ${run.jobs} jobs")
      assert(run.checkpointJobs == 0 && run.persistedJobs == 0,
        s"q87 read a checkpoint in ${run.checkpointJobs} job(s), " +
          s"a persisted RDD in ${run.persistedJobs}")
    }
  }
}
