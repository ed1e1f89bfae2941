package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev diagnostic (guide §1/§7 empirical loop): run ONE registered query
  * through the noop sink — same action as Bench — and print per-stage task
  * metrics from a listener: task count, summed/max task runtime, shuffle
  * bytes. This is the local[N] stand-in for the Spark UI's stage table
  * (spark.ui is disabled in the bench): it answers "which stage burns the
  * time and how parallel is it" — the two questions a plan dump cannot.
  * Usage:
  *   sbt "runMain graft.Profile q218_crawl_ingest_e2e [sfDir] [cpus] [reps] [k=v ...]"
  * Trailing k=v args become extra SparkSession configs (A/B a knob).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Profile <query> [sfDir] [cpus] [reps]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = args.lift(2).map(_.toInt).getOrElse(32)
    val reps = args.lift(3).map(_.toInt).getOrElse(2)
    val extra = args.drop(4).map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }
    val spark = GraftSession.local(cpus, extra.toSeq)
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))

    case class St(id: Int, nTasks: Int, sumMs: Long, gcMs: Long,
        shRead: Long, shWrite: Long, nm: String)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val tm = si.taskMetrics
        // the RDD operation scopes identify the physical operators this
        // stage executes (WholeStageCodegen ids, Exchange, AQEShuffleRead)
        // — si.name is just the materialization callsite, useless under AQE
        val scopes = si.rddInfos.flatMap(_.scope).map(_.name).distinct
          .mkString("|").take(90)
        stages.add(St(si.stageId, si.numTasks,
          tm.executorRunTime, tm.jvmGCTime,
          tm.shuffleReadMetrics.totalBytesRead, tm.shuffleWriteMetrics.bytesWritten,
          if (scopes.nonEmpty) scopes else si.name.takeWhile(_ != '\n').take(60)))
      }
    }
    def run(): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    run() // warm (memos land, JIT) — profiled reps below see steady state
    spark.sparkContext.addSparkListener(listener)
    def storageLine(tag: String): Unit = {
      val rdds = spark.sparkContext.getPersistentRDDs
      val mem = spark.sparkContext.getRDDStorageInfo
      println(f"STORAGE $tag: persistentRDDs=${rdds.size} " +
        f"memMB=${mem.map(_.memSize).sum / 1e6}%.0f diskMB=${mem.map(_.diskSize).sum / 1e6}%.0f")
    }
    val times = (1 to reps).map { i =>
      val t = run(); storageLine(s"after rep $i"); t
    }
    spark.sparkContext.removeSparkListener(listener)
    println(f"WALL ${times.min}%.3f s (min of $reps reps, warm)")
    import scala.jdk.CollectionConverters._
    val sts = stages.asScala.toSeq.sortBy(-_.sumMs).take(25)
    println(f"${"stage"}%6s ${"tasks"}%6s ${"sumTaskSec"}%11s ${"gcSec"}%6s ${"shReadMB"}%9s ${"shWriteMB"}%10s  name")
    sts.foreach { s =>
      println(f"${s.id}%6d ${s.nTasks}%6d ${s.sumMs / 1e3}%11.2f ${s.gcMs / 1e3}%6.2f " +
        f"${s.shRead / 1e6}%9.1f ${s.shWrite / 1e6}%10.1f  ${s.nm}")
    }
    val tot = stages.asScala.map(_.sumMs).sum / 1e3
    println(f"TOTAL task-seconds across $reps reps: $tot%.2f")
    spark.stop()
  }
}
