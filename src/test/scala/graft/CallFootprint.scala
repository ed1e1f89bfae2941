package graft

import org.apache.spark.{CheckpointDirTestAccess, GraftTestHooks}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.storage.StorageLevel

import java.util.concurrent.atomic.AtomicInteger

/** What one call did to the engine: the Spark jobs and SQL executions it
  * started, how many of those jobs read or built a persisted RDD, how many
  * read a checkpoint, and the persisted RDDs it left behind. Job counts
  * are exact where wall-clock timings are noise, so the structural specs
  * lock them. */
final case class CallFootprint(jobs: Int, sqlExecutions: Int, persistedJobs: Int,
    checkpointJobs: Int, leftPersisted: Set[Int])

object CallFootprint {

  /** Runs `body` under a fresh job tag and counts what it started. Only
    * jobs and SQL executions carrying that tag count (broadcast and
    * subquery threads inherit it), and RDDs other suites persisted in the
    * shared session before the call are not its own. */
  def of(spark: SparkSession)(body: => Any): CallFootprint = {
    val sc = spark.sparkContext
    val tag = "graft-spec-" + java.util.UUID.randomUUID()
    val jobs, sql, persisted, checkpointed = new AtomicInteger
    def tagged(tags: String): Boolean = Option(tags).exists(_.split(",").contains(tag))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => tagged(p.getProperty("spark.job.tags")))) {
          jobs.incrementAndGet()
          val rdds = e.stageInfos.flatMap(_.rddInfos)
          if (rdds.exists(_.storageLevel != StorageLevel.NONE)) persisted.incrementAndGet()
          if (rdds.exists(_.name.contains("CheckpointRDD"))) checkpointed.incrementAndGet()
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) =>
          sql.incrementAndGet()
        case _ =>
      }
    }
    val before = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      body
      GraftTestHooks.drainListenerBus(sc)
      CallFootprint(jobs.get, sql.get, persisted.get, checkpointed.get,
        sc.getPersistentRDDs.keySet.toSet -- before)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }

  /** Runs `body` with the session's checkpoint dir set to `dir` (None:
    * unset, so lineage cuts are local checkpoints), then restores it. */
  def withCheckpointDir[T](spark: SparkSession, dir: Option[String])(body: => T): T = {
    val sc = spark.sparkContext
    val saved = CheckpointDirTestAccess.get(sc)
    CheckpointDirTestAccess.set(sc, dir)
    try body finally CheckpointDirTestAccess.set(sc, saved)
  }
}
