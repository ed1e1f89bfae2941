package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExpandExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the run record (maps, sequences, numbers,
  * strings, booleans, null). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** One timed interval. Spans of one job call share `trace`; `parent` is 0
  * for a job call's root span. Times are epoch nanoseconds. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      startNs: Long, endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled (the untraced mode), `span` is a
  * plain call. Spans nest per thread; the benchmark is a closed loop with
  * one caller, so listener-derived spans attach to the caller's current
  * span. */
object Tracer {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  // (span id, trace id) of the innermost open span of the calling thread
  @volatile private var open: List[(Long, Long)] = Nil

  def nowNs: Long = System.nanoTime() + epochOffset
  def current: (Long, Long) = open.headOption.getOrElse((0L, 0L))

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val (parent, trace0) = current
      val trace = if (parent == 0L) id else trace0
      open = (id, trace) :: open
      val t0 = nowNs
      try body
      finally {
        open = open.tail
        done.add(Span(id, parent, trace, name, t0, nowNs))
      }
    }

  def newId(): Long = ids.incrementAndGet()

  /** A span observed after the fact (Spark jobs, SQL executions). */
  def record(id: Long, name: String, parent: (Long, Long), startNs: Long, endNs: Long): Unit =
    if (enabled) done.add(Span(id, parent._1, parent._2, name, startNs, endNs))

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(s => (s.startNs, s.id))

  /** Self time per span name: duration minus the time of direct children. */
  def selfSeconds(all: Seq[Span]): Map[String, Double] = {
    val childTime = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durS).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.durS - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  def toJson(s: Span): String = Json.render(Map(
    "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

/** Engine counters read from Spark's public listener events and from the
  * executed plans of every query the session runs. All counters add up
  * until [[reset]]; [[snapshot]] drains the listener bus first. */
final class EngineStats(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val c = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  // open listener-derived spans: key -> (span id, start ms, (parent id, trace id))
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, (Long, Long))]()
  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, (Long, Long))]()

  private def add(k: String, v: Double): Unit = c.merge(k, v, (a: Double, b: Double) => a + b)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    if (e.reason != Success) add("spark.task_failures", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("spark.task_s", m.executorRunTime / 1e3)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.scan.bytes", m.inputMetrics.bytesRead.toDouble)
      add("spark.scan.rows", m.inputMetrics.recordsRead.toDouble)
      add("spark.shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    if (e.stageInfo.numTasks == 1) add("spark.single_task_stages", 1)
  }

  /** The span of a running SQL execution, as a parent, if it is open. */
  private def sqlParent(executionId: Option[Long]): Option[(Long, Long)] =
    executionId.flatMap(x => Option(sqlStart.get(x))).map { case (id, _, (_, trace)) => (id, trace) }

  // a Spark job nests under its SQL execution, a nested execution under its
  // root one, and both otherwise under the caller's current span
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sqlId = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    jobStart.put(e.jobId, (Tracer.newId(), e.time,
      sqlParent(sqlId.map(_.toLong)).getOrElse(Tracer.current)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (id, t0, parent) =>
      Tracer.record(id, "spark.job", parent, t0 * 1000000L, e.time * 1000000L)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val root = s.rootExecutionId.filter(_ != s.executionId)
      sqlStart.put(s.executionId, (Tracer.newId(), s.time, sqlParent(root).getOrElse(Tracer.current)))
    case s: SparkListenerSQLExecutionEnd =>
      Option(sqlStart.remove(s.executionId)).foreach { case (id, t0, parent) =>
        Tracer.record(id, "spark.sql", parent, t0 * 1000000L, s.time * 1000000L)
      }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planCounts(qe.executedPlan).foreach { case (k, v) => add(k, v) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def reset(): Unit = c.clear()

  def snapshot(): Map[String, Double] = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    c.asScala.toMap
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Operator counts and broadcast cost of one executed plan, adaptive
    * stages unwrapped and subqueries included. */
  private def planCounts(root: SparkPlan): Map[String, Double] = {
    def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case other =>
        Iterator(other) ++ other.children.iterator.flatMap(nodes) ++
          other.subqueries.iterator.flatMap(nodes)
    }
    val out = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    nodes(root).foreach {
      case _: ShuffleExchangeExec => out("plan.exchanges") += 1
      case _: ReusedExchangeExec => out("plan.reused_exchanges") += 1
      case _: BroadcastHashJoinExec => out("plan.bhj") += 1
      case _: SortAggregateExec => out("plan.sort_aggregates") += 1
      case _: ExpandExec => out("plan.expands") += 1
      case _: WindowExec => out("plan.windows") += 1
      case b: BroadcastExchangeExec =>
        out("spark.broadcast.bytes") += b.metrics.get("dataSize").map(_.value).getOrElse(0L)
        out("spark.broadcast.build_s") += b.metrics.get("buildTime").map(_.value).getOrElse(0L) / 1e3
      case _ =>
    }
    out.toMap
  }
}

/** Peak bytes of persisted and landed data. A background thread samples
  * the block manager's cached RDDs every 200 ms (polling every 20 ms
  * perturbed the driver enough to spread query pass times by 0.26–0.30
  * IQR/median across runs); [[afterJob]] also adds the on-disk size of
  * the warehouse and checkpoint directories. */
final class StorageSampler(spark: SparkSession, dirs: Seq[java.io.File]) {
  @volatile private var peak = 0L
  @volatile private var running = true

  private def cached(): Long =
    try spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    catch { case _: Exception => 0L }

  private def diskBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(diskBytes).sum).getOrElse(0L)

  private val thread = new Thread(() => {
    while (running) {
      val b = cached()
      if (b > peak) peak = b
      Thread.sleep(200)
    }
  }, "perfbench-storage")
  thread.setDaemon(true)
  thread.start()

  def afterJob(): Unit = {
    val b = cached() + dirs.map(diskBytes).sum
    if (b > peak) peak = b
  }

  def landedBytes: Long = dirs.map(diskBytes).sum
  def peakBytes: Long = peak
  def resetPeak(): Unit = peak = 0L
  def stop(): Unit = { running = false; thread.join() }
}
