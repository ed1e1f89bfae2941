package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs — the tools' own
  * [[GraftSession.local]] factory on 4 cores. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  /** Final physical plan with AQE's re-planned tree materialized: runs the
    * frame, then unwraps the adaptive root. The ONE copy of the
    * AQE-unwrap logic every plan-shape spec shares — AQE node structure
    * churns across Spark versions, and four private copies of this walk
    * had already started to diverge. */
  def executedPlanOf(df: org.apache.spark.sql.DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** Every node: descends through query stages, adaptive roots and
    * subqueries. */
  def allPlanNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case s: QueryStageExec => Seq(s.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case other => other.children
    }
    (p +: kids.flatMap(allPlanNodes)) ++ p.subqueries.flatMap(allPlanNodes)
  }

  /** Runs `check` on both expression evaluation paths: first as the
    * session stands, where the optimizer folds a projection over a
    * `Seq.toDF` frame into a local relation evaluated on the driver
    * without generated code; then with ConvertToLocalRelation excluded
    * (the setting Spark's own test sessions use) and codegen fallback off,
    * so the same projection runs as compiled whole-stage code or fails.
    * `check` receives `true` on the generated-code run. The shared
    * session's conf is restored afterwards. */
  def onBothEvalPaths(check: Boolean => Unit): Unit = {
    check(false)
    val rule = "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
    val set = Seq("spark.sql.optimizer.excludedRules" -> rule,
      "spark.sql.codegen.fallback" -> "false")
    val prior = set.map { case (k, _) => k -> spark.conf.getOption(k) }
    set.foreach { case (k, v) => spark.conf.set(k, v) }
    try check(true)
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Asserts that each of `kernels` (expression prettyNames) is evaluated
    * by a projection fused into a whole-stage codegen stage of `df`. */
  def assertCodegenProject(df: org.apache.spark.sql.DataFrame, kernels: String*): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    kernels.foreach { k =>
      assert(plan.linesIterator.exists(_.matches(raw"\s*\*\(\d+\) Project \[.*\b$k\(.*")),
        s"$k not in a codegen Project:\n$plan")
    }
  }

  /** Shuffle exchanges in the executed plan of `df`. */
  def shuffleExchanges(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] =
    allPlanNodes(executedPlanOf(df)).filter(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)
}
