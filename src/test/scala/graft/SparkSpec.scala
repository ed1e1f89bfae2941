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

  /** Shuffle exchanges in the executed plan of `df`. */
  def shuffleExchanges(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] =
    allPlanNodes(executedPlanOf(df)).filter(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)
}
