package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * startup is the dominant test cost).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** Every physical node of the FINAL plan, descending through AQE's
    * adaptive wrapper and materialized query stages — so plan assertions
    * bind to node types, not plan-string formatting (which shifts across
    * Spark versions).
    */
  def physicalNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect() // force execution so AQE settles on its final plan
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case s: QueryStageExec => p +: flatten(s.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
    flatten(df.queryExecution.executedPlan)
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = LocalSession.builder(cpus = 4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
