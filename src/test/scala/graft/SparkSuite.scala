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

  /** Spark jobs started while `f` runs, counted per the
    * `streaming.sql.batchId` they carry ("" for none).
    */
  def jobsByBatch(f: => Unit): Map[String, Int] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .getOrElse("")): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try f
    finally {
      // the listener bus is async — settle before detaching
      var last = -1
      while (seen.size != last) { last = seen.size; Thread.sleep(300) }
      spark.sparkContext.removeSparkListener(listener)
    }
    seen.toArray.toSeq.groupBy(identity).map { case (k, v) =>
      k.toString -> v.size }
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = LocalSession.builder(cpus = 4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
