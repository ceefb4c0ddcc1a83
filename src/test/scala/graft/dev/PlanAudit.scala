package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, CartesianProductExec}
import java.nio.file.{Files, Paths}

/** Writes PLANS.md: the executed-plan inventory of every registered query
  * (exchanges / broadcasts / joins / parquet scans) at the given SF — the
  * scale-evidence companion to SCALING.md. Regenerate with:
  *   sbt "Test/runMain graft.PlanAudit <sfdir> PLANS.md"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile) = args
    // a fixed 8 cores, not SPARK_GRAFT_CPUS, so PLANS.md reproduces on
    // any box
    val spark = LocalSession.builder(cpus = 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case s: QueryStageExec => p +: flatten(s.plan)
      case _ => p +: p.children.flatMap(flatten)
    }

    val rows = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // settle AQE on the final plan
      val nodes = flatten(df.queryExecution.executedPlan)
      val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
      val bcasts = nodes.count(_.isInstanceOf[BroadcastExchangeExec])
      val joins = nodes.count(_.isInstanceOf[BaseJoinExec])
      val carts = nodes.count(_.isInstanceOf[CartesianProductExec])
      val scans = nodes.count(n => n.nodeName.contains("Scan parquet") ||
        n.toString.startsWith("FileScan parquet"))
      s"| $name | $shuffles | $bcasts | $joins | $carts | $scans |"
    }
    val header =
      s"""# PLANS — executed-plan inventory (auto-generated by graft.PlanAudit)
         |
         |One row per registered query at `$sfDir` (AQE-settled final
         |plans). "Shuffles" counts ShuffleExchange nodes — each is a
         |deliberate, keyed exchange (see SCALING.md for why each is
         |needed); "Cartesian" must be 0 everywhere (pinned by PlanSpec).
         |Broadcast counts include the 1-row scalar frames and dimension
         |tables. Queries built on ConnectedComponents (dedup_clusters,
         |dedup_cluster_stats, dedup_split_leakproof,
         |dedup_semantic_survivors) execute their pair-generation stage
         |EAGERLY inside run() (signature action + adaptive small-graph
         |collect at this SF), so the audited residual plan here is only
         |the post-CC tail — the pair pipelines' own shapes are those of
         |dedup_ngram_jaccard / the LSH generators above.
         |Regenerate: `sbt "Test/runMain graft.PlanAudit <sfdir> PLANS.md"`.
         |
         || query | shuffles | broadcasts | joins | cartesian | parquet scans |
         ||---|---|---|---|---|---|""".stripMargin
    Files.writeString(Paths.get(outFile),
      (header +: rows).mkString("", "\n", "\n"))
    spark.stop()
    println(s"[plan-audit] wrote ${rows.length} rows to $outFile")
  }
}
