package graft

import org.apache.spark.sql.functions._

/** Scale-technique pin: bucketed tables co-locate joins (no exchange
  * before the join when both sides are bucketed on the key).
  */
class SkewBucketSpec extends SparkSuite {
  test("bucketed tables join without a shuffle exchange (co-located)") {
    val db = "graft_bucket_test"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    try {
      val events = spark.read.parquet(sf("sf0.001") + "/events.parquet")
      events.select("event_id", "user_id", "value")
        .write.mode("overwrite")
        .bucketBy(8, "user_id").sortBy("user_id")
        .saveAsTable(s"$db.ev_bucketed")
      events.groupBy("user_id")
        .agg(count(lit(1)).as("n"))
        .write.mode("overwrite")
        .bucketBy(8, "user_id")
        .saveAsTable(s"$db.usr_bucketed")

      val joined = spark.sql(
        s"""SELECT /*+ MERGE(e) */ e.user_id, u.n, e.value
            FROM $db.ev_bucketed e JOIN $db.usr_bucketed u
            ON e.user_id = u.user_id""")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      // bucketed distribution satisfies the join requirement on both
      // sides: no shuffle exchange anywhere in the plan
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(joined.count() ==
        spark.table(s"$db.ev_bucketed").count())
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }
}
