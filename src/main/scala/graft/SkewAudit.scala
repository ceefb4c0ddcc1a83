package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Skew

/** Planted-skew measurement for Skew.saltedJoin (round-11 "use or lose"):
  * replicate the sf events table and remap user_id so ONE user owns 10%
  * of all rows, then join against a broadcast-ineligible per-user dim
  * (wide payload, autoBroadcast disabled — the exact scenario
  * Skew.saltedJoin documents) three ways:
  *
  *   plain    — sort-merge join, AQE skew-split OFF: the hot user's rows
  *              land on one reducer; that task is the straggler.
  *   aqe      — sort-merge join, AQE skew-split ON with the skew
  *              thresholds scaled to this data size (production default
  *              fires at 256 MB partitions; the planted hot partition
  *              here is ~tens of MB, so the threshold is lowered by the
  *              same factor — the mechanism, not the constant, is under
  *              test).
  *   salted   — Skew.saltedJoin, AQE OFF: the manual fix for engines or
  *              plans where AQE cannot rewrite the join (non-SMJ/SHJ
  *              shapes, or a shuffle reused by another consumer).
  *
  * All three must agree bit-exactly on the probe aggregate (count + sum
  * of a joined column per event_type); wall times go to SCALING.md.
  * Usage: `sbt "runMain graft.SkewAudit [sfDir] [replicate]"`.
  */
object SkewAudit {

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val rep = if (args.length > 1) args(1).toInt else 50
    val spark = LocalSession.builder()
      // the documented scenario: dim side broadcast-ineligible
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Plant the skew: rep× the events table; rows with event_id % 4 == 0
    // (25%) all remap to user 999_999 — one hot key whose reducer carries
    // a quarter of the join output.
    val events = graft.queries.Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
    // Materialize the fact across cpus files: the explode pipeline would
    // otherwise emit ONE parquet file (= one map task for the join
    // shuffle), and AQE's skew split can only divide a reduce partition
    // at MAPPER granularity — with a single mapper the skewed partition
    // is unsplittable and OptimizeSkewedJoin silently no-ops (the second
    // scale lesson this audit surfaced; a real 100 TB fact has thousands
    // of mappers, so the multi-file layout is also the realistic one).
    val factDir = java.nio.file.Files
      .createTempDirectory("graft-skew-fact").toString
    events
      .withColumn("r", explode(expr(s"sequence(0, ${rep - 1})")))
      .select(
        (col("event_id") * rep + col("r")).as("row_id"),
        when(col("event_id") % 4 === 0, lit(999999L))
          .otherwise(col("user_id")).as("user_id"),
        col("event_type"))
      .repartition(LocalSession.envCpus)
      .write.mode("overwrite").parquet(factDir)
    val fact = spark.read.parquet(factDir)
    // Materialize the dim as an INDEPENDENT table (parquet round-trip):
    // deriving it inline via fact.distinct() lets the join reuse the
    // aggregate's exchange on the dim side, and AQE's OptimizeSkewedJoin
    // only matches a join whose both children are fresh shuffle+sort
    // stages — a derived dim silently disables the optimization this
    // audit measures.
    val dimDir = java.nio.file.Files
      .createTempDirectory("graft-skew-dim").toString
    fact.select(col("user_id")).distinct()
      .withColumn("segment", (col("user_id") % 7).cast("long"))
      // wide payload: what makes a real per-user dim broadcast-ineligible
      .withColumn("payload", expr("repeat(cast(user_id as string), 300)"))
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    fact.persist()
    val nFact = fact.count(); val nDim = dim.count()

    // the probe REFERENCES fact columns (row_id, event_type) and the wide
    // dim payload, so real bytes flow through both shuffles. Column
    // pruning otherwise reduces the fact side to bare 8-byte join keys —
    // and the hot partition (1.25M IDENTICAL user_ids) then lz4-compresses
    // below every skew byte-threshold, silently disabling AQE's skew
    // detection (measured in round 11: a key-only probe never fired at
    // thresholds down to 256k despite an 11x row skew). AQE's heuristic
    // is BYTES of map output, not row counts — the first scale lesson of
    // this audit.
    // One probe aggregation, built as a DataFrame so the timed collect and
    // the plan inspection read the SAME QueryExecution. A separate
    // inspection query (earlier: count(lit(1))) prunes row_id out of the
    // fact shuffle, shrinking map-output bytes — the exact byte-heuristic
    // sensitivity that silently disables AQE skew detection, so its
    // skew=true flag would not describe the plan that was timed.
    def probeDf(joined: DataFrame): DataFrame =
      joined.groupBy(col("event_type"))
        .agg(sum(col("row_id") % 97).as("n"),
          sum(col("segment") + length(col("payload"))).as("s"))
        .orderBy(col("event_type"))
    def collectProbe(df: DataFrame): Array[(String, Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def probe(joined: DataFrame): Array[(String, Long, Long)] =
      collectProbe(probeDf(joined))

    def setAqe(on: Boolean): Unit = {
      spark.conf.set("spark.sql.adaptive.enabled", on.toString)
      if (on) {
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        // production default fires at 256MB partitions / factor 5; the
        // planted hot partition here is ~tens of MB, so the thresholds
        // scale down by the data-size factor (mechanism under test, not
        // the constant)
        spark.conf.set(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2m")
        spark.conf.set(
          "spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      }
    }

    def best2[A](f: => A): (A, Double) = {
      val (a1, s1) = timed(f); val (_, s2) = timed(f)
      (a1, math.min(s1, s2))
    }

    // warm both cached inputs once
    probe(fact.join(dim, "user_id")): Unit

    setAqe(false)
    val (plainRes, plainSec) = best2(probe(fact.join(dim, "user_id")))

    setAqe(true)
    // Time and inspect the SAME DataFrame: after the first collect the
    // adaptive plan is final, so executedPlan below is the plan whose
    // wall time aqeSec reports (ADVICE r11).
    val aqeDf = probeDf(fact.join(dim, "user_id"))
    val (aqeRes, aqeSec) = best2(collectProbe(aqeDf))
    val planStr = aqeDf.queryExecution.executedPlan.toString
    val smjLine = planStr.linesIterator.find(_.contains("SortMergeJoin"))
      .getOrElse("").trim
    val skewFired = planStr.toLowerCase.contains("skew=true")

    setAqe(false)
    val (saltRes, saltSec) =
      best2(probe(Skew.saltedJoin(fact, dim, "user_id", salts = 16)))

    require(plainRes.sameElements(aqeRes) && plainRes.sameElements(saltRes),
      s"probe mismatch:\nplain=${plainRes.mkString}\naqe=${aqeRes.mkString}" +
        s"\nsalted=${saltRes.mkString}")

    println(s"""{"fact_rows": $nFact, "dim_rows": $nDim, "replicate": $rep,
       | "hot_share": 0.25, "plain_smj_sec": ${f"$plainSec%.2f"},
       | "aqe_skewsplit_sec": ${f"$aqeSec%.2f"}, "aqe_skew_fired": $skewFired,
       | "aqe_join_line": "${smjLine.replace("\"", "'")}",
       | "salted_join_sec": ${f"$saltSec%.2f"},
       | "results_identical": true}""".stripMargin.linesIterator.mkString(""))
    spark.stop()
  }
}
