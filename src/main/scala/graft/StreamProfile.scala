package graft

import org.apache.spark.sql.SparkSession

/** Streaming fixed-cost profiler (round-12 VERDICT #4): replicates the
  * bench streaming slice (envelope fixture → changestream source →
  * runAll availableNow) and prints a per-phase breakdown — fixture,
  * warmup, per-trial wall, and the CommandMetrics per-command sums — so
  * the per-trigger overhead is measured, not guessed.
  *
  * Usage: `sbt "runMain graft.StreamProfile <sfDir> [trials]"`.
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val trials = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val root = java.nio.file.Files.createTempDirectory("graft-prof").toString
    val (_, fixSec) = t {
      graft.operators.EventsCdc
        .toEnvelopes(spark.read.parquet(s"$sfDir/events.parquet"))
        .repartitionByRange(16,
          org.apache.spark.sql.functions.col("_id").getField("_data"))
        .write.mode("overwrite").parquet(s"$root/in")
    }
    val cnt = spark.read.parquet(s"$root/in").count()
    spark.read.parquet(s"$root/in").limit(1000)
      .write.mode("overwrite").parquet(s"$root/warm-in")
    val (_, warmSec) = t {
      graft.streaming.StreamingCdc.runAll(spark, Seq(
        graft.streaming.StreamingCdc.StreamConfig(
          "prof-warm", s"$root/warm-in", s"$root/warm-messages",
          s"$root/warm-tokens", s"$root/warm-ckpt")), availableNow = true)
    }

    import graft.streaming.Observability.CommandMetrics
    def snap(): Map[(String, String), (Long, Double)] = {
      import scala.jdk.CollectionConverters._
      CommandMetrics.durations.asScala.map { case (k, h) =>
        (k.database, k.command) -> (h.count.sum(), h.sum.sum())
      }.toMap
    }

    val secs = (0 until trials).map { i =>
      val before = snap()
      val (_, sec) = t {
        graft.streaming.StreamingCdc.runAll(spark, Seq(
          graft.streaming.StreamingCdc.StreamConfig(
            "prof", s"$root/in", s"$root/messages-$i", s"$root/tokens-$i",
            s"$root/ckpt-$i")),
          availableNow = true)
      }
      val after = snap()
      val delta = after.collect {
        case (k @ ("prof", cmd), (c, s)) =>
          val (c0, s0) = before.getOrElse(k, (0L, 0.0))
          cmd -> (c - c0, s - s0)
      }
      val cmds = delta.toSeq.sortBy(_._1).map { case (cmd, (c, s)) =>
        f""""$cmd":{"n":$c,"sec":$s%.3f}""" }.mkString(",")
      println(f"""{"trial":$i,"sec":$sec%.3f,"ev_per_sec":${cnt / sec}%.0f,""" +
        s""""commands":{$cmds}}""")
      sec
    }
    println(f"""{"events":$cnt,""" +
      f""""fixture_sec":$fixSec%.3f,""" +
      f""""warm_sec":$warmSec%.3f,"best_sec":${secs.min}%.3f,""" +
      f""""best_ev_per_sec":${cnt / secs.min}%.0f}""")
    spark.stop()
  }
}
