package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.streaming.StreamingSessionization

/** Streaming gap-sessionization converges to the batch
  * events_session_windows result — closed sessions emitted exactly once,
  * bit-identical rows (start string, count, DECIMAL-exact money sum),
  * with out-of-order arrivals inside the watermark merged correctly.
  */
class StreamingSessionizationSpec extends SparkSuite {
  import spark.implicits._

  private val gap = "10 minutes"

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Batch reference: the same session_window + moneySum shape as the
    * registered events_session_windows query, at this spec's gap.
    */
  private def batchSessions(events: Seq[(Long, Timestamp, Double)]) =
    events.toDF("user_id", "ts", "value")
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,2)")), 2).cast("double")
          .as("sum_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n"), col("sum_value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet

  test("closed sessions equal the batch session_window result " +
      "(out-of-order within watermark, in-gap merge across batches)") {
    val root = Files.createTempDirectory("graft-sess").toString
    val in = s"$root/in"

    // Three users; arrival order deliberately differs from event order
    // (out-of-order WITHIN each file and sessions that span files);
    // per-user sentinel far beyond the gap closes every real session
    // once the watermark passes.
    val f1 = Seq(
      (1L, ts("2024-01-01 10:05:00"), 10.105), // u1 s1 (arrives 2nd-of-pair)
      (1L, ts("2024-01-01 10:00:00"), 1.005),  // u1 s1 start — out of order
      (2L, ts("2024-01-01 10:00:00"), 2.0),    // u2 s1
      (3L, ts("2024-01-01 10:00:00"), 3.0))    // u3 s1
    val f2 = Seq(
      (1L, ts("2024-01-01 10:14:30"), 0.125),  // u1 s1 extend (9.5m < gap)
      // in-session values whose DECIMAL(18,2) half-up rounding differs
      // from a binary-double sum: 2.675 and 0.015 round up, -0.005 away
      // from zero (all after f1's 10:05 watermark, so none is late)
      (1L, ts("2024-01-01 10:07:00"), 2.675),  // u1 s1
      (3L, ts("2024-01-01 10:06:00"), 0.015),  // u3 s1
      (2L, ts("2024-01-01 10:12:00"), -0.005), // u2 s1
      (2L, ts("2024-01-01 10:10:00"), 2.5),    // u2 s1 extend (exactly in)
      (3L, ts("2024-01-01 10:10:00"), 3.5))    // u3 boundary: exactly at
                                               // end (10:00 + gap) — the
                                               // non-strict merge rule
                                               // EXTENDS the session
    val f3 = Seq(
      (1L, ts("2024-01-01 11:00:00"), 1.0),    // u1 s2 (45.5m > gap)
      (2L, ts("2024-01-01 10:19:59"), 0.005))  // u2 s1 extend (9:59 < gap)
    val sentinels = Seq(
      (1L, ts("2024-01-02 00:00:00"), 0.0),
      (2L, ts("2024-01-02 00:00:00"), 0.0),
      (3L, ts("2024-01-02 00:00:00"), 0.0))

    Seq(f1, f2, f3, sentinels).zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("user_id", "ts", "value").coalesce(1)
        .write.mode("append").parquet(s"$in/f$i")
    }
    val schema = Seq.empty[(Long, Timestamp, Double)]
      .toDF("user_id", "ts", "value").schema

    // one directory per trigger, in order — sessions span micro-batches
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$in/*")
    val out = StreamingSessionization.sessions(spark, stream, gap = gap,
      watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("sess_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))

    // exactly-once: no closed session emitted twice
    assert(got.length == got.toSet.size, s"duplicate emissions: $got")

    val want = batchSessions((f1 ++ f2 ++ f3).map(t => t))
    // sessions still open at the final watermark (the sentinels) are
    // withheld — everything else must match the batch rows bit-exactly
    assert(got.toSet == want, s"got=${got.toSet.diff(want)} " +
      s"missing=${want.diff(got.toSet)}")

    // sanity on the semantics the data encodes: boundary events merge
    // (u2/u3 single sessions), the 45-minute gap splits u1 into two
    val byUser = got.groupBy(_._1).view.mapValues(_.length).toMap
    assert(byUser == Map(1L -> 2, 2L -> 1, 3L -> 1), byUser.toString)
  }

  test("restart from checkpoint mid-stream: no session lost or re-emitted") {
    val root = Files.createTempDirectory("graft-sess-rs").toString
    val in = s"$root/in"
    val ck = s"$root/ck"

    val phase1 = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:05:00"), 2.0),
      (2L, ts("2024-01-01 10:00:00"), 5.0),
      // closes u1/u2's first sessions once processed (40m > gap)
      (1L, ts("2024-01-01 10:45:00"), 3.0),
      (2L, ts("2024-01-01 10:45:00"), 6.0))
    val phase2 = Seq( // after restart: extends the open 10:45 sessions
      (1L, ts("2024-01-01 10:50:00"), 4.0),
      (2L, ts("2024-01-01 10:50:00"), 7.0),
      // sentinel closes them
      (1L, ts("2024-01-02 00:00:00"), 0.0),
      (2L, ts("2024-01-02 00:00:00"), 0.0))

    phase1.toDF("user_id", "ts", "value").coalesce(1)
      .write.mode("append").parquet(s"$in/p0")
    val schema = Seq.empty[(Long, Timestamp, Double)]
      .toDF("user_id", "ts", "value").schema

    def run(): Seq[(Long, String, Long, Double)] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, String, Long, Double)]()
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$in/*")
      val q = StreamingSessionization
        .sessions(spark, stream, gap = gap, watermarkDelay = "0 seconds")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r =>
            buf.add((r.getLong(0), r.getString(1), r.getLong(2),
              r.getDouble(3))))
        }
        .option("checkpointLocation", ck).outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq
    }

    val first = run()
    // the 10:00 sessions closed (watermark passed via the 10:45 events)
    assert(first.toSet == Set(
      (1L, "2024-01-01 10:00:00", 2L, 3.0),
      (2L, "2024-01-01 10:00:00", 1L, 5.0)), first.toString)

    phase2.toDF("user_id", "ts", "value").coalesce(1)
      .write.mode("append").parquet(s"$in/p1")
    val second = run()

    // post-restart emissions only: the state (open 10:45 fragments)
    // survived the checkpoint — merged with 10:50 and closed by the
    // sentinel; the already-emitted 10:00 sessions do NOT reappear
    assert(second.toSet == Set(
      (1L, "2024-01-01 10:45:00", 2L, 7.0),
      (2L, "2024-01-01 10:45:00", 2L, 13.0)), second.toString)
  }
}
