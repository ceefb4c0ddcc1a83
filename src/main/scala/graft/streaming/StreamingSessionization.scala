package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.EventsCdc

/** Streaming gap-sessionization: the stream-time twin of
  * `events_session_windows`, running the same aggregation
  * ([[EventsCdc.sessionWindows]], Spark's `session_window`) under a
  * watermark.
  *
  * In append mode Spark emits each session once, when the watermark
  * passes its end (last event + gap): no non-late event can extend or
  * merge it any more. Events at or behind the watermark are dropped as
  * late; in-watermark out-of-order events merge as a batch replay would.
  * State is the open sessions per user, bounded by the watermark delay,
  * and each micro-batch shuffles only its own rows on user_id.
  */
object StreamingSessionization {

  /** Closed sessions of a (user_id, ts, value) stream, in the batch
    * query's four columns. `watermarkDelay` bounds both accepted lateness
    * and state lifetime.
    */
  def sessions(spark: SparkSession, events: DataFrame,
      gap: String = "1 day", watermarkDelay: String = "1 hour"): DataFrame =
    EventsCdc.sessionWindows(
      events.withWatermark("ts", watermarkDelay)
        .select(col("user_id").cast("long").as("user_id"), col("ts"),
          col("value").cast("double").as("value")),
      gap)
}
