package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.CdcPipeline

/** Streaming twin of `CdcPipeline.stateView`: the per-key latest-state
  * table a consumer of the published stream maintains LIVE, not replayed —
  * the reference's acceptance semantics (update_test.go:52-56,
  * delete_test.go:50) as the batch view's aggregation
  * ([[CdcPipeline.latestPerKey]]) run on a stream.
  *
  * Exactly-once state over at-least-once input: the max msgId (= resume
  * token) wins per (stream, documentKey), so a re-published duplicate
  * (same or lower msgId) is a no-op and the state converges to the batch
  * view. Deletes stay in state as tombstones (`live = false`): a late
  * replay of an older event must still lose to the delete. State is one
  * small row per document key; each micro-batch shuffles only its own
  * rows.
  */
object StreamingStateView {

  /** The streaming view: feed a `readStream` of published messages, write
    * with `outputMode("update")`. Each trigger emits the new state of
    * every touched key: stream, key, last_msg_id, last_op, doc, live.
    */
  def stateView(spark: SparkSession, messages: DataFrame): DataFrame =
    CdcPipeline.latestPerKey(messages)
      .withColumn("live", col("last_op") =!= "delete")
}
