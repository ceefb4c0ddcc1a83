package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Model, OutMessage}

/** The reference's per-collection dataflow (SURVEY.md §2/§3), re-expressed as
  * declarative DataFrame transforms over the change-event envelope:
  *
  *   source → F1 publishable filter → P1 extract → P3 subject → P4 msgId →
  *   P2 serialize → Dataset[OutMessage] → sink (K1) + token commit (K2)
  *
  * Each step is a pure `DataFrame => DataFrame` so Catalyst sees one logical
  * plan and can fuse everything into a single whole-stage-codegen'd map —
  * the Spark-native equivalent of the reference's hand-written per-event loop
  * (internal/mongo/client.go:217-257), but vectorized and partition-parallel.
  */
object CdcPipeline {

  /** F1 — keep only publishable ops (internal/mongo/client.go:33-38,231-237). */
  def filterPublishable(events: DataFrame): DataFrame =
    events.filter(col("operationType").isin(Model.PublishableOps: _*))

  /** Events before the first invalidate, in token order — the exact set
    * the reference would have processed before breaking the watch loop.
    * A broadcast 1-row cross join against the min invalidate token
    * (`cut`, NULL when there is none, so every row passes) plus a token
    * filter. The streaming sink applies the same cut at its epoch commit
    * ([[graft.sinks.MessageSink]]); this batch form is its replay model.
    */
  def truncateAtInvalidate(events: DataFrame): DataFrame = {
    val cut = events.filter(col("operationType") === Model.InvalidateOp)
      .agg(min(col("_id._data")).as("cut"))
    events.join(broadcast(cut), lit(true), "cross")
      .filter(col("cut").isNull || col("_id._data") < col("cut"))
      .drop("cut")
  }

  /** P3 — subject routing key `<STREAM>.<operationType>`
    * (internal/mongo/client.go:239).
    */
  def withSubject(streamName: String)(events: DataFrame): DataFrame =
    events.withColumn("subject",
      concat_ws(".", lit(streamName), col("operationType")))

  /** P4 — msgId := resume token of the event (client.go:219,240; the
    * JetStream dedup key, README.md:124-127).
    */
  def withMsgId(events: DataFrame): DataFrame =
    events.withColumn("msgId", col("_id._data"))

  /** P2 — serialize the whole envelope to relaxed Extended JSON
    * (client.go:222-225): `$date`/`$timestamp` wrappers for envelope
    * times, opaque document fields embedded verbatim
    * (graft.functions.ToExtendedJson; README.md:95-97 contract).
    */
  def withPayload(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    events.withColumn("data", ColumnBridge.column(
      graft.functions.ToExtendedJson(ColumnBridge.expression(
        struct(events.columns.map(col).toIndexedSeq: _*)))))
  }

  /** Full transform: change-event envelope → Dataset[OutMessage].
    * This is the reference's steady-state loop as one Catalyst plan.
    */
  def toMessages(spark: SparkSession, streamName: String)(
      events: DataFrame): Dataset[OutMessage] = {
    import spark.implicits._
    // Serialize FIRST: the payload is the raw envelope exactly as received
    // (client.go:222 marshals cs.Current before subject/msgId are derived) —
    // routing fields must not leak into the published document.
    val piped = withMsgId(withSubject(streamName)(
      withPayload(filterPublishable(events))))
    piped.select(col("subject"), col("msgId"), col("data")).as[OutMessage]
  }

  /** The DSv2-sink projection: the same serialize-first chain as
    * [[toMessages]], but invalidate rows are RETAINED and flagged by `op`
    * (the sink applies the F2 cut at its epoch commit, where it sees the
    * whole batch — [[graft.sinks.MessageSink]]). Non-publishable ops other
    * than invalidate are dropped here, exactly like filterPublishable.
    */
  def toSinkRows(streamName: String)(events: DataFrame): DataFrame =
    withMsgId(withSubject(streamName)(withPayload(
      events.filter(col("operationType")
        .isin((Model.PublishableOps :+ Model.InvalidateOp): _*)))))
      .select(col("subject"), col("msgId"), col("data"),
        col("operationType").as("op"))

  /** S2/A1 — top-1 resume-token lookup (internal/mongo/client.go:187-199):
    * latest committed token by insertion order. `max_by` avoids a sort —
    * a single-pass aggregate (Catalyst plans partial + final agg, no
    * TakeOrdered needed).
    */
  def latestToken(tokens: DataFrame): DataFrame =
    tokens.agg(
      max(col("_id")).as("last_id"),
      expr("max_by(value, _id)").as("value"))

  /** K1 dedup shape — drop duplicate msgIds keeping the first-by-token-order
    * occurrence. Deterministic (groupBy+min_by), unlike bare dropDuplicates.
    */
  def dedupByMsgId(messages: DataFrame): DataFrame =
    messages.groupBy(col("msgId")).agg(
      expr("min_by(subject, msgId)").as("subject"),
      expr("min_by(data, msgId)").as("data"))
    .select("subject", "msgId", "data")

  /** Latest state per (stream, documentKey) of published messages: the
    * max-msgId event's op and payload. Reads only published fields: op is
    * the subject's final segment, stream the prefix before it, key the
    * payload's documentKey (rows without one are dropped).
    *
    * State is PER COLLECTION, like the reference's: the group key pairs
    * the stream prefix with the documentKey, so identical keys from
    * different collections (the C1 fan-out shape feeding one consumer)
    * never merge. The batch [[stateView]] and its streaming twin
    * ([[graft.streaming.StreamingStateView]]) both run this aggregation.
    */
  def latestPerKey(messages: DataFrame): DataFrame =
    messages
      .withColumn("op", element_at(split(col("subject"), "\\."), -1))
      // subject = "<STREAM>.<op>" — strip the final segment, keeping any
      // dots inside the stream name itself
      .withColumn("stream",
        expr("substring(subject, 1, length(subject) - length(op) - 1)"))
      .withColumn("key", get_json_object(col("data"), "$.documentKey"))
      .filter(col("key").isNotNull)
      .groupBy(col("stream"), col("key"))
      .agg(
        max(col("msgId")).as("last_msg_id"),
        expr("max_by(op, msgId)").as("last_op"),
        expr("max_by(data, msgId)").as("doc"))

  /** Consumer-side materialized view over the PUBLISHED stream: the table
    * a downstream consumer of the NATS messages converges to. msgId dedup
    * first (the JetStream Nats-Msg-Id exactly-once view, README.md:124-127
    * — so at-least-once re-publishes cannot change the result), then
    * [[latestPerKey]] with delete semantics (the per-key last-event state
    * the acceptance tests assert, update_test.go:52-56, delete_test.go:50).
    * Two keyed shuffles (msgId, then key), no window/sort.
    */
  def stateView(messages: DataFrame): DataFrame =
    latestPerKey(dedupByMsgId(messages))
      .filter(col("last_op") =!= "delete")

  /** A3 — health roll-up (internal/server/health.go:13-29): per-component
    * UP/DOWN from a monitors DataFrame(name, ok).
    */
  def healthRollup(monitors: DataFrame): DataFrame =
    monitors.groupBy(col("name")).agg(
      when(min(when(col("ok"), 1).otherwise(0)) === 1, lit("UP"))
        .otherwise(lit("DOWN")).as("status"))
}
