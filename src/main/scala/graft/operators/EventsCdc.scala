package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-path CDC operators over the driver's `events` analog table
  * (event_id = resume token, event_type = operationType, user_id = watched
  * collection, props = opaque document). See graft.queries.CdcQueries for
  * the column mapping rationale.
  *
  * NONE of these end in a global sort: ordering semantics at scale are
  * per-collection (window over user_id) or per-partition, never a
  * full-table range shuffle. The oracle harness (CdcQueries) adds a
  * deterministic ORDER BY on top purely for hash comparison — keep that
  * split: a 100 TB pipeline must not pay an Exchange+Sort for output it
  * streams to a sink.
  */
object EventsCdc {

  /** Normalize the event-time column to a canonical TIMESTAMP (micros,
    * UTC session): the driver's testdata has stored `ts` as parquet
    * TIMESTAMP(NANOS) (read as raw long nanos under the legacy
    * nanosAsLong flag) in some generations and as TIMESTAMP(MICROS)
    * (read as TIMESTAMP_NTZ) in others. Accepting either at the load
    * boundary keeps every downstream operator and oracle working across
    * regenerations — exact integer math in both branches, no float.
    */
  def normalizeTs(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    events.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => // legacy nanos → micros → timestamp
        events.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampType) => events
      case Some(_) => // TIMESTAMP_NTZ: UTC session makes the cast lossless
        events.withColumn("ts", col("ts").cast(TimestampType))
      case None => events
    }
  }

  /** Publishable operation analogs — internal/mongo/client.go:33-38. */
  val Publishable: Seq[String] = Seq("click", "purchase", "signup", "view")

  /** The invalidate analog — internal/mongo/client.go:232-236. */
  val InvalidateType = "error"

  /** Document-key extraction pattern over the opaque props payload —
    * shared with the cdc_materialize_state oracle SQL so the engine and
    * the gate can never silently disagree on what the key is. Both Java
    * regex and RE2 read this identically (plain class + group).
    */
  val DocKeyPattern: String = "\"k\": ([0-9]+)"

  /** F1 — publishable-op filter (internal/mongo/client.go:231-237). */
  def filterPublishable(events: DataFrame): DataFrame =
    events.filter(col("event_type").isin(Publishable: _*))

  /** P1–P4 + K1 shape — subject, msgId, serialized payload
    * (internal/mongo/client.go:219-240, internal/nats/client.go:36-40).
    */
  def routeMessages(events: DataFrame, streamName: String = "EVENTS"): DataFrame =
    filterPublishable(events).select(
      concat(lit(streamName + "."), col("event_type")).as("subject"),
      col("event_id").cast("string").as("msg_id"),
      concat(
        lit("{\"event_id\":"), col("event_id").cast("string"),
        lit(",\"operationType\":\""), col("event_type"),
        lit("\",\"props\":"), col("props"), lit("}")).as("data"))

  /** S2/A1 — top-1 resume token (internal/mongo/client.go:187-199): single
    * partial+final aggregate, no sort.
    */
  def latestToken(events: DataFrame): DataFrame =
    events.agg(
      max(col("event_id")).as("last_event_id"),
      expr("max_by(event_type, event_id)").as("last_event_type"))

  /** S2 per collection — one token per watched collection (C1 fan-out). */
  def tokensPerCollection(events: DataFrame): DataFrame =
    events.groupBy(col("user_id")).agg(
      max(col("event_id")).as("last_event_id"),
      expr("max_by(event_type, event_id)").as("last_event_type"))

  /** A2 — per-subject counters (internal/prometheus/prometheus.go:16-129). */
  def metricsCounters(events: DataFrame): DataFrame = {
    import graft.queries.Tables.{exactAvg, moneySum}
    events.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_published"),
      moneySum(col("value")).as("sum_value"),
      exactAvg(col("value")).as("avg_value"))
      .select(
        concat(lit("EVENTS."), col("event_type")).as("subject"),
        col("n_published"), col("sum_value"), col("avg_value"))
  }

  /** A3 — health roll-up (internal/server/health.go:13-29). */
  def healthRollup(events: DataFrame): DataFrame =
    events.groupBy(col("user_id").as("component")).agg(
      when(count(when(col("event_type") === InvalidateType, 1)) === 0,
        lit("UP")).otherwise(lit("DOWN")).as("status"))

  /** F2 — events before each collection's first invalidate
    * (internal/mongo/client.go:232-236); tiny cutoff side is broadcast.
    */
  def invalidateCutoff(events: DataFrame): DataFrame = {
    val inv = events.filter(col("event_type") === InvalidateType)
      .groupBy(col("user_id")).agg(min(col("event_id")).as("inv_id"))
    events.join(broadcast(inv), Seq("user_id"))
      .filter(col("event_id") < col("inv_id"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_before"))
  }

  /** K1 dedup — deterministic first occurrence per dedup key. */
  def dedupFirst(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("first_event_id"))

  /** Per-collection ordering (SURVEY.md §2.8): sequence numbers within each
    * collection — window shuffle on user_id only, no global sort.
    */
  def orderedReplay(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    events.select(col("event_id"), col("user_id"),
      row_number().over(w).cast("long").as("seq"))
  }

  /** Per-collection running totals + sequence numbers (event-time metrics
    * family, A2): window shuffle on user_id only — no global sort.
    */
  def runningTotals(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    events.select(col("event_id"), col("user_id"),
      sum(col("value").cast("decimal(18,2)"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double").as("running_value"),
      row_number().over(w).cast("long").as("seq"))
  }

  /** Gap sessions per user via Spark's `session_window(ts, gap)`: row
    * count and exact money sum per session, the start rendered as a
    * string for engine-exact compare. The batch `events_session_windows`
    * query and its streaming twin
    * ([[graft.streaming.StreamingSessionization]]) both run it.
    */
  def sessionWindows(events: DataFrame, gap: String): DataFrame = {
    import graft.queries.Tables.moneySum
    events.groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n"), col("sum_value"))
  }

  /** Consumer-side state materialization — compact the change log into
    * "latest state per document": the table a downstream consumer of the
    * published stream maintains (the reference's acceptance tests assert
    * exactly this per-key last-event semantics over the NATS stream,
    * test/acceptance/update_test.go / delete_test.go). Op mapping follows
    * the bench envelope: click/purchase/signup upsert, view deletes.
    *
    * Scale shape: ONE shuffle on the (collection, document-key) pair and a
    * single max_by partial aggregate — no window, no sort; 100 TB of
    * change log compacts to |live keys| rows.
    */
  def materializeState(events: DataFrame): DataFrame =
    filterPublishable(events)
      // key-less documents can't be materialized — drop them BEFORE the
      // extract+cast, so both engines (ANSI Spark and the DuckDB oracle,
      // whose CAST('' AS BIGINT) would otherwise hard-error) see the
      // identical row set and the identical failure mode
      .filter(col("props").rlike(DocKeyPattern))
      .withColumn("doc_key",
        regexp_extract(col("props"), DocKeyPattern, 1).cast("long"))
      .groupBy(col("user_id"), col("doc_key"))
      .agg(
        max(col("event_id")).as("last_event_id"),
        expr("max_by(event_type, event_id)").as("last_op"),
        expr("max_by(props, event_id)").as("doc"))
      .filter(col("last_op") =!= "view") // delete analog: key leaves state

  /** Events table → change-event envelopes: the fixture transform the
    * bench and the fault-injection matrix drive through the full streaming
    * path (DSv2 source → filter → route → publish → commit). event_id
    * becomes the resume token (12-digit zero-padded, so lexicographic
    * token order = numeric event order); event types map onto the
    * publishable op set, with 'error' → 'drop' (silently skipped — the
    * non-publishable slice of the stream).
    */
  def toEnvelopes(events: DataFrame): DataFrame =
    normalizeTs(events).select(
      struct(lpad(col("event_id").cast("string"), 12, "0").as("_data"))
        .as("_id"),
      expr("""CASE event_type WHEN 'click' THEN 'insert'
              WHEN 'purchase' THEN 'update'
              WHEN 'signup' THEN 'replace'
              WHEN 'view' THEN 'delete'
              ELSE 'drop' END""").as("operationType"),
      col("ts").as("clusterTime"),
      col("ts").as("wallTime"),
      struct(lit("bench").as("db"), lit("events").as("coll")).as("ns"),
      col("props").as("documentKey"),
      col("props").as("fullDocument"),
      lit(null).cast("string").as("fullDocumentBeforeChange"),
      lit(null).cast("string").as("updateDescription"))

  /** Composite steady-state pipeline folded to per-subject publish stats. */
  def pipelineStats(events: DataFrame): DataFrame =
    filterPublishable(events)
      .select(
        concat(lit("EVENTS."), col("event_type")).as("subject"),
        col("event_id").cast("string").as("msg_id"))
      .groupBy(col("subject")).agg(
        count(lit(1)).as("n"),
        min(col("msg_id")).as("first_msg"),
        max(col("msg_id")).as("last_msg"))
}
