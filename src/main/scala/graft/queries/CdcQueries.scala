package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.EventsCdc
import Tables._

/** Oracle harness for the reference's CDC operator surface (SURVEY.md §2),
  * expressed over the driver's `events` table which stands in for the live
  * change stream.
  *
  * Mapping: `event_type` plays `operationType`; the publishable set
  * {click,purchase,signup,view} mirrors {insert,update,replace,delete}
  * (internal/mongo/client.go:33-38) and `error` plays the
  * non-publishable/invalidate class; `event_id` is the monotone resume
  * token (`_id._data`); `user_id` is the watched-collection analog for
  * per-collection fan-out (pkg/connector/connector.go:128-174).
  *
  * Every body is: PRODUCT operator (graft.operators.EventsCdc — no global
  * sorts, scale-safe plans) + a deterministic ORDER BY added HERE, solely
  * so the driver's hash comparison sees a stable row order. The sort is
  * harness overhead, not part of the operator contract.
  */
object CdcQueries {

  /** Variant-at-rest derivative table (round-14 VERDICT #5): the envelope
    * parsed ONCE into a VariantType column and WRITTEN with Spark 4's
    * shredded-variant layout (`writeShredding` + `inferShreddingSchema`),
    * so typed `variant_get` paths on the read side prune to shredded
    * sub-columns and equality predicates push into the parquet scan
    * (PushVariantIntoScan) — the 100 TB layout SURVEY.md §1.2 names for
    * the reference's opaque BSON payloads (internal/mongo/client.go:222),
    * vs cdc_variant_extract's per-query parse. Built once per JVM per SF
    * dir into a fresh temp directory (never stale across testdata
    * regenerations; the oracle never reads it — it replays from the
    * source columns).
    */
  private val variantDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def variantTable(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    variantDirs.computeIfAbsent(dir, _ => {
      val out = java.nio.file.Files
        .createTempDirectory("graft-variant").toString + "/events_variant"
      // The shredding WRITE confs are one-shot: the write below is eager,
      // so snapshot and restore them around it instead of leaking
      // shredding semantics into every later write in the shared session
      // (ADVICE r14). The READ confs live in cdc_variant_at_rest, where
      // the scan is planned.
      val writeConfs = Seq("spark.sql.variant.writeShredding.enabled",
        "spark.sql.variant.inferShreddingSchema")
      val saved = writeConfs.map(k => k -> s.conf.getOption(k))
      try {
        writeConfs.foreach(s.conf.set(_, "true"))
        load(s, dir, "events")
          .select(col("event_id"),
            expr("""parse_json(concat('{"e":',
              to_json(struct(event_id as id, event_type as t)),
              ',"p":', coalesce(props, 'null'), '}'))""").as("v"))
          .write.mode("overwrite").parquet(out)
      } finally saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
      out
    })

  val queries: Map[String, Q] = Map(
    // F1 — publishable-op filter (internal/mongo/client.go:231-237)
    "cdc_filter_publishable" -> ((s, dir) =>
      EventsCdc.filterPublishable(load(s, dir, "events"))
        .select(col("event_id"), col("event_type"), col("user_id"))
        .orderBy(col("event_id"))),

    // P1-P4 + K1 shape — subject routing, msg-id, serialized payload
    // (internal/mongo/client.go:219-240, internal/nats/client.go:36-40)
    "cdc_route_messages" -> ((s, dir) =>
      EventsCdc.routeMessages(load(s, dir, "events"))
        .orderBy(col("msg_id"))),

    // S2/A1 — top-1 resume-token lookup (internal/mongo/client.go:187-199)
    "cdc_token_top1" -> ((s, dir) =>
      EventsCdc.latestToken(load(s, dir, "events"))),

    // S2 per collection — one resume token per watched collection
    "cdc_tokens_per_collection" -> ((s, dir) =>
      EventsCdc.tokensPerCollection(load(s, dir, "events"))
        .orderBy(col("user_id"))),

    // A2 — prometheus-style counters per subject
    // (internal/prometheus/prometheus.go:16-129)
    "cdc_metrics_counters" -> ((s, dir) =>
      EventsCdc.metricsCounters(load(s, dir, "events"))
        .orderBy(col("subject"))),

    // A2 — duration-histogram shape (prometheus.go:16-27): bucketed counts
    "cdc_metrics_histogram" -> ((s, dir) =>
      load(s, dir, "events").groupBy(
        col("event_type"),
        floor(col("value") / lit(50.0)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("bucket"))),

    // A3 — health roll-up (internal/server/health.go:13-29)
    "cdc_health_rollup" -> ((s, dir) =>
      EventsCdc.healthRollup(load(s, dir, "events"))
        .orderBy(col("component"))),

    // F2 — invalidate terminator (internal/mongo/client.go:232-236)
    "cdc_invalidate_cutoff" -> ((s, dir) =>
      EventsCdc.invalidateCutoff(load(s, dir, "events"))
        .orderBy(col("user_id"))),

    // K1 dedup — deterministic first-occurrence per dedup key
    // (JetStream Nats-Msg-Id semantics, README.md:124-127)
    "cdc_dedup_first" -> ((s, dir) =>
      EventsCdc.dedupFirst(load(s, dir, "events"))
        .orderBy(col("user_id"), col("event_type"))),

    // Ordering guarantee — per-collection total order (SURVEY.md §2.8)
    "cdc_ordered_replay" -> ((s, dir) =>
      EventsCdc.orderedReplay(load(s, dir, "events"))
        .orderBy(col("event_id"))),

    // Composite: the full steady-state pipeline (§3.1 step 5) folded to
    // per-subject publish stats — filter → route → serialize → aggregate
    "cdc_pipeline_e2e" -> ((s, dir) =>
      EventsCdc.pipelineStats(load(s, dir, "events"))
        .orderBy(col("subject"))),

    // Consumer-side state materialization — change log → latest state per
    // (collection, document key); deletes drop the key (the per-key
    // last-event semantics the reference's acceptance tests assert over
    // the published stream, test/acceptance/update_test.go:52-56,
    // delete_test.go:50). One shuffle, one max_by aggregate, no window.
    "cdc_materialize_state" -> ((s, dir) =>
      EventsCdc.materializeState(load(s, dir, "events"))
        .orderBy(col("user_id"), col("doc_key"))),

    // P2 — relaxed Extended JSON payloads (client.go:222-225; type
    // wrappers per README.md:95-97): clusterTime → $timestamp{t,i},
    // wallTime → $date ISO-millis, opaque props embedded verbatim. The
    // envelope is built from the events analog, rendered by the native
    // ToExtendedJson expression inside codegen.
    "cdc_extjson_messages" -> ((s, dir) => {
      EventsCdc.filterPublishable(load(s, dir, "events"))
        .select(
          concat(lit("EVENTS."), col("event_type")).as("subject"),
          col("event_id").cast("string").as("msg_id"),
          expr(
            """to_extended_json(struct(
                 struct(cast(event_id as string) as _data) as _id,
                 event_type as operationType,
                 ts as clusterTime,
                 ts as wallTime,
                 props as fullDocument))""").as("data"))
        .orderBy(col("msg_id"))
    }),

    // Variant-typed document access (SURVEY.md §1.2 flags Spark 4's
    // VariantType as the native fit for the reference's opaque BSON
    // payloads, internal/mongo/client.go:222): the envelope JSON is
    // parsed ONCE into a variant and fields are read with TYPED
    // variant_get paths — at rest this is the layout that gives shredded
    // pushdown on a stored variant column, vs get_json_object re-parsing
    // the string per field. The nested '$.e.*' paths exercise depth; the
    // try_variant_get probe pins missing-path → NULL (not error)
    // semantics under ANSI mode. Scan pruning to the three used columns
    // is pinned in VariantSpec. The `e` sub-object goes through
    // to_json(struct(...)) so quotes/backslashes in event_type are escaped
    // (ADVICE r13 — raw concat broke on such values); props is embedded
    // raw because it IS a JSON document column (the data contract the
    // oracle relies on too), with NULL mapped to JSON null.
    "cdc_variant_extract" -> ((s, dir) =>
      load(s, dir, "events")
        .select(col("event_id"),
          expr("""parse_json(concat('{"e":',
            to_json(struct(event_id as id, event_type as t)),
            ',"p":', coalesce(props, 'null'), '}'))""").as("v"))
        .select(col("event_id"),
          expr("variant_get(v, '$.e.id', 'bigint')").as("eid"),
          expr("variant_get(v, '$.e.t', 'string')").as("etype"),
          expr("variant_get(v, '$.p.k', 'bigint')").as("k"),
          coalesce(expr("try_variant_get(v, '$.p.missing', 'bigint')"),
            lit(-1L)).as("miss"))
        .orderBy(col("event_id"))),

    // Variant AT REST (see variantTable): read the STORED shredded
    // variant table; the '$.e.t' equality pushes into the parquet scan as
    // a shredded-column predicate and ReadSchema prunes below the variant
    // root to exactly the two referenced paths (struct<0:bigint,1:string>
    // — pinned in PlanSpec). The oracle replays from the source columns.
    "cdc_variant_at_rest" -> ((s, dir) => {
      // The READ confs cannot be snapshot-restored here: the returned
      // frame is lazy and the scan is (re)planned at every consumer
      // action, so unsetting them after construction would silently turn
      // the shredded pushdown off at execution time. They stay session-
      // scoped BY DESIGN — both only affect scans of variant-typed
      // columns, and this derivative table is the surface's only variant
      // column, so no other query's semantics can change (ADVICE r14
      // adjudication; the leaking WRITE confs are now scoped in
      // variantTable).
      s.conf.set("spark.sql.variant.allowReadingShredded", "true")
      s.conf.set("spark.sql.variant.pushVariantIntoScan", "true")
      s.read.parquet(variantTable(s, dir))
        .filter(expr("variant_get(v, '$.e.t', 'string')") === "purchase")
        .select(col("event_id"),
          expr("variant_get(v, '$.p.k', 'bigint')").as("k"))
        .orderBy(col("event_id"))
    })
  )

  val oracle: Map[String, String] = Map(
    "cdc_filter_publishable" ->
      """SELECT event_id, event_type, user_id FROM events
         WHERE event_type IN ('click','purchase','signup','view')
         ORDER BY event_id""",
    "cdc_route_messages" ->
      """SELECT 'EVENTS.' || event_type AS subject,
                CAST(event_id AS VARCHAR) AS msg_id,
                '{"event_id":' || CAST(event_id AS VARCHAR)
                  || ',"operationType":"' || event_type
                  || '","props":' || props || '}' AS data
         FROM events
         WHERE event_type IN ('click','purchase','signup','view')
         ORDER BY msg_id""",
    "cdc_token_top1" ->
      """SELECT MAX(event_id) AS last_event_id,
                ARG_MAX(event_type, event_id) AS last_event_type
         FROM events""",
    "cdc_materialize_state" ->
      s"""WITH e AS (
           SELECT user_id,
                  CAST(regexp_extract(props, '${EventsCdc.DocKeyPattern}', 1)
                       AS BIGINT) AS doc_key,
                  event_id, event_type, props
           FROM events
           WHERE event_type IN ('click','purchase','signup','view')
             AND regexp_matches(props, '${EventsCdc.DocKeyPattern}')),
         l AS (
           SELECT user_id, doc_key,
                  MAX(event_id) AS last_event_id,
                  ARG_MAX(event_type, event_id) AS last_op,
                  ARG_MAX(props, event_id) AS doc
           FROM e GROUP BY user_id, doc_key)
         SELECT user_id, doc_key, last_event_id, last_op, doc
         FROM l WHERE last_op <> 'view'
         ORDER BY user_id, doc_key""",
    "cdc_tokens_per_collection" ->
      """SELECT user_id, MAX(event_id) AS last_event_id,
                ARG_MAX(event_type, event_id) AS last_event_type
         FROM events GROUP BY user_id ORDER BY user_id""",
    "cdc_metrics_counters" ->
      """SELECT 'EVENTS.' || event_type AS subject,
                COUNT(*) AS n_published,
                CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
         FROM events GROUP BY event_type ORDER BY subject""",
    "cdc_metrics_histogram" ->
      """SELECT event_type, CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket,
                COUNT(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY event_type, bucket""",
    "cdc_health_rollup" ->
      """SELECT user_id AS component,
                CASE WHEN COUNT(CASE WHEN event_type = 'error' THEN 1 END) = 0
                     THEN 'UP' ELSE 'DOWN' END AS status
         FROM events GROUP BY user_id ORDER BY component""",
    "cdc_invalidate_cutoff" ->
      """WITH inv AS (
           SELECT user_id, MIN(event_id) AS inv_id FROM events
           WHERE event_type = 'error' GROUP BY user_id)
         SELECT e.user_id, COUNT(*) AS n_before
         FROM events e JOIN inv ON e.user_id = inv.user_id
         WHERE e.event_id < inv.inv_id
         GROUP BY e.user_id ORDER BY e.user_id""",
    "cdc_dedup_first" ->
      """SELECT user_id, event_type, MIN(event_id) AS first_event_id
         FROM events GROUP BY user_id, event_type
         ORDER BY user_id, event_type""",
    "cdc_ordered_replay" ->
      """SELECT event_id, user_id,
                CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS seq
         FROM events ORDER BY event_id""",
    "cdc_pipeline_e2e" ->
      """SELECT 'EVENTS.' || event_type AS subject, COUNT(*) AS n,
                MIN(CAST(event_id AS VARCHAR)) AS first_msg,
                MAX(CAST(event_id AS VARCHAR)) AS last_msg
         FROM events
         WHERE event_type IN ('click','purchase','signup','view')
         GROUP BY event_type ORDER BY subject""",
    "cdc_extjson_messages" ->
      """SELECT 'EVENTS.' || event_type AS subject,
                CAST(event_id AS VARCHAR) AS msg_id,
                '{"_id":{"_data":"' || CAST(event_id AS VARCHAR)
                  || '"},"operationType":"' || event_type
                  || '","clusterTime":{"$timestamp":{"t":'
                  || CAST(FLOOR(EPOCH(ts)) AS BIGINT) || ',"i":1}}'
                  || ',"wallTime":{"$date":"'
                  || strftime(ts, '%Y-%m-%dT%H:%M:%S.%g') || 'Z"}'
                  || ',"fullDocument":' || props || '}' AS data
         FROM events
         WHERE event_type IN ('click','purchase','signup','view')
         ORDER BY msg_id""",
    // The variant extraction round-trips the constructed envelope, so the
    // oracle reads the same values straight from the source columns (and
    // the one REAL json path, props.k, through DuckDB's JSON extractor).
    "cdc_variant_extract" ->
      """SELECT event_id, CAST(event_id AS BIGINT) AS eid,
                event_type AS etype,
                CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                CAST(-1 AS BIGINT) AS miss
         FROM events ORDER BY event_id""",
    // cdc_variant_at_rest round-trips the stored shredded envelope; the
    // oracle reads the equivalent values straight off the source columns.
    "cdc_variant_at_rest" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
         FROM events WHERE event_type = 'purchase' ORDER BY event_id"""
  )
}
