package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Model
import graft.operators.CdcPipeline

/** The reference's streaming runtime (SURVEY.md §2/§3), Spark-native:
  *
  *   S1  change-stream source  → the DSv2 [[graft.sources.ChangeStreamSource]]
  *       over a parquet directory of change-event envelopes (the
  *       zero-egress stand-in for a MongoDB change stream; offsets =
  *       resume tokens, checkpointed)
  *   F1  publishable filter, P1–P4 projections → the reader's `ops` option
  *       + CdcPipeline.toSinkRows
  *   F2  invalidate → epoch truncated at the invalidate, query stopped
  *       (internal/mongo/client.go:232-236)
  *   K1  publish → staged files renamed into the `messages` table at the
  *       epoch commit of the DSv2 [[graft.sinks.MessageSink]]
  *   K2  token commit → append to the `tokens` table AFTER the publish, in
  *       the same epoch commit — the commit point
  *       (internal/mongo/client.go:248-254)
  *   C1  per-collection fan-out → one StreamingQuery per config
  *   C2/C3 resume/replay → Structured Streaming checkpoint; a replayed
  *       epoch whose token was never committed re-publishes (the
  *       reference's at-least-once duplicate window, README.md:118-127);
  *       a replayed epoch whose token IS committed is skipped (idempotent)
  *   C4  graceful shutdown → stopAll()
  *
  * Delivery contract (pinned by StreamingCdcSpec and MessageSinkSpec): the
  * raw `messages` table is at-least-once exactly like the reference —
  * duplicates appear iff a crash lands between publish and token commit;
  * the deduplicated view (CdcPipeline.dedupByMsgId, = JetStream
  * Nats-Msg-Id consumer dedup) is exactly-once. Per-collection order is
  * (batch_id, msgId).
  *
  * Scale: each epoch is one narrow codegen'd map over the envelope into
  * per-partition staging files; the commit is driver-side renames plus a
  * one-row token write, and runs no Spark job — on the capped path too,
  * whose trim decides from parquet footer row counts and compacts only
  * past the cap, and at a restart ([[EpochTable]]). Many collections =
  * many independent queries (C1),
  * started at once like the reference's goroutine-per-collection, but
  * each partition-parallel.
  */
object StreamingCdc {

  final case class StreamConfig(
      name: String,                 // watched-collection analog
      inputDir: String,             // envelope parquet directory (S1)
      messagesDir: String,          // K1 sink table
      tokensDir: String,            // K2 token table
      checkpointDir: String,
      streamName: Option[String] = None, // P5 default: upper(name)
      tokensCapped: Boolean = false,     // D1 capped-collection analog
      tokensMaxRows: Int = 1024,
      // D2 — collMod changeStreamPreAndPostImages (client.go:166-173):
      // when disabled, pre-images are unavailable and
      // fullDocumentBeforeChange publishes as absent (update_test.go:52-56
      // version gate).
      preAndPostImages: Boolean = true,
      // source admission control: row budget per trigger (whole files in
      // token order until the budget is hit; the first file is always
      // admitted). None = all available.
      maxRowsPerTrigger: Option[Long] = None) {
    def resolvedStreamName: String =
      streamName.getOrElse(Model.defaultStreamName(name))
  }

  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

  /** tokens-table schema: one row per committed micro-batch (K2). */
  val tokenSchema: StructType = StructType(Seq(
    StructField("batch_id", LongType, nullable = false),
    StructField("value", StringType, nullable = true), // last resume token
    StructField("n_published", LongType, nullable = false)))

  val messagesSchema: StructType = StructType(Seq(
    StructField("subject", StringType, nullable = false),
    StructField("msgId", StringType, nullable = false),
    StructField("data", StringType, nullable = false),
    StructField("batch_id", LongType, nullable = false)))

  /** F2 state: query name → invalidate seen (stop requested). */
  private val invalidated = new ConcurrentHashMap[String, java.lang.Boolean]()

  /** K4 — per-collection published-message counter (post-filter, the
    * reference's nats_messages_published_total semantics,
    * prometheus.go:94-119). Read by Observability.
    */
  val publishedTotal = new ConcurrentHashMap[String, java.lang.Long]()

  def wasInvalidated(name: String): Boolean =
    invalidated.getOrDefault(name, false)

  /** F2 DURABILITY (found by StreamFuzz v2, seeds 11/40/54/62): the
    * in-memory invalidate flag dies with the process, and once the
    * invalidate batch's token is committed the ledger early-return skips
    * re-observing it — so a restart after an unrelated abort (a sibling's
    * errgroup cancel, a trim-window crash) would resume publishing PAST
    * the invalidate. The reference never resumes an invalidated watch
    * (resuming from an invalidate token is itself invalid in MongoDB;
    * watcher.go stops for good) — mirror that with a durable marker file
    * in the tokens dir, written wherever the in-memory flag is set.
    * Underscore-prefixed: invisible to Spark's listing, to
    * [[EpochTable.parts]] and to tableExists' *.parquet probe.
    */
  private def invalidatedMarker(tokensDir: String) =
    new org.apache.hadoop.fs.Path(tokensDir, "_invalidated")

  private[graft] def markInvalidatedAt(spark: SparkSession, name: String,
      tokensDir: String): Unit = {
    invalidated.put(name, true)
    val p = invalidatedMarker(tokensDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) fs.create(p, true).close()
  }

  private def hasInvalidatedMarker(spark: SparkSession,
      cfg: StreamConfig): Boolean = {
    val p = invalidatedMarker(cfg.tokensDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Fault-injection seam (the test/faultinjection layer's analog,
    * restart_mongo_test.go / restart_nats_test.go): invoked between
    * publish (K1) and token commit (K2) — the at-least-once window.
    * Throwing here simulates a storage blip after the publish landed but
    * before the commit point; replay must re-publish (observable
    * duplicates) and converge. No-op in production.
    */
  @volatile private[graft]
  var faultpoint: (String, Long) => Unit = (_, _) => ()

  /** S2 — latest committed token: the value of the max-batch_id row,
    * read driver-side through [[EpochTable.newest]].
    */
  def latestToken(spark: SparkSession, tokensDir: String): Option[String] =
    EpochTable.newest(spark, tokensDir, tokenSchema).headOption
      .flatMap(r => Option(r.getString(1)))

  /** Committed batch ids — the idempotence ledger for replay skips.
    * Read from the tokens table ONCE per run (start() drops the cache
    * entry), driver-side, then maintained in memory: re-reading it every
    * micro-batch would be quadratic over an uncapped stream's lifetime.
    * Trimming only removes OLD ids from disk; the in-memory superset stays
    * correct for membership.
    */
  private val ledgerCache =
    new ConcurrentHashMap[String, java.util.Set[java.lang.Long]]()

  private[graft] def committedBatchIds(spark: SparkSession, name: String,
      tokensDir: String): java.util.Set[java.lang.Long] =
    ledgerCache.computeIfAbsent(tokensDir, _ =>
      Observability.CommandMetrics.time(name, "tokens_read") {
        val s = ConcurrentHashMap.newKeySet[java.lang.Long]()
        EpochTable.readRows(spark,
            EpochTable.parts(spark, tokensDir).filter(_.rows > 0).map(_.path),
            StructType(Seq(tokenSchema("batch_id"))))
          .foreach(r => s.add(r.getLong(0)))
        s
      })

  /** Driver-side single-row token write (K2). */
  private[graft] def writeTokenRow(spark: SparkSession, tokensDir: String,
      batchId: Long, value: String, nPublished: Long): Unit =
    EpochTable.writeRows(spark, tokensDir, batchId, tokenSchema,
      Seq(Row(batchId, value, nPublished)))

  /** D1 capped-collection analog: keep only the newest tokensMaxRows rows.
    * Both capped and uncapped converge to the same latestToken answer
    * (mirrors the dual-run acceptance tests, insert_test.go:55-61).
    *
    * Decided from the footer row counts and compacted driver-side over at
    * most cap + 1 tiny rows (plus the copies a crash in the compaction
    * leaves, which the dedup here folds back): no Spark job.
    */
  private[graft] def trimTokensAt(spark: SparkSession, name: String,
      tokensDir: String, tokensMaxRows: Int): Unit = {
    val old = EpochTable.parts(spark, tokensDir)
    if (old.map(_.rows).sum > tokensMaxRows) {
      val kept = EpochTable.readRows(spark, old.map(_.path), tokenSchema)
        .sortBy(_.getLong(0))(Ordering[Long].reverse).distinctBy(_.getLong(0))
        .take(tokensMaxRows)
      EpochTable.replace(spark, old) {
        EpochTable.writeRows(spark, tokensDir,
          kept.headOption.fold(0L)(_.getLong(0)), tokenSchema, kept)
      } {
        // fault-injection hook in the trim's duplicate window (batchId -1
        // marks "inside trim"); StreamFuzz kills here to probe recovery
        // across restarts
        faultpoint(name, -1L)
      }
    }
  }

  /** Start one per-collection query (C1 unit). D1/D3 setup runs first,
    * idempotently, like connector.Run (pkg/connector/connector.go:125-153).
    */
  def start(spark: SparkSession, cfg: StreamConfig,
      availableNow: Boolean = false): StreamingQuery = {
    Ddl.ensureTable(spark, cfg.messagesDir, messagesSchema)
    Ddl.ensureTable(spark, cfg.tokensDir, tokenSchema)
    // F2 durability: a collection whose stream saw an invalidate stays
    // terminated across restarts (the sink's entry check publishes
    // nothing; runAll's poll stops the query) — the marker survives where
    // the in-memory flag does not.
    if (hasInvalidatedMarker(spark, cfg)) invalidated.put(cfg.name, true)
    else invalidated.remove(cfg.name)
    // Re-seed the ledger cache from disk at (re)start: another process may
    // have committed since, and tests recreate dirs at the same path.
    ledgerCache.remove(cfg.tokensDir)
    val r = spark.readStream
      .format(classOf[graft.sources.ChangeStreamSource].getName)
      // F1 in the READER: Spark never runs filter pushdown on streaming
      // DSv2 scans, so the op set rides in as a source option (see
      // ChangeStreamSource) — the reader skips non-publishable rows before
      // materializing them. Invalidate rows are kept for the F2 cut.
      .option("ops",
        (Model.PublishableOps :+ Model.InvalidateOp).mkString(","))
    cfg.maxRowsPerTrigger.foreach(n =>
      r.option("maxRowsPerTrigger", n.toString))
    val src = r.load(cfg.inputDir)
    // D2 — pre/post images disabled ⇒ the source never delivers pre-images.
    val effective =
      if (cfg.preAndPostImages) src
      else src.withColumn("fullDocumentBeforeChange", lit(null).cast("string"))
    // K1/K2 through the DSv2 StreamingWrite (graft.sinks.MessageSink):
    // invalidate rows ride along flagged by `op`, and the F2 cut + token
    // commit happen in the sink's epoch commit. Per-file token order comes
    // from the sink's DataWriter (Spark's analyzer rejects any Sort on a
    // streaming plan).
    val w = CdcPipeline.toSinkRows(cfg.resolvedStreamName)(effective)
      .writeStream
      .queryName(cfg.name)
      .option("checkpointLocation", cfg.checkpointDir)
      .format(classOf[graft.sinks.MessageSink].getName)
      .option("path", cfg.messagesDir)
      .option("tokensDir", cfg.tokensDir)
      .option("name", cfg.name)
      .option("capped", cfg.tokensCapped.toString)
      .option("maxTokRows", cfg.tokensMaxRows.toString)
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** C1 — fan out one query per collection and block until all finish or
    * one sees an invalidate (then stop that one, like `resume=false`).
    * First hard failure propagates and stops every sibling (errgroup
    * semantics, pkg/connector/connector.go:128-174), a failed start too.
    */
  def runAll(spark: SparkSession, cfgs: Seq[StreamConfig],
      availableNow: Boolean = false, pollMs: Long = 25L): Unit =
    try {
      val queries = startAll(spark, cfgs, availableNow)
      while (queries.values.exists(_.isActive)) {
        queries.foreach { case (name, q) =>
          if (q.isActive && wasInvalidated(name)) q.stop() // F2 → C4
          // errgroup semantics (connector.go:128-174): the first hard
          // failure cancels every sibling query.
          if (q.exception.nonEmpty) queries.values.foreach { s =>
            if (s.isActive) s.stop()
          }
        }
        Thread.sleep(pollMs)
      }
      queries.values.foreach(_.awaitTermination()) // surface errors (C3)
    } finally stopAll(spark) // C4

  /** Start every query at once, like the reference's goroutine per
    * collection: a pool of min(#collections, cores) threads, shut down
    * once the starts return. Every start finishes before this returns or
    * throws, so none can start after the caller's stopAll; the first
    * failed start (in config order) then propagates.
    */
  private def startAll(spark: SparkSession, cfgs: Seq[StreamConfig],
      availableNow: Boolean): Map[String, StreamingQuery] = {
    import java.util.concurrent.{Callable, ExecutionException, Executors}
    import scala.jdk.CollectionConverters._
    val pool = Executors.newFixedThreadPool(math.max(1,
      math.min(cfgs.size, Runtime.getRuntime.availableProcessors)))
    val starts = cfgs.map(c => (() => c.name -> start(spark, c,
      availableNow)): Callable[(String, StreamingQuery)])
    val started =
      try pool.invokeAll(starts.asJava).asScala finally pool.shutdown()
    started.map { f =>
      try f.get() catch { case e: ExecutionException => throw e.getCause }
    }.toMap
  }

  /** C4 — graceful shutdown of every active query. */
  def stopAll(spark: SparkSession): Unit =
    spark.streams.active.foreach { q =>
      try q.stop() catch { case _: Throwable => () }
    }
}
