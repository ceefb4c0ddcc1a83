package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
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
  * past the cap. Many collections = many independent queries (C1),
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
    * Underscore-prefixed: invisible to Spark's listing, the part- filters
    * of ledger/trim, and tableExists' *.parquet probe.
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

  /** S2 — latest committed token: max_by over the tokens table. */
  def latestToken(spark: SparkSession, tokensDir: String): Option[String] = {
    val t = spark.read.parquet(tokensDir)
    if (t.isEmpty) None
    else Option(t.agg(expr("max_by(value, batch_id)")).head().getString(0))
  }

  /** Committed batch ids — the idempotence ledger for replay skips.
    *
    * Seeded from the tokens table ONCE per run (start() drops the cache
    * entry), then maintained in memory: the ledger is append-only from
    * this process, so re-reading and collecting the whole table every
    * micro-batch would be O(ledger) driver work per trigger — quadratic
    * over an uncapped stream's lifetime. Trimming only removes OLD ids
    * from disk; the in-memory superset stays correct for membership.
    */
  private val ledgerCache =
    new ConcurrentHashMap[String, java.util.Set[java.lang.Long]]()

  private[graft] def committedBatchIds(spark: SparkSession, name: String,
      tokensDir: String): java.util.Set[java.lang.Long] =
    ledgerCache.computeIfAbsent(tokensDir, _ =>
      Observability.CommandMetrics.time(name, "tokens_read") {
        val s = ConcurrentHashMap.newKeySet[java.lang.Long]()
        // Footer fast path (round-12 fixed-cost shave): an EMPTY ledger —
        // every fresh start — is decided driver-side instead of by a
        // Spark collect job. A non-empty ledger (restart path) still
        // reads through Spark: it is rare per process lifetime and the
        // table is capped-small.
        if (partFooterRows(spark, tokensDir)._2 > 0)
          spark.read.parquet(tokensDir).select("batch_id")
            .collect().foreach(r => s.add(r.getLong(0)))
        s
      })

  /** The `part-` files of a table dir and their total row count, read
    * driver-side from the parquet footers — a few file opens, no Spark
    * job. The row counts of the ledger seed's empty check and of the D1
    * trim decision.
    */
  private def partFooterRows(spark: SparkSession,
      dir: String): (Array[org.apache.hadoop.fs.Path], Long) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val d = new org.apache.hadoop.fs.Path(dir)
    val parts = d.getFileSystem(hconf).listStatus(d).map(_.getPath)
      .filter(_.getName.startsWith("part-"))
    val rows = parts.iterator.map { p =>
      val r = ParquetIO.openFooter(p, hconf)
      try r.getRecordCount finally r.close()
    }.sum
    (parts, rows)
  }

  /** Parquet schema of the token files, converted from [[tokenSchema]]
    * as ensureTable's empty seed file is, so Spark reads both alike.
    */
  private val tokenType = new org.apache.spark.sql.execution.datasources
    .parquet.SparkToParquetSchemaConverter().convert(tokenSchema)

  /** One token row: (batch_id, value, n_published). */
  private type TokenRow = (Long, String, Long)

  /** Driver-side single-row token write (K2). */
  private[graft] def writeTokenRow(spark: SparkSession, tokensDir: String,
      batchId: Long, value: String, nPublished: Long): Unit =
    writeTokenFile(spark.sparkContext.hadoopConfiguration, tokensDir,
      batchId, Seq((batchId, value, nPublished)))

  /** Token rows as one new `part-` file, written driver-side through the
    * parquet example writer (the token commit and the trim's compaction).
    * Two-phase commit (ADVICE r12): the writer opens the DESTINATION file,
    * so write under a dot-temp (invisible to readers: Spark skips
    * dot-files; the ledger seed and trim filter on the part- prefix; the
    * .inprogress suffix keeps it out of tableExists' *.parquet probe) and
    * rename after close() — rename is atomic on a posix fs.
    */
  private def writeTokenFile(hconf: org.apache.hadoop.conf.Configuration,
      tokensDir: String, fileBatchId: Long, rows: Seq[TokenRow]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    val name =
      s"part-$fileBatchId-${java.util.UUID.randomUUID()}.snappy.parquet"
    val path = new org.apache.hadoop.fs.Path(tokensDir, name)
    val tmp = new org.apache.hadoop.fs.Path(tokensDir, s".$name.inprogress")
    val fs = tmp.getFileSystem(hconf)
    val w = ParquetIO.groupWriter(tmp, tokenType, hconf)
    try rows.foreach { case (batchId, value, nPublished) =>
      val g = new SimpleGroup(tokenType)
      g.add("batch_id", batchId)
      if (value != null) g.add("value", value)
      g.add("n_published", nPublished)
      w.write(g)
    } finally w.close()
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(s"token commit rename failed: $tmp -> $path")
  }

  private def readTokenRows(file: org.apache.hadoop.fs.Path,
      hconf: org.apache.hadoop.conf.Configuration): Seq[TokenRow] = {
    val r = ParquetIO.groupReader(file, hconf)
    try Iterator.continually(r.read()).takeWhile(_ != null).map { g =>
      (g.getLong("batch_id", 0),
        if (g.getFieldRepetitionCount("value") > 0) g.getString("value", 0)
        else null,
        g.getLong("n_published", 0))
    }.toList
    finally r.close()
  }

  /** D1 capped-collection analog: keep only the newest tokensMaxRows rows.
    * Both capped and uncapped converge to the same latestToken answer
    * (mirrors the dual-run acceptance tests, insert_test.go:55-61).
    *
    * Crash-safe compaction (the tokens table is the COMMIT POINT — an
    * `overwrite` here could lose the ledger if the process dies between
    * delete and write): append the kept rows as a NEW file first, only
    * then delete the pre-existing files. A crash in between leaves the
    * kept rows duplicated next to the old files — `latestToken`
    * (max_by) and the ledger (set membership) are insensitive to
    * duplicates, and the next trim converges the row count.
    */
  private[graft] def trimTokensAt(spark: SparkSession, name: String,
      tokensDir: String, tokensMaxRows: Int): Unit = {
    // decided from the footers, compacted driver-side: a commit runs no
    // Spark job below the cap or past it. The table holds at most
    // cap + 1 tiny rows (plus the kept copies a crash in the window below
    // leaves behind, which this dedup folds back)
    val hconf = spark.sparkContext.hadoopConfiguration
    val (oldFiles, rows) = partFooterRows(spark, tokensDir)
    if (rows > tokensMaxRows) {
      val kept = oldFiles.toSeq.flatMap(readTokenRows(_, hconf))
        .sortBy(_._1)(Ordering[Long].reverse).distinctBy(_._1)
        .take(tokensMaxRows)
      writeTokenFile(hconf, tokensDir, kept.headOption.fold(0L)(_._1), kept)
      // fault-injection hook in the trim RACE WINDOW (kept rows appended,
      // old files not yet deleted — the crash point the scaladoc above
      // reasons about; batchId -1 marks "inside trim"). No-op in
      // production; StreamFuzz v2 kills here to probe the duplicate-file
      // recovery path across restarts.
      faultpoint(name, -1L)
      val fs = new org.apache.hadoop.fs.Path(tokensDir).getFileSystem(hconf)
      oldFiles.foreach(p => fs.delete(p, false))
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
