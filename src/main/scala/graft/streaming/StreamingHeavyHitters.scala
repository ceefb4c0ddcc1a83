package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming frequent-tokens for the document ingest path: a Misra-Gries
  * summary maintained across micro-batches — the stream-time twin of
  * text_heavy_hitters' sketch phase (exact-dedup twin: StreamingDedup;
  * near-dedup twin: StreamingNearDedup).
  *
  * Per batch: the batch's EXACT token counts (a zero-error summary) are
  * merged into the persisted summary with the mergeable-summaries
  * reduction (pointwise sum, then subtract the (capacity+1)-th largest
  * counter and drop non-positives — Agarwal et al., PODS'12, the same
  * merge the batch aggregate MisraGriesAgg runs map-side). Errors add
  * under this merge, so at every point the summary's undercount is
  * ≤ n/(capacity+1) over EVERYTHING ingested so far: the candidate set
  * is a guaranteed superset of every token with frequency > n/(cap+1),
  * and a periodic batch recount (text_heavy_hitters phase 2) turns it
  * into the exact answer.
  *
  * State design for 100 TB/day: the summary is a plain parquet table of
  * ≤ capacity (token, cnt) rows per GENERATION, each generation tagged
  * with its batch_id — the write of generation b is the commit marker
  * for batch b, so a replayed batch (foreachBatch is at-least-once) is
  * detected by its generation already existing and skipped; the current
  * summary is always the max-batch_id generation. Generations are
  * KB-sized but a months-long stream accumulates one per trigger, so
  * after each commit the table is TRIMMED to the newest
  * `keepGenerations`, crash-safe like every [[EpochTable]]: only the
  * newest generations can ever be read (summary) or replay-checked (Spark
  * replays at most the latest uncommitted batch), so dropping older ones
  * changes no answer, and `summary` and the replay guard are insensitive
  * to the duplicates a crash in the trim leaves.
  */
object StreamingHeavyHitters {

  val summarySchema: StructType = StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("batch_id", LongType, nullable = false)))

  /** Test seam (same contract as StreamingCdc.faultpoint): invoked just
    * before the generation append — throwing simulates a crash with the
    * batch consumed but uncommitted; the replay must produce the same
    * generation exactly once. No-op in production.
    */
  @volatile private[graft]
  var faultpoint: Long => Unit = _ => ()

  /** Second test seam, inside the trim's duplicate window: invoked after
    * the kept generations are re-appended but before the superseded
    * files are deleted — throwing simulates a crash that leaves the kept
    * rows duplicated. No-op in production.
    */
  @volatile private[graft]
  var trimFaultpoint: Long => Unit = _ => ()

  /** The current candidate summary: the max-generation rows. DISTINCT on
    * (token, cnt): a crash inside the trim window can leave the current
    * generation's file duplicated, and generation rows are unique per
    * token, so distinct recovers exactly the committed summary.
    */
  def summary(spark: SparkSession, summaryDir: String): DataFrame = {
    val all = spark.read.parquet(summaryDir)
    all.join(broadcast(all.agg(max(col("batch_id")).as("batch_id"))),
      "batch_id")
      .select(col("token"), col("cnt")).distinct()
  }

  private def processBatch(summaryDir: String, capacity: Int,
      keepGenerations: Int)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // replay guard: this batch's generation already written = committed
    if (EpochTable.committed(spark, summaryDir, batchId)) return
    val prev = summary(spark, summaryDir)
    val batchCounts = batch
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val merged = prev.union(batchCounts)
      .groupBy(col("token")).agg(sum(col("cnt")).as("cnt"))
      .persist()
    try {
      val n = merged.count()
      val out = if (n <= capacity) merged
      else {
        // the (capacity+1)-th largest counter — one bounded scalar
        val pivot = merged.orderBy(col("cnt").desc).limit(capacity + 1)
          .agg(min(col("cnt"))).head().getLong(0)
        merged.withColumn("cnt", col("cnt") - pivot)
          .filter(col("cnt") > 0)
      }
      faultpoint(batchId)
      out.withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(summaryDir)
    } finally merged.unpersist()
    trimGenerations(spark, summaryDir, keepGenerations, batchId)
  }

  /** Keep only the newest `keep` generations, re-written as one file by
    * [[EpochTable.replace]] — driver-side over the table's at most
    * (keep + 1) · capacity rows, plus the copies a crash in its duplicate
    * window leaves, which the distinct here folds back. Runs AFTER the
    * generation commit, so commit semantics never depend on it.
    */
  private[graft] def trimGenerations(spark: SparkSession,
      summaryDir: String, keep: Int, batchId: Long): Unit = {
    val old = EpochTable.parts(spark, summaryDir)
    val rows = EpochTable.readRows(spark, old.map(_.path), summarySchema)
    val gens = rows.map(_.getLong(2)).distinct.sorted(Ordering[Long].reverse)
    if (gens.length > keep)
      EpochTable.replace(spark, old) {
        EpochTable.writeRows(spark, summaryDir, batchId, summarySchema,
          rows.filter(_.getLong(2) >= gens(keep - 1)).distinct)
      } { trimFaultpoint(batchId) }
  }

  def start(spark: SparkSession, inputDir: String, summaryDir: String,
      checkpointDir: String, capacity: Int = 512,
      maxFilesPerTrigger: Int = 1,
      availableNow: Boolean = false,
      keepGenerations: Int = 8): StreamingQuery = {
    Ddl.ensureTable(spark, summaryDir, summarySchema)
    val w = spark.readStream
      .schema(StreamingDedup.inputSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(processBatch(summaryDir, capacity, keepGenerations) _)
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** Run to completion over the currently-available input (AvailableNow). */
  def runOnce(spark: SparkSession, inputDir: String, summaryDir: String,
      checkpointDir: String, capacity: Int = 512,
      maxFilesPerTrigger: Int = 1, keepGenerations: Int = 8): Unit =
    start(spark, inputDir, summaryDir, checkpointDir, capacity,
      maxFilesPerTrigger, availableNow = true,
      keepGenerations = keepGenerations).awaitTermination()
}
