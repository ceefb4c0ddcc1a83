package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
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

  /** The current candidate summary: the max-generation rows
    * ([[EpochTable.newest]]), as a local frame. DISTINCT on (token, cnt):
    * a crash inside the trim window can leave the current generation's
    * file duplicated, and generation rows are unique per token, so
    * distinct recovers exactly the committed summary.
    */
  def summary(spark: SparkSession, summaryDir: String): DataFrame =
    spark.createDataFrame(
      EpochTable.newest(spark, summaryDir, summarySchema)
        .map(r => Row(r.getString(0), r.getLong(1))).distinct.asJava,
      StructType(summarySchema.fields.take(2)))

  /** The merge in one Spark action: one aggregate sums the batch's
    * tokens with the stored summary (a local relation) and returns its
    * top capacity + 1 rows, and the driver finishes the merge on them —
    * every row that survives the pivot subtraction is among them.
    */
  private def processBatch(summaryDir: String, capacity: Int,
      keepGenerations: Int)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // replay guard: this batch's generation already written = committed
    if (EpochTable.committed(spark, summaryDir, batchId)) return
    val top = batch
      .select(explode(split(col("text"), " ")).as("token"), lit(1L).as("cnt"))
      .union(summary(spark, summaryDir))
      .groupBy(col("token")).agg(sum(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc).limit(capacity + 1)
      .collect()
    // the (capacity+1)-th largest counter, 0 when the merge fits
    val pivot = if (top.length > capacity) top(capacity).getLong(1) else 0L
    val out = top.toSeq.filter(_.getLong(1) > pivot)
      .map(r => Row(r.getString(0), r.getLong(1) - pivot, batchId))
    faultpoint(batchId)
    EpochTable.writeRows(spark, summaryDir, batchId, summarySchema, out)
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

  /** Drain the currently-available input (AvailableNow). */
  def runOnce(spark: SparkSession, inputDir: String, summaryDir: String,
      checkpointDir: String, capacity: Int = 512,
      maxFilesPerTrigger: Int = 1, keepGenerations: Int = 8): Unit = {
    Ddl.ensureTable(spark, summaryDir, summarySchema)
    EpochTable.drainFiles(spark, StreamingDedup.inputSchema, inputDir,
      checkpointDir, maxFilesPerTrigger)(
      processBatch(summaryDir, capacity, keepGenerations))
  }
}
