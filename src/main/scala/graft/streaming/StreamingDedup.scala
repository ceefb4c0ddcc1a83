package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

/** Streaming exact-dedup for the document ingest path — the training-data
  * extension of the CDC runtime: keep the FIRST arrival of each content
  * hash, drop every later copy, across micro-batches and restarts.
  *
  * State design for 100 TB/day: the dedup key is the 128-bit md5 of the
  * text (16 bytes/doc of state, never the document), and state is BOUNDED
  * by an event-time watermark via `dropDuplicatesWithinWatermark` — a
  * plain `dropDuplicates` would grow the state store forever on an
  * unbounded stream. Duplicates separated by more than `horizon` are NOT
  * collapsed (they re-enter as first-seen); that is the standard
  * state-bounding trade, and batch `dedup_exact_*`/`dedup_clusters` exist
  * for the full-corpus pass.
  */
object StreamingDedup {

  /** Input contract: parquet rows (doc_id LONG, text STRING,
    * ingest_ts TIMESTAMP).
    */
  val inputSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("ingest_ts", TimestampType, nullable = false)))

  /** Drain the currently-available input (AvailableNow, at most 8 files
    * per batch): first-seen docs (with their content hash) append to
    * `outDir`; state lives under `checkpointDir` and survives restarts (a
    * re-sent duplicate after a crash is still dropped).
    */
  def runOnce(spark: SparkSession, inputDir: String, outDir: String,
      checkpointDir: String, horizon: String = "1 day"): Unit =
    spark.readStream
      .schema(inputSchema)
      .option("maxFilesPerTrigger", 8)
      .parquet(inputDir)
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ingest_ts", horizon)
      .dropDuplicatesWithinWatermark("content_hash")
      .select(col("doc_id"), col("content_hash"), col("text"), col("ingest_ts"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
}
