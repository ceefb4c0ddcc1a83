package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.IncrementalDedup

/** Streaming NEAR-dedup for the document ingest path: every arriving
  * micro-batch is probed against the persisted MinHash band index of
  * everything ingested before it, near-dup pairs are published, and the
  * batch's own band rows are appended to the index — so the index stays
  * current as the stream flows and corpus text is never rescanned. The
  * streaming twin of `operators/IncrementalDedup` (exact-dedup twin:
  * StreamingDedup), and the same batch-granular commit discipline as the
  * CDC runtime: pairs append (K1 analog) BEFORE the index append (K2
  * analog, the commit marker). A crash between the two replays the
  * batch — re-published pairs land with the same (batch_id, delta_id,
  * base_id) key and `pairsView` restores exactly-once, exactly like the
  * msgId dedup view over the published stream.
  *
  * State design for 100 TB/day: unlike watermark-bounded exact dedup,
  * the index is NOT state-store state — it is a plain parquet table
  * (`bands` rows per doc, signatures only, never text), append-only,
  * readable by the batch path too. Intra-batch duplicates are the batch
  * pass's business (same contract as IncrementalDedup.probe).
  *
  * Long-stream file hygiene: append-only at one file per trigger means a
  * months-long stream accumulates millions of KB-sized files (every
  * probe then pays an open/footer per file). Once the directory exceeds
  * `compactAfterFiles`, the index is COMPACTED — all rows rewritten
  * hash-clustered by (band, bkey) so probes of a band key touch few
  * files — with the same crash-safe append-then-delete as the CDC token
  * trim: new files land first, superseded ones are deleted after. A
  * crash in the duplicate window leaves every index row doubled, which
  * changes nothing that reads the index (replay guard = membership;
  * probe candidates go through pairsView's keyed dedup), and the next
  * compaction's DISTINCT converges the table (index rows are unique by
  * construction: one row per (band, doc)).
  */
object StreamingNearDedup {

  val indexSchema: StructType = StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bkey", ArrayType(LongType, containsNull = false),
      nullable = true),
    StructField("doc_id", LongType, nullable = false),
    StructField("sig", ArrayType(LongType, containsNull = false),
      nullable = true),
    StructField("batch_id", LongType, nullable = false)))

  val pairsSchema: StructType = StructType(Seq(
    StructField("delta_id", LongType, nullable = false),
    StructField("base_id", LongType, nullable = false),
    StructField("est_jaccard", DoubleType, nullable = true),
    StructField("batch_id", LongType, nullable = false)))

  /** Test seam (same contract as StreamingCdc.faultpoint): invoked
    * between the pairs append (at-least-once) and the index append (the
    * commit marker) — throwing here simulates a crash in the duplicate
    * window; replay must re-publish the batch's pairs and `pairsView`
    * must still be exactly-once. No-op in production.
    */
  @volatile private[graft]
  var faultpoint: Long => Unit = _ => ()

  /** Second test seam, inside the compaction's duplicate window: invoked
    * after the compacted files are appended but before the superseded
    * files are deleted — throwing simulates a crash that leaves every
    * index row duplicated. No-op in production.
    */
  @volatile private[graft]
  var compactFaultpoint: Long => Unit = _ => ()

  /** Exactly-once view over the at-least-once pairs table. */
  def pairsView(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read.parquet(pairsDir)
      .groupBy(col("batch_id"), col("delta_id"), col("base_id"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))

  private def processBatch(pairsDir: String, indexDir: String,
      cap: Int, threshold: Double, compactAfterFiles: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val index = spark.read.parquet(indexDir)
    // replay guard: the index append is the commit marker — a batch whose
    // rows are already indexed is fully processed (a point filter on
    // batch_id; parquet row-group stats prune it without a data scan)
    if (!index.filter(col("batch_id") === batchId).isEmpty) return
    val deltaIdx = IncrementalDedup
      .buildIndex(batch.select(col("doc_id"), col("text")))
    IncrementalDedup
      .probe(index.drop("batch_id"), deltaIdx, cap, threshold = threshold)
      .withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(pairsDir)
    faultpoint(batchId)
    deltaIdx.withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(indexDir)
    compactIndex(spark, indexDir, compactAfterFiles, batchId)
  }

  /** Rewrite the band index into few hash-clustered files once the
    * one-file-per-trigger append pattern has accumulated more than
    * `maxFiles` parquet parts. CONTENT is untouched (every row survives —
    * this is file hygiene, not retention); DISTINCT only collapses exact
    * duplicates left by a previous compaction crash. Rows are clustered
    * by (band, bkey) — the probe join key — so a probe's shuffle reads
    * land on few co-located files, and sized ~4M rows per file. Crash
    * order mirrors trimTokensAt: append new files, only then delete the
    * superseded ones. Runs AFTER the index commit marker, so batch
    * commit semantics never depend on it.
    */
  private[graft] def compactIndex(spark: SparkSession, indexDir: String,
      maxFiles: Int, batchId: Long): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(indexDir)
    val fs = dir.getFileSystem(hconf)
    val oldFiles = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("part-"))
    if (oldFiles.length <= maxFiles) return
    val all = spark.read.parquet(indexDir).distinct()
    val n = all.count()
    val nFiles = (n / 4000000L).toInt + 1
    all.repartition(nFiles, col("band"), col("bkey"))
      .write.mode("append").parquet(indexDir)
    compactFaultpoint(batchId)
    oldFiles.foreach(p => fs.delete(p, false))
  }

  def start(spark: SparkSession, inputDir: String, pairsDir: String,
      indexDir: String, checkpointDir: String,
      cap: Int = 50, threshold: Double = 0.5,
      maxFilesPerTrigger: Int = 1,
      availableNow: Boolean = false,
      compactAfterFiles: Int = 64): StreamingQuery = {
    Ddl.ensureTable(spark, indexDir, indexSchema)
    Ddl.ensureTable(spark, pairsDir, pairsSchema)
    val w = spark.readStream
      .schema(StreamingDedup.inputSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(
        processBatch(pairsDir, indexDir, cap, threshold, compactAfterFiles) _)
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** Run to completion over the currently-available input (AvailableNow). */
  def runOnce(spark: SparkSession, inputDir: String, pairsDir: String,
      indexDir: String, checkpointDir: String, cap: Int = 50,
      threshold: Double = 0.5, maxFilesPerTrigger: Int = 1,
      compactAfterFiles: Int = 64): Unit =
    start(spark, inputDir, pairsDir, indexDir, checkpointDir, cap,
      threshold, maxFilesPerTrigger, availableNow = true,
      compactAfterFiles = compactAfterFiles).awaitTermination()
}
