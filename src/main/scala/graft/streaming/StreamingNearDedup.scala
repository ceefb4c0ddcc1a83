package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{CandidatePairs, IncrementalDedup}

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
  * Long-stream file hygiene: one file per trigger would accumulate
  * millions of KB-sized files (every probe paying an open per file), so
  * past `compactAfterFiles` the index is COMPACTED ([[compactIndex]]),
  * crash-safe like every [[EpochTable]]: a crash in the duplicate window
  * leaves index rows doubled, which changes nothing that reads the index
  * (replay guard = membership; probe candidates go through pairsView's
  * keyed dedup), and the next compaction's DISTINCT converges the table.
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
    // replay guard: the index append is the commit marker — a batch whose
    // rows are already indexed is fully processed (decided from the
    // footers' batch_id ranges)
    if (EpochTable.committed(spark, indexDir, batchId)) return
    val index = spark.read.parquet(indexDir)
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

  /** Rewrite the band index into few hash-clustered files (by the probe
    * join key (band, bkey), ~4M rows each) through [[EpochTable.replace]]
    * once it has more than `maxFiles` parts. Every row survives; DISTINCT
    * only collapses the duplicates of a previous compaction crash. Runs
    * AFTER the index commit marker, so batch commit semantics never
    * depend on it.
    */
  private[graft] def compactIndex(spark: SparkSession, indexDir: String,
      maxFiles: Int, batchId: Long): Unit = {
    val old = EpochTable.parts(spark, indexDir)
    if (old.length > maxFiles)
      EpochTable.replace(spark, old) {
        val all = spark.read.parquet(indexDir).distinct()
        val nFiles = (all.count() / 4000000L).toInt + 1
        all.repartition(nFiles, col("band"), col("bkey"))
          .write.mode("append").parquet(indexDir)
      } { compactFaultpoint(batchId) }
  }

  /** Drain the currently-available input (AvailableNow), one file per
    * batch.
    */
  def runOnce(spark: SparkSession, inputDir: String, pairsDir: String,
      indexDir: String, checkpointDir: String,
      cap: Int = CandidatePairs.DfCap,
      threshold: Double = 0.5, compactAfterFiles: Int = 64): Unit = {
    Ddl.ensureTable(spark, indexDir, indexSchema)
    Ddl.ensureTable(spark, pairsDir, pairsSchema)
    EpochTable.drainFiles(spark, StreamingDedup.inputSchema, inputDir,
      checkpointDir, maxFilesPerTrigger = 1)(
      processBatch(pairsDir, indexDir, cap, threshold, compactAfterFiles))
  }
}
