package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Stream-time corpus curation: the batch quality/PII pass applied as
  * documents ARRIVE — the Gopher rule battery routes each document to a
  * `curated` stream (PII-scrubbed text) or a `rejected` stream carrying
  * the named failure reasons (the dead-letter pattern, so no document
  * silently disappears from the pipeline).
  *
  * Every rule and the scrub are stateless per-row expressions, so the
  * micro-batch plan is a narrow map with no state store, no watermark and
  * no shuffle — at cluster scale each executor curates its input
  * partitions independently, and throughput is bounded by scan + codegen
  * only. Verdicts are THE SAME expressions the batch
  * `curation_gopher_filter` oracle-checks (CurationQueries.gopherAnnotate,
  * TextQueries.piiScrub) — StreamingCurationSpec pins stream/batch parity
  * so the two paths cannot drift.
  */
object StreamingCuration {

  /** Starts the curation stream over the parquet `documents` files now
    * under `inputDir` (AvailableNow). One pass per micro-batch: the batch
    * is persisted, split by the verdict, and appended to `curatedDir`
    * (doc_id, scrubbed text, lang, source) and `rejectedDir` (doc_id,
    * reasons).
    */
  def start(spark: SparkSession, inputDir: String, curatedDir: String,
      rejectedDir: String, checkpointDir: String): StreamingQuery = {
    val schema = spark.read.parquet(inputDir).schema
    val annotated = graft.queries.CurationQueries.gopherAnnotate(
      spark.readStream.schema(schema).parquet(inputDir))

    annotated.writeStream
      .queryName("curation")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.persist()
        try {
          b.filter(col("pass"))
            .select(col("doc_id"),
              graft.queries.TextQueries.piiScrub(col("text")).as("text"),
              col("lang"), col("source"))
            .write.mode("append").parquet(curatedDir)
          b.filter(!col("pass"))
            .select(col("doc_id"), col("reasons"))
            .write.mode("append").parquet(rejectedDir)
        } finally b.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
