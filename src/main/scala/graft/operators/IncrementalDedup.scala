package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental near-dup detection: match a DELTA of newly-arrived
  * documents against a PERSISTED MinHash band index of the
  * already-ingested corpus — without rescanning corpus text. This is the
  * shard-arrival counterpart of the batch near-dup family
  * (queries/DedupQueries.scala) and the natural continuation of the
  * reference's continuous-ingest model (its change stream delivers new
  * documents one insert at a time, internal/mongo/client.go:217-257; a
  * training pipeline fed that stream dedups each arriving shard against
  * everything already ingested).
  *
  * Scale shape (the whole point at 100 TB):
  *  - the index is (band, bkey, doc_id, sig) — `bands` rows per corpus
  *    doc, built ONCE when a doc is ingested and appended thereafter;
  *    probing a delta never touches corpus text again.
  *  - `probe` co-partitions index and delta rows on (band, bkey) in one
  *    exchange. With the index table stored bucketed by (band, bkey)
  *    (SkewBucketSpec shows the zero-exchange read), only the delta —
  *    typically orders of magnitude smaller — shuffles at all.
  *  - buckets are capped by [[CandidatePairs]] like every candidate
  *    generator in this engine; hot buckets drop, recall is recovered
  *    across the other bands.
  */
object IncrementalDedup {

  /** One index row per (band, doc): the persisted probe structure.
    * Signature and band keys are the same codegen'd kernels as the batch
    * path (minhash_ngrams + raw 4-long slice band keys), so estimates
    * agree bit-for-bit between batch and incremental dedup — and replay
    * verbatim in the DuckDB oracle.
    */
  def buildIndex(docs: DataFrame, textCol: String = "text",
      k: Int = 32, bands: Int = 8): DataFrame = {
    val width = k / bands
    docs
      .select(col("doc_id"),
        expr(s"minhash_ngrams(split($textCol, ' '), 3, $k)").as("sig"))
      .select(col("doc_id"), col("sig"),
        posexplode(expr(
          s"transform(sequence(0, ${bands - 1}), " +
            s"b -> slice(sig, b * $width + 1, $width))"))
          .as(Seq("band", "bkey")))
  }

  /** Delta-vs-corpus candidate pairs with signature-estimated Jaccard.
    * Only cross-side pairs emerge: corpus-vs-corpus was handled when the
    * corpus was indexed, delta-vs-delta belongs to the regular batch
    * pass over the shard. The bucket cap counts BOTH sides — the same
    * degenerate-corpus guard as the batch generators.
    */
  def probe(index: DataFrame, deltaIndex: DataFrame,
      cap: Int, k: Int = 32, threshold: Double = 0.5): DataFrame = {
    val tagged = index.select(lit(0).as("side"), col("band"),
        col("bkey"), col("doc_id"), col("sig"))
      .unionByName(deltaIndex.select(lit(1).as("side"), col("band"),
        col("bkey"), col("doc_id"), col("sig")))
    CandidatePairs.collected(tagged, "incremental", Seq("band", "bkey"),
        struct("side", "doc_id", "sig"), cap)
      // sort order puts side=0 (corpus) before side=1 (delta) in every
      // pair, so a cross-side pair is exactly (a=corpus, b=delta)
      .filter(col("p.a.side") === 0 && col("p.b.side") === 1)
      .select(col("p.b.doc_id").as("delta_id"),
        col("p.a.doc_id").as("base_id"),
        (expr("sig_match(p.a.sig, p.b.sig)").cast("double") / k)
          .as("est"))
      .groupBy(col("delta_id"), col("base_id"))
      .agg(max(col("est")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }
}
