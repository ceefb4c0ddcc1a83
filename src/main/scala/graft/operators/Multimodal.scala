package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (builder brief: training-data pipeline
  * extensions): image/audio/video as opaque BINARY columns with typed
  * metadata, decode/feature-extract/resize/frame-sample as per-partition
  * batch transforms.
  *
  * The DECODE STEP IS A STUB — this container has no image/audio codecs,
  * so `decodeStub` produces a deterministic fake feature vector from the
  * payload bytes (clearly marked below). Everything AROUND the stub is the
  * real engine surface: the media schema, the binary column handling, the
  * mapPartitions batch shape (one codec init per partition, streaming
  * iterator — the Scala analog of a pandas-batched UDF), and the
  * partition-parallel execution that a real codec would slot into.
  *
  * Scale: decode is embarrassingly parallel per row; the media table
  * partitions by (kind) so each executor batch holds one modality —
  * one codec instance per task, no shuffle until the final rollup.
  */
object Multimodal {

  final case class MediaMeta(
      width: Int, height: Int, sampleRateHz: Int, durationMs: Long,
      format: String)

  final case class MediaRow(
      media_id: Long, kind: String, content: Array[Byte], meta: MediaMeta)

  final case class MediaFeatures(
      media_id: Long, kind: String, dim: Int, features: Array[Float])

  /** Derive a deterministic media table from the `documents` corpus: the
    * text bytes play the opaque payload; metadata is integer-derived from
    * (doc_id, n_chars). Exactly reproducible in SQL for the oracle.
    */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      expr("element_at(array('image','audio','video'), " +
        "cast(doc_id % 3 as int) + 1)").as("kind"),
      encode(col("text"), "UTF-8").as("content"),
      struct(
        (lit(64) + (col("doc_id") % 16) * 8).cast("int").as("width"),
        (lit(64) + (col("doc_id") % 9) * 16).cast("int").as("height"),
        (lit(8000) + (col("doc_id") % 4) * 8000).cast("int").as("sampleRateHz"),
        (col("n_chars") * 40).cast("long").as("durationMs"),
        expr("element_at(array('png','wav','mp4'), " +
          "cast(doc_id % 3 as int) + 1)").as("format")).as("meta"))

  /** ======== STUB ========
    * Deterministic fake "decode + feature extraction", scaled into [-1, 1).
    * A real deployment replaces ONLY this function with a codec call (e.g.
    * JNI image decode) — signature, batching and partitioning stay
    * identical.
    *
    * The fake is md5-based (not an engine-private hash) so the gate can
    * reproduce it in ANSI SQL and hash-check the decode path bit-exactly:
    * dimension d's value is the top 52 bits of md5(payload ++ ":d"),
    * mapped v/2^52*2-1 in double then narrowed to float — every step is
    * IEEE-identical in DuckDB (`CAST(('0x'||substr(md5(t||':'||d),1,13))
    * AS BIGINT)` and a REAL cast).
    */
  private[operators] def decodeStub(content: Array[Byte], dim: Int): Array[Float] = {
    // hash the payload ONCE, then clone the digest state per dimension —
    // md5(content ++ ":d") without re-scanning content dim times (MD5
    // MessageDigest is Cloneable; bit-identical output)
    val base = java.security.MessageDigest.getInstance("MD5")
    base.update(content)
    val out = new Array[Float](dim)
    var d = 0
    while (d < dim) {
      val md = base.clone().asInstanceOf[java.security.MessageDigest]
      md.update(s":$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val b = md.digest()
      // top 52 bits = first 13 hex chars, big-endian
      var v = 0L
      var i = 0
      while (i < 7) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
      v >>>= 4
      out(d) = (v.toDouble / (1L << 52) * 2 - 1).toFloat
      d += 1
    }
    out
  }

  /** Feature extraction over the media table: per-partition batch loop —
    * codec state initializes once per partition (the expensive part for a
    * real decoder), rows stream through as an iterator (never collected).
    */
  def extractFeatures(spark: SparkSession, media: DataFrame, dim: Int = 16)
      : Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        // [real codec would init here, once per partition]
        rows.map { case (id, kind, bytes) =>
          MediaFeatures(id, kind, dim, decodeStub(bytes, dim))
        }
      }
  }

  /** Resize declaration (STUB): metadata-only transform — a real impl
    * rewrites pixels; the engine contract is the typed meta update.
    */
  def resize(media: DataFrame, w: Int, h: Int): DataFrame =
    media.withColumn("meta",
      struct(
        lit(w).as("width"), lit(h).as("height"),
        col("meta.sampleRateHz").as("sampleRateHz"),
        col("meta.durationMs").as("durationMs"),
        col("meta.format").as("format")))

  /** Frame sampling (STUB): one fake frame fingerprint per second of
    * duration — demonstrates the 1-row → N-frames explode shape a real
    * frame sampler produces. The fingerprint is md5(payload ++ ":frame")
    * (not an engine-private hash) so the explode output is
    * oracle-checkable end to end.
    */
  def sampleFrames(media: DataFrame, everyMs: Long = 1000L): DataFrame =
    media.filter(col("kind") === "video")
      .select(col("media_id"),
        posexplode(expr(
          s"transform(sequence(0, cast(meta.durationMs / $everyMs as int)), " +
            "f -> md5(concat(cast(content as string), ':', " +
            "cast(f as string))))"))
          .as(Seq("frame_no", "frame_fingerprint")))

  /** Corpus rollup per modality — the monitoring query a 100 TB media
    * ingest runs; integer arithmetic only, oracle-exact.
    */
  def mediaStats(media: DataFrame): DataFrame =
    media.groupBy(col("kind")).agg(
      count(lit(1)).as("n_media"),
      sum(length(col("content"))).as("sum_bytes"),
      sum(col("meta.durationMs")).as("sum_duration_ms"),
      max(col("meta.width")).as("max_width"))
}
