package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.CandidatePairs
import graft.queries.DedupQueries
import graft.streaming.StreamingDecontam

/** Streaming semantic decontamination: arrival-sliced corpus probes of the
  * persisted eval bucket index must equal the batch LSH+re-rank pipeline
  * on the full corpus (valid under the no-overfull-bucket precondition,
  * asserted); a crash in the publish/commit window must replay to an
  * exactly-once view; a later eval shard must screen later arrivals.
  */
class StreamingDecontamSpec extends SparkSuite {

  private val cosMin = 0.2 // spec-local floor: denser pair yield at sf0.001

  private def emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  /** The batch twin: decontam_semantic's pipeline with the spec's eval
    * partition and threshold (the registered query pins mod 37 / 0.35;
    * the operator under test is parameterized, so the spec drives both
    * sides from the same knobs).
    */
  private def batchTwin(evalDf: DataFrame, corpusDf: DataFrame,
      tables: Int, planes: Int): Set[(Long, Long, Double)] = {
    def buckets(df: DataFrame) = df.select(col("vec_id"),
      posexplode(expr(s"lsh_buckets(embedding, $tables, $planes)"))
        .as(Seq("table_id", "bucket")))
    val b = buckets(corpusDf.unionByName(evalDf))
    val good = b.groupBy(col("table_id"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n").between(2, CandidatePairs.VecBucketCap))
      .select(col("table_id"), col("bucket"))
    val bg = b.join(good, Seq("table_id", "bucket"))
    // the registered query's candidate shape, with the spec's partition
    val cand = bg.filter(col("vec_id") % 7 =!= 0)
      .join(bg.filter(col("vec_id") % 7 === 0)
          .select(col("table_id"), col("bucket"),
            col("vec_id").as("eval_id")),
        Seq("table_id", "bucket"))
      .select(col("vec_id"), col("eval_id")).distinct()
    val nd = emb.select(col("vec_id"),
      expr("vec_normalize(embedding)").as("nv"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("eval_id"))
    cand
      .join(nd.select(col("vec_id"), col("nv").as("cn")), Seq("vec_id"))
      .join(nd.select(col("vec_id").as("eval_id"), col("nv").as("en")),
        Seq("eval_id"))
      .select(col("vec_id"), col("eval_id"),
        round(expr("vec_dot(cn, en)"), 6).as("cos"))
      .filter(col("cos") >= cosMin)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("eval_id"), col("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
  }

  test("arrival-sliced streamed decontam equals the batch pipeline; " +
      "crash in the publish window replays to an exactly-once view") {
    val root = Files.createTempDirectory("sdc").toString
    val tables = DedupQueries.LshTables
    val planes = DedupQueries.lshPlanes(spark, sf("sf0.001"))
    val evalDf = emb.filter(col("vec_id") % 7 === 0)
    val corpus = emb.filter(col("vec_id") % 7 =!= 0)

    // parity precondition: no bucket over the cap on the full table
    val maxOcc = emb.select(
        posexplode(expr(s"lsh_buckets(embedding, $tables, $planes)"))
          .as(Seq("t", "b")))
      .groupBy(col("t"), col("b")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    assert(maxOcc <= CandidatePairs.VecBucketCap,
      s"precondition: max bucket occupancy $maxOcc exceeds the cap")

    StreamingDecontam.indexEval(spark, evalDf, s"$root/idx", tables, planes)
    val expected = batchTwin(evalDf, corpus, tables, planes)
    assert(expected.nonEmpty, "fixture should contain contaminated vectors")

    // slice 1 arrives; a planted crash hits the publish/commit window
    val slices = Seq(
      corpus.filter(col("vec_id") % 3 === 0),
      corpus.filter(col("vec_id") % 3 =!= 0))
    slices.head.coalesce(1).write.mode("append").parquet(s"$root/in")
    StreamingDecontam.faultpoint =
      bid => if (bid == 0) throw new RuntimeException("planted crash")
    val crashed = scala.util.Try(
      StreamingDecontam.runOnce(spark, s"$root/in", s"$root/out",
        s"$root/ledger", s"$root/idx", s"$root/ckpt", tables, planes,
        cosMin = cosMin))
    StreamingDecontam.faultpoint = _ => ()
    assert(crashed.isFailure, "the planted fault must surface")
    // contaminated rows landed, but no commit marker: the batch replays
    assert(spark.read.parquet(s"$root/ledger").isEmpty)

    // recovery + the remaining slice
    StreamingDecontam.runOnce(spark, s"$root/in", s"$root/out",
      s"$root/ledger", s"$root/idx", s"$root/ckpt", tables, planes,
      cosMin = cosMin)
    slices(1).coalesce(1).write.mode("append").parquet(s"$root/in")
    StreamingDecontam.runOnce(spark, s"$root/in", s"$root/out",
      s"$root/ledger", s"$root/idx", s"$root/ckpt", tables, planes,
      cosMin = cosMin)

    val view = StreamingDecontam.contamView(spark, s"$root/out")
    val got = view.select(col("vec_id"), col("eval_id"), col("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got == expected,
      s"stream-only=${got.diff(expected)} batch-only=${expected.diff(got)}")
    // the replayed batch re-published: raw is at-least-once, view is not
    val raw = spark.read.parquet(s"$root/out")
    assert(raw.count() > view.count(),
      "the crash-replayed batch should leave duplicate raw rows")

    // a later eval shard screens later arrivals: plant an exact copy of
    // an existing eval vector as a new corpus arrival after indexing a
    // second shard containing it
    val shard2 = emb.filter(col("vec_id") % 7 === 1)
      .orderBy(col("vec_id")).limit(5)
    StreamingDecontam.indexEval(spark, shard2, s"$root/idx", tables, planes)
    val planted = shard2.select(
      (col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    planted.coalesce(1).write.mode("append").parquet(s"$root/in")
    StreamingDecontam.runOnce(spark, s"$root/in", s"$root/out",
      s"$root/ledger", s"$root/idx", s"$root/ckpt", tables, planes,
      cosMin = cosMin)
    val late = StreamingDecontam.contamView(spark, s"$root/out")
      .filter(col("vec_id") >= 1000000L)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos")))
    assert(late.length == 5 && late.forall(_._2 == 1.0),
      s"planted copies must match their eval twins at cos 1.0: " +
        late.mkString(", "))
  }

  test("job budget: each corpus batch probes with at most 4 Spark jobs; " +
      "the hot-bucket cap is not recounted per batch") {
    val root = Files.createTempDirectory("sdc-budget").toString
    val tables = DedupQueries.LshTables
    val planes = DedupQueries.lshPlanes(spark, sf("sf0.001"))
    StreamingDecontam.indexEval(spark, emb.filter(col("vec_id") % 7 === 0),
      s"$root/idx", tables, planes)
    val corpus = emb.filter(col("vec_id") % 7 =!= 0)
    (0 until 3).foreach { k =>
      corpus.filter(col("vec_id") % 3 === k)
        .coalesce(1).write.mode("append").parquet(s"$root/in")
    }
    val jobs = jobsByBatch {
      StreamingDecontam.runOnce(spark, s"$root/in", s"$root/out",
        s"$root/ledger", s"$root/idx", s"$root/ckpt", tables, planes,
        cosMin = cosMin)
    }
    val perBatch = jobs - ""
    assert(perBatch.keySet == Set("0", "1", "2"), s"$jobs")
    assert(perBatch.values.forall(_ <= 4), s"jobs per batch: $perBatch")
    assert(spark.read.parquet(s"$root/ledger").count() == 3)
  }

  test("the hot-bucket cap: buckets holding more than capEval eval " +
      "vectors are not probed") {
    val root = Files.createTempDirectory("sdc-cap").toString
    val tables = DedupQueries.LshTables
    val planes = DedupQueries.lshPlanes(spark, sf("sf0.001"))
    // five identical eval vectors share every bucket: 5 per bucket
    val v = emb.orderBy(col("vec_id")).limit(1)
    StreamingDecontam.indexEval(spark,
      (0 until 5).map(i => v.withColumn("vec_id", lit(i.toLong)))
        .reduce(_ union _), s"$root/idx", tables, planes)
    v.withColumn("vec_id", lit(100L)).coalesce(1)
      .write.parquet(s"$root/in")
    def found(capEval: Int): Seq[(Long, Long)] = {
      val run = s"$root/cap$capEval"
      StreamingDecontam.runOnce(spark, s"$root/in", s"$run/out",
        s"$run/ledger", s"$root/idx", s"$run/ckpt", tables, planes,
        capEval = capEval, cosMin = cosMin)
      StreamingDecontam.contamView(spark, s"$run/out")
        .select(col("vec_id"), col("eval_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    assert(found(4).isEmpty)
    assert(found(5) == Seq((100L, 0L)))
  }
}
