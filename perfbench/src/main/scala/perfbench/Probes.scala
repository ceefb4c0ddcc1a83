package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{CdcPipeline, ConnectedComponents, Coreset,
  IncrementalDedup, KMeans, Pack}

/** Layer probes of a traced run, on the seeded probe set (a small corpus
  * and a small backlog), so every traced run measures every layer:
  *
  *  - functions: each registered kernel over a fixed in-memory input,
  *    rows per second (one warm call, median of two);
  *  - operators: each operator object at a fixed size, seconds (one warm
  *    call, then one timed);
  *  - sources / CdcPipeline: a batch read of the staged backlog through
  *    the ChangeStreamSource, its latestOffset lookup, and the batch
  *    toMessages transform.
  */
object Probes {

  private def timeMedian(tr: Tracer, spark: SparkSession, name: String,
      reps: Int)(f: => Any): Double = {
    tr.span(spark, s"$name warm", "unit")(f)
    Harness.median((1 to reps).map(i =>
      Harness.seconds(tr.span(spark, name, "unit")(f))._2))
  }

  def all(spark: SparkSession, a: Harness.Args,
      tr: Tracer): Map[String, Any] = tr.span(spark, "probes", "workload") {
    val probe = s"${a.data}/probe"
    val docs = spark.read.parquet(s"$probe/corpus/documents.parquet")
    val emb = spark.read.parquet(s"$probe/corpus/embeddings.parquet")
    val changes = s"$probe/backlog/shop/orders/changes"
    val envelopes = spark.read
      .format(classOf[graft.sources.ChangeStreamSource].getName).load(changes)

    // fixed in-memory kernel inputs
    val text = docs.select("text").crossJoin(spark.range(10)).drop("id")
      .repartition(a.cores).cache()
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
      .repartition(a.cores).cache()
    val vecs = emb.select("embedding").crossJoin(spark.range(20)).drop("id")
      .repartition(a.cores).cache()
    val env = envelopes.repartition(a.cores).cache()
    val rows = Map("text" -> text.count(), "words" -> words.count(),
      "vecs" -> vecs.count(), "env" -> env.count())
    val merges = "k a l o m i n e r u t a v o z i p e s u d a r i m o x a " +
      "b e f u ka lo mi ne"
    val kernels = Seq(
      ("minhash_sig", "text", "minhash_sig(split(text, ' '), 32)"),
      ("simhash64", "text", "simhash64(split(text, ' '))"),
      ("winnow_fingerprint", "text", "winnow_fingerprint(text, 24, 8)"),
      ("token_counts", "text", "token_counts(split(text, ' '))"),
      ("bpe_apply", "words", s"bpe_apply(w, '$merges')"),
      ("lsh_buckets", "vecs", "lsh_buckets(embedding, 6, 6)"),
      ("vec_dot", "vecs", "vec_dot(embedding, embedding)"),
      ("to_extended_json", "env", "to_extended_json(struct(*))"))
    val input = Map("text" -> text, "words" -> words, "vecs" -> vecs,
      "env" -> env)
    val fn = kernels.map { case (name, in, e) =>
      val s = timeMedian(tr, spark, s"functions.$name", 2) {
        Harness.digest(input(in).selectExpr(s"$e AS k"))
      }
      s"functions.$name.rows_per_s" -> rows(in) / s
    }.toMap

    Harness.log("kernel probes done")
    val n = docs.count()
    val ops = Map[String, () => Any](
      "kmeans_fit" -> (() =>
        KMeans.fit(emb, "vec_id", "embedding", 8, 5)),
      "connected_components" -> (() => Harness.digest(ConnectedComponents.run(
        spark.range(n).select(col("id").as("src"),
          ((col("id") * 7919 + 13) % (n / 3)).as("dst")), "src", "dst"))),
      "pack_shards" -> (() =>
        Harness.digest(Pack.packShards(docs, "doc_id", "n_chars", 4096L))),
      "incremental_dedup_probe" -> (() => Harness.digest(IncrementalDedup.probe(
        IncrementalDedup.buildIndex(docs.filter(col("doc_id") % 10 =!= 0)),
        IncrementalDedup.buildIndex(docs.filter(col("doc_id") % 10 === 0)),
        cap = 50))),
      "coreset" -> (() =>
        Harness.digest(Coreset.farthestPoint(emb, "vec_id", "embedding", 16))))
    val op = ops.map { case (name, f) =>
      s"operators.$name.s" -> timeMedian(tr, spark, s"operators.$name", 1)(f())
    }
    val toMsg = timeMedian(tr, spark, "operators.cdc_to_messages", 2) {
      Harness.digest(CdcPipeline.toMessages(spark, "ORDERS")(env).toDF())
    }
    val src = timeMedian(tr, spark, "sources.changestream", 2) {
      Harness.digest(spark.read
        .format(classOf[graft.sources.ChangeStreamSource].getName)
        .load(changes))
    }
    // the source's offset lookup (file listing + footer token stats) on a
    // freshly staged copy, so no cached footer stands in for the work
    val fresh = s"${a.work}/latest-offset"
    Harness.linkTree(java.nio.file.Paths.get(s"$probe/backlog"),
      java.nio.file.Paths.get(fresh))
    val latestMs = tr.span(spark, "sources.latest_offset", "unit") {
      Cdc.collections(probe).map { c =>
        val stream = new graft.sources.ChangeStreamMicroBatch(
          s"$fresh/${c.db}/${c.coll}/changes", None)
        Harness.seconds(stream.latestOffset())._2 * 1000
      }.sum
    }
    Seq(text, words, vecs, env).foreach(_.unpersist())
    Harness.log("operator and source probes done")
    fn ++ op ++ Map(
      "operators.cdc_to_messages.rows_per_s" -> rows("env") / toMsg,
      "sources.changestream.rows_per_s" -> rows("env") / src,
      "sources.latest_offset_ms" -> latestMs)
  }
}
