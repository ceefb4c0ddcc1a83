package graft

import java.nio.file.Files

import graft.queries.DedupQueries

/** Pins the "no silent caps" telemetry (round-14 VERDICT #8): when the
  * winnow bucket cap drops over-full fingerprint buckets, the dropped
  * count and posting mass must surface as an observed metric on the query
  * itself — the sf10 100-replica corpus legitimately winnows to ZERO pairs
  * (every bucket exceeds DfCap), and that zero must carry its explanation.
  * Reads `queryExecution.observedMetrics` synchronously, so no listener
  * race; the logging listener itself is exercised by the same action.
  */
class CapDropsSpec extends SparkSuite {

  private def winnowMetrics(dir: String): (Long, Long, Long, Long) = {
    val df = DedupQueries.queries("dedup_winnow_pairs")(spark, dir)
    // collect() on THIS dataset: observedMetrics lives on the executed
    // QueryExecution, and count() would execute a different one
    val rows = df.collect().length.toLong
    val m = df.queryExecution.observedMetrics.collectFirst {
      case (name, row) if name.startsWith("graft_dropped_winnow") => row
    }.getOrElse(fail("no graft_dropped_winnow observation on the plan"))
    (rows, m.getAs[Long]("dropped_buckets"),
      m.getAs[Long]("dropped_postings"), m.getAs[Long]("total_buckets"))
  }

  test("a hot fingerprint bucket past DfCap surfaces its dropped mass") {
    val tmp = Files.createTempDirectory("graft-capdrop").toString
    // 60 identical docs (> DfCap = 50): every fingerprint bucket of the
    // replica text exceeds the cap, so pairs = 0 — but NOT silently.
    val hot = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (0 until 60).map(i => (i.toLong, hot))
    import spark.implicits._
    docs.toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")

    val rows = DedupQueries.queries("dedup_winnow_pairs")(spark, tmp)
      .collect().length
    assert(rows == 0, s"replica corpus should winnow to 0 pairs, got $rows")
    // The all-dropped/empty-result case is exactly where the observed
    // metric is LOST — AQE's empty-relation propagation replaces the
    // subtree carrying the CollectMetrics node — so the loss-proof
    // channel is the companion oracle-gated audit query.
    val audit = DedupQueries.queries("dedup_winnow_dropped")(spark, tmp)
      .head()
    val droppedBuckets = audit.getAs[Long]("dropped_buckets")
    val total = audit.getAs[Long]("total_buckets")
    assert(droppedBuckets > 0L, "the dropped buckets must be reported")
    assert(droppedBuckets == total,
      s"every bucket is over-cap here: $droppedBuckets of $total")
    assert(audit.getAs[Long]("dropped_postings") == droppedBuckets * 60,
      "posting mass = 60 replicas per dropped fingerprint bucket")
  }

  test("an in-cap corpus reports zero dropped mass and keeps its pairs") {
    val tmp = Files.createTempDirectory("graft-capdrop0").toString
    // 3 near-identical docs — buckets of size 3 <= DfCap, nothing dropped
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq((0L, base), (1L, base), (2L, base + " extra"))
    import spark.implicits._
    docs.toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")

    val (rows, droppedBuckets, droppedPostings, _) = winnowMetrics(tmp)
    assert(rows > 0L, "in-cap replicas must produce pairs")
    assert(droppedBuckets == 0L && droppedPostings == 0L,
      s"nothing exceeds the cap: $droppedBuckets buckets, " +
        s"$droppedPostings postings")
  }

  test("a non-winnow generator observes its drops too: dedup_simhash_pairs " +
      "with a planted hot band reports the dropped buckets and postings") {
    val tmp = Files.createTempDirectory("graft-capdrop-sh").toString
    // 60 identical docs (> DfCap = 50) fill one bucket in each of the 4
    // bands; 3 near-identical docs still produce pairs, so the observation
    // survives on a non-empty result
    val hot = "the quick brown fox jumps over the lazy dog again and again"
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (0 until 60).map(i => (i.toLong, hot)) ++
      Seq((100L, base), (101L, base), (102L, base + " extra"))
    import spark.implicits._
    docs.toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")

    val df = DedupQueries.queries("dedup_simhash_pairs")(spark, tmp)
    val rows = df.collect()
    assert(rows.nonEmpty, "the in-cap near-dups must still pair")
    assert(rows.forall(_.getLong(0) >= 100L), "no hot doc pairs")
    val m = df.queryExecution.observedMetrics.collectFirst {
      case (name, row) if name.startsWith("graft_dropped_simhash") => row
    }.getOrElse(fail("no graft_dropped_simhash observation on the plan"))
    assert(m.getAs[Long]("dropped_buckets") == 4L)
    assert(m.getAs[Long]("dropped_postings") == 4L * 60)
    assert(m.getAs[Long]("total_buckets") > 4L)
  }
}
