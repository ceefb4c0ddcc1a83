package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.{DedupQueries, SimilarityQueries, Tables}

/** Pins the round-12 DualCheck twins (independent second implementations
  * of the restricted-only replay oracles) bit-equal to the registered
  * queries at the gate SFs. The full-sf10 runs are recorded in SCALING.md;
  * this suite keeps the twins from drifting between rounds.
  */
class DualCheckTwinsSpec extends SparkSuite {

  private def assertSame(name: String, a: DataFrame, b: DataFrame): Unit = {
    val (na, nb) = (a.count(), b.count())
    assert(na == nb, s"$name: row counts differ — primary $na vs twin $nb")
    val onlyA = a.exceptAll(b).count()
    val onlyB = b.exceptAll(a).count()
    assert(onlyA == 0 && onlyB == 0,
      s"$name: $onlyA rows only in primary, $onlyB only in twin")
  }

  test("graph clusters: label propagation matches large-star/small-star") {
    for (dir <- Seq(sf("sf0.001"), sf("sf0.01")))
      assertSame(s"sim_graph_clusters@$dir",
        SimilarityQueries.queries("sim_graph_clusters")(spark, dir),
        DualCheckTwins.graphClustersLabelProp(spark, dir))
  }

  test("incremental pairs: batch self-join matches index/probe") {
    for (dir <- Seq(sf("sf0.001"), sf("sf0.01")))
      assertSame(s"dedup_incremental_pairs@$dir",
        DedupQueries.queries("dedup_incremental_pairs")(spark, dir),
        DualCheckTwins.incrementalPairsBatch(spark, dir))
  }

  test("kmeans twin trainer: identical centroids, k=8 and PQ k=16") {
    val dir = sf("sf0.001")
    val emb = Tables.scan(spark, dir, "embeddings")
    val prim = graft.operators.KMeans.fit(
      emb, "vec_id", "embedding", k = 8, iters = 3)
    val twin = DualCheckTwins.KMeansTwin.fitMany(
      emb, "vec_id", Seq(col("embedding")), k = 8, iters = 3).head
    assert(prim.map { case (c, v, s) => (c, v.toList, s) }.toList ==
      twin.map { case (c, v, s) => (c, v.toList, s) }.toList,
      "k=8 centroids diverge")
    val slices = (0 until 4).map(s2 =>
      expr(s"slice(embedding, ${s2 * 16 + 1}, 16)"))
    val primPq = graft.operators.KMeans.fitMany(
      emb, "vec_id", slices, k = 16, iters = 3)
    val twinPq = DualCheckTwins.KMeansTwin.fitMany(
      emb, "vec_id", slices, k = 16, iters = 3)
    assert(primPq.map(_.map { case (c, v, s) => (c, v.toList, s) }.toList) ==
      twinPq.map(_.map { case (c, v, s) => (c, v.toList, s) }.toList),
      "PQ sub-codebooks diverge")
  }

  test("kmeans family queries: twins match end-to-end at sf0.001") {
    val dir = sf("sf0.001")
    assertSame("sim_kmeans_cells",
      SimilarityQueries.queries("sim_kmeans_cells")(spark, dir),
      DualCheckTwins.kmeansCellsTwin(spark, dir))
    assertSame("sim_knn_ivf_trained",
      SimilarityQueries.queries("sim_knn_ivf_trained")(spark, dir),
      DualCheckTwins.ivfTrainedTwin(spark, dir))
    assertSame("sim_pq_codes",
      SimilarityQueries.queries("sim_pq_codes")(spark, dir),
      DualCheckTwins.pqCodesTwin(spark, dir))
  }

  test("round-14 twins (the former sf10 oracle-timeout set) match their " +
      "primaries at sf0.01 — self-join vs bucket-collect, two-phase agg " +
      "vs countDistinct, exploded bit votes vs simhash_agg, raw-instance " +
      "CMS cells vs the vocab form, label propagation vs star CC") {
    val dir = sf("sf0.01")
    import graft.queries.TextQueries
    assertSame("dedup_winnow_pairs",
      DedupQueries.queries("dedup_winnow_pairs")(spark, dir),
      DualCheckTwins.winnowPairsJoin(spark, dir))
    assertSame("dedup_cdc_chunks",
      DedupQueries.queries("dedup_cdc_chunks")(spark, dir),
      DualCheckTwins.cdcChunksTwoPhase(spark, dir))
    assertSame("dedup_simhash_pairs",
      DedupQueries.queries("dedup_simhash_pairs")(spark, dir),
      DualCheckTwins.simhashPairsJoin(spark, dir))
    assertSame("dedup_embedding_near",
      DedupQueries.queries("dedup_embedding_near")(spark, dir),
      DualCheckTwins.embeddingNearJoin(spark, dir))
    assertSame("dedup_semantic_survivors",
      DedupQueries.queries("dedup_semantic_survivors")(spark, dir),
      DualCheckTwins.semanticSurvivorsTwin(spark, dir))
    assertSame("dedup_split_leakproof",
      DedupQueries.queries("dedup_split_leakproof")(spark, dir),
      DualCheckTwins.splitLeakproofTwin(spark, dir))
    assertSame("text_corpus_fingerprint",
      TextQueries.queries("text_corpus_fingerprint")(spark, dir),
      DualCheckTwins.corpusFingerprintVotes(spark, dir))
    assertSame("text_fingerprint",
      TextQueries.queries("text_fingerprint")(spark, dir),
      DualCheckTwins.fingerprintVotes(spark, dir))
    assertSame("text_cms_counts",
      TextQueries.queries("text_cms_counts")(spark, dir),
      DualCheckTwins.cmsCountsRaw(spark, dir))
  }

  test("round-15 twin: sim_label_audit array-fold majority vote over " +
      "self-join edges matches the groupBy+window primary") {
    for (dir <- Seq(sf("sf0.001"), sf("sf0.01")))
      assertSame(s"sim_label_audit@$dir",
        SimilarityQueries.queries("sim_label_audit")(spark, dir),
        DualCheckTwins.labelAuditFold(spark, dir))
  }
}
