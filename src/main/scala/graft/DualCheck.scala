package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.CandidatePairs
import graft.queries.{DedupQueries, SimilarityQueries, Tables}

/** Dual-implementation differential check (round-11 VERDICT #6): the five
  * replay oracles whose sf10 evidence is restricted-sub-corpus-only are
  * bounded by what DuckDB can recompute. For the two load-bearing ones —
  * `dedup_minhash_pairs` and `sim_knn_graph` — this main runs a SECOND,
  * independently-written Spark implementation over the FULL corpus and
  * requires bit-equality with the registered query.
  *
  * Independence: the registered queries generate candidate pairs by
  * BUCKET-COLLECT (one exchange on the band key, `collect_list` +
  * `struct_pairs` inside each group — pairs never shuffle). The second
  * implementations use the banded SELF-JOIN instead (two wide exchanges
  * and a join; the bucket cap applied through a counted-keys semi-join) —
  * the same algorithm shape as the DuckDB oracle SQL, so full-sf10
  * equality extends exactly the evidence the restricted DuckDB run gives.
  * The scalar kernels (minhash_ngrams, sig_match, lsh_buckets, vec_dot)
  * are shared — they are already pinned bit-exact by the restricted-sf10
  * DuckDB run; what the fixed oracles CANNOT pin at full sf10 is the
  * distributed grouping/capping/ranking machinery, which is exactly what
  * differs between the two implementations here.
  *
  * Usage: `sbt "runMain graft.DualCheck <sfDir> [minhash|knn|both]"` —
  * prints one JSON line per check; recorded in SCALING.md.
  */
object DualCheck {

  /** dedup_minhash_pairs, second implementation: banded self-join. */
  def minhashPairsJoin(s: SparkSession, dir: String): DataFrame = {
    val bands = Tables.scan(s, dir, "documents")
      .select(col("doc_id"),
        expr(s"minhash_ngrams(${DedupQueries.toks}, 3, 32)").as("sig"))
      .select(col("doc_id"), col("sig"),
        posexplode(expr(
          "transform(sequence(0, 7), b -> slice(sig, b * 4 + 1, 4))"))
          .as(Seq("band", "bkey")))
    val good = bands.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n").between(2, CandidatePairs.DfCap))
      .select(col("band"), col("bkey"))
    val bg = bands.join(good, Seq("band", "bkey"))
    bg.select(col("band"), col("bkey"),
        col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      .join(bg.select(col("band"), col("bkey"),
          col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (expr("sig_match(sig_a, sig_b)").cast("double") / 32.0).as("est"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("est")).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** sim_knn_graph, second implementation: banded self-join candidates,
    * then an independently-written rank/mutual tail.
    */
  def knnGraphJoin(s: SparkSession, dir: String): DataFrame = {
    val pl = SimilarityQueries.autoPlanes(SimilarityQueries.embCount(s, dir))
    val sigs = Tables.scan(s, dir, "embeddings")
      .select(col("vec_id"), expr("vec_normalize(embedding)").as("ne"),
        posexplode(expr(
          s"lsh_buckets(embedding, ${SimilarityQueries.GraphTables}, $pl)"))
          .as(Seq("table_id", "bucket")))
    val good = sigs.groupBy(col("table_id"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n").between(2, CandidatePairs.VecBucketCap))
      .select(col("table_id"), col("bucket"))
    val bg = sigs.join(good, Seq("table_id", "bucket"))
    val pairs = bg.select(col("table_id"), col("bucket"),
        col("vec_id").as("va"), col("ne").as("na"))
      .join(bg.select(col("table_id"), col("bucket"),
          col("vec_id").as("vb"), col("ne").as("nb")),
        Seq("table_id", "bucket"))
      .filter(col("va") < col("vb"))
      .select(col("va"), col("vb"),
        round(expr("vec_dot(na, nb)"), 6).as("cos"))
      .groupBy(col("va"), col("vb")).agg(max(col("cos")).as("cos"))
    val sym = pairs.select(col("va"), col("vb"), col("cos"))
      .unionByName(
        pairs.select(col("vb").as("va"), col("va").as("vb"), col("cos")))
    val w = Window.partitionBy(col("va"))
      .orderBy(col("cos").desc, col("vb"))
    val topk = sym.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= SimilarityQueries.TopK)
    topk
      .join(topk.select(col("vb").as("va"), col("va").as("vb"),
          lit(true).as("m")), Seq("va", "vb"), "left")
      .select(col("va").as("vec_id"), col("rank"), col("vb").as("nid"),
        col("cos"), coalesce(col("m"), lit(false)).as("mutual"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** Distributed bit-equality: equal row counts and empty set difference
    * in both directions (results are duplicate-free keyed rows; nothing
    * is collected to the driver).
    */
  private def sameResult(a: DataFrame, b: DataFrame): (Boolean, Long, Long) = {
    val (na, nb) = (a.count(), b.count())
    val equal = na == nb &&
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    (equal, na, nb)
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** One primary-vs-twin comparison: warm the primary once, time both
    * sides, then distributed bit-equality. Prints one JSON line.
    */
  private def check(name: String, sfDir: String,
      primary: => DataFrame, twin: => DataFrame): Boolean = {
    val (_, warmA) = timed(primary.count())
    val (_, primarySec) = timed(primary.count())
    val (_, secondSec) = timed(twin.count())
    val ((eq, na, nb), _) = timed(sameResult(primary, twin))
    println(s"""{"check":"$name","sf":"$sfDir",""" +
      s""""match":$eq,"rows_primary":$na,"rows_twin":$nb,""" +
      s""""primary_sec":${f"$primarySec%.2f"},""" +
      s""""twin_sec":${f"$secondSec%.2f"},""" +
      s""""warm_sec":${f"$warmA%.2f"}}""")
    eq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val which = if (args.length > 1) args(1) else "both"
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    var allMatch = true
    if (which == "minhash" || which == "both" || which == "all") {
      val (_, warmA) = timed(
        DedupQueries.queries("dedup_minhash_pairs")(spark, sfDir).count())
      val (_, primarySec) = timed(
        DedupQueries.queries("dedup_minhash_pairs")(spark, sfDir).count())
      val (_, secondSec) = timed(minhashPairsJoin(spark, sfDir).count())
      val ((eq, na, nb), _) = timed(sameResult(
        DedupQueries.queries("dedup_minhash_pairs")(spark, sfDir),
        minhashPairsJoin(spark, sfDir)))
      allMatch &&= eq
      println(s"""{"check":"dedup_minhash_pairs","sf":"$sfDir",""" +
        s""""match":$eq,"rows_primary":$na,"rows_selfjoin":$nb,""" +
        s""""primary_bucket_collect_sec":${f"$primarySec%.2f"},""" +
        s""""secondary_self_join_sec":${f"$secondSec%.2f"},""" +
        s""""warm_sec":${f"$warmA%.2f"}}""")
    }
    if (which == "knn" || which == "both" || which == "all") {
      val (_, warmA) = timed(
        SimilarityQueries.queries("sim_knn_graph")(spark, sfDir).count())
      val (_, primarySec) = timed(
        SimilarityQueries.queries("sim_knn_graph")(spark, sfDir).count())
      val (_, secondSec) = timed(knnGraphJoin(spark, sfDir).count())
      val ((eq, na, nb), _) = timed(sameResult(
        SimilarityQueries.queries("sim_knn_graph")(spark, sfDir),
        knnGraphJoin(spark, sfDir)))
      allMatch &&= eq
      println(s"""{"check":"sim_knn_graph","sf":"$sfDir",""" +
        s""""match":$eq,"rows_primary":$na,"rows_selfjoin":$nb,""" +
        s""""primary_bucket_collect_sec":${f"$primarySec%.2f"},""" +
        s""""secondary_self_join_sec":${f"$secondSec%.2f"},""" +
        s""""warm_sec":${f"$warmA%.2f"}}""")
    }
    // Round-12 twins (DualCheckTwins): the three remaining restricted-only
    // replay oracles. `which` accepts each name, or "all" for everything.
    // Each check is forced into a val BEFORE folding into allMatch:
    // `allMatch &&= check(...)` desugars to `allMatch = allMatch &&
    // check(...)`, which short-circuits — one failure would silently
    // skip (and un-report) every later check (ADVICE r12).
    if (which == "clusters" || which == "all") {
      val ok = check("sim_graph_clusters", sfDir,
        SimilarityQueries.queries("sim_graph_clusters")(spark, sfDir),
        DualCheckTwins.graphClustersLabelProp(spark, sfDir))
      allMatch = allMatch && ok
    }
    if (which == "incr" || which == "all") {
      val ok = check("dedup_incremental_pairs", sfDir,
        DedupQueries.queries("dedup_incremental_pairs")(spark, sfDir),
        DualCheckTwins.incrementalPairsBatch(spark, sfDir))
      allMatch = allMatch && ok
    }
    if (which == "kmeans" || which == "all") {
      // centroid-level equality first — the strongest statement (bit-equal
      // models imply equal downstream queries; checked anyway)
      val emb = Tables.scan(spark, sfDir, "embeddings")
      val primModel = graft.operators.KMeans.fit(
        emb, "vec_id", "embedding", k = 8, iters = 3)
      val twinModel = DualCheckTwins.KMeansTwin.fitMany(
        emb, "vec_id", Seq(col("embedding")), k = 8, iters = 3).head
      val centEq = primModel.map { case (c, v, s2) => (c, v.toList, s2) }
        .sameElements(twinModel.map { case (c, v, s2) => (c, v.toList, s2) })
      println(s"""{"check":"kmeans_centroids_k8","sf":"$sfDir",""" +
        s""""match":$centEq,"cells":${primModel.length}}""")
      allMatch = allMatch && centEq
      // vals first (not &&=): a centroid mismatch must still run and
      // report the three end-to-end checks below (ADVICE r12).
      val cellsOk = check("sim_kmeans_cells", sfDir,
        SimilarityQueries.queries("sim_kmeans_cells")(spark, sfDir),
        DualCheckTwins.kmeansCellsTwin(spark, sfDir))
      val ivfOk = check("sim_knn_ivf_trained", sfDir,
        SimilarityQueries.queries("sim_knn_ivf_trained")(spark, sfDir),
        DualCheckTwins.ivfTrainedTwin(spark, sfDir))
      val pqOk = check("sim_pq_codes", sfDir,
        SimilarityQueries.queries("sim_pq_codes")(spark, sfDir),
        DualCheckTwins.pqCodesTwin(spark, sfDir))
      allMatch = allMatch && cellsOk && ivfOk && pqOk
    }
    // Round-14 twins (VERDICT r13 #4): the sf10 oracle-timeout queries
    // that had no independent full-sf10 check. `which` accepts "r14" for
    // the whole set or any single name.
    val r14 = Seq[(String, (SparkSession, String) => DataFrame,
        (SparkSession, String) => DataFrame)](
      ("dedup_winnow_pairs", DedupQueries.queries("dedup_winnow_pairs"),
        DualCheckTwins.winnowPairsJoin),
      ("dedup_cdc_chunks", DedupQueries.queries("dedup_cdc_chunks"),
        DualCheckTwins.cdcChunksTwoPhase),
      ("dedup_simhash_pairs", DedupQueries.queries("dedup_simhash_pairs"),
        DualCheckTwins.simhashPairsJoin),
      ("dedup_embedding_near", DedupQueries.queries("dedup_embedding_near"),
        DualCheckTwins.embeddingNearJoin),
      ("dedup_semantic_survivors",
        DedupQueries.queries("dedup_semantic_survivors"),
        DualCheckTwins.semanticSurvivorsTwin),
      ("dedup_split_leakproof",
        DedupQueries.queries("dedup_split_leakproof"),
        DualCheckTwins.splitLeakproofTwin),
      ("text_corpus_fingerprint",
        graft.queries.TextQueries.queries("text_corpus_fingerprint"),
        DualCheckTwins.corpusFingerprintVotes),
      ("text_fingerprint",
        graft.queries.TextQueries.queries("text_fingerprint"),
        DualCheckTwins.fingerprintVotes),
      ("text_cms_counts",
        graft.queries.TextQueries.queries("text_cms_counts"),
        DualCheckTwins.cmsCountsRaw))
    for ((name, primary, twin) <- r14
        if which == name || which == "r14" || which == "all") {
      val ok = check(name, sfDir, primary(spark, sfDir), twin(spark, sfDir))
      allMatch = allMatch && ok
    }
    // Round-15 twin (VERDICT r14 #3): sim_label_audit — the last
    // kNN-family member without an independent full-sf10 check.
    if (which == "sim_label_audit" || which == "r15" || which == "all") {
      val ok = check("sim_label_audit", sfDir,
        SimilarityQueries.queries("sim_label_audit")(spark, sfDir),
        DualCheckTwins.labelAuditFold(spark, sfDir))
      allMatch = allMatch && ok
    }
    spark.stop()
    if (!allMatch) sys.exit(2)
  }
}
