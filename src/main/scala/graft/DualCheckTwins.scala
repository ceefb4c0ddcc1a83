package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.CandidatePairs.{DfCap, VecBucketCap}
import graft.queries.{DedupQueries, SimilarityQueries, Tables}

/** Round-12 DualCheck twins: independent second implementations for the
  * three remaining restricted-only sf10 replay oracles (round-11 VERDICT
  * "Next round" #2) — `sim_graph_clusters`, `dedup_incremental_pairs` and
  * the k-means family (`sim_kmeans_cells` / `sim_knn_ivf_trained` /
  * `sim_pq_codes`).
  *
  * Independence contract (same as round-11's DualCheck pair): the scalar
  * kernels (vec_quantize6, vec_dotq, minhash_ngrams, sig_match, the
  * seedRace/scoreQLong constants) are SHARED — they are already pinned
  * bit-exact by the restricted-sf10 DuckDB runs. What the fixed oracles
  * cannot pin at full sf10 is the distributed iteration / grouping /
  * capping / ranking machinery, so that is what differs here:
  *
  *  - k-means: the registered trainer assigns with a zero-shuffle argmax
  *    FOLD over a typedlit centroid literal and updates via
  *    explode+posexplode partial sums ([[graft.operators.KMeans]]); the
  *    twin assigns with a broadcast centroid-table JOIN + row_number
  *    window and updates with per-dimension `sum(element_at(...))`
  *    aggregates (no explode), and its seeding loop recomputes min
  *    distances from scratch each step instead of the primary's
  *    incremental refresh.
  *  - graph clusters: the registered query runs alternating
  *    large-star/small-star (with a union-find cutover,
  *    [[graft.operators.ConnectedComponents]]); the twin is naive
  *    min-LABEL PROPAGATION — O(diameter) rounds, each one join + one
  *    keyed min — with convergence detected from the monotone label sum.
  *  - incremental pairs: the registered query funnels both sides through
  *    the index/probe bucket-collect (`collect_list` + `struct_pairs`,
  *    [[graft.operators.IncrementalDedup]]); the twin recomputes from
  *    scratch as one batch banded SELF-JOIN restricted to cross-side
  *    (corpus × delta) pairs.
  */
object DualCheckTwins {

  // -------------------------------------------------------------------
  // k-means twin trainer
  // -------------------------------------------------------------------

  /** Independently-written twin of [[graft.operators.KMeans]]: same
    * seeding contract and micro-unit lattice, different distributed
    * machinery (see file header). Produces the same `Model` shape so the
    * two are directly comparable.
    */
  object KMeansTwin {
    import graft.operators.KMeans.{Model, scoreQLong, seedRace}

    /** The mirrored IEEE scoring chain (identical op sequence to
      * KMeans.scoreQ — the chain IS the contract; only the surrounding
      * machinery may differ).
      */
    private def score(xq: Column, sxx: Column, cq: Column,
        scc: Column): Column =
      when(sxx === 0L || scc === 0L, lit(0L))
        .otherwise(floor(
          call_function("vec_dotq", xq, cq).cast("double") /
            (sqrt(sxx.cast("double")) * sqrt(scc.cast("double"))) *
            lit(1e6) + lit(0.5)))

    /** Nearest-centroid assignment as a broadcast JOIN against the model
      * rendered as a DataFrame, argmax via a row_number window ordered
      * (score DESC, cell ASC) — the lowest-cell tie-break the primary's
      * strict-`>` fold implements. Keeps every input column; requires
      * `id` unique per row (true for every caller: vec_id).
      */
    def assignQ(df: DataFrame, id: String, xqCol: String, sxxCol: String,
        model: Model, out: String): DataFrame = {
      val sp = df.sparkSession
      import sp.implicits._
      val cents = model.toSeq.toDF("__tw_cell", "__tw_cq", "__tw_scc")
      val w = Window.partitionBy(col(id))
        .orderBy(col("__tw_sc").desc, col("__tw_cell").asc)
      df.crossJoin(broadcast(cents))
        .withColumn("__tw_sc",
          score(col(xqCol), col(sxxCol), col("__tw_cq"), col("__tw_scc")))
        .withColumn("__tw_rn", row_number().over(w))
        .filter(col("__tw_rn") === 1)
        .drop("__tw_cq", "__tw_scc", "__tw_sc", "__tw_rn")
        .withColumnRenamed("__tw_cell", out)
    }

    /** Twin trainer: same contracts as KMeans.fitMany (quantize-once,
      * md5-prefix sampling threshold, id-ordered pool, smallest-id first
      * seed, D²/race greedy, empty cells keep their centroid), different
      * loop mechanics throughout.
      */
    def fitMany(emb: DataFrame, idCol: String, subVecs: Seq[Column],
        k: Int, iters: Int, maxTrainRows: Long = 100000L): Seq[Model] = {
      val S = subVecs.length
      val full = emb.select(col(idCol).as("__id") +:
        subVecs.zipWithIndex.map { case (c, i) =>
          call_function("vec_quantize6", c).as(s"__v$i") }: _*)
      val n = full.count()
      // sampling threshold: shared contract constant (same formula as the
      // primary — a different rounding would legitimately diverge)
      val sampled = if (n <= maxTrainRows) full else {
        val thresh = (BigDecimal(maxTrainRows) * BigDecimal(1L << 32) /
          BigDecimal(n)).toLong
        full.filter(conv(substring(md5(col("__id").cast("string")), 1, 8),
          16, 10).cast("long") < thresh)
      }
      val base = sampled.persist()
      try {
        val poolCap = math.max(k * 32, 1024)
        val pool = base.orderBy(col("__id")).limit(poolCap).collect()
        require(pool.length >= k,
          s"need at least $k rows to seed $k centroids, got ${pool.length}")
        val race = pool.map(r => seedRace(r.get(0).toString))

        def seedsFor(s: Int): Model = {
          val vecs = pool.map(_.getSeq[Long](s + 1).toArray)
          val sxx = vecs.map { v =>
            var t = 0L; var i = 0
            while (i < v.length) { t += v(i) * v(i); i += 1 }
            t
          }
          def dq(a: Int, b: Int): Long =
            1000000L - scoreQLong(vecs(a), sxx(a), vecs(b), sxx(b))
          val chosen = scala.collection.mutable.ArrayBuffer(0)
          while (chosen.length < k) {
            var best = -1
            var bestScore = Double.NegativeInfinity
            for (i <- vecs.indices if !chosen.contains(i)) {
              // full recompute of the min separation each step — the
              // primary refreshes incrementally
              val minD = chosen.iterator.map(c => dq(i, c)).min
              val sc = (minD * minD).toDouble / race(i).toDouble
              if (sc > bestScore) { bestScore = sc; best = i }
            }
            chosen += best
          }
          chosen.zipWithIndex.map { case (p, cell) =>
            (cell.toLong, vecs(p).toSeq, sxx(p))
          }.toArray
        }
        var models: Array[Model] = Array.tabulate(S)(seedsFor)
        val dims: Array[Int] = models.map(_.head._2.length)

        (1 to iters).foreach { _ =>
          var assigned: DataFrame = base
          for (s <- 0 until S) {
            assigned = assignQ(
              assigned.withColumn(s"__s$s",
                call_function("vec_dotq", col(s"__v$s"), col(s"__v$s"))),
              "__id", s"__v$s", s"__s$s", models(s), s"__c$s")
          }
          models = models.zipWithIndex.map { case (m, s) =>
            val dim = dims(s)
            // per-dimension sums as dim parallel aggregates over one
            // keyed exchange — no explode, k groups × (dim + 1) columns
            val aggs = (0 until dim).map(i =>
              sum(element_at(col(s"__v$s"), i + 1)).as(s"d$i")) :+
              count(lit(1)).as("cnt")
            val upd = assigned.groupBy(col(s"__c$s").as("cell"))
              .agg(aggs.head, aggs.tail: _*)
              .collect()
              .map { r =>
                val cnt = r.getLong(dim + 1)
                r.getLong(0) -> (0 until dim).map(i =>
                  math.floor(r.getLong(i + 1).toDouble / cnt.toDouble
                    + 0.5).toLong).toSeq
              }.toMap
            m.map { case (cell, old, oldScc) =>
              upd.get(cell) match {
                case Some(cq) =>
                  var t = 0L; var i = 0
                  while (i < cq.length) { t += cq(i) * cq(i); i += 1 }
                  (cell, cq, t)
                case None => (cell, old, oldScc)
              }
            }
          }
        }
        models.toSeq
      } finally base.unpersist(blocking = false)
    }
  }

  /** (vec_id, xq, sxx) quantized frame for the twin query paths. */
  private def quantFrame(s: SparkSession, dir: String): DataFrame =
    Tables.scan(s, dir, "embeddings")
      .select(col("vec_id"),
        call_function("vec_quantize6", col("embedding")).as("__xq"))
      .withColumn("__sxx",
        call_function("vec_dotq", col("__xq"), col("__xq")))

  /** sim_kmeans_cells, end-to-end twin. */
  def kmeansCellsTwin(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.scan(s, dir, "embeddings")
    val model = KMeansTwin.fitMany(emb, "vec_id",
      Seq(col("embedding")), k = 8, iters = 3).head
    KMeansTwin.assignQ(quantFrame(s, dir), "vec_id", "__xq", "__sxx",
        model, "cell")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("cell"))
  }

  /** sim_pq_codes, end-to-end twin (4 × 16-dim sub-codebooks, k=16). */
  def pqCodesTwin(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.scan(s, dir, "embeddings")
    val slices = (0 until 4).map(sub =>
      expr(s"slice(embedding, ${sub * 16 + 1}, 16)"))
    val models = KMeansTwin.fitMany(emb, "vec_id", slices, k = 16, iters = 3)
    var out = emb.select(col("vec_id") +:
      slices.zipWithIndex.map { case (c, i) =>
        call_function("vec_quantize6", c).as(s"__q$i") }: _*)
    for (sub <- 0 until 4) {
      out = KMeansTwin.assignQ(
        out.withColumn(s"__s$sub",
          call_function("vec_dotq", col(s"__q$sub"), col(s"__q$sub"))),
        "vec_id", s"__q$sub", s"__s$sub", models(sub), s"c$sub")
    }
    out.select(col("vec_id"), col("c0"), col("c1"), col("c2"), col("c3"))
      .orderBy(col("vec_id"))
  }

  /** sim_knn_ivf_trained, end-to-end twin: twin trainer, twin assignment,
    * twin probe ranking (join + window instead of the per-row sorted-array
    * slice), twin re-rank (shuffle join, no broadcast hint).
    * Query-vector set: vec_id < 10 (SimilarityQueries.NQueries).
    */
  def ivfTrainedTwin(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.scan(s, dir, "embeddings")
    val model = KMeansTwin.fitMany(emb, "vec_id",
      Seq(col("embedding")), k = 8, iters = 3).head
    val q = quantFrame(s, dir)
    val assigned = KMeansTwin.assignQ(q, "vec_id", "__xq", "__sxx",
      model, "cell")
    import s.implicits._
    val cents = model.toSeq.toDF("cell", "cq", "scc")
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("__psc").desc, col("cell").asc)
    val probes = q.filter(col("vec_id") < 10)
      .toDF("qid", "qxq", "qsxx")
      .crossJoin(cents)
      .withColumn("__psc", when(col("qsxx") === 0L || col("scc") === 0L,
          lit(0L))
        .otherwise(floor(
          call_function("vec_dotq", col("qxq"), col("cq")).cast("double") /
            (sqrt(col("qsxx").cast("double")) *
              sqrt(col("scc").cast("double"))) * lit(1e6) + lit(0.5))))
      .withColumn("__prn", row_number().over(wp))
      .filter(col("__prn") <= 3)
      .select(col("qid"), col("qxq"), col("qsxx"), col("cell"))
    val wr = Window.partitionBy(col("qid"))
      .orderBy(col("sq").desc, col("nid"))
    assigned.toDF("nid", "nxq", "nsxx", "cell")
      .join(probes, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sq", when(col("qsxx") === 0L || col("nsxx") === 0L,
          lit(0L))
        .otherwise(floor(
          call_function("vec_dotq", col("qxq"), col("nxq")).cast("double") /
            (sqrt(col("qsxx").cast("double")) *
              sqrt(col("nsxx").cast("double"))) * lit(1e6) + lit(0.5))))
      .withColumn("cos", col("sq").cast("double") / lit(1e6))
      .withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  // -------------------------------------------------------------------
  // sim_graph_clusters twin: min-label propagation
  // -------------------------------------------------------------------

  /** Naive min-label propagation over the registered mutual-kNN edge list
    * (the edges themselves are already dual-checked at full sf10 —
    * round-11 DualCheck `sim_knn_graph`): each round every node lowers
    * its label to the min of itself and its neighbors' labels; converged
    * when the (monotone non-increasing) label sum stops moving. O(diameter)
    * rounds — fine for a twin over small near-dup clusters, and exactly
    * the algorithm the primary's large-star/small-star is NOT.
    */
  def graphClustersLabelProp(s: SparkSession, dir: String,
      maxIter: Int = 100): DataFrame = {
    val edges = SimilarityQueries.queries("sim_knn_graph")(s, dir)
      .filter(col("mutual") && col("vec_id") < col("nid"))
      .select(col("vec_id").as("a"), col("nid").as("b"))
    val labels = labelPropagate(edges, maxIter)
    Tables.scan(s, dir, "embeddings").select(col("vec_id"))
      .join(labels.select(col("node").as("vec_id"), col("lbl")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("lbl"), col("vec_id")).as("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** Naive min-label propagation over an (a, b) edge list — the reusable
    * core of [[graphClustersLabelProp]] (round 14 extracts it so every
    * ConnectedComponents consumer can be twinned with the O(diameter)
    * algorithm the primary's large-star/small-star is NOT). Returns
    * (node, lbl) where lbl = min node id reachable — the same contract
    * as [[graft.operators.ConnectedComponents.run]]'s `component`.
    */
  def labelPropagate(edges: DataFrame, maxIter: Int = 100): DataFrame = {
    val sym = edges
      .unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(false)
    var labels = sym.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint(false)
    def total(df: DataFrame): Long =
      df.agg(coalesce(sum(col("lbl")), lit(0L))).head().getLong(0)
    var tot = total(labels)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("node").as("b"), col("lbl")), Seq("b"))
        .groupBy(col("a")).agg(min(col("lbl")).as("nm"))
      val next = labels
        .join(nbrMin.select(col("a").as("node"), col("nm")),
          Seq("node"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("nm"), col("lbl"))).as("lbl"))
        .localCheckpoint(false)
      val ntot = total(next)
      converged = ntot == tot
      tot = ntot
      labels = next
      it += 1
    }
    require(converged,
      s"label propagation did not converge in $maxIter rounds")
    labels
  }

  // -------------------------------------------------------------------
  // dedup_incremental_pairs twin: recompute-from-scratch batch self-join
  // -------------------------------------------------------------------

  /** Batch restriction twin: band everything once, count bucket occupancy
    * over BOTH sides (the same 2..DfCap cap the probe applies to its
    * merged collect), then a banded self-join keeping only corpus × delta
    * pairs — no collect_list, no struct_pairs, no index/probe split.
    */
  def incrementalPairsBatch(s: SparkSession, dir: String): DataFrame = {
    val isDelta = conv(substring(md5(concat(lit("delta:"),
      col("doc_id").cast("string"))), 1, 2), 16, 10).cast("int") < 26
    val bands = Tables.scan(s, dir, "documents")
      .withColumn("side", when(isDelta, lit(1)).otherwise(lit(0)))
      .select(col("side"), col("doc_id"),
        expr(s"minhash_ngrams(${DedupQueries.toks}, 3, 32)").as("sig"))
      .select(col("side"), col("doc_id"), col("sig"),
        posexplode(expr(
          "transform(sequence(0, 7), b -> slice(sig, b * 4 + 1, 4))"))
          .as(Seq("band", "bkey")))
    val good = bands.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n").between(2, DfCap))
      .select(col("band"), col("bkey"))
    val bg = bands.join(good, Seq("band", "bkey"))
    bg.filter(col("side") === 0)
      .select(col("band"), col("bkey"),
        col("doc_id").as("base_id"), col("sig").as("sig_a"))
      .join(bg.filter(col("side") === 1)
          .select(col("band"), col("bkey"),
            col("doc_id").as("delta_id"), col("sig").as("sig_b")),
        Seq("band", "bkey"))
      .select(col("delta_id"), col("base_id"),
        (expr("sig_match(sig_a, sig_b)").cast("double") / 32.0).as("est"))
      .groupBy(col("delta_id"), col("base_id"))
      .agg(max(col("est")).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
      .orderBy(col("delta_id"), col("base_id"))
  }

  // -------------------------------------------------------------------
  // Round-14 twins (VERDICT r13 #4): independent second implementations
  // for the remaining sf10 oracle-timeout queries. Same independence
  // contract as above — scalar kernels (fnv64, winnow_fingerprint,
  // cdc_chunks, simhash64, shingle_hashes, lsh_buckets, vec_dot/vec_cos)
  // are SHARED (fuzz- and sf1-pinned); the distributed machinery
  // (bucket-collect vs self-join, single-pass distinct agg vs two-phase,
  // mergeable summary vs exploded votes, large-star/small-star vs label
  // propagation) is what differs, because that is what the fixed oracles
  // cannot pin at full sf10.
  // -------------------------------------------------------------------

  /** dedup_winnow_pairs twin: banded SELF-JOIN replay of the primary's
    * bucket-collect inverted index (parallels DualCheck.minhashPairsJoin).
    * The shared-fingerprint count comes from a pair-keyed groupBy over the
    * join, not ordered_pairs over a collected posting list.
    */
  def winnowPairsJoin(s: SparkSession, dir: String): DataFrame = {
    import DedupQueries.{WinnowK, WinnowMinShared, WinnowW}
    val fp = Tables.scan(s, dir, "documents")
      .select(col("doc_id"),
        explode(expr(s"winnow_fingerprint(text, $WinnowK, $WinnowW)"))
          .as("f"))
    val good = fp.groupBy(col("f")).agg(count(lit(1)).as("n"))
      .filter(col("n").between(2, DfCap)).select(col("f"))
    val g = fp.join(good, Seq("f"))
    g.select(col("f"), col("doc_id").as("doc_a"))
      .join(g.select(col("f"), col("doc_id").as("doc_b")), Seq("f"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("long").as("shared_fp"))
      .filter(col("shared_fp") >= WinnowMinShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** dedup_cdc_chunks twin: two-phase keyed aggregation — groupBy
    * (chunk, doc) then groupBy chunk — instead of the primary's single
    * countDistinct pass (different partial-aggregation tree).
    */
  def cdcChunksTwoPhase(s: SparkSession, dir: String): DataFrame =
    Tables.scan(s, dir, "documents")
      .select(col("doc_id"), explode(expr("cdc_chunks(text, 5)")).as("ch"))
      .groupBy(col("ch"), col("doc_id")).agg(count(lit(1)).as("hits"))
      .groupBy(col("ch"))
      .agg(count(lit(1)).as("n_docs"), sum(col("hits")).as("n_hits"))
      .filter(col("n_docs").between(2, 64))
      .select(col("ch"), col("n_docs").cast("bigint").as("n_docs"),
        col("n_hits").cast("bigint").as("n_hits"))
      .orderBy(col("ch"))

  /** dedup_simhash_pairs twin: banded self-join with a count prefilter,
    * instead of the primary's capped bucket-collect + struct_pairs.
    */
  def simhashPairsJoin(s: SparkSession, dir: String): DataFrame = {
    val bands = Tables.scan(s, dir, "documents")
      .select(col("doc_id"), expr(s"simhash64(${DedupQueries.toks})").as("sh"))
      .select(col("doc_id"), col("sh"),
        posexplode(expr(
          "transform(sequence(0, 3), b -> shiftrightunsigned(sh, b * 16) & 65535)"))
          .as(Seq("band", "bkey")))
    val good = bands.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n").between(2, DfCap))
      .select(col("band"), col("bkey"))
    val bg = bands.join(good, Seq("band", "bkey"))
    bg.select(col("band"), col("bkey"),
        col("doc_id").as("doc_a"), col("sh").as("sha"))
      .join(bg.select(col("band"), col("bkey"),
          col("doc_id").as("doc_b"), col("sh").as("shb")),
        Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("cast(bit_count(sha ^ shb) as bigint)").as("hamming"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("hamming")).as("hamming"))
      .filter(col("hamming") <= 6)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** dedup_embedding_near twin: banded self-join on (table, bucket) with
    * the same good-bucket prefilter, instead of bucket-collect +
    * struct_pairs.
    */
  def embeddingNearJoin(s: SparkSession, dir: String): DataFrame = {
    import DedupQueries.{EmbCosMin, LshTables}
    val pl = DedupQueries.lshPlanes(s, dir)
    val b = Tables.scan(s, dir, "embeddings")
      .select(col("vec_id"), expr("vec_normalize(embedding)").as("ne"),
        posexplode(expr(s"lsh_buckets(embedding, $LshTables, $pl)"))
          .as(Seq("table_id", "bucket")))
    val good = b.groupBy(col("table_id"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n").between(2, VecBucketCap))
      .select(col("table_id"), col("bucket"))
    val bg = b.join(good, Seq("table_id", "bucket"))
    bg.select(col("table_id"), col("bucket"),
        col("vec_id").as("vec_a"), col("ne").as("nea"))
      .join(bg.select(col("table_id"), col("bucket"),
          col("vec_id").as("vec_b"), col("ne").as("neb")),
        Seq("table_id", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(expr("vec_dot(nea, neb)"), 6).as("cos"))
      .groupBy(col("vec_a"), col("vec_b")).agg(max(col("cos")).as("cos"))
      .filter(col("cos") >= EmbCosMin.toDouble)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** dedup_semantic_survivors twin: self-join pair generation (keyed by
    * label + table + bucket) and label-propagation connected components,
    * instead of bucket-collect + large-star/small-star.
    */
  def semanticSurvivorsTwin(s: SparkSession, dir: String): DataFrame = {
    import DedupQueries.{LshTables, SemCosMin}
    val pl = DedupQueries.lshPlanes(s, dir)
    val emb = Tables.scan(s, dir, "embeddings")
    val b = emb.select(col("vec_id"), col("label"), col("embedding"),
      posexplode(expr(s"lsh_buckets(embedding, $LshTables, $pl)"))
        .as(Seq("table_id", "bucket")))
    val good = b.groupBy(col("label"), col("table_id"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n").between(2, VecBucketCap))
      .select(col("label"), col("table_id"), col("bucket"))
    val bg = b.join(good, Seq("label", "table_id", "bucket"))
    val pairs = bg.select(col("label"), col("table_id"), col("bucket"),
        col("vec_id").as("va"), col("embedding").as("ea"))
      .join(bg.select(col("label"), col("table_id"), col("bucket"),
          col("vec_id").as("vb"), col("embedding").as("eb")),
        Seq("label", "table_id", "bucket"))
      .filter(col("va") < col("vb"))
      .select(col("va"), col("vb"),
        round(expr("vec_cos(ea, eb)"), 6).as("cos"))
      .groupBy(col("va"), col("vb")).agg(max(col("cos")).as("cos"))
      .filter(col("cos") >= SemCosMin.toDouble)
    val comp = labelPropagate(
        pairs.select(col("va").as("a"), col("vb").as("b")))
      .select(col("node").as("vec_id"), col("lbl").as("rep"))
    val sizes = comp.groupBy(col("rep")).agg(count(lit(1)).as("n_members"))
    emb.select(col("vec_id"), col("label").cast("long").as("label"))
      .join(comp, Seq("vec_id"), "left")
      .withColumn("rep", coalesce(col("rep"), col("vec_id")))
      .filter(col("vec_id") === col("rep"))
      .join(sizes, Seq("rep"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("n_members"), lit(1L)).as("n_members"))
      .orderBy(col("vec_id"))
  }

  /** dedup_split_leakproof twin: self-join Jaccard pair machinery (no
    * collected posting lists) + label-propagation components; the md5
    * split mapping is the shared contract.
    */
  def splitLeakproofTwin(s: SparkSession, dir: String): DataFrame = {
    import DedupQueries.JaccardMin
    val docs = Tables.scan(s, dir, "documents")
    val ex = docs.select(col("doc_id"),
      explode(expr(s"shingle_hashes(${DedupQueries.toks}, 3)")).as("sh"))
    // primary caps bucket SIZE at DfCap but keeps singletons for the
    // per-doc shingle counts — mirror that exactly
    val good = ex.groupBy(col("sh")).agg(count(lit(1)).as("n"))
      .filter(col("n") <= DfCap).select(col("sh"))
    val kept = ex.join(good, Seq("sh"))
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val inter = kept.select(col("sh"), col("doc_id").as("doc_a"))
      .join(kept.select(col("sh"), col("doc_id").as("doc_b")), Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val pairs = inter
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= JaccardMin)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val comp = labelPropagate(pairs)
      .select(col("node").as("doc_id"), col("lbl").as("cid"))
    val bucket = conv(substring(
      md5(concat(lit("split:"), col("cluster_id").cast("string"))), 1, 2),
      16, 10).cast("int")
    docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cid"), col("doc_id")))
      .withColumn("split", when(bucket < 204, "train")
        .when(bucket < 230, "val").otherwise("test"))
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** text_corpus_fingerprint twin: exploded per-bit votes over a
    * vocab-keyed pre-aggregation — the dataflow the oracle SQL replays —
    * instead of the mergeable simhash_agg summaries.
    */
  def corpusFingerprintVotes(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.scan(s, dir, "documents")
    val hv = docs
      .select(col("source"), col("lang"),
        explode(expr(DedupQueries.toks)).as("tok"))
      .select(col("source"), col("lang"), expr("fnv64(tok)").as("h"))
      .groupBy(col("source"), col("lang"), col("h"))
      .agg(count(lit(1)).as("cnt"))
    val votes = hv
      .select(col("source"), col("lang"), col("h"), col("cnt"),
        explode(expr("sequence(0, 63)")).as("b"))
      .groupBy(col("source"), col("lang"), col("b"))
      .agg(sum(when(expr("(shiftrightunsigned(h, b) & 1) = 1"), col("cnt"))
        .otherwise(-col("cnt"))).as("v"))
    val sim = votes.groupBy(col("source"), col("lang"))
      .agg(sum(when(col("v") > 0,
          expr("shiftleft(cast(1 as bigint), b)")).otherwise(lit(0L)))
        .as("corpus_simhash"))
    val nd = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
    sim.join(nd, Seq("source", "lang"))
      .select(col("source"), col("lang"), col("corpus_simhash"),
        col("n_docs"))
      .orderBy(col("source"), col("lang"))
  }

  /** text_fingerprint twin: per-doc SimHash via exploded bit votes and
    * the winnow COUNT via char_windows + a window-min replay (the oracle
    * SQL's formulation run distributed) — instead of the fused per-row
    * kernels. fp64 stays the shared fnv64 scalar (fuzz-pinned).
    */
  def fingerprintVotes(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.scan(s, dir, "documents")
    val sim = docs
      .select(col("doc_id"), explode(expr(DedupQueries.toks)).as("tok"))
      .select(col("doc_id"), expr("fnv64(tok)").as("h"))
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), col("h"), col("cnt"),
        explode(expr("sequence(0, 63)")).as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(sum(when(expr("(shiftrightunsigned(h, b) & 1) = 1"), col("cnt"))
        .otherwise(-col("cnt"))).as("v"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("v") > 0,
          expr("shiftleft(cast(1 as bigint), b)")).otherwise(lit(0L)))
        .as("simhash"))
    // winnow k=8, w=4 (the registered defaults): char windows -> fnv64 ->
    // min per 4-window -> distinct count; m <= w picks the global min
    val grams = docs.filter(length(col("text")) >= 8)
      .select(col("doc_id"), (length(col("text")) - 7).as("m"),
        posexplode(expr("char_windows(text, 8, 1)")).as(Seq("i", "g")))
      .select(col("doc_id"), col("m"), col("i"), expr("fnv64(g)").as("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(0, 3)
    val wc = grams.withColumn("wm", min(col("h")).over(w))
      .filter((col("m") <= 4 && col("i") === 0) ||
        (col("m") > 4 && col("i") + 4 <= col("m")))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("wm")).cast("bigint").as("n_winnow"))
    docs.select(col("doc_id"), expr("fnv64(text)").as("fp64"))
      .join(sim, Seq("doc_id"))
      .join(wc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("fp64"),
        coalesce(col("n_winnow"), lit(0L)).as("n_winnow"), col("simhash"))
      .orderBy(col("doc_id"))
  }

  /** sim_label_audit twin (round-15 VERDICT #3 — the one kNN-family
    * member with no independent sf10 check: its oracle times out at sf10
    * and it had neither a restricted row nor a twin). Machinery differs
    * end to end: edges come from the INDEPENDENT banded self-join
    * ([[graft.DualCheck.knnGraphJoin]] — the round-11 second edge
    * implementation, itself full-sf10-verified against the primary), and
    * the neighbor-label majority vote is a per-row run-length fold over a
    * sorted collect_list'ed label array instead of the primary's
    * groupBy(vec_id, label) + row_number window. The strict `>` on run
    * close over the ascending-sorted array reproduces the primary's
    * tie -> smallest-label rule (the window's `v DESC, nl ASC` order).
    */
  def labelAuditFold(s: SparkSession, dir: String): DataFrame = {
    val edges = DualCheck.knnGraphJoin(s, dir)
    val labels = Tables.scan(s, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val vote = edges.select(col("vec_id"), col("nid"))
      .join(labels.select(col("vec_id").as("nid"), col("label").as("nl")),
        "nid")
      .groupBy(col("vec_id"))
      .agg(expr("sort_array(collect_list(nl))").as("nls"))
      .select(col("vec_id"),
        size(col("nls")).cast("long").as("n_neighbors"),
        expr("""aggregate(
            nls,
            named_struct('best', element_at(nls, 1), 'bc', 0L,
                         'cur',  element_at(nls, 1), 'cc', 0L),
            (a, x) -> if(x = a.cur,
              named_struct('best', a.best, 'bc', a.bc,
                           'cur', a.cur, 'cc', a.cc + 1L),
              if(a.cc > a.bc,
                named_struct('best', a.cur, 'bc', a.cc, 'cur', x, 'cc', 1L),
                named_struct('best', a.best, 'bc', a.bc,
                             'cur', x, 'cc', 1L))),
            a -> if(a.cc > a.bc,
              named_struct('p', a.cur, 'v', a.cc),
              named_struct('p', a.best, 'v', a.bc)))""").as("mv"))
      .select(col("vec_id"), col("n_neighbors"),
        col("mv.p").as("predicted"), col("mv.v").as("n_votes"))
    labels
      .join(vote, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
        col("predicted"),
        coalesce(col("n_votes"), lit(0L)).as("n_votes"),
        coalesce(col("predicted") === col("label"), lit(false))
          .as("agree"))
      .orderBy(col("vec_id"))
  }

  /** text_cms_counts twin: sketch cells counted from RAW token instances
    * (|tokens|×d exploded rows) — the round-13 primary's machinery, kept
    * as the independence twin after the round-14 A/B promoted the
    * vocab-preaggregated form into the primary (same integers by
    * associativity; this form proves it from the other direction).
    */
  def cmsCountsRaw(s: SparkSession, dir: String): DataFrame = {
    import graft.queries.TextQueries.{CmsDepth, CmsTopK, CmsWidth}
    val cellExpr = (tokCol: String) =>
      s"""transform(sequence(0, ${CmsDepth - 1}),
           r -> named_struct('r', r,
             'c', pmod(fnv64(concat(cast(r as string), '|', $tokCol)),
                       ${CmsWidth}L)))"""
    val tk = Tables.scan(s, dir, "documents")
      .select(explode(expr(DedupQueries.toks)).as("tok"))
    val cells = tk
      .select(explode(expr(cellExpr("tok"))).as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(count(lit(1)).as("cnt"))
    val topk = tk.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok")).limit(CmsTopK)
    topk
      .select(col("tok"), col("exact_cnt"),
        explode(expr(cellExpr("tok"))).as("rc"))
      .select(col("tok"), col("exact_cnt"),
        col("rc.r").as("r"), col("rc.c").as("c"))
      .join(cells, Seq("r", "c"))
      .groupBy(col("tok"), col("exact_cnt"))
      .agg(min(col("cnt")).as("cms_est"))
      .select(col("tok"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overcount"))
      .orderBy(col("exact_cnt").desc, col("tok"))
  }
}
