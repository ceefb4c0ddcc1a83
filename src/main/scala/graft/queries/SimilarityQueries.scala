package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Tables._
import graft.operators.CandidatePairs
import graft.operators.CandidatePairs.VecBucketCap

/** Similarity-search operators over the `embeddings` table (vec_id BIGINT,
  * embedding ARRAY<FLOAT> 64-dim, label INT) — SURVEY.md §7 step 6.
  *
  * Scale design (100 TB):
  *  - Brute-force cosine is the CORRECTNESS baseline: a broadcast of the
  *    (small) query set against the full corpus — one scan, no shuffle of
  *    the corpus, per-query top-k via window row_number over the
  *    query-partitioned candidates. At 100 TB the corpus side stays
  *    partition-parallel; only k rows per query survive to the exchange.
  *  - The SCALE path is LSH (random-hyperplane) bucketing: signatures are
  *    computed per-row with higher-order functions inside whole-stage
  *    codegen (no explode, no shuffle), candidates join on compact bucket
  *    keys, and exact re-ranking touches only candidate pairs.
  *  - IVF-style routing: per-label centroids (coarse quantizer) assign each
  *    query to its nearest partition; at scale this prunes the corpus scan
  *    to matching partitions.
  *
  * All dot products are computed in DOUBLE with deterministic left-to-right
  * accumulation (`aggregate` over `zip_with`), and exposed values are
  * rounded to 6 decimals so both engines agree bit-exactly after rounding.
  */
object SimilarityQueries {

  /** cos(a, b): native codegen'd expression (graft.functions.VecCos) —
    * bit-identical to the previous HOF fold (left-to-right double sums,
    * pinned by TextHashesSpec) at ~2.3× the throughput (HOFs are
    * CodegenFallback: interpreted lambda dispatch per element).
    */
  private def cosExpr(a: String, b: String): String = s"vec_cos($a, $b)"

  private val NQueries = 10 // vec_id < 10 are the query vectors
  private[graft] val TopK = 5
  // kNN-graph LSH sizing, single-sourced into the engine AND the oracle's
  // pl CTE: tables is fixed; the plane count auto-sizes to the smallest
  // p in [6, GraphMaxPlanes] with 2^p · GraphOccupancy ≥ corpus, keeping
  // mean bucket occupancy (recall under the cap) constant as the corpus
  // grows — SCALING.md's "fixed-space saturation" knob, now automatic.
  private[graft] val GraphTables = 4
  private[graft] val GraphOccupancy = 32
  private[graft] val GraphMaxPlanes = 24
  private[graft] def autoPlanes(n: Long): Int =
    (6 to GraphMaxPlanes).find(p => (1L << p) * GraphOccupancy >= n)
      .getOrElse(GraphMaxPlanes)
  // The corpus count that sizes the planes: one metadata-only count job
  // per call, so a corpus rewritten at the same path is sized afresh.
  private[graft] def embCount(s: org.apache.spark.sql.SparkSession,
      dir: String): Long = scan(s, dir, "embeddings").count()
  // Farthest-point coreset size — single-sourced into the engine query
  // AND the unrolled oracle so the two sides cannot desynchronize.
  private val CoresetK = 16

  /** Collected coarse quantizer in EXACT integer micro-units (the round-9
    * bit-exact contract — see operators/KMeans.scala): per-label centroid
    * cq[d] = floor(Σxq[d]/cnt + 0.5) from half-up 6dp-quantized
    * coordinates. (cell, cq, Σcq²) sorted by cell ascending so the
    * assignment fold's strict `>` keeps the smallest cell on ties. Tiny
    * by construction — n_cells × dim longs is a model artifact, not data.
    */
  def ivfCentroids(emb: DataFrame): graft.operators.KMeans.Model = emb
    .select(col("label").cast("long").as("cell"),
      posexplode(graft.operators.KMeans.quantize(col("embedding")))
        .as(Seq("p", "xq")))
    .groupBy(col("cell"), col("p"))
    .agg(sum(col("xq")).as("xs"), count(lit(1)).as("cnt"))
    .collect()
    .groupBy(_.getLong(0)).toArray.sortBy(_._1)
    .map { case (cell, rows) =>
      val cq = rows.sortBy(_.getInt(1)).map(r =>
        math.floor(r.getLong(2).toDouble / r.getLong(3).toDouble + 0.5)
          .toLong).toSeq
      (cell, cq, cq.map(x => x * x).sum)
    }

  /** Nearest-cell assignment — a per-row argmax FOLD over the centroid
    * literal: zero joins, zero shuffle (PlanSpec pins the no-Exchange
    * plan). The centroid table rides in the closure as an array literal
    * (a few KB). A cross join + row_number window here would shuffle an
    * n_cells×-expanded corpus — 1 PB at 100 TB — just to argmax n_cells
    * values per row. Output carries the quantized vector + exact squared
    * norm so the re-rank reuses them: (vec_id, xq, sxx, cell).
    */
  def ivfAssign(emb: DataFrame,
      centArr: graft.operators.KMeans.Model): DataFrame =
    graft.operators.KMeans.assignQ(
      emb.select(col("vec_id"),
          graft.operators.KMeans.quantize(col("embedding")).as("xq"))
        .withColumn("sxx", call_function("vec_dotq", col("xq"), col("xq"))),
      "xq", "sxx", centArr, "cell")
      .select(col("vec_id"), col("xq"), col("sxx"), col("cell"))

  /** Query-side probe list: each query's `nprobe` nearest cells — top-n of
    * the same tiny scored array, still per-row (sorting an n_cells array
    * of exact integer scores; ties cell-ascending).
    */
  def ivfProbes(emb: DataFrame, centArr: graft.operators.KMeans.Model,
      nprobe: Int): DataFrame = {
    val cents = typedlit(centArr.toSeq)
    emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"),
        graft.operators.KMeans.quantize(col("embedding")).as("qxq"))
      .withColumn("qsxx", call_function("vec_dotq", col("qxq"), col("qxq")))
      .select(col("qid"), col("qxq"), col("qsxx"),
        explode(slice(sort_array(transform(cents, c =>
          struct((-graft.operators.KMeans.scoreQ(col("qxq"), col("qsxx"),
            c.getField("_2"), c.getField("_3"))).as("neg"),
            c.getField("_1").as("cell")))), 1, nprobe))
          .as("pr"))
      .select(col("qid"), col("qxq"), col("qsxx"), col("pr.cell").as("cell"))
  }

  /** Exact re-rank inside the probed cells, scored on the quantized
    * lattice (bit-exact both engines): sq = quantized cosine, exposed as
    * cos = double(sq)/1e6; rank by (sq DESC, nid).
    */
  private def ivfRerank(assigned: DataFrame, probes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sq").desc, col("nid"))
    assigned.toDF("nid", "nxq", "nsxx", "cell")
      .join(broadcast(probes), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sq", graft.operators.KMeans.scoreQ(
        col("qxq"), col("qsxx"), col("nxq"), col("nsxx")))
      .withColumn("cos", col("sq").cast("double") / lit(1e6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  val queries: Map[String, Q] = Map(
    // Exact brute-force cosine top-k — the correctness baseline. Query set
    // is broadcast; corpus is scanned once, top-k per query via window.
    "sim_knn_brute" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = scan(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = spread(emb, col("vec_id"))
        .select(col("vec_id").as("nid"), col("embedding").as("ne"))
      val scored = c.join(broadcast(q), col("qid") =!= col("nid"))
        .withColumn("cos", round(expr(cosExpr("qe", "ne")), 6))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("nid"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= TopK)
        .select(col("qid"), col("rank"), col("nid"), col("cos"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Metadata-filtered vector search (the filtered-ANN shape every
    // production vector store needs): top-k cosine neighbors restricted
    // to candidates sharing the query's label. The filter lands IN the
    // join condition — candidates failing it are never scored; at 100 TB
    // with the corpus partitioned by the filter column this becomes
    // partition pruning before the scan.
    "sim_knn_filtered" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = scan(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("label").as("qlabel"))
      val c = spread(emb, col("vec_id")).select(col("vec_id").as("nid"),
        col("embedding").as("ne"), col("label"))
      val scored = c.join(broadcast(q),
          col("qid") =!= col("nid") && col("label") === col("qlabel"))
        .withColumn("cos", round(expr(cosExpr("qe", "ne")), 6))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("nid"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= TopK)
        .select(col("qid"), col("rank"), col("nid"),
          col("label").cast("long").as("label"), col("cos"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Cluster-quality audit (cluster-based data selection needs this):
    // per-label vector count + mean/min cosine to the label centroid.
    // Centroids are ROUNDED to 6dp first (canonical on both engines), so
    // every downstream cosine starts from identical inputs; the exploded
    // (label, dim) join is a 640-row broadcast.
    "sim_cluster_quality" -> ((s, dir) => {
      val d = load(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("dim", "xf")))
        .withColumn("x", col("xf").cast("double"))
      val cent = d.groupBy(col("label"), col("dim"))
        .agg(round(avg(col("x")), 6).as("c"))
      // cos is quantized to exact integer micro-units (c6) so the label
      // stats aggregate LONGS — order-free and partition-count-invariant.
      // Averaging the 6dp-rounded DOUBLES instead puts the mean on a
      // 1e-6 lattice where round() flips with summation order (caught
      // by the cpus=8 gate run).
      val per = d.join(broadcast(cent), Seq("label", "dim"))
        .groupBy(col("vec_id"), col("label"))
        .agg((sum(col("x") * col("c")) /
          (sqrt(sum(col("x") * col("x"))) * sqrt(sum(col("c") * col("c")))))
          .as("cos"))
        .withColumn("c6",
          floor(col("cos") * 1000000.0 + 0.5).cast("bigint"))
      per.groupBy(col("label").cast("bigint").as("label"))
        .agg(count(lit(1)).as("n_vecs"),
          (sum(col("c6")).cast("double") / count(lit(1)) / 1000000.0)
            .as("avg_cos"),
          (min(col("c6")).cast("double") / 1000000.0).as("min_cos"))
        .orderBy(col("label"))
    }),

    // IVF coarse quantizer: per-label centroid, one row per (label, dim).
    // Single scan + posexplode + partial agg on (label, dim) — 640 groups.
    "sim_centroids" -> ((s, dir) =>
      load(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("p", "x")))
        .groupBy(col("label").cast("long").as("label"),
          (col("p") + 1).cast("long").as("d"))
        .agg(round(avg(col("x").cast("double")), 6).as("centroid"))
        .orderBy(col("label"), col("d"))),

    // Random-hyperplane LSH signatures: 16 integer-weight hyperplanes with
    // multiplicative-mix weights w(j,d) = ((j·2654435761 + d·2246822519)
    // % 251) % 7 - 3 (decorrelated across planes; a plain (aj+bd) % 7 is
    // degenerate — every plane a cyclic shift of one pattern).
    // bucket = Σ sign-bit_j · 2^j via the native lsh_buckets expression
    // (graft.functions.LshBuckets): Spark HOFs are CodegenFallback
    // (interpreted lambdas), the native loop is whole-stage codegen —
    // A/B-measured 30× faster at sf0.1, bit-identical output. Zero shuffle.
    "sim_lsh_buckets" -> ((s, dir) =>
      load(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("element_at(lsh_buckets(embedding, 1, 16), 1)").as("bucket"))
        .orderBy(col("vec_id"))),

    // ANN, IVF variant: label-centroids act as the coarse quantizer
    // (k-means cells in a real deployment); every corpus vector is
    // assigned to its nearest centroid, queries probe the nprobe=3
    // nearest cells and exact-rank only those candidates. At 100 TB the
    // corpus is PARTITIONED BY cell, so a probe reads 3/10 of the data —
    // the scan pruning is the point of IVF.
    //
    // The quantizer is TINY by construction (n_cells × dim longs — a
    // model artifact, not data), so assignment is a per-row argmax FOLD
    // over the collected centroid literal: zero joins, zero shuffle. (A
    // cross join + row_number window would shuffle a 10×-expanded corpus
    // — 1 PB at 100 TB — to argmax 10 values per row.) PROMOTED to a
    // bit-exact oracle in round 9: centroids, assignment, probes and
    // re-rank all run on the exact micro-unit lattice (KMeans.scoreQ),
    // so the whole dataflow replays in DuckDB; recall additionally
    // pinned by DedupSimilaritySpec.
    "sim_knn_ivf" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      val cents = ivfCentroids(emb)
      ivfRerank(ivfAssign(emb, cents), ivfProbes(emb, cents, nprobe = 3))
    }),

    // Product quantization (PQ, Jégou et al. 2011 — the industry-standard
    // ANN compression): the 64-dim embedding splits into 4 subspaces of
    // 16 dims, each with its own trained 16-centroid codebook (spherical
    // k-means — the cosine variant suits normalized embeddings), so every
    // vector compresses to 4 small codes (256 B of floats → 4 B). Encoding
    // is 4 zero-shuffle argmax folds; training cost is 4 independent
    // sub-quantizer fits. PROMOTED to a bit-exact oracle in round 9: the
    // quantized trainer (seeding + Lloyd + assignment, all exact integer
    // micro-units) replays as unrolled MATERIALIZED CTEs; ADC-recall
    // additionally pinned in DedupSimilaritySpec.
    "sim_pq_codes" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      val slices = (0 until 4).map(sub =>
        expr(s"slice(embedding, ${sub * 16 + 1}, 16)"))
      // all 4 sub-codebooks train in the SAME Lloyd passes over one
      // persisted (sample-bounded) frame — 12 corpus scans → 2
      val models = graft.operators.KMeans.fitMany(
        emb, "vec_id", slices, k = 16, iters = 3)
      var out = emb.select(col("vec_id"), col("embedding"))
      for (sub <- 0 until 4) {
        out = graft.operators.KMeans
          .assign(out.withColumn("__sv", slices(sub)), "__sv", models(sub),
            out = s"c$sub")
          .drop("__sv")
      }
      out.select(col("vec_id"), col("c0"), col("c1"), col("c2"), col("c3"))
        .orderBy(col("vec_id"))
    }),

    // The full train→index→search loop: IVF ANN over a TRAINED spherical
    // k-means quantizer (no labels consulted) — KMeans.Model drops into
    // the same zero-shuffle assignment fold and probe set as sim_knn_ivf.
    // PROMOTED to a bit-exact oracle in round 9 (quantized trainer —
    // seeding, Lloyd passes, probes and re-rank replay in DuckDB);
    // recall@5 vs brute force additionally pinned in DedupSimilaritySpec.
    "sim_knn_ivf_trained" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      val cents = graft.operators.KMeans.fit(
        emb, "vec_id", "embedding", k = 8, iters = 3)
      ivfRerank(ivfAssign(emb, cents), ivfProbes(emb, cents, nprobe = 3))
    }),

    // Trained coarse quantizer: spherical k-means (operators/KMeans.scala,
    // Lloyd iterations — assignment is the zero-shuffle argmax fold, the
    // update a k×dim-group aggregation), then the corpus-occupancy
    // histogram per trained cell. The KMeans.Model drops directly into
    // ivfAssign/ivfProbes when labels don't exist. PROMOTED to a
    // bit-exact oracle in round 9 (exact micro-unit trainer); cluster
    // recovery + objective-improvement additionally pinned by KMeansSpec.
    // Diverse coreset: greedy farthest-point selection (k-center 2-approx)
    // of 16 maximally spread vectors — the "keep the spread" complement of
    // the dedup family. An iterative driver loop like the k-means trainer,
    // but UNLIKE the float-averaging trainers every step is an argmax over
    // 6dp-QUANTIZED separations with id tie-breaks — deterministic and
    // summation-order-robust — so the whole k-step traversal replays in
    // the oracle as 16 unrolled argmax CTEs (promoted from rows-only).
    // Per-step self-consistency, separation monotonicity and determinism
    // additionally pinned by CoresetSpec.
    "sim_diverse_coreset" -> ((s, dir) =>
      graft.operators.Coreset.farthestPoint(
        load(s, dir, "embeddings"),
        "vec_id", "embedding", k = CoresetK)),

    "sim_kmeans_cells" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      val model = graft.operators.KMeans.fit(
        emb, "vec_id", "embedding", k = 8, iters = 3)
      graft.operators.KMeans.assign(emb, "embedding", model)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"))
        .orderBy(col("cell"))
    }),

    // ANN: LSH-bucketed candidate retrieval + exact cosine re-rank. 4 hash
    // tables of 6 planes each (64 buckets/table — enough selectivity to
    // prune, enough bucket occupancy to retrieve); candidates share a table
    // bucket. Approximate by construction ⇒ rows-only check; recall vs
    // sim_knn_brute is pinned by a ScalaTest.
    "sim_knn_lsh" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = load(s, dir, "embeddings")
      // plane p = t·6+j — the native expression's indexing, so these
      // buckets are bit-identical to the previous HOF formulation
      val sigs = emb.select(col("vec_id"), col("embedding"),
        posexplode(expr("lsh_buckets(embedding, 4, 6)"))
          .as(Seq("table_id", "bucket")))
      val q = sigs.filter(col("vec_id") < NQueries)
        .toDF("qid", "qe", "table_id", "bucket")
      val c = sigs.toDF("nid", "ne", "table_id", "bucket")
      // Score BEFORE deduplicating: a pair colliding in k of the 4 tables
      // computes the (codegen'd, map-side) dot product k times, but the
      // dedup exchange then carries only (qid, nid, cos) — 24 bytes — with
      // map-side partial agg, instead of shuffling 2×64 floats per
      // candidate through a distinct. max(cos) is exact (the duplicates
      // are identical).
      val cands = c.join(broadcast(q), Seq("table_id", "bucket"))
        .filter(col("qid") =!= col("nid"))
        .withColumn("cos", round(expr(cosExpr("qe", "ne")), 6))
        .groupBy(col("qid"), col("nid")).agg(max(col("cos")).as("cos"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("nid"))
      cands
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= TopK)
        .select(col("qid"), col("rank"), col("nid"), col("cos"))
        .orderBy(col("qid"), col("rank"))
    }),

    // In-engine recall audit: recall@k of the LSH index against the exact
    // brute-force top-k, per query — the measurement every ANN deployment
    // runs before trusting an index (and the number the SimilaritySpec
    // recall pins assert offline; this makes it a first-class queryable
    // artifact). Both sides reuse the registered queries, so the audit
    // can never drift from the operators it measures; recall is exact
    // integer ppm (matched·1e6 div k). Cost: one extra broadcast-sized
    // join over the two top-k sets (≤ NQueries·TopK rows each).
    "sim_recall_audit" -> ((s, dir) => {
      val b = queries("sim_knn_brute")(s, dir).select(col("qid"), col("nid"))
      val l = queries("sim_knn_lsh")(s, dir)
        .select(col("qid").as("lqid"), col("nid").as("lnid"))
      b.join(l, col("lqid") === col("qid") && col("lnid") === col("nid"),
          "left")
        .groupBy(col("qid"))
        .agg(count(col("lnid")).as("matched"))
        .select(col("qid"), col("matched"),
          expr(s"(matched * 1000000L) div ${TopK}L").as("recall_ppm"))
        .orderBy(col("qid"))
    }),

    // Corpus-wide approximate kNN GRAPH — every vector's top-k neighbors
    // (not just a query set's), the structure graph-based curation needs:
    // SemDeDup-style cluster pruning, mutual-kNN community detection,
    // graph-diversity sampling all consume exactly this edge list.
    // Candidates come from the same 4×6 LSH tables as sim_knn_lsh, but
    // ALL-PAIRS within a bucket (capped like dedup_embedding_near — an
    // over-full bucket would explode n²/2 pairs in one task), so the
    // corpus is never self-joined: pair fan-out is Σ min(n_b,cap)²/2 over
    // buckets, linear in corpus size for hash-balanced buckets. Each
    // undirected pair is scored ONCE (normalize-first vec_dot, exact,
    // 6 dp), then symmetrized and ranked per node — the row_number window
    // partitions by node, so no global sort. `mutual` marks edges whose
    // reverse is also a top-k edge (one keyed self-join of the k·n edge
    // list — tiny next to candidate generation); mutual-kNN edges are the
    // usual community-detection backbone. Deterministic given the plane
    // weights ⇒ the WHOLE dataflow (buckets, cap, cosine, ranks, mutual
    // flags) replays in the DuckDB oracle bit-exactly.
    "sim_knn_graph" -> ((s, dir) =>
      knnGraphEdges(s, dir).orderBy(col("vec_id"), col("rank"))),

    // Mutual-kNN communities — the clustering the graph exists FOR: keep
    // only edges present in BOTH endpoints' top-k (the standard
    // spurious-edge filter: a hub can enter everyone's list, but its
    // reverse edges don't fit its own k), then collapse connected
    // components. Every vector gets an assignment; vectors with no
    // mutual edge are their own singleton community. Same distributed CC
    // (large-star/small-star) and recursive-CTE oracle discipline as
    // dedup_clusters — the WHOLE chain (LSH graph, mutual filter,
    // transitive closure) replays bit-exactly.
    // Label-noise audit via kNN majority vote — the training-data QA
    // pass that flags mislabeled/outlier examples (the classical
    // edited-nearest-neighbor signal, Wilson 1972 — public): each
    // vector's label is predicted as the majority label of its kNN-graph
    // neighbors (ties → smallest label; isolated vectors predict NULL),
    // and `agree = false` rows are the candidates for relabeling or
    // removal. Reuses the capped auto-sized LSH kNN graph — no new
    // corpus pass; the vote is one groupBy on (vec_id, neighbor_label)
    // (≤ k rows per vector) plus a per-vector window over ≤ |labels|
    // rows. Fully oracle-replayed through the shared edges CTE chain.
    "sim_label_audit" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // cut forced on: the edge list feeds the vote AND degree subtrees
      // beyond knnGraphEdges' own two reads — A/B wins at every measured
      // size (sf1 5.69 -> 4.16 s, sf10 15.1 -> 13.9 s warm).
      val edges = knnGraphEdges(s, dir, cut = Some(true))
      val labels = scan(s, dir, "embeddings")
        .select(col("vec_id"), col("label"))
      val nbr = edges.select(col("vec_id"), col("nid"))
        .join(labels.select(col("vec_id").as("nid"), col("label").as("nl")),
          "nid")
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("v").desc, col("nl"))
      val pred = nbr.groupBy(col("vec_id"), col("nl"))
        .agg(count(lit(1)).as("v"))
        .withColumn("r", row_number().over(w))
        .filter(col("r") === 1)
        .select(col("vec_id"), col("nl").as("predicted"),
          col("v").as("n_votes"))
      val deg = edges.groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_neighbors"))
      labels
        .join(deg, Seq("vec_id"), "left")
        .join(pred, Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"),
          coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
          col("predicted"),
          coalesce(col("n_votes"), lit(0L)).as("n_votes"),
          coalesce(col("predicted") === col("label"), lit(false))
            .as("agree"))
        .orderBy(col("vec_id"))
    }),

    "sim_graph_clusters" -> ((s, dir) => {
      val mutual = knnGraphEdges(s, dir)
        .filter(col("mutual") && col("vec_id") < col("nid"))
        .select(col("vec_id").as("va"), col("nid").as("vb"))
      val comp = graft.operators.ConnectedComponents
        .run(mutual, "va", "vb")
        .withColumnRenamed("node", "vec_id")
        .withColumnRenamed("component", "cid")
      scan(s, dir, "embeddings").select(col("vec_id"))
        .join(comp, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("cid"), col("vec_id")).as("cluster_id"))
        .orderBy(col("vec_id"))
    })
  )

  /** The capped-LSH kNN-graph edge list shared by sim_knn_graph and
    * sim_graph_clusters: (vec_id, rank, nid, cos, mutual).
    *
    * `planes` is the SCALE knob (SCALING.md "fixed-space saturation"):
    * buckets/table = 2^planes, so mean bucket occupancy — and with it
    * candidate recall under the cap — must stay constant as the corpus
    * grows, exactly as IVF sizes its cell count. Since round 9 the
    * default (planes = 0) AUTO-SIZES from the corpus count: the smallest
    * p in [6, GraphMaxPlanes] with 2^p · GraphOccupancy ≥ n (a pure
    * integer rule, so the DuckDB oracle derives the SAME value from
    * COUNT(*) and can never drift from the engine). At the gate SFs
    * (≤ 2048 vectors) the rule yields the committed 6; at sf10's 200k
    * vectors it yields 13, keeping occupancy ~24 instead of saturating
    * 64 fixed buckets (the sf10 edge-contraction finding).
    */
  def knnGraphEdges(s: org.apache.spark.sql.SparkSession,
      dir: String, tables: Int = GraphTables, planes: Int = 0,
      cap: Int = VecBucketCap, k: Int = TopK,
      cut: Option[Boolean] = None): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val pl = if (planes > 0) planes else autoPlanes(embCount(s, dir))
      val sigs = load(s, dir, "embeddings")
        .select(col("vec_id"), expr("vec_normalize(embedding)").as("ne"),
          posexplode(expr(s"lsh_buckets(embedding, $tables, $pl)"))
            .as(Seq("table_id", "bucket")))
      // Pre-filter bucket IDS before shuffling vectors (the prefiltered
      // shape): collect-then-drop would shuffle every 64-float vector of
      // every dropped bucket first (at sf0.1 most buckets exceed the cap:
      // that's most of the corpus × 4 tables of avoided shuffle).
      // Round-16 single-pass symmetrization (VERDICT r15 #6). The old
      // form referenced `pairs` twice (the symmetrizing union) and
      // `edges` twice (the mutuality reverse join) — DataFrame subtrees
      // never ReuseExchange, so below round-15's 100k-vector materialize
      // gate the LSH chain re-evaluated up to 4x, and above it the cut
      // paid two parquet round-trips. Both double-references are gone:
      //   (a) each unordered bucket pair emits BOTH directed edges at the
      //       explode (inline over the 2-array of orientations — codegen,
      //       one vec_dot per unordered pair, mirrored exactly:
      //       multiplication commutes so vec_dot(a,b) == vec_dot(b,a));
      //   (b) one explicit hashpartitioning(va) serves the (va, vb)
      //       cross-table max AND the top-k window (guide §2.4 — the
      //       q20/span_detect subset-key pattern);
      //   (c) mutuality is a pair-keyed count instead of a self-join:
      //       the two directed survivors of an unordered pair meet in ONE
      //       (least, greatest) group — 2 rows — and size(es) == 2 is
      //       exactly "the reverse edge also ranked <= k".
      // The chain now evaluates ONCE at every corpus size: no gate, no
      // temp-parquet round-trips, 3 exchanges total. Values are
      // unchanged: same per-direction (va, vb, max cos) rows, same
      // row_number ordering (cos desc, vb), same mutual predicate.
      // Multi-consumer callers (sim_label_audit reads the RESULT twice)
      // still materialize the finished edge list via cut = Some(true).
      val sym = CandidatePairs.prefiltered(sigs, "knn_graph",
          Seq("table_id", "bucket"), struct("vec_id", "ne"), cap)
        .select(col("p.a.vec_id").as("a"), col("p.b.vec_id").as("b"),
          round(expr("vec_dot(p.a.ne, p.b.ne)"), 6).as("c"))
        .select(expr("inline(array(struct(a as va, b as vb, c as cos), " +
          "struct(b as va, a as vb, c as cos)))"))
        .repartition(col("va"))
        .groupBy(col("va"), col("vb")).agg(max(col("cos")).as("cos"))
      val w = Window.partitionBy(col("va"))
        .orderBy(col("cos").desc, col("vb"))
      val edges = sym
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
      val out = edges
        .groupBy(least(col("va"), col("vb")).as("lo"),
          greatest(col("va"), col("vb")).as("hi"))
        .agg(collect_list(struct(col("va"), col("vb"), col("cos"),
          col("rank"))).as("es"))
        .select(explode(col("es")).as("e"), (size(col("es")) === 2).as("mutual"))
        .select(col("e.va").as("vec_id"), col("e.rank").as("rank"),
          col("e.vb").as("nid"), col("e.cos").as("cos"), col("mutual"))
      // The single-pass chain needs no internal cut; callers that consume
      // the finished edge list more than once still ask for one.
      if (cut.contains(true)) DedupQueries.materialize(s, out) else out
  }

  // DuckDB-side cosine with the same double math; DuckDB 1.0 lacks indexed
  // list lambdas, so dims are unnested with generate_subscripts and summed —
  // 6-decimal rounding absorbs any accumulation-order difference.
  // (`oracleBase` rather than `oracle` so sim_recall_audit can compose the
  // brute + LSH replays verbatim — single-sourced, below.)
  private val oracleBase: Map[String, String] = Map(
    "sim_knn_brute" ->
      s"""WITH d AS (
            SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings),
          n AS (
            SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM d GROUP BY vec_id),
          dots AS (
            SELECT q.vec_id AS qid, c.vec_id AS nid, SUM(q.x * c.x) AS dot
            FROM d q JOIN d c ON q.dim = c.dim
            WHERE q.vec_id < $NQueries AND q.vec_id <> c.vec_id
            GROUP BY 1, 2),
          scored AS (
            SELECT qid, nid,
                   ROUND(dot / (nq.nrm * nc.nrm), 6) AS cos
            FROM dots
            JOIN n nq ON nq.vec_id = qid
            JOIN n nc ON nc.vec_id = nid),
          ranked AS (
            SELECT qid, nid, cos,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY cos DESC, nid) AS rank
            FROM scored)
          SELECT qid, CAST(rank AS BIGINT) AS rank, nid, cos
          FROM ranked WHERE rank <= $TopK ORDER BY qid, rank""",
    "sim_cluster_quality" ->
      """WITH d AS (
            SELECT vec_id, label,
                   generate_subscripts(embedding, 1) AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings),
          cent AS (
            SELECT label, dim, ROUND(AVG(x), 6) AS c
            FROM d GROUP BY label, dim),
          per AS (
            SELECT vec_id, d.label AS label,
                   CAST(FLOOR(SUM(x * c) /
                     (SQRT(SUM(x * x)) * SQRT(SUM(c * c)))
                     * 1000000.0 + 0.5) AS BIGINT) AS c6
            FROM d JOIN cent ON d.label = cent.label AND d.dim = cent.dim
            GROUP BY vec_id, d.label)
         SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n_vecs,
                CAST(SUM(c6) AS DOUBLE) / COUNT(*) / 1000000.0 AS avg_cos,
                CAST(MIN(c6) AS DOUBLE) / 1000000.0 AS min_cos
         FROM per GROUP BY label ORDER BY label""",
    "sim_knn_filtered" ->
      s"""WITH d AS (
            SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings),
          n AS (
            SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM d GROUP BY vec_id),
          l AS (SELECT vec_id, label FROM embeddings),
          dots AS (
            SELECT q.vec_id AS qid, c.vec_id AS nid, SUM(q.x * c.x) AS dot
            FROM d q JOIN d c ON q.dim = c.dim
            JOIN l lq ON lq.vec_id = q.vec_id
            JOIN l lc ON lc.vec_id = c.vec_id
            WHERE q.vec_id < $NQueries AND q.vec_id <> c.vec_id
              AND lq.label = lc.label
            GROUP BY 1, 2),
          scored AS (
            SELECT qid, nid,
                   ROUND(dot / (nq.nrm * nc.nrm), 6) AS cos
            FROM dots
            JOIN n nq ON nq.vec_id = qid
            JOIN n nc ON nc.vec_id = nid),
          ranked AS (
            SELECT qid, nid, cos,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY cos DESC, nid) AS rank
            FROM scored)
          SELECT r.qid, CAST(r.rank AS BIGINT) AS rank, r.nid,
                 CAST(l.label AS BIGINT) AS label, r.cos
          FROM ranked r JOIN l ON l.vec_id = r.nid
          WHERE r.rank <= $TopK ORDER BY qid, rank""",
    "sim_centroids" ->
      """WITH dd AS (
           SELECT label, generate_subscripts(embedding, 1) AS d,
                  CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings)
         SELECT CAST(label AS BIGINT) AS label, CAST(d AS BIGINT) AS d,
                ROUND(AVG(x), 6) AS centroid
         FROM dd GROUP BY 1, 2 ORDER BY label, d""",
    "sim_lsh_buckets" ->
      """WITH d AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                  CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings),
         planes AS (SELECT unnest(range(0, 16)) AS j),
         proj AS (
           SELECT vec_id, j,
                  SUM(CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)
                      * ((j * 2654435761 + dim * 2246822519) % 251 % 7 - 3))
                    AS s
           FROM d CROSS JOIN planes GROUP BY 1, 2)
         SELECT vec_id,
                CAST(SUM(CASE WHEN s > 0 THEN 1 << j ELSE 0 END) AS BIGINT)
                  AS bucket
         FROM proj GROUP BY vec_id ORDER BY vec_id""",
    // sim_knn_lsh: approximate vs TRUE kNN, but fully deterministic given
    // the LSH planes — and those replay in SQL (same plane-weight formula
    // as sim_lsh_buckets / dedup_embedding_near, p = t*6+j). Promoted from
    // rows-only in round 7: the oracle is the brute-force scorer restricted
    // to bucket-colliding candidates. Recall vs exact additionally pinned
    // by SimilaritySpec.
    "sim_knn_lsh" ->
      s"""WITH d AS (
            SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings),
          planes AS (SELECT t, j, t * 6 + j AS p
                     FROM (SELECT unnest(range(0, 4)) AS t),
                          (SELECT unnest(range(0, 6)) AS j)),
          proj AS (
            SELECT vec_id, t, j,
                   SUM(CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)
                       * ((p * 2654435761 + dim * 2246822519)
                          % 251 % 7 - 3)) AS s
            FROM d CROSS JOIN planes GROUP BY vec_id, t, j),
          bkt AS (
            SELECT vec_id, t,
                   CAST(SUM(CASE WHEN s > 0 THEN 1 << j ELSE 0 END)
                        AS BIGINT) AS bucket
            FROM proj GROUP BY vec_id, t),
          cand AS (
            SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
            FROM bkt q
            JOIN bkt c ON q.t = c.t AND q.bucket = c.bucket
            WHERE q.vec_id < $NQueries AND q.vec_id <> c.vec_id),
          n AS (
            SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM d GROUP BY vec_id),
          dots AS (
            SELECT cand.qid, cand.nid, SUM(dq.x * dc.x) AS dot
            FROM cand
            JOIN d dq ON dq.vec_id = cand.qid
            JOIN d dc ON dc.vec_id = cand.nid AND dc.dim = dq.dim
            GROUP BY 1, 2),
          scored AS (
            SELECT qid, nid, ROUND(dot / (nq.nrm * nc.nrm), 6) AS cos
            FROM dots
            JOIN n nq ON nq.vec_id = qid
            JOIN n nc ON nc.vec_id = nid),
          ranked AS (
            SELECT qid, nid, cos,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY cos DESC, nid) AS rank
            FROM scored)
          SELECT qid, CAST(rank AS BIGINT) AS rank, nid, cos
          FROM ranked WHERE rank <= $TopK ORDER BY qid, rank""",
    // sim_knn_graph: the full dataflow replays — LSH buckets (p = t*6+j,
    // same weights as sim_knn_lsh), the 2..cap bucket filter, one exact
    // normalized cosine per undirected pair, symmetrize, per-node
    // row_number, and the mutual-edge self-join.
    "sim_knn_graph" ->
      s"""WITH $duckKnnGraphCtes
          SELECT e.va AS vec_id, e.rank, e.vb AS nid, e.cos,
                 COALESCE(m.m, FALSE) AS mutual
          FROM edges e
          LEFT JOIN (SELECT vb AS va, va AS vb, TRUE AS m FROM edges) m
            ON m.va = e.va AND m.vb = e.vb
          ORDER BY vec_id, rank""",
    // Same edges chain, then the identical vote/argmax/degree joins; the
    // ties and the isolated-vector NULLs replay exactly (max votes →
    // smallest label; COALESCE(pred = label, FALSE)).
    "sim_label_audit" ->
      s"""WITH $duckKnnGraphCtes,
          nbr AS (SELECT e.va AS vec_id, l.label AS nl
                  FROM edges e JOIN embeddings l ON l.vec_id = e.vb),
          votes AS (SELECT vec_id, nl, COUNT(*) AS v
                    FROM nbr GROUP BY vec_id, nl),
          pred AS (SELECT vec_id, nl AS predicted, v AS n_votes,
                          ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY v DESC, nl) AS r
                   FROM votes),
          deg AS (SELECT va AS vec_id, COUNT(*) AS n_neighbors
                  FROM edges GROUP BY va)
          SELECT emb.vec_id, emb.label,
                 CAST(COALESCE(deg.n_neighbors, 0) AS BIGINT)
                   AS n_neighbors,
                 p.predicted,
                 CAST(COALESCE(p.n_votes, 0) AS BIGINT) AS n_votes,
                 COALESCE(p.predicted = emb.label, FALSE) AS agree
          FROM embeddings emb
          LEFT JOIN deg ON deg.vec_id = emb.vec_id
          LEFT JOIN (SELECT * FROM pred WHERE r = 1) p
            ON p.vec_id = emb.vec_id
          ORDER BY emb.vec_id""",
    // sim_graph_clusters: the same edge chain, mutual filter via the
    // reversed-edge join, then the recursive-CTE transitive closure and
    // singleton completion over the full embeddings table.
    "sim_graph_clusters" ->
      s"""WITH RECURSIVE $duckKnnGraphCtes,
          me AS (SELECT e.va AS a, e.vb AS b FROM edges e
                 JOIN edges r ON r.va = e.vb AND r.vb = e.va
                 WHERE e.va < e.vb),
          -- MATERIALIZED: eg feeds the recursive member; without the
          -- hint DuckDB inlines the CTE chain and re-evaluates the
          -- ENTIRE kNN-graph dataflow on every closure iteration
          -- (observed: hours of CPU at the 10x SF vs seconds with it)
          eg AS MATERIALIZED (
            SELECT a, b FROM me UNION SELECT b, a FROM me),
          ng AS (SELECT DISTINCT a AS id FROM eg),
          reach(id, r) AS (
            SELECT id, id FROM ng
            UNION
            SELECT reach.id, eg.b FROM reach JOIN eg ON reach.r = eg.a),
          comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
          SELECT emb.vec_id,
                 COALESCE(comp.cluster_id, emb.vec_id) AS cluster_id
          FROM embeddings emb LEFT JOIN comp ON comp.id = emb.vec_id
          ORDER BY vec_id""",
    "sim_diverse_coreset" -> coresetOracleSql(CoresetK),
    // Round-9 promotions: the quantized k-means family (see
    // operators/KMeans.scala). All arithmetic below is either exact
    // integer (micro-unit dots/norms/sums) or a mirrored IEEE sequence
    // (one division + sqrt pair per score, one division per centroid
    // update), so seeding, Lloyd passes and assignment replay
    // bit-exactly.
    "sim_kmeans_cells" ->
      s"""WITH ${kmeansOracleCtes(k = 8, nsub = 1, subdim = 64, iters = 3)}
          SELECT cell, COUNT(*) AS n_vecs
          FROM aF GROUP BY cell ORDER BY cell""",
    "sim_pq_codes" ->
      s"""WITH ${kmeansOracleCtes(k = 16, nsub = 4, subdim = 16, iters = 3)}
          SELECT vec_id,
                 MAX(CASE WHEN sub = 0 THEN cell END) AS c0,
                 MAX(CASE WHEN sub = 1 THEN cell END) AS c1,
                 MAX(CASE WHEN sub = 2 THEN cell END) AS c2,
                 MAX(CASE WHEN sub = 3 THEN cell END) AS c3
          FROM aF GROUP BY vec_id ORDER BY vec_id""",
    "sim_knn_ivf_trained" ->
      s"""WITH ${kmeansOracleCtes(k = 8, nsub = 1, subdim = 64, iters = 3)},
          ${ivfProbeRerankCtes(centTable = "cent3", csTable = "csF")}
          $ivfRerankSelect""",
    // sim_knn_ivf: label centroids (no training loop) on the same exact
    // lattice — centroid = half-up integer average of micro-unit
    // coordinates per (label, dim), then the same assignment / probe /
    // re-rank replay.
    "sim_knn_ivf" ->
      s"""WITH $quantBaseCtes,
          cent AS MATERIALIZED (
            SELECT 0 AS sub, CAST(e.label AS BIGINT) AS cell, d.dim,
                   CAST(FLOOR(CAST(SUM(d.xq) AS DOUBLE) /
                        CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS cq
            FROM d JOIN embeddings e ON e.vec_id = d.vec_id
            GROUP BY 2, 3),
          cs AS MATERIALIZED (
            SELECT sub, cell, CAST(SUM(cq * cq) AS BIGINT) AS scc
            FROM cent GROUP BY 1, 2),
          aF AS MATERIALIZED (
            SELECT sub, vec_id, cell FROM (
              SELECT sub, vec_id, cell,
                     ROW_NUMBER() OVER (PARTITION BY sub, vec_id
                                        ORDER BY sq DESC, cell) AS rn
              FROM (SELECT a.sub, a.vec_id, c.cell, $scoreCaseSql AS sq
                    FROM d a
                    JOIN cent c ON c.sub = a.sub AND c.dim = a.dim
                    JOIN sx sa ON sa.vec_id = a.vec_id AND sa.sub = a.sub
                    JOIN cs ON cs.sub = a.sub AND cs.cell = c.cell
                    GROUP BY a.sub, a.vec_id, c.cell))
            WHERE rn = 1),
          ${ivfProbeRerankCtes(centTable = "cent", csTable = "cs")}
          $ivfRerankSelect"""
  )

  /** The published oracle surface: the base map plus the recall audit,
    * whose CTEs are the brute and LSH replays VERBATIM (nested-WITH
    * subqueries) — the audit oracle is definitionally in sync with the
    * two oracles it compares. DuckDB COUNTs cast to BIGINT; recall is
    * the same integer-ppm division as the engine.
    */
  val oracle: Map[String, String] = oracleBase +
    ("sim_recall_audit" ->
      s"""WITH b AS (${oracleBase("sim_knn_brute")}),
          l AS (${oracleBase("sim_knn_lsh")}),
          m AS (SELECT b.qid, COUNT(l.nid) AS matched
                FROM b LEFT JOIN l ON l.qid = b.qid AND l.nid = b.nid
                GROUP BY b.qid)
          SELECT qid, CAST(matched AS BIGINT) AS matched,
                 CAST((CAST(matched AS BIGINT) * 1000000) // $TopK
                      AS BIGINT) AS recall_ppm
          FROM m ORDER BY qid""")

  /** SQL fragment: the quantized cosine score between a row group
    * (aliased a, joined to sx sa) and a centroid group (joined to cs) —
    * the op-for-op mirror of KMeans.scoreQ. Zero-norm guard first.
    */
  private def scoreCaseSql: String =
    "CASE WHEN MIN(sa.sxx) = 0 OR MIN(cs.scc) = 0 THEN 0 " +
      "ELSE CAST(FLOOR(CAST(SUM(a.xq * c.cq) AS DOUBLE) / " +
      "(SQRT(CAST(MIN(sa.sxx) AS DOUBLE)) * " +
      "SQRT(CAST(MIN(cs.scc) AS DOUBLE))) " +
      "* 1000000.0 + 0.5) AS BIGINT) END"

  /** Shared base: micro-unit quantization of every embedding coordinate
    * (sub always 0 here — single 64-dim space) + exact squared norms.
    */
  private def quantBaseCtes: String =
    """d AS MATERIALIZED (
            SELECT vec_id, 0 AS sub, CAST(dim0 - 1 AS INTEGER) AS dim,
                   CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT) AS xq
            FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS dim0,
                         CAST(unnest(embedding) AS DOUBLE) AS x
                  FROM embeddings)),
          sx AS MATERIALIZED (
            SELECT vec_id, sub, CAST(SUM(xq * xq) AS BIGINT) AS sxx
            FROM d GROUP BY 1, 2)"""

  /** Probe + candidate + pair-score CTEs over a finished centroid table
    * (requires `d`, `sx`, `aF` in scope): queries score every cell, keep
    * the nprobe=3 best (ties cell-ascending), candidates are the probed
    * cells' members, each (qid, nid) pair scored once on the micro-unit
    * lattice.
    */
  private def ivfProbeRerankCtes(centTable: String, csTable: String): String =
    s"""qs AS MATERIALIZED (
            SELECT a.vec_id AS qid, c.cell, $scoreCaseSql AS sq
            FROM d a
            JOIN $centTable c ON c.sub = a.sub AND c.dim = a.dim
            JOIN sx sa ON sa.vec_id = a.vec_id AND sa.sub = a.sub
            JOIN $csTable cs ON cs.sub = a.sub AND cs.cell = c.cell
            WHERE a.vec_id < $NQueries
            GROUP BY a.vec_id, c.cell),
          prb AS MATERIALIZED (
            SELECT qid, cell FROM (
              SELECT qid, cell,
                     ROW_NUMBER() OVER (PARTITION BY qid
                                        ORDER BY sq DESC, cell) AS rn
              FROM qs)
            WHERE rn <= 3),
          cand AS MATERIALIZED (
            SELECT p.qid, f.vec_id AS nid
            FROM aF f JOIN prb p ON p.cell = f.cell
            WHERE p.qid <> f.vec_id),
          prs AS MATERIALIZED (
            SELECT cand.qid, cand.nid,
                   CASE WHEN MIN(sq_.sxx) = 0 OR MIN(sn.sxx) = 0 THEN 0
                   ELSE CAST(FLOOR(CAST(SUM(dq_.xq * dn.xq) AS DOUBLE) /
                     (SQRT(CAST(MIN(sq_.sxx) AS DOUBLE)) *
                      SQRT(CAST(MIN(sn.sxx) AS DOUBLE)))
                     * 1000000.0 + 0.5) AS BIGINT) END AS sq
            FROM cand
            JOIN d dq_ ON dq_.vec_id = cand.qid
            JOIN d dn ON dn.vec_id = cand.nid AND dn.sub = dq_.sub
                     AND dn.dim = dq_.dim
            JOIN sx sq_ ON sq_.vec_id = cand.qid AND sq_.sub = dq_.sub
            JOIN sx sn ON sn.vec_id = cand.nid AND sn.sub = dq_.sub
            GROUP BY 1, 2)"""

  /** Final top-k select over `prs`. */
  private def ivfRerankSelect: String =
    s"""SELECT qid, CAST(rank AS BIGINT) AS rank, nid,
                 CAST(sq AS DOUBLE) / 1000000.0 AS cos
          FROM (SELECT qid, nid, sq,
                       ROW_NUMBER() OVER (PARTITION BY qid
                                          ORDER BY sq DESC, nid) AS rank
                FROM prs)
          WHERE rank <= $TopK ORDER BY qid, rank"""

  /** The quantized k-means trainer unrolled to SQL (the coreset playbook
    * at trainer scale): pool seeding (k argmax steps, D²-weighted by the
    * md5 integer race), `iters` Lloyd passes (assignment argmax + exact
    * integer centroid update, empty cells keep the previous centroid),
    * ending in `cent{iters}` / `csF` / final assignment `aF`. All sub-
    * codebooks (PQ) train in the same CTEs via the `sub` column —
    * exactly the fused-pass shape of KMeans.fitMany.
    */
  private def kmeansOracleCtes(k: Int, nsub: Int, subdim: Int,
      iters: Int, poolCap: Int = 1024): String = {
    val p = scala.collection.mutable.ArrayBuffer.empty[String]
    p += s"""d AS MATERIALIZED (
  SELECT vec_id, CAST((dim0 - 1) // $subdim AS INTEGER) AS sub,
         CAST((dim0 - 1) % $subdim AS INTEGER) AS dim,
         CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT) AS xq
  FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS dim0,
               CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings))"""
    p += """sx AS MATERIALIZED (
  SELECT vec_id, sub, CAST(SUM(xq * xq) AS BIGINT) AS sxx
  FROM d GROUP BY 1, 2)"""
    p += s"""pool AS MATERIALIZED (
  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $poolCap)"""
    p += """race AS MATERIALIZED (
  SELECT vec_id,
         CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 5)) AS BIGINT)
           + 1 AS race
  FROM pool)"""
    p += """s1 AS MATERIALIZED (
  SELECT sub, vec_id FROM (SELECT DISTINCT sub FROM d),
       (SELECT MIN(vec_id) AS vec_id FROM pool))"""
    val seedScore =
      "CASE WHEN MIN(sa.sxx) = 0 OR MIN(sb.sxx) = 0 THEN 0 " +
        "ELSE CAST(FLOOR(CAST(SUM(a.xq * b.xq) AS DOUBLE) / " +
        "(SQRT(CAST(MIN(sa.sxx) AS DOUBLE)) * " +
        "SQRT(CAST(MIN(sb.sxx) AS DOUBLE))) " +
        "* 1000000.0 + 0.5) AS BIGINT) END"
    for (j <- 2 to k) {
      val t = j - 1
      p += s"""c$t AS MATERIALIZED (
  SELECT a.sub, a.vec_id, 1000000 - $seedScore AS dq
  FROM d a
  JOIN pool pl ON pl.vec_id = a.vec_id
  JOIN s$t s ON s.sub = a.sub
  JOIN d b ON b.vec_id = s.vec_id AND b.sub = a.sub AND b.dim = a.dim
  JOIN sx sa ON sa.vec_id = a.vec_id AND sa.sub = a.sub
  JOIN sx sb ON sb.vec_id = s.vec_id AND sb.sub = a.sub
  GROUP BY a.sub, a.vec_id)"""
      val lq = s"LEAST(${(1 until j).map(u => s"c$u.dq").mkString(", ")})"
      val joins = (2 until j).map(u => s"JOIN c$u USING (sub, vec_id)")
        .mkString(" ")
      val excl = (1 until j).map(u => s"SELECT sub, vec_id FROM s$u")
        .mkString(" UNION ALL ")
      p += s"""s$j AS MATERIALIZED (
  SELECT sub, vec_id FROM (
    SELECT sub, vec_id,
           ROW_NUMBER() OVER (PARTITION BY sub
             ORDER BY CAST(lq * lq AS DOUBLE) / CAST(race AS DOUBLE) DESC,
                      vec_id) AS rn
    FROM (SELECT c1.sub, c1.vec_id, $lq AS lq, r.race
          FROM c1 $joins
          JOIN race r ON r.vec_id = c1.vec_id
          WHERE NOT EXISTS (SELECT 1 FROM ($excl) x
                            WHERE x.sub = c1.sub AND x.vec_id = c1.vec_id)))
  WHERE rn = 1)"""
    }
    val seeds = (1 to k).map(j =>
      s"SELECT CAST(${j - 1} AS BIGINT) AS cell, d.sub, d.dim, d.xq AS cq " +
        s"FROM d JOIN s$j ON d.vec_id = s$j.vec_id AND d.sub = s$j.sub")
      .mkString("\n  UNION ALL ")
    p += s"cent0 AS MATERIALIZED (\n  $seeds)"
    for (i <- 1 to iters) {
      val pr = i - 1
      p += s"""cs$pr AS MATERIALIZED (
  SELECT sub, cell, CAST(SUM(cq * cq) AS BIGINT) AS scc
  FROM cent$pr GROUP BY 1, 2)"""
      p += s"""a$i AS MATERIALIZED (
  SELECT sub, vec_id, cell FROM (
    SELECT sub, vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY sub, vec_id
                              ORDER BY sq DESC, cell) AS rn
    FROM (SELECT a.sub, a.vec_id, c.cell,
                 ${scoreCaseSql.replace("cs.scc", s"cs$pr.scc")} AS sq
          FROM d a
          JOIN cent$pr c ON c.sub = a.sub AND c.dim = a.dim
          JOIN sx sa ON sa.vec_id = a.vec_id AND sa.sub = a.sub
          JOIN cs$pr ON cs$pr.sub = a.sub AND cs$pr.cell = c.cell
          GROUP BY a.sub, a.vec_id, c.cell))
  WHERE rn = 1)"""
      p += s"""cent$i AS MATERIALIZED (
  SELECT c.sub, c.cell, c.dim, COALESCE(u.cq, c.cq) AS cq
  FROM cent$pr c
  LEFT JOIN (
    SELECT ai.sub, ai.cell, dd.dim,
           CAST(FLOOR(CAST(SUM(dd.xq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                      + 0.5) AS BIGINT) AS cq
    FROM a$i ai JOIN d dd ON dd.vec_id = ai.vec_id AND dd.sub = ai.sub
    GROUP BY 1, 2, 3) u
  ON u.sub = c.sub AND u.cell = c.cell AND u.dim = c.dim)"""
    }
    p += s"""csF AS MATERIALIZED (
  SELECT sub, cell, CAST(SUM(cq * cq) AS BIGINT) AS scc
  FROM cent$iters GROUP BY 1, 2)"""
    p += s"""aF AS MATERIALIZED (
  SELECT sub, vec_id, cell FROM (
    SELECT sub, vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY sub, vec_id
                              ORDER BY sq DESC, cell) AS rn
    FROM (SELECT a.sub, a.vec_id, c.cell,
                 ${scoreCaseSql.replace("cs.scc", "csF.scc")} AS sq
          FROM d a
          JOIN cent$iters c ON c.sub = a.sub AND c.dim = a.dim
          JOIN sx sa ON sa.vec_id = a.vec_id AND sa.sub = a.sub
          JOIN csF ON csF.sub = a.sub AND csF.cell = c.cell
          GROUP BY a.sub, a.vec_id, c.cell))
  WHERE rn = 1)"""
    p.mkString(",\n")
  }

  /** The farthest-point traversal unrolled to k argmax CTEs (no recursion
    * — each step's pick feeds the next step's LEAST over per-pick
    * distances). Quantization mirrors the engine exactly: the argmax key
    * is floor(min-dist · 1e6 + 0.5) (half-up in both engines), ties on
    * smallest id; sep_dist is the quantized value. A def — referenced
    * from the `oracle` initializer.
    */
  private def coresetOracleSql(k: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH d AS MATERIALIZED (
          SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                 CAST(unnest(embedding) AS DOUBLE) AS x
          FROM embeddings),
        n AS MATERIALIZED (
          SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM d GROUP BY vec_id),
        p1 AS MATERIALIZED (
          SELECT MIN(vec_id) AS vec_id, CAST(NULL AS BIGINT) AS dq
          FROM embeddings)"""
    for (j <- 2 to k) {
      val i = j - 1
      sb ++= s""",
        c$i AS MATERIALIZED (
          SELECT a.vec_id,
                 1 - SUM(a.x * b.x) / (MIN(na.nrm) * MIN(nb.nrm)) AS dist
          FROM d a
          JOIN (SELECT dim, x, vec_id FROM d
                WHERE vec_id = (SELECT vec_id FROM p$i)) b
            ON b.dim = a.dim
          JOIN n na ON na.vec_id = a.vec_id
          JOIN n nb ON nb.vec_id = b.vec_id
          GROUP BY a.vec_id),
        p$j AS MATERIALIZED (
          SELECT vec_id,
                 CAST(FLOOR(LEAST(${(1 to i).map(t => s"c$t.dist")
        .mkString(", ")}) * 1000000 + 0.5) AS BIGINT) AS dq
          FROM c1 ${(2 to i).map(t => s"JOIN c$t USING (vec_id)")
        .mkString(" ")}
          WHERE vec_id NOT IN (${(1 to i).map(t => s"SELECT vec_id FROM p$t")
        .mkString(" UNION ALL ")})
          ORDER BY dq DESC, vec_id LIMIT 1)"""
    }
    sb ++= s"""
        SELECT * FROM (
          ${(1 to k).map(j => s"SELECT CAST($j AS BIGINT) AS rank, vec_id, " +
      s"CAST(dq AS DOUBLE) / 1000000 AS sep_dist FROM p$j")
        .mkString("\n          UNION ALL ")}
        ) ORDER BY rank"""
    sb.toString
  }

  /** CTE chain ending in `edges` (va, vb, cos, rank ≤ $TopK) — the DuckDB
    * replay of knnGraphEdges minus the mutual flag, shared by the
    * sim_knn_graph and sim_graph_clusters oracles. A `def` (not a val):
    * it is referenced from the `oracle` initializer above, and a
    * same-object forward val reference would read null at init.
    *
    * All constants interpolated from the SAME vals the engine call uses
    * (GraphTables/GraphOccupancy/GraphMaxPlanes/VecBucketCap/TopK), and
    * the plane count derived IN SQL from COUNT(*) with the engine's exact
    * integer rule — the oracle cannot drift from the registered query
    * even if the sizing parameters change (round-8 ADVICE.md).
    */
  private def duckKnnGraphCtes: String =
    s"""pl AS (
            SELECT COALESCE(MIN(p), $GraphMaxPlanes) AS np
            FROM (SELECT unnest(range(6, ${GraphMaxPlanes + 1})) AS p),
                 (SELECT COUNT(*) AS n FROM embeddings)
            WHERE (CAST(1 AS BIGINT) << p) * $GraphOccupancy >= n),
          d AS (
            SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings),
          planes AS (SELECT t, j, t * (SELECT np FROM pl) + j AS p
                     FROM (SELECT unnest(range(0, $GraphTables)) AS t),
                          (SELECT unnest(range(0, (SELECT np FROM pl)))
                             AS j)),
          proj AS (
            SELECT vec_id, t, j,
                   SUM(CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)
                       * ((p * 2654435761 + dim * 2246822519)
                          % 251 % 7 - 3)) AS s
            FROM d CROSS JOIN planes GROUP BY vec_id, t, j),
          bkt AS (
            SELECT vec_id, t,
                   CAST(SUM(CASE WHEN s > 0 THEN 1 << j ELSE 0 END)
                        AS BIGINT) AS bucket
            FROM proj GROUP BY vec_id, t),
          grp AS (SELECT t, bucket, COUNT(*) AS n FROM bkt GROUP BY 1, 2),
          cand AS (
            SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
            FROM bkt a
            JOIN bkt b ON a.t = b.t AND a.bucket = b.bucket
                      AND a.vec_id < b.vec_id
            JOIN grp g ON g.t = a.t AND g.bucket = a.bucket
            WHERE g.n BETWEEN 2 AND $VecBucketCap),
          nrm AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm
                  FROM d GROUP BY vec_id),
          nd AS (SELECT d.vec_id, d.dim, d.x / nrm.nrm AS xn
                 FROM d JOIN nrm USING (vec_id)),
          pairs AS (
            SELECT c.va, c.vb, ROUND(SUM(na.xn * nb.xn), 6) AS cos
            FROM cand c
            JOIN nd na ON na.vec_id = c.va
            JOIN nd nb ON nb.vec_id = c.vb AND nb.dim = na.dim
            GROUP BY c.va, c.vb),
          sym AS (
            SELECT va, vb, cos FROM pairs
            UNION ALL SELECT vb AS va, va AS vb, cos FROM pairs),
          -- MATERIALIZED: both consumers reference edges twice (the main
          -- select + the reversed mutual/self-join side); without the
          -- hint DuckDB inlines the whole LSH/cosine chain into each
          -- reference and evaluates it twice (round-8 ADVICE.md)
          edges AS MATERIALIZED (
            SELECT va, vb, cos, CAST(rank AS BIGINT) AS rank
            FROM (SELECT va, vb, cos,
                         ROW_NUMBER() OVER (PARTITION BY va
                                            ORDER BY cos DESC, vb) AS rank
                  FROM sym)
            WHERE rank <= $TopK)"""
}
