package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._
import OracleSql.fnvSql
import graft.operators.CandidatePairs

/** Corpus-curation operators — the remaining pillars of a training-data
  * pipeline beyond dedup/similarity/ranking: repetition quality signals
  * (Gopher-style, adapted to word granularity), exact substring-window
  * duplication (the "Deduplicating Training Data" suffix-window signal),
  * benchmark decontamination (word-8-gram overlap vs a held-out eval set),
  * a deterministic global training shuffle, int8 embedding quantization,
  * and a per-source quality-filter funnel audit.
  *
  * Scale design:
  *  - Every per-doc signal is a narrow map over (doc_id, text) — no
  *    shuffle except the aggregate that needs one, and those group on
  *    compact keys.
  *  - Decontamination broadcasts the eval-set gram index (eval benchmarks
  *    are KBs–MBs; the corpus side streams past it with zero shuffle).
  *  - The training shuffle is a per-shard partitioned sort (md5 keys
  *    spread uniformly), never a global ORDER BY.
  *  - Quantization is pure per-row HOF math: embarrassingly parallel,
  *    no exchange at all.
  *
  * Oracle bit-exactness follows the Tables.scala rules: counts cast to
  * BIGINT both sides, ratios are a single IEEE division of exactly-equal
  * inputs, float chains share identical parenthesization, md5 hex strings
  * are engine-portable, and every query ends in a deterministic ORDER BY.
  */
object CurationQueries {

  private val toks = "split(text, ' ')"

  // Semantic-decontamination cosine floor, interpolated into both the
  // Spark query and its oracle (same single-sourcing as the Gopher
  // knobs). Calibrated to the synthetic embedding geometry the same way
  // DedupQueries' SemCosMin (0.30) / EmbCosMin (0.45) are.
  private[graft] val DecontamCosMin = "0.35"
  // Eval-holdout stride: vec_id % DecontamMod == 0 is the eval set and the
  // corpus is its exact complement — a clean partition with NO eval-size
  // cap (VERDICT r9 #2 / ADVICE r9: the old 512-vector cap left a slice
  // of vectors on NEITHER side, so ~1/37 of a replica-scaled corpus was
  // never checked for contamination). Env-overridable
  // (SPARK_GRAFT_DECONTAM_MOD) so scale measurements can use a denser
  // holdout (e.g. 7 → eval ≈ 14% of the corpus) while the gate default
  // stays 37; read ONCE at class init so the engine query and the oracle
  // SQL can never disagree within a run.
  private[graft] val DecontamMod: Int =
    graft.LocalSession.envKnob("SPARK_GRAFT_DECONTAM_MOD", 37).toInt

  // DSIR hashed-feature bucket count (Xie et al. 2023, "Data Selection
  // for Language Models via Importance Resampling" — public technique).
  // A power of two DIVIDING 2^64, so the unsigned-residue mod the oracle
  // computes in HUGEINT equals the engine's pmod of the signed Long:
  // h mod 2^64 ≡ h (mod 1024). The bucket table is O(DsirBuckets)
  // regardless of corpus size — the whole point of hashed features.
  private val DsirBuckets = 1024

  // Gopher-filter knobs (bounds adapted from Rae et al. 2021 §A1.1 to this
  // corpus's 20–80-word documents), interpolated into BOTH the Spark query
  // and its oracle. GopherTopFrac10 is tenths (2 = Gopher's 20%
  // dominant-gram cap) so the repetition rule stays in integer
  // cross-multiplication.
  private val GopherMinWords = 10
  private val GopherMaxWords = 1000
  private val GopherMinWordLen = 3
  private val GopherMaxWordLen = 10
  private val GopherMinStop = 2
  private val GopherTopFrac10 = 2

  /** Gopher rule-battery annotation over any documents frame (batch OR
    * streaming — every rule is a stateless per-row expression): appends
    * n_words/n_lchars/n_stop/top_cnt, the named-failure `reasons` string
    * (fixed rule order) and the `pass` verdict, keeping the input columns.
    * Shared by curation_gopher_filter and streaming.StreamingCuration so
    * stream-time and batch verdicts cannot drift (parity spec-pinned).
    */
  private[graft] def gopherAnnotate(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df
      .withColumn("n_words", expr(s"size($toks)").cast("bigint"))
      .withColumn("n_lchars",
        expr("length(replace(text, ' ', ''))").cast("bigint"))
      .withColumn("n_stop",
        expr(s"size(filter($toks, t -> t = 'the' OR t = 'a' OR t = 'of'))")
          .cast("bigint"))
      .withColumn("top_cnt",
        expr(s"token_mode($toks).top_cnt").cast("bigint"))
      .withColumn("reasons", concat_ws(",",
        when(col("n_words") < GopherMinWords, "too_short"),
        when(col("n_words") > GopherMaxWords, "too_long"),
        when(col("n_lchars") < col("n_words") * GopherMinWordLen,
          "short_words"),
        when(col("n_lchars") > col("n_words") * GopherMaxWordLen,
          "long_words"),
        when(col("n_stop") < GopherMinStop, "no_stopwords"),
        when(col("top_cnt") * 10 > col("n_words") * GopherTopFrac10,
          "repetitive")))
      .withColumn("pass", col("reasons") === "")

  /** The shared curation dataflow: per-corpus-doc stage flags
    * q (quality), k (dedup keeper), c (decontaminated), m (mix-sampled) —
    * each conjunctive with the previous stage. Consumed by
    * `curation_pipeline_e2e` (counts) and `curation_survivors` (rows).
    */
  private def stagedCuration(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val docs = scan(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 37 =!= 0)
    val evalDocs = docs.filter(col("doc_id") % 37 === 0)
    val quality = col("n_chars").between(100, 500) &&
      (expr(s"cast(size(array_distinct($toks)) as double)") /
        expr(s"size($toks)")) >= 0.5
    val flagged = corpus.withColumn("q", quality)
    // exact-dedup keeper among quality survivors: doc is the keeper iff
    // it carries the MIN doc_id among same-md5(text) quality docs. As a
    // window min over the md5 partition this annotates rows IN PLACE —
    // the groupBy(md5)+join-back-by-doc_id form it replaces re-scanned
    // `documents` for the keeper subtree and paid two more corpus-sized
    // exchanges (the agg's and the join's); round-15 plan diff for
    // curation_survivors/pipeline_e2e: 8 scans → 6, one less shuffle
    // join. Same shuffle-key discipline: 16-byte md5, never the text.
    // contaminated = shares >= 2 distinct 4-grams with some eval doc.
    // Grams are deduplicated PER DOC inside the row (array_distinct before
    // the explode — codegen, zero shuffle), so every joined
    // (doc, eval_doc, gram) is unique by construction and the shared-gram
    // count is a plain COUNT with map-side partial aggregation. The
    // countDistinct form this replaces shuffled the full joined gram
    // STREAM on a 3-key string tuple — measured 311 s of this query's
    // 364 s at sf10 (100×), the repo's one super-linear stage; this form
    // ships only partial (doc, eval_doc, count) rows.
    val evalGrams = evalDocs
      .select(explode(expr(s"array_distinct(word_ngrams($toks, 4))"))
        .as("gram"), col("doc_id").as("eval_doc_id"))
    // Round-15: the corpus gram side filters to QUALITY docs before the
    // explode — `quality` is a row-local predicate, and the contamination
    // flag is only ever READ through `c = k && !contam` where k ⇒ q, so
    // dropping non-q docs from the gram join cannot change any output
    // column (non-q docs have k = false ⇒ c = false regardless). This
    // cuts the query's dominant stage (the gram explode + broadcast
    // probe) to the quality-survivor fraction of the corpus.
    // Spread BEFORE the gram explode: doc_id prefixes the count's
    // grouping keys, so the one exchange also completes the
    // (doc_id, eval_doc_id) aggregation in-stage.
    val contaminated = spread(corpus.filter(quality), col("doc_id"))
      .select(col("doc_id"),
        explode(expr(s"array_distinct(word_ngrams($toks, 4))")).as("gram"))
      .join(broadcast(evalGrams), "gram")
      .groupBy(col("doc_id"), col("eval_doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .select(col("doc_id")).distinct()
    val mixKeep = substring(md5(col("text")), 1, 1) <
      when(col("source").isInCollection(RankMixQueries.heavySources),
        lit("4")).otherwise(lit("c"))
    val keepMin = min(when(col("q"), col("doc_id")))
      .over(Window.partitionBy(md5(col("text"))))
    flagged
      .withColumn("k", col("q") && col("doc_id") === keepMin)
      .join(contaminated.withColumn("is_contam", lit(true)),
        Seq("doc_id"), "left")
      .withColumn("c", col("k") && col("is_contam").isNull)
      .withColumn("m", col("c") && mixKeep)
  }

  val queries: Map[String, Q] = Map(
    // Word-level repetition signals per document: token count, distinct
    // token count, type-token ratio, and the dominant token + its mass
    // fraction (ties broken by lexicographically-smallest token).
    // ZERO data shuffles: every stat is a per-row function of the token
    // array (size / array_distinct / the native token_mode kernel), so the
    // tokenized corpus never leaves its scan partition. The groupBy
    // (doc_id, token) form this replaces exchanged one row per token
    // INSTANCE — at 100 TB that shuffle is the whole corpus re-keyed,
    // for stats each row already contains. (A/B at sf10: 15.8 s → 2.1 s.)
    "text_repetition" -> ((s, dir) =>
      load(s, dir, "documents")
        .select(col("doc_id"),
          expr(s"size($toks)").cast("bigint").as("n_words"),
          expr(s"size(array_distinct($toks))").cast("bigint")
            .as("n_distinct"),
          expr(s"token_mode($toks)").as("tm"))
        .filter(col("n_words") > 0)
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          (col("n_distinct").cast("double") / col("n_words")).as("ttr"),
          col("tm.top_word").as("top_word"),
          col("tm.top_cnt").cast("bigint").as("top_cnt"),
          (col("tm.top_cnt").cast("double") / col("n_words"))
            .as("top_word_frac"))
        .orderBy(col("doc_id"))),

    // Gopher-style rule-battery quality filter (Rae et al. 2021's
    // heuristic battery, adapted to this corpus's feature set): word-count
    // range, mean-word-length range, stopword presence, dominant-token
    // repetition cap — each failure named in `reasons` so the funnel is
    // auditable per document, pass = empty reasons. ALL comparisons are
    // integer-only (the word-length and repetition bounds are
    // cross-multiplied instead of divided), so the verdicts are bit-exact
    // in any engine — no float-threshold knife edges. Same zero-shuffle
    // shape as text_repetition: every rule is a per-row function of the
    // token array; the corpus never leaves its scan partition.
    "curation_gopher_filter" -> ((s, dir) =>
      gopherAnnotate(load(s, dir, "documents"))
        .select(col("doc_id"), col("n_words"), col("n_stop"), col("top_cnt"),
          col("reasons"), col("pass"))
        .orderBy(col("doc_id"))),

    // Exact substring-window duplication: 64-char windows at stride 32;
    // a window seen in >1 distinct document marks verbatim cross-doc
    // duplication (the fixed-window form of suffix-array dedup). Group
    // keys are the window text for oracle comparability; the 100 TB form
    // groups on xxhash64(window) — same pairs, 8-byte shuffle keys.
    // Windows shared by more than WindowDocCap docs are boilerplate and
    // dropped, as dedup_cdc_chunks drops chunks.
    "dedup_window_pairs" -> ((s, dir) =>
      load(s, dir, "documents")
        .select(col("doc_id"),
          explode(expr("char_windows(text, 64, 32)")).as("win"))
        .groupBy(col("win"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_hits"))
        .filter(col("n_docs").between(2, DedupQueries.WindowDocCap))
        .select(col("win"), col("n_docs").cast("bigint").as("n_docs"),
          col("n_hits").cast("bigint").as("n_hits"))
        .orderBy(col("win"))),

    // Benchmark decontamination: held-out eval set = doc_id % 37 == 0;
    // count distinct word-4-grams each corpus doc shares with each eval
    // doc (gram width is the usual tunable; 4 suits these ~100-word
    // docs). The eval gram index is broadcast (eval sets are tiny
    // relative to the corpus) — the corpus side never shuffles its grams.
    "decontam_overlap" -> ((s, dir) => {
      // Grams dedup per doc INSIDE the row (array_distinct pre-explode —
      // codegen, zero shuffle), mirroring the oracle's DISTINCT(doc, gram)
      // side. Joined (doc, eval_doc, gram) rows are then unique by
      // construction, so the shared-gram count is a plain COUNT with
      // map-side partial aggregation — the countDistinct form it replaces
      // re-shuffled the whole joined gram stream on a 3-key string tuple
      // (the sibling curation_survivors measured that at 311 s of 364 s
      // at 100× data).
      def grams(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"),
          explode(expr(s"array_distinct(word_ngrams($toks, 4))")).as("gram"))
      val docs = scan(s, dir, "documents")
      val evalGrams = grams(docs.filter(col("doc_id") % 37 === 0))
        .withColumnRenamed("doc_id", "eval_doc_id")
      // Spread BEFORE the gram explode. Keying by doc_id both
      // parallelizes the explode + broadcast probe + partial count and
      // (doc_id prefixes the grouping, and Generate/BroadcastHashJoin
      // preserve the child partitioning) completes the
      // (doc_id, eval_doc_id) count WITHOUT its own exchange: the ~100M
      // matched rows at sf10 collapse to pair counts in the same stage,
      // and only the 21.8M result rows reach the final sort.
      // sf10: 63-76 -> 5.1 s.
      spread(docs.filter(col("doc_id") % 37 =!= 0), col("doc_id"))
        .transform(grams)
        .join(broadcast(evalGrams), "gram")
        .groupBy(col("doc_id"), col("eval_doc_id"))
        .agg(count(lit(1)).as("n_shared"))
        .select(col("doc_id"), col("eval_doc_id"),
          col("n_shared").cast("bigint").as("n_shared"))
        .orderBy(col("doc_id"), col("eval_doc_id"))
    }),

    // Semantic decontamination: the embedding-space complement of
    // decontam_overlap — a corpus vector is contaminated when its cosine
    // to a held-out eval vector (vec_id % DecontamMod == 0) reaches
    // DecontamCosMin; emit each contaminated vector with its best eval
    // match. n-gram overlap misses paraphrases; the embedding test
    // catches them (the standard second stage of benchmark-
    // decontamination pipelines).
    //
    // Scale shape (round 10): the FULL eval set is scanned — no size cap
    // — behind the same auto-sized LSH prefilter as dedup_embedding_near
    // (6 tables × autoPlanes hyperplanes, capped buckets): candidates are
    // (corpus, eval) pairs sharing a bucket in ≥1 table, then the exact
    // cosine re-ranks. Cost is O(corpus) bucketing + per-bucket
    // corpus×eval fan-out bounded by VecBucketCap — never the
    // O(corpus × |eval|) brute product. The candidate join ships IDs
    // only; vectors attach afterwards by key (eval side is |corpus|/37
    // here, KBs at gate SFs — AQE broadcasts it; a real benchmark eval
    // set is fixed-size and always broadcasts). Recall vs the brute
    // product is pinned in CurationSpec; the oracle replays the LSH
    // bucketing in HUGEINT SQL, so the gate stays bit-exact. Threshold
    // calibrated to this synthetic's embedding geometry like
    // EmbCosMin/SemCosMin (max cross-holdout cosine ≈ 0.39-0.50 at the
    // gate SFs; real text embeddings would use ~0.9+).
    "decontam_semantic" -> ((s, dir) => {
      val m = DecontamMod
      val pl = DedupQueries.lshPlanes(s, dir)
      val emb = scan(s, dir, "embeddings")
      val b = emb.select(col("vec_id"),
        posexplode(
          expr(s"lsh_buckets(embedding, ${DedupQueries.LshTables}, $pl)"))
          .as(Seq("table_id", "bucket")))
      // Round-15 lineage cut: bg feeds BOTH candidate sides (corpus probe
      // and eval build) and each reference re-ran the LSH bucket explode +
      // cap join (no ReuseExchange across the differently-filtered
      // subtrees). One AQE-planned temp-parquet evaluation — 3-long rows,
      // corpus-growing, so the distributed cut, not a collect.
      val bg = DedupQueries.materialize(s, CandidatePairs
        .inCappedBuckets(b, "decontam_semantic", Seq("table_id", "bucket")))
      val cand = bg.filter(col("vec_id") % m =!= 0)
        .join(bg.filter(col("vec_id") % m === 0)
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
        .filter(col("cos") >= DecontamCosMin)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("vec_id"), col("eval_id"), col("cos"))
        .orderBy(col("vec_id"))
    }),

    // Deterministic global training shuffle: md5-keyed shard assignment +
    // within-shard position. Reproducible across engines/runs (no RNG),
    // and the sort is per-shard (partitioned by the row_number window) —
    // never a single global ORDER BY at scale.
    "mix_shuffle_order" -> ((s, dir) => {
      val h = md5(concat(lit("shuf:"), col("doc_id").cast("string")))
      val shard = (ascii(substring(col("h"), 1, 1)) * 31 +
        ascii(substring(col("h"), 2, 1))) % 8
      val pos = row_number().over(Window.partitionBy(col("shard"))
        .orderBy(col("h"), col("doc_id")))
      scan(s, dir, "documents")
        .select(col("doc_id"), h.as("h"))
        .withColumn("shard", shard.cast("bigint"))
        .withColumn("pos", pos.cast("bigint"))
        .select(col("doc_id"), col("shard"), col("pos"), col("h"))
        .orderBy(col("shard"), col("pos"))
    }),

    // Symmetric int8 scalar quantization of the embedding column:
    // q_i = floor(x_i*127/amax + 0.5), amax = max |x_i|. Pure per-row
    // HOF math — zero exchanges; summary stats (sum/min/max/#saturated)
    // verify the elementwise kernel without emitting arrays.
    "sim_quantize_int8" -> ((s, dir) =>
      load(s, dir, "embeddings")
        .withColumn("amax", expr(
          "array_max(transform(embedding, x -> abs(cast(x as double))))"))
        .withColumn("q", expr(
          "transform(embedding, x -> cast(floor(" +
            "(cast(x as double)*127.0d)/amax + 0.5d) as bigint))"))
        .select(col("vec_id"), col("amax"),
          expr("aggregate(q, 0L, (a, x) -> a + x)").as("q_sum"),
          expr("array_min(q)").as("q_min"),
          expr("array_max(q)").as("q_max"),
          expr("cast(size(filter(q, v -> abs(v) = 127)) as bigint)")
            .as("n_sat"))
        .orderBy(col("vec_id"))),

    // The flagship composition: the complete curation funnel as ONE
    // dataflow — eval split → quality gate → exact-dedup keeper (min
    // doc_id per md5(text) among quality survivors) → decontamination
    // (≥2 distinct 4-grams shared with any eval doc ⇒ dropped) →
    // weighted mix sample. Per-source cumulative survivor counts.
    // Exchanges: one md5-group (16-byte keys, partial agg), one
    // broadcast semi-join against the eval gram index, one 10-group agg.
    "curation_pipeline_e2e" -> ((s, dir) =>
      stagedCuration(s, dir)
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_raw"),
          sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("k"), 1L).otherwise(0L)).as("n_unique"),
          sum(when(col("c"), 1L).otherwise(0L)).as("n_clean"),
          sum(when(col("m"), 1L).otherwise(0L)).as("n_final"))
        .orderBy(col("source"))),

    // The pipeline's actual OUTPUT dataset: the surviving rows a trainer
    // would consume (same staged dataflow, final-stage filter instead of
    // the counts rollup).
    "curation_survivors" -> ((s, dir) =>
      stagedCuration(s, dir)
        .filter(col("m"))
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy(col("doc_id"))),

    // Length distribution for batch/curriculum planning: 50-char buckets
    // with cumulative counts. The window cumsum runs over the AGGREGATED
    // frame (≈a dozen bucket rows), so the single-partition window is a
    // dozen rows — never the corpus.
    "text_length_histogram" -> ((s, dir) => {
      val byBucket = scan(s, dir, "documents")
        .groupBy(expr("n_chars div 50").as("bucket"))
        .agg(count(lit(1)).as("n_docs"))
      byBucket
        .withColumn("cum_docs", sum(col("n_docs")).over(
          Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("bucket"), (col("bucket") * 50).as("lo"),
          col("n_docs"), col("cum_docs"))
        .orderBy(col("bucket"))
    }),

    // Quality-filter funnel audit, per source: how many docs survive each
    // rule and the conjunction. Single scan, one groupBy on a 10-value
    // key — the plan a funnel should have.
    "corpus_filter_funnel" -> ((s, dir) => {
      val nWords = expr(s"size($toks)")
      val ttr = expr(s"cast(size(array_distinct($toks)) as double)") / nWords
      val passLen = col("n_chars").between(100, 500)
      val passWords = nWords >= 20
      val passTtr = ttr >= 0.5
      val passLang = col("lang").isin("en", "de", "fr", "es")
      def cnt(c: org.apache.spark.sql.Column) =
        sum(when(c, 1L).otherwise(0L))
      load(s, dir, "documents")
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          cnt(passLen).as("pass_len"),
          cnt(passWords).as("pass_words"),
          cnt(passTtr).as("pass_ttr"),
          cnt(passLang).as("pass_lang"),
          cnt(passLen && passWords && passTtr && passLang).as("pass_all"))
        .orderBy(col("source"))
    }),

    // DSIR importance weights (Xie et al. 2023): score every document by
    // how much more likely its hashed-bigram features are under a TARGET
    // distribution (here: the corpus's English slice — the "high-quality
    // domain" stand-in) than under the raw SOURCE (the whole corpus).
    // w(doc) = Σ_grams [ln p̂_t(b(g)) − ln p̂_s(b(g))] with add-one
    // smoothing over DsirBuckets hashed buckets; importance resampling
    // keeps the top-weight docs. Bit-exactness via the k-means playbook:
    // each bucket's log-ratio is quantized ONCE to half-up 6dp micro-units
    // (floor(x*1e6+0.5) — identical on both engines), so the per-doc sum
    // is an exact order-free BIGINT fold and `weight` is one IEEE division
    // at the end. Scale: the feature table is O(DsirBuckets) no matter the
    // corpus (counts partial-agg map-side; the gram stream shuffles once
    // on a 1024-key space), the quantized ratio table is KB-sized so AQE
    // broadcasts the scoring join, and the doc-side pass is a narrow map.
    "curation_dsir_weights" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val bg = docs.select(col("doc_id"), col("lang"),
        explode(expr(s"transform(word_ngrams($toks, 2), " +
          s"g -> pmod(fnv64(g), ${DsirBuckets}L))")).as("b"))
      val buckets = bg.groupBy(col("b")).agg(
        count(lit(1)).as("cs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
      // Corpus totals via an unpartitioned window over the BUCKET table —
      // bounded at DsirBuckets rows at any corpus size (same argument as
      // the length-histogram cumsum), and one corpus pass cheaper than a
      // separate scalar-aggregate subtree (DataFrame lineage would re-scan
      // the corpus to rebuild it).
      val whole = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val tq = buckets
        .withColumn("ns", sum(col("cs")).over(whole))
        .withColumn("nt", sum(col("ct")).over(whole))
      val q = tq.select(col("b"),
        floor((log((col("ct") + 1).cast("double") /
            (col("nt") + lit(DsirBuckets.toLong))) -
          log((col("cs") + 1).cast("double") /
            (col("ns") + lit(DsirBuckets.toLong)))) * 1e6 + 0.5)
          .cast("long").as("qlr"))
      val w = bg.join(q, "b").groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_grams"), sum(col("qlr")).as("weight_micro"))
      docs.select(col("doc_id"), col("lang")).join(w, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("weight_micro"), lit(0L)).as("weight_micro"),
          (coalesce(col("weight_micro"), lit(0L)).cast("double") / lit(1e6))
            .as("weight"))
        .orderBy(col("doc_id"))
    })
  )

  val oracle: Map[String, String] = Map(
    // Integer-only rule replay; reasons built in the same fixed rule order.
    "curation_gopher_filter" ->
      s"""WITH tc AS (
            SELECT doc_id, tok, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(STRING_SPLIT(text, ' ')) AS tok
                  FROM documents)
            GROUP BY doc_id, tok),
          top AS (SELECT doc_id, MAX(c) AS top_cnt FROM tc GROUP BY doc_id),
          f AS (
            SELECT doc_id,
                   CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words,
                   CAST(LEN(REPLACE(text, ' ', '')) AS BIGINT) AS n_lchars,
                   CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                     t -> t = 'the' OR t = 'a' OR t = 'of')) AS BIGINT)
                     AS n_stop
            FROM documents),
          r AS (
            SELECT f.doc_id, n_words, n_stop,
                   CAST(top_cnt AS BIGINT) AS top_cnt,
                   -- DuckDB's array_to_string of an EMPTY list is NULL,
                   -- not '' — coalesce to match Spark's concat_ws
                   COALESCE(array_to_string(list_filter([
                     CASE WHEN n_words < $GopherMinWords
                          THEN 'too_short' END,
                     CASE WHEN n_words > $GopherMaxWords THEN 'too_long' END,
                     CASE WHEN n_lchars < $GopherMinWordLen * n_words
                          THEN 'short_words' END,
                     CASE WHEN n_lchars > $GopherMaxWordLen * n_words
                          THEN 'long_words' END,
                     CASE WHEN n_stop < $GopherMinStop
                          THEN 'no_stopwords' END,
                     CASE WHEN top_cnt * 10 > n_words * $GopherTopFrac10
                          THEN 'repetitive' END],
                     x -> x IS NOT NULL), ','), '') AS reasons
            FROM f JOIN top ON top.doc_id = f.doc_id)
          SELECT doc_id, n_words, n_stop, top_cnt, reasons,
                 reasons = '' AS pass
          FROM r ORDER BY doc_id""",
    "text_repetition" ->
      """WITH wc AS (SELECT doc_id, token, COUNT(*) AS cnt
                     FROM (SELECT doc_id,
                                  unnest(STRING_SPLIT(text, ' ')) AS token
                           FROM documents)
                     GROUP BY doc_id, token),
              pd AS (SELECT doc_id, SUM(cnt) AS n_words,
                            COUNT(*) AS n_distinct
                     FROM wc GROUP BY doc_id),
              top AS (SELECT doc_id, token AS top_word, cnt AS top_cnt
                      FROM (SELECT wc.*,
                                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY cnt DESC, token) AS rk
                            FROM wc)
                      WHERE rk = 1)
         SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
                CAST(n_distinct AS BIGINT) AS n_distinct,
                CAST(n_distinct AS DOUBLE) / n_words AS ttr,
                top_word, CAST(top_cnt AS BIGINT) AS top_cnt,
                CAST(top_cnt AS DOUBLE) / n_words AS top_word_frac
         FROM pd JOIN top USING (doc_id) ORDER BY doc_id""",
    "dedup_window_pairs" ->
      s"""WITH w AS (SELECT doc_id,
                           substr(text, 1 + 32*i, 64) AS win
                    FROM documents,
                         UNNEST(RANGE(0, ((LEN(text)-64)//32) + 1)) AS u(i)
                    WHERE LEN(text) >= 64),
              g AS (SELECT win, COUNT(DISTINCT doc_id) AS n_docs,
                           COUNT(*) AS n_hits
                    FROM w GROUP BY win)
         SELECT win, CAST(n_docs AS BIGINT) AS n_docs,
                CAST(n_hits AS BIGINT) AS n_hits
         FROM g WHERE n_docs BETWEEN 2 AND ${DedupQueries.WindowDocCap}
         ORDER BY win""",
    // Full LSH replay (same HUGEINT bucket chain as dedup_embedding_near's
    // oracle, single-sourced plane count via DedupQueries.duckPl), then
    // exact cosine on the candidate pairs only — the oracle computes the
    // SAME prefiltered semantics the engine does, so the gate is
    // bit-exact; recall vs brute is pinned separately in CurationSpec.
    "decontam_semantic" ->
      s"""WITH ${DedupQueries.duckPl},
              d AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                           CAST(unnest(embedding) AS DOUBLE) AS x
                    FROM embeddings),
              planes AS (SELECT t, j, t * (SELECT np FROM pl) + j AS p
                         FROM (SELECT unnest(range(0,
                                 ${DedupQueries.LshTables})) AS t),
                              (SELECT unnest(range(0, (SELECT np FROM pl)))
                                 AS j)),
              proj AS (SELECT vec_id, t, j,
                              SUM(CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)
                                  * ((p * 2654435761 + dim * 2246822519)
                                     % 251 % 7 - 3)) AS s
                       FROM d CROSS JOIN planes GROUP BY vec_id, t, j),
              bkt AS (SELECT vec_id, t,
                             CAST(SUM(CASE WHEN s > 0 THEN 1 << j
                                           ELSE 0 END) AS BIGINT) AS bucket
                      FROM proj GROUP BY vec_id, t),
              grp AS (SELECT t, bucket, COUNT(*) AS n
                      FROM bkt GROUP BY 1, 2),
              cand AS (SELECT DISTINCT c.vec_id, e.vec_id AS eval_id
                       FROM bkt c
                       JOIN bkt e ON e.t = c.t AND e.bucket = c.bucket
                       JOIN grp g ON g.t = c.t AND g.bucket = c.bucket
                       WHERE g.n BETWEEN 2 AND ${CandidatePairs.VecBucketCap}
                         AND c.vec_id % $DecontamMod <> 0
                         AND e.vec_id % $DecontamMod = 0),
              nrm AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm
                      FROM d GROUP BY vec_id),
              nd AS (SELECT d.vec_id, dim, x / nrm AS xn
                     FROM d JOIN nrm USING (vec_id)),
              cos AS (SELECT cd.vec_id, cd.eval_id,
                             ROUND(SUM(a.xn * b.xn), 6) AS cos
                      FROM cand cd
                      JOIN nd a ON a.vec_id = cd.vec_id
                      JOIN nd b ON b.vec_id = cd.eval_id AND b.dim = a.dim
                      GROUP BY cd.vec_id, cd.eval_id),
              hit AS (SELECT vec_id, eval_id, cos,
                             ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cos DESC, eval_id) AS rnk
                      FROM cos WHERE cos >= $DecontamCosMin)
         SELECT vec_id, eval_id, cos FROM hit WHERE rnk = 1
         ORDER BY vec_id""",
    "decontam_overlap" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS a,
                           LEN(STRING_SPLIT(text, ' ')) AS n
                    FROM documents),
              g AS (SELECT DISTINCT doc_id,
                           array_to_string(list_slice(a, i+1, i+4), ' ')
                             AS gram
                    FROM t, UNNEST(RANGE(0, n - 3)) AS u(i)
                    WHERE n >= 4)
         SELECT c.doc_id AS doc_id, e.doc_id AS eval_doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_shared
         FROM g c JOIN g e USING (gram)
         WHERE c.doc_id % 37 <> 0 AND e.doc_id % 37 = 0
         GROUP BY c.doc_id, e.doc_id
         ORDER BY doc_id, eval_doc_id""",
    "mix_shuffle_order" ->
      """WITH h AS (SELECT doc_id,
                           md5('shuf:' || CAST(doc_id AS VARCHAR)) AS h
                    FROM documents),
              s AS (SELECT doc_id, h,
                           CAST((ascii(substr(h, 1, 1)) * 31 +
                                 ascii(substr(h, 2, 1))) % 8 AS BIGINT)
                             AS shard
                    FROM h)
         SELECT doc_id, shard,
                CAST(ROW_NUMBER() OVER (PARTITION BY shard
                       ORDER BY h, doc_id) AS BIGINT) AS pos, h
         FROM s ORDER BY shard, pos""",
    "sim_quantize_int8" ->
      """WITH b AS (SELECT vec_id, embedding,
                           list_max(list_transform(embedding,
                             x -> abs(CAST(x AS DOUBLE)))) AS amax
                    FROM embeddings),
              q AS (SELECT vec_id, amax,
                           list_transform(embedding, x -> CAST(floor(
                             (CAST(x AS DOUBLE)*127.0)/amax + 0.5)
                             AS BIGINT)) AS ql
                    FROM b)
         SELECT vec_id, amax,
                CAST(list_sum(ql) AS BIGINT) AS q_sum,
                CAST(list_min(ql) AS BIGINT) AS q_min,
                CAST(list_max(ql) AS BIGINT) AS q_max,
                CAST(LEN(list_filter(ql, v -> abs(v) = 127)) AS BIGINT)
                  AS n_sat
         FROM q ORDER BY vec_id""",
    "curation_pipeline_e2e" ->
      s"""WITH corpus AS (
           SELECT doc_id, text, source, n_chars,
                  (n_chars BETWEEN 100 AND 500) AND
                  (CAST(LEN(list_distinct(STRING_SPLIT(text, ' ')))
                        AS DOUBLE) /
                     LEN(STRING_SPLIT(text, ' ')) >= 0.5) AS q
           FROM documents WHERE doc_id % 37 <> 0),
         keepers AS (
           SELECT MIN(doc_id) AS keep_id
           FROM corpus WHERE q GROUP BY md5(text)),
         eg AS (
           SELECT DISTINCT doc_id AS eval_doc_id,
                  array_to_string(list_slice(a, i+1, i+4), ' ') AS gram
           FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS a,
                        LEN(STRING_SPLIT(text, ' ')) AS n
                 FROM documents WHERE doc_id % 37 = 0) t,
                UNNEST(RANGE(0, n - 3)) AS u(i)
           WHERE n >= 4),
         cg AS (
           SELECT doc_id,
                  array_to_string(list_slice(a, i+1, i+4), ' ') AS gram
           FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS a,
                        LEN(STRING_SPLIT(text, ' ')) AS n
                 FROM corpus) t,
                UNNEST(RANGE(0, n - 3)) AS u(i)
           WHERE n >= 4),
         contam AS (
           SELECT DISTINCT doc_id FROM (
             SELECT c.doc_id, e.eval_doc_id
             FROM cg c JOIN eg e USING (gram)
             GROUP BY c.doc_id, e.eval_doc_id
             HAVING COUNT(DISTINCT gram) >= 2)),
         staged AS (
           SELECT f.source, f.q,
                  f.q AND (kp.keep_id IS NOT NULL) AS k,
                  f.q AND (kp.keep_id IS NOT NULL) AND
                    (ct.doc_id IS NULL) AS c,
                  f.q AND (kp.keep_id IS NOT NULL) AND
                    (ct.doc_id IS NULL) AND
                    (substr(md5(f.text), 1, 1) <
                      (CASE WHEN f.source IN (${RankMixQueries.heavySourcesSql})
                            THEN '4' ELSE 'c' END)) AS m
           FROM corpus f
           LEFT JOIN keepers kp ON kp.keep_id = f.doc_id
           LEFT JOIN contam ct ON ct.doc_id = f.doc_id)
         SELECT source, COUNT(*) AS n_raw,
                CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_quality,
                CAST(SUM(CASE WHEN k THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_unique,
                CAST(SUM(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_clean,
                CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_final
         FROM staged GROUP BY source ORDER BY source""",
    "curation_survivors" ->
      s"""WITH corpus AS (
           SELECT doc_id, text, source, lang, n_chars,
                  (n_chars BETWEEN 100 AND 500) AND
                  (CAST(LEN(list_distinct(STRING_SPLIT(text, ' ')))
                        AS DOUBLE) /
                     LEN(STRING_SPLIT(text, ' ')) >= 0.5) AS q
           FROM documents WHERE doc_id % 37 <> 0),
         keepers AS (
           SELECT MIN(doc_id) AS keep_id
           FROM corpus WHERE q GROUP BY md5(text)),
         eg AS (
           SELECT DISTINCT doc_id AS eval_doc_id,
                  array_to_string(list_slice(a, i+1, i+4), ' ') AS gram
           FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS a,
                        LEN(STRING_SPLIT(text, ' ')) AS n
                 FROM documents WHERE doc_id % 37 = 0) t,
                UNNEST(RANGE(0, n - 3)) AS u(i)
           WHERE n >= 4),
         cg AS (
           SELECT doc_id,
                  array_to_string(list_slice(a, i+1, i+4), ' ') AS gram
           FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS a,
                        LEN(STRING_SPLIT(text, ' ')) AS n
                 FROM corpus) t,
                UNNEST(RANGE(0, n - 3)) AS u(i)
           WHERE n >= 4),
         contam AS (
           SELECT DISTINCT doc_id FROM (
             SELECT c.doc_id, e.eval_doc_id
             FROM cg c JOIN eg e USING (gram)
             GROUP BY c.doc_id, e.eval_doc_id
             HAVING COUNT(DISTINCT gram) >= 2))
         SELECT f.doc_id, f.source, f.lang
         FROM corpus f
         JOIN keepers kp ON kp.keep_id = f.doc_id
         LEFT JOIN contam ct ON ct.doc_id = f.doc_id
         WHERE f.q AND ct.doc_id IS NULL
           AND substr(md5(f.text), 1, 1) <
               (CASE WHEN f.source IN (${RankMixQueries.heavySourcesSql})
                     THEN '4' ELSE 'c' END)
         ORDER BY f.doc_id""",
    "text_length_histogram" ->
      """WITH b AS (SELECT n_chars // 50 AS bucket, COUNT(*) AS n_docs
                    FROM documents GROUP BY 1)
         SELECT bucket, bucket * 50 AS lo, n_docs,
                CAST(SUM(n_docs) OVER (ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_docs
         FROM b ORDER BY bucket""",
    "corpus_filter_funnel" ->
      """WITH d AS (SELECT source, n_chars, lang,
                           LEN(STRING_SPLIT(text, ' ')) AS n_words,
                           CAST(LEN(list_distinct(STRING_SPLIT(text, ' ')))
                                AS DOUBLE) /
                             LEN(STRING_SPLIT(text, ' ')) AS ttr
                    FROM documents)
         SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN n_chars BETWEEN 100 AND 500
                              THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
                CAST(SUM(CASE WHEN n_words >= 20
                              THEN 1 ELSE 0 END) AS BIGINT) AS pass_words,
                CAST(SUM(CASE WHEN ttr >= 0.5
                              THEN 1 ELSE 0 END) AS BIGINT) AS pass_ttr,
                CAST(SUM(CASE WHEN lang IN ('en','de','fr','es')
                              THEN 1 ELSE 0 END) AS BIGINT) AS pass_lang,
                CAST(SUM(CASE WHEN n_chars BETWEEN 100 AND 500
                               AND n_words >= 20 AND ttr >= 0.5
                               AND lang IN ('en','de','fr','es')
                              THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
         FROM d GROUP BY source ORDER BY source""",

    // Full DSIR replay: FNV-1a bucket hashing in HUGEINT (mod 1024 of the
    // unsigned residue == the engine's pmod — 1024 divides 2^64), exact
    // integer bucket counts, the SAME parenthesization for the two LNs of
    // single integer-ratio divisions, half-up 6dp micro-unit quantization,
    // then an exact BIGINT sum per document.
    "curation_dsir_weights" -> s"""
      WITH dtk AS (SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS t
                   FROM documents),
      g AS (SELECT doc_id, lang, t[i] || ' ' || t[i + 1] AS gram
            FROM dtk, UNNEST(RANGE(1, LEN(t))) AS u(i)),
      hb AS (SELECT doc_id, lang,
                    CAST(${fnvSql("gram")} % ${DsirBuckets}::HUGEINT
                         AS BIGINT) AS b
             FROM g),
      bk AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cs,
                    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                         AS BIGINT) AS ct
             FROM hb GROUP BY b),
      tot AS (SELECT CAST(SUM(cs) AS BIGINT) AS ns,
                     CAST(SUM(ct) AS BIGINT) AS nt FROM bk),
      q AS (SELECT b, CAST(FLOOR((
                LN(CAST(ct + 1 AS DOUBLE) / (nt + $DsirBuckets))
              - LN(CAST(cs + 1 AS DOUBLE) / (ns + $DsirBuckets))) * 1e6
              + 0.5) AS BIGINT) AS qlr
            FROM bk CROSS JOIN tot),
      w AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(SUM(qlr) AS BIGINT) AS weight_micro
            FROM hb JOIN q USING (b) GROUP BY doc_id)
      SELECT d.doc_id AS doc_id, d.lang AS lang,
             COALESCE(w.n_grams, 0::BIGINT) AS n_grams,
             COALESCE(w.weight_micro, 0::BIGINT) AS weight_micro,
             CAST(COALESCE(w.weight_micro, 0::BIGINT) AS DOUBLE) / 1e6
               AS weight
      FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id
      ORDER BY d.doc_id"""
  )
}
