package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/** Ranking + training-mix operators over the `documents` table — the
  * retrieval/curation half of a training-data pipeline: TF-IDF term
  * ranking, BM25 document scoring, deterministic stratified sampling, and
  * weighted per-source rebalancing (data mixing).
  *
  * Scale design:
  *  - Corpus scalars (N, total token count) are a 1-row aggregate
  *    broadcast-cross-joined into the per-doc plan — never a driver
  *    collect, never a shuffle of the fact side.
  *  - The document-frequency side of TF-IDF/BM25 is vocabulary-sized
  *    (≪ corpus); AQE broadcasts it at any realistic vocab size.
  *  - Sampling/mixing predicates are pure per-row functions of md5(text) —
  *    embarrassingly parallel, deterministic across engines and runs
  *    (no RNG), and push down to a narrow (text, source, lang) scan.
  *
  * Oracle bit-exactness: ranking keys are ROUNDED(…, 6) doubles (both
  * engines rank on the identical rounded value; ties broken by
  * token/doc_id), float expressions are written with identical
  * parenthesization both sides, and every intermediate int fits a double
  * exactly, so the only cross-engine wiggle is `ln` (≤1 ulp) which the
  * 6-dp rounding absorbs.
  */
object RankMixQueries {

  private val toks = "split(text, ' ')"

  /** Heavy sources get downsampled harder: first md5 hex digit < '4'
    * (~25% keep) for src0-3, < 'c' (~75%) for the rest. Shared with the
    * end-to-end curation pipeline so the mix stage is the same rule. */
  val heavySources: Seq[String] = Seq("src0", "src1", "src2", "src3")

  /** The same set rendered as a SQL IN-list, interpolated into every
    * oracle that mirrors the mix rule — one constant drives the Spark
    * side and the oracle side, so they cannot silently desynchronize.
    */
  val heavySourcesSql: String = heavySources.map(s => s"'$s'").mkString(",")

  val queries: Map[String, Q] = Map(
    // Top-3 TF-IDF terms per document. tf = in-doc term count, df = #docs
    // containing the term, idf = ln(N/df).
    //
    // Round-15 shape: tf is ROW-LOCAL (the native token_counts kernel —
    // one sorted run-length pass per document inside codegen), so the
    // (doc_id, token)-wide exchange the old groupBy(doc_id, token) paid
    // is gone; df comes from a distinct-tokens explode into a vocab-keyed
    // partial agg (the old form re-derived the whole tf table — scan,
    // explode, (doc_id, token) exchange — a second time for the df
    // subtree, since DataFrame subtrees never ReuseExchange). Remaining
    // exchanges: the vocab agg, the top-k window (WindowGroupLimit keeps
    // it per-partition-pruned), the output sort. Same tf/df/N integers,
    // same round(tf·ln(N/df), 6) expression ⇒ bit-identical rows.
    "text_tfidf_topk" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val n = docs.agg(count(lit(1)).as("n"))
      val tf = docs
        .select(col("doc_id"), explode(expr(s"token_counts($toks)")).as("e"))
        .select(col("doc_id"), col("e.token").as("token"),
          col("e.cnt").as("tf"))
      val dfreq = docs
        .select(explode(expr(s"array_distinct($toks)")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("df"))
      val scored = tf
        .join(dfreq, "token") // vocab side ≪ corpus: AQE broadcasts
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log(col("n").cast("double") / col("df")), 6))
      val rk = row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("token")))
      scored.withColumn("rk", rk).filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk").cast("bigint").as("rk"),
          col("token"), col("tf").cast("bigint").as("tf"),
          col("df").cast("bigint").as("df"), col("tfidf"))
        .orderBy(col("doc_id"), col("rk"))
    }),

    // BM25 (k1=1.2, b=0.75) for the two-term query {spark, vector}:
    // top-20 documents. Per-doc term counts are a narrow map; the only
    // exchanges are the 1-row stats broadcast and the final top-k.
    "text_bm25" -> ((s, dir) => {
      val base = load(s, dir, "documents").select(
        col("doc_id"),
        expr(s"cast(size($toks) as bigint)").as("dl"),
        expr(s"cast(size(filter($toks, t -> t = 'spark')) as bigint)")
          .as("tf_spark"),
        expr(s"cast(size(filter($toks, t -> t = 'vector')) as bigint)")
          .as("tf_vector"))
      val stats = base.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
      val melted = base.select(col("doc_id"), col("dl"),
          expr("stack(2, 'spark', tf_spark, 'vector', tf_vector) as (term, tf)"))
        .filter(col("tf") > 0)
      val dfx = melted.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val perTerm = melted
        .join(broadcast(dfx), "term")
        .crossJoin(broadcast(stats))
        // idf * (tf*(k1+1)) / (tf + k1*((1-b) + (b*dl)/avgdl)) with
        // avgdl = (1.0*sdl)/n; parenthesization mirrored in the oracle.
        .withColumn("s",
          log(lit(1.0) + ((col("n").cast("double") - col("df")) + lit(0.5)) /
            (col("df") + lit(0.5))) *
          ((col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) +
              (lit(0.75) * col("dl")) /
                (col("sdl").cast("double") / col("n"))))))
      perTerm.groupBy(col("doc_id"))
        .agg(max(col("dl")).as("dl"), round(sum(col("s")), 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(20)
    }),

    // Deterministic stratified sample: 10 docs per language, ranked by
    // md5(text) — reproducible across engines/runs, no RNG. (Top-k per
    // stratum shuffles by `lang`; with few huge strata, pre-filter on an
    // md5 prefix to cut candidates before the window.)
    "sample_stratified" -> ((s, dir) => {
      val rn = row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("h"), col("doc_id")))
      load(s, dir, "documents")
        .select(col("lang"), col("doc_id"), md5(col("text")).as("h"))
        .withColumn("rn", rn).filter(col("rn") <= 10)
        .select(col("lang"), col("doc_id"), col("rn").cast("bigint").as("rn"),
          col("h"))
        .orderBy(col("lang"), col("rn"))
    }),

    // Weighted source rebalance (training-data mixing): keep a
    // deterministic md5-rate sample, heavier sources downsampled harder.
    // Pure per-row predicate — no shuffle except the output sort.
    "mix_weighted_sample" -> ((s, dir) =>
      scan(s, dir, "documents")
        .filter(substring(md5(col("text")), 1, 1) <
          when(col("source").isInCollection(heavySources), lit("4"))
            .otherwise(lit("c")))
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy(col("doc_id"))),

    // Corpus cardinality audit: per-source doc/token totals + exact
    // distinct-token count. (The 100 TB form swaps the exact COUNT
    // DISTINCT for approx_count_distinct — RankMixSpec pins the HLL
    // estimate within 5% of this exact answer.)
    "mix_vocab_by_source" -> ((s, dir) =>
      load(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          explode(expr(toks)).as("token"))
        .groupBy(col("source")).agg(
          countDistinct(col("doc_id")).cast("bigint").as("n_docs"),
          count(lit(1)).as("n_tokens"),
          countDistinct(col("token")).cast("bigint").as("n_vocab"))
        .orderBy(col("source"))),

    // Mixture-weight allocation: each source's share of a 1M-token
    // training budget under sqrt-scaling (heavy sources damped — the
    // standard multilingual/multi-source mixing rule). Two tiny aggs +
    // a 1-row broadcast; weights are ROUND(,6) so both engines rank the
    // identical values.
    "mix_token_budget" -> ((s, dir) => {
      val per = scan(s, dir, "documents")
        .groupBy(col("source"))
        .agg(expr(s"cast(sum(size($toks)) as bigint)").as("n_tokens"))
        .withColumn("w", sqrt(col("n_tokens").cast("double")))
      val tot = per.agg(sum(col("w")).as("sw"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"),
          round(col("w") / col("sw"), 6).as("weight"),
          round(lit(1000000.0) * col("w") / col("sw"), 2).as("alloc_tokens"))
        .orderBy(col("source"))
    }),

    // Multi-epoch mixing schedule (data-constrained scaling, Muennighoff
    // et al. 2022 — public: repeating data beyond ~4 epochs stops
    // helping): give every source an equal share of the global token
    // budget and compute how many epochs of that source the share buys,
    // capped at 4. Small sources repeat (up to the cap), large sources
    // are subsampled (epochs < 1). All integer arithmetic (milli-epochs
    // = floor ratios, sampled = floor back-product), so both engines
    // produce identical BIGINTs — no float anywhere. Scale: one map-side
    // partial-agg over the corpus to the per-source table, a 1-row total
    // broadcast back across it; the corpus itself is scanned once.
    "mix_epoch_schedule" -> ((s, dir) => {
      val st = scan(s, dir, "documents")
        .groupBy(col("source"))
        .agg(expr(s"cast(sum(size($toks)) as bigint)").as("n_tokens"))
      val tot = st.agg(sum(col("n_tokens")).as("budget"),
        count(lit(1)).as("n_sources"))
      st.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"),
          expr("budget div n_sources").as("target_tokens"),
          expr("least(4000L, ((budget div n_sources) * 1000) div n_tokens)")
            .as("epochs_milli"))
        .withColumn("sampled_tokens",
          expr("(n_tokens * epochs_milli) div 1000"))
        .orderBy(col("source"))
    }),

    // How exact dedup SHIFTS the source mixture — the before/after audit
    // a mixture designer runs because dedup is never uniform across
    // sources (boilerplate-heavy sources lose more, so the realized
    // training mixture moves away from the designed one). Keep rule is
    // dedup_exact_keep's: one survivor per md5(text) group, attributed to
    // the min-doc_id's source via min_by — grouped on the 32-char hash so
    // the exchange never carries full text. Weights are exact integer ppm
    // (single-sourced totals via one 1-row broadcast); shift_ppm =
    // w_dedup − w_raw can be negative. Scale: two corpus aggs with
    // map-side partials; everything after is #sources-sized.
    "mix_dedup_adjusted_weights" -> ((s, dir) => {
      val docs = scan(s, dir, "documents")
      val raw = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
      val kept = docs.groupBy(md5(col("text")))
        .agg(expr("min_by(source, doc_id)").as("source"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      val st = raw.join(broadcast(kept), Seq("source"), "left")
        .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
      val tot = st.agg(sum(col("n_docs")).as("t_raw"),
        sum(col("n_kept")).as("t_kept"))
      st.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_kept"),
          expr("(n_docs * 1000000L) div t_raw").as("w_raw_ppm"),
          expr("(n_kept * 1000000L) div t_kept").as("w_dedup_ppm"))
        .withColumn("shift_ppm", col("w_dedup_ppm") - col("w_raw_ppm"))
        .orderBy(col("source"))
    }),

    // Temperature-scaled source-mixing weights (the multilingual /
    // multi-source rebalancing rule, w_i ∝ p_i^(1/τ) — public technique,
    // e.g. the temperature sampling of multilingual LM training and the
    // UniMax line of work): τ=1 (proportional), τ=1/2 (sharpen, p²) and
    // τ=2 (flatten, √p), all EXACT integers. Counts quantize to a
    // corpus-derived lattice (unit = max(1, total div 1e5) — both engines
    // derive it from the same SUM, so it cannot drift), squares stay
    // within BIGINT by construction (unit = max(1, tot div 1e5) bounds
    // c = n div unit below 2e5 — the worst case is tot just under 2e5
    // with unit 1 — so c²·1e6 < 4e16 < 2^63), and √ is
    // an exact integer sqrt: floor(sqrt(c·1e6)) from the correctly-rounded
    // IEEE sqrt both engines share, then a ±1 fix-up that makes the result
    // provably exact regardless of libm. Weights are ppm by integer
    // division. Scale: one corpus agg to #sources rows; everything after
    // is #sources-sized with two 1-row broadcasts.
    "mix_temperature_weights" -> ((s, dir) => {
      val st = scan(s, dir, "documents")
        .groupBy(col("source"))
        .agg(expr(s"cast(sum(size($toks)) as bigint)").as("n_tokens"))
      val tot = st.agg(sum(col("n_tokens")).as("tot"))
      val c = st.crossJoin(broadcast(tot))
        .withColumn("c", expr("n_tokens div greatest(1L, tot div 100000L)"))
        .withColumn("r0",
          expr("cast(floor(sqrt(cast(c as double) * 1000000.0)) as bigint)"))
        .withColumn("r",
          expr("""r0 - cast(r0 * r0 > c * 1000000L as int)
                     + cast((r0 + 1) * (r0 + 1) <= c * 1000000L as int)"""))
      val sums = c.agg(sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"), sum(col("r")).as("sr"))
      c.crossJoin(broadcast(sums))
        .select(col("source"), col("n_tokens"),
          expr("(c * 1000000L) div s1").as("w_t1_ppm"),
          expr("(c * c * 1000000L) div s2").as("w_t05_ppm"),
          expr("(r * 1000000L) div sr").as("w_t2_ppm"))
        .orderBy(col("source"))
    }),

    // Per-source distribution shift: KL(source unigram ‖ corpus unigram)
    // — the standard source-homogeneity audit a mixture designer runs
    // before weighting (which sources are topically skewed vs the pool;
    // public technique, e.g. the domain-divergence analyses in the DoReMi
    // / DSIR line of work). Bit-exactness: every p and q is one IEEE
    // division of exact BIGINTs, each vocab term p·ln(p/q) is quantized
    // to micro-nats (floor(x·1e6+0.5) — identical on the identical
    // doubles; the 6dp lattice absorbs the ≤1-ulp libm ln wiggle exactly
    // like the tfidf/BM25 oracles), and the per-source total is a SUM of
    // BIGINTs — order-free, so partition count can't flip it. Gibbs'
    // inequality pins the total ≥ −(#terms) micro-units (KlSpec). Scale:
    // ONE corpus-wide explode+agg to the (source, token) count table
    // (map-side partials); everything after is vocab-sized — the corpus
    // marginal is a re-agg of the count table, the per-source totals are
    // #sources rows broadcast back, and the final agg is #sources rows.
    "mix_source_kl" -> ((s, dir) => {
      val cst = load(s, dir, "documents")
        .select(col("source"), explode(expr(toks)).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("c_st"))
      val ct = cst.groupBy(col("token"))
        .agg(sum(col("c_st")).as("c_t"))
      val ns = cst.groupBy(col("source"))
        .agg(sum(col("c_st")).as("n_s"),
          count(lit(1)).as("n_vocab"))
      val n = ct.agg(sum(col("c_t")).as("n"))
      cst.join(ct, "token")
        .join(broadcast(ns), "source")
        .crossJoin(broadcast(n))
        .withColumn("term_micro",
          floor((col("c_st").cast("double") / col("n_s")) *
            log((col("c_st").cast("double") / col("n_s")) /
                (col("c_t").cast("double") / col("n"))) *
            lit(1000000.0) + lit(0.5)).cast("long"))
        .groupBy(col("source"))
        .agg(max(col("n_s")).as("n_tokens"),
          max(col("n_vocab")).as("n_vocab"),
          sum(col("term_micro")).as("kl_micro"))
        .withColumn("kl_nats",
          col("kl_micro").cast("double") / lit(1000000.0))
        .orderBy(col("source"))
    }),

    // The mix report: per-source before/after counts + realized keep rate
    // (single IEEE division of exact ints).
    "mix_source_rates" -> ((s, dir) =>
      scan(s, dir, "documents")
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(when(substring(md5(col("text")), 1, 1) <
              when(col("source").isInCollection(heavySources), lit("4"))
                .otherwise(lit("c")), 1).otherwise(0))
            .cast("bigint").as("n_kept"))
        .withColumn("keep_rate",
          col("n_kept").cast("double") / col("n_docs"))
        .orderBy(col("source")))
  )

  val oracle: Map[String, String] = Map(
    "text_tfidf_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(STRING_SPLIT(text, ' ')) AS token
                      FROM documents),
              tf AS (SELECT doc_id, token, COUNT(*) AS tf
                     FROM tok GROUP BY doc_id, token),
              dfx AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
              n AS (SELECT COUNT(*) AS n FROM documents),
              sc AS (SELECT doc_id, token, tf, df,
                            ROUND(tf * LN((1.0*n) / df), 6) AS tfidf
                     FROM tf JOIN dfx USING (token) CROSS JOIN n),
              rk AS (SELECT sc.*,
                            ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY tfidf DESC, token) AS rk
                     FROM sc)
         SELECT doc_id, CAST(rk AS BIGINT) AS rk, token,
                CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf
         FROM rk WHERE rk <= 3 ORDER BY doc_id, rk""",
    "text_bm25" ->
      """WITH base AS (
           SELECT doc_id,
                  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS dl,
                  CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                       t -> t = 'spark')) AS BIGINT) AS tf_spark,
                  CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                       t -> t = 'vector')) AS BIGINT) AS tf_vector
           FROM documents),
         g AS (SELECT COUNT(*) AS n, SUM(dl) AS sdl FROM base),
         m AS (SELECT doc_id, dl, 'spark' AS term, tf_spark AS tf FROM base
               UNION ALL
               SELECT doc_id, dl, 'vector' AS term, tf_vector AS tf FROM base),
         mm AS (SELECT * FROM m WHERE tf > 0),
         dfx AS (SELECT term, COUNT(*) AS df FROM mm GROUP BY term),
         sc AS (SELECT doc_id, dl,
                       LN(1.0 + ((1.0*n - df) + 0.5) / (df + 0.5)) *
                       ((tf * 2.2) /
                        (tf + 1.2 * (0.25 + (0.75 * dl) / ((1.0*sdl)/n)))) AS s
                FROM mm JOIN dfx USING (term) CROSS JOIN g)
         SELECT doc_id, CAST(MAX(dl) AS BIGINT) AS dl,
                ROUND(SUM(s), 6) AS bm25
         FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""",
    "sample_stratified" ->
      """WITH r AS (SELECT lang, doc_id, md5(text) AS h,
                           ROW_NUMBER() OVER (PARTITION BY lang
                             ORDER BY md5(text), doc_id) AS rn
                    FROM documents)
         SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn, h
         FROM r WHERE rn <= 10 ORDER BY lang, rn""",
    "mix_vocab_by_source" ->
      """SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                COUNT(*) AS n_tokens,
                CAST(COUNT(DISTINCT token) AS BIGINT) AS n_vocab
         FROM (SELECT source, doc_id,
                      unnest(STRING_SPLIT(text, ' ')) AS token
               FROM documents)
         GROUP BY source ORDER BY source""",
    "mix_token_budget" ->
      """WITH per AS (
           SELECT source,
                  CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT)
                    AS n_tokens
           FROM documents GROUP BY source),
         w AS (SELECT source, n_tokens,
                      SQRT(CAST(n_tokens AS DOUBLE)) AS w FROM per),
         t AS (SELECT SUM(w) AS sw FROM w)
         SELECT source, n_tokens, ROUND(w / sw, 6) AS weight,
                ROUND((1000000.0 * w) / sw, 2) AS alloc_tokens
         FROM w CROSS JOIN t ORDER BY source""",
    // Pure BIGINT replay: // is DuckDB floor division, div is Spark's —
    // identical on the non-negative operands here; LEAST promotes to
    // BIGINT on both engines.
    "mix_epoch_schedule" ->
      """WITH st AS (
           SELECT source,
                  CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT)
                    AS n_tokens
           FROM documents GROUP BY source),
         tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS budget,
                        COUNT(*) AS n_sources FROM st)
         SELECT source, n_tokens,
                budget // n_sources AS target_tokens,
                LEAST(CAST(4000 AS BIGINT),
                      ((budget // n_sources) * 1000) // n_tokens)
                  AS epochs_milli,
                (n_tokens * LEAST(CAST(4000 AS BIGINT),
                      ((budget // n_sources) * 1000) // n_tokens)) // 1000
                  AS sampled_tokens
         FROM st CROSS JOIN tot ORDER BY source""",
    // Same count tables, same single-division p/q, same micro-nat term
    // lattice (FLOOR half-up on identical doubles), BIGINT total — the
    // e-notation float literals keep both parsers in DOUBLE, never
    // DECIMAL.
    // Same keep rule as dedup_exact_keep's oracle (MIN_BY on the md5
    // group); COUNTs/SUMs cast to BIGINT, ppm by integer division.
    "mix_dedup_adjusted_weights" ->
      """WITH raw AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
                      FROM documents GROUP BY source),
         keep AS (SELECT MIN_BY(source, doc_id) AS source
                  FROM documents GROUP BY md5(text)),
         kept AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept
                  FROM keep GROUP BY source),
         st AS (SELECT r.source, r.n_docs, COALESCE(k.n_kept, 0) AS n_kept
                FROM raw r LEFT JOIN kept k ON k.source = r.source),
         tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t_raw,
                        CAST(SUM(n_kept) AS BIGINT) AS t_kept
                 FROM st)
         SELECT source, n_docs, n_kept,
                CAST((n_docs * 1000000) // t_raw AS BIGINT) AS w_raw_ppm,
                CAST((n_kept * 1000000) // t_kept AS BIGINT) AS w_dedup_ppm,
                CAST((n_kept * 1000000) // t_kept
                     - (n_docs * 1000000) // t_raw AS BIGINT) AS shift_ppm
         FROM st CROSS JOIN tot ORDER BY source""",
    // Same lattice rule, same exact-isqrt fix-up; every SUM casts back to
    // BIGINT so the comparer sees long (DuckDB SUM(BIGINT) is HUGEINT).
    "mix_temperature_weights" ->
      """WITH st AS (
           SELECT source,
                  CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT)
                    AS n_tokens
           FROM documents GROUP BY source),
         tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM st),
         cc AS (SELECT source, n_tokens,
                       n_tokens // GREATEST(1, tot // 100000) AS c
                FROM st CROSS JOIN tot),
         r0t AS (SELECT *,
                   CAST(FLOOR(SQRT(CAST(c AS DOUBLE) * 1000000.0))
                     AS BIGINT) AS r0
                 FROM cc),
         rr AS (SELECT source, n_tokens, c,
                       r0 - CAST(r0 * r0 > c * 1000000 AS INTEGER)
                          + CAST((r0 + 1) * (r0 + 1) <= c * 1000000
                                 AS INTEGER) AS r
                FROM r0t),
         sums AS (SELECT CAST(SUM(c) AS BIGINT) AS s1,
                         CAST(SUM(c * c) AS BIGINT) AS s2,
                         CAST(SUM(r) AS BIGINT) AS sr
                  FROM rr)
         SELECT source, n_tokens,
                CAST((c * 1000000) // s1 AS BIGINT) AS w_t1_ppm,
                CAST((c * c * 1000000) // s2 AS BIGINT) AS w_t05_ppm,
                CAST((r * 1000000) // sr AS BIGINT) AS w_t2_ppm
         FROM rr CROSS JOIN sums ORDER BY source""",
    "mix_source_kl" ->
      """WITH cst AS (
           SELECT source, token, COUNT(*) AS c_st
           FROM (SELECT source, unnest(STRING_SPLIT(text, ' ')) AS token
                 FROM documents)
           GROUP BY source, token),
         ct AS (SELECT token, CAST(SUM(c_st) AS BIGINT) AS c_t
                FROM cst GROUP BY token),
         ns AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s,
                       COUNT(*) AS n_vocab
                FROM cst GROUP BY source),
         n AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n FROM ct),
         terms AS (
           SELECT cst.source, n_s, n_vocab,
                  CAST(FLOOR((CAST(c_st AS DOUBLE) / n_s) *
                       LN((CAST(c_st AS DOUBLE) / n_s) /
                          (CAST(c_t AS DOUBLE) / n)) *
                       1000000.0e0 + 0.5e0) AS BIGINT) AS term_micro
           FROM cst JOIN ct USING (token) JOIN ns USING (source)
                CROSS JOIN n)
         SELECT source, MAX(n_s) AS n_tokens, MAX(n_vocab) AS n_vocab,
                CAST(SUM(term_micro) AS BIGINT) AS kl_micro,
                CAST(CAST(SUM(term_micro) AS BIGINT) AS DOUBLE)
                  / 1000000.0e0 AS kl_nats
         FROM terms GROUP BY source ORDER BY source""",
    "mix_weighted_sample" ->
      s"""SELECT doc_id, source, lang FROM documents
         WHERE substr(md5(text), 1, 1) <
               (CASE WHEN source IN ($heavySourcesSql)
                     THEN '4' ELSE 'c' END)
         ORDER BY doc_id""",
    "mix_source_rates" ->
      s"""SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN substr(md5(text), 1, 1) <
                     (CASE WHEN source IN ($heavySourcesSql)
                           THEN '4' ELSE 'c' END)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(SUM(CASE WHEN substr(md5(text), 1, 1) <
                     (CASE WHEN source IN ($heavySourcesSql)
                           THEN '4' ELSE 'c' END)
                     THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS keep_rate
         FROM documents GROUP BY source ORDER BY source"""
  )
}
