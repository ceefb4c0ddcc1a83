package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextHashes
import Tables._

/** Text-analysis extensions over the `documents` table (training-data
  * pipeline operators, SURVEY.md §7 step 6): quality scoring, token
  * statistics, language-ID heuristic, fingerprinting, corpus rollups.
  *
  * All token math uses integer/string operations only (exact cross-engine);
  * ratios are single IEEE divisions of exact integers. At 100 TB every query
  * is embarrassingly parallel per document (narrow map) + one small
  * aggregation — no wide shuffle except the final rollup groupBy.
  */
object TextQueries {

  // Token array, distinct-token array, stopword subset — shared fragments.
  private val toks = "split(text, ' ')"
  private val stopFilter =
    s"filter($toks, t -> t = 'the' OR t = 'a' OR t = 'of')"

  // Hash replays (FNV-1a 64 in HUGEINT mod 2^64, signed wrap) live in the
  // shared OracleSql object — DedupQueries' promoted hash oracles use the
  // identical fragments.
  import OracleSql.{fnvSql, signedSql}

  // PII patterns (public C4/Dolma-style scrub shapes), restricted to the
  // Java∩RE2 regex dialect both engines implement identically. Canonical
  // single-backslash form — used verbatim by the Column API and DuckDB
  // (whose quoted literals are raw), doubled via sqlEsc for Spark SQL
  // literals (which process backslash escapes).
  private[graft] val PiiEmail =
    """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  // No '.' in the phone class: dotted digit runs are IPv4s (and version
  // strings), and letting the phone pass eat them would double-count every
  // IP and mis-attribute the mask.
  private[graft] val PiiPhone = """\+?[0-9][0-9() -]{7,}[0-9]"""
  private[graft] val PiiIpv4 =
    """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"""
  private def sqlEsc(re: String): String = re.replace("\\", "\\\\")

  /** Masks email → phone → IPv4 (fixed order — the phone pattern would
    * otherwise match digit runs inside a longer not-yet-masked hit) with
    * `<PII>`. Shared by the gate query and the fixture spec.
    */
  private[graft] def piiScrub(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, lit(PiiEmail), lit("<PII>")),
        lit(PiiPhone), lit("<PII>")),
      lit(PiiIpv4), lit("<PII>"))

  val queries: Map[String, Q] = Map(
    // Quality scoring: length / word / stopword-ratio features
    "text_quality" -> ((s, dir) =>
      load(s, dir, "documents").select(
        col("doc_id"),
        expr(s"cast(size($toks) as bigint)").as("n_words"),
        expr(s"cast(size($stopFilter) as bigint)").as("n_stop"),
        (expr(s"cast(size($stopFilter) as double)") /
          expr(s"size($toks)")).as("stop_ratio"),
        (expr("cast(length(replace(text, ' ', '')) as double)") /
          expr(s"size($toks)")).as("avg_word_len"))
        .orderBy(col("doc_id"))),

    // Token counting: counts, vocabulary size, type-token ratio
    "text_token_counts" -> ((s, dir) =>
      load(s, dir, "documents").select(
        col("doc_id"),
        col("n_chars"),
        expr(s"cast(size($toks) as bigint)").as("n_tokens"),
        expr(s"cast(size(array_distinct($toks)) as bigint)").as("n_distinct"),
        (expr(s"cast(size(array_distinct($toks)) as double)") /
          expr(s"size($toks)")).as("ttr"))
        .orderBy(col("doc_id"))),

    // LM-based quality scoring (the CCNet/Gopher-style perplexity-proxy
    // filter, distributed): train a unigram + add-one-smoothed bigram LM
    // on the corpus itself, then score every document by its mean token
    // log-probability under each. Low-probability docs are the gibberish/
    // boilerplate tail a curation pipeline drops. All counts are exact
    // integers; the only floats are the final LN/AVG (6dp-rounded both
    // sides). Scale: two count aggregations (map-side partial) + two
    // count-table joins — the count tables grow with VOCABULARY (Heaps'
    // law), not corpus size, and AQE picks broadcast vs shuffle join as
    // that size dictates; no join is forced broadcast here.
    "text_lm_score" -> ((s, dir) =>
      lmScores(s, dir)
        .select(col("doc_id"), col("n_tokens"),
          col("uni_logprob"), col("bi_logprob"))
        .orderBy(col("doc_id"))),

    // CCNet-style perplexity bucketing: rank every document by its LM
    // score WITHIN its language and split into head/middle/tail terciles
    // (CCNet trains a per-language LM and keeps the head/middle buckets;
    // public technique). Ranking key is the unigram log-prob (never null,
    // unlike the bigram score on 1-token docs) with doc_id as the
    // deterministic tie-break. Scale: the LM scoring plan plus one window
    // partitioned BY LANGUAGE — bounded partitions (languages), each
    // sorted locally; no global sort.
    // RHO-style learnability selection (Lin et al. 2024, "Rho-1: Not All
    // Tokens Are What You Need" — public technique, adapted to document
    // granularity): score each doc by its EXCESS log-probability under
    // the stronger reference LM vs the base LM (here: the add-one
    // bigram model vs the unigram model, both corpus-trained), and keep
    // the top third per language — the docs the stronger model finds
    // most "learnable" relative to the base. Selection is the exact
    // integer rule rnk·3 ≤ n_lang on a per-language window (bounded
    // partitions, never global); excess is a deterministic difference
    // of two already-6dp-rounded scores, and docs with no bigram score
    // (1-token) order NULLS LAST identically on both engines. Scale:
    // the LM scoring plan (vocabulary-sized count tables) plus one
    // language-partitioned window.
    "curation_rho_selection" -> ((s, dir) => {
      // lang rides the lmScores per-doc aggregation (carry) — the old
      // re-scan + corpus-sized doc_id join is gone (round 15).
      val sc = lmScores(s, dir, carry = Seq("lang"))
        .withColumn("excess", col("bi_logprob") - col("uni_logprob"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("excess").desc_nulls_last, col("doc_id"))
      val cw = Window.partitionBy(col("lang"))
      sc.withColumn("rnk", row_number().over(w))
        .withColumn("n_lang", count(lit(1)).over(cw))
        .filter(col("rnk") * 3 <= col("n_lang"))
        .select(col("doc_id"), col("lang"), col("uni_logprob"),
          col("bi_logprob"), col("excess"),
          col("rnk").cast("bigint").as("rnk"))
        .orderBy(col("doc_id"))
    }),

    "curation_lm_buckets" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("uni_logprob").desc, col("doc_id"))
      lmScores(s, dir, carry = Seq("lang"))
        .withColumn("tercile", ntile(3).over(w))
        .select(col("doc_id"), col("lang"), col("uni_logprob"),
          element_at(lit(Array("head", "middle", "tail")),
            col("tercile")).as("bucket"))
        .orderBy(col("doc_id"))
    }),

    // DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    // Optimizing Data Mixtures Speeds Up Language Model Pretraining" —
    // public technique, fixed-proxy variant): each source's mixture
    // weight grows by a multiplicative-weights update on its clipped
    // per-domain excess loss (the same bi-vs-unigram excess that
    // curation_rho_selection ranks on, clipped at 0 per doc, averaged
    // per source). The exp(η·λ) EG step is replaced by its first-order
    // multiplier (1 + η·λ) capped at 2× — the classic multiplicative-
    // weights form (Arora-Hazan-Kale survey, public) — so the whole
    // schedule is exact BIGINT arithmetic: per-doc excess quantized to
    // micro-nats (floor(x·1e6+0.5) on the identical 6dp-rounded doubles
    // both engines compute), weights renormalized to integer ppm after
    // every step. With the loss vector fixed, DoremiSteps plays the
    // sharpness role the proxy-model re-estimation plays in the real
    // loop. Scale: the corpus is scanned ONCE into the bounded
    // per-source table (map-side-partial agg), which is then collected —
    // a MODEL-sized frame (#sources rows; the same bounded-cardinality
    // contract every mix_* query's per-source output rests on, and the
    // same bounded-collect discipline as the KMeans centroids) — and the
    // MW schedule runs on the driver in the identical exact BIGINT
    // arithmetic. Round-14 measured why NOT to localCheckpoint here:
    // Dataset.localCheckpoint materializes via df.rdd WITHOUT AQE, so
    // the checkpoint paid a no-AQE evaluation of the whole lmScores join
    // chain (7.4 s at sf1 where the AQE plan costs ~5.6 s); the collect
    // is a plain action, fully AQE-planned, and replaces 2·DoremiSteps
    // scheduler round-trips with integer ops on #sources longs. The
    // final allocation decomposes as (t div 1e6)·α + ((t mod 1e6)·α)
    // div 1e6 so a 100 TB token total (~3e13) never overflows a BIGINT.
    "mix_doremi_weights" -> ((s, dir) => {
      val ex = lmScores(s, dir, carry = Seq("source"))
        .withColumn("ex_micro",
          greatest(lit(0L),
            floor(coalesce(col("bi_logprob") - col("uni_logprob"),
              lit(0.0)) * lit(1000000.0) + lit(0.5)).cast("long")))
      val per = ex.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("ex_micro")).as("sum_ex"))
        .withColumn("lambda_micro", expr("sum_ex div n_docs"))
        .withColumn("m", expr("1000L + least(lambda_micro div 1000, 1000L)"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("lambda_micro"), col("m"))
        .collect()
      require(per.length <= 100000,
        s"mix_doremi_weights: ${per.length} sources exceeds the bounded " +
          "per-source collect contract (sources are provenance labels, " +
          "not data rows)")
      val totTokens = per.iterator.map(_.getLong(2)).sum
      val nSources = per.length.toLong
      val m = per.map(_.getLong(4))
      // exact-integer MW loop — op-for-op the SQL chain the oracle
      // unrolls (nonneg BIGINT div == Long division)
      var alpha = Array.fill(per.length)(1000000L / nSources)
      for (_ <- 1 to DoremiSteps) {
        val raw = Array.tabulate(per.length)(i => alpha(i) * m(i))
        val sraw = raw.sum
        alpha = raw.map(r => (r * 1000000L) / sraw)
      }
      import s.implicits._
      per.toSeq.zipWithIndex.map { case (r, i) =>
        val a = alpha(i)
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), a,
          (totTokens / 1000000L) * a + ((totTokens % 1000000L) * a) / 1000000L)
      }.toDF("source", "n_docs", "n_tokens", "lambda_micro", "weight_ppm",
          "alloc_tokens")
        .orderBy(col("source"))
    }),

    // PII scrub (the C4/Dolma-style masking pass a public-web corpus runs
    // before training): count and mask email / phone / IPv4 patterns per
    // document. The gated synthetic corpus is digit-free, so every count
    // is 0 and clean_len == n_chars there (the oracle still replays the
    // full regex pipeline bit-exactly); the masking semantics themselves
    // are pinned on a constructed fixture (TextLmSpec-style) in
    // TextPiiSpec. Patterns stay in the Java∩RE2 common dialect so Spark
    // and DuckDB agree. Scale: narrow per-row map, no shuffle at all
    // except the final ORDER BY for the gate.
    "text_pii_scrub" -> ((s, dir) =>
      load(s, dir, "documents").select(
        col("doc_id"),
        expr(s"cast(regexp_count(text, '${sqlEsc(PiiEmail)}') as bigint)")
          .as("n_emails"),
        expr(s"cast(regexp_count(text, '${sqlEsc(PiiPhone)}') as bigint)")
          .as("n_phones"),
        expr(s"cast(regexp_count(text, '${sqlEsc(PiiIpv4)}') as bigint)")
          .as("n_ips"),
        length(piiScrub(col("text"))).cast("long").as("clean_len"))
        .orderBy(col("doc_id"))),

    // Language-ID heuristic: stopword-profile scoring with deterministic
    // argmax tie-break (n-gram/stopword profiling — public technique)
    "text_langid" -> ((s, dir) =>
      load(s, dir, "documents").select(
        col("doc_id"),
        expr(s"cast($langScoreEn as bigint)").as("score_en"),
        expr(s"cast($langScoreEs as bigint)").as("score_es"),
        expr(s"cast($langScoreFr as bigint)").as("score_fr"),
        expr(langCase).as("lang_pred"))
        .orderBy(col("doc_id"))),

    // Language-ID quality audit: the confusion matrix of the n-gram
    // heuristic against the corpus's labeled `lang` column, with exact
    // integer recall per cell ((n·1e6) div row total) — the evaluation
    // artifact that decides whether the cheap classifier is good enough
    // to route documents. The prediction rule is the SAME hoisted
    // expression text_langid uses (and the oracle shares the SQL
    // fragment), so the audit cannot drift from the classifier. Scale:
    // one corpus scan into a ≤|langs|²-row aggregate, then a broadcast
    // of the per-lang totals.
    "text_langid_confusion" -> ((s, dir) => {
      val cnt = load(s, dir, "documents")
        .groupBy(col("lang"), expr(langCase).as("lang_pred"))
        .agg(count(lit(1)).as("n"))
      val tot = cnt.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
      cnt.join(broadcast(tot), "lang")
        .select(col("lang"), col("lang_pred"), col("n"), col("n_lang"),
          expr("(n * 1000000L) div n_lang").as("p_ppm"))
        .orderBy(col("lang"), col("lang_pred"))
    }),

    // BPE-ish regex tokenization (word / number / other classes) — the
    // subword-precursor token accounting a training pipeline budgets with
    "text_bpe_tokens" -> ((s, dir) =>
      load(s, dir, "documents").select(
        col("doc_id"),
        expr("cast(size(regexp_extract_all(text, '[A-Za-z]+', 0)) as bigint)")
          .as("n_word"),
        expr("cast(size(regexp_extract_all(text, '[0-9]+', 0)) as bigint)")
          .as("n_num"),
        expr("cast(size(regexp_extract_all(text, '[^A-Za-z0-9 ]', 0)) as bigint)")
          .as("n_other"))
        .orderBy(col("doc_id"))),

    // Corpus rollup by (source, lang) — ingestion-monitoring shape
    "text_corpus_stats" -> ((s, dir) =>
      scan(s, dir, "documents").groupBy(col("source"), col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        max(col("n_chars")).as("max_chars"))
        .orderBy(col("source"), col("lang"))),

    // Cardinality estimation at corpus scale: per-source distinct-token
    // counts via a deterministic FNV-register HyperLogLog (m = 4096
    // registers, rsd ≈ 1.6%) — the sketch a 100 TB vocabulary audit uses
    // instead of shuffling the full token stream for COUNT(DISTINCT).
    // Promoted from the Spark-internal approx_count_distinct wrapper in
    // round 10 (VERDICT r9 #3): register index = low 12 bits of
    // fnv64(token), rank ρ = 1 + trailing zeros of hash bits 12..62
    // (bit_count((v & -v) − 1) — pure integer, identical in DuckDB), the
    // per-(source, idx) MAX(ρ) merges map-side and order-free, and the
    // per-source register sum Σ 2^(50−min(ρ,50)) is an exact BIGINT fold
    // (≤ 4096·2^50 = 2^62 — no overflow). Only then one float estimate:
    // Flajolet's α·m²·2^50/S with linear counting below 2.5m — identical
    // IEEE +,·,/,ln chains on both engines, 6dp-floored ⇒ bit-exact.
    // ≤5% relative error vs the exact count pinned in RankMixSpec.
    "text_vocab_sketch" -> ((s, dir) =>
      load(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
        .select(col("source"), expr("fnv64(token)").as("w"))
        .select(col("source"),
          expr("w & 4095L").as("idx"),
          expr("shiftright(w, 12) & 2251799813685247L").as("v"))
        .select(col("source"), col("idx"),
          expr("IF(v = 0L, 52, bit_count((v & -v) - 1) + 1)").as("rho"))
        .groupBy(col("source"), col("idx"))
        .agg(max(col("rho")).as("r"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("used"),
          sum(expr("shiftleft(1L, 50 - least(r, 50))")).as("s_used"))
        .select(col("source"),
          col("used").cast("bigint").as("n_reg_used"),
          (col("s_used") +
            (lit(4096L) - col("used")) * lit(1125899906842624L))
            .as("reg_sum"),
          (lit(4096L) - col("used")).as("z"))
        .select(col("source"), col("n_reg_used"), col("reg_sum"),
          expr("""floor((CASE
              WHEN (0.7213e0 / (1.0e0 + 1.079e0 / 4096.0e0)) * 4096.0e0
                   * 4096.0e0 * 1125899906842624.0e0 / reg_sum
                     <= 10240.0e0 AND z > 0L
              THEN 4096.0e0 * ln(4096.0e0 / z)
              ELSE (0.7213e0 / (1.0e0 + 1.079e0 / 4096.0e0)) * 4096.0e0
                   * 4096.0e0 * 1125899906842624.0e0 / reg_sum
            END) * 1000000.0e0 + 0.5e0) / 1000000.0e0""").as("n_vocab_est"))
        .orderBy(col("source"))),

    // Corpus-slice fingerprints via the native simhash_agg
    // TypedImperativeAggregate: one 64-bit SimHash per (source, lang)
    // slice, votes merged associatively (map-side combine; shuffle is 64
    // ints/group regardless of slice size). Bit-exact oracle (the FNV +
    // vote math replays in DuckDB); group-equals-document-level
    // equivalence additionally pinned by SimHashAggSpec.
    "text_corpus_fingerprint" -> ((s, dir) => {
      load(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(expr(s"simhash_agg($toks)").as("corpus_simhash"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("source"), col("lang"))
    }),

    // Token-budget shard packing: cut the corpus (doc_id order) into
    // ~2048-token training shards via the distributed two-phase prefix sum
    // (operators/Pack.scala) — NO single-partition window anywhere; the
    // oracle's naive global window computes the identical integers.
    "text_pack_shards" -> ((s, dir) =>
      graft.operators.Pack.packShards(
        load(s, dir, "documents")
          .select(col("doc_id"), expr(s"cast(size($toks) as bigint)").as("n_tokens")),
        "doc_id", "n_tokens", budget = PackBudget)
        .select(col("doc_id"), col("n_tokens"), col("shard_id"))
        .orderBy(col("doc_id"))),

    // Packing-efficiency audit over the shard assignment: per-shard doc
    // count, token total, and fill factor vs the budget in exact integer
    // ppm — the waste report that decides whether the packing budget is
    // right-sized (fill can exceed 1e6: a document crossing a budget
    // boundary belongs to the shard where it started, by the packShards
    // contract). Reuses the registered text_pack_shards, so the audit
    // can never drift from the packer; one #shards-sized agg on top.
    "text_pack_efficiency" -> ((s, dir) =>
      queries("text_pack_shards")(s, dir)
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .select(col("shard_id"), col("n_docs"), col("sum_tokens"),
          expr(s"(sum_tokens * 1000000L) div ${PackBudget}L").as("fill_ppm"))
        .orderBy(col("shard_id"))),

    // Context-window chunking for LLM training: each document's token
    // stream is cut into fixed-size windows (CHUNK=32 tokens) with stride
    // 24 (8-token overlap so no next-token context is lost at a boundary),
    // the sequence-preparation step between curation and pack_shards.
    // Narrow per-doc map + explode — NO shuffle at any corpus size; the
    // only exchange is the output sort. Tail windows shorter than 8 tokens
    // are dropped unless they are the document's only chunk (every doc
    // must survive into training). All arithmetic is integer-exact.
    "text_train_chunks" -> ((s, dir) =>
      load(s, dir, "documents")
        .select(col("doc_id"), expr(toks).as("tokens"),
          expr(s"cast(size($toks) as bigint)").as("n"))
        .select(col("doc_id"), col("tokens"), col("n"),
          explode(expr("sequence(0, cast((n - 1) div 24 as int))")).as("k"))
        .select(col("doc_id"),
          col("k").cast("long").as("chunk_id"),
          (col("k").cast("long") * 24 + 1).as("start_tok"),
          least(lit(32L), col("n") - col("k").cast("long") * 24)
            .as("chunk_len"),
          col("tokens"))
        .filter(col("chunk_len") >= 8 || col("chunk_id") === 0)
        .select(col("doc_id"), col("chunk_id"), col("start_tok"),
          col("chunk_len"),
          expr("array_join(slice(tokens, cast(start_tok as int), " +
            "cast(chunk_len as int)), ' ')").as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_id"))),

    // Document-frequency vocabulary: top-100 tokens by how many documents
    // contain them — the vocab-building / stopword-discovery pass. Explode
    // of per-doc DISTINCT tokens, partial-agg counts, TakeOrdered top-k.
    "text_doc_freq" -> ((s, dir) =>
      load(s, dir, "documents")
        .select(explode(expr(s"array_distinct($toks)")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("token")).limit(100)),

    // Retrieval-style document chunking: fixed-size token windows with
    // overlap (size 32, stride 24), last chunk right-aligned so no
    // trailing text is dropped and no chunk is a strict suffix of its
    // predecessor — the RAG-ingestion twin of text_train_chunks (which
    // PACKS many docs into one window; this SPLITS one doc into many).
    // Purely row-local: one sequence + explode per document, no shuffle
    // at all until the output sort — embarrassingly parallel at 100 TB.
    "text_rag_chunks" -> ((s, dir) =>
      load(s, dir, "documents")
        .select(col("doc_id"), expr(toks).as("tk"))
        .withColumn("len", expr("size(tk)"))
        .withColumn("maxo", expr(s"greatest(0, len - $RagChunkTokens)"))
        .select(col("doc_id"), col("tk"), col("len"),
          explode(expr(s"""array_distinct(concat(
            sequence(0, maxo, $RagChunkStride), array(maxo)))""")).as("off"))
        .select(col("doc_id"), col("off").cast("long").as("off"),
          expr(s"array_join(slice(tk, off + 1, $RagChunkTokens), ' ')")
            .as("chunk"),
          expr(s"cast(least($RagChunkTokens, len - off) as bigint)")
            .as("n_tokens"))
        .orderBy(col("doc_id"), col("off"))),

    // Per-document unigram (token) entropy in exact micro-nats — the
    // gibberish/boilerplate signal quality filters threshold on (low
    // entropy = repeated tokens, near-max = token soup). Same micro-nat
    // lattice discipline as mix_source_kl: each term (tf/len)·ln(len/tf)
    // is one IEEE chain on identical exact-integer inputs, quantized
    // half-up to a long, and the per-doc total is an order-free SUM of
    // longs. Scale: one corpus explode to (doc,token) counts with
    // map-side partials, then a per-doc-partitioned window (bounded by a
    // document's distinct-token count, never global) and a re-agg on the
    // same key — two keyed exchanges total, no joins.
    "text_doc_entropy" -> ((s, dir) => {
      val w = Window.partitionBy(col("doc_id"))
      // load's doc_id spread also serves the (doc_id, token) grouping,
      // the window partition and the re-agg (doc_id prefixes all three),
      // so it replaces both of their keyed exchanges (3 exchanges -> 1).
      load(s, dir, "documents")
        .select(col("doc_id"), explode(expr(toks)).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("len", sum(col("tf")).over(w))
        .withColumn("term_micro",
          floor((col("tf").cast("double") / col("len")) *
            log(col("len").cast("double") / col("tf")) *
            lit(1000000.0) + lit(0.5)).cast("long"))
        .groupBy(col("doc_id"))
        .agg(max(col("len")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(col("term_micro")).as("entropy_micro"))
        .withColumn("entropy_nats",
          col("entropy_micro").cast("double") / lit(1000000.0))
        .orderBy(col("doc_id"))
    }),

    // The first distributed BPE-training step: adjacent character-pair
    // frequencies across the whole corpus (the argmax pair is the merge a
    // BPE trainer would apply). Two narrow explodes through the native
    // char_windows kernel, one partial-agg count, TakeOrdered top-20.
    "text_bpe_merge_pairs" -> ((s, dir) =>
      load(s, dir, "documents")
        .select(explode(expr(toks)).as("word"))
        .select(explode(expr("char_windows(word, 2, 1)")).as("pair"))
        .groupBy(col("pair"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(20)),

    // Document fingerprinting via native Catalyst expressions (FNV-64 +
    // winnowing + SimHash) — all three replay bit-exactly in the oracle
    "text_fingerprint" -> ((s, dir) => {
      load(s, dir, "documents").select(
        col("doc_id"),
        expr("fnv64(text)").as("fp64"),
        expr("cast(size(winnow_fingerprint(text)) as bigint)").as("n_winnow"),
        expr(s"simhash64($toks)").as("simhash"))
        .orderBy(col("doc_id"))
    }),

    // EXACT frequent tokens (support ≥ n/256) via the scalable two-phase
    // shape: phase 1 runs the native Misra-Gries aggregate
    // (graft.functions.MisraGriesAgg, capacity 512 — mergeable partial
    // summaries, so the token stream itself never shuffles; each task
    // ships one ≤512-entry summary) and the corpus token count in ONE
    // scan; phase 2 recounts ONLY the candidates exactly (an In-set
    // filter — ≤512 keys — then a tiny keyed agg) and applies the exact
    // integer support threshold cnt*256 ≥ n. MG's deterministic guarantee
    // (undercount ≤ n/513 < n/256) makes the candidate set a superset of
    // the true answer under ANY partitioning, so the final output is
    // exact and bit-checks against the brute-force oracle — the classic
    // sketch-then-verify pattern that replaces a full-vocabulary shuffle
    // with two narrow scans at 100 TB. The collected candidate row is
    // bounded model-style bookkeeping (≤512 strings + one long), like the
    // k-means centroids.
    "text_heavy_hitters" -> ((s, dir) => {
      val tk = load(s, dir, "documents")
        .select(explode(expr(toks)).as("tok"))
      val sk = tk.agg(expr("mg_candidates(tok, 512)").as("cs"),
        count(lit(1)).as("n")).head()
      val cand = sk.getSeq[String](0)
      val n = sk.getLong(1)
      val base = if (cand.isEmpty) tk.filter(lit(false))
        else tk.filter(col("tok").isin(cand: _*))
      base.groupBy(col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 256 >= lit(n))
        .orderBy(col("cnt").desc, col("tok"))
    }),

    // BPE tokenizer TRAINING (Sennrich et al. 2016): the full iterative
    // merge-table learner, not just the first pair count
    // (text_bpe_merge_pairs). Corpus-scale work happens ONCE — the word
    // frequency groupBy; every merge round then runs over the cached
    // VOCABULARY-sized (word, cnt) table: count adjacent symbol pairs
    // weighted by word frequency (partial agg), take the argmax merge
    // (count desc, pair asc — deterministic; a 1-row driver collect per
    // round, bounded bookkeeping like the Lloyd iterations), and rewrite
    // each word's symbol array with a leftmost-greedy fold (exactly BPE's
    // merge application; a merged symbol can never re-match as the left
    // side mid-pass since L+R ≠ L for nonempty R). At 100 TB the loop
    // cost is O(merges × vocab), independent of corpus size — the reason
    // real BPE trainers work from a word-count table. Output = the
    // ranked merge table (the trained tokenizer artifact). Oracle-green
    // since round 9: the whole loop replays in DuckDB via the
    // doubled-space replace identity (bpeTrainCtes); ALSO pinned against
    // a naive single-node reference trainer in BpeTrainSpec.
    "text_bpe_train" -> ((s, dir) =>
      bpeTrain(s, dir).orderBy(col("rank"))),

    // BPE ENCODE with the trained table — the inference half closing the
    // tokenizer loop: train on the corpus, then tokenize the corpus with
    // the learned merges. The merge table (≤ BpeMerges pairs — the model
    // artifact) is flattened into one space-joined literal (symbols come
    // from whitespace-split words, so a space can never occur inside one)
    // and baked into the native bpe_apply expression
    // (graft.functions.BpeApply): the per-word encode is a whole-stage-
    // codegen static call — no join against a merge table, no interpreted
    // lambda chain, the corpus is scanned once. Output per doc: word
    // count, char count and the BPE token count — the sequence-length
    // audit a tokenization pipeline runs before packing. Oracle-green
    // since round 9 (train CTEs + per-word replace chain in SQL); the
    // encode is ALSO pinned in BpeEncodeSpec: equivalence with the
    // trainer's per-round fold chain (two independent algorithms),
    // lossless segmentation (concat of tokens rebuilds the word), and
    // count bounds.
    "text_bpe_encode" -> ((s, dir) => {
      val flat = bpeTrain(s, dir).orderBy(col("rank")).collect()
        .flatMap(r => Seq(r.getString(1), r.getString(2))).mkString(" ")
      load(s, dir, "documents")
        .select(col("doc_id"), explode(expr(toks)).as("w"))
        .select(col("doc_id"), col("w"),
          call_function("bpe_apply", col("w"), lit(flat)).as("enc"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("bigint").as("n_words"),
          sum(length(col("w"))).cast("bigint").as("n_chars"),
          sum(size(col("enc"))).cast("bigint").as("n_bpe"))
        .orderBy(col("doc_id"))
    }),

    // Count-min sketch (Cormode & Muthukrishnan 2005) over the token
    // stream, plus its accuracy audit: build the d×w counter matrix with
    // FNV row hashes, then for the top-CmsTopK tokens compare the CMS
    // point estimate (min over the d counters) against the exact count —
    // est ≥ exact always, and the overcount column IS the collision mass.
    // Unlike the KLL/HLL wrappers (Spark-internal state ⇒ rows-only),
    // every CMS cell is a deterministic integer, so the whole sketch
    // replays in SQL bit-exactly. Scale: the counter matrix is d×w = 2048
    // cells at ANY corpus size and partial aggregation builds it map-side
    // (each task ships ≤2048 cells — this merge IS the sketch's
    // associativity); the exact top-k recount is the same vocab-keyed agg
    // text_doc_freq runs. The probe side is CmsTopK×d rows — broadcast.
    "text_cms_counts" -> ((s, dir) => {
      val cellExpr = (tokCol: String) =>
        s"""transform(sequence(0, ${CmsDepth - 1}),
             r -> named_struct('r', r,
               'c', pmod(fnv64(concat(cast(r as string), '|', $tokCol)),
                         ${CmsWidth}L)))"""
      val tk = load(s, dir, "documents")
        .select(explode(expr(toks)).as("tok"))
      // Cells from the VOCAB aggregation, not raw token instances: count
      // each distinct token once (the same map-side-partial groupBy the
      // top-k needs anyway), then sum those counts into cells — the cell
      // explode runs over |vocab|×d rows instead of |tokens|×d. Same
      // integers by associativity; A/B'd via the round-14 dual twin
      // (bench/dualcheck_r14_sf10.json): 68 s → 3.4 s at sf10, where the
      // token stream is 100M+ instances but the vocabulary is ~100k. The
      // raw-instance form lives on as the independence twin
      // (DualCheckTwins.cmsCountsRaw).
      val vocab = tk.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
      val cells = vocab
        .select(col("exact_cnt"), explode(expr(cellExpr("tok"))).as("rc"))
        .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
        .agg(sum(col("exact_cnt")).as("cnt"))
      val topk = vocab
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
    }),

    // Per-document n-gram novelty — the memorization/duplication audit of
    // Lee et al. 2022's analysis sections: what fraction of a document's
    // DISTINCT word trigrams appear in no other document? novelty 1.0 =
    // fully original; 0.0 = every shingle is shared (boilerplate or a
    // near-dup). Exact integers + one final IEEE division; docs too short
    // for a trigram surface with NULL novelty rather than silently
    // dropping.
    //
    // Round-16 shape (guide §2.3/§2.4): the old plan joined the shingle
    // stream back to its own df table — THREE corpus scans (sh replayed
    // for the join; no ReuseExchange across differently-projected
    // subtrees) and two gram-keyed exchanges of raw (doc_id, g) rows.
    // Both halves of the output are recoverable without the join-back:
    // n_shingles is ROW-LOCAL (size of the distinct-gram array — exactly
    // what the explode counted per doc), and a novel gram (df = 1) lives
    // in exactly ONE document, so min(doc_id) riding the df aggregation
    // IS that document. One scan + explode, one gram exchange carrying
    // partially-aggregated (g, cnt, min_doc) rows instead of raw pairs,
    // then a doc-keyed count over novel grams only. Identical integers:
    // count-per-doc of exploded distinct grams == size of the distinct
    // array (0-gram docs: empty explode == size 0), and the df=1 group's
    // min(doc_id) is its only member.
    "text_ngram_novelty" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val novel = docs.select(col("doc_id"),
          explode(expr(s"array_distinct(word_ngrams($toks, 3))")).as("g"))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("d"))
        .filter(col("df") === 1)
        .groupBy(col("d").as("doc_id"))
        .agg(count(lit(1)).as("n_novel"))
      // NULL text has no shingles: 0, as the oracle's COALESCE gives
      docs.select(col("doc_id"), coalesce(
          expr(s"cast(size(array_distinct(word_ngrams($toks, 3))) as bigint)"),
          lit(0L)).as("n_shingles"))
        .join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .withColumn("novelty",
          when(col("n_shingles") > 0,
            col("n_novel").cast("double") / col("n_shingles")))
        .orderBy(col("doc_id"))
    })
  )

  // Count-min sketch shape: depth (independent FNV rows) × width. Width is
  // a power of two dividing 2^64, so the oracle's unsigned-residue mod
  // equals the engine's pmod of the signed hash (same argument as
  // CurationQueries.DsirBuckets). 2048 cells ≈ 16 KB — driver-trivial,
  // executor-trivial, and the merge is plain cell-wise addition.
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 512
  private[graft] val CmsTopK = 20

  /** Iterative BPE trainer core (shared by text_bpe_train and the encode
    * query): returns the UNSORTED merge table
    * (rank, left, right, merged, cnt). Every call trains — no result is
    * memoised across invocations, so each timed run pays for training.
    */
  private def bpeTrain(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val words = load(s, dir, "documents")
      .select(explode(expr(toks)).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    var syms = words.select(col("cnt"), split(col("w"), "").as("sy"))
      .persist()
    // no eager materialization: each round's ONE action (the argmax
    // collect) both computes the round's answer and populates the current
    // table's cache; the parent cache is released only after that action
    // has run, so no lineage is ever recomputed and no extra job is spent
    var prev: org.apache.spark.sql.DataFrame = null
    val merges = scala.collection.mutable.Buffer
      .empty[(Long, String, String, String, Long)]
    var r = 1
    var done = false
    while (r <= BpeMerges && !done) {
      val top = syms
        .filter(size(col("sy")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(sy) - 2), " +
            "i -> struct(sy[i] AS l, sy[i + 1] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (prev != null) { prev.unpersist(); prev = null }
      if (top.isEmpty) done = true
      else {
        val (l, rr, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        val m = l + rr
        merges += ((r.toLong, l, rr, m, c))
        val next = syms.withColumn("sy",
          aggregate(col("sy"), lit(Array.empty[String]),
            (acc, x) => when(size(acc) > 0 &&
                element_at(acc, size(acc)) === lit(l) && (x === lit(rr)),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(m))))
              .otherwise(concat(acc, array(x))))).persist()
        prev = syms
        syms = next
        r += 1
      }
    }
    syms.unpersist()
    if (prev != null) prev.unpersist()
    merges.toSeq.toDF("rank", "left", "right", "merged", "cnt")
  }

  // Merge rounds the BPE trainer runs (the learned tokenizer's merge-table
  // size). Small here; a production vocab would use thousands — the loop
  // cost is O(merges × vocab) either way.
  private[graft] val BpeMerges = 8

  // Shared language-ID rule (text_langid + text_langid_confusion): three
  // stopword-hit scores and the argmax-with-ties-toward-en CASE. Hoisted
  // so the classifier and its confusion audit are the same expression;
  // duckLang* are the oracle-side twins.
  private val langScoreEn =
    s"size(filter($toks, t -> t = 'the' OR t = 'and' OR t = 'of'))"
  private val langScoreEs =
    s"size(filter($toks, t -> t = 'el' OR t = 'la' OR t = 'de'))"
  private val langScoreFr =
    s"size(filter($toks, t -> t = 'le' OR t = 'les' OR t = 'du'))"
  private val langCase =
    s"""CASE WHEN $langScoreEn >= $langScoreEs
                  AND $langScoreEn >= $langScoreFr
                  AND $langScoreEn > 0 THEN 'en'
             WHEN $langScoreEs >= $langScoreFr
                  AND $langScoreEs > 0 THEN 'es'
             WHEN $langScoreFr > 0 THEN 'fr'
             ELSE 'und' END"""
  private val duckLangScores =
    """LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
           t -> t = 'the' OR t = 'and' OR t = 'of')) AS s_en,
       LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
           t -> t = 'el' OR t = 'la' OR t = 'de')) AS s_es,
       LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
           t -> t = 'le' OR t = 'les' OR t = 'du')) AS s_fr"""
  private val duckLangCase =
    """CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
            WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
            WHEN s_fr > 0 THEN 'fr'
            ELSE 'und' END"""

  // text_rag_chunks window geometry (tokens per chunk / stride between
  // chunk starts, i.e. 8-token overlap) — interpolated into the Spark
  // query AND the oracle so the two sides cannot drift.
  private val RagChunkTokens = 32
  private val RagChunkStride = 24

  // text_pack_shards token budget per shard — shared with the
  // text_pack_efficiency audit and both oracles.
  private val PackBudget = 2048L

  /** DuckDB replay of the whole BPE training loop — the round-9 promotion
    * of text_bpe_train/text_bpe_encode from rows-only to bit-exact.
    *
    * The key identity: the engine's leftmost-greedy merge fold over a
    * symbol array equals ONE left-to-right non-overlapping string
    * `replace` on the array rendered as ' sym₁  sym₂ … symₙ ' (single
    * space at each end, DOUBLE space between symbols; symbols are
    * whitespace-split word fragments, so a space can never occur inside
    * one). The pattern ' l  r ' can only match two whole adjacent
    * symbols (each side is anchored by a space a partial symbol cannot
    * provide), each match consumes one of the two separator spaces and
    * the replacement ' lr ' restores it — so back-to-back merges chain
    * exactly like the fold ([a,b,a,b] → [ab,ab], [a,a,a] → [aa,a]), and
    * the doubled-space representation is a loop invariant. Every count
    * is an exact integer and the argmax tie-break (cnt DESC, l, r) is
    * total, so seeding-free training replays round for round. The unroll
    * assumes the corpus yields all BpeMerges merges (true at every gate
    * SF; the engine stops early only when NO adjacent pair is left).
    */
  private def bpeTrainCtes: String = {
    val rounds = (1 to BpeMerges).map { k =>
      s"""p$k AS (
            SELECT sy[i] AS l, sy[i + 1] AS r, CAST(SUM(c) AS BIGINT) AS cc
            FROM (SELECT c, STRING_SPLIT(trim(s, ' '), '  ') AS sy
                  FROM s${k - 1}),
                 UNNEST(RANGE(1, LEN(sy))) AS u(i)
            GROUP BY 1, 2),
          m$k AS MATERIALIZED (
            SELECT l, r, l || r AS m, cc FROM p$k
            ORDER BY cc DESC, l, r LIMIT 1),
          s$k AS MATERIALIZED (
            SELECT c, replace(s,
              ' ' || (SELECT l FROM m$k) || '  ' || (SELECT r FROM m$k)
                  || ' ',
              ' ' || (SELECT m FROM m$k) || ' ') AS s FROM s${k - 1})"""
    }
    s"""w0 AS (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS c
          FROM (SELECT unnest(STRING_SPLIT(text, ' ')) AS w FROM documents)
          WHERE LEN(w) >= 2 GROUP BY w),
        s0 AS MATERIALIZED (
          SELECT c, ' ' || array_to_string(list_transform(
              range(1, LEN(w) + 1), i -> substr(w, i, 1)), '  ') || ' ' AS s
          FROM w0),
        """ + rounds.mkString(",\n")
  }

  // Multiplicative-weights steps for mix_doremi_weights — single constant
  // drives the engine loop AND the oracle CTE chain below.
  private val DoremiSteps = 6

  // One CTE triple per MW step: raw = α·m, the exact BIGINT total, the
  // ppm renormalization — the SQL unroll of the engine's checkpointed
  // loop (the k-means materialized-CTE pattern).
  private def doremiIterCtes: String =
    (1 to DoremiSteps).map { k =>
      val prev = if (k == 1) "a0" else s"a${k - 1}"
      s"""r$k AS (SELECT source, n_docs, n_tokens, lambda_micro, m,
                         n_sources, tot_tokens, alpha * m AS raw
                  FROM $prev),
          t$k AS (SELECT CAST(SUM(raw) AS BIGINT) AS sraw FROM r$k),
          a$k AS (SELECT source, n_docs, n_tokens, lambda_micro, m,
                         n_sources, tot_tokens,
                         (raw * 1000000) // sraw AS alpha
                  FROM r$k CROSS JOIN t$k)"""
    }.mkString(",\n")

  // LM CTE chain shared by the score and bucket oracles (single-sourced so
  // the two gates can never drift apart).
  private val lmCtes =
    """tk AS (SELECT doc_id, unnest(STRING_SPLIT(text, ' ')) AS tok
              FROM documents),
       uni AS (SELECT tok, COUNT(*) AS c1 FROM tk GROUP BY tok),
       tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n, COUNT(*) AS v
               FROM uni),
       u AS (SELECT doc_id, COUNT(*) AS n_tokens,
                    ROUND(AVG(LN(CAST(c1 AS DOUBLE) / n)), 6)
                      AS uni_logprob
             FROM tk JOIN uni USING (tok) CROSS JOIN tot
             GROUP BY doc_id),
       bg AS (SELECT doc_id, t[i] AS t1, t[i + 1] AS t2
              FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS t
                    FROM documents),
                   UNNEST(RANGE(1, LEN(t))) AS r(i)),
       bic AS (SELECT t1, t2, COUNT(*) AS c12 FROM bg GROUP BY t1, t2),
       b AS (SELECT doc_id,
                    ROUND(AVG(LN(CAST(c12 + 1 AS DOUBLE) / (c1 + v))), 6)
                      AS bi_logprob
             FROM bg JOIN bic USING (t1, t2)
                     JOIN uni ON uni.tok = bg.t1
                     CROSS JOIN tot
             GROUP BY doc_id)"""

  // (`oracleBase` rather than `oracle` so text_pack_efficiency can compose
  // the pack_shards replay verbatim — single-sourced, see below.)
  private val oracleBase: Map[String, String] = Map(
    // Brute force: the full token count table — exactly what the two-phase
    // MG sketch-then-recount avoids shuffling at scale. Integer support
    // threshold (cnt*256 ≥ n): no float compare anywhere.
    "text_heavy_hitters" ->
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok
                     FROM documents),
          c AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY tok),
          t AS (SELECT COUNT(*) AS n FROM tk)
          SELECT tok, cnt FROM c, t WHERE cnt * 256 >= n
          ORDER BY cnt DESC, tok""",
    // Same LM replay: unigram counts + add-one-smoothed bigram counts are
    // exact integers; AVG(LN(...)) carries the usual 6dp float-rounding
    // caveat (accumulation order unpinned in both engines — see the
    // DedupQueries embedding-oracle note).
    "text_lm_score" ->
      s"""WITH $lmCtes
         SELECT doc_id, n_tokens, uni_logprob, bi_logprob
         FROM u LEFT JOIN b USING (doc_id) ORDER BY doc_id""",
    // Same LM replay + the identical integer selection rule; excess is
    // the same difference of the same 6dp-rounded scores, NULLS LAST
    // spelled explicitly so 1-token docs (no bigram score) order the
    // same on both engines.
    "curation_rho_selection" ->
      s"""WITH $lmCtes,
         sc AS (
           SELECT u.doc_id, d.lang, u.uni_logprob, b.bi_logprob,
                  b.bi_logprob - u.uni_logprob AS excess
           FROM u LEFT JOIN b USING (doc_id)
           JOIN documents d ON d.doc_id = u.doc_id),
         rk AS (
           SELECT sc.*,
                  ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY excess DESC NULLS LAST, doc_id) AS rnk,
                  COUNT(*) OVER (PARTITION BY lang) AS n_lang
           FROM sc)
         SELECT doc_id, lang, uni_logprob, bi_logprob, excess,
                CAST(rnk AS BIGINT) AS rnk
         FROM rk WHERE rnk * 3 <= n_lang ORDER BY doc_id""",
    // Same ranking key and doc_id tie-break as the engine's window, so the
    // tercile assignment is deterministic in both engines even when two
    // docs share a rounded score.
    "curation_lm_buckets" ->
      s"""WITH $lmCtes,
         ranked AS (
           SELECT u.doc_id, d.lang, u.uni_logprob,
                  NTILE(3) OVER (PARTITION BY d.lang
                                 ORDER BY u.uni_logprob DESC, u.doc_id)
                    AS tercile
           FROM u JOIN documents d ON d.doc_id = u.doc_id)
         SELECT doc_id, lang, uni_logprob,
                (['head', 'middle', 'tail'])[tercile] AS bucket
         FROM ranked ORDER BY doc_id""",
    // Same LM replay, then the exact-integer MW schedule: micro-nat
    // quantization of the identical excess doubles, per-source BIGINT
    // stats (SUM casts close DuckDB's HUGEINT promotion), and the
    // DoremiSteps-unrolled renormalization chain from doremiIterCtes.
    // st is MATERIALIZED so the LM chain runs once, not per step.
    "mix_doremi_weights" ->
      s"""WITH $lmCtes,
         sc AS (
           SELECT u.doc_id, d.source, u.n_tokens,
                  GREATEST(CAST(0 AS BIGINT),
                    CAST(FLOOR(COALESCE(b.bi_logprob - u.uni_logprob,
                           0.0e0) * 1000000.0e0 + 0.5e0) AS BIGINT))
                    AS ex_micro
           FROM u LEFT JOIN b USING (doc_id)
           JOIN documents d ON d.doc_id = u.doc_id),
         st AS MATERIALIZED (
           SELECT source, COUNT(*) AS n_docs,
                  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                  CAST(SUM(ex_micro) AS BIGINT) AS sum_ex
           FROM sc GROUP BY source),
         st2 AS (
           SELECT source, n_docs, n_tokens,
                  sum_ex // n_docs AS lambda_micro,
                  1000 + LEAST((sum_ex // n_docs) // 1000,
                               CAST(1000 AS BIGINT)) AS m
           FROM st),
         ns AS (SELECT COUNT(*) AS n_sources,
                       CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens
                FROM st2),
         a0 AS (SELECT st2.*, n_sources, tot_tokens,
                       CAST(1000000 AS BIGINT) // n_sources AS alpha
                FROM st2 CROSS JOIN ns),
         $doremiIterCtes
         SELECT source, n_docs, n_tokens, lambda_micro,
                alpha AS weight_ppm,
                (tot_tokens // 1000000) * alpha
                  + ((tot_tokens % 1000000) * alpha) // 1000000
                  AS alloc_tokens
         FROM a$DoremiSteps ORDER BY source""",
    // Full regex replay: DuckDB quoted literals are raw, so the canonical
    // single-backslash patterns interpolate verbatim; the 'g' flag matches
    // Spark regexp_replace's replace-all default.
    "text_pii_scrub" ->
      s"""SELECT doc_id,
                CAST(LEN(regexp_extract_all(text, '$PiiEmail')) AS BIGINT)
                  AS n_emails,
                CAST(LEN(regexp_extract_all(text, '$PiiPhone')) AS BIGINT)
                  AS n_phones,
                CAST(LEN(regexp_extract_all(text, '$PiiIpv4')) AS BIGINT)
                  AS n_ips,
                CAST(LEN(regexp_replace(regexp_replace(regexp_replace(text,
                    '$PiiEmail', '<PII>', 'g'),
                    '$PiiPhone', '<PII>', 'g'),
                    '$PiiIpv4', '<PII>', 'g')) AS BIGINT) AS clean_len
         FROM documents ORDER BY doc_id""",
    "text_quality" ->
      """SELECT doc_id,
                CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words,
                CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                     t -> t = 'the' OR t = 'a' OR t = 'of')) AS BIGINT) AS n_stop,
                CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                     t -> t = 'the' OR t = 'a' OR t = 'of')) AS DOUBLE)
                  / LEN(STRING_SPLIT(text, ' ')) AS stop_ratio,
                CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                  / LEN(STRING_SPLIT(text, ' ')) AS avg_word_len
         FROM documents ORDER BY doc_id""",
    "text_token_counts" ->
      """SELECT doc_id, n_chars,
                CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_distinct,
                CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
                  / LEN(STRING_SPLIT(text, ' ')) AS ttr
         FROM documents ORDER BY doc_id""",
    "text_langid" ->
      s"""WITH s AS (SELECT doc_id, $duckLangScores FROM documents)
         SELECT doc_id,
                CAST(s_en AS BIGINT) AS score_en,
                CAST(s_es AS BIGINT) AS score_es,
                CAST(s_fr AS BIGINT) AS score_fr,
                $duckLangCase AS lang_pred
         FROM s ORDER BY doc_id""",
    // Same hoisted scores/CASE; counts and totals cast to BIGINT, recall
    // is exact integer ppm like the markov/mix queries.
    "text_langid_confusion" ->
      s"""WITH s AS (SELECT lang, $duckLangScores FROM documents),
          p AS (SELECT lang, $duckLangCase AS lang_pred FROM s),
          cnt AS (SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
                  FROM p GROUP BY lang, lang_pred),
          tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang
                  FROM cnt GROUP BY lang)
          SELECT lang, lang_pred, n, n_lang,
                 CAST((n * 1000000) // n_lang AS BIGINT) AS p_ppm
          FROM cnt JOIN tot USING (lang)
          ORDER BY lang, lang_pred""",
    "text_bpe_tokens" ->
      """SELECT doc_id,
                CAST(LEN(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_word,
                CAST(LEN(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
                CAST(LEN(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT) AS n_other
         FROM documents ORDER BY doc_id""",
    "text_corpus_stats" ->
      """SELECT source, lang, COUNT(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
                MAX(n_chars) AS max_chars
         FROM documents GROUP BY source, lang ORDER BY source, lang""",
    "text_pack_shards" ->
      s"""WITH t AS (
           SELECT doc_id,
                  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         r AS (
           SELECT doc_id, n_tokens,
                  SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS run
           FROM t)
         SELECT doc_id, n_tokens,
                CAST((run - n_tokens) // $PackBudget AS BIGINT) AS shard_id
         FROM r ORDER BY doc_id""",
    "text_train_chunks" ->
      """WITH t AS (
           SELECT doc_id, STRING_SPLIT(text, ' ') AS tokens,
                  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n
           FROM documents),
         k AS (
           SELECT doc_id, tokens, n,
                  UNNEST(RANGE(0, (n - 1) // 24 + 1)) AS k
           FROM t),
         c AS (
           SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
                  CAST(k * 24 + 1 AS BIGINT) AS start_tok,
                  CAST(LEAST(32, n - k * 24) AS BIGINT) AS chunk_len,
                  tokens
           FROM k)
         SELECT doc_id, chunk_id, start_tok, chunk_len,
                ARRAY_TO_STRING(LIST_SLICE(tokens, start_tok,
                  start_tok + chunk_len - 1), ' ') AS chunk_text
         FROM c WHERE chunk_len >= 8 OR chunk_id = 0
         ORDER BY doc_id, chunk_id""",
    "text_doc_freq" ->
      """SELECT token, COUNT(*) AS df
         FROM (SELECT unnest(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS token
               FROM documents)
         GROUP BY token ORDER BY df DESC, token LIMIT 100""",
    // Same right-aligned-last-chunk offset rule; DuckDB list slicing is
    // 1-based-inclusive like Spark's slice(start, length) here, and
    // LIST_DISTINCT's order freedom is absorbed by the final ORDER BY.
    "text_rag_chunks" ->
      s"""WITH d AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk
                     FROM documents),
          e AS (SELECT doc_id, tk, LEN(tk) AS len,
                       GREATEST(0, LEN(tk) - $RagChunkTokens) AS maxo
                FROM d),
          o AS (SELECT doc_id, tk, len,
                       unnest(LIST_DISTINCT(LIST_APPEND(
                         RANGE(0, maxo + 1, $RagChunkStride), maxo)))
                         AS off
                FROM e)
          SELECT doc_id, CAST(off AS BIGINT) AS off,
                 ARRAY_TO_STRING(tk[off + 1 : off + $RagChunkTokens], ' ')
                   AS chunk,
                 CAST(LEAST($RagChunkTokens, len - off) AS BIGINT)
                   AS n_tokens
          FROM o ORDER BY doc_id, off""",
    // Identical micro-nat lattice; windowed/plain SUMs cast back to
    // BIGINT (DuckDB returns HUGEINT) so the comparer sees long.
    "text_doc_entropy" ->
      """WITH tf AS (
           SELECT doc_id, token, COUNT(*) AS tf
           FROM (SELECT doc_id, unnest(STRING_SPLIT(text, ' ')) AS token
                 FROM documents)
           GROUP BY doc_id, token),
         t AS (SELECT doc_id, tf,
                      CAST(SUM(tf) OVER (PARTITION BY doc_id) AS BIGINT)
                        AS len
               FROM tf),
         terms AS (
           SELECT doc_id, len,
                  CAST(FLOOR((CAST(tf AS DOUBLE) / len) *
                       LN(CAST(len AS DOUBLE) / tf) *
                       1000000.0e0 + 0.5e0) AS BIGINT) AS term_micro
           FROM t)
         SELECT doc_id, MAX(len) AS n_tokens,
                CAST(COUNT(*) AS BIGINT) AS n_distinct,
                CAST(SUM(term_micro) AS BIGINT) AS entropy_micro,
                CAST(CAST(SUM(term_micro) AS BIGINT) AS DOUBLE)
                  / 1000000.0e0 AS entropy_nats
         FROM terms GROUP BY doc_id ORDER BY doc_id""",
    "text_bpe_merge_pairs" ->
      """WITH w AS (SELECT unnest(STRING_SPLIT(text, ' ')) AS word
                    FROM documents),
              p AS (SELECT substr(word, i + 1, 2) AS pair
                    FROM w, UNNEST(RANGE(0, LEN(word) - 1)) AS u(i)
                    WHERE LEN(word) >= 2)
         SELECT pair, COUNT(*) AS cnt
         FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""",

    // The full iterative trainer and the corpus encode replay in SQL via
    // the doubled-space replace identity (see bpeTrainCtes) — promoted
    // from rows-only in round 9.
    "text_bpe_train" -> {
      val sel = (1 to BpeMerges).map(k =>
        s"""SELECT CAST($k AS BIGINT) AS rank, l AS "left", r AS "right",
                   m AS merged, cc AS cnt FROM m$k""")
        .mkString("\nUNION ALL ")
      s"WITH $bpeTrainCtes\nSELECT * FROM ($sel) ORDER BY rank"
    },
    "text_bpe_encode" -> {
      val encRounds = (1 to BpeMerges).map { k =>
        s"""e$k AS MATERIALIZED (
              SELECT doc_id, nc, replace(s,
                ' ' || (SELECT l FROM m$k) || '  ' || (SELECT r FROM m$k)
                    || ' ',
                ' ' || (SELECT m FROM m$k) || ' ') AS s FROM e${k - 1})"""
      }.mkString(",\n")
      s"""WITH $bpeTrainCtes,
          aw AS (SELECT doc_id, unnest(STRING_SPLIT(text, ' ')) AS w
                 FROM documents),
          e0 AS MATERIALIZED (
            SELECT doc_id, LEN(w) AS nc,
                   ' ' || array_to_string(list_transform(
                       range(1, LEN(w) + 1), i -> substr(w, i, 1)), '  ')
                     || ' ' AS s
            FROM aw),
          $encRounds
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
                 CAST(SUM(nc) AS BIGINT) AS n_chars,
                 CAST(SUM(LEN(STRING_SPLIT(trim(s, ' '), '  '))) AS BIGINT)
                   AS n_bpe
          FROM e$BpeMerges GROUP BY doc_id ORDER BY doc_id"""
    },

    // text_fingerprint / text_corpus_fingerprint: FNV-1a 64 is pure
    // integer arithmetic, so the full hash pipeline (whole-doc FNV,
    // winnowing window minima, per-bit SimHash votes) replays in DuckDB
    // with HUGEINT multiply mod 2^64 — bit-exact, not rows-only.
    "text_fingerprint" -> s"""
      WITH fp AS (SELECT doc_id, ${fnvSql("text")} AS fp_u FROM documents),
      tk AS (SELECT doc_id, unnest(STRING_SPLIT(text, ' ')) AS tok
             FROM documents),
      th AS (SELECT doc_id, ${fnvSql("tok")} AS h FROM tk),
      bits AS (
        SELECT doc_id, b,
               SUM(CASE WHEN (h // CAST(2 ** b AS HUGEINT)) % 2 = 1
                   THEN 1 ELSE -1 END) AS v
        FROM th, (SELECT unnest(generate_series(0, 63)) AS b) bs
        GROUP BY doc_id, b),
      sim AS (
        SELECT doc_id, SUM(CASE WHEN v > 0 THEN CAST(2 ** b AS HUGEINT)
                           ELSE 0::HUGEINT END) AS sim_u
        FROM bits GROUP BY doc_id),
      -- winnowing (k=8, w=4): the engine picks window minima by SIGNED
      -- long comparison (SortedSet[Long]), so wrap to BIGINT before MIN
      grams AS (
        SELECT doc_id, i, ${signedSql(fnvSql("substring(text, i, 8)"))} AS h,
               length(text) - 7 AS m
        FROM documents,
             LATERAL (SELECT unnest(generate_series(1, length(text) - 7)) AS i) g
        WHERE length(text) >= 8),
      wmin AS (
        SELECT doc_id, i, m,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wm
        FROM grams),
      picked AS (
        SELECT doc_id, wm FROM wmin WHERE m <= 4 AND i = 1
        UNION
        SELECT doc_id, wm FROM wmin WHERE m > 4 AND i + 3 <= m),
      wc AS (SELECT doc_id, CAST(COUNT(DISTINCT wm) AS BIGINT) AS n_winnow
             FROM picked GROUP BY doc_id)
      SELECT fp.doc_id AS doc_id, ${signedSql("fp_u")} AS fp64,
             COALESCE(wc.n_winnow, 0::BIGINT) AS n_winnow,
             ${signedSql("sim_u")} AS simhash
      FROM fp JOIN sim USING (doc_id) LEFT JOIN wc USING (doc_id)
      ORDER BY doc_id""",

    // FNV-register HLL replay: the signed fnv64 hash rebuilds in HUGEINT
    // and converts to the engine's signed BIGINT (signedSql), then the
    // register index/rank/sum chain is the identical integer arithmetic —
    // DuckDB's bit_count((v & -v) - 1) equals Spark's — and the one float
    // estimate repeats the identical IEEE chain, 6dp-floored. SUM of
    // BIGINT is HUGEINT in DuckDB, so reg_sum casts back to BIGINT.
    "text_vocab_sketch" -> s"""
      WITH tk AS (SELECT source, unnest(STRING_SPLIT(text, ' ')) AS token
                  FROM documents),
      hw AS (SELECT source, ${signedSql(fnvSql("token"))} AS w FROM tk),
      hv AS (SELECT source, w & 4095 AS idx,
                    (w >> 12) & 2251799813685247 AS v
             FROM hw),
      reg AS (SELECT source, idx,
                     MAX(CASE WHEN v = 0 THEN 52
                              ELSE bit_count((v & -v) - 1) + 1 END) AS r
              FROM hv GROUP BY source, idx),
      ag AS (SELECT source, COUNT(*) AS used,
                    SUM(CAST(1 AS BIGINT) << (50 - LEAST(r, 50))) AS s_used
             FROM reg GROUP BY source),
      fin AS (SELECT source,
                     CAST(used AS BIGINT) AS n_reg_used,
                     CAST(s_used + (4096 - used) * 1125899906842624
                          AS BIGINT) AS reg_sum,
                     4096 - used AS z
              FROM ag)
      SELECT source, n_reg_used, reg_sum,
             FLOOR((CASE
                 WHEN (0.7213e0 / (1.0e0 + 1.079e0 / 4096.0e0)) * 4096.0e0
                      * 4096.0e0 * 1125899906842624.0e0 / reg_sum
                        <= 10240.0e0 AND z > 0
                 THEN 4096.0e0 * ln(4096.0e0 / z)
                 ELSE (0.7213e0 / (1.0e0 + 1.079e0 / 4096.0e0)) * 4096.0e0
                      * 4096.0e0 * 1125899906842624.0e0 / reg_sum
               END) * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS n_vocab_est
      FROM fin ORDER BY source""",

    "text_corpus_fingerprint" -> s"""
      WITH tk AS (SELECT source, lang, unnest(STRING_SPLIT(text, ' ')) AS tok
                  FROM documents),
      th AS (SELECT source, lang, ${fnvSql("tok")} AS h FROM tk),
      bits AS (
        SELECT source, lang, b,
               SUM(CASE WHEN (h // CAST(2 ** b AS HUGEINT)) % 2 = 1
                   THEN 1 ELSE -1 END) AS v
        FROM th, (SELECT unnest(generate_series(0, 63)) AS b) bs
        GROUP BY source, lang, b),
      sim AS (
        SELECT source, lang,
               SUM(CASE WHEN v > 0 THEN CAST(2 ** b AS HUGEINT)
                   ELSE 0::HUGEINT END) AS u
        FROM bits GROUP BY source, lang),
      nd AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
             FROM documents GROUP BY source, lang)
      SELECT source, lang, ${signedSql("u")} AS corpus_simhash, n_docs
      FROM sim JOIN nd USING (source, lang) ORDER BY source, lang""",

    // Full CMS replay: FNV row hashes in HUGEINT mod CmsWidth (a power of
    // two dividing 2^64 — unsigned residue == engine pmod), exact integer
    // cell counts, MIN over the depth rows. Pure integers end to end.
    "text_cms_counts" -> {
      val cellSql = fnvSql("CAST(r AS VARCHAR) || '|' || tok")
      s"""WITH tk AS (SELECT unnest(STRING_SPLIT(text, ' ')) AS tok
                      FROM documents),
          rc AS (SELECT tok, r
                 FROM tk CROSS JOIN
                   (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS r)
                   rows_),
          hc AS (SELECT r,
                        CAST($cellSql % ${CmsWidth}::HUGEINT AS BIGINT) AS c
                 FROM rc),
          cells AS (SELECT r, c, CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM hc GROUP BY r, c),
          topk AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt
                   FROM tk GROUP BY tok
                   ORDER BY exact_cnt DESC, tok LIMIT $CmsTopK),
          pr AS (SELECT tok, exact_cnt, r,
                        CAST($cellSql % ${CmsWidth}::HUGEINT AS BIGINT) AS c
                 FROM topk CROSS JOIN
                   (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS r)
                   rows_),
          est AS (SELECT tok, exact_cnt, MIN(cnt) AS cms_est
                  FROM pr JOIN cells USING (r, c) GROUP BY tok, exact_cnt)
          SELECT tok, exact_cnt, cms_est, cms_est - exact_cnt AS overcount
          FROM est ORDER BY exact_cnt DESC, tok"""
    },

    "text_ngram_novelty" ->
      """WITH dtk AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t
                      FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                       t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g
                FROM dtk, UNNEST(RANGE(1, LEN(t) - 1)) AS u(i)),
         dfq AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df
                 FROM sh GROUP BY g),
         nv AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
                       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_novel
                FROM sh JOIN dfq USING (g) GROUP BY doc_id)
         SELECT d.doc_id AS doc_id,
                COALESCE(nv.n_shingles, 0::BIGINT) AS n_shingles,
                COALESCE(nv.n_novel, 0::BIGINT) AS n_novel,
                CASE WHEN nv.n_shingles > 0
                     THEN CAST(nv.n_novel AS DOUBLE) / nv.n_shingles
                END AS novelty
         FROM documents d LEFT JOIN nv ON nv.doc_id = d.doc_id
         ORDER BY d.doc_id"""
  )

  /** The published oracle surface: the base map plus the packing audit,
    * whose shard CTE is the pack_shards replay VERBATIM (nested-WITH
    * subquery) — definitionally in sync with the packer it audits.
    */
  val oracle: Map[String, String] = oracleBase +
    ("text_pack_efficiency" ->
      s"""WITH p AS (${oracleBase("text_pack_shards")})
          SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
                 CAST((CAST(SUM(n_tokens) AS BIGINT) * 1000000)
                      // $PackBudget AS BIGINT) AS fill_ppm
          FROM p GROUP BY shard_id ORDER BY shard_id""")

  /** Corpus-trained LM scores per document: (doc_id, n_tokens, uni_logprob,
    * bi_logprob), unordered. Unigram MLE + add-one-smoothed bigram; exact
    * integer counts, floats only in the final LN/AVG (6dp both engines).
    * Shared by text_lm_score and curation_lm_buckets.
    */
  /** `carry`: document attribute columns (lang/source) grouped alongside
    * doc_id — they are doc-functional, so the per-doc aggregation's
    * cardinality is unchanged, and the consumers that used to re-scan
    * `documents` and shuffle-join the scores back by doc_id
    * (curation_rho_selection, curation_lm_buckets, mix_doremi_weights —
    * one corpus scan + one corpus-sized exchange each, round-15
    * measurement) read them straight off the score frame instead. The
    * count-table subtree prunes the carried columns (it only projects
    * tok/nxt), so the single extra cost is a short string riding the one
    * doc_id exchange.
    */
  private def lmScores(s: org.apache.spark.sql.SparkSession,
      dir: String, carry: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val docs = load(s, dir, "documents")
    // Round-15 shape, from the round-14 redundancy measurement: the old
    // form ran SEPARATE token and bigram streams (tk, bg) through
    // separate count aggs and separate per-doc score aggs, and because
    // each count subtree was projected differently by its consumers,
    // ReuseExchange never fired — the corpus explode replayed 4-5x per
    // evaluation. This form explodes ONCE, carrying each token with its
    // successor (try_element_at -> NULL for the last token), so a single
    // (tok, nxt) count table derives BOTH models:
    //   c1(tok)        = Σ_nxt cnt   (unigram count — every instance has
    //                                 exactly one (tok, nxt) row)
    //   c12(tok, nxt)  = cnt         (bigram count, nxt non-null rows)
    // and ONE per-doc aggregation computes n_tokens + both logprob
    // averages (the bigram avg skips the NULL-nxt rows, which is exactly
    // the old per-bigram frame). Two corpus passes total — one for the
    // counts, one for the scores — and one shuffle by doc_id.
    //
    // The count table is localCheckpoint'ed: it is referenced three ways
    // (uniT join, bicT join, tot broadcast) and would otherwise replay
    // the counting pass per reference. It grows with VOCABULARY² at worst
    // (Heaps' law on both axes), never corpus size, so the cut is
    // model-sized at any SF; its plan is scan -> explode -> hash-agg with
    // NO joins, so localCheckpoint's no-AQE materialization path (it
    // compiles via df.rdd — the other round-14 finding) gives up nothing.
    // The score joins still evaluate under AQE, which broadcast-sizes
    // uniT/bicT from the checkpointed table's real runtime stats.
    val carryCols = carry.map(col)
    val ex = docs
      .select((col("doc_id") +: carryCols) :+ expr(toks).as("__t"): _*)
      .select((col("doc_id") +: carryCols) :+ col("__t") :+
        posexplode(col("__t")).as(Seq("pos", "tok")): _*)
      .select((col("doc_id") +: carryCols) :+ col("tok") :+
        expr("try_element_at(__t, pos + 2)").as("nxt"): _*)
    val g = ex.groupBy(col("tok"), col("nxt")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val uniT = g.groupBy(col("tok")).agg(sum(col("cnt")).as("c1"))
    val bicT = g.filter(col("nxt").isNotNull)
      .select(col("tok"), col("nxt"), col("cnt").as("c12"))
    val tot = uniT.agg(sum(col("c1")).as("n"), count(lit(1)).as("v"))
    ex.join(uniT, "tok")
      .join(bicT, Seq("tok", "nxt"), "left")
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id") +: carryCols: _*)
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("c1").cast("double") / col("n"))), 6)
          .as("uni_logprob"),
        round(avg(when(col("nxt").isNotNull,
          log((col("c12") + lit(1)).cast("double") /
            (col("c1") + col("v"))))), 6).as("bi_logprob"))
  }
}
