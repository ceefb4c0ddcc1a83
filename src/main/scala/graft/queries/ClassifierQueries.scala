package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/** In-engine trained classifier: multinomial Naive Bayes over word unigrams,
  * trained AND scored entirely as relational dataflow — the "fasttext-style
  * quality/langid filter" step of a training-data pipeline, re-expressed so
  * the model fit is a pair of aggregations and inference is a broadcast join
  * (the shape used at corpus scale, where the model is small and the corpus
  * is 100 TB).
  *
  * Train/test split is `doc_id % 5` (deterministic, SQL-replayable). The fit
  * is count aggregation: per-(lang, token) counts, per-lang totals, vocab
  * size, class priors. Scoring is log-linear: each token weight
  * ln((c+1)/(tot+V)) is quantized to integer MICRO-NATS per the oracle-safety
  * rule in [[Tables]] — the per-doc score is then a SUM of BIGINTs (exact,
  * order-free across engines and partition counts), never a float reduction.
  * Argmax is a doc_id-partitioned row_number with a lexicographic tie-break.
  *
  * Scale shape: the model (vocab × n_langs weights) is corpus-size-INDEPENDENT
  * — it is broadcast, so the 100 TB side never shuffles for inference; the
  * only wide exchanges are the two training groupBys, which partial-aggregate
  * map-side. If vocab outgrew the broadcast threshold the scoring join
  * degrades gracefully to a shuffled hash join on token — still one exchange
  * of (doc_id, token) pairs, no cartesian anywhere (the lang fan-out is a
  * broadcast of a 5-row frame).
  *
  * On the synthetic corpus the `lang` label is not derivable from the text
  * (all langs share one vocabulary), so the learned model converges to the
  * class priors — accuracy is ~the majority-class rate BY CONSTRUCTION of the
  * testdata; what the gate pins is the train/score dataflow itself, bit-exact
  * against DuckDB running the same fit.
  */
object ClassifierQueries {

  private val toks = "split(text, ' ')"

  /** Loud bound on the vocab-sized weight broadcast (one row per distinct
    * train token). 100M rows of (short token, small lang→long map) is
    * roughly low-single-digit GB framed — under Spark's hard 8 GB /
    * 512M-row broadcast cap with headroom, far beyond any gate-SF vocab,
    * and a corpus that trips it needs the shuffled-join form, not a
    * bigger driver. Package-visible so the refusal is spec-pinned without
    * manufacturing a 100M-token corpus.
    */
  private[graft] val VocabBroadcastMaxRows = 100000000L
  private[graft] def requireVocabBroadcastable(v: Long): Unit =
    require(v <= VocabBroadcastMaxRows,
      s"NB classifier: vocabulary of $v distinct tokens exceeds the " +
        s"$VocabBroadcastMaxRows-row broadcast fence for the token-weight " +
        "map; score with the shuffled token join instead of broadcast")

  /** All (doc_id, lang_actual, lang, score) rows before the argmax — the
    * margin-audit surface ClassifierSpec checks tie-safety on. Unpivoted
    * from the wide per-doc score columns (identical values — the wide
    * frame computes the same exact BIGINT sums).
    */
  private[graft] def allScores(s: SparkSession, dir: String): DataFrame = {
    val (wide, langs) = wideScores(s, dir)
    if (langs.isEmpty)
      return wide.select(col("doc_id"), col("lang_actual"),
        lit(null).cast("string").as("lang"),
        lit(null).cast("long").as("score"))
    wide.select(col("doc_id"), col("lang_actual"),
      explode(array(langs.zipWithIndex.map { case (l, i) =>
        struct(lit(l._1).as("lang"), col(s"__s$i").as("score"))
      }: _*)).as("ls"))
      .select(col("doc_id"), col("lang_actual"),
        col("ls.lang").as("lang"), col("ls.score").as("score"))
  }

  /** Per-test-doc NB predictions: (doc_id, lang_actual, lang_pred, score).
    * Argmax (score desc, lang asc) is ROW-LOCAL over the wide score
    * columns — array_min of (-score, lang, score) structs; score is a sum
    * of micro-nat longs (|score| ≪ 2^62), so the negation is exact and
    * -0 cannot occur. The row_number window this replaces re-shuffled
    * and sorted the ×|langs| exploded score stream (round-15 plan diff:
    * one Exchange+Sort gone, |langs|× fewer aggregation rows).
    */
  private def nbScored(s: SparkSession, dir: String): DataFrame = {
    val (wide, langs) = wideScores(s, dir)
    if (langs.isEmpty)
      return wide.select(col("doc_id"), col("lang_actual"),
        lit(null).cast("string").as("lang_pred"),
        lit(null).cast("long").as("score"))
    val best = array_min(array(langs.zipWithIndex.map { case (l, i) =>
      struct((-col(s"__s$i")).as("ns"), lit(l._1).as("lang"),
        col(s"__s$i").as("score"))
    }: _*))
    wide.select(col("doc_id"), col("lang_actual"),
      best.getField("lang").as("lang_pred"),
      best.getField("score").as("score"))
  }

  /** The NB fit + scoring dataflow, round-15 shape. The fit derives
    * EVERYTHING from one checkpointed (lang, token) count table (the old
    * form re-scanned and re-exploded the train corpus for counts, totals
    * and vocab separately — DataFrame subtrees never ReuseExchange) plus
    * one explode-free doc pass for priors. Scoring joins each test token
    * against a broadcast token → (lang→weight) MAP and sums per-lang
    * columns in ONE per-doc aggregation — the old ×|langs| crossJoin
    * explode probed the weight relation |tokens|·|langs| times and
    * shipped |langs| rows per doc into the aggregation. Values are
    * unchanged: the same microNats longs, summed exactly (BIGINT, order-
    * free), same Laplace smoothing, same OOV default via the same dm.
    *
    * Returns (wide frame with __s<i> score columns, langs meta); langs
    * is the COLLECTED per-lang model (lang, dm, pm) — #langs rows,
    * the same bounded model-frame collect discipline as the KMeans
    * centroids and the doremi per-source table, enforced loudly.
    */
  private def wideScores(s: SparkSession, dir: String)
      : (DataFrame, Seq[(String, Long, Long)]) = {
    val docs = load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), expr(toks).as("tokens"))
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val test = docs.filter(col("doc_id") % 5 === 0)

    // ONE train-corpus explode; the count table is vocab×langs-sized
    // (model, not data) and is referenced by totals/vocab/weights, so cut
    // its lineage — scan→explode→agg has no joins, so localCheckpoint's
    // no-AQE materialization gives up nothing (the lmScores argument).
    val counts = train
      .select(col("lang"), explode(col("tokens")).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val totals = counts.groupBy("lang").agg(sum(col("c")).as("tot"))
    val vocab = counts.agg(countDistinct(col("token")).as("v"))
    val nTrain = train.agg(count(lit(1)).as("n_train"))
    val priors = train.groupBy("lang").agg(count(lit(1)).as("n_lang"))

    def microNats(x: Column): Column =
      round(log(x) * lit(1e6), 0).cast("long")

    // Per-lang OOV default + prior — #langs rows, collected (bounded:
    // langs are labels, not data rows; same contract as doremi sources).
    val langRows = totals
      .crossJoin(broadcast(vocab))
      .join(priors, Seq("lang"))
      .crossJoin(broadcast(nTrain))
      .select(col("lang"),
        microNats(lit(1.0) / (col("tot") + col("v"))).as("dm"),
        microNats(col("n_lang").cast("double") / col("n_train")).as("pm"),
        col("v"))
      .orderBy(col("lang"))
      .collect()
    // Empty train corpus ⇒ the oracle's langinfo CTE is empty and its
    // CROSS JOIN annihilates every score row: return the empty wide frame
    // (EmptyInputSpec contract — empty output, never an opaque throw).
    if (langRows.isEmpty)
      return (test.select(col("doc_id"), col("lang").as("lang_actual"))
        .limit(0), Seq.empty)
    require(langRows.length <= 1000,
      s"NB classifier: ${langRows.length} languages exceeds the bounded " +
        "per-lang model collect contract (langs are labels, not data)")
    // The token → (lang→weight) map below is broadcast: vocab-sized, and
    // a Heaps-law vocabulary at 100 TB could silently blow the 8 GB /
    // 512M-row broadcast-relation cap. Same loud-fence discipline as the
    // langs collect above (round-15 VERDICT #5); v already rides the
    // langRows frame, so the check is free. Degrade path if a real corpus
    // ever trips it: drop the broadcast() hint and let the scoring join
    // shuffle on token (the documented graceful form in the header).
    requireVocabBroadcastable(langRows.head.getLong(3))
    val langs = langRows.toSeq.map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2)))

    // Laplace-smoothed token weights, quantized once per (lang, token),
    // then pivoted to ONE row per token: token → map(lang → wm).
    val wmap = counts
      .join(totals, Seq("lang"))
      .crossJoin(broadcast(vocab))
      .select(col("lang"), col("token"),
        microNats((col("c") + lit(1)).cast("double") / (col("tot") + col("v")))
          .as("wm"))
      .groupBy(col("token"))
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("lang"), col("wm"))))).as("wv"))

    val testToks = test.select(
      col("doc_id"), col("lang").as("lang_actual"),
      explode(col("tokens")).as("token"))
    val sums = langs.zipWithIndex.map { case ((l, dm, pm), i) =>
      (sum(coalesce(try_element_at(col("wv"), lit(l)), lit(dm))) + lit(pm))
        .cast("long").as(s"__s$i")
    }
    val wide = testToks
      .join(broadcast(wmap), Seq("token"), "left")
      .groupBy(col("doc_id"), col("lang_actual"))
      .agg(sums.head, sums.tail: _*)
    (wide, langs)
  }

  // Shared oracle CTE chain — the fit and scoring replayed in DuckDB. SUMs
  // of BIGINT are HUGEINT there, so every derived value is CAST AS BIGINT
  // before it reaches the comparer (Tables oracle-safety rules).
  private val nbCtes =
    """WITH docs AS (
         SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS tokens
         FROM documents),
       train AS (SELECT * FROM docs WHERE doc_id % 5 <> 0),
       test  AS (SELECT * FROM docs WHERE doc_id % 5 = 0),
       grams AS (SELECT lang, UNNEST(tokens) AS token FROM train),
       counts AS (SELECT lang, token, COUNT(*) AS c FROM grams GROUP BY 1, 2),
       totals AS (SELECT lang, COUNT(*) AS tot FROM grams GROUP BY 1),
       vocab AS (SELECT COUNT(DISTINCT token) AS v FROM grams),
       ntr AS (SELECT COUNT(*) AS n_train FROM train),
       priors AS (SELECT lang, COUNT(*) AS n_lang FROM train GROUP BY 1),
       weights AS (
         SELECT lang, token,
                CAST(ROUND(LN((c + 1)::DOUBLE / (tot + v)) * 1e6) AS BIGINT)
                  AS wm
         FROM counts JOIN totals USING (lang) CROSS JOIN vocab),
       langinfo AS (
         SELECT lang,
                CAST(ROUND(LN(1.0 / (tot + v)) * 1e6) AS BIGINT) AS dm,
                CAST(ROUND(LN(n_lang::DOUBLE / n_train) * 1e6) AS BIGINT)
                  AS pm
         FROM totals CROSS JOIN vocab JOIN priors USING (lang) CROSS JOIN ntr),
       tt AS (
         SELECT doc_id, lang AS lang_actual, UNNEST(tokens) AS token
         FROM test),
       sc AS (
         SELECT t.doc_id, t.lang_actual, li.lang, li.pm,
                SUM(COALESCE(w.wm, li.dm)) AS tok_score
         FROM tt t
         CROSS JOIN langinfo li
         LEFT JOIN weights w ON w.lang = li.lang AND w.token = t.token
         GROUP BY 1, 2, 3, 4),
       fin AS (
         SELECT doc_id, lang_actual, lang,
                CAST(pm + tok_score AS BIGINT) AS score,
                ROW_NUMBER() OVER (PARTITION BY doc_id
                  ORDER BY pm + tok_score DESC, lang ASC) AS rk
         FROM sc)"""

  val queries: Map[String, Q] = Map(
    "text_nb_classifier" -> ((s, dir) =>
      nbScored(s, dir).orderBy(col("doc_id"))),
    "text_nb_confusion" -> ((s, dir) =>
      nbScored(s, dir)
        .groupBy(col("lang_actual"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang_actual"), col("lang_pred"))))

  val oracle: Map[String, String] = Map(
    "text_nb_classifier" ->
      s"""$nbCtes
         SELECT doc_id, lang_actual, lang AS lang_pred, score
         FROM fin WHERE rk = 1 ORDER BY doc_id""",
    "text_nb_confusion" ->
      s"""$nbCtes
         SELECT lang_actual, lang AS lang_pred, COUNT(*) AS n_docs
         FROM fin WHERE rk = 1
         GROUP BY 1, 2 ORDER BY lang_actual, lang_pred""")
}
