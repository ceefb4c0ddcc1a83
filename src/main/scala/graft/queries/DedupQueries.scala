package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextHashes
import graft.operators.ConnectedComponents
import Tables._

/** Deduplication operators over the `documents` table — the training-data
  * pipeline extensions promised by SURVEY.md §7 step 6: exact dedup,
  * n-gram Jaccard near-dup, MinHash-LSH banding, SimHash banding.
  *
  * Scale design (100 TB):
  *  - Exact dedup groups on a 128-bit content hash (md5), never on the raw
  *    text — the shuffle key is 16 bytes regardless of document size, and
  *    the aggregation is partial (map-side combine) before the exchange.
  *  - Near-dup candidate generation is ALWAYS bucketed (inverted-index join
  *    on shingles with a document-frequency cap, MinHash bands, SimHash
  *    bands) — never an all-pairs cross join. The df-cap bounds the worst
  *    shingle's pair fan-out to cap² and drops only uninformative shingles,
  *    the standard guard against quadratic blowup on frequent n-grams.
  *  - Signatures (MinHash/SimHash) are computed per-row inside whole-stage
  *    codegen (native Catalyst expressions, graft.functions.TextHashes);
  *    the only shuffles are the band-key exchanges over compact longs.
  *
  * Every query here is fully oracle-checked (bit-exact vs DuckDB): the
  * hash-based signatures (MinHash, SimHash, winnowing, Gear chunking) are
  * pure integer arithmetic, so their whole pipelines replay in SQL via
  * OracleSql's HUGEINT-mod-2^64 fragments (promoted from rows-only in
  * round 7).
  */
object DedupQueries {

  private[graft] val toks = "split(text, ' ')"
  // 3-token shingling is done by the fused native expressions
  // (shingle_hashes / minhash_ngrams, graft.functions.TextHashes): <3-token
  // docs yield an empty signature, matching DuckDB's empty range(1, 0).
  // Shingles occurring in more than DfCap documents are dropped before the
  // candidate join — bounds pair fan-out per shingle at scale.
  private[graft] val DfCap = 50
  // Embedding-LSH buckets get a larger cap: clustered embeddings
  // legitimately co-bucket whole semantic clusters (~10% of a label at 6
  // planes), so the shingle df-cap would drop real neighborhoods. Any
  // constant bounds the worst bucket's pair fan-out (≤ cap²/2 ≈ 20k pairs
  // per task) — the point is an upper bound, not shingle-level sparsity.
  private[graft] val VecBucketCap = 200

  /** Distributed lineage cut: evaluate `df` ONCE under the normal
    * AQE-planned path by writing it to a session-temp parquet table and
    * re-reading it. The scale-safe alternative to `localCheckpoint` for
    * frames that are NOT model-sized (localCheckpoint compiles its
    * materialization via `df.rdd`, losing AQE's runtime broadcast-join
    * conversions — the round-14 measurement) and too big to collect.
    * The result is read lazily, so its directory lives until JVM exit.
    */
  private[graft] def materialize(s: SparkSession, df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-mat").toFile
    matDirs.add(dir)
    val out = s"$dir/t"
    df.write.mode("overwrite").option("compression", "lz4").parquet(out)
    s.read.parquet(out)
  }

  // Every materialize dir, deleted recursively by one shutdown hook.
  private lazy val matDirs = {
    val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
    sys.addShutdownHook(
      dirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d)))
    dirs
  }

  // Corpus doc count for the prefix-pairs activation floor — cached per
  // dir like SimilarityQueries.embCount (footer-only count, but the bench
  // re-invokes the query every trial).
  private val docCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def docCount(s: org.apache.spark.sql.SparkSession,
      dir: String): Long =
    docCountCache.computeIfAbsent(dir,
      d => scan(s, d, "documents").count()).longValue()

  // Embedding-LSH knobs, shared by dedup_embedding_near and the semantic
  // dedup — interpolated into BOTH the Spark queries and their oracle SQL
  // so the two sides cannot silently desynchronize. Since round 9 the
  // plane count AUTO-SIZES from the corpus count with the exact integer
  // rule the kNN graph uses (SimilarityQueries.autoPlanes: smallest p in
  // [6, 24] with 2^p · 32 ≥ n) — fixed 6-plane tables saturate their 64
  // buckets at 100× (mean occupancy ~3.1k at 200k vectors, so the cap
  // drops nearly every bucket and recall collapses); the oracle derives
  // the SAME value from COUNT(*) in its pl CTE. Gate SFs (≤ 2048
  // vectors) still get 6, so the committed results are unchanged there.
  private[graft] val LshTables = 6
  private[graft] def lshPlanes(s: org.apache.spark.sql.SparkSession,
      dir: String): Int =
    SimilarityQueries.autoPlanes(SimilarityQueries.embCount(s, dir))
  /** The oracle's plane-count CTE — identical integer rule in SQL. */
  private[queries] val duckPl =
    s"""pl AS (
            SELECT COALESCE(MIN(p), ${SimilarityQueries.GraphMaxPlanes}) AS np
            FROM (SELECT unnest(range(6,
                    ${SimilarityQueries.GraphMaxPlanes + 1})) AS p),
                 (SELECT COUNT(*) AS n FROM embeddings)
            WHERE (CAST(1 AS BIGINT) << p)
                    * ${SimilarityQueries.GraphOccupancy} >= n)"""
  private[graft] val SemCosMin = "0.30"
  private[graft] val EmbCosMin = "0.45"
  /** dedup_threshold_sweep grid — all ≥ EmbCosMin (the pair set's floor),
    * interpolated into the Spark literal AND the oracle so they can't
    * drift. */
  private val SweepThresholds = Seq(0.45, 0.55, 0.65, 0.75, 0.85, 0.95)
  private[graft] val JaccardMin = 0.5
  // Containment threshold (Broder's asymmetric twin of Jaccard): the
  // fraction of the SMALLER doc's shingles shared with the other doc.
  // 0.8 means "4/5 of the shorter document appears verbatim in the
  // longer" — a subset-duplicate signal Jaccard misses when the union is
  // dominated by the longer side.
  private val ContainMin = 0.8
  // Repeated-span detection: span length in tokens (Lee et al. use ~50
  // BPE tokens; 8 words is the equivalent scale for the short synthetic
  // docs) and the positional encoding base (pos < 1e6 — a 1M-token doc
  // bound, asserted nowhere because the slice index can't exceed the doc's
  // token count, which parquet caps far below that here).
  private val SpanLen = 8
  // Non-overlapping segment length for CCNet-style paragraph dedup —
  // interpolated into both the Spark query and its oracle SQL.
  private val ParaLen = 16

  // Negative-sampling pool target for mix_contrastive_pairs: the
  // deterministic md5-prefix sample keeps ~PoolTarget docs regardless of
  // corpus size (threshold = exact integer cross-multiply, shared with
  // the oracle).
  private val PoolTarget = 16384L

  // Winnowing near-dup knobs, shared by the Spark query AND its oracle.
  // k=24 (not the per-doc-stats default 8): an 8-char window minimum is a
  // vocabulary-common substring, so its posting list grows with CORPUS
  // size and the df cap eventually drops every bucket — the sf1 gate run
  // measured the k=8 candidate set collapsing to zero at 10x sf0.1. A
  // 24-char fingerprint is document-specific (df tracks the true dup
  // family size, max 4 at sf0.01), so the cap only ever trims genuine
  // boilerplate. MinShared=8 keeps recall 1.0 of the jaccard>=0.9 pairs
  // at sf0.01 while emitting nothing else (measured; spec pins >=0.9).
  private[graft] val WinnowK = 24
  private[graft] val WinnowW = 8
  private[graft] val WinnowMinShared = 8

  val queries: Map[String, Q] = Map(
    // Exact dedup groups: one row per distinct content hash with the
    // surviving (minimum) doc_id and the duplicate count.
    "dedup_exact_groups" -> ((s, dir) =>
      scan(s, dir, "documents")
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .orderBy(col("content_hash"))),

    // Exact dedup survivors: the kept row per content group (keep = min id).
    "dedup_exact_keep" -> ((s, dir) =>
      scan(s, dir, "documents")
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
        .select(col("doc_id"), col("n_dups"))
        .orderBy(col("doc_id"))),

    // n-gram Jaccard near-dup pairs via the inverted index, bucket-collect
    // form: ONE shuffle groups postings per shingle (df-cap filters hot
    // shingles there), candidate pairs are generated map-side from each
    // bucket's sorted doc list (≤ cap²/2 per bucket), then one aggregation
    // counts intersections. jaccard = |A∩B| / (|A|+|B|-|A∩B|) over the
    // surviving shingle sets — exact integer counts, single IEEE division.
    // vs. the naive self-join: no duplicate scan of the posting list, no
    // second wide shuffle of the exploded table.
    "dedup_ngram_jaccard" -> ((s, dir) =>
      jaccardPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))),

    // Containment near-dup pairs: |A∩B| / min(|A|,|B|) — Broder's
    // asymmetric twin of resemblance/Jaccard. Catches SUBSET duplicates:
    // a short doc embedded verbatim in a longer one has containment ≈ 1
    // while its Jaccard can sit far below any dedup threshold because the
    // union is dominated by the longer side (the quote/boilerplate shape
    // exact and Jaccard dedup both miss). Same df-capped inverted index
    // and single pair aggregation as dedup_ngram_jaccard — only the final
    // scalar differs, so the 100 TB story is identical.
    "dedup_containment_pairs" -> ((s, dir) =>
      pairStats(s, dir)
        .withColumn("containment",
          col("inter").cast("double") / least(col("na"), col("nb")))
        .filter(col("containment") >= ContainMin)
        .select(col("doc_a"), col("doc_b"), col("inter"), col("containment"))
        .orderBy(col("doc_a"), col("doc_b"))),

    // EXACT all-pairs Jaccard ≥ t with NO df-cap and NO candidate loss,
    // via prefix filtering (Chaudhuri et al. ICDE'06; Bayardo et al.
    // WWW'07 "Scaling Up All Pairs Similarity Search"; Xiao et al.
    // ppjoin): order every document's shingles by a single global total
    // order (document frequency ascending, hash ascending — rare first),
    // and index ONLY each doc's first |d| − ⌈t·|d|⌉ + 1 shingles. The
    // prefix lemma makes this lossless: if J(A,B) ≥ t then the globally
    // smallest shingle of A∩B lies inside BOTH prefixes (every A-shingle
    // ordered before it is outside B and there are at most
    // |A| − ⌈t·|A|⌉ of those — symmetric for B), so the pair surfaces in
    // some prefix bucket. Candidates are then verified EXACTLY against
    // the full per-doc shingle-set arrays (array_intersect of two
    // doc-length-bounded arrays — a keyed join, no re-scan of the
    // index). Complements the df-capped dedup_ngram_jaccard: that one
    // trades completeness on boilerplate-heavy pairs for a hard fan-out
    // bound; this one is complete, with the fan-out tamed by rare-first
    // ordering (hot shingles enter only the prefixes of docs that have
    // nothing rarer — at t=0.5, 60% of each doc's postings never enter
    // the index at all). The oracle is the BRUTE-FORCE pair set — the
    // gate proves losslessness, not just self-consistency.
    "dedup_prefix_pairs" -> ((s, dir) => {
      val ex = load(s, dir, "documents")
        .select(col("doc_id"),
          explode(expr(s"shingle_hashes($toks, 3)")).as("s"))
      val dfreq = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
      // LOUD precondition (VERDICT r9 #5): the exact all-pairs operator is
      // inherently output-bound — on a dup-heavy replica corpus the true
      // pair set grows quadratically with cluster size (sf10's ~247M pairs
      // exhaust local shuffle disk mid-job). Estimate the candidate mass
      // from the posting histogram (Σ C(df,2) — an upper bound on
      // generated pairs, since prefixes only shrink postings) and REFUSE
      // up front, naming the capped generators, instead of dying by disk
      // exhaustion hours in. The check only activates above a corpus-size
      // floor, so gate SFs pay nothing; both knobs are overridable
      // (props for tests, env for runs).
      def knob(prop: String, env: String, default: Long) =
        graft.LocalSession.parseKnob(env,
          sys.props.get(prop).orElse(sys.env.get(env)), default,
          max = Long.MaxValue)
      val checkMin = knob("graft.prefixPairsCheckMin",
        "SPARK_GRAFT_PREFIX_PAIRS_CHECK_MIN", 100000L)
      // cached per (session, dir) like embCount — the activation test
      // costs one metadata-only count the FIRST time, nothing after
      if (docCount(s, dir) >= checkMin) {
        val maxPairs = knob("graft.prefixPairsMax",
          "SPARK_GRAFT_PREFIX_PAIRS_MAX", 100000000L)
        val est = dfreq.agg(
          sum(expr("df * (df - 1) div 2")).as("est")).head().getLong(0)
        if (est > maxPairs) throw new IllegalStateException(
          s"dedup_prefix_pairs refused: estimated candidate-pair mass " +
            s"$est exceeds $maxPairs (SPARK_GRAFT_PREFIX_PAIRS_MAX). The " +
            "exact all-pairs output would not fit the shuffle tier at " +
            "this scale - use the capped generators instead: " +
            "dedup_ngram_jaccard, dedup_minhash_pairs, " +
            "dedup_containment_pairs, or dedup_clusters.")
      }
      // ONE doc-keyed exchange builds the rare-first-ordered shingle array
      // per doc (sort_array over (df, s) structs = the global total order,
      // applied doc-locally); the same frame serves prefix extraction AND
      // exact verification — no separate window pass, no second per-doc
      // aggregation. (A/B at sf0.1: row_number-window form 4.3 s → this
      // form + the positional filter below 1.9 s.)
      // Round-15 lineage cut: `sets` feeds THREE consumers (the prefix
      // extraction and both exact-verification join sides) and each
      // reference re-evaluated the whole shingle index + rare-first sort
      // chain (no ReuseExchange across differently-projected subtrees —
      // 6 corpus scans in the initial plan). One AQE-planned temp-parquet
      // evaluation; consumers re-read a plain scan.
      val sets = materialize(s, ex.join(dfreq, "s")
        .groupBy(col("doc_id"))
        .agg(expr("transform(sort_array(collect_list(struct(df, s))), " +
          "x -> x.s)").as("ss")))
      // prefix postings keep their rank: the ppjoin POSITIONAL filter
      // (Xiao et al.) bounds a pair's possible overlap at the meeting
      // point — 1 + min(remaining-in-A, remaining-in-B) — and drops it if
      // that can't reach the required overlap α = t/(1+t)·(|A|+|B|).
      // Lossless: a true pair is generated at the globally-minimal shared
      // shingle, where the bound provably ≥ its real overlap ≥ α (α is
      // FLOORED from the float product — only ever weaker, never
      // over-pruning a boundary pair). At sf0.1 the filter cuts 430k
      // generated / 409k distinct candidates to 125k, and exact
      // verification is the dominant stage, so it is the scale lever.
      val prefix = sets.select(col("doc_id"), size(col("ss")).as("nsh"),
        posexplode(expr(
          s"slice(ss, 1, size(ss) - cast(ceil($JaccardMin * size(ss)) " +
            "as int) + 1)")).as(Seq("p", "s")))
        .select(col("s"),
          struct(col("doc_id"), (col("p") + 1).as("rk"), col("nsh")).as("e"))
      val alphaF = JaccardMin / (1 + JaccardMin)
      val cand = prefix.groupBy(col("s"))
        .agg(expr("sort_array(collect_list(e))").as("ds"))
        .filter(size(col("ds")) >= 2)
        .select(explode(expr("struct_pairs(ds)")).as("pp"))
        .select(col("pp.a.doc_id").as("doc_a"),
          col("pp.b.doc_id").as("doc_b"),
          col("pp.a.rk").as("ra"), col("pp.a.nsh").as("na"),
          col("pp.b.rk").as("rb"), col("pp.b.nsh").as("nb"))
        .filter(lit(1) +
          least(col("na") - col("ra"), col("nb") - col("rb")) >=
          floor((col("na") + col("nb")) * lit(alphaF)))
        .select(col("doc_a"), col("doc_b")).distinct()
      // Exact verification joins: BOTH sides grow with the corpus (cand is
      // output-bound, sets is corpus-sized with per-doc shingle arrays), so
      // neither may be broadcast — at sf1 AQE's size estimate makes the
      // build marginal against the driver heap (fits on a fresh JVM, dies
      // on a warm one: measured trial1-OK/trial2-OOM in the same session),
      // and at 100 TB a broadcast here is wrong outright. shuffle_hash
      // pins the deterministic keyed-exchange plan.
      cand
        .join(sets.toDF("doc_a", "sa").hint("shuffle_hash"), "doc_a")
        .join(sets.toDF("doc_b", "sb").hint("shuffle_hash"), "doc_b")
        .withColumn("inter",
          expr("cast(size(array_intersect(sa, sb)) as bigint)"))
        .withColumn("jaccard", col("inter").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("inter")))
        .filter(col("jaccard") >= JaccardMin)
        .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Repeated-span detection: the exact-substring dedup signal (public
    // technique: Lee et al. 2022 dedupe verbatim spans repeated anywhere
    // in the corpus via a suffix array; the distributed analog indexes
    // fixed-length token spans WITH their positions). Every 8-token span
    // occurring in ≥2 documents is reported with its occurrence count and
    // first location — the spans a substring-level deduper would cut.
    // Scale: one exchange keyed by the span text (partial counts map-side);
    // the top-k is TakeOrderedAndProject (per-partition heap + driver
    // merge of k rows), never a global sort. First-location is an integer
    // min over doc_id*1e6+pos — a single agg, no second pass. Span
    // strings come from the native word_ngrams kernel (codegen, one pass,
    // position = array index); the HOF transform-over-sequence form this
    // replaces re-evaluated split() inside the interpreted lambda for
    // EVERY position — O(len²) token-array builds per document, measured
    // 22→5 s at sf1 (the residue is the honest cost of the distinct-doc
    // count over 2.4M span occurrences; grouping on fnv64(gram) instead
    // of the string was measured SLOWER, the min(gram) carry outweighs
    // the 8-byte keys) — and short docs fall out as the kernel's empty
    // array instead of needing a guard against sequence(1, n<=0)
    // descending.
    "dedup_span_detect" -> ((s, dir) =>
      // Two-phase aggregation instead of count_distinct-alongside-count:
      // the mixed distinct/non-distinct form makes Spark rewrite through
      // Expand (every gram row DOUBLED, then re-shuffled on the string
      // key with no map-side partial for the distinct path). Pre-grouping
      // by (gram, doc_id) keeps BOTH exchanges partially aggregated —
      // identical values (Σ per-doc counts = count, count of groups =
      // count_distinct, min of mins = min); ~3× at sf10 (SCALING.md).
      // One gram exchange serves BOTH aggregation levels (guide §2.4 —
      // the q20/q16 round-15 pattern): hashpartitioning(gram) clusters
      // the (gram, doc_id) pre-group and the per-gram rollup, where the
      // old plan exchanged the partially-aggregated stream twice.
      // Partial agg gave back little here (8-token spans are ~unique
      // within a doc), so the raw-row exchange carries ~the same bytes.
      load(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(expr(s"word_ngrams($toks, $SpanLen)"))
            .as(Seq("p", "gram")))
        .select(col("doc_id"), (col("p") + 1).as("pos"), col("gram"))
        .repartition(col("gram"))
        .groupBy(col("gram"), col("doc_id"))
        .agg(count(lit(1)).as("n_in_doc"),
          min(col("doc_id") * lit(1000000L) + col("pos")).as("enc"))
        .groupBy(col("gram"))
        .agg(sum(col("n_in_doc")).as("n_occ"),
          count(lit(1)).as("n_docs"),
          min(col("enc")).as("enc"))
        .filter(col("n_docs") >= 2)
        .select(col("gram"), col("n_occ"), col("n_docs"),
          expr("enc div 1000000").as("first_doc"),
          (col("enc") % 1000000L).as("first_pos"))
        .orderBy(col("n_docs").desc, col("n_occ").desc, col("gram"))
        .limit(100)),

    // Repeated-span REMOVAL — the cut step that turns dedup_span_detect's
    // signal into a cleaned corpus (Lee et al. 2022 "Deduplicating
    // Training Data Makes Language Models Better", ExactSubstr: delete
    // every verbatim span that also occurs in another document). A token
    // is dropped iff some duplicated SpanLen-gram covers it; survivors
    // keep their original order. Scale (round-16 shape): the gram stream
    // is exploded and exchanged ONCE — the (gram, doc_id) pre-group and
    // the per-gram distinct-doc count both ride a single
    // hashpartitioning(gram) (guide §2.4, the span_detect/q20 pattern);
    // the doc count is a window COUNT over the pre-grouped rows, so the
    // old count_distinct two-phase (two exchanges) AND the join-back that
    // re-scanned + re-exploded the whole corpus (no ReuseExchange across
    // differently-projected subtrees) are gone. Coverage is then applied
    // DOC-LOCALLY — only the per-doc start-position lists (ints, ≤
    // tokens/doc) shuffle to the doc, never exploded token rows. The
    // kept-token pass is O(n) per doc: array_except(position-range,
    // covered) builds a hashed set once, and each survivor is an O(1)
    // element_at — not O(n·|covered|) membership scans. `starts` order
    // and duplicates are immaterial: cov array_distincts and array_except
    // is membership-only, so the flatten needs no sort/dedup.
    "dedup_span_removal" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val grams = docs.select(col("doc_id"),
        posexplode(expr(s"word_ngrams($toks, $SpanLen)"))
          .as(Seq("p", "gram")))
        .select(col("doc_id"), (col("p") + 1).as("pos"), col("gram"))
      val starts = grams
        .repartition(col("gram"))
        .groupBy(col("gram"), col("doc_id"))
        .agg(collect_list(col("pos")).as("ps"))
        .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("gram"))))
        .filter(col("nd") >= 2)
        .groupBy(col("doc_id"))
        .agg(flatten(collect_list(col("ps"))).as("starts"))
      docs.select(col("doc_id"), col("text"))
        .join(starts, Seq("doc_id"), "left")
        .withColumn("t", expr(toks))
        .withColumn("cov",
          expr(s"array_distinct(flatten(transform(coalesce(starts, " +
            s"array()), st -> sequence(st, st + $SpanLen - 1))))"))
        .withColumn("kept",
          expr("transform(array_except(sequence(1, size(t)), cov), " +
            "i -> element_at(t, i))"))
        .select(col("doc_id"),
          size(col("t")).cast("long").as("n_tokens"),
          size(col("kept")).cast("long").as("kept_tokens"),
          expr("array_join(kept, ' ')").as("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // Near-dup CLUSTERS: transitive closure of the Jaccard pairs via
    // distributed connected components (large-star/small-star,
    // graft.operators.ConnectedComponents) — the pairs → clusters step an
    // actual dedup run needs (A≈B, B≈C ⇒ {A,B,C} keep one). cluster_id =
    // min doc_id of the component; bit-exact against DuckDB's recursive-CTE
    // closure of the identical pair set.
    "dedup_clusters" -> ((s, dir) =>
      ConnectedComponents
        .run(jaccardPairs(s, dir).select(col("doc_a"), col("doc_b")),
          "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
        .orderBy(col("doc_id"))),

    // Per-cluster rollup: survivor (= cluster_id, the min) + how many docs
    // collapse into it. The "what did dedup save" report.
    "dedup_cluster_stats" -> ((s, dir) =>
      ConnectedComponents
        .run(jaccardPairs(s, dir).select(col("doc_a"), col("doc_b")),
          "doc_a", "doc_b")
        .groupBy(col("component").as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("cluster_id"))),

    // Leak-proof train/val/test split: the split is a deterministic
    // function of the near-dup CLUSTER id, not the doc id — a document and
    // every one of its near-duplicates land in the SAME split by
    // construction, so an eval set can never be contaminated by a training
    // near-copy (the dedup-aware split a training pipeline needs; doc-level
    // hashing leaks because near-dups hash independently). Docs in no pair
    // are their own singleton cluster. bucket = first two hex digits of
    // md5("split:" + cluster_id) → 0..255; <204 train (~80%), <230 val
    // (~10%), else test — no RNG, replays bit-exactly in the oracle.
    "dedup_split_leakproof" -> ((s, dir) => {
      val comp = ConnectedComponents
        .run(jaccardPairs(s, dir).select(col("doc_a"), col("doc_b")),
          "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("component").as("cid"))
      val bucket = conv(substring(
        md5(concat(lit("split:"), col("cluster_id").cast("string"))), 1, 2),
        16, 10).cast("int")
      scan(s, dir, "documents").select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cid"), col("doc_id")))
        .withColumn("split", when(bucket < 204, "train")
          .when(bucket < 230, "val").otherwise("test"))
        .select(col("doc_id"), col("cluster_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Contrastive training-pair generation (the retrieval/embedding-model
    // data a dedup pipeline's by-product feeds): POSITIVES are the
    // near-dup Jaccard pairs (label 1), NEGATIVES are deterministic
    // hash-sampled partners for every anchor doc appearing in a positive
    // (label 0) — the (anchor, positive, negative) triplet shape of
    // contrastive/triplet-loss training, flattened to labeled pairs.
    // Negative sampling is RNG-free and scale-bounded: a ~16k-doc
    // representative pool is drawn by a deterministic md5-prefix
    // predicate whose threshold is the exact integer cross-multiply
    // hash·n < 2^16·target (no float, replays in SQL; the KMeans trainer's
    // sample-bounding trick), pool docs land in 256 hash buckets (~64
    // each), each (anchor, j) probe picks the md5-argmin pool member of
    // its probe bucket (row_number over a ≤64-row partition), and
    // accidental true-pair collisions are removed by an anti-join against
    // the positives. Everything is md5 arithmetic ⇒ fully oracle-checked.
    // At 100 TB: pool build is one scan + one bounded filter, probes are
    // a keyed join against a 16k-row broadcast-sized pool — negatives
    // cost O(anchors), never O(corpus²).
    "mix_contrastive_pairs" -> ((s, dir) => {
      // The positive set feeds THREE consumers (the labeled union, the
      // anchor list, and the collision anti-join); without a lineage cut
      // each reference recomputes the whole df-capped Jaccard chain —
      // measured 3-4x the query's real work at sf1 (21 s -> the chain
      // once). Round 15 swaps the localCheckpoint for a parquet
      // round-trip: Dataset.localCheckpoint materializes via df.rdd
      // WITHOUT AQE (the r14 finding), so the one chain evaluation lost
      // its runtime broadcast-join conversions and still paid ~15 s at
      // sf1; the temp-table write is a plain AQE-planned action, stays
      // fully distributed (no driver bound — the pair list grows with
      // corpus size, unlike doremi's model-sized frame), and the three
      // consumers re-read a plain scan. sf1: 20.3 -> ~6 s.
      val pos = materialize(s, jaccardPairs(s, dir)
        .select(col("doc_a"), col("doc_b")))
      val docs = scan(s, dir, "documents").select(col("doc_id"))
      val nRow = docs.agg(count(lit(1)).as("n"))
      val pool = docs.crossJoin(broadcast(nRow))
        .filter(
          conv(substring(md5(concat(lit("cp:"), col("doc_id").cast("string"))),
            1, 4), 16, 10).cast("bigint") * col("n") <
            lit(65536L) * lit(PoolTarget))
        .select(col("doc_id"),
          conv(substring(md5(concat(lit("cb:"), col("doc_id").cast("string"))),
            1, 2), 16, 10).cast("bigint").as("bucket"))
      val anchors = pos.select(col("doc_a").as("a"))
        .union(pos.select(col("doc_b").as("a"))).distinct()
      val probes = anchors
        .select(col("a"), explode(array(lit(1L), lit(2L))).as("j"))
        .withColumn("bucket",
          conv(substring(md5(concat(lit("nb:"), col("a").cast("string"),
            lit(":"), col("j").cast("string"))), 1, 2), 16, 10)
            .cast("bigint"))
      // per-(anchor, j) argmin by (h, doc_id) as a plain MIN aggregate,
      // not a row_number window and not min_by-over-struct: the window
      // form shuffled and sorted the full probes×bucket-members stream
      // (6.2M rows at sf1 — 13 of the query's 20 s); min() combines
      // map-side, so the exchange carries one candidate per (a, j).
      // (A string min buffer is not hash-aggregable — the partial agg is
      // a SortAggregate — but each task sorts only its own slice by
      // (a, j) and ships one row per probe; the ordering key is ONE
      // string — h (fixed 32 hex chars) ++ zero-padded doc_id,
      // lexicographic == numeric for non-negative longs. Same selection
      // as the oracle's ROW_NUMBER ... ORDER BY h, doc_id.)
      //
      // broadcast(pool), NOT the planner's choice: pool is ≤ ~PoolTarget
      // rows BY CONSTRUCTION (a bounded model-sized frame at any corpus
      // size), while probes grow with the corpus. Round-15 probe: AQE
      // broadcast the PROBES side instead, so the ×64 bucket fan-out —
      // 6.2M md5+compare rows at sf1 — streamed through the pool scan's
      // 1-2 input partitions and the whole argmin ran on one core
      // (15.9 s of the query's 18; executed-plan evidence in
      // plans/r15/mix_contrastive_pairs2_before.txt).
      //
      // The explicit repartition by the aggregation key exists because
      // AQE sizes partitions from the PRE-fan-out bytes: the probes
      // exchange is ~4 MiB at sf1, so coalescing collapses it to one
      // partition and the ×64 explode behind the broadcast join — and
      // the whole argmin — still ran serial (6.9 s piecewise). AQE
      // cannot see through an expansion; the partition count is the
      // session's shuffle-partitions conf (scale-configured, never a
      // local constant). sf1 warm (hash_all): 17.4 → ~5.4 s across the
      // two steps; sf0.1 unchanged (the fan-out is tiny there).
      val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
      // argmin carrier: min over a (h, doc_id) STRUCT — field-ordered
      // comparison IS the oracle's ROW_NUMBER ... ORDER BY h, doc_id, for
      // ANY doc_id sign (the round-15 packed string `h ++ lpad(doc_id)`
      // was lexicographic == numeric only for doc_id >= 0 — true of this
      // generator but an undeclared contract, VERDICT r15 #9). Same
      // SortAggregate class either way (neither a string nor a struct min
      // buffer is mutable-fixed-width); measured within noise at sf1.
      val neg = probes.repartition(nPart, col("a"), col("j"))
        .join(broadcast(pool), "bucket")
        .filter(col("doc_id") =!= col("a"))
        .withColumn("h", md5(concat(lit("np:"), col("a").cast("string"),
          lit(":"), col("j").cast("string"), lit(":"),
          col("doc_id").cast("string"))))
        .groupBy(col("a"), col("j"))
        .agg(min(struct(col("h"), col("doc_id"))).as("mk"))
        .select(col("a"), col("mk.doc_id").as("doc_id"))
        .select(least(col("a"), col("doc_id")).as("doc_a"),
          greatest(col("a"), col("doc_id")).as("doc_b"))
        .distinct()
        .join(pos, Seq("doc_a", "doc_b"), "left_anti")
        .withColumn("label", lit(0L))
      pos.withColumn("label", lit(1L)).union(neg)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Content-defined chunking dedup (Gear rolling hash, FastCDC family):
    // variable-size chunks keyed by content, so shared passages align
    // across documents regardless of offset shifts (which fixed windows
    // miss after an insertion). Bit-exact oracle (the Gear boundary test
    // only sees the low 5 bits, so it replays as a 5-term LAG window);
    // edit-locality and dup-coverage additionally pinned in
    // TextHashesSpec/DedupSimilaritySpec. Same ≤64-doc bucket cap as
    // every candidate generator.
    "dedup_cdc_chunks" -> ((s, dir) =>
      load(s, dir, "documents")
        .select(col("doc_id"), explode(expr("cdc_chunks(text, 5)")).as("ch"))
        .groupBy(col("ch"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_hits"))
        .filter(col("n_docs").between(2, 64))
        .select(col("ch"), col("n_docs").cast("bigint").as("n_docs"),
          col("n_hits").cast("bigint").as("n_hits"))
        .orderBy(col("ch"))),

    // MinHash-LSH near-dup candidates: 32-permutation signature, 8 bands of
    // 4 — candidate pairs share ≥1 band; estimated Jaccard = matching
    // signature positions / 32. Bucket-collect form: signatures are
    // computed ONCE (the naive banded self-join re-evaluated the MinHash
    // on both sides and shuffled full signatures twice), buckets group on
    // the (band, slice) key, pairs + estimates come from each bucket's
    // list. Bit-exact oracle (FNV + splitmix64 + slice bands all replay).
    //
    // A/B-measured (sf0.1, local[32], 3 runs): carrying the 32-long sig
    // through the band exchange (this form, ~4.3 s) beats banding on ids
    // only and re-joining sigs for the estimate (~8.1 s) — the join
    // variant recomputes MinHashSig on both join sides (lambda subtrees
    // never ReuseExchange), and that CPU dwarfs the signature bytes saved
    // from the shuffle at any SF where compute ∝ shuffle volume.
    "dedup_minhash_pairs" -> ((s, dir) => {
      // minhash_ngrams fuses shingling + MinHash in one codegen'd pass
      // (bit-identical signature — duplicate shingles can't lower a min —
      // A/B 3.8 s → 0.3 s at sf0.1, pinned by TextHashesSpec)
      // Band key = the 4-long slice ITSELF (not a hash of it): bucket
      // equality is exactly slice equality — no collision term in the
      // candidate set, and the key replays verbatim in the DuckDB oracle
      // (which promoted this query to bit-exact). The exchange carries 32
      // key bytes instead of 8; at any SF the band shuffle is dwarfed by
      // the signature payload it already carries.
      val bands = load(s, dir, "documents")
        .select(col("doc_id"), expr(s"minhash_ngrams($toks, 3, 32)").as("sig"))
        .select(col("doc_id"), col("sig"),
          posexplode(expr(
            "transform(sequence(0, 7), b -> slice(sig, b * 4 + 1, 4))"))
            .as(Seq("band", "bkey")))
      // Cap as well as floor the bucket: a duplicate-heavy corpus (the
      // input of a dedup pipeline) puts every copy of a boilerplate doc in
      // the same band bucket — an uncapped bucket is n²/2 pairs in ONE
      // task. Over-full buckets are dropped; their pairs are recovered by
      // the other 7 bands (recall pinned in DedupSimilaritySpec).
      bands.groupBy(col("band"), col("bkey"))
        .agg(expr("sort_array(collect_list(struct(doc_id, sig)))").as("ds"))
        .filter(size(col("ds")).between(2, DfCap))
        // struct_pairs + sig_match: the whole pair path is native (no
        // interpreted lambda per pair)
        .select(explode(expr("struct_pairs(ds)")).as("p"))
        .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
          (expr("sig_match(p.a.sig, p.b.sig)").cast("double") / 32.0)
            .as("est"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(max(col("est")).as("est_jaccard"))
        .filter(col("est_jaccard") >= 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Incremental near-dup: a ~10% md5-selected "delta" of newly-arrived
    // docs probed against the MinHash band INDEX of the other 90% — the
    // shard-arrival dedup a continuously-ingesting pipeline runs, with
    // corpus text never rescanned (operators/IncrementalDedup.scala).
    // Same signature kernels as dedup_minhash_pairs, so the estimates
    // replay bit-exactly in the oracle; same 2..DfCap bucket cap.
    "dedup_incremental_pairs" -> ((s, dir) => {
      import graft.operators.IncrementalDedup
      val isDelta = conv(substring(md5(concat(lit("delta:"),
        col("doc_id").cast("string"))), 1, 2), 16, 10).cast("int") < 26
      val docs = load(s, dir, "documents")
      IncrementalDedup.probe(
          IncrementalDedup.buildIndex(docs.filter(!isDelta)),
          IncrementalDedup.buildIndex(docs.filter(isDelta)),
          cap = DfCap)
        .orderBy(col("delta_id"), col("base_id"))
    }),

    // Embedding exact dedup: bit-identical vectors collapse to one keeper.
    // Groups directly on the vector value — at scale, group on a 128-bit
    // content hash of the vector bytes instead; same plan shape.
    "dedup_embedding_exact" -> ((s, dir) =>
      scan(s, dir, "embeddings")
        .groupBy(col("embedding"))
        .agg(min(col("vec_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .select(col("keep_id"), col("n_dups"))
        .orderBy(col("keep_id"))),

    // Embedding-cosine near-dup: LSH-bucketed candidates — 6 hash tables
    // of 6 independent hyperplanes each (64 buckets/table; collision prob
    // ~(1-θ/π)^6 per table keeps recall while bounding bucket occupancy),
    // exact double cosine ≥ threshold within buckets — never an all-pairs
    // cross join. Vectors are L2-normalized ONCE before bucketing so each
    // candidate pair costs one dot product, not a dot + two norms.
    // Fully oracle-checked as of round 6 (the buckets, the cap, the
    // normalize-first cosine and the threshold all replay in SQL —
    // promoted from rows-only); precision 1.0 + recall additionally
    // pinned by DedupSimilaritySpec.
    "dedup_embedding_near" -> ((s, dir) => {
      val pl = lshPlanes(s, dir)
      val b = load(s, dir, "embeddings")
        // native codegen'd LSH signatures (graft.functions.LshBuckets) on
        // the RAW embedding — the form the oracle replays. Bucketing the
        // normalized vector was equivalent under the old double-sum
        // semantics (positive scaling never flips an exact-real
        // projection sign) but is NOT under the round-9 micro-unit
        // quantization: quantizing x and quantizing x/‖x‖ land on
        // different lattice points, and a near-zero projection can
        // bucket differently — the sf10 sampled gate caught exactly
        // this as a 55-pair divergence at 200k vectors. The normalized
        // vector (native vec_normalize: one norm pass per row) is still
        // carried for the exact cosine re-rank.
        .select(col("vec_id"), expr("vec_normalize(embedding)").as("ne"),
          posexplode(expr(s"lsh_buckets(embedding, $LshTables, $pl)"))
            .as(Seq("table_id", "bucket")))
      // Capped like minhash/winnow: an over-full bucket (many identical
      // vectors hash to the same cell in every table) would otherwise
      // explode n²/2 pairs in one task AND collect n full 64-float vectors
      // into a single aggregation buffer. Dropped buckets' pairs are
      // recovered by the other 5 tables (recall pinned). Bucket IDS are
      // pre-filtered before the vector exchange (the count agg ships only
      // partial counts), so over-full buckets' vectors never shuffle. No
      // forced broadcast: with auto-sized planes the qualifying list is
      // O(n/occupancy) keys — KBs at the gate SFs (AQE broadcasts it
      // there anyway) but not something to pin to the driver at petabyte
      // corpus sizes (same reasoning as knnGraphEdges).
      val good = b.groupBy(col("table_id"), col("bucket"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n").between(2, VecBucketCap))
        .select(col("table_id"), col("bucket"))
      val cands = b.join(good, Seq("table_id", "bucket"))
        .groupBy(col("table_id"), col("bucket"))
        .agg(expr("sort_array(collect_list(struct(vec_id, ne)))").as("vs"))
        // struct_pairs + vec_dot: fully native pair path
        .select(explode(expr("struct_pairs(vs)")).as("p"))
        .select(col("p.a.vec_id").as("vec_a"), col("p.b.vec_id").as("vec_b"),
          round(expr("vec_dot(p.a.ne, p.b.ne)"), 6).as("cos"))
        .groupBy(col("vec_a"), col("vec_b")).agg(max(col("cos")).as("cos"))
      cands.filter(col("cos") >= EmbCosMin.toDouble)
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // Threshold-sensitivity curve over the near-dup pair set — the knob-
    // tuning artifact a dedup deployment produces before fixing its
    // cutoff (how many pairs does each candidate threshold keep?). The
    // pair set is the registered dedup_embedding_near REUSED (so the
    // sweep can never drift from the operator it tunes); the sweep itself
    // is one explode over a 6-literal threshold array + an exact 0/1 sum
    // per threshold — no joins, no second pass over the corpus.
    "dedup_threshold_sweep" -> ((s, dir) =>
      queries("dedup_embedding_near")(s, dir)
        .select(explode(typedlit(SweepThresholds)).as("threshold"),
          col("cos"))
        .select(col("threshold"),
          (col("cos") >= col("threshold")).cast("long").as("hit"))
        .groupBy(col("threshold"))
        .agg(sum(col("hit")).as("n_pairs"))
        .orderBy(col("threshold"))),

    // Semantic dedup (SemDeDup, Abbas et al. 2023 — public): cluster-
    // scoped near-dup collapse over embeddings. Candidates must share the
    // semantic cell (label = the coarse cluster) AND an LSH bucket
    // (capped — the same 6×6 tables as dedup_embedding_near, so cell
    // occupancy never explodes a task); pairs keep exact cosine ≥ 0.30;
    // connected components collapse each dup group to its min-id
    // representative. Output: the PRUNED corpus — one survivor per group
    // plus all singletons, with group size. Unlike the other candidate
    // generators this one is FULLY oracle-checked: LSH buckets, cosine,
    // and the transitive closure all replay in ANSI SQL.
    "dedup_semantic_survivors" -> ((s, dir) => {
      val pl = lshPlanes(s, dir)
      val emb = load(s, dir, "embeddings")
      val b = emb.select(col("vec_id"), col("label"), col("embedding"),
        posexplode(expr(s"lsh_buckets(embedding, $LshTables, $pl)"))
          .as(Seq("table_id", "bucket")))
      // same bucket-id pre-filter as dedup_embedding_near, keyed by
      // (label, table, bucket); unforced for the same sizing reason
      val good = b.groupBy(col("label"), col("table_id"), col("bucket"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n").between(2, VecBucketCap))
        .select(col("label"), col("table_id"), col("bucket"))
      val pairs = b.join(good, Seq("label", "table_id", "bucket"))
        .groupBy(col("label"), col("table_id"), col("bucket"))
        .agg(expr("sort_array(collect_list(struct(vec_id, embedding)))")
          .as("vs"))
        .select(explode(expr("struct_pairs(vs)")).as("p"))
        .select(col("p.a.vec_id").as("va"), col("p.b.vec_id").as("vb"),
          round(expr("vec_cos(p.a.embedding, p.b.embedding)"), 6).as("cos"))
        .groupBy(col("va"), col("vb")).agg(max(col("cos")).as("cos"))
        .filter(col("cos") >= SemCosMin.toDouble)
      val comp = ConnectedComponents
        .run(pairs.select(col("va"), col("vb")), "va", "vb")
        .withColumnRenamed("node", "vec_id")
        .withColumnRenamed("component", "rep")
      val sizes = comp.groupBy(col("rep")).agg(count(lit(1)).as("n_members"))
      emb.select(col("vec_id"), col("label").cast("long").as("label"))
        .join(comp, Seq("vec_id"), "left")
        .withColumn("rep", coalesce(col("rep"), col("vec_id")))
        .filter(col("vec_id") === col("rep"))
        .join(sizes, Seq("rep"), "left")
        .select(col("vec_id"), col("label"),
          coalesce(col("n_members"), lit(1L)).as("n_members"))
        .orderBy(col("vec_id"))
    }),

    // Winnowing near-dup candidates (Schleimer et al. fingerprints): docs
    // sharing ≥ MinShared selected k-gram fingerprints. The winnowed
    // signature is ~|text|/w hashes, so the inverted index is w× smaller
    // than the full shingle index — the cheap first-pass at 100 TB.
    // Bit-exact oracle (same window-minima replay as text_fingerprint).
    //
    // No silent caps (round-14 VERDICT #8): at sf10's 100-replica corpus
    // the DfCap drops EVERY bucket (each fingerprint lives in ≥100 docs),
    // which is correct per the cap contract but must not be invisible — a
    // real corpus with hot boilerplate would lose those pairs the same
    // way. The dropped-bucket count and posting mass ride the existing
    // aggregation pass as an OBSERVED metric (zero extra jobs), logged by
    // CapDrops' listener on every action and pinned in CapDropsSpec.
    "dedup_winnow_pairs" -> ((s, dir) => {
      CapDrops.ensureListener(s)
      val fp = load(s, dir, "documents")
        .select(col("doc_id"),
          explode(expr(s"winnow_fingerprint(text, $WinnowK, $WinnowW)"))
            .as("f"))
      fp.groupBy(col("f"))
        .agg(expr("sort_array(collect_list(doc_id))").as("ds"))
        .observe(s"graft_dropped_winnow_${CapDrops.nextId()}",
          count(when(size(col("ds")) > DfCap, lit(1)))
            .as("dropped_buckets"),
          coalesce(sum(when(size(col("ds")) > DfCap,
            size(col("ds")).cast("long"))), lit(0L)).as("dropped_postings"),
          count(lit(1)).as("total_buckets"))
        .filter(size(col("ds")).between(2, DfCap))
        .select(explode(expr("ordered_pairs(ds)")).as("p"))
        .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
        .agg(count(lit(1)).cast("long").as("shared_fp"))
        .filter(col("shared_fp") >= WinnowMinShared)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Companion drop audit for the winnow cap — ORACLE-GATED telemetry
    // (round-14 VERDICT #8). The observed metric above logs the drop on
    // every non-empty run, but AQE's empty-relation propagation replaces
    // the plan subtree (CollectMetrics included) exactly when EVERYTHING
    // was dropped and the result is empty — the case that most needs the
    // explanation. This one-row query is the loss-proof channel: at sf10's
    // 100-replica corpus it reports every bucket dropped (the reason
    // dedup_winnow_pairs is legitimately 0-row there), DuckDB-replayed
    // bit-exactly at every gate SF.
    "dedup_winnow_dropped" -> ((s, dir) =>
      load(s, dir, "documents")
        .select(col("doc_id"),
          explode(expr(s"winnow_fingerprint(text, $WinnowK, $WinnowW)"))
            .as("f"))
        .groupBy(col("f")).agg(count(lit(1)).as("n"))
        .agg(
          count(when(col("n") > DfCap, lit(1))).as("dropped_buckets"),
          coalesce(sum(when(col("n") > DfCap, col("n"))), lit(0L))
            .as("dropped_postings"),
          count(lit(1)).as("total_buckets"))),

    // SimHash near-dup candidates: 64-bit SimHash, 4 bands of 16 bits —
    // pairs sharing a band, kept iff Hamming distance ≤ 6. Bucket-collect
    // form (A/B-measured 2-3× faster than the banded self-join: one
    // exchange on the compact band key instead of two wide shuffles plus a
    // join), with the same df-cap guard as minhash/winnow — a hot band
    // (e.g. near-empty docs all simhash to 0) is dropped rather than
    // exploded quadratically; its pairs are recovered by the other 3
    // bands. Bit-exact oracle; recall pinned in DedupSimilaritySpec.
    "dedup_simhash_pairs" -> ((s, dir) => {
      val bands = load(s, dir, "documents")
        .select(col("doc_id"), expr(s"simhash64($toks)").as("sh"))
        .select(col("doc_id"), col("sh"),
          posexplode(expr(
            "transform(sequence(0, 3), b -> shiftrightunsigned(sh, b * 16) & 65535)"))
            .as(Seq("band", "bkey")))
      bands.groupBy(col("band"), col("bkey"))
        .agg(expr("sort_array(collect_list(struct(doc_id, sh)))").as("ds"))
        .filter(size(col("ds")).between(2, DfCap))
        // struct_pairs + native xor/bit_count: no interpreted lambda
        .select(explode(expr("struct_pairs(ds)")).as("p"))
        .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
          expr("cast(bit_count(p.a.sh ^ p.b.sh) as bigint)").as("hamming"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(min(col("hamming")).as("hamming"))
        .filter(col("hamming") <= 6)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // CCNet-style duplicated-PARAGRAPH removal (Wenzek et al. 2020,
    // "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    // Data" — public technique: hash every paragraph, keep exactly one
    // copy corpus-wide). The synthetic corpus has no newlines, so
    // "paragraph" = consecutive NON-overlapping ParaLen-token segments
    // (last one may be short) — a third dedup granularity between
    // doc-level (dedup_exact_*) and the overlapping per-token spans of
    // dedup_span_removal. An occurrence survives iff it is the corpus-wide
    // first occurrence of its md5 (min doc_id*1e6+k, the span_detect
    // encoding) — CCNet keeps one copy, not zero. Scale: segment rows are
    // n_tokens/ParaLen (16× fewer than token rows); the only exchanges are
    // one map-side-partial groupBy on the 16-byte md5, the key join back
    // (no broadcast assumption — the dup set grows with the corpus), and
    // the per-doc reassembly of (k, ptext) segment rows — never exploded
    // tokens, never a global sort before the output ORDER BY.
    "dedup_paragraphs" -> ((s, dir) => {
      val paras = load(s, dir, "documents")
        .select(col("doc_id"), expr(toks).as("t"))
        .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
          posexplode(expr(
            s"transform(sequence(0, cast((size(t) + ${ParaLen - 1}) div " +
              s"$ParaLen as int) - 1), " +
              s"k -> array_join(slice(t, k * $ParaLen + 1, $ParaLen), ' '))"))
            .as(Seq("k", "ptext")))
      val firsts = paras
        .select(md5(col("ptext")).as("h"),
          (col("doc_id") * lit(1000000L) + col("k")).as("enc"))
        .groupBy(col("h")).agg(min(col("enc")).as("first_enc"))
      paras
        .withColumn("h", md5(col("ptext")))
        .join(firsts, "h")
        .withColumn("keep",
          (col("doc_id") * lit(1000000L) + col("k")) === col("first_enc"))
        .groupBy(col("doc_id"))
        .agg(
          max(col("n_tokens")).as("n_tokens"),
          count(lit(1)).as("n_paras"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("kept_paras"),
          sum(when(col("keep"),
              expr("cast(size(split(ptext, ' ')) as bigint)"))
            .otherwise(0L)).as("kept_tokens"),
          expr("array_join(transform(array_sort(collect_list(" +
            "case when keep then struct(k, ptext) end)), x -> x.ptext), ' ')")
            .as("clean_text"))
        .orderBy(col("doc_id"))
    })
  )

  /** Exact n-gram Jaccard near-dup pairs (unordered output) — shared by
    * dedup_ngram_jaccard (+ ORDER BY) and the cluster queries (as the edge
    * list; sorting 1M+ pairs before a groupBy would be wasted work).
    *
    * Design note (A/B-measured): deriving per-doc set sizes by
    * re-aggregating the exploded POSTINGS (cheap longs) and joining
    * beats carrying sizes through the pair explosion — any projection
    * that references the shingle expression after the Generate
    * recomputes the whole array per emitted row (O(shingles²)/doc).
    * One scan feeds the postings; sizes re-aggregate those longs.
    *
    * Postings key = the fused shingle_hashes expression (distinct
    * FNV-64 of each 3-token window, streamed over token bytes — no
    * shingle strings are ever built, and the whole pass is codegen'd;
    * the interpreted HOF shingler was 16× slower, A/B 4.0 s → 0.24 s
    * at sf0.1). The index exchange carries 8-byte longs instead of
    * ~25-byte strings. Intersection counts are unchanged modulo
    * 2⁻⁶⁴-scale hash collisions (hash-equality classes = string
    * equality on any realistic shingle vocabulary; count-equivalence
    * pinned by TextHashesSpec).
    */
  /** Shared candidate-pair statistics for the set-overlap metrics:
    * (doc_a, doc_b, inter, na, nb) over the df-capped shingle inverted
    * index. Both the Jaccard and containment queries are a single scalar
    * away from this frame, so they share one index/aggregation shape (and
    * one scale argument).
    */
  private def pairStats(s: SparkSession, dir: String): DataFrame = {
    val ex = load(s, dir, "documents")
      .select(col("doc_id"),
        explode(expr(s"shingle_hashes($toks, 3)")).as("s"))
    val buckets = ex.groupBy(col("s"))
      .agg(expr("sort_array(collect_list(doc_id))").as("ds"))
      .filter(size(col("ds")) <= DfCap)
    val sizes = buckets
      .select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    // ordered_pairs is native (the HOF pair lambda interprets a boxed
    // call per emitted pair; ~1.1M pairs at sf0.1 — A/B 2.2 s → 1.6 s)
    val pairs = buckets.select(explode(expr("ordered_pairs(ds)")).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // sizes is one row per doc: small here (AQE broadcasts it), a keyed
    // shuffle join at 100 TB — both correct, so leave the choice to AQE.
    pairs
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
  }

  private[graft] def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    pairStats(s, dir)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= JaccardMin)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))

  private val duckShingles =
    """list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
        i -> string_split(text, ' ')[i] || ' ' ||
             string_split(text, ' ')[i + 1] || ' ' ||
             string_split(text, ' ')[i + 2]))"""

  /** Shared DuckDB CTE chain rebuilding the Jaccard pair set (identical to
    * the dedup_ngram_jaccard oracle), ending in `jp(doc_a, doc_b)`, plus
    * the recursive transitive closure down to `comp(doc_id, cluster_id)` —
    * DuckDB's way to express what ConnectedComponents computes distributed.
    */
  private val duckClusterCtes =
    s"""WITH RECURSIVE ex AS (
          SELECT doc_id, unnest($duckShingles) AS s FROM documents),
        rare AS (
          SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= $DfCap),
        e2 AS (SELECT ex.* FROM ex JOIN rare USING (s)),
        sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM e2 GROUP BY doc_id),
        p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
          FROM e2 a JOIN e2 b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        jp AS (
          SELECT doc_a, doc_b FROM p
          JOIN sizes na ON na.doc_id = doc_a
          JOIN sizes nb ON nb.doc_id = doc_b
          WHERE CAST(inter AS DOUBLE) / (na.nsh + nb.nsh - inter)
                  >= $JaccardMin),
        e AS (SELECT doc_a AS a, doc_b AS b FROM jp
              UNION SELECT doc_b, doc_a FROM jp),
        n AS (SELECT DISTINCT a AS id FROM e),
        reach(id, r) AS (
          SELECT id, id FROM n
          UNION
          SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
        comp AS (
          SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)"""

  // (`oracleBase` rather than `oracle` so dedup_threshold_sweep can compose
  // the embedding-near replay verbatim — single-sourced, see below.)
  private val oracleBase: Map[String, String] = Map(
    "dedup_exact_groups" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
                COUNT(*) AS n_dups
         FROM documents GROUP BY 1 ORDER BY content_hash""",
    "dedup_exact_keep" ->
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
         FROM documents GROUP BY text ORDER BY doc_id""",
    "dedup_embedding_exact" ->
      """SELECT MIN(vec_id) AS keep_id, COUNT(*) AS n_dups
         FROM embeddings GROUP BY embedding ORDER BY keep_id""",
    // Promoted from rows-only in round 6: same CTE chain as the semantic
    // dedup (buckets on the shared plane weights, ≤cap groups, DISTINCT
    // cross-table pairs) but label-free, and the cosine mirrors the
    // engine's normalize-FIRST order (each element divided by its
    // vector's norm, then the dot) so the 6dp rounding sees the same
    // value both sides.
    // ORDER-SENSITIVITY CAVEAT (here and dedup_semantic_survivors): the
    // two sides compare ROUND(SUM(float products), 6), and neither
    // engine pins its SUM accumulation order — parity is empirical
    // (holds at every gated SF/CPUS combination), not guaranteed. If a
    // future SF flips one pair exactly on a 0.5e-6 boundary, diagnose as
    // summation-order rounding skew (compare the unrounded cosines), not
    // as an engine bug.
    "dedup_embedding_near" ->
      s"""WITH $duckPl,
          d AS (
            SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings),
          planes AS (SELECT t, j, t * (SELECT np FROM pl) + j AS p
                     FROM (SELECT unnest(range(0, $LshTables)) AS t),
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
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
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
            SELECT c.vec_a, c.vec_b,
                   ROUND(SUM(na.xn * nb.xn), 6) AS cos
            FROM cand c
            JOIN nd na ON na.vec_id = c.vec_a
            JOIN nd nb ON nb.vec_id = c.vec_b AND nb.dim = na.dim
            GROUP BY c.vec_a, c.vec_b)
          SELECT vec_a, vec_b, cos FROM pairs
          WHERE cos >= $EmbCosMin ORDER BY vec_a, vec_b""",
    "dedup_ngram_jaccard" ->
      s"""WITH ex AS (
            SELECT doc_id, unnest($duckShingles) AS s FROM documents),
          rare AS (
            SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= $DfCap),
          e2 AS (SELECT ex.* FROM ex JOIN rare USING (s)),
          sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM e2 GROUP BY doc_id),
          p AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM e2 a JOIN e2 b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
          SELECT doc_a, doc_b, inter,
                 CAST(inter AS DOUBLE) / (na.nsh + nb.nsh - inter) AS jaccard
          FROM p
          JOIN sizes na ON na.doc_id = doc_a
          JOIN sizes nb ON nb.doc_id = doc_b
          WHERE CAST(inter AS DOUBLE) / (na.nsh + nb.nsh - inter) >= $JaccardMin
          ORDER BY doc_a, doc_b""",
    // Full replay of the contrastive-pair generator: the positives CTE is
    // the dedup_ngram_jaccard chain; pool/probe/argmin are md5 integer
    // arithmetic ('0x'||hex cast = Spark's conv(...,16,10)).
    "mix_contrastive_pairs" ->
      s"""WITH ex AS (
            SELECT doc_id, unnest($duckShingles) AS s FROM documents),
          rare AS (
            SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= $DfCap),
          e2 AS (SELECT ex.* FROM ex JOIN rare USING (s)),
          sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM e2 GROUP BY doc_id),
          p AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM e2 a JOIN e2 b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          jp AS (
            SELECT doc_a, doc_b FROM p
            JOIN sizes na ON na.doc_id = doc_a
            JOIN sizes nb ON nb.doc_id = doc_b
            WHERE CAST(inter AS DOUBLE) / (na.nsh + nb.nsh - inter)
                    >= $JaccardMin),
          nn AS (SELECT COUNT(*) AS n FROM documents),
          pool AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5('cb:' || CAST(doc_id AS VARCHAR)),
                     1, 2)) AS BIGINT) AS bucket
            FROM documents CROSS JOIN nn
            WHERE CAST(('0x' || substr(md5('cp:' || CAST(doc_id AS VARCHAR)),
                    1, 4)) AS BIGINT) * n < 65536 * $PoolTarget),
          anchors AS (
            SELECT DISTINCT a FROM (
              SELECT doc_a AS a FROM jp UNION SELECT doc_b FROM jp)),
          probes AS (
            SELECT a, j,
                   CAST(('0x' || substr(md5('nb:' || CAST(a AS VARCHAR) ||
                     ':' || CAST(j AS VARCHAR)), 1, 2)) AS BIGINT) AS bucket
            FROM anchors, (SELECT unnest([1, 2]) AS j)),
          cand AS (
            SELECT pr.a, pr.j, po.doc_id,
                   md5('np:' || CAST(pr.a AS VARCHAR) || ':' ||
                     CAST(pr.j AS VARCHAR) || ':' ||
                     CAST(po.doc_id AS VARCHAR)) AS h
            FROM probes pr JOIN pool po USING (bucket)
            WHERE po.doc_id <> pr.a),
          pick AS (
            SELECT a, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY a, j
                     ORDER BY h, doc_id) AS rn
            FROM cand),
          negpairs AS (
            SELECT DISTINCT LEAST(a, doc_id) AS doc_a,
                   GREATEST(a, doc_id) AS doc_b
            FROM pick WHERE rn = 1),
          neg AS (
            SELECT np.doc_a, np.doc_b FROM negpairs np
            ANTI JOIN jp ON jp.doc_a = np.doc_a AND jp.doc_b = np.doc_b)
          SELECT doc_a, doc_b, CAST(1 AS BIGINT) AS label FROM jp
          UNION ALL
          SELECT doc_a, doc_b, CAST(0 AS BIGINT) AS label FROM neg
          ORDER BY doc_a, doc_b""",
    // BRUTE-FORCE all-pairs (no prefix logic, no cap): matching this is
    // the losslessness proof of the engine's prefix-filtered form.
    "dedup_prefix_pairs" ->
      s"""WITH ex AS (
            SELECT doc_id, unnest($duckShingles) AS s FROM documents),
          sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM ex GROUP BY doc_id),
          p AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
          SELECT doc_a, doc_b, inter,
                 CAST(inter AS DOUBLE) / (na.nsh + nb.nsh - inter) AS jaccard
          FROM p
          JOIN sizes na ON na.doc_id = doc_a
          JOIN sizes nb ON nb.doc_id = doc_b
          WHERE CAST(inter AS DOUBLE) / (na.nsh + nb.nsh - inter)
                  >= $JaccardMin
          ORDER BY doc_a, doc_b""",
    "dedup_containment_pairs" ->
      s"""WITH ex AS (
            SELECT doc_id, unnest($duckShingles) AS s FROM documents),
          rare AS (
            SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= $DfCap),
          e2 AS (SELECT ex.* FROM ex JOIN rare USING (s)),
          sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM e2 GROUP BY doc_id),
          p AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM e2 a JOIN e2 b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
          SELECT doc_a, doc_b, inter,
                 CAST(inter AS DOUBLE) / LEAST(na.nsh, nb.nsh) AS containment
          FROM p
          JOIN sizes na ON na.doc_id = doc_a
          JOIN sizes nb ON nb.doc_id = doc_b
          WHERE CAST(inter AS DOUBLE) / LEAST(na.nsh, nb.nsh) >= $ContainMin
          ORDER BY doc_a, doc_b""",
    "dedup_span_detect" ->
      s"""WITH g AS (
            SELECT doc_id, i AS pos,
                   array_to_string(t[i:i + $SpanLen - 1], ' ') AS gram
            FROM (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
                 UNNEST(RANGE(1, GREATEST(LEN(t) - $SpanLen + 1, 0) + 1))
                   AS r(i)),
          agg AS (
            SELECT gram, COUNT(*) AS n_occ,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   MIN(doc_id * 1000000 + pos) AS enc
            FROM g GROUP BY gram)
          SELECT gram, n_occ, n_docs,
                 enc // 1000000 AS first_doc, enc % 1000000 AS first_pos
          FROM agg WHERE n_docs >= 2
          ORDER BY n_docs DESC, n_occ DESC, gram LIMIT 100""",
    // Span removal: same gram replay as span_detect, then per-doc covered
    // positions and an order-preserving comprehension over the kept ones.
    "dedup_span_removal" ->
      s"""WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          g AS (
            SELECT doc_id, i AS pos,
                   array_to_string(t[i:i + $SpanLen - 1], ' ') AS gram
            FROM t,
                 UNNEST(RANGE(1, GREATEST(LEN(t) - $SpanLen + 1, 0) + 1))
                   AS r(i)),
          dup AS (
            SELECT gram FROM g GROUP BY gram
            HAVING COUNT(DISTINCT doc_id) >= 2),
          cov AS (
            SELECT g.doc_id, LIST(DISTINCT cp) AS cov
            FROM g JOIN dup USING (gram),
                 UNNEST(generate_series(pos, pos + $SpanLen - 1)) AS u(cp)
            GROUP BY g.doc_id),
          k AS (
            SELECT t.doc_id, CAST(LEN(t.t) AS BIGINT) AS n_tokens,
                   [t.t[ki] FOR ki IN generate_series(1, LEN(t.t))
                    IF NOT list_contains(COALESCE(cov.cov, []), ki)] AS kept
            FROM t LEFT JOIN cov USING (doc_id))
          SELECT doc_id, n_tokens, CAST(LEN(kept) AS BIGINT) AS kept_tokens,
                 -- DuckDB: array_to_string([]) is NULL, Spark array_join
                 -- of an empty array is '' — pin the Spark behavior
                 COALESCE(array_to_string(kept, ' '), '') AS clean_text
          FROM k ORDER BY doc_id""",
    // Semantic dedup: the full engine dataflow replayed in SQL — LSH
    // buckets (same plane weights as sim_lsh_buckets), label+bucket
    // candidates with the 200 cap, exact 6dp cosine gate, recursive-CTE
    // transitive closure, min-id representative, survivor projection.
    "dedup_semantic_survivors" ->
      s"""WITH RECURSIVE $duckPl,
          d AS (
            SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings),
          planes AS (SELECT t, j, t * (SELECT np FROM pl) + j AS p
                     FROM (SELECT unnest(range(0, $LshTables)) AS t),
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
          lb AS (SELECT b.vec_id, e.label, b.t, b.bucket
                 FROM bkt b JOIN embeddings e USING (vec_id)),
          grp AS (SELECT label, t, bucket, COUNT(*) AS n
                  FROM lb GROUP BY 1, 2, 3),
          cand AS (
            SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
            FROM lb a
            JOIN lb b ON a.label = b.label AND a.t = b.t
                     AND a.bucket = b.bucket AND a.vec_id < b.vec_id
            JOIN grp g ON g.label = a.label AND g.t = a.t
                      AND g.bucket = a.bucket
            WHERE g.n BETWEEN 2 AND $VecBucketCap),
          dots AS (
            SELECT c.va, c.vb, SUM(da.x * db.x) AS dot,
                   SQRT(SUM(da.x * da.x)) AS na,
                   SQRT(SUM(db.x * db.x)) AS nb
            FROM cand c
            JOIN d da ON da.vec_id = c.va
            JOIN d db ON db.vec_id = c.vb AND db.dim = da.dim
            GROUP BY c.va, c.vb),
          pairs AS (SELECT va, vb FROM dots
                    WHERE ROUND(dot / (na * nb), 6) >= $SemCosMin),
          e AS (SELECT va AS a, vb AS b FROM pairs
                UNION SELECT vb, va FROM pairs),
          nn AS (SELECT DISTINCT a AS id FROM e),
          reach(id, r) AS (
            SELECT id, id FROM nn
            UNION
            SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
          comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id),
          sz AS (SELECT rep, COUNT(*) AS n_members FROM comp GROUP BY rep)
          SELECT emb.vec_id, CAST(emb.label AS BIGINT) AS label,
                 CAST(COALESCE(sz.n_members, 1) AS BIGINT) AS n_members
          FROM embeddings emb
          LEFT JOIN comp ON comp.id = emb.vec_id
          LEFT JOIN sz ON sz.rep = emb.vec_id
          WHERE COALESCE(comp.rep, emb.vec_id) = emb.vec_id
          ORDER BY emb.vec_id""",
    "dedup_clusters" ->
      s"""$duckClusterCtes
          SELECT doc_id, cluster_id FROM comp ORDER BY doc_id""",
    "dedup_cluster_stats" ->
      s"""$duckClusterCtes
          SELECT cluster_id, COUNT(*) AS n_docs FROM comp
          GROUP BY cluster_id ORDER BY cluster_id""",
    "dedup_split_leakproof" ->
      s"""$duckClusterCtes,
          assign AS (
            SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN comp c USING (doc_id)),
          b AS (
            SELECT doc_id, cluster_id,
                   CAST(('0x' || substr(
                     md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 2))
                     AS INTEGER) AS bucket
            FROM assign)
          SELECT doc_id, cluster_id,
                 CASE WHEN bucket < 204 THEN 'train'
                      WHEN bucket < 230 THEN 'val'
                      ELSE 'test' END AS split
          FROM b ORDER BY doc_id""",

    // Round-7 promotions: every remaining hash-based candidate generator is
    // pure integer arithmetic (FNV-1a 64 + splitmix64 + band slicing), so
    // the full pipelines replay in DuckDB via OracleSql's HUGEINT-mod-2^64
    // fragments — bit-exact, not rows-only.

    // SimHash banding: per-token FNV votes -> 64-bit simhash (same CTE
    // chain as text_fingerprint), 4 bands of 16 bits via unsigned shifts
    // (// 2^16b on the unsigned residue), ≤DfCap buckets, Hamming =
    // bit_count(xor) over the signed representation, min over bands, ≤6.
    "dedup_simhash_pairs" ->
      s"""WITH tk AS (SELECT doc_id, unnest(STRING_SPLIT(text, ' ')) AS tok
                      FROM documents),
          th AS (SELECT doc_id, ${OracleSql.fnvSql("tok")} AS h FROM tk),
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
          bands AS (
            SELECT doc_id, sim_u, band,
                   (sim_u // CAST(2 ** (band * 16) AS HUGEINT)) % 65536 AS bkey
            FROM sim, (SELECT unnest(range(0, 4)) AS band) bb),
          grp AS (SELECT band, bkey, COUNT(*) AS n FROM bands GROUP BY 1, 2),
          cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.sim_u AS sa, b.sim_u AS sb
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                        AND a.doc_id < b.doc_id
            JOIN grp g ON g.band = a.band AND g.bkey = a.bkey
            WHERE g.n BETWEEN 2 AND $DfCap),
          ham AS (
            SELECT doc_a, doc_b,
                   MIN(bit_count(xor(${OracleSql.signedSql("sa")},
                                     ${OracleSql.signedSql("sb")}))) AS hamming
            FROM cand GROUP BY doc_a, doc_b)
          SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
          FROM ham WHERE hamming <= 6 ORDER BY doc_a, doc_b""",

    // Winnowing inverted index: same grams/window-minima/UNION-dedup CTE
    // shape as text_fingerprint but at the candidate-generation knobs
    // (k=$WinnowK, w=$WinnowW, signed MIN — single-sourced with the
    // engine), postings ≤DfCap, shared fingerprints ≥ $WinnowMinShared.
    "dedup_winnow_pairs" ->
      s"""WITH grams AS (
            SELECT doc_id, i,
                   ${OracleSql.signedSql(OracleSql.fnvSql(
                       s"substring(text, i, $WinnowK)"))} AS h,
                   length(text) - ${WinnowK - 1} AS m
            FROM documents,
                 LATERAL (SELECT unnest(generate_series(1,
                            length(text) - ${WinnowK - 1})) AS i) g
            WHERE length(text) >= $WinnowK),
          wmin AS (
            SELECT doc_id, i, m,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN CURRENT ROW AND
                                ${WinnowW - 1} FOLLOWING) AS wm
            FROM grams),
          picked AS (
            SELECT doc_id, wm FROM wmin WHERE m <= $WinnowW AND i = 1
            UNION
            SELECT doc_id, wm FROM wmin
            WHERE m > $WinnowW AND i + ${WinnowW - 1} <= m),
          grp AS (SELECT wm, COUNT(*) AS n FROM picked GROUP BY wm),
          cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM picked a
            JOIN picked b ON a.wm = b.wm AND a.doc_id < b.doc_id
            JOIN grp g ON g.wm = a.wm
            WHERE g.n BETWEEN 2 AND $DfCap)
          SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS shared_fp
          FROM cand GROUP BY doc_a, doc_b
          HAVING COUNT(*) >= $WinnowMinShared
          ORDER BY doc_a, doc_b""",

    // Winnow drop audit: same winnowing CTE chain, one row of cap-drop
    // stats (the "no silent caps" channel for dedup_winnow_pairs).
    "dedup_winnow_dropped" ->
      s"""WITH grams AS (
            SELECT doc_id, i,
                   ${OracleSql.signedSql(OracleSql.fnvSql(
                       s"substring(text, i, $WinnowK)"))} AS h,
                   length(text) - ${WinnowK - 1} AS m
            FROM documents,
                 LATERAL (SELECT unnest(generate_series(1,
                            length(text) - ${WinnowK - 1})) AS i) g
            WHERE length(text) >= $WinnowK),
          wmin AS (
            SELECT doc_id, i, m,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN CURRENT ROW AND
                                ${WinnowW - 1} FOLLOWING) AS wm
            FROM grams),
          picked AS (
            SELECT doc_id, wm FROM wmin WHERE m <= $WinnowW AND i = 1
            UNION
            SELECT doc_id, wm FROM wmin
            WHERE m > $WinnowW AND i + ${WinnowW - 1} <= m),
          grp AS (SELECT wm, COUNT(*) AS n FROM picked GROUP BY wm)
          SELECT CAST(COUNT(CASE WHEN n > $DfCap THEN 1 END) AS BIGINT)
                   AS dropped_buckets,
                 CAST(COALESCE(SUM(CASE WHEN n > $DfCap THEN n END), 0)
                   AS BIGINT) AS dropped_postings,
                 CAST(COUNT(*) AS BIGINT) AS total_buckets
          FROM grp""",

    // MinHash-LSH: 3-gram shingles (non-distinct — duplicates can't lower
    // a min), 32 permutations via splitmix64(fnv + p*prime), SIGNED minima
    // (the engine compares Longs), short docs get Long.MaxValue sigs, bands
    // = the raw 4-long slices (list-equality join — the engine groups on
    // the slice itself), ≤DfCap buckets, est = matching positions / 32.
    // Incremental probe: identical signature/band/cap CTE chain as
    // dedup_minhash_pairs; the only additions are the md5 delta tag and
    // the cross-side (corpus × delta) join restriction.
    "dedup_incremental_pairs" ->
      s"""WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts
                       FROM documents),
          gram AS (
            SELECT doc_id, ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS g
            FROM tok, LATERAL (SELECT unnest(range(1, len(ts) - 1)) AS i) u),
          gh AS (SELECT doc_id, ${OracleSql.fnvSql("g")} AS h FROM gram),
          mx AS (${OracleSql.mix64ChainSql("doc_id, p",
              s"h + p * ${graft.functions.TextHashImpl.Prime}::HUGEINT",
              "gh, (SELECT unnest(range(0, 32)) AS p) ps", "mixed")}),
          smin AS (SELECT doc_id, p, MIN(${OracleSql.signedSql("mixed")}) AS mv
                   FROM mx GROUP BY doc_id, p),
          sigs AS (
            SELECT d.doc_id,
                   LIST(COALESCE(s.mv, 9223372036854775807) ORDER BY pp.p)
                     AS sig
            FROM documents d
            CROSS JOIN (SELECT unnest(range(0, 32)) AS p) pp
            LEFT JOIN smin s ON s.doc_id = d.doc_id AND s.p = pp.p
            GROUP BY d.doc_id),
          tag AS (
            SELECT doc_id,
                   CAST(('0x' || substr(
                     md5('delta:' || CAST(doc_id AS VARCHAR)), 1, 2))
                     AS INTEGER) < 26 AS is_delta
            FROM documents),
          bands AS (
            SELECT doc_id, sig, band,
                   list_slice(sig, band * 4 + 1, band * 4 + 4) AS bkey
            FROM sigs, (SELECT unnest(range(0, 8)) AS band) bb),
          grp AS (SELECT band, bkey, COUNT(*) AS n FROM bands GROUP BY 1, 2),
          cand AS (
            SELECT b.doc_id AS delta_id, a.doc_id AS base_id,
                   a.sig AS sa, b.sig AS sb
            FROM bands a
            JOIN tag ta ON ta.doc_id = a.doc_id AND NOT ta.is_delta
            JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
            JOIN tag tb ON tb.doc_id = b.doc_id AND tb.is_delta
            JOIN grp g ON g.band = a.band AND g.bkey = a.bkey
            WHERE g.n BETWEEN 2 AND $DfCap),
          est AS (
            SELECT delta_id, base_id,
                   MAX(len(list_filter(range(1, 33), i -> sa[i] = sb[i]))
                       / 32.0) AS est_jaccard
            FROM cand GROUP BY delta_id, base_id)
          SELECT delta_id, base_id, CAST(est_jaccard AS DOUBLE) AS est_jaccard
          FROM est WHERE est_jaccard >= 0.5 ORDER BY delta_id, base_id""",

    "dedup_minhash_pairs" ->
      s"""WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts
                       FROM documents),
          gram AS (
            SELECT doc_id, ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS g
            FROM tok, LATERAL (SELECT unnest(range(1, len(ts) - 1)) AS i) u),
          gh AS (SELECT doc_id, ${OracleSql.fnvSql("g")} AS h FROM gram),
          mx AS (${OracleSql.mix64ChainSql("doc_id, p",
              s"h + p * ${graft.functions.TextHashImpl.Prime}::HUGEINT",
              "gh, (SELECT unnest(range(0, 32)) AS p) ps", "mixed")}),
          smin AS (SELECT doc_id, p, MIN(${OracleSql.signedSql("mixed")}) AS mv
                   FROM mx GROUP BY doc_id, p),
          sigs AS (
            SELECT d.doc_id,
                   LIST(COALESCE(s.mv, 9223372036854775807) ORDER BY pp.p)
                     AS sig
            FROM documents d
            CROSS JOIN (SELECT unnest(range(0, 32)) AS p) pp
            LEFT JOIN smin s ON s.doc_id = d.doc_id AND s.p = pp.p
            GROUP BY d.doc_id),
          bands AS (
            SELECT doc_id, sig, band,
                   list_slice(sig, band * 4 + 1, band * 4 + 4) AS bkey
            FROM sigs, (SELECT unnest(range(0, 8)) AS band) bb),
          grp AS (SELECT band, bkey, COUNT(*) AS n FROM bands GROUP BY 1, 2),
          cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.sig AS sa, b.sig AS sb
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                        AND a.doc_id < b.doc_id
            JOIN grp g ON g.band = a.band AND g.bkey = a.bkey
            WHERE g.n BETWEEN 2 AND $DfCap),
          est AS (
            SELECT doc_a, doc_b,
                   MAX(len(list_filter(range(1, 33), i -> sa[i] = sb[i]))
                       / 32.0) AS est_jaccard
            FROM cand GROUP BY doc_a, doc_b)
          SELECT doc_a, doc_b, CAST(est_jaccard AS DOUBLE) AS est_jaccard
          FROM est WHERE est_jaccard >= 0.5 ORDER BY doc_a, doc_b""",

    // Content-defined chunking: the Gear boundary test uses only the low 5
    // bits (mask = 2^5-1), and 2^k mod 32 = 0 for k >= 5, so the rolling
    // hash mod 32 is a 5-term weighted LAG window over the per-byte gear
    // values (gear = splitmix64(byte), mod 32 up front) — no sequential
    // fold needed. Chunk = [prev boundary + 1, boundary]; chunk key = FNV
    // of the substring; same ≤64-doc cap as the engine.
    "dedup_cdc_chunks" ->
      s"""WITH g32 AS (
            SELECT b, gm % 32 AS g FROM (${OracleSql.mix64ChainSql("b",
              "b::HUGEINT", "(SELECT unnest(range(0, 256)) AS b) gsrc",
              "gm")}) gq),
          chx AS (
            SELECT doc_id, i, unicode(substring(text, i, 1)) AS c,
                   length(text) AS n
            FROM documents,
                 LATERAL (SELECT unnest(generate_series(1, length(text)))
                          AS i) u),
          cg AS (SELECT chx.doc_id, chx.i, chx.n, g32.g
                 FROM chx JOIN g32 ON g32.b = chx.c),
          hb AS (
            SELECT doc_id, i, n,
                   (g + 2 * LAG(g, 1, 0) OVER w + 4 * LAG(g, 2, 0) OVER w
                      + 8 * LAG(g, 3, 0) OVER w
                      + 16 * LAG(g, 4, 0) OVER w) % 32 AS h5
            FROM cg WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
          bnd AS (SELECT doc_id, i FROM hb WHERE h5 = 0 OR i = n),
          chunks AS (
            SELECT doc_id,
                   COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0)
                     + 1 AS st,
                   i AS en
            FROM bnd),
          chs AS (
            SELECT c.doc_id,
                   ${OracleSql.signedSql(OracleSql.fnvSql(
                       "substring(text, st, en - st + 1)"))} AS ch
            FROM chunks c JOIN documents USING (doc_id))
          SELECT ch, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                 CAST(COUNT(*) AS BIGINT) AS n_hits
          FROM chs GROUP BY ch
          HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 64
          ORDER BY ch""",
    // Paragraph dedup: the same non-overlapping segmentation (DuckDB list
    // slice is inclusive-both-ends, so [a : a+ParaLen-1] = Spark's
    // slice(t, a, ParaLen)), the same min-enc first-occurrence rule, and
    // an ordered FILTERed LIST for the surviving text. SUM(CASE) returns
    // HUGEINT → cast; empty kept list is NULL → COALESCE '' (Spark
    // array_join of an empty array is '').
    "dedup_paragraphs" ->
      s"""WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          p AS (
            SELECT doc_id, CAST(LEN(t) AS BIGINT) AS n_tokens, k,
                   array_to_string(
                     t[k * $ParaLen + 1 : k * $ParaLen + $ParaLen], ' ')
                     AS ptext
            FROM t, UNNEST(RANGE(0, (LEN(t) + ${ParaLen - 1}) // $ParaLen))
                      AS r(k)),
          f AS (
            SELECT md5(ptext) AS h, MIN(doc_id * 1000000 + k) AS first_enc
            FROM p GROUP BY 1),
          j AS (
            SELECT p.*, (p.doc_id * 1000000 + p.k) = f.first_enc AS keep
            FROM p JOIN f ON md5(p.ptext) = f.h)
          SELECT doc_id, MAX(n_tokens) AS n_tokens, COUNT(*) AS n_paras,
                 CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                   AS kept_paras,
                 CAST(SUM(CASE WHEN keep
                          THEN LEN(string_split(ptext, ' '))
                          ELSE 0 END) AS BIGINT) AS kept_tokens,
                 COALESCE(array_to_string(
                   LIST(ptext ORDER BY k) FILTER (WHERE keep), ' '), '')
                   AS clean_text
          FROM j GROUP BY doc_id ORDER BY doc_id"""
  )

  /** The published oracle surface: the base map plus the threshold sweep,
    * whose pair CTE is the embedding-near replay VERBATIM (nested-WITH
    * subquery) — definitionally in sync with the operator it sweeps.
    * Thresholds are e0-suffixed so DuckDB parses DOUBLE (not DECIMAL)
    * and the ≥ compare sees the identical IEEE literals as Spark.
    */
  val oracle: Map[String, String] = oracleBase +
    ("dedup_threshold_sweep" ->
      s"""WITH p AS (${oracleBase("dedup_embedding_near")}),
          t AS (SELECT unnest([${SweepThresholds.map(t => s"${t}e0")
            .mkString(", ")}]) AS threshold)
          SELECT threshold,
                 CAST(SUM(CASE WHEN p.cos >= t.threshold
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
          FROM t CROSS JOIN p
          GROUP BY threshold ORDER BY threshold""")
}
