package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{CandidatePairs, Multimodal}
import graft.operators.CandidatePairs.DfCap
import Tables._

/** Multimodal-column queries over the media table derived from `documents`
  * (graft.operators.Multimodal). The decode step is stubbed (no codecs in
  * this container); schema/partitioning/rollup are the real surface.
  */
object MultimodalQueries {

  /** dHash Hamming threshold (of 64): exact dups are 0; planted token-level
    * near-dups land ≤ 6; the background pair distribution sits at median 26
    * on this corpus (measured round 11) — 10 splits them cleanly.
    */
  private val PhashMaxHamming = 10

  /** Tokens per stub-decoded video "frame" (the frame sampler's window
    * width): frame f of a video is tokens [f·W, f·W+W) of its payload, so
    * a trim that drops whole frames leaves every surviving window — and
    * its dhash64 signature — bit-identical.
    */
  private val VideoFrameTokens = 32

  val queries: Map[String, Q] = Map(
    // Per-modality ingest rollup — integer arithmetic, oracle-exact.
    "mm_media_stats" -> ((s, dir) =>
      Multimodal.mediaStats(
        Multimodal.fromDocuments(load(s, dir, "documents")))
        .orderBy(col("kind"))),

    // Typed metadata projection — binary payload size vs declared meta.
    "mm_media_catalog" -> ((s, dir) =>
      Multimodal.fromDocuments(load(s, dir, "documents"))
        .select(col("media_id"), col("kind"),
          length(col("content")).cast("bigint").as("payload_bytes"),
          col("meta.width").cast("bigint").as("width"),
          col("meta.height").cast("bigint").as("height"),
          col("meta.durationMs").as("duration_ms"),
          col("meta.format").as("format"))
        .orderBy(col("media_id"))),

    // Stubbed decode → feature vectors; the mapPartitions batch shape is
    // the product path. The md5-derived fake is ANSI-reproducible, so the
    // decode output itself is hash-checked bit-exactly (f0 is the float32
    // feature widened to double — no rounding; both engines compute
    // v/2^52*2-1 in double then narrow to REAL, IEEE-identical).
    "mm_features_sample" -> ((s, dir) => {
      val media = Multimodal.fromDocuments(load(s, dir, "documents"))
      Multimodal.extractFeatures(s, media, dim = 16).toDF()
        .select(col("media_id"), col("kind"), col("dim"),
          expr("cast(element_at(features, 1) as double)").as("f0"))
        .orderBy(col("media_id"))
    }),

    // Resize declaration audit (round 6): the typed-metadata rewrite that
    // Multimodal.resize performs, rolled up per modality — brings the
    // resize operator under the oracle gate (it was spec-only before).
    "mm_resize_audit" -> ((s, dir) =>
      Multimodal.resize(
        Multimodal.fromDocuments(load(s, dir, "documents")), 224, 224)
        .groupBy(col("kind"), col("meta.format").as("format"))
        .agg(count(lit(1)).as("n_media"),
          max(col("meta.width")).cast("bigint").as("width"),
          max(col("meta.height")).cast("bigint").as("height"),
          sum(col("meta.durationMs")).as("sum_duration_ms"))
        .orderBy(col("kind"))),

    // Frame sampling: 1 video → N frame fingerprints. md5 fingerprints ⇒
    // the explode + distinct-count is oracle-checked bit-exactly.
    "mm_frame_samples" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.fromDocuments(load(s, dir, "documents")))
        .groupBy(col("media_id")).agg(
          count(lit(1)).as("n_frames"),
          expr("count(distinct frame_fingerprint)").as("n_distinct"))
        .orderBy(col("media_id"))),

    // Perceptual near-dup for the image kind (round 11): dHash (public
    // algorithm) over the stub-decoded bitmap, banded 4×16 bits and
    // bucket-capped exactly like dedup_simhash_pairs — the binary payload
    // finally flows through the dedup machinery. The synthetic bitmap is a
    // 72-bin bigram-md5 histogram (see TextHashImpl.dhash64): token-level
    // near-dup payloads land within a few Hamming bits, unrelated payloads
    // near 32 (fixture-pinned in MultimodalSpec). Row-local until the one
    // keyed exchange on the compact (band, bkey); never all-pairs.
    "mm_phash_pairs" -> ((s, dir) => {
      val img = Multimodal.fromDocuments(load(s, dir, "documents"))
        .filter(col("kind") === "image")
        .select(col("media_id"),
          expr("dhash64(split(cast(content as string), ' '))").as("dh"))
      val bands = img.select(col("media_id"), col("dh"),
        posexplode(CandidatePairs.bands16("dh")).as(Seq("band", "bkey")))
      CandidatePairs.collected(bands, "phash", Seq("band", "bkey"),
          struct("media_id", "dh"))
        .select(col("p.a.media_id").as("media_a"),
          col("p.b.media_id").as("media_b"),
          expr("cast(bit_count(p.a.dh ^ p.b.dh) as bigint)").as("hamming"))
        .groupBy(col("media_a"), col("media_b"))
        .agg(min(col("hamming")).as("hamming"))
        .filter(col("hamming") <= PhashMaxHamming)
        .orderBy(col("media_a"), col("media_b"))
    }),

    // Perceptual near-dup for the VIDEO kind (round 12): chain the frame
    // sampler with dHash — the stub "decode of frame f" is a W-token
    // window of the payload, each window fingerprinted with dhash64, and
    // a video is its SET of frame signatures. Two videos are near-dup
    // when they share at least half the smaller one's distinct frame
    // signatures (containment ≥ 1/2) — which catches frame-aligned trims
    // (every surviving window hashes identically ⇒ containment 1) and
    // re-encodes with localized edits (only the touched windows move)
    // the way image dHash catches resizes. Candidate pairs come from the
    // one keyed exchange on the exact frame signature, bucket-capped at
    // DfCap like every near-dup family here — never all-pairs: at
    // 100 TB a boilerplate window shared by millions of videos is
    // dropped (loudly, by the same cap the oracle replays), not exploded
    // quadratically; the per-video signature-set collect is bounded by
    // duration/W.
    "mm_video_near_pairs" -> ((s, dir) => {
      val W = VideoFrameTokens
      val sigs = Multimodal.fromDocuments(load(s, dir, "documents"))
        .filter(col("kind") === "video")
        .select(col("media_id"),
          split(col("content").cast("string"), " ").as("tks"))
        .select(col("media_id"),
          explode(expr(
            s"transform(sequence(0, cast((size(tks) - 1) / $W as int)), " +
              s"f -> dhash64(slice(tks, f * $W + 1, $W)))")).as("sig"))
      // set semantics per video, with the set size carried onto every
      // bucket row so the pair scorer needs no second join
      val vsets = sigs.groupBy(col("media_id"))
        .agg(collect_set(col("sig")).as("ss"))
        .select(col("media_id"), size(col("ss")).cast("bigint").as("nsig"),
          explode(col("ss")).as("sig"))
      CandidatePairs.collected(vsets, "video", Seq("sig"),
          struct("media_id", "nsig"))
        .groupBy(col("p.a.media_id").as("media_a"),
          col("p.b.media_id").as("media_b"),
          col("p.a.nsig").as("n_a"), col("p.b.nsig").as("n_b"))
        .agg(count(lit(1)).as("shared_frames"))
        .filter(col("shared_frames") * 2 >= least(col("n_a"), col("n_b")))
        .select(col("media_a"), col("media_b"), col("shared_frames"),
          col("n_a"), col("n_b"))
        .orderBy(col("media_a"), col("media_b"))
    }),

    // Perceptual near-dup for the AUDIO kind (round 12 — completes the
    // modality symmetry: image=dHash, video=frame-signature containment,
    // audio=this). A Haitsma-Kalker-style binary fingerprint (Haitsma &
    // Kalker, "A Highly Robust Audio Fingerprint System", ISMIR 2002 —
    // public algorithm): the track is cut into overlapping "spectral
    // frames" (stub decode: frame b = a 4-token window of the payload at
    // stride 2, its energy the 16-bit md5 bucket of the window — a real
    // deployment swaps ONLY the energy function for a filterbank), and
    // bit b encodes the SIGN OF THE TEMPORAL ENERGY DERIVATIVE
    // energy(b) < energy(b+1) — the paper's difference coding, the same
    // robustness idea as dHash but along time instead of space: a
    // localized edit touches ≤2 windows ⇒ ≤4 bits; an end-trim leaves
    // every earlier window bit-identical; unrelated tracks sit near 32
    // (fixture-pinned in MultimodalSpec). Entirely row-local until the
    // one keyed exchange on the compact 4×16-bit (band, bkey); bucket
    // cap as everywhere — never all-pairs.
    "mm_audio_near_pairs" -> ((s, dir) => {
      def energy(start: String): String =
        s"cast(conv(substring(md5(concat_ws(' ', slice(ts, $start, 4))), " +
          "1, 4), 16, 10) as int)"
      // Round-15 NEGATIVE RESULT (kept as the baseline): hoisting the 65
      // window energies into one array (projected alias AND let-bound
      // lambda-variable forms) to halve the md5 evaluations measured
      // SLOWER than this inline fold at sf1 (8.0-10.1 s vs 4.7-5.1 s
      // warm, 3 alternating A/B pairs) — and an isolation probe showed
      // even a bare 64-md5 aggregate sum timing ~1.7x this 128-eval
      // form, so the md5 count is not the stage's cost driver; the
      // array-building HOF forms lose more to interpreted-lambda
      // overhead than the duplicate hashes cost. Details in
      // OPTIMIZATION_r15.md.
      val au = Multimodal.fromDocuments(load(s, dir, "documents"))
        .filter(col("kind") === "audio")
        .select(col("media_id"),
          split(col("content").cast("string"), " ").as("ts"))
        .select(col("media_id"),
          expr(
            s"""aggregate(sequence(0, 63), cast(0 as bigint),
                 (acc, b) -> acc + if(
                   ${energy("b * 2 + 1")} < ${energy("b * 2 + 3")},
                   shiftleft(cast(1 as bigint), b), cast(0 as bigint)))""")
            .as("fp"))
      val bands = au.select(col("media_id"), col("fp"),
        posexplode(CandidatePairs.bands16("fp")).as(Seq("band", "bkey")))
      CandidatePairs.collected(bands, "audio", Seq("band", "bkey"),
          struct("media_id", "fp"))
        .select(col("p.a.media_id").as("media_a"),
          col("p.b.media_id").as("media_b"),
          expr("cast(bit_count(p.a.fp ^ p.b.fp) as bigint)").as("hamming"))
        .groupBy(col("media_a"), col("media_b"))
        .agg(min(col("hamming")).as("hamming"))
        .filter(col("hamming") <= PhashMaxHamming)
        .orderBy(col("media_a"), col("media_b"))
    })
  )

  val oracle: Map[String, String] = Map(
    "mm_media_stats" ->
      """SELECT (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
                COUNT(*) AS n_media,
                CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
                CAST(SUM(n_chars * 40) AS BIGINT) AS sum_duration_ms,
                MAX(CAST(64 + (doc_id % 16) * 8 AS INT)) AS max_width
         FROM documents GROUP BY 1 ORDER BY kind""",
    "mm_media_catalog" ->
      """SELECT doc_id AS media_id,
                (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
                CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
                CAST(64 + (doc_id % 16) * 8 AS BIGINT) AS width,
                CAST(64 + (doc_id % 9) * 16 AS BIGINT) AS height,
                CAST(n_chars * 40 AS BIGINT) AS duration_ms,
                (['png','wav','mp4'])[CAST(doc_id % 3 AS INT) + 1] AS format
         FROM documents ORDER BY media_id""",
    // Promoted from rows-only in round 6: the stub decode is md5-derived,
    // so both the feature value and the frame fingerprints replay in ANSI
    // SQL. f0: top 52 bits of md5 → v/2^52*2-1 in DOUBLE, narrowed to
    // REAL (float32) then widened — IEEE-identical to the Scala
    // (v.toDouble / (1L<<52) * 2 - 1).toFloat.
    "mm_features_sample" ->
      """SELECT doc_id AS media_id,
                (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
                CAST(16 AS INT) AS dim,
                CAST(CAST(
                  CAST(CAST(('0x' || substr(md5(text || ':0'), 1, 13)) AS BIGINT)
                       AS DOUBLE) / 4503599627370496 * 2 - 1
                  AS REAL) AS DOUBLE) AS f0
         FROM documents ORDER BY media_id""",
    "mm_resize_audit" ->
      """SELECT (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
                (['png','wav','mp4'])[CAST(doc_id % 3 AS INT) + 1] AS format,
                COUNT(*) AS n_media,
                CAST(MAX(224) AS BIGINT) AS width,
                CAST(MAX(224) AS BIGINT) AS height,
                CAST(SUM(n_chars * 40) AS BIGINT) AS sum_duration_ms
         FROM documents GROUP BY 1, 2 ORDER BY kind""",
    "mm_frame_samples" ->
      """WITH v AS (SELECT doc_id AS media_id, text, n_chars
                    FROM documents WHERE doc_id % 3 = 2),
              f AS (SELECT media_id,
                           unnest(RANGE(0, (n_chars * 40) // 1000 + 1)) AS fr,
                           text
                    FROM v)
         SELECT media_id, COUNT(*) AS n_frames,
                COUNT(DISTINCT md5(text || ':' || CAST(fr AS VARCHAR)))
                  AS n_distinct
         FROM f GROUP BY media_id ORDER BY media_id""",
    // Full dHash replay: bigram-md5 72-bin histogram → difference bits →
    // unsigned HUGEINT hash → the same 4×16 banding, bucket cap and
    // Hamming threshold as the engine. signedSql converts the unsigned
    // residue to the engine's BIGINT for bit_count(xor()).
    "mm_phash_pairs" ->
      s"""WITH img AS (SELECT doc_id AS media_id, string_split(text, ' ') AS tks
                       FROM documents WHERE doc_id % 3 = 0),
          tk AS (SELECT media_id,
                        CAST(('0x' || substr(md5(tks[i] || ' ' || tks[i+1]), 1, 4))
                             AS INT) % 72 AS g
                 FROM img,
                      LATERAL (SELECT unnest(generate_series(1, len(tks) - 1)) AS i) s
                 WHERE len(tks) >= 2),
          cnt AS (SELECT media_id, g, COUNT(*) AS v FROM tk GROUP BY 1, 2),
          cells AS (SELECT i.media_id, gs.g, COALESCE(c.v, 0) AS v
                    FROM img i
                    CROSS JOIN (SELECT unnest(generate_series(0, 71)) AS g) gs
                    LEFT JOIN cnt c ON c.media_id = i.media_id AND c.g = gs.g),
          bits AS (SELECT c1.media_id, bs.b
                   FROM (SELECT unnest(generate_series(0, 63)) AS b) bs
                   JOIN cells c1 ON c1.g = bs.b + bs.b // 8
                   JOIN cells c2 ON c2.media_id = c1.media_id
                                AND c2.g = bs.b + bs.b // 8 + 1
                   WHERE c1.v < c2.v),
          dh AS (SELECT i.media_id,
                        COALESCE(SUM(CAST(2**b.b AS HUGEINT)), 0::HUGEINT) AS dh_u
                 FROM img i LEFT JOIN bits b ON b.media_id = i.media_id
                 GROUP BY i.media_id),
          bands AS (SELECT media_id, dh_u, band,
                           (dh_u // CAST(2**(band*16) AS HUGEINT)) % 65536 AS bkey
                    FROM dh, (SELECT unnest(range(0, 4)) AS band) bb),
          grp AS (SELECT band, bkey, COUNT(*) AS n FROM bands GROUP BY 1, 2),
          cand AS (SELECT a.media_id AS media_a, b.media_id AS media_b,
                          a.dh_u AS ua, b.dh_u AS ub
                   FROM bands a
                   JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                               AND a.media_id < b.media_id
                   JOIN grp g ON g.band = a.band AND g.bkey = a.bkey
                   WHERE g.n BETWEEN 2 AND $DfCap),
          ham AS (SELECT media_a, media_b,
                         MIN(bit_count(xor(${OracleSql.signedSql("ua")},
                                           ${OracleSql.signedSql("ub")}))) AS hamming
                  FROM cand GROUP BY 1, 2)
          SELECT media_a, media_b, CAST(hamming AS BIGINT) AS hamming
          FROM ham WHERE hamming <= $PhashMaxHamming
          ORDER BY media_a, media_b""",
    // Full per-frame dHash replay: W-token windows → per-window bigram-md5
    // 72-bin histogram → difference bits → unsigned HUGEINT signature →
    // distinct signature set per video → exact-signature buckets with the
    // engine's cap → containment ≥ 1/2 in integers. The hash never leaves
    // the bucket key, so no signed conversion is needed.
    "mm_video_near_pairs" ->
      s"""WITH vid AS (SELECT doc_id AS media_id, string_split(text, ' ') AS tks
                       FROM documents WHERE doc_id % 3 = 2),
          frames AS (SELECT media_id, f,
                            tks[(f*$VideoFrameTokens+1):
                                (f*$VideoFrameTokens+$VideoFrameTokens)] AS wtk
                     FROM vid,
                          LATERAL (SELECT unnest(range(0,
                            CAST((len(tks) - 1) // $VideoFrameTokens AS INT) + 1))
                            AS f) s),
          tk AS (SELECT media_id, f,
                        CAST(('0x' || substr(md5(wtk[i] || ' ' || wtk[i+1]), 1, 4))
                             AS INT) % 72 AS g
                 FROM frames,
                      LATERAL (SELECT unnest(generate_series(1, len(wtk) - 1)) AS i) s
                 WHERE len(wtk) >= 2),
          cnt AS (SELECT media_id, f, g, COUNT(*) AS v FROM tk GROUP BY 1, 2, 3),
          cells AS (SELECT fr.media_id, fr.f, gs.g, COALESCE(c.v, 0) AS v
                    FROM frames fr
                    CROSS JOIN (SELECT unnest(generate_series(0, 71)) AS g) gs
                    LEFT JOIN cnt c ON c.media_id = fr.media_id AND c.f = fr.f
                                   AND c.g = gs.g),
          bits AS (SELECT c1.media_id, c1.f, bs.b
                   FROM (SELECT unnest(generate_series(0, 63)) AS b) bs
                   JOIN cells c1 ON c1.g = bs.b + bs.b // 8
                   JOIN cells c2 ON c2.media_id = c1.media_id AND c2.f = c1.f
                                AND c2.g = bs.b + bs.b // 8 + 1
                   WHERE c1.v < c2.v),
          dh AS (SELECT fr.media_id, fr.f,
                        COALESCE(SUM(CAST(2**b.b AS HUGEINT)), 0::HUGEINT) AS sig
                 FROM frames fr
                 LEFT JOIN bits b ON b.media_id = fr.media_id AND b.f = fr.f
                 GROUP BY 1, 2),
          sigs AS (SELECT DISTINCT media_id, sig FROM dh),
          sized AS (SELECT media_id, sig,
                           COUNT(*) OVER (PARTITION BY media_id) AS nsig
                    FROM sigs),
          grp AS (SELECT sig, COUNT(*) AS n FROM sigs GROUP BY 1),
          cand AS (SELECT a.media_id AS media_a, b.media_id AS media_b,
                          a.nsig AS n_a, b.nsig AS n_b
                   FROM sized a
                   JOIN sized b ON a.sig = b.sig AND a.media_id < b.media_id
                   JOIN grp g ON g.sig = a.sig
                   WHERE g.n BETWEEN 2 AND $DfCap),
          agg AS (SELECT media_a, media_b, n_a, n_b, COUNT(*) AS shared_frames
                  FROM cand GROUP BY 1, 2, 3, 4)
          SELECT media_a, media_b, shared_frames,
                 CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
          FROM agg WHERE shared_frames * 2 >= least(n_a, n_b)
          ORDER BY media_a, media_b""",

    // Full fingerprint replay: per-bit window-energy comparison in
    // HUGEINT, then the identical 4×16 banding / bucket cap / Hamming
    // chain as mm_phash_pairs. signedSql converts the unsigned residue
    // to the engine's BIGINT for bit_count(xor()).
    "mm_audio_near_pairs" ->
      s"""WITH au AS (SELECT doc_id AS media_id, string_split(text, ' ') AS ts
                      FROM documents WHERE doc_id % 3 = 1),
          fp AS (SELECT media_id,
                        -- COALESCE inside md5: DuckDB's array_to_string of
                        -- an EMPTY list is NULL where Spark's concat_ws is
                        -- '' — past-the-end windows must hash like ''
                        COALESCE(SUM(CASE WHEN
                            CAST(('0x' || substr(md5(COALESCE(array_to_string(
                              ts[(b*2+1):(b*2+4)], ' '), '')), 1, 4)) AS INT)
                          < CAST(('0x' || substr(md5(COALESCE(array_to_string(
                              ts[(b*2+3):(b*2+6)], ' '), '')), 1, 4)) AS INT)
                          THEN CAST(2**b AS HUGEINT)
                          ELSE 0::HUGEINT END), 0::HUGEINT) AS fp_u
                 FROM au, (SELECT unnest(generate_series(0, 63)) AS b) bs
                 GROUP BY media_id),
          bands AS (SELECT media_id, fp_u, band,
                           (fp_u // CAST(2**(band*16) AS HUGEINT)) % 65536
                             AS bkey
                    FROM fp, (SELECT unnest(range(0, 4)) AS band) bb),
          grp AS (SELECT band, bkey, COUNT(*) AS n FROM bands GROUP BY 1, 2),
          cand AS (SELECT a.media_id AS media_a, b.media_id AS media_b,
                          a.fp_u AS ua, b.fp_u AS ub
                   FROM bands a
                   JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                               AND a.media_id < b.media_id
                   JOIN grp g ON g.band = a.band AND g.bkey = a.bkey
                   WHERE g.n BETWEEN 2 AND $DfCap),
          ham AS (SELECT media_a, media_b,
                         MIN(bit_count(xor(${OracleSql.signedSql("ua")},
                                           ${OracleSql.signedSql("ub")}))) AS hamming
                  FROM cand GROUP BY 1, 2)
          SELECT media_a, media_b, CAST(hamming AS BIGINT) AS hamming
          FROM ham WHERE hamming <= $PhashMaxHamming
          ORDER BY media_a, media_b"""
  )
}
