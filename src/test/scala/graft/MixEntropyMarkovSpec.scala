package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.queries.{RankMixQueries, SimilarityQueries, TemporalQueries,
  TextQueries}

/** Semantic pins for the round-10 additions (the oracle gate proves
  * engine↔DuckDB parity; these prove the MATH): Markov transition rows
  * sum to exact totals, temperature weights order correctly across τ and
  * the integer sqrt is provably exact, per-doc entropy hits its closed
  * forms (0, ln 2, ln k) on planted corpora, and the recall audit equals
  * an independently computed intersection.
  */
class MixEntropyMarkovSpec extends SparkSuite {

  // ---- events_markov_transitions -----------------------------------

  test("markov: planted two-user event log yields exact counts and ppm") {
    val tmp = Files.createTempDirectory("graft-markov").toString
    import spark.implicits._
    // user 1: a b a b  → a→b ×2, b→a ×1 ; user 2: a a → a→a ×1
    Seq(
      (1L, Timestamp.valueOf("2026-01-01 00:00:01"), 1L, "a", 1.0),
      (2L, Timestamp.valueOf("2026-01-01 00:00:02"), 1L, "b", 1.0),
      (3L, Timestamp.valueOf("2026-01-01 00:00:03"), 1L, "a", 1.0),
      (4L, Timestamp.valueOf("2026-01-01 00:00:04"), 1L, "b", 1.0),
      (5L, Timestamp.valueOf("2026-01-01 00:00:01"), 2L, "a", 1.0),
      (6L, Timestamp.valueOf("2026-01-01 00:00:02"), 2L, "a", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$tmp/events.parquet")
    val r = TemporalQueries.queries("events_markov_transitions")(spark, tmp)
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2),
        x.getLong(3), x.getLong(4)))
    assert(r.toSeq == Seq(
      ("a", "a", 1L, 3L, 333333L),
      ("a", "b", 2L, 3L, 666666L),
      ("b", "a", 1L, 1L, 1000000L)))
  }

  test("markov: on sf0.001 rows sum to n_from, ppm bounded, total = N-U") {
    val dir = sf("sf0.001")
    val rows = TemporalQueries
      .queries("events_markov_transitions")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("p_ppm") >= 0 && r.getAs[Long]("p_ppm") <= 1000000)
      assert(r.getAs[Long]("n") <= r.getAs[Long]("n_from"))
    }
    val byFrom = rows.groupBy(_.getAs[String]("from_type"))
    byFrom.foreach { case (_, g) =>
      assert(g.map(_.getAs[Long]("n")).sum == g.head.getAs[Long]("n_from"))
    }
    val ev = graft.queries.Tables.load(spark, dir, "events")
    val n = ev.count()
    val u = ev.select(col("user_id")).distinct().count()
    assert(rows.map(_.getAs[Long]("n")).sum == n - u)
  }

  // ---- mix_temperature_weights --------------------------------------

  test("temperature weights: planted 1:3 corpus hits exact ppm closed forms") {
    val tmp = Files.createTempDirectory("graft-temp").toString
    import spark.implicits._
    // source sa: 1 token; source sb: 3 tokens (total 4 < 1e5 ⇒ unit=1)
    Seq((1L, "x", "sa"), (2L, "y y y", "sb"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$tmp/documents.parquet")
    val r = RankMixQueries.queries("mix_temperature_weights")(spark, tmp)
      .orderBy(col("source")).collect()
    val sa = r(0); val sb = r(1)
    // τ=1: 1/4, 3/4 in ppm (integer div)
    assert(sa.getAs[Long]("w_t1_ppm") == 250000L)
    assert(sb.getAs[Long]("w_t1_ppm") == 750000L)
    // τ=1/2 (sharpen): 1/10, 9/10
    assert(sa.getAs[Long]("w_t05_ppm") == 100000L)
    assert(sb.getAs[Long]("w_t05_ppm") == 900000L)
    // τ=2 (flatten): r = isqrt(1e6)=1000, isqrt(3e6)=1732
    assert(sa.getAs[Long]("w_t2_ppm") == 1000L * 1000000L / 2732L)
    assert(sb.getAs[Long]("w_t2_ppm") == 1732L * 1000000L / 2732L)
    // ordering: flattening raises the small source above proportional,
    // sharpening lowers it — and the reverse for the big source
    assert(sa.getAs[Long]("w_t2_ppm") > sa.getAs[Long]("w_t1_ppm"))
    assert(sa.getAs[Long]("w_t1_ppm") > sa.getAs[Long]("w_t05_ppm"))
    assert(sb.getAs[Long]("w_t2_ppm") < sb.getAs[Long]("w_t1_ppm"))
    assert(sb.getAs[Long]("w_t1_ppm") < sb.getAs[Long]("w_t05_ppm"))
  }

  test("temperature weights: the ±1 fix-up makes the integer sqrt exact") {
    // The engine computes r = fixup(floor(sqrt(c·1e6))). Verify the same
    // formula in Scala against BigInt sqrt across boundary-heavy values.
    val cases = (0L to 2000L) ++ Seq(99999L, 100000L, 12345L, 54321L)
    cases.foreach { c =>
      val v = c * 1000000L
      val r0 = math.floor(math.sqrt(v.toDouble)).toLong
      val r = r0 - (if (r0 * r0 > v) 1 else 0) +
        (if ((r0 + 1) * (r0 + 1) <= v) 1 else 0)
      val exact = java.math.BigInteger.valueOf(v).sqrt().longValue()
      assert(r == exact, s"isqrt($v): fixup gave $r, exact $exact")
    }
  }

  test("temperature weights: sf0.001 weights are distributions (≤1e6)") {
    val rows = RankMixQueries
      .queries("mix_temperature_weights")(spark, sf("sf0.001")).collect()
    assert(rows.length >= 2)
    Seq("w_t1_ppm", "w_t05_ppm", "w_t2_ppm").foreach { w =>
      val tot = rows.map(_.getAs[Long](w)).sum
      // integer div loses < #sources ppm units
      assert(tot <= 1000000L && tot > 1000000L - rows.length,
        s"$w sums to $tot")
    }
  }

  test("dedup-adjusted weights: duplicates shift the mixture away from " +
      "the dup-heavy source") {
    val tmp = Files.createTempDirectory("graft-dmix").toString
    import spark.implicits._
    // sa: 3 docs, all the same text (2 dups removed); sb: 3 unique docs.
    Seq((1L, "dup dup", "sa"), (2L, "dup dup", "sa"), (3L, "dup dup", "sa"),
      (4L, "u1", "sb"), (5L, "u2", "sb"), (6L, "u3", "sb"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$tmp/documents.parquet")
    val r = RankMixQueries
      .queries("mix_dedup_adjusted_weights")(spark, tmp)
      .orderBy(col("source")).collect()
    val sa = r(0); val sb = r(1)
    assert(sa.getAs[Long]("n_docs") == 3L && sa.getAs[Long]("n_kept") == 1L)
    assert(sb.getAs[Long]("n_docs") == 3L && sb.getAs[Long]("n_kept") == 3L)
    assert(sa.getAs[Long]("w_raw_ppm") == 500000L)
    assert(sa.getAs[Long]("w_dedup_ppm") == 250000L)
    assert(sa.getAs[Long]("shift_ppm") == -250000L)
    assert(sb.getAs[Long]("shift_ppm") == 250000L)
  }

  // ---- text_doc_entropy ---------------------------------------------

  test("doc entropy: closed forms — 0, ln 2, ln k on planted docs") {
    val tmp = Files.createTempDirectory("graft-ent").toString
    import spark.implicits._
    Seq((1L, "x x x x"), (2L, "a b"), (3L, "p q r s"))
      .toDF("doc_id", "text")
      .write.parquet(s"$tmp/documents.parquet")
    val r = TextQueries.queries("text_doc_entropy")(spark, tmp)
      .orderBy(col("doc_id")).collect()
    assert(r(0).getAs[Long]("entropy_micro") == 0L)
    assert(r(0).getAs[Long]("n_distinct") == 1L)
    // ln 2 = 0.693147…: two terms of (1/2)·ln 2 each → 346574 + 346574
    val half = math.floor(0.5 * math.log(2.0) * 1e6 + 0.5).toLong
    assert(r(1).getAs[Long]("entropy_micro") == 2 * half)
    // uniform over 4: 4 terms of (1/4)·ln 4
    val quarter = math.floor(0.25 * math.log(4.0) * 1e6 + 0.5).toLong
    assert(r(2).getAs[Long]("entropy_micro") == 4 * quarter)
    assert(r(2).getAs[Long]("n_tokens") == 4L)
  }

  test("doc entropy: sf0.001 bounded by ln(n_distinct) + quantization slack") {
    val rows = TextQueries
      .queries("text_doc_entropy")(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val e = r.getAs[Long]("entropy_micro")
      val nd = r.getAs[Long]("n_distinct")
      val cap = math.ceil(math.log(nd.toDouble.max(1.0)) * 1e6).toLong + nd
      assert(e >= 0 && e <= cap, s"doc ${r.getLong(0)}: entropy $e cap $cap")
      assert(r.getAs[Double]("entropy_nats") == e.toDouble / 1e6)
    }
  }

  // ---- text_langid_confusion ----------------------------------------

  test("langid confusion: cells sum to row totals and match text_langid") {
    val dir = sf("sf0.001")
    val rows = TextQueries.queries("text_langid_confusion")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("lang")).foreach { case (_, g) =>
      assert(g.map(_.getAs[Long]("n")).sum == g.head.getAs[Long]("n_lang"))
      g.foreach(r => assert(r.getAs[Long]("p_ppm") <= 1000000L))
    }
    // cross-check one cell against the classifier joined to the corpus
    val docs = graft.queries.Tables.scan(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
    val pred = TextQueries.queries("text_langid")(spark, dir)
      .select(col("doc_id"), col("lang_pred"))
    val expected = docs.join(pred, "doc_id")
      .groupBy(col("lang"), col("lang_pred")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    rows.foreach { r =>
      val k = (r.getAs[String]("lang"), r.getAs[String]("lang_pred"))
      assert(expected(k) == r.getAs[Long]("n"), s"cell $k")
    }
  }

  // ---- sim_recall_audit ---------------------------------------------

  test("recall audit equals an independently computed intersection") {
    val dir = sf("sf0.001")
    val audit = SimilarityQueries.queries("sim_recall_audit")(spark, dir)
      .collect().map(r => r.getAs[Long]("qid") ->
        (r.getAs[Long]("matched"), r.getAs[Long]("recall_ppm"))).toMap
    val brute = SimilarityQueries.queries("sim_knn_brute")(spark, dir)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")))
      .groupBy(_._1).map { case (q, g) => q -> g.map(_._2).toSet }
    val lsh = SimilarityQueries.queries("sim_knn_lsh")(spark, dir)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")))
      .groupBy(_._1).map { case (q, g) => q -> g.map(_._2).toSet }
    assert(audit.keySet == brute.keySet)
    brute.foreach { case (q, bset) =>
      val m = bset.intersect(lsh.getOrElse(q, Set.empty)).size.toLong
      assert(audit(q)._1 == m, s"qid $q matched")
      assert(audit(q)._2 == m * 1000000L / 5L, s"qid $q recall")
    }
  }
}
