package graft

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextHashImpl
import graft.queries.{CurationQueries, TextQueries}

/** Independent single-node replays + contract properties for the round-9
  * additions: DSIR importance weights, the count-min sketch audit, and
  * per-document n-gram novelty. The oracle gate re-proves each dataflow
  * bit-exact against DuckDB; these pins rebuild the same answers with
  * plain Scala collections (no DataFrame aggregation path shared), so an
  * engine-side aggregation bug and an oracle-side transcription bug
  * cannot cancel out.
  */
class DsirCmsNoveltySpec extends SparkSuite {

  private def fnv(s: String): Long = TextHashImpl.poly64(UTF8String.fromString(s))
  private def pmod(h: Long, m: Long): Long = { val r = h % m; if (r < 0) r + m else r }

  private lazy val docs: Array[(Long, String, String)] = spark.read
    .parquet(sf("sf0.001") + "/documents.parquet")
    .selectExpr("cast(doc_id as long)", "lang", "text")
    .collect()
    .map(r => (r.getLong(0), r.getString(1), r.getString(2)))

  private def bigrams(text: String): Seq[String] = {
    val t = text.split(" ", -1)
    (0 until t.length - 1).map(i => t(i) + " " + t(i + 1))
  }

  // ---------------------------------------------------------------- DSIR

  test("DSIR weights equal the single-node replay exactly") {
    val B = 1024L
    val grams = docs.flatMap { case (id, lang, text) =>
      bigrams(text).map(g => (id, lang, pmod(fnv(g), B)))
    }
    val cs = grams.groupBy(_._3).map { case (b, g) => b -> g.length.toLong }
    val ct = grams.filter(_._2 == "en").groupBy(_._3)
      .map { case (b, g) => b -> g.length.toLong }
    val ns = cs.values.sum
    val nt = ct.values.sum
    val q = cs.map { case (b, c) =>
      val t = ct.getOrElse(b, 0L)
      val lr = math.log((t + 1).toDouble / (nt + B)) -
        math.log((c + 1).toDouble / (ns + B))
      b -> math.floor(lr * 1e6 + 0.5).toLong
    }
    val expect = docs.map { case (id, _, text) =>
      val bs = bigrams(text).map(g => pmod(fnv(g), B))
      id -> ((bs.length.toLong, bs.map(q).sum))
    }.toMap

    val got = CurationQueries.queries("curation_dsir_weights")(
      spark, sf("sf0.001")).collect()
    assert(got.length == docs.length, "one row per document")
    got.foreach { r =>
      val (nGrams, micro) = expect(r.getLong(0))
      assert(r.getLong(2) == nGrams, s"n_grams for doc ${r.getLong(0)}")
      assert(r.getLong(3) == micro, s"weight_micro for doc ${r.getLong(0)}")
      assert(r.getDouble(4) == micro.toDouble / 1e6, "weight division")
    }
  }

  test("DSIR separates the target: mean weight of en docs exceeds non-en") {
    val rows = CurationQueries.queries("curation_dsir_weights")(
      spark, sf("sf0.001")).collect()
    def mean(p: Boolean): Double = {
      val xs = rows.filter(r => (r.getString(1) == "en") == p)
        .map(r => r.getLong(3).toDouble / math.max(1L, r.getLong(2)))
      xs.sum / xs.length
    }
    assert(mean(true) > mean(false),
      "per-gram importance of target-language docs must be higher")
  }

  // ----------------------------------------------------------------- CMS

  test("CMS estimates equal the single-node sketch and dominate exact " +
      "counts") {
    val (d, w) = (TextQueries.CmsDepth, TextQueries.CmsWidth.toLong)
    val toks = docs.flatMap(_._3.split(" ", -1))
    val cells = new scala.collection.mutable.HashMap[(Int, Long), Long]()
    toks.foreach { t =>
      (0 until d).foreach { r =>
        val c = pmod(fnv(s"$r|$t"), w)
        cells((r, c)) = cells.getOrElse((r, c), 0L) + 1L
      }
    }
    val exact = toks.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val topk = exact.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(TextQueries.CmsTopK).toMap

    val got = TextQueries.queries("text_cms_counts")(spark, sf("sf0.001"))
      .collect()
    assert(got.length == topk.size)
    got.foreach { r =>
      val tok = r.getString(0)
      val est = (0 until d).map(rr => cells((rr, pmod(fnv(s"$rr|$tok"), w)))).min
      assert(r.getLong(1) == topk(tok), s"exact count of '$tok'")
      assert(r.getLong(2) == est, s"CMS estimate of '$tok'")
      assert(r.getLong(2) >= r.getLong(1),
        "count-min NEVER underestimates — overcount must be >= 0")
      assert(r.getLong(3) == r.getLong(2) - r.getLong(1))
    }
  }

  // ------------------------------------------------------------- novelty

  test("n-gram novelty equals the single-node replay; ratios well-formed") {
    def trigrams(text: String): Set[String] = {
      val t = text.split(" ", -1)
      (0 until t.length - 2).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}").toSet
    }
    val df = new scala.collection.mutable.HashMap[String, Long]()
    docs.foreach(d => trigrams(d._3).foreach(g =>
      df(g) = df.getOrElse(g, 0L) + 1L))
    val got = TextQueries.queries("text_ngram_novelty")(spark, sf("sf0.001"))
      .collect()
    assert(got.length == docs.length, "one row per document")
    val byId = docs.map(d => d._1 -> d._3).toMap
    got.foreach { r =>
      val sh = trigrams(byId(r.getLong(0)))
      val novel = sh.count(df(_) == 1L).toLong
      assert(r.getLong(1) == sh.size.toLong, "n_shingles")
      assert(r.getLong(2) == novel, "n_novel")
      if (sh.isEmpty) assert(r.isNullAt(3), "novelty NULL when no shingles")
      else {
        assert(r.getDouble(3) == novel.toDouble / sh.size)
        assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      }
    }
  }

  test("n-gram novelty: a NULL-text document has 0 shingles, 0 novel and " +
      "NULL novelty (the oracle's COALESCE(nv.n_shingles, 0))") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-novelty").toString
    Seq((1L, Some("a b c d")), (2L, None), (3L, Some("a b")))
      .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    val got = TextQueries.queries("text_ngram_novelty")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 2L, 1.0),
      (2L, 0L, 0L, null),
      (3L, 0L, 0L, null)))
  }
}
