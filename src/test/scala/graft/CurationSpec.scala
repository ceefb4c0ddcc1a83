package graft

import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import graft.queries.CurationQueries

/** Semantic pins for the corpus-curation operators (CurationQueries):
  * repetition signals, substring-window duplication, decontamination,
  * deterministic training shuffle, int8 quantization, filter funnel.
  */
class CurationSpec extends SparkSuite {

  private val dir = sf("sf0.001")
  private def q(name: String) = CurationQueries.queries(name)(spark, dir)

  test("text_repetition: signals are internally consistent") {
    val rows = q("text_repetition").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nWords = r.getAs[Long]("n_words")
      val nDistinct = r.getAs[Long]("n_distinct")
      val topCnt = r.getAs[Long]("top_cnt")
      assert(nDistinct <= nWords && nDistinct >= 1)
      assert(topCnt >= 1 && topCnt <= nWords - nDistinct + 1)
      assert(math.abs(r.getAs[Double]("ttr") -
        nDistinct.toDouble / nWords) == 0.0)
      assert(math.abs(r.getAs[Double]("top_word_frac") -
        topCnt.toDouble / nWords) == 0.0)
    }
  }

  test("text_repetition: top word matches an independent recount") {
    val doc = spark.read.parquet(s"$dir/documents.parquet")
      .orderBy("doc_id").select("doc_id", "text").head()
    val words = doc.getString(1).split(' ')
    // deterministic tie-break: max count, then lexicographically smallest
    val byCount = words.groupBy(identity).view.mapValues(_.length).toSeq
    val maxC = byCount.map(_._2).max
    val top = byCount.filter(_._2 == maxC).map(_._1).min
    val got = q("text_repetition")
      .filter(col("doc_id") === doc.getLong(0)).head()
    assert(got.getAs[String]("top_word") == top)
    assert(got.getAs[Long]("top_cnt") == maxC.toLong)
  }

  test("dedup_window_pairs: every window is 64 chars, shared by 2+ docs, " +
      "and genuinely present in that many documents") {
    val rows = q("dedup_window_pairs").collect()
    assert(rows.nonEmpty, "sf0.001 contains verbatim duplicate docs")
    rows.foreach { r =>
      assert(r.getAs[String]("win").length == 64)
      assert(r.getAs[Long]("n_docs") >= 2)
      assert(r.getAs[Long]("n_hits") >= r.getAs[Long]("n_docs"))
    }
    // spot-check the first window by direct substring containment
    val win = rows.head.getAs[String]("win")
    val present = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").contains(win)).count()
    assert(present >= rows.head.getAs[Long]("n_docs"),
      s"window not found via contains(): $win")
  }

  test("decontam_overlap: pairs link corpus docs to eval docs only, " +
      "and the eval-gram side broadcasts") {
    val df = q("decontam_overlap")
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("eval_doc_id") % 37 == 0)
      assert(r.getAs[Long]("doc_id") % 37 != 0)
      assert(r.getAs[Long]("n_shared") >= 1)
    }
    val broadcasts = physicalNodes(df).collect {
      case b: BroadcastExchangeExec => b }
    assert(broadcasts.nonEmpty,
      "eval gram index must broadcast — corpus grams must not shuffle")
  }

  test("mix_shuffle_order: a deterministic permutation with contiguous " +
      "per-shard positions") {
    val rows = q("mix_shuffle_order").collect()
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.length == nDocs, "shuffle must be a permutation")
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == nDocs)
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (_, rs) =>
      val pos = rs.map(_.getAs[Long]("pos")).sorted
      assert(pos.sameElements(1L to rs.length), "positions not contiguous")
    }
    // determinism: a second run yields the identical ordering
    val again = q("mix_shuffle_order").collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("sim_quantize_int8: quantized range is [-127,127], the max-|x| " +
      "dim saturates, and reconstruction stays within half a step") {
    import spark.implicits._
    val rows = q("sim_quantize_int8").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("q_min") >= -127L)
      assert(r.getAs[Long]("q_max") <= 127L)
      assert(r.getAs[Long]("n_sat") >= 1L,
        "the max-abs element must quantize to ±127")
    }
    // elementwise reconstruction bound on one vector: |x - q*amax/127|
    // <= amax/254 + eps (half a quantization step)
    val v = spark.read.parquet(s"$dir/embeddings.parquet")
      .orderBy("vec_id").select("embedding").as[Seq[Float]].head()
    val amax = v.map(x => math.abs(x.toDouble)).max
    v.foreach { x =>
      val qd = math.floor(x.toDouble * 127.0 / amax + 0.5)
      assert(math.abs(x.toDouble - qd * amax / 127.0) <=
        amax / 254.0 + 1e-12)
    }
  }

  test("curation_pipeline_e2e: stage counts are monotonically " +
      "non-increasing and the mix stage actually removes docs somewhere") {
    val rows = q("curation_pipeline_e2e").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val chain = Seq("n_raw", "n_quality", "n_unique", "n_clean", "n_final")
        .map(r.getAs[Long])
      chain.sliding(2).foreach { case Seq(a, b) =>
        assert(b <= a, s"funnel not monotone: $chain") }
    }
    val total = rows.map(_.getAs[Long]("n_raw")).sum
    val fin = rows.map(_.getAs[Long]("n_final")).sum
    assert(fin < total, "pipeline should drop something end-to-end")
  }

  test("text_length_histogram: buckets partition the corpus and the " +
      "cumulative column is a prefix sum") {
    val rows = q("text_length_histogram").collect()
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    var run = 0L
    rows.sortBy(_.getAs[Long]("bucket")).foreach { r =>
      run += r.getAs[Long]("n_docs")
      assert(r.getAs[Long]("cum_docs") == run)
    }
  }

  test("sim_cluster_quality: label clusters are coherent (centroid " +
      "cosine high, all vectors accounted for)") {
    val rows = graft.queries.SimilarityQueries
      .queries("sim_cluster_quality")(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == total)
    rows.foreach { r =>
      val avg = r.getAs[Double]("avg_cos")
      val min = r.getAs[Double]("min_cos")
      assert(avg > 0.0 && avg <= 1.0 && min <= avg)
    }
  }

  test("final mile: survivors pack into token-budget shards and land as " +
      "partitioned parquet a trainer can read back") {
    import org.apache.spark.sql.functions._
    val survivors = q("curation_survivors")
      .join(spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), expr("size(split(text, ' '))").as("n_tokens")),
        "doc_id")
    val sharded = graft.operators.Pack.packShards(
      survivors, "doc_id", "n_tokens", budget = 512L)
    val out = java.nio.file.Files
      .createTempDirectory("graft-shards").toString
    sharded.write.mode("overwrite")
      .partitionBy("shard_id").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() == survivors.count(), "round-trip row count")
    val shards = back.select("shard_id").distinct().count()
    assert(shards >= 2, "budget should split the corpus into shards")
    // partitioned layout on disk: one directory per shard
    val dirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
    assert(dirs.length == shards, "one partition directory per shard")
  }

  test("corpus_filter_funnel: conjunction never exceeds any single rule") {
    val rows = q("corpus_filter_funnel").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val all = r.getAs[Long]("pass_all")
      Seq("pass_len", "pass_words", "pass_ttr", "pass_lang").foreach { c =>
        assert(all <= r.getAs[Long](c), s"pass_all > $c")
        assert(r.getAs[Long](c) <= r.getAs[Long]("n_docs"))
      }
    }
  }

  test("curation_gopher_filter: every rule fires in its intended direction " +
      "on a constructed fixture (the gated corpus only exercises " +
      "no_stopwords/repetitive)") {
    val tmp = java.nio.file.Files.createTempDirectory("gopher").toString
    val ok = "the cat sat on a mat of straw and felt quite fine today yes"
    val rows = Seq(
      (1L, ok, "en", "src0"),                               // passes all
      (2L, "the of a", "en", "src0"),                       // too_short
      (3L, ("the of " + Seq.fill(1200)("word").mkString(" ")), "en",
        "src0"),                                            // too_long
      (4L, "a a b a c " + "the of x y z w", "en", "src0"),  // short_words
      (5L, "the of " + Seq.fill(10)("extraordinarily").mkString(" "),
        "en", "src0"),                    // long_words + repetitive
      (6L, ok + " " + Seq.fill(20)("spam").mkString(" "), "en",
        "src0"))                                            // repetitive
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$tmp/documents.parquet")
    val out = CurationQueries.queries("curation_gopher_filter")(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(4), r.getBoolean(5)))).toMap
    assert(out(1L) == (("", true)), out(1L))
    assert(out(2L)._1.contains("too_short") && !out(2L)._2)
    assert(out(3L)._1.contains("too_long"))
    assert(out(4L)._1.contains("short_words"))
    assert(out(5L)._1.contains("long_words") &&
      out(5L)._1.contains("repetitive"))
    assert(out(6L) == (("repetitive", false)), out(6L))
  }

  test("decontam_semantic: LSH-prefiltered scan of the FULL eval set — " +
      "precision 1.0 vs the brute corpus×eval product, recall pinned") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val nd = emb.select(col("vec_id"),
      expr("vec_normalize(embedding)").as("nv"))
    val ev = nd.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("eval_id"), col("nv").as("en"))
    val co = nd.filter(col("vec_id") % 37 =!= 0)
      .select(col("vec_id"), col("nv").as("cn"))
    // Brute ground truth: EVERY (corpus, eval) pair at cos >= 0.35 — the
    // uncapped product the LSH prefilter approximates. Test-only: bounded
    // by the sf0.001 fixture (~200 vectors).
    val brute = co.join(ev,
        round(expr("vec_dot(cn, en)"), 6) >= 0.35)
      .select(col("vec_id"), col("eval_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture has no contaminated pairs — test vacuous")
    val got = q("decontam_semantic").collect()
    // precision 1.0: the exact-cosine re-rank means every reported
    // (vector, best-match) pair must be a true thresholded pair
    got.foreach { r =>
      val p = (r.getAs[Long]("vec_id"), r.getAs[Long]("eval_id"))
      assert(brute.contains(p), s"false positive $p")
      assert(r.getAs[Double]("cos") >= 0.35)
    }
    // recall on contaminated VECTORS (the operator's decision unit): the
    // 6-table × autoPlanes prefilter at this low threshold (0.35 ≈ 69°)
    // is a candidate generator, not a guarantee — pin the measured floor.
    val bruteVecs = brute.map(_._1)
    val gotVecs = got.map(_.getAs[Long]("vec_id")).toSet
    assert(gotVecs.subsetOf(bruteVecs))
    val recall = gotVecs.size.toDouble / bruteVecs.size
    info(s"decontam_semantic recall: ${gotVecs.size}/${bruteVecs.size} " +
      f"= $recall%.3f")
    assert(recall >= 0.30, f"recall $recall%.3f below pin")
  }
}
