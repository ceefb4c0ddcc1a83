package graft

import org.apache.spark.sql.functions._
import graft.functions.TextHashImpl
import org.apache.spark.unsafe.types.UTF8String

/** Unit tests for the native hash expressions (FNV-1a, winnowing, SimHash,
  * MinHash) — known vectors + similarity properties.
  */
class TextHashesSpec extends SparkSuite {
  import spark.implicits._

  private def utf8(s: String) = UTF8String.fromString(s)

  test("fnv64 matches published FNV-1a 64 test vectors") {
    // http://www.isthe.com/chongo/tech/comp/fnv/ reference vectors
    assert(TextHashImpl.poly64(utf8("")) == 0xcbf29ce484222325L)
    assert(TextHashImpl.poly64(utf8("a")) == 0xaf63dc4c8601ec8cL)
    assert(TextHashImpl.poly64(utf8("foobar")) == 0x85944171f73967e8L)
  }

  test("expressions evaluate identically via SQL registration and codegen") {
    val df = Seq("", "a", "foobar").toDF("t")
      .select(expr("fnv64(t)").as("h")).as[Long].collect()
    assert(df.toSeq ==
      Seq(0xcbf29ce484222325L, 0xaf63dc4c8601ec8cL, 0x85944171f73967e8L))
  }

  test("token_mode: dominant token, smallest-lexicographic tie-break, " +
      "null/empty contract") {
    import org.apache.spark.sql.Row
    val out = Seq(
      ("b b a b", 1), ("b b a a", 2), ("x", 3))
      .toDF("t", "id")
      .select(col("id"), expr("token_mode(split(t, ' '))").as("m"))
      .orderBy("id").collect()
    assert(out(0).getStruct(1) == Row("b", 3L))
    assert(out(1).getStruct(1) == Row("a", 2L), "tie goes lexicographic")
    assert(out(2).getStruct(1) == Row("x", 1L))
    val empty = Seq(Tuple1(Array.empty[String])).toDF("a")
      .select(expr("token_mode(a)")).collect()
    assert(empty(0).isNullAt(0), "empty array -> null struct")
  }

  test("token_counts: per-row term table == explode+groupBy exactly; " +
      "sorted by token; null/empty contract") {
    import org.apache.spark.sql.Row
    // literal contract: sorted by token, nulls skipped, empty -> empty
    val lit0 = Seq(Tuple1(Array[String]("b", "a", "b")))
      .toDF("a").select(expr("token_counts(a)")).collect()
    assert(lit0(0).getSeq[Row](0) == Seq(Row("a", 1L), Row("b", 2L)))
    val lit1 = Seq(Tuple1(Array[String](null, "x", null)))
      .toDF("a").select(expr("token_counts(a)")).collect()
    assert(lit1(0).getSeq[Row](0) == Seq(Row("x", 1L)), "nulls skipped")
    val lit2 = Seq(Tuple1(Array.empty[String]))
      .toDF("a").select(expr("token_counts(a)")).collect()
    assert(lit2(0).getSeq[Row](0).isEmpty, "empty array -> empty table")
    // equivalence on real data: the round-15 tfidf rewrite rests on this
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val viaKernel = docs
      .select(col("doc_id"),
        explode(expr("token_counts(split(text, ' '))")).as("e"))
      .select(col("doc_id"), col("e.token").as("token"),
        col("e.cnt").as("cnt"))
    val viaGroup = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("cnt"))
    assert(viaKernel.exceptAll(viaGroup).isEmpty &&
      viaGroup.exceptAll(viaKernel).isEmpty,
      "token_counts must equal the explode+groupBy term table")
  }

  test("text_repetition (zero-shuffle form) matches the groupBy " +
      "formulation exactly") {
    val dir = sf("sf0.001")
    import org.apache.spark.sql.expressions.Window
    val wc = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val perDoc = wc.groupBy(col("doc_id")).agg(
      sum(col("cnt")).as("n_words"), count(lit(1)).as("n_distinct"))
    val rk = row_number().over(Window.partitionBy(col("doc_id"))
      .orderBy(col("cnt").desc, col("token")))
    val top = wc.withColumn("rk", rk).filter(col("rk") === 1)
      .select(col("doc_id"), col("token").as("top_word"),
        col("cnt").as("top_cnt"))
    val oldForm = perDoc.join(top, "doc_id")
      .select(col("doc_id"),
        col("n_words").cast("bigint").as("n_words"),
        col("n_distinct").cast("bigint").as("n_distinct"),
        (col("n_distinct").cast("double") / col("n_words")).as("ttr"),
        col("top_word"), col("top_cnt").cast("bigint").as("top_cnt"),
        (col("top_cnt").cast("double") / col("n_words"))
          .as("top_word_frac"))
      .orderBy(col("doc_id")).collect()
    val newForm = graft.queries.CurationQueries
      .queries("text_repetition")(spark, dir).collect()
    assert(newForm.length == oldForm.length && newForm.length > 0)
    assert(newForm.toSeq == oldForm.toSeq)
  }

  test("winnow: deterministic, robust to a local edit") {
    val base = "the quick brown fox jumps over the lazy dog " * 4
    val edited = base.replace("lazy", "hazy")
    val a = TextHashImpl.winnow(utf8(base), 8, 4).toLongArray().toSet
    val b = TextHashImpl.winnow(utf8(base), 8, 4).toLongArray().toSet
    val c = TextHashImpl.winnow(utf8(edited), 8, 4).toLongArray().toSet
    assert(a == b)
    // local edit preserves most fingerprints (winnowing guarantee)
    val overlap = a.intersect(c).size.toDouble / a.size
    assert(overlap > 0.5, s"overlap $overlap")
  }

  test("simhash: similar token sets ⇒ small hamming distance") {
    val rows = Seq(
      ("a", "spark scala engine fast shuffle partition join agg"),
      ("b", "spark scala engine fast shuffle partition join sort"), // 1 token diff
      ("c", "completely different words entirely unrelated corpus here now"))
      .toDF("id", "t")
      .select(col("id"), expr("simhash64(split(t, ' '))").as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(rows("a"), rows("b")) < ham(rows("a"), rows("c")))
    assert(ham(rows("a"), rows("b")) <= 16)
  }

  test("minhash: estimated Jaccard tracks true Jaccard") {
    val x = (1 to 40).map(i => s"tok$i")
    val y = (11 to 50).map(i => s"tok$i") // true J = 30/50 = 0.6
    def sig(ts: Seq[String]) = {
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      TextHashImpl.minhashSig(
        new GenericArrayData(ts.map(utf8).toArray[Any]), 128).toLongArray()
    }
    val (sx, sy) = (sig(x), sig(y))
    val est = sx.zip(sy).count { case (p, q) => p == q } / 128.0
    assert(math.abs(est - 0.6) < 0.15, s"estimate $est")
  }

  test("type checking rejects wrong input types") {
    val err = intercept[Exception] {
      Seq(1).toDF("x").select(expr("fnv64(x)")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("fnv64"))
  }

  test("lsh_buckets: bit-identical to the HOF formulation (float and " +
      "normalized-double inputs), validated args") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    // 1 table × 16 planes over raw floats (sim_lsh_buckets form); the HOF
    // mirror quantizes each coordinate to 6dp micro-units exactly like the
    // native kernel, so the projection is an exact integer sum
    val hof = emb.select(col("vec_id"), expr(
      """aggregate(sequence(0, 15), cast(0 as bigint), (acc, j) ->
           acc + IF(aggregate(transform(embedding, (x, i) ->
                      cast(floor(cast(x as double) * 1000000.0D + 0.5D)
                           as bigint)
                        * ((j * 2654435761 + (i + 1) * 2246822519) % 251 % 7 - 3)),
                    cast(0 as bigint), (a, v) -> a + v) > 0,
             shiftleft(cast(1 as bigint), j), cast(0 as bigint)))""").as("b"))
    val nat = emb.select(col("vec_id"),
      expr("element_at(lsh_buckets(embedding, 1, 16), 1)").as("b2"))
    assert(hof.join(nat, "vec_id").filter(col("b") =!= col("b2")).count() == 0)
    // double input accepted too (the normalized-vector path)
    val dbl = emb.select(expr(
      "lsh_buckets(transform(embedding, x -> cast(x as double)), 6, 6)"))
    assert(dbl.head().getSeq[Long](0).length == 6)
    // validation: wrong arity and non-literal counts fail usably
    val err = intercept[Exception] {
      emb.select(expr("lsh_buckets(embedding, 4)")).collect()
    }
    assert(err.getMessage.contains("lsh_buckets"), err.getMessage)
  }

  test("shingle_hashes / minhash_ngrams: fused passes match the HOF " +
      "shingle pipeline (distinct counts and bit-identical signatures)") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val toks = "split(text, ' ')"
    val shingles =
      s"""CASE WHEN size($toks) >= 3 THEN
            array_distinct(transform(sequence(1, size($toks) - 2),
              i -> concat_ws(' ', element_at($toks, i),
                                  element_at($toks, i + 1),
                                  element_at($toks, i + 2))))
          ELSE array() END"""
    val j = docs
      .select(col("doc_id"), expr(s"size($shingles)").as("na"),
        expr(s"minhash_sig($shingles, 32)").as("siga"))
      .join(docs.select(col("doc_id"),
        expr(s"size(shingle_hashes($toks, 3))").as("nb"),
        expr(s"minhash_ngrams($toks, 3, 32)").as("sigb")), "doc_id")
    assert(j.filter(col("na") =!= col("nb")).count() == 0)
    assert(j.filter(col("siga") =!= col("sigb")).count() == 0)
    // short docs: empty shingle set / all-MaxValue signature, no throw
    import spark.implicits._
    val short = Seq("one two").toDF("text")
    assert(short.select(expr("size(shingle_hashes(split(text, ' '), 3))"))
      .head().getInt(0) == 0)
    assert(short.select(expr("element_at(minhash_ngrams(split(text, ' '), 3, 4), 1)"))
      .head().getLong(0) == Long.MaxValue)
  }

  test("word_ngrams / char_windows: bit-identical to the HOF " +
      "formulations on real documents, empty on short inputs") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val toks = "split(text, ' ')"
    val hofGrams =
      s"""CASE WHEN size($toks) >= 4 THEN
            transform(sequence(0, size($toks) - 4),
              i -> concat_ws(' ', slice($toks, i + 1, 4)))
          ELSE array() END"""
    val hofWins =
      """CASE WHEN length(text) >= 64 THEN
           transform(sequence(0, (length(text) - 64) div 32),
             i -> substring(text, 1 + 32*i, 64))
         ELSE array() END"""
    val j = docs.select(
      expr(hofGrams).as("ga"), expr(s"word_ngrams($toks, 4)").as("gb"),
      expr(hofWins).as("wa"), expr("char_windows(text, 64, 32)").as("wb"))
    assert(j.filter(col("ga") =!= col("gb")).count() == 0)
    assert(j.filter(col("wa") =!= col("wb")).count() == 0)
    import spark.implicits._
    val short = Seq("one two").toDF("text")
    assert(short.select(expr("size(word_ngrams(split(text, ' '), 4))"))
      .head().getInt(0) == 0)
    assert(short.select(expr("size(char_windows(text, 64, 32))"))
      .head().getInt(0) == 0)
    // documented contract: null elements are skipped WITHIN a gram,
    // concat_ws-style — same as the HOF form it fuses (not null-
    // propagating); repo queries never produce null tokens (split()).
    val withNull = spark.sql(
      "SELECT word_ngrams(array('a', cast(null as string), 'b'), 2) AS g")
    assert(withNull.head().getSeq[String](0) == Seq("a", "b"))
  }

  test("vec_cos / vec_dot / vec_normalize: bit-identical to the HOF " +
      "formulations") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"))
    val joined = c.join(broadcast(q), col("qid") =!= col("nid"))
    val cosHof =
      """aggregate(zip_with(qe, ne, (x, y) -> cast(x as double) * cast(y as double)),
           cast(0 as double), (acc, v) -> acc + v)
         / (sqrt(aggregate(qe, cast(0 as double),
              (acc, x) -> acc + cast(x as double) * cast(x as double)))
            * sqrt(aggregate(ne, cast(0 as double),
              (acc, x) -> acc + cast(x as double) * cast(x as double))))"""
    assert(joined.withColumn("a", expr(cosHof))
      .withColumn("b", expr("vec_cos(qe, ne)"))
      .filter(col("a") =!= col("b")).count() == 0)
    val nrmHof =
      """transform(ne, x -> cast(x as double)
           / sqrt(aggregate(ne, cast(0 as double),
               (a, v) -> a + cast(v as double) * cast(v as double))))"""
    assert(c.withColumn("a", expr(nrmHof))
      .withColumn("b", expr("vec_normalize(ne)"))
      .filter(col("a") =!= col("b")).count() == 0)
    val dotHof =
      """aggregate(zip_with(qe, ne, (x, y) -> cast(x as double) * cast(y as double)),
           cast(0 as double), (acc, v) -> acc + v)"""
    assert(joined.withColumn("a", expr(dotHof))
      .withColumn("b", expr("vec_dot(qe, ne)"))
      .filter(col("a") =!= col("b")).count() == 0)
  }

  test("minhash_sig argument validation: wrong arity / non-literal k " +
      "raise a usable error, not IndexOutOfBounds/NPE") {
    val df = Seq("a b c").toDF("text")
    val arity = intercept[Exception] {
      df.select(expr("minhash_sig(split(text, ' '))")).collect()
    }
    assert(arity.getMessage.contains("minhash_sig"), arity.getMessage)
    val nonLiteral = intercept[Exception] {
      df.select(expr("minhash_sig(split(text, ' '), length(text))")).collect()
    }
    assert(nonLiteral.getMessage.contains("literal"), nonLiteral.getMessage)
  }
}
