package graft

import org.apache.spark.sql.functions._
import graft.queries.TextQueries

/** Pins for the Misra-Gries frequent-items aggregate and the two-phase
  * exact heavy-hitters query built on it.
  */
class MisraGriesSpec extends SparkSuite {

  private def tokensDf(toks: Seq[String]) = {
    import spark.implicits._
    toks.toDF("tok")
  }

  test("MG guarantee: candidates are a superset of every token with " +
      "count > n/(capacity+1), across partitionings and skew shapes") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5; parts <- Seq(1, 3, 7)) {
      // Zipf-ish stream over a 200-token vocabulary
      val n = 5000
      val stream = Seq.fill(n) {
        val z = math.min(199, (math.pow(rnd.nextDouble(), 3) * 200).toInt)
        s"tok_$z"
      }
      val cap = 16
      val cand = tokensDf(stream).repartition(parts)
        .agg(expr(s"mg_candidates(tok, $cap)"))
        .head().getSeq[String](0).toSet
      assert(cand.size <= cap, s"summary exceeded capacity: ${cand.size}")
      val exact = stream.groupBy(identity).view.mapValues(_.size)
      val mustHave = exact.collect {
        case (t, c) if c.toLong * (cap + 1) > n => t
      }.toSet
      assert(mustHave.subsetOf(cand),
        s"trial $trial parts $parts: missing ${mustHave -- cand}")
    }
  }

  test("MG eval is deterministic for a fixed partitioning and sorted") {
    val stream = (1 to 1000).map(i => s"t${i % 37}")
    val a = tokensDf(stream).repartition(4)
      .agg(expr("mg_candidates(tok, 8)")).head().getSeq[String](0)
    val b = tokensDf(stream).repartition(4)
      .agg(expr("mg_candidates(tok, 8)")).head().getSeq[String](0)
    assert(a == b)
    assert(a == a.sorted)
  }

  test("text_heavy_hitters equals the exact brute-force answer on real " +
      "testdata (the sketch phase loses nothing)") {
    val got = TextQueries.queries("text_heavy_hitters")(spark, sf("sf0.001"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val tk = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select(explode(split(col("text"), " ")).as("tok"))
    val n = tk.count()
    val want = tk.groupBy("tok").count()
      .filter(col("count") * 256 >= n)
      .orderBy(col("count").desc, col("tok"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
    assert(got.nonEmpty, "vacuous: no heavy hitters in the fixture corpus")
  }

  test("empty input: empty candidate set, empty result") {
    val cand = tokensDf(Nil)
      .agg(expr("mg_candidates(tok, 8)")).head().getSeq[String](0)
    assert(cand.isEmpty)
  }
}
