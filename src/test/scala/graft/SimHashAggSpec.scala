package graft

import org.apache.spark.sql.functions._

/** Native aggregate semantics: single-row groups equal the row-level
  * expression; results are partitioning-invariant (merge correctness);
  * similar corpora produce nearby fingerprints.
  */
class SimHashAggSpec extends SparkSuite {
  import spark.implicits._

  test("a single-document group equals the row-level simhash64") {
    val df = Seq((1L, "spark scala codegen shuffle"),
      (2L, "completely different content here")).toDF("id", "t")
    val rows = df
      .select(col("id"), expr("simhash64(split(t, ' '))").as("row_h"))
      .join(
        df.groupBy(col("id"))
          .agg(expr("simhash_agg(split(t, ' '))").as("agg_h")), "id")
      .collect()
    assert(rows.forall(r => r.getAs[Long]("row_h") == r.getAs[Long]("agg_h")))
  }

  test("result is invariant to partitioning (merge is correct)") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    def fp(parts: Int): Map[(String, String), Long] =
      docs.repartition(parts)
        .groupBy(col("source"), col("lang"))
        .agg(expr("simhash_agg(split(text, ' '))").as("h"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(fp(1) == fp(7))
  }

  test("similar corpora ⇒ small hamming distance; disjoint ⇒ large") {
    def fp(rows: Seq[String]): Long =
      rows.toDF("t").agg(expr("simhash_agg(split(t, ' '))")).head().getLong(0)
    val base = (1 to 50).map(i => s"common words shared across docs $i")
    val near = base.updated(0, "common words shared across docs CHANGED")
    val far = (1 to 50).map(i => s"utterly unrelated vocabulary entirely $i")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(base), fp(near)) < ham(fp(base), fp(far)))
  }
}
