package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.queries.SimilarityQueries

/** Semantic pin for sim_label_audit (the oracle gate proves engine↔DuckDB
  * parity; this proves the AUDIT catches label noise): on a constructed
  * corpus of three well-separated clusters with one deliberately
  * mislabeled vector, the audit must flag exactly the planted vector and
  * agree with every clean label. The real testdata's labels are only
  * weakly embedding-aligned (own-centroid cosine ≈ 0.14), so the gate's
  * bit-exact rows there verify the computation, not the detection power —
  * this fixture pins the detection power.
  */
class SimLabelAuditSpec extends SparkSuite {

  test("planted mislabeled vector is the ONLY disagreement on a " +
      "well-separated fixture; vote invariants hold on real testdata") {
    val tmp = Files.createTempDirectory("graft-audit").toString
    // 3 clusters x 40 vectors, 24 dims: cluster c occupies dims
    // [8c, 8c+8) with a small deterministic per-vector perturbation —
    // within-cluster cosine ~1, cross-cluster ~0.
    val rows = for (c <- 0 until 3; i <- 0 until 40) yield {
      val emb = Array.tabulate(24) { d =>
        val base = if (d >= 8 * c && d < 8 * c + 8) 1.0f else 0.0f
        base + 0.01f * (((c * 40 + i) * 7 + d) % 5 - 2)
      }
      val label = if (c == 0 && i == 0) 2 else c // plant: vec 0 mislabeled
      ((c * 40 + i).toLong, emb, label)
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$tmp/embeddings.parquet")

    val got = SimilarityQueries.queries("sim_label_audit")(spark, tmp)
      .collect()
    assert(got.length == 120)
    val disagree = got.filter(!_.getAs[Boolean]("agree"))
    assert(disagree.map(_.getAs[Long]("vec_id")).toSeq == Seq(0L),
      s"audit must flag exactly the planted vector, got " +
        disagree.map(_.getAs[Long]("vec_id")).mkString(","))
    // the planted vector's predicted label is its TRUE cluster
    assert(disagree.head.getAs[Int]("predicted") == 0)

    // vote invariants on the real gate fixture
    val real = SimilarityQueries.queries("sim_label_audit")(
      spark, sf("sf0.001")).collect()
    real.foreach { r =>
      val nn = r.getAs[Long]("n_neighbors")
      val nv = r.getAs[Long]("n_votes")
      assert(nv <= nn, s"votes $nv exceed neighbors $nn")
      if (nn == 0)
        assert(r.isNullAt(r.fieldIndex("predicted")) &&
          !r.getAs[Boolean]("agree"))
      else assert(nv >= 1)
      if (!r.isNullAt(r.fieldIndex("predicted")))
        assert(r.getAs[Boolean]("agree") ==
          (r.getAs[Int]("predicted") == r.getAs[Int]("label")))
    }
  }
}
