package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.queries.{DedupQueries, TextQueries}

/** Semantic pins for text_rag_chunks (window geometry: coverage, overlap,
  * right-aligned last chunk, exact chunk text) and dedup_threshold_sweep
  * (monotone curve anchored to the pair set it sweeps).
  */
class ChunksSweepSpec extends SparkSuite {

  test("rag chunks: planted 40-token doc → two chunks, right-aligned last") {
    val tmp = Files.createTempDirectory("graft-rag").toString
    import spark.implicits._
    val toks40 = (0 until 40).map(i => s"t$i")
    Seq((1L, toks40.mkString(" ")), (2L, "a b c"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    val r = TextQueries.queries("text_rag_chunks")(spark, tmp)
      .collect().map(x => (x.getLong(0), x.getLong(1),
        x.getString(2), x.getLong(3)))
    // doc 1: maxo = 8; stride lattice {0} ∪ {8} → chunks [0,32) and [8,40)
    // doc 2: 3 tokens < 32 → single whole-doc chunk
    assert(r.toSeq == Seq(
      (1L, 0L, toks40.take(32).mkString(" "), 32L),
      (1L, 8L, toks40.slice(8, 40).mkString(" "), 32L),
      (2L, 0L, "a b c", 3L)))
  }

  test("rag chunks: sf0.001 chunks cover every doc with bounded gaps") {
    val dir = sf("sf0.001")
    val rows = TextQueries.queries("text_rag_chunks")(spark, dir).collect()
    assert(rows.nonEmpty)
    val lens = graft.queries.Tables.scan(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getLong(0)).foreach { case (doc, g) =>
      val offs = g.map(_.getLong(1)).sorted
      val len = lens(doc)
      assert(offs.head == 0L)
      // consecutive starts ≤ stride apart ⇒ full coverage given size 32
      offs.sliding(2).foreach { case Array(a, b) =>
        assert(b - a <= 24, s"doc $doc gap $a→$b")
      case _ => }
      val last = g.maxBy(_.getLong(1))
      assert(last.getLong(1) + last.getLong(3) == len,
        s"doc $doc last chunk must end at len $len")
      g.foreach(c => assert(c.getLong(3) >= 1 && c.getLong(3) <= 32))
    }
  }

  test("inter-arrival: planted gaps hit exact order statistics") {
    val tmp = Files.createTempDirectory("graft-gap").toString
    import spark.implicits._
    // user 1 at t = 1, 2, 4, 8 s → gaps 1e6, 2e6, 4e6 micros
    Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:01"), 1L, "a", 0.0),
      (2L, java.sql.Timestamp.valueOf("2026-01-01 00:00:02"), 1L, "a", 0.0),
      (3L, java.sql.Timestamp.valueOf("2026-01-01 00:00:04"), 1L, "a", 0.0),
      (4L, java.sql.Timestamp.valueOf("2026-01-01 00:00:08"), 1L, "a", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$tmp/events.parquet")
    val r = graft.queries.TemporalQueries
      .queries("events_inter_arrival")(spark, tmp).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_gaps") == 3L)
    assert(r(0).getAs[Long]("p50_gap_us") == 2000000L)
    assert(r(0).getAs[Long]("p90_gap_us") == 4000000L)
    assert(r(0).getAs[Long]("min_gap_us") == 1000000L)
    assert(r(0).getAs[Long]("max_gap_us") == 4000000L)
  }

  test("pack efficiency: per-shard sums equal a recount of pack_shards " +
      "and fill follows the integer formula") {
    val dir = sf("sf0.001")
    val shards = TextQueries.queries("text_pack_shards")(spark, dir)
      .collect().map(r => (r.getAs[Long]("shard_id"), r.getAs[Long]("n_tokens")))
    val expect = shards.groupBy(_._1).view
      .mapValues(g => (g.length.toLong, g.map(_._2).sum)).toMap
    val eff = TextQueries.queries("text_pack_efficiency")(spark, dir)
      .collect()
    assert(eff.length == expect.size)
    eff.foreach { r =>
      val (n, tot) = expect(r.getAs[Long]("shard_id"))
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("sum_tokens") == tot)
      assert(r.getAs[Long]("fill_ppm") == tot * 1000000L / 2048L)
    }
  }

  test("threshold sweep: monotone non-increasing, anchored at the pair set") {
    val dir = sf("sf0.001")
    val sweep = DedupQueries.queries("dedup_threshold_sweep")(spark, dir)
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    assert(sweep.map(_._1).toSeq ==
      Seq(0.45, 0.55, 0.65, 0.75, 0.85, 0.95))
    sweep.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 >= b._2, s"sweep not monotone at $a → $b")
    case _ => }
    val total = DedupQueries.queries("dedup_embedding_near")(spark, dir)
      .count()
    assert(sweep.head._2 == total,
      "lowest threshold must keep the whole pair set")
  }
}
