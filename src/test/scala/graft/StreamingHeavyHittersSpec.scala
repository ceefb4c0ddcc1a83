package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.streaming.StreamingHeavyHitters

/** StreamingHeavyHitters: the cross-batch Misra-Gries guarantee, the
  * capacity bound, and exactly-once generation commit under a crash in
  * the uncommitted window.
  */
class StreamingHeavyHittersSpec extends SparkSuite {
  import spark.implicits._

  private def ts(h: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:00:00")

  private def write(dir: String, id: Long, text: String): Unit =
    Seq((id, text, ts((id % 24).toInt))).toDF("doc_id", "text", "ingest_ts")
      .repartition(1)
      .write.mode(SaveMode.Append).parquet(dir)

  test("summary stays within capacity and is a superset of every token " +
      "with freq > n/(capacity+1), across micro-batches") {
    val root = Files.createTempDirectory("graft-shh").toString
    val (in, sum, ckpt) = (s"$root/in", s"$root/sum", s"$root/ckpt")
    // 3 batches (maxFilesPerTrigger=1 → one file each), skewed tokens
    val texts = Seq(
      "hot hot hot warm cold a b c",
      "hot hot warm warm d e f g",
      "hot warm cold h i j k l")
    texts.zipWithIndex.foreach { case (t, i) => write(in, i.toLong, t) }
    val cap = 4
    StreamingHeavyHitters.runOnce(spark, in, sum, ckpt, capacity = cap)
    val got = StreamingHeavyHitters.summary(spark, sum)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size <= cap, s"capacity exceeded: $got")
    val allToks = texts.flatMap(_.split(" "))
    val n = allToks.size
    val exact = allToks.groupBy(identity).view.mapValues(_.size)
    val mustHave = exact.collect {
      case (t, c) if c.toLong * (cap + 1) > n => t
    }.toSet
    assert(mustHave.subsetOf(got.keySet),
      s"missing ${mustHave -- got.keySet} from $got")
    // undercount bound: stored counter never exceeds the true count and
    // undershoots by at most n/(cap+1)
    got.foreach { case (t, c) =>
      val truth = exact.getOrElse(t, 0).toLong
      assert(c <= truth, s"overcount for $t: $c > $truth")
      assert(truth - c <= n / (cap + 1), s"undercount bound broken for $t")
    }
  }

  /** The PODS'12 merge of one exact batch count into a summary: pointwise
    * sum, subtract the (capacity+1)-th largest count, drop counts ≤ 0.
    */
  private def mergeRef(summary: Map[String, Long], text: String,
      capacity: Int): Map[String, Long] = {
    val sum = text.split(" ").foldLeft(summary) { (m, t) =>
      m.updated(t, m.getOrElse(t, 0L) + 1L)
    }
    val pivot = sum.values.toSeq.sorted(Ordering[Long].reverse)
      .lift(capacity).getOrElse(0L)
    sum.map { case (t, c) => t -> (c - pivot) }.filter(_._2 > 0)
  }

  // one file per batch; capacity 4 binds in batches 0, 1, 2, 3 and 5,
  // with a tie at the pivot in 0, 2, 3 and 5
  private val mergeTexts = Seq(
    "a a a b b c d e",
    "a b c c c d d f",
    "a a b c d d e e",
    "x y z w v",
    "a c c d d d",
    "d g g h h")

  test("when capacity binds, the summary after every batch equals the " +
      "PODS'12 merge of the batches' exact counts") {
    val root = Files.createTempDirectory("graft-shh6").toString
    val (in, sum, ckpt) = (s"$root/in", s"$root/sum", s"$root/ckpt")
    val cap = 4
    var want = Map.empty[String, Long]
    var tiedPivots = 0
    mergeTexts.zipWithIndex.foreach { case (t, i) =>
      val counts = t.split(" ").foldLeft(want) { (m, w) =>
        m.updated(w, m.getOrElse(w, 0L) + 1L) }.values.toSeq
        .sorted(Ordering[Long].reverse)
      if (counts.length > cap && counts(cap - 1) == counts(cap))
        tiedPivots += 1
      want = mergeRef(want, t, cap)
      write(in, i.toLong, t)
      StreamingHeavyHitters.runOnce(spark, in, sum, ckpt, capacity = cap)
      val got = StreamingHeavyHitters.summary(spark, sum)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want, s"after batch $i")
    }
    assert(tiedPivots >= 1 && want.nonEmpty, s"fixture: $tiedPivots, $want")
  }

  test("job budget: each batch merges with at most 2 Spark jobs") {
    val root = Files.createTempDirectory("graft-shh7").toString
    val (in, sum, ckpt) = (s"$root/in", s"$root/sum", s"$root/ckpt")
    mergeTexts.zipWithIndex.foreach { case (t, i) => write(in, i.toLong, t) }
    val jobs = jobsByBatch {
      StreamingHeavyHitters.runOnce(spark, in, sum, ckpt, capacity = 4)
    }
    val perBatch = jobs - ""
    assert(perBatch.keySet == mergeTexts.indices.map(_.toString).toSet,
      s"$jobs")
    assert(perBatch.values.forall(_ <= 2), s"jobs per batch: $perBatch")
  }

  test("crash between consuming a batch and committing its generation: " +
      "replay produces the generation exactly once") {
    val root = Files.createTempDirectory("graft-shh2").toString
    val (in, sum, ckpt) = (s"$root/in", s"$root/sum", s"$root/ckpt")
    write(in, 0L, "x x y")
    write(in, 1L, "x z z")
    // crash while committing the SECOND batch's generation
    StreamingHeavyHitters.faultpoint =
      id => if (id == 1L) throw new RuntimeException("injected crash")
    try {
      intercept[Exception] {
        StreamingHeavyHitters.runOnce(spark, in, sum, ckpt, capacity = 8)
      }
    } finally StreamingHeavyHitters.faultpoint = _ => ()
    // restart: batch 1 replays (its generation is absent), batch 0 must
    // not double-merge (its generation exists → replay guard skips)
    StreamingHeavyHitters.runOnce(spark, in, sum, ckpt, capacity = 8)
    val gens = spark.read.parquet(sum)
      .select("batch_id").distinct().as[Long].collect().sorted
    assert(gens.toSeq == Seq(0L, 1L), s"generations: ${gens.toSeq}")
    val got = StreamingHeavyHitters.summary(spark, sum)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // capacity 8 > vocab: the summary is the exact count table
    assert(got == Map("x" -> 3L, "y" -> 1L, "z" -> 2L), got.toString)
  }

  test("generation trim bounds the summary table across many batches; a " +
      "crash inside the trim's duplicate window changes no answer and " +
      "the next trim converges the table") {
    val root = Files.createTempDirectory("graft-shh4").toString
    val (in, sum, ckpt) = (s"$root/in", s"$root/sum", s"$root/ckpt")
    val texts = (0 until 12).map(i => s"hot t$i t$i shared")
    // crash mid-stream, while batch 5's trim is in its duplicate window
    // (kept generations re-appended, superseded files not yet deleted)
    StreamingHeavyHitters.trimFaultpoint =
      id => if (id == 5L) throw new RuntimeException("injected trim crash")
    texts.take(6).zipWithIndex.foreach { case (t, i) => write(in, i.toLong, t) }
    try {
      intercept[Exception] {
        StreamingHeavyHitters.runOnce(spark, in, sum, ckpt, capacity = 64,
          keepGenerations = 3)
      }
    } finally StreamingHeavyHitters.trimFaultpoint = _ => ()
    // batch 5 committed BEFORE its trim → the summary is already correct
    // despite the duplicated files the crash left behind
    val afterCrash = StreamingHeavyHitters.summary(spark, sum)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact6 = texts.take(6).flatMap(_.split(" "))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(afterCrash == exact6, s"$afterCrash vs $exact6")
    // restart with the remaining batches: replay guard skips batch 5,
    // later trims converge the duplicates away
    texts.drop(6).zipWithIndex.foreach { case (t, i) =>
      write(in, (i + 6).toLong, t)
    }
    StreamingHeavyHitters.runOnce(spark, in, sum, ckpt, capacity = 64,
      keepGenerations = 3)
    val all = spark.read.parquet(sum)
    val gens = all.select("batch_id").distinct().as[Long].collect().sorted
    assert(gens.length <= 3, s"trim failed: ${gens.toSeq}")
    assert(gens.contains(11L), s"newest generation missing: ${gens.toSeq}")
    // no duplicates survive the post-crash trims
    assert(all.count() == all.distinct().count())
    // capacity 64 > vocab: the summary is the exact count table over ALL
    // 12 batches — trimming old generations lost nothing
    val got = StreamingHeavyHitters.summary(spark, sum)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = texts.flatMap(_.split(" "))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == exact, s"$got vs $exact")
  }

  test("replaying an already-committed batch after the trim crash runs no " +
      "Spark job: the replay guard decides from the parquet footers") {
    val root = Files.createTempDirectory("graft-shh5").toString
    val (in, sum, ckpt) = (s"$root/in", s"$root/sum", s"$root/ckpt")
    val texts = (0 until 6).map(i => s"hot t$i t$i shared")
    texts.zipWithIndex.foreach { case (t, i) => write(in, i.toLong, t) }
    StreamingHeavyHitters.trimFaultpoint =
      id => if (id == 5L) throw new RuntimeException("injected trim crash")
    try {
      intercept[Exception] {
        StreamingHeavyHitters.runOnce(spark, in, sum, ckpt, capacity = 64,
          keepGenerations = 3)
      }
    } finally StreamingHeavyHitters.trimFaultpoint = _ => ()
    // batch 5 committed its generation before the crash, so the restart
    // replays it only to skip it
    val jobs = jobsByBatch {
      StreamingHeavyHitters.runOnce(spark, in, sum, ckpt, capacity = 64,
        keepGenerations = 3)
    }
    assert(jobs.getOrElse("5", 0) == 0, s"replayed batch 5 ran jobs: $jobs")
    val got = StreamingHeavyHitters.summary(spark, sum)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = texts.flatMap(_.split(" "))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == exact, s"$got vs $exact")
  }

  test("streaming summary + exact recount converges to the batch " +
      "two-phase answer on real testdata") {
    val root = Files.createTempDirectory("graft-shh3").toString
    val (in, sum, ckpt) = (s"$root/in", s"$root/sum", s"$root/ckpt")
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select(col("doc_id"), col("text"),
        lit(ts(0)).as("ingest_ts"))
    // 4 files → 4 micro-batches
    docs.repartition(4).write.mode(SaveMode.Append).parquet(in)
    StreamingHeavyHitters.runOnce(spark, in, sum, ckpt, capacity = 512)
    val cand = StreamingHeavyHitters.summary(spark, sum)
      .select("token").as[String].collect().toSeq
    val tk = docs.select(explode(split(col("text"), " ")).as("tok"))
    val n = tk.count()
    val streamed = tk.filter(col("tok").isin(cand: _*))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 256 >= n)
      .orderBy(col("cnt").desc, col("tok"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = graft.queries.TextQueries
      .queries("text_heavy_hitters")(spark, sf("sf0.001"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(streamed == want)
    assert(streamed.nonEmpty)
  }
}
