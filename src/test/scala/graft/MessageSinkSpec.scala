package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import graft.model.{ChangeEvent, ChangeEventId, Ns}
import graft.operators.CdcPipeline
import graft.streaming.StreamingCdc
import graft.streaming.StreamingCdc.StreamConfig

/** DSv2 StreamingWrite sink (graft.sinks.MessageSink), the publish path
  * of StreamingCdc: the epoch-commit contracts that live in the sink
  * itself — invalidate truncation (mid-batch included) and its
  * durability, the crash-replay duplicate window, and capped-token
  * convergence.
  */
class MessageSinkSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-dsv2sink").toString

  private def ev(token: Int, op: String): ChangeEvent =
    ChangeEvent(ChangeEventId(f"$token%06d"), op, None, None,
      Some(Ns("db", "c")), Some(s"""{"_id":$token}"""),
      if (op == "delete" || op == "invalidate") None
      else Some(s"""{"_id":$token,"v":$token}"""),
      None, None)

  private def writeBatchFile(dir: String, events: Seq[ChangeEvent]): Unit =
    events.toDF().coalesce(1).write.mode("append").parquet(dir)

  private def cfg(name: String, root: String): StreamConfig =
    StreamConfig(name, s"$root/in", s"$root/messages-$name",
      s"$root/tokens-$name", s"$root/ckpt-$name",
      maxRowsPerTrigger = Some(1L))

  private def dedup(c: StreamConfig): DataFrame =
    CdcPipeline.dedupByMsgId(
      spark.read.parquet(c.messagesDir).drop("batch_id"))

  test("F2 via epoch commit: a mid-batch invalidate truncates the batch, " +
      "commits the pre-cut token, stops the stream durably") {
    val root = tmp()
    val c = cfg("inv", root)
    writeBatchFile(c.inputDir, (1 to 10).map(ev(_, "insert")))
    writeBatchFile(c.inputDir,
      (11 to 15).map(ev(_, "insert")) ++ Seq(ev(16, "invalidate")) ++
        (17 to 20).map(ev(_, "insert")))
    writeBatchFile(c.inputDir, (21 to 30).map(ev(_, "insert")))
    StreamingCdc.runAll(spark, Seq(c), availableNow = true)

    val ids = spark.read.parquet(c.messagesDir)
      .select("msgId").as[String].collect().toSeq.sorted
    assert(ids == (1 to 15).map(i => f"$i%06d"),
      s"expected truncation at the invalidate, got $ids")
    assert(StreamingCdc.wasInvalidated(c.name))
    // durable: a fresh runAll on the same dirs publishes nothing more
    writeBatchFile(c.inputDir, (31 to 35).map(ev(_, "insert")))
    StreamingCdc.runAll(spark, Seq(c), availableNow = true)
    assert(spark.read.parquet(c.messagesDir).count() == 15,
      "an invalidated stream must not resume publishing")
  }

  test("F2 via epoch commit: an invalidate alone in its partition (no " +
      "publishable rows beside it) still cuts the epoch") {
    val root = tmp()
    // no row budget: all three files form one epoch, one partition each
    val c = cfg("invalone", root).copy(maxRowsPerTrigger = None)
    writeBatchFile(c.inputDir, (1 to 10).map(ev(_, "insert")))
    writeBatchFile(c.inputDir, Seq(ev(11, "invalidate")))
    writeBatchFile(c.inputDir, (12 to 20).map(ev(_, "insert")))
    StreamingCdc.runAll(spark, Seq(c), availableNow = true)
    val ids = spark.read.parquet(c.messagesDir)
      .select("msgId").as[String].collect().toSeq.sorted
    assert(ids == (1 to 10).map(i => f"$i%06d"),
      s"expected truncation at the invalidate, got $ids")
    assert(StreamingCdc.wasInvalidated(c.name))
  }

  test("F2 durability via epoch commit: a kill after the invalidate " +
      "epoch's token landed but before its marker (inside the capped " +
      "trim) still terminates the stream on restart") {
    val root = tmp()
    val c = cfg("invtrim", root).copy(tokensCapped = true, tokensMaxRows = 1)
    writeBatchFile(c.inputDir, (1 to 10).map(ev(_, "insert")))
    writeBatchFile(c.inputDir,
      (11 to 15).map(ev(_, "insert")) ++ Seq(ev(16, "invalidate")) ++
        (17 to 20).map(ev(_, "insert")))
    // epoch 1 is the first whose token write makes the table exceed its
    // cap, so its trim runs — and dies in the trim window (batchId -1)
    val tripped = new java.util.concurrent.atomic.AtomicBoolean(false)
    StreamingCdc.faultpoint = (name, batchId) =>
      if (name == c.name && batchId == -1L &&
          tripped.compareAndSet(false, true))
        throw new java.io.IOException("sinkspec: injected trim kill")
    try {
      intercept[Exception] {
        StreamingCdc.runAll(spark, Seq(c), availableNow = true)
      }
      assert(tripped.get())
    } finally StreamingCdc.faultpoint = (_, _) => ()
    assert(StreamingCdc.latestToken(spark, c.tokensDir).contains("000015"))

    // restart with post-invalidate input pending: the replayed, already
    // committed epoch must still mark the stream terminated
    writeBatchFile(c.inputDir, (21 to 30).map(ev(_, "insert")))
    StreamingCdc.runAll(spark, Seq(c), availableNow = true)
    assert(StreamingCdc.wasInvalidated(c.name))
    val ids = spark.read.parquet(c.messagesDir)
      .select("msgId").as[String].collect().toSeq.sorted
    assert(ids == (1 to 15).map(i => f"$i%06d"),
      s"restart published past a committed invalidate: $ids")
  }

  test("C2/C3: kill in the publish->token window replays with observable " +
      "duplicates; the dedup view and token converge (at-least-once)") {
    val root = tmp()
    // row budget => two epochs, so the kill can land on epoch 1
    val c = cfg("crash", root).copy(maxRowsPerTrigger = Some(25L))
    writeBatchFile(c.inputDir, (1 to 25).map(ev(_, "insert")))
    writeBatchFile(c.inputDir, (26 to 50).map(ev(_, "insert")))

    val tripped = new java.util.concurrent.atomic.AtomicBoolean(false)
    StreamingCdc.faultpoint = (name, batchId) =>
      if (name == c.name && batchId == 1L &&
          tripped.compareAndSet(false, true))
        throw new java.io.IOException("sinkspec: injected kill")
    try {
      val thrown = intercept[Exception] {
        StreamingCdc.runAll(spark, Seq(c), availableNow = true)
      }
      assert(Iterator.iterate[Throwable](thrown)(_.getCause)
        .takeWhile(_ != null).take(10)
        .exists(_.toString.contains("sinkspec")), s"wrong failure: $thrown")
      // restart: replays the uncommitted epoch
      StreamingCdc.runAll(spark, Seq(c), availableNow = true)
    } finally StreamingCdc.faultpoint = (_, _) => ()

    val raw = spark.read.parquet(c.messagesDir)
    assert(raw.count() >= 50, "replay must re-publish the killed epoch")
    val deduped = dedup(c).select("msgId").as[String].collect().toSeq.sorted
    assert(deduped == (1 to 50).map(i => f"$i%06d"))
    assert(StreamingCdc.latestToken(spark, c.tokensDir).contains("000050"))
  }

  test("D1: capped tokens trim on the dsv2 path and converge to the same " +
      "latest token as uncapped") {
    val root = tmp()
    val c = cfg("cap", root).copy(tokensCapped = true, tokensMaxRows = 3)
    (1 to 8).foreach(b =>
      writeBatchFile(c.inputDir, (b * 10 + 1 to b * 10 + 9).map(ev(_, "insert"))))
    StreamingCdc.runAll(spark, Seq(c), availableNow = true)
    val tok = spark.read.parquet(c.tokensDir)
    assert(tok.count() <= 4, s"trim must cap the table, got ${tok.count()}")
    assert(StreamingCdc.latestToken(spark, c.tokensDir).contains("000089"))
  }
}
