package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.model.{ChangeEvent, ChangeEventId, Ns}

/** DSv2 change-stream source (S1): token offsets, footer-stat pruning,
  * F1 pushdown, checkpoint resume at the token boundary (C2 via Offset ⇔
  * resume token, client.go:206-209).
  */
class ChangeStreamSourceSpec extends SparkSuite {
  import spark.implicits._

  private val fmt = classOf[graft.sources.ChangeStreamSource].getName

  private def ev(i: Int, op: String): ChangeEvent =
    ChangeEvent(ChangeEventId(f"$i%06d"), op, None, None,
      Some(Ns("db", "c")), Some(s"""{"_id":$i}"""),
      if (op == "delete") None else Some(s"""{"_id":$i}"""), None, None)

  private def write(dir: String, events: Seq[ChangeEvent]): Unit =
    events.toDF().coalesce(1).write.mode("append").parquet(dir)

  test("batch read returns the envelope rows") {
    val dir = Files.createTempDirectory("css").toString + "/in"
    write(dir, (1 to 20).map(ev(_, "insert")))
    val got = spark.read.format(fmt).load(dir)
    assert(got.count() == 20)
    assert(got.select("_id._data").as[String].collect().sorted.head == "000001")
    assert(got.schema.fieldNames.contains("fullDocument"))
  }

  test("F1 pushdown: operationType filter reaches the source scan") {
    val dir = Files.createTempDirectory("css").toString + "/in"
    write(dir, Seq(ev(1, "insert"), ev(2, "drop"), ev(3, "update"),
      ev(4, "invalidate")))
    val df = spark.read.format(fmt).load(dir)
      .filter(col("operationType").isin("insert", "update", "replace", "delete"))
    assert(df.select("_id._data").as[String].collect().toSet ==
      Set("000001", "000003"))
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("pushedOps="), scanDesc)
    assert(scanDesc.contains("insert"), scanDesc)
  }

  test("streaming: offsets are resume tokens; restart resumes past " +
      "committed tokens; late files with old tokens are not re-read") {
    val root = Files.createTempDirectory("css").toString
    val dir = s"$root/in"
    val out = s"$root/out"
    val ckpt = s"$root/ckpt"
    write(dir, (1 to 10).map(ev(_, "insert")))

    def runOnce(): Unit = {
      val q = spark.readStream.format(fmt).load(dir)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 10)

    // offset json carries the token
    val offsetFile = new java.io.File(s"$ckpt/offsets").listFiles().maxBy(_.getName)
    val content = new String(java.nio.file.Files.readAllBytes(offsetFile.toPath))
    assert(content.contains("\"token\":\"000010\""), content)

    write(dir, (11 to 15).map(ev(_, "insert")))
    runOnce()
    val ids = spark.read.parquet(out).select("_id._data").as[String]
      .collect().sorted
    assert(ids.length == 15 && ids.last == "000015") // no dupes, no loss
  }

  test("footer-stat pruning: partitions skip files entirely at-or-before " +
      "the start token") {
    val dir = Files.createTempDirectory("css").toString + "/in"
    write(dir, (1 to 5).map(ev(_, "insert")))   // file A: tokens 1-5
    write(dir, (6 to 9).map(ev(_, "insert")))   // file B: tokens 6-9
    val mb = new graft.sources.ChangeStreamMicroBatch(dir, None)
    val parts = mb.planInputPartitions(
      graft.sources.TokenOffset("000005"), graft.sources.TokenOffset("000009"))
    assert(parts.length == 1, s"expected file A pruned, got ${parts.length}")
  }

  test("AvailableNow bound: files written after query start are not " +
      "admitted past the frozen bound (end offset clamped)") {
    val dir = Files.createTempDirectory("css").toString + "/in"
    write(dir, (1 to 5).map(ev(_, "insert")))
    val mb = new graft.sources.ChangeStreamMicroBatch(dir, None)
    mb.prepareForTriggerAvailableNow() // bound frozen at 000005
    // rows land AFTER query start, in a file overlapping the bound
    write(dir, (6 to 9).map(ev(_, "insert")))
    val end = mb.latestOffset(graft.sources.TokenOffset(""),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    assert(end.asInstanceOf[graft.sources.TokenOffset].token == "000005",
      s"end offset must clamp to the frozen bound, got $end")
  }

  test("footer-stat cache: a rewritten file replaces its entry (fresh " +
      "stats, no unbounded growth)") {
    val root = Files.createTempDirectory("css").toString
    val dir = s"$root/in"
    write(dir, (1 to 5).map(ev(_, "insert")))
    val conf = new org.apache.hadoop.conf.Configuration()
    val before = graft.sources.ChangeStreamFiles.listRanges(dir, conf)
    assert(before.map(_.maxToken).max == "000005")
    // rewrite the directory in place (compaction analog): same path set,
    // different contents — the cache must serve the NEW stats
    val tmp = s"$root/rewrite"
    (11 to 19).map(ev(_, "insert")).toDF().coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(dir))
    val after = graft.sources.ChangeStreamFiles.listRanges(dir, conf)
    assert(after.map(_.maxToken).max == "000019",
      s"stale cached stats served after rewrite: $after")
  }

  test("admission control: maxRowsPerTrigger paces batches by footer " +
      "row counts (the micro-batch backpressure knob)") {
    val root = Files.createTempDirectory("css").toString
    val dir = s"$root/in"
    (0 until 4).foreach { b =>
      write(dir, (b * 10 + 1 to b * 10 + 10).map(ev(_, "insert")))
    }
    var batches = 0
    val q = spark.readStream.format(fmt)
      .option("maxRowsPerTrigger", "10")
      .load(dir)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        if (df.count() > 0) batches += 1 // each trigger admits ~1 file
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches == 4, s"expected 4 paced batches, got $batches")
  }

  test("StreamingCdc restart over the changestream source resumes at " +
      "the committed token — no loss, no duplicates") {
    val root = Files.createTempDirectory("css").toString
    val c = graft.streaming.StreamingCdc.StreamConfig(
      "css-resume", s"$root/in", s"$root/messages", s"$root/tokens",
      s"$root/ckpt")
    write(c.inputDir, (1 to 25).map(ev(_, "insert")))
    graft.streaming.StreamingCdc.runAll(spark, Seq(c), availableNow = true)
    assert(spark.read.parquet(c.messagesDir).count() == 25)

    write(c.inputDir, (26 to 40).map(ev(_, "update")))
    graft.streaming.StreamingCdc.runAll(spark, Seq(c), availableNow = true)
    val ids = spark.read.parquet(c.messagesDir)
      .select("msgId").as[String].collect().sorted.toSeq
    assert(ids == (1 to 40).map(i => f"$i%06d"))
    assert(graft.streaming.StreamingCdc.latestToken(spark, c.tokensDir)
      .contains("000040"))
  }

  test("column pruning: a narrow projection reaches the source scan and " +
      "returns the same values as the full read") {
    val dir = Files.createTempDirectory("css").toString + "/in"
    write(dir, (1 to 15).map(i => ev(i, if (i % 3 == 0) "update" else "insert")))
    val narrow = spark.read.format(fmt).load(dir)
      .select("operationType")
    // the scan itself reports the pruned schema (not a Project on top of
    // a full-width scan): payload columns are never decoded
    val scanDesc = narrow.queryExecution.executedPlan.toString
    assert(scanDesc.contains("readSchema=operationType"), scanDesc)
    val full = spark.read.format(fmt).load(dir)
      .select("operationType")
    assert(narrow.as[String].collect().sorted.toSeq ==
      full.as[String].collect().sorted.toSeq)
    // nested pruning keeps the token usable standalone
    val tokens = spark.read.format(fmt).load(dir).select("_id._data")
    assert(tokens.as[String].collect().sorted.head == "000001")
    // pruning composes with F1 pushdown
    val combo = spark.read.format(fmt).load(dir)
      .filter(col("operationType") === "update")
      .select("_id._data")
    assert(combo.as[String].collect().length == 5)
  }

  test("column pruning applies on the micro-batch path too") {
    val root = Files.createTempDirectory("css").toString
    write(s"$root/in", (1 to 8).map(ev(_, "insert")))
    val q = spark.readStream.format(fmt).load(s"$root/in")
      .select("_id", "operationType")
      .writeStream.format("parquet")
      .option("path", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.read.parquet(s"$root/out")
    assert(out.schema.fieldNames.toSeq == Seq("_id", "operationType"))
    assert(out.select("_id._data").as[String].collect().sorted.toSeq ==
      (1 to 8).map(i => f"$i%06d"))
  }

  test("STREAMING path F1 pushdown: the publishable∪invalidate filter " +
      "StreamingCdc puts in the stream DAG reaches the source scan") {
    // Spark never runs filter pushdown on streaming DSv2 scans, so
    // StreamingCdc hands the op set to the reader as its `ops` option —
    // without it the reader would materialize every op kind each trigger.
    // The scan with its pushed op set is visible only in the streaming
    // query's own plan.
    val root = Files.createTempDirectory("css").toString
    write(s"$root/in", Seq(ev(1, "insert"), ev(2, "drop"), ev(3, "update")))
    val ops = graft.model.Model.PublishableOps :+ graft.model.Model.InvalidateOp
    @volatile var got: Set[String] = Set.empty
    val q = spark.readStream.format(fmt)
      .option("ops", ops.mkString(","))
      .load(s"$root/in")
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got = b.select("operationType").as[String](
          org.apache.spark.sql.Encoders.STRING).collect().toSet
      }
      .start()
    try {
      q.processAllAvailable()
      // the reader itself dropped the drop event (no Spark-side filter
      // exists in this DAG at all)
      assert(got == Set("insert", "update"), got)
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { q.explain() }
      val planStr = buf.toString
      assert(planStr.contains("pushedOps="), planStr)
      assert(!planStr.contains("pushedOps=*"), planStr)
      assert(planStr.contains("invalidate"), planStr)
    } finally q.stop()
  }
}
