package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.{ChangeEvent, ChangeEventId, Ns}
import graft.operators.CdcPipeline
import graft.streaming.{Ddl, StreamingCdc}
import graft.streaming.StreamingCdc.StreamConfig

/** End-to-end streaming runtime tests mirroring the reference's acceptance
  * and fault-injection layers (test/acceptance and test/faultinjection):
  * publish order, checkpoint resume without loss, invalidate stop,
  * drop/rename skip, at-least-once duplicate window + consumer dedup,
  * capped/uncapped token convergence.
  */
class StreamingCdcSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-stream").toString

  private def ev(token: Int, op: String): ChangeEvent =
    ChangeEvent(ChangeEventId(f"$token%06d"), op, None, None,
      Some(Ns("db", "c")), Some(s"""{"_id":$token}"""),
      if (op == "delete") None else Some(s"""{"_id":$token,"v":$token}"""),
      None, None)

  private def writeBatchFile(dir: String, events: Seq[ChangeEvent]): Unit =
    events.toDF().coalesce(1).write.mode("append").parquet(dir)

  private def cfg(name: String, root: String): StreamConfig =
    StreamConfig(name, s"$root/in", s"$root/messages", s"$root/tokens",
      s"$root/checkpoint", maxRowsPerTrigger = Some(1L))

  private def readMessages(c: StreamConfig): DataFrame =
    spark.read.parquet(c.messagesDir)

  test("K1+K2: publish + token commit, per-collection order " +
      "(insert_test.go:36-53, harness.go:274-294)") {
    val root = tmp()
    val c = cfg("s1", root)
    val ops = Seq("insert", "update", "replace", "delete")
    writeBatchFile(c.inputDir, (1 to 50).map(i => ev(i, ops(i % 4))))
    writeBatchFile(c.inputDir, (51 to 100).map(i => ev(i, ops(i % 4))))
    StreamingCdc.runAll(spark, Seq(c), availableNow = true)

    val msgs = readMessages(c).orderBy("batch_id", "msgId").collect()
    assert(msgs.length == 100)
    // all 100, in token order, ids intact — the fault-injection invariant
    val ids = msgs.map(_.getAs[String]("msgId")).toSeq
    assert(ids == (1 to 100).map(i => f"$i%06d"))
    val tokens = spark.read.parquet(c.tokensDir)
    assert(tokens.count() == 2) // one commit per micro-batch
    // each token row counts exactly the messages its batch published
    assert(tokens.agg(sum(col("n_published"))).head().getLong(0) == 100L)
    assert(StreamingCdc.latestToken(spark, c.tokensDir).contains("000100"))
  }

  test("C2: restart from checkpoint picks up only new events, no loss, " +
      "no duplicates (restart_connector_test.go:30-38)") {
    val root = tmp()
    val c = cfg("s2", root)
    writeBatchFile(c.inputDir, (1 to 30).map(ev(_, "insert")))
    StreamingCdc.runAll(spark, Seq(c), availableNow = true)
    assert(readMessages(c).count() == 30)

    writeBatchFile(c.inputDir, (31 to 60).map(ev(_, "insert")))
    StreamingCdc.runAll(spark, Seq(c), availableNow = true)
    val ids = readMessages(c).orderBy("batch_id", "msgId")
      .select("msgId").as[String].collect().toSeq
    assert(ids == (1 to 60).map(i => f"$i%06d"))
  }

  test("F2: invalidate stops the stream; events before it publish, " +
      "later batches do not (drop_test.go:32-42)") {
    val root = tmp()
    val c = cfg("s3", root)
    writeBatchFile(c.inputDir, (1 to 10).map(ev(_, "insert")))
    writeBatchFile(c.inputDir,
      (11 to 15).map(ev(_, "insert")) :+ ev(16, "invalidate"))
    writeBatchFile(c.inputDir, (17 to 20).map(ev(_, "insert")))
    StreamingCdc.runAll(spark, Seq(c), availableNow = true)

    assert(StreamingCdc.wasInvalidated("s3"))
    val ids = readMessages(c).select("msgId").as[String].collect().toSet
    assert(ids == (1 to 15).map(i => f"$i%06d").toSet)
  }

  test("F1 streaming: drop/rename/dropDatabase are silently skipped, " +
      "stream continues (drop_test.go:43-73, rename_test.go)") {
    val root = tmp()
    val c = cfg("s4", root)
    writeBatchFile(c.inputDir,
      Seq(ev(1, "insert"), ev(2, "drop"), ev(3, "rename"),
        ev(4, "dropDatabase"), ev(5, "insert")))
    writeBatchFile(c.inputDir, Seq(ev(6, "insert")))
    StreamingCdc.runAll(spark, Seq(c), availableNow = true)

    assert(!StreamingCdc.wasInvalidated("s4"))
    val ids = readMessages(c).select("msgId").as[String].collect().toSet
    assert(ids == Set("000001", "000005", "000006"))
  }

  test("at-least-once: replay after lost token commit re-publishes; " +
      "msgId dedup restores exactly-once (README.md:118-127)") {
    val root = tmp()
    val c = cfg("s5", root)
    writeBatchFile(c.inputDir, (1 to 20).map(ev(_, "insert")))
    StreamingCdc.runAll(spark, Seq(c), availableNow = true)

    // simulate a crash between publish (K1) and token commit (K2):
    // drop the last committed token, wipe the checkpoint, re-run.
    val tokens = spark.read.parquet(c.tokensDir)
    val maxBatch = tokens.agg(max("batch_id")).head().getLong(0)
    val trimmed = tokens.filter(col("batch_id") =!= maxBatch).collect()
    spark.createDataFrame(
      java.util.Arrays.asList(trimmed: _*), StreamingCdc.tokenSchema)
      .coalesce(1).write.mode("overwrite").parquet(c.tokensDir)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(c.checkpointDir))
    StreamingCdc.runAll(spark, Seq(c), availableNow = true)

    val raw = readMessages(c)
    assert(raw.count() >= 20) // duplicate window is observable
    val deduped = CdcPipeline.dedupByMsgId(raw.drop("batch_id"))
    assert(deduped.count() == 20) // consumer-side dedup is exact
    assert(deduped.select("msgId").as[String].collect().toSet ==
      (1 to 20).map(i => f"$i%06d").toSet)
  }

  test("consumer state view over the published stream: latest state per " +
      "documentKey, deletes drop the key, invariant under the " +
      "at-least-once duplicate window (update_test.go:52-56, " +
      "delete_test.go:50)") {
    val root = tmp()
    val c = cfg("s9", root)
    def kev(token: Int, op: String): ChangeEvent =
      ChangeEvent(ChangeEventId(f"$token%06d"), op, None, None,
        Some(Ns("db", "c")), Some(s"""{"_id":${token % 5}}"""),
        if (op == "delete") None
        else Some(s"""{"_id":${token % 5},"v":$token}"""),
        None, None)
    // 30 events over 5 keys; keys 1 and 3 end with a delete
    val fixture = (1 to 30).map { i =>
      val op = if (i >= 26 && (i % 5 == 1 || i % 5 == 3)) "delete"
        else Seq("insert", "update", "replace")(i % 3)
      kev(i, op)
    }
    writeBatchFile(c.inputDir, fixture)
    StreamingCdc.runAll(spark, Seq(c), availableNow = true)
    val msgs = readMessages(c).drop("batch_id")

    def snapshot(m: DataFrame): Map[String, (String, String)] =
      CdcPipeline.stateView(m).collect()
        .map(r => r.getAs[String]("key") ->
          (r.getAs[String]("last_msg_id"), r.getAs[String]("last_op")))
        .toMap
    val state = snapshot(msgs)

    // expectation straight from the fixture: per key, the max-token event
    val expect = fixture.groupBy(_.documentKey.get)
      .map { case (k, es) => k -> es.maxBy(_._id._data) }
      .filter(_._2.operationType != "delete")
      .map { case (k, e) => k -> (e._id._data, e.operationType) }
    assert(expect.nonEmpty && expect.size == 3) // keys 1 and 3 deleted
    assert(state == expect, s"state view diverged:\n$state\nvs\n$expect")

    // the duplicate window must not change the view (msgId dedup first)
    assert(snapshot(msgs.union(msgs)) == state,
      "state view must be invariant under re-published duplicates")
  }

  test("C1: multi-collection fan-out — independent queries, independent " +
      "outputs (connector.go:128-174)") {
    val rootA = tmp(); val rootB = tmp()
    val a = cfg("fanA", rootA); val b = cfg("fanB", rootB)
    writeBatchFile(a.inputDir, (1 to 5).map(ev(_, "insert")))
    writeBatchFile(b.inputDir, (1 to 7).map(ev(_, "update")))
    StreamingCdc.runAll(spark, Seq(a, b), availableNow = true)
    assert(readMessages(a).count() == 5)
    assert(readMessages(b).count() == 7)
    assert(readMessages(b).select("subject").as[String].head() == "FANB.update")
  }

  test("D1: capped and uncapped token tables converge to the same " +
      "latest token (insert_test.go:55-61; SURVEY §7 hard part 5)") {
    val rootU = tmp(); val rootC = tmp()
    val u = cfg("capU", rootU)
    val cc = cfg("capC", rootC).copy(tokensCapped = true, tokensMaxRows = 2)
    val batches = (0 until 6).map(b => (b * 10 + 1 to b * 10 + 10).map(ev(_, "insert")))
    batches.foreach { evs =>
      writeBatchFile(u.inputDir, evs); writeBatchFile(cc.inputDir, evs)
    }
    StreamingCdc.runAll(spark, Seq(u, cc), availableNow = true)
    val lu = StreamingCdc.latestToken(spark, u.tokensDir)
    val lc = StreamingCdc.latestToken(spark, cc.tokensDir)
    assert(lu == lc && lu.contains("000060"))
    assert(spark.read.parquet(cc.tokensDir).count() <= 2) // trimmed
    assert(spark.read.parquet(u.tokensDir).count() == 6)  // full history
  }

  test("C1/C3: first hard failure cancels every sibling and surfaces " +
      "(errgroup semantics, connector.go:128-174)") {
    val rootGood = tmp(); val rootBad = tmp()
    val good = cfg("errA", rootGood)
    val bad = cfg("errB", rootBad)
    writeBatchFile(good.inputDir, (1 to 5).map(ev(_, "insert")))
    // corrupt input: a non-parquet file where the source expects parquet
    new java.io.File(bad.inputDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${bad.inputDir}/junk.parquet"), "not parquet")
    val err = intercept[Exception] {
      StreamingCdc.runAll(spark, Seq(good, bad), availableNow = true)
    }
    assert(err != null)
    assert(spark.streams.active.isEmpty) // all siblings stopped (C4)
  }

  test("C1: a failed start stops every sibling that did start and " +
      "surfaces (errgroup semantics, connector.go:128-174)") {
    val rootGood = tmp(); val rootBad = tmp()
    val good = cfg("startA", rootGood)
    writeBatchFile(good.inputDir, (1 to 5).map(ev(_, "insert")))
    // messagesDir under a regular file: the bad start's ensureTable throws
    val blocker = java.nio.file.Paths.get(rootBad, "blocker")
    java.nio.file.Files.writeString(blocker, "a file, not a directory")
    val bad = cfg("startB", rootBad).copy(messagesDir = s"$blocker/messages")
    try {
      // not availableNow: a leaked sibling would keep running
      intercept[Exception](StreamingCdc.runAll(spark, Seq(good, bad)))
      assert(spark.streams.active.isEmpty) // the started sibling stopped (C4)
    } finally StreamingCdc.stopAll(spark)
  }

  test("malformed events (null operationType / null token) are dropped, " +
      "never crash the stream") {
    val root = tmp()
    val c = cfg("s-malformed", root)
    import org.apache.spark.sql.Row
    val rows = java.util.Arrays.asList(
      Row(Row("000001"), "insert", null, null, Row("db", "c"), null,
        """{"_id":1}""", null, null),
      Row(Row("000002"), null, null, null, null, null, null, null, null),
      Row(Row("000003"), "update", null, null, null, null,
        """{"_id":3}""", null, null))
    spark.createDataFrame(rows, graft.model.Model.changeEventSchema)
      .coalesce(1).write.mode("append").parquet(c.inputDir)
    StreamingCdc.runAll(spark, Seq(c), availableNow = true)
    val ids = readMessages(c).select("msgId").as[String].collect().toSet
    assert(ids == Set("000001", "000003")) // null op filtered, no crash
  }

  test("fault injection: transient failure between publish and token " +
      "commit — replay re-publishes, dedup restores the 100-event " +
      "invariant (restart_mongo/nats_test.go:30-38 analog)") {
    val root = tmp()
    val c = cfg("s-fault", root)
    writeBatchFile(c.inputDir, (1 to 50).map(ev(_, "insert")))
    writeBatchFile(c.inputDir, (51 to 100).map(ev(_, "insert")))
    // one-shot storage blip on the SECOND batch, after its publish landed
    val tripped = new java.util.concurrent.atomic.AtomicBoolean(false)
    StreamingCdc.faultpoint = (_, batchId) =>
      if (batchId == 1 && tripped.compareAndSet(false, true))
        throw new java.io.IOException("injected: storage blip before commit")
    try {
      intercept[Exception] {
        StreamingCdc.runAll(spark, Seq(c), availableNow = true)
      }
      // batch 0 committed; batch 1 published but uncommitted
      assert(spark.read.parquet(c.tokensDir).count() == 1)
      assert(readMessages(c).count() == 100)
      // recovery run: checkpoint replays batch 1 (its token never landed)
      StreamingCdc.runAll(spark, Seq(c), availableNow = true)
    } finally StreamingCdc.faultpoint = (_, _) => ()

    val raw = readMessages(c)
    assert(raw.count() == 150) // the duplicate window is observable
    val deduped = CdcPipeline.dedupByMsgId(raw.drop("batch_id"))
    assert(deduped.count() == 100)
    assert(deduped.select("msgId").as[String].collect().toSet ==
      (1 to 100).map(i => f"$i%06d").toSet)
    assert(StreamingCdc.latestToken(spark, c.tokensDir).contains("000100"))
  }

  test("fault-injection matrix at bench scale (sf0.1, 100k events): two " +
      "mid-stream kills in the publish/commit gap; restarts deliver all " +
      "80,190 publishable events exactly once, in token order " +
      "(restart_mongo/nats_test.go:30-38 at the full bench volume)") {
    val root = tmp()
    val events = spark.read.parquet(sf("sf0.1") + "/events.parquet")
    // Range-partition the envelope fixture by resume token: the DSv2
    // source admits whole files in token order, so batches are contiguous
    // token ranges and the global publish order is checkable end-to-end.
    graft.operators.EventsCdc.toEnvelopes(events)
      .repartitionByRange(16, col("_id").getField("_data"))
      .write.mode("overwrite").parquet(s"$root/in")
    val expected = events.filter(col("event_type") =!= "error")
      .select(lpad(col("event_id").cast("string"), 12, "0").as("id"))
      .as[String].collect().sorted.toSeq
    assert(expected.size == 80190) // the bench's publishable subset
    val c = cfg("s-matrix", root).copy(
      maxRowsPerTrigger = Some(16384L)) // ~6 batches over 16 files

    // Two kill points, each in the worst window (publish landed, token
    // commit did not): the restart matrix. Each runAll resumes from the
    // checkpoint, replays the uncommitted batch (observable duplicates),
    // and dies at the next kill point.
    try {
      for (killAt <- Seq(2L, 4L)) {
        val tripped = new java.util.concurrent.atomic.AtomicBoolean(false)
        StreamingCdc.faultpoint = (_, batchId) =>
          if (batchId == killAt && tripped.compareAndSet(false, true))
            throw new java.io.IOException(s"injected kill at batch $killAt")
        intercept[Exception] {
          StreamingCdc.runAll(spark, Seq(c), availableNow = true)
        }
      }
    } finally StreamingCdc.faultpoint = (_, _) => ()
    StreamingCdc.runAll(spark, Seq(c), availableNow = true) // final drain

    val raw = readMessages(c)
    assert(raw.count() > expected.size, // both killed batches re-published
      "the at-least-once duplicate window must be observable")
    // exactly-once after consumer dedup, at full volume
    assert(CdcPipeline.dedupByMsgId(raw.drop("batch_id")).count() ==
      expected.size)
    // 100%-arrival + order invariant: first-publish order (batch_id,
    // msgId) must equal global token order — batches are token-contiguous
    // and replayed batches keep their batch_id, so the sequence is the
    // exact publish order a consumer observed
    val ordered = raw.groupBy(col("msgId"))
      .agg(min(col("batch_id")).as("batch_id"))
      .orderBy(col("batch_id"), col("msgId"))
      .select("msgId").as[String].collect().toSeq
    assert(ordered == expected,
      "every publishable event must arrive exactly once, in token order")
  }

  test("D1: a trim interrupted before old-file deletion still recovers " +
      "latestToken and converges on the next trim") {
    val root = tmp()
    val c = cfg("s-trim", root).copy(tokensCapped = true, tokensMaxRows = 2)
    // full 6-batch ledger, one file per commit (as the runtime writes it)
    (0 until 6).foreach { b =>
      spark.createDataFrame(
        java.util.List.of[org.apache.spark.sql.Row](
          org.apache.spark.sql.Row(b.toLong, f"${(b + 1) * 10}%06d", 10L)),
        StreamingCdc.tokenSchema)
        .coalesce(1).write.mode("append").parquet(c.tokensDir)
    }
    // simulate the crash window: compacted (kept) rows were appended but
    // the old files were NOT yet deleted — rows are duplicated
    val keep = spark.read.parquet(c.tokensDir)
      .orderBy(col("batch_id").desc).limit(2).collect()
    spark.createDataFrame(
      java.util.Arrays.asList(keep: _*), StreamingCdc.tokenSchema)
      .coalesce(1).write.mode("append").parquet(c.tokensDir)
    assert(spark.read.parquet(c.tokensDir).count() == 8)
    // the commit point survives: max_by is insensitive to duplicates
    assert(StreamingCdc.latestToken(spark, c.tokensDir).contains("000060"))
    // the next trim converges the row count without losing the token
    StreamingCdc.trimTokensAt(spark, c.name, c.tokensDir, c.tokensMaxRows)
    assert(spark.read.parquet(c.tokensDir).count() <= 2)
    assert(StreamingCdc.latestToken(spark, c.tokensDir).contains("000060"))
  }

  /** Spark jobs started while `c` drains `triggers` 25-event files as
    * that many triggers (the fixed-cost budget pins below). */
  private def sparkJobsOverTriggers(c: StreamConfig, triggers: Int): Int = {
    (0 until triggers).foreach(b => writeBatchFile(c.inputDir,
      (b * 25 + 1 to b * 25 + 25).map(ev(_, "insert"))))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try StreamingCdc.runAll(spark, Seq(c), availableNow = true)
    finally {
      // the listener bus is async — settle before detaching
      var last = -1
      var n = jobs.get()
      while (n != last) { last = n; Thread.sleep(300); n = jobs.get() }
      spark.sparkContext.removeSparkListener(listener)
    }
    // every trigger committed: batch ids 0 until triggers, newest token last
    val tokens = spark.read.parquet(c.tokensDir)
    assert(tokens.agg(max(col("batch_id"))).head().getLong(0) == triggers - 1)
    assert(tokens.count() == (if (c.tokensCapped)
      math.min(triggers, c.tokensMaxRows) else triggers))
    assert(StreamingCdc.latestToken(spark, c.tokensDir)
      .contains(f"${triggers * 25}%06d"))
    jobs.get()
  }

  test("fixed-cost budget: at most 3 Spark jobs per micro-batch trigger " +
      "— the epoch's one write job into the DSv2 sink; the F2 cut, the " +
      "token commit and the ledger seed run driver-side at the sink's " +
      "epoch commit. Each of those fixed costs done as a Spark job " +
      "(invalidate probe action, Spark-side token commit, Spark-side " +
      "ledger seed/ensureTable) would add a job per trigger or per " +
      "start; StreamProfile measured them at ~0.1 s of scheduler " +
      "overhead each, so this pin keeps them from silently returning. " +
      "Upper bound, not equality (ADVICE r13): exact job counts are a " +
      "scheduler implementation detail and should not fail this pin") {
    val jobs = sparkJobsOverTriggers(
      cfg("s-jobs", tmp()).copy(maxRowsPerTrigger = Some(25L)), 4)
    assert(jobs <= 3 * 4,
      s"expected at most 3 Spark jobs per trigger (<=12 total), saw $jobs")
    // and sanity: the stream actually did per-trigger work (>=1 job each)
    assert(jobs >= 4, s"implausibly few jobs: $jobs")
  }

  test("fixed-cost budget on the capped path (the Connector default): at " +
      "most 3 Spark jobs per micro-batch trigger — the D1 trim decides " +
      "from parquet footer row counts, so a commit below the cap runs no " +
      "Spark job (a Spark-side count added 3 jobs per trigger)") {
    // tokensMaxRows 64 = the Connector's 4096-byte cap / 64 bytes per row
    val jobs = sparkJobsOverTriggers(cfg("s-jobs-capped", tmp()).copy(
      maxRowsPerTrigger = Some(25L), tokensCapped = true, tokensMaxRows = 64),
      4)
    assert(jobs <= 3 * 4,
      s"expected at most 3 Spark jobs per trigger (<=12 total), saw $jobs")
    assert(jobs >= 4, s"implausibly few jobs: $jobs")
  }

  test("fixed-cost budget past the cap: a full capped tokens table (cap " +
      "2, 8 triggers) still costs at most 3 Spark jobs per trigger — the " +
      "D1 compaction reads and rewrites the tiny table driver-side (a " +
      "Spark-side sort + limit + write added 3 jobs to every commit once " +
      "the table was full)") {
    val jobs = sparkJobsOverTriggers(cfg("s-jobs-full", tmp()).copy(
      maxRowsPerTrigger = Some(25L), tokensCapped = true, tokensMaxRows = 2),
      8)
    assert(jobs <= 3 * 8,
      s"expected at most 3 Spark jobs per trigger (<=24 total), saw $jobs")
    assert(jobs >= 8, s"implausibly few jobs: $jobs")
  }

  test("restart budget: the ledger seed of a capped stream past its cap " +
      "runs no Spark job, and a replayed, already-committed epoch is " +
      "still skipped") {
    val c = cfg("s-restart", tmp()).copy(maxRowsPerTrigger = Some(25L),
      tokensCapped = true, tokensMaxRows = 2)
    (0 until 4).foreach(b => writeBatchFile(c.inputDir,
      (b * 25 + 1 to b * 25 + 25).map(ev(_, "insert"))))
    StreamingCdc.runAll(spark, Seq(c), availableNow = true)
    // epoch 3's token is committed, but the checkpoint forgets the epoch:
    // the restart replays it, and its commit seeds the ledger
    Seq("3", ".3.crc").foreach(f =>
      new java.io.File(s"${c.checkpointDir}/commits", f).delete())
    writeBatchFile(c.inputDir, (101 to 125).map(ev(_, "insert")))
    // every file the restart creates in the messages dir, staging included
    // (a staging file lives only until its epoch's commit deletes or
    // renames it)
    val watch = java.nio.file.FileSystems.getDefault.newWatchService()
    java.nio.file.Paths.get(c.messagesDir)
      .register(watch, java.nio.file.StandardWatchEventKinds.ENTRY_CREATE)
    val jobs = jobsByBatch {
      StreamingCdc.runAll(spark, Seq(c), availableNow = true)
    }
    val created = try Iterator.continually(watch.poll()).takeWhile(_ != null)
        .flatMap(_.pollEvents().asScala.map(_.context.toString)).toList
      finally watch.close()
    assert(created.exists(_.startsWith(".staging-4-")),
      s"the new epoch staged no file: $created")
    assert(!created.exists(_.contains("staging-3-")),
      s"the replayed epoch 3 wrote staging files: $created")
    // epochs 3 and 4 run the same one-file write; only 3 seeds the ledger
    assert(jobs.contains("4"), s"no new epoch ran: $jobs")
    assert(jobs.getOrElse("3", 0) - jobs("4") == 0,
      s"the ledger seed ran Spark jobs: $jobs")
    assert(readMessages(c).count() == 125, "the committed epoch re-published")
    assert(spark.read.parquet(c.tokensDir).count() == 2)
    assert(StreamingCdc.latestToken(spark, c.tokensDir).contains("000125"))
  }

  test("the CDC path leaves its Hadoop confs unmutated: after a " +
      "multi-file capped drain neither the JVM-wide ParquetIO conf nor " +
      "the session's holds a parquet read or write schema, and a read " +
      "with another projection returns its own columns") {
    val c = cfg("s-conf", tmp()).copy(maxRowsPerTrigger = Some(10L),
      tokensCapped = true, tokensMaxRows = 2)
    val ops = Seq("insert", "update", "replace", "delete")
    (0 until 4).foreach(b => writeBatchFile(c.inputDir,
      (b * 10 + 1 to b * 10 + 10).map(i => ev(i, ops(i % 4)))))
    StreamingCdc.runAll(spark, Seq(c), availableNow = true)
    assert(readMessages(c).count() == 40)
    assert(spark.read.parquet(c.tokensDir).count() == 2)
    Seq(graft.streaming.ParquetIO.conf, spark.sparkContext.hadoopConfiguration)
      .foreach { conf =>
        Seq(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
            org.apache.parquet.hadoop.example.GroupWriteSupport
              .PARQUET_EXAMPLE_SCHEMA)
          .foreach(k =>
            assert(conf.get(k) == null, s"$k leaked: ${conf.get(k)}"))
      }
    val source = spark.read
      .format(classOf[graft.sources.ChangeStreamSource].getName)
      .load(c.inputDir)
    val keys = source.select(col("documentKey"), col("_id._data").as("t"))
      .orderBy("t").collect()
    assert(keys.head.schema.fieldNames.toSeq == Seq("documentKey", "t"))
    assert(keys.map(r => (r.getString(0), r.getString(1))).toSeq ==
      (1 to 40).map(i => (s"""{"_id":$i}""", f"$i%06d")))
    val docs = source.select(col("operationType"), col("fullDocument"))
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_.toString)
    assert(docs.toSeq == (1 to 40).map(i => (ops(i % 4),
      if (ops(i % 4) == "delete") null else s"""{"_id":$i,"v":$i}"""))
      .sortBy(_.toString))
  }

  test("F2 durability: a collection whose invalidate batch COMMITTED " +
      "stays terminated across a restart — the durable marker survives " +
      "where the in-memory flag does not (found by StreamFuzz v2: a " +
      "sibling abort after the invalidate batch's token landed, then a " +
      "restart, published events PAST the invalidate)") {
    val root = tmp()
    val c = cfg("s-invdur", root)
    writeBatchFile(c.inputDir, (1 to 10).map(i => ev(i, "insert")))
    writeBatchFile(c.inputDir,
      (11 to 19).map(i => ev(i, "insert")) :+ ev(20, "invalidate"))
    StreamingCdc.runAll(spark, Seq(c), availableNow = true)
    assert(readMessages(c).count() == 19) // truncated at the invalidate
    // the invalidate batch committed — exactly the state a sibling-abort
    // restart resumes from
    assert(StreamingCdc.latestToken(spark, c.tokensDir).contains("000019"))
    // post-invalidate input arrives; a RESTART must publish none of it
    writeBatchFile(c.inputDir, (21 to 30).map(i => ev(i, "insert")))
    StreamingCdc.runAll(spark, Seq(c), availableNow = true)
    assert(readMessages(c).count() == 19,
      "restart resumed publishing past a committed invalidate")
    assert(StreamingCdc.latestToken(spark, c.tokensDir).contains("000019"))
  }

  test("K2 crash-safety: a truncated in-progress token temp file (crash " +
      "between build() and rename) is invisible to latestToken, the " +
      "ledger seed, and trim — the stream recovers without cleanup") {
    val root = tmp()
    val c = cfg("s-crashfile", root).copy(tokensCapped = true, tokensMaxRows = 2)
    // two committed tokens via the real writer (temp+rename path)
    StreamingCdc.writeTokenRow(spark, c.tokensDir, 0L, "000010", 10L)
    StreamingCdc.writeTokenRow(spark, c.tokensDir, 1L, "000020", 10L)
    // simulate a crash mid-write: a dot-prefixed, FOOTER-LESS temp file
    // (the writer opens the temp at build(); a kill before close leaves
    // exactly this). It must not poison any reader.
    val junk = new java.io.File(
      c.tokensDir, ".part-99-deadbeef.snappy.parquet.inprogress")
    java.nio.file.Files.write(junk.toPath, Array[Byte](0x50, 0x41, 0x52))
    assert(StreamingCdc.latestToken(spark, c.tokensDir).contains("000020"))
    // ledger seed (footer fast path) skips the dot-file too
    StreamingCdc.writeTokenRow(spark, c.tokensDir, 2L, "000030", 10L)
    StreamingCdc.trimTokensAt(spark, c.name, c.tokensDir, c.tokensMaxRows)
    assert(StreamingCdc.latestToken(spark, c.tokensDir).contains("000030"))
    assert(spark.read.parquet(c.tokensDir).count() <= 2)
    assert(junk.exists(), "trim must not touch non-part- files")
  }

  test("streaming state view (mapGroupsWithState): converges to the batch " +
      "view, state is exactly-once under at-least-once re-publish, and " +
      "per-collection keys never merge (update_test.go:52-56 live)") {
    import graft.streaming.StreamingStateView
    val root = tmp()
    val msgsDir = s"$root/msgs"; val ckpt = s"$root/ck"
    val stateLog = s"$root/state"
    def msg(stream: String, token: Int, op: String, key: Int) =
      (s"$stream.$op", f"$token%06d",
        s"""{"documentKey":{"_id":$key},"op":"$op"}""")
    // colliding documentKey {_id:1} across streams A and B — per-collection
    // state must keep them apart (the C1 fan-out shape into one consumer)
    val fixture = Seq(
      msg("A", 1, "insert", 1), msg("A", 2, "update", 1),
      msg("A", 3, "insert", 2), msg("A", 4, "delete", 2),
      msg("B", 5, "insert", 1), msg("B", 6, "replace", 3))
    fixture.toDF("subject", "msgId", "data").coalesce(1)
      .write.mode("append").parquet(msgsDir)

    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("subject string, msgId string, data string").parquet(msgsDir)
      val q = StreamingStateView.stateView(spark, src)
        .writeStream.outputMode("update")
        .foreachBatch((d: org.apache.spark.sql.Dataset[StreamingStateView.StateRow], _: Long) =>
          d.write.mode("append").parquet(stateLog))
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    // latest state per key = the max-msgId row the query emitted for it
    def snapshot(): Map[(String, String), (String, String, Boolean)] =
      spark.read.parquet(stateLog).collect()
        .groupBy(r => (r.getAs[String]("stream"), r.getAs[String]("key")))
        .map { case (k, rs) =>
          val last = rs.maxBy(_.getAs[String]("last_msg_id"))
          k -> (last.getAs[String]("last_msg_id"),
            last.getAs[String]("last_op"), last.getAs[Boolean]("live"))
        }
    val first = snapshot()
    assert(first(("A", """{"_id":1}""")) == ("000002", "update", true))
    assert(first(("A", """{"_id":2}""")) == ("000004", "delete", false))
    assert(first(("B", """{"_id":1}""")) == ("000005", "insert", true))
    assert(first(("B", """{"_id":3}""")) == ("000006", "replace", true))

    // live rows converge to exactly the batch view of the same messages
    val batch = CdcPipeline.stateView(spark.read.parquet(msgsDir)).collect()
      .map(r => (r.getAs[String]("stream"), r.getAs[String]("key")) ->
        (r.getAs[String]("last_msg_id"), r.getAs[String]("last_op")))
      .toMap
    assert(first.collect { case (k, (id, op, true)) => k -> (id, op) } == batch)

    // at-least-once: the whole fixture is re-published; the restarted
    // query (checkpointed state) must emit no state movement
    fixture.toDF("subject", "msgId", "data").coalesce(1)
      .write.mode("append").parquet(msgsDir)
    runOnce()
    assert(snapshot() == first,
      "state view must be invariant under re-published duplicates")
  }

  test("D1/S4: ensureTable is idempotent; tableExists answers both ways " +
      "(client.go:146-175, startup_test.go:33-66)") {
    val root = tmp()
    val path = s"$root/t"
    assert(!Ddl.tableExists(spark, path))
    Ddl.ensureTable(spark, path, StreamingCdc.tokenSchema)
    assert(Ddl.tableExists(spark, path))
    Ddl.ensureTable(spark, path, StreamingCdc.tokenSchema) // no-op
    assert(spark.read.parquet(path).count() == 0)
    assert(spark.read.parquet(path).schema.fieldNames.toSeq ==
      Seq("batch_id", "value", "n_published"))
  }
}
