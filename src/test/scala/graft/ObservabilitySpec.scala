package graft

import java.nio.file.Files

import graft.model.{ChangeEvent, ChangeEventId, Ns}
import graft.streaming.{Observability, StreamingCdc}
import graft.streaming.StreamingCdc.StreamConfig

/** K3/K4 — metrics listener + health contract
  * (observability_test.go:35-63, prometheus.go:16-129).
  */
class ObservabilitySpec extends SparkSuite {
  import spark.implicits._

  private def ev(i: Int): ChangeEvent =
    ChangeEvent(ChangeEventId(f"$i%06d"), "insert", None, None,
      Some(Ns("db", "c")), Some(s"""{"_id":$i}"""),
      Some(s"""{"_id":$i}"""), None, None)

  test("K4: listener accumulates batches/events; prometheus exposition " +
      "carries the reference's family names") {
    val root = Files.createTempDirectory("graft-obs").toString
    val c = StreamConfig("obs1", s"$root/in", s"$root/messages",
      s"$root/tokens", s"$root/ckpt", maxRowsPerTrigger = Some(1L))
    (1 to 3).foreach { b =>
      ((b - 1) * 10 + 1 to b * 10).map(ev).toDF()
        .coalesce(1).write.mode("append").parquet(c.inputDir)
    }
    val listener = Observability.attach(spark)
    try {
      StreamingCdc.runAll(spark, Seq(c), availableNow = true)
      val s = listener.snapshot("obs1")
      assert(s.eventsPublished == 30)
      assert(s.batches >= 3) // 3 data batches (+ possibly an empty commit)
      assert(s.duration.buckets.get(Observability.DurationBuckets.length) ==
        s.batches) // +Inf cumulative
      val text = listener.renderPrometheus()
      assert(text.contains(
        "connector_change_event_processing_duration_seconds_bucket"))
      assert(text.contains("""collection="obs1""""))
      assert(text.contains("nats_messages_published_total"))
      // storage-command families (prometheus.go:44-90 parity): every
      // command the runtime issued appears under {database, command}
      assert(text.contains(
        """mongodb_commands_started_total{database="obs1",command="messages_append"}"""))
      assert(text.contains(
        """mongodb_commands_succeeded_total{database="obs1",command="tokens_append"}"""))
      // (the separate invalidate-probe "scan" command was folded into the
      // publish job in round 12 — the command set is now messages_append /
      // tokens_append / tokens_read; families unchanged)
      assert(text.contains(
        """mongodb_command_duration_seconds_bucket{database="obs1",command="messages_append",le="+Inf"}"""))
      assert(text.contains(
        """mongodb_command_duration_seconds_count{database="obs1",command="tokens_read"}"""))
      // per-subject publish-duration histogram (prometheus.go:112-119)
      assert(text.contains(
        """nats_message_duration_seconds_bucket{subject="OBS1.insert",le="+Inf"}"""))
      assert(text.contains(
        """nats_message_duration_seconds_count{subject="OBS1.insert"}"""))
      val mf = Observability.metricsFrame(spark, listener)
      assert(mf.filter(mf("collection") === "obs1").head()
        .getAs[Long]("events_published") == 30)
    } finally spark.streams.removeListener(listener)
  }

  test("K4: publish-duration samples are batch-granular — every subject " +
      "present in a batch records the SAME whole-batch append duration " +
      "(documented contract; the reference times each publish per subject, " +
      "client.go:121-127 — a micro-batch engine appends once per batch)") {
    val root = Files.createTempDirectory("graft-obs2").toString
    val c = StreamConfig("obs2", s"$root/in", s"$root/messages",
      s"$root/tokens", s"$root/ckpt")
    // ONE batch containing two op types → two subjects share one append
    Seq(
      ChangeEvent(ChangeEventId("000001"), "insert", None, None,
        Some(Ns("db", "c")), Some("""{"_id":1}"""),
        Some("""{"_id":1}"""), None, None),
      ChangeEvent(ChangeEventId("000002"), "update", None, None,
        Some(Ns("db", "c")), Some("""{"_id":2}"""),
        Some("""{"_id":2}"""), None, None)
    ).toDF().coalesce(1).write.mode("append").parquet(c.inputDir)
    val listener = Observability.attach(spark)
    try {
      StreamingCdc.runAll(spark, Seq(c), availableNow = true)
      val text = listener.renderPrometheus()
      def metric(name: String, subj: String): Double = {
        val re = (java.util.regex.Pattern
          .quote(s"""$name{subject="$subj"}""") + """ (\S+)""").r
        re.findFirstMatchIn(text).map(_.group(1).toDouble)
          .getOrElse(fail(s"missing $name for $subj in:\n$text"))
      }
      val subjects = Seq("OBS2.insert", "OBS2.update")
      subjects.foreach { s =>
        assert(metric("nats_message_duration_seconds_count", s) == 1.0d,
          s"expected exactly one batch observation for $s")
      }
      val sums = subjects
        .map(s => metric("nats_message_duration_seconds_sum", s))
      assert(sums.distinct.size == 1,
        s"batch-granular samples must be identical across subjects: $sums")
    } finally spark.streams.removeListener(listener)
  }

  test("K4: a failed query increments nats_messages_failed_total under " +
      "its NAME (terminated events carry only the id)") {
    val root = Files.createTempDirectory("graft-obs-fail").toString
    val c = StreamConfig("obsfail", s"$root/in", s"$root/messages",
      s"$root/tokens", s"$root/ckpt")
    new java.io.File(s"$root/in").mkdirs()
    Files.writeString(
      java.nio.file.Paths.get(s"$root/in/junk.parquet"), "not parquet")
    val listener = Observability.attach(spark)
    try {
      intercept[Exception] {
        StreamingCdc.runAll(spark, Seq(c), availableNow = true)
      }
      // the listener bus delivers terminated events asynchronously
      val want = """nats_messages_failed_total{collection="obsfail"} 1"""
      var tries = 0
      while (tries < 100 && !listener.renderPrometheus().contains(want)) {
        Thread.sleep(100); tries += 1
      }
      assert(listener.renderPrometheus().contains(want),
        listener.renderPrometheus())
    } finally spark.streams.removeListener(listener)
  }

  test("K3: healthz JSON matches the reference contract, incl. the " +
      "hard-coded overall UP (health.go:23-26)") {
    val h = Observability.HealthResponse("UP", Map(
      "mongo" -> Observability.ComponentStatus("UP"),
      "nats" -> Observability.ComponentStatus("DOWN")))
    assert(Observability.healthJson(h) ==
      """{"status":"UP","components":{"mongo":{"status":"UP"},"nats":{"status":"DOWN"}}}""")
  }

  test("K3/K4 HTTP surface: /healthz and /metrics serve the contracts " +
      "(server.go:34-38, observability_test.go:35-63)") {
    import graft.streaming.HttpObservability
    val listener = Observability.attach(spark)
    val srv = new HttpObservability(spark, listener)
    val port = srv.start()
    try {
      def get(path: String): (Int, String) = {
        val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val body = new String(
          (if (code < 400) conn.getInputStream else conn.getErrorStream)
            .readAllBytes())
        (code, body)
      }
      val (hc, hb) = get("/healthz")
      assert(hc == 200)
      assert(hb.startsWith("""{"status":"UP","components":{"""), hb)
      val (mc, mb) = get("/metrics")
      assert(mc == 200)
      assert(mb.contains(
        "# TYPE connector_change_event_processing_duration_seconds histogram"))
    } finally {
      srv.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("server addr: a value without a port is refused before binding; " +
      "host:0 and :0 still bind (net.Listen's host:port contract)") {
    import graft.config.ConnectorConfig.ConfigException
    import graft.streaming.HttpObservability
    val listener = Observability.attach(spark)
    try {
      val e = intercept[ConfigException](
        new HttpObservability(spark, listener, "localhost"))
      assert(e.getMessage.contains("'localhost'"), e.getMessage)
      for (bad <- Seq("::1:8080", "h:", "h:x", "h:70000", "h:-1"))
        intercept[ConfigException](HttpObservability.parseAddr(bad))
      assert(HttpObservability.parseAddr("[::1]:8080") == ("::1", 8080))
      for (ok <- Seq("127.0.0.1:0", ":0")) {
        val srv = new HttpObservability(spark, listener, ok)
        try assert(srv.start() > 0, ok) finally srv.stop()
      }
    } finally spark.streams.removeListener(listener)
  }

  test("K3: live queries appear as UP components") {
    val root = Files.createTempDirectory("graft-obs2").toString
    val c = StreamConfig("obs2", s"$root/in", s"$root/messages",
      s"$root/tokens", s"$root/ckpt")
    (1 to 5).map(ev).toDF().coalesce(1).write.mode("append").parquet(c.inputDir)
    val q = StreamingCdc.start(spark, c)
    try {
      q.processAllAvailable()
      val h = Observability.healthCheck(spark)
      assert(h.status == "UP")
      assert(h.components.get("obs2").exists(_.status == "UP"))
    } finally q.stop()
  }
}
