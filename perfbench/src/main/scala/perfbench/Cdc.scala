package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.{CollectionConfig, ConnectorConfig}
import graft.operators.CdcPipeline
import graft.streaming.{Connector, Observability, StreamingCdc}

/** cdc_catchup: a connector restarting after an outage. A seeded backlog
  * for four watched collections is staged under a fresh data root and
  * `Connector.run(..., availableNow = true)` drains it; repeated in a
  * closed loop for the run's seconds. Every drain is then checked against
  * the generator's truth.
  */
object Cdc {

  final case class Coll(db: String, coll: String, stream: String,
      events: Long, published: Long, lastToken: String)

  def collections(dir: String): Seq[Coll] =
    Files.readAllLines(Paths.get(s"$dir/collections.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t", -1)).map { f =>
        Coll(f(0), f(1), f(2), f(3).toLong, f(4).toLong, f(5))
      }

  def config(colls: Seq[Coll]): ConnectorConfig =
    ConnectorConfig("info", "", "", "", colls.map(c =>
      CollectionConfig(dbName = c.db, collName = c.coll,
        changeStreamPreAndPostImages = true)))

  /** Stage a backlog under a fresh data root (hard links, not timed). */
  def stage(backlog: String, root: String): Unit =
    Harness.linkTree(Paths.get(backlog), Paths.get(root))

  /** One timed drain of a staged root. */
  def drain(spark: SparkSession, colls: Seq[Coll], root: String): Double =
    Harness.seconds(
      Connector.run(spark, config(colls), root, availableNow = true))._2

  /** The reference messages: the batch CdcPipeline.toMessages over the
    * same envelopes, written once per run. */
  def reference(spark: SparkSession, colls: Seq[Coll], dir: String,
      out: String): DataFrame = {
    colls.map { c =>
      CdcPipeline.toMessages(spark, c.stream)(
        spark.read.format(classOf[graft.sources.ChangeStreamSource].getName)
          .load(s"$dir/backlog/${c.db}/${c.coll}/changes")).toDF()
    }.reduce(_ union _).write.parquet(out)
    spark.read.parquet(out)
  }

  def messages(spark: SparkSession, colls: Seq[Coll], root: String): DataFrame =
    colls.map(c =>
      spark.read.parquet(s"$root/streams/${c.stream}/messages")
        .select("subject", "msgId", "data")).reduce(_ union _)

  /** Correctness of the drains. The first drain's dedup view must hold
    * exactly the generator's (subject, msgId) set, with every payload
    * equal to the reference; every later drain's dedup view must have the
    * first one's digest. Each collection's latest token must be its last
    * publishable token. Returns (failed, raw duplicates) per drain root.
    * The checks are many small Spark jobs, so they run side by side on
    * `threads` threads (the check is not timed).
    */
  def check(spark: SparkSession, colls: Seq[Coll], dir: String,
      ref: DataFrame, roots: Seq[String], threads: Int): Seq[(Long, Long)] = {
    import spark.implicits._
    val expected = colls.map { c =>
      spark.read.option("sep", "\t").schema("msgId STRING, subject STRING")
        .csv(s"$dir/expected-${c.db}.${c.coll}.tsv")
    }.reduce(_ union _)
    val views = roots.map(r => CdcPipeline.dedupByMsgId(messages(spark, colls, r)))
    def tokensDir(root: String, c: Coll) =
      s"$root/${CollectionConfig.DefaultTokensDbName}/${c.coll}"
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val bad0 = Future {
        expected.select($"msgId", $"subject".as("s_exp"))
          .join(ref.select($"msgId", $"data".as("d_ref")), Seq("msgId"),
            "full_outer")
          .join(views.head, Seq("msgId"), "full_outer")
          .filter($"s_exp".isNull || $"subject".isNull || $"d_ref".isNull ||
            $"s_exp" =!= $"subject" || $"data" =!= $"d_ref")
          .count()
      }
      // per root: dedup-view digest, wrong latest tokens, raw message count
      val perRoot = roots.zip(views).map { case (root, view) =>
        Future(Harness.digestParts(view)).zip(Future(colls.count(c =>
          !StreamingCdc.latestToken(spark, tokensDir(root, c))
            .contains(c.lastToken)))).zip(
          Future(messages(spark, colls, root).count()))
      }
      val results = Await.result(Future.sequence(perRoot), Duration.Inf)
      val first = Await.result(bad0, Duration.Inf)
      val digest0 = results.head._1._1
      results.zipWithIndex.map { case (((d, badTokens), raw), i) =>
        val bad =
          if (i == 0) first
          else if (d == digest0) 0L
          else colls.map(_.published).sum // the whole drain is suspect
        (bad + badTokens, raw - d._1)
      }
    } finally pool.shutdown()
  }

  /** Prometheus text of the program's own metrics surface. */
  def prometheus(l: Observability.MetricsListener): Map[String, Double] =
    l.renderPrometheus().linesIterator.filterNot(_.startsWith("#"))
      .flatMap { line =>
        val i = line.lastIndexOf(' ')
        if (i < 0) None
        else scala.util.Try(line.take(i) -> line.drop(i + 1).toDouble).toOption
      }.toMap

  /** Sum a Prometheus family's samples whose labels contain `label`. */
  def promSum(m: Map[String, Double], family: String, label: String): Double =
    m.collect { case (k, v) if k.startsWith(family + "{") &&
      k.contains(label) => v }.sum

  def workload(spark: SparkSession, a: Harness.Args,
      tr: Tracer): Map[String, Any] = {
    val m = tr.span(spark, "cdc_catchup", "workload") {
      measure(spark, a, tr, a.data, a.seconds, warmDrains = 3,
        minDrains = 3, overhead = true)
    }
    m ++ Map("input_bytes" -> Files.walk(Paths.get(s"${a.data}/backlog"))
      .iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum)
  }

  /** Warm up with `warmDrains` untimed drains, then drain the backlog of
    * `dir` repeatedly (fresh data roots, closed loop) for `seconds`, at
    * least `minDrains` times, and check every drain. Traced, also collects
    * the streaming, source and sink counters of the drains, and with
    * `overhead` drains once more with tracing off.
    */
  def measure(spark: SparkSession, a: Harness.Args, tr: Tracer, dir: String,
      seconds: Double, warmDrains: Int, minDrains: Int,
      overhead: Boolean): Map[String, Any] = {
    val colls = collections(dir)
    val tag = Paths.get(dir).getFileName.toString
    // warm-up: untimed drains of the same backlog. Drain times keep falling
    // for about three drains after the cold one while the JIT settles.
    tr.span(spark, "warm-up", "phase") {
      (0 until warmDrains).foreach { i =>
        stage(s"$dir/backlog", s"${a.work}/$tag-warm$i")
        drain(spark, colls, s"${a.work}/$tag-warm$i")
      }
    }

    Harness.log("warm-up drained")
    val listener = if (a.trace) Some(Observability.attach(spark)) else None
    val before = listener.map(prometheus).getOrElse(Map.empty)
    // published counts are process-wide and include the warm-up
    val publishedBefore =
      StreamingCdc.publishedTotal.values.asScala.map(_.longValue).sum
    val w0 = tr.nowMs
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val drains = mutable.ArrayBuffer.empty[(String, Double)]
    // start another drain only if it is expected to end by the deadline
    while (drains.size < minDrains || System.nanoTime() +
        Harness.median(drains.map(_._2).toSeq) * 1e9 <= deadline) {
      val root = s"${a.work}/$tag-${drains.size}"
      stage(s"$dir/backlog", root)
      val sec = tr.span(spark, s"drain ${drains.size}", "phase") {
        drain(spark, colls, root)
      }
      drains += root -> sec
    }
    val w1 = tr.nowMs
    Harness.log(s"${drains.size} drains")
    val after = listener.map(prometheus).getOrElse(Map.empty)
    listener.foreach(spark.streams.removeListener)
    // tracing overhead: one more drain with tracing off
    val untraced = if (!a.trace || !overhead) Nil else {
      val root = s"${a.work}/$tag-untraced"
      stage(s"$dir/backlog", root)
      Seq(root -> tr.untraced(spark)(drain(spark, colls, root)))
    }
    val checks = tr.span(spark, "check", "phase") {
      check(spark, colls, dir,
        reference(spark, colls, dir, s"${a.work}/$tag-reference"),
        (drains ++ untraced).map(_._1).toSeq, a.cores)
    }
    Harness.log("checked")
    val events = colls.map(_.events).sum
    val published = colls.map(_.published).sum
    val secs = drains.map(_._2).toSeq
    // the program's own published counter must match what the drains
    // were expected to publish
    val publishedGot = if (!a.trace) 0L
      else (promSum(after, "nats_messages_published_total", "") -
        publishedBefore).toLong
    val publishedWant = if (!a.trace) 0L else published * drains.size
    val layer = if (!a.trace) Map.empty[String, Any] else {
      def delta(label: String) =
        promSum(after, "mongodb_command_duration_seconds_sum", label) -
          promSum(before, "mongodb_command_duration_seconds_sum", label)
      streamingStats(tr, w0, w1) ++ Map(
        "sinks.messages_append.s" -> delta("command=\"messages_append\""),
        "sinks.tokens_append.s" -> delta("command=\"tokens_append\""),
        "streaming.tokens_read.s" -> delta("command=\"tokens_read\""),
        "sinks.published" -> publishedGot,
        "streaming.duplicates" -> checks.map(_._2).sum,
        "untraced_unit_s" -> untraced.map(_._2))
    }
    Map("unit_s" -> secs,
      "events_per_s" -> secs.map(events / _),
      "attempted" -> published * (drains.size + untraced.size),
      "failed" -> (checks.map(_._1).sum +
        math.abs(publishedGot - publishedWant)),
      "window" -> Seq(w0, w1),
      "layer" -> layer)
  }

  /** Trigger statistics of a window. Trigger count and times come from
    * the Spark jobs of each micro-batch, which cover every batch; the
    * sub-phase times and the backlog size only from the progress events
    * Spark posted (a query stopped by an invalidate may skip its last).
    */
  def streamingStats(tr: Tracer, w0: Double, w1: Double): Map[String, Any] = {
    val ts = tr.triggers.asScala.toSeq.filter(t => t.start >= w0 && t.start <= w1)
    def sum(k: String) = ts.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val bs = tr.batches.filter(b => b.start >= w0 && b.end <= w1)
    val trig = bs.map(b => b.end - b.start)
    val streamShuffle = tr.jobs.values.asScala.toSeq
      .filter(j => j.query != null && j.start >= w0 && j.end <= w1)
      .flatMap(_.stages).flatMap(s => Option(tr.stages.get(s)))
      .map(_.shuffleWrite).sum
    Map("streaming.triggers" -> bs.size,
      "streaming.progress_events" -> ts.size,
      "streaming.trigger_ms.p50" -> Harness.median(trig),
      "streaming.trigger_ms.p99" -> Harness.pct(trig, 0.99),
      "streaming.query_planning_ms" -> sum("queryPlanning"),
      "streaming.add_batch_ms" -> sum("addBatch"),
      "streaming.wal_commit_ms" -> sum("walCommit"),
      "streaming.commit_offsets_ms" -> sum("commitOffsets"),
      "streaming.backlog_events.max" ->
        (if (ts.isEmpty) 0L else ts.map(_.rows).max),
      "streaming.shuffle_bytes" -> streamShuffle)
  }
}
