package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLongArray, DoubleAdder, LongAdder}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Observability parity (SURVEY.md §2.4 K3/K4):
  *
  *  - K4 metrics: a StreamingQueryListener maintaining the reference's
  *    prometheus families (internal/prometheus/prometheus.go:16-129) —
  *    processing-duration histogram per collection with the default
  *    prometheus buckets (5ms..10s), published/failed counters — plus a
  *    text exposition matching the /metrics shape
  *    (internal/server/server.go:36-38).
  *  - K3 health: per-component UP/DOWN roll-up with the reference's JSON
  *    contract {status, components:{name:{status}}} (health.go:31-45).
  *    Note the reference hard-codes the OVERALL status to UP even when a
  *    component is DOWN (health.go:23-26) — mirrored faithfully, quirk
  *    included, because the acceptance test pins it
  *    (observability_test.go:35-63).
  */
object Observability {

  /** prometheus.DefBuckets (prometheus.go:16-27 uses the defaults). */
  val DurationBuckets: Seq[Double] =
    Seq(0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0)

  /** Cumulative-bucket duration histogram over [[DurationBuckets]]
    * (prometheus exposition semantics): one count per bucket plus +Inf.
    */
  final class Histo {
    val buckets = new AtomicLongArray(DurationBuckets.length + 1)
    val sum = new DoubleAdder
    val count = new LongAdder
    def observe(sec: Double): Unit = {
      var i = 0
      while (i < DurationBuckets.length) {
        if (sec <= DurationBuckets(i)) buckets.incrementAndGet(i)
        i += 1
      }
      buckets.incrementAndGet(DurationBuckets.length) // +Inf
      sum.add(sec)
      count.increment()
    }
  }

  private val BucketLabels = DurationBuckets.map(_.toString) :+ "+Inf"

  private def header(sb: StringBuilder, family: String, help: String,
      kind: String): Unit =
    sb ++= s"# HELP $family $help\n# TYPE $family $kind\n"

  /** The bucket, sum and count lines of one histogram series. */
  private def series(sb: StringBuilder, family: String, labels: String,
      h: Histo): Unit = {
    BucketLabels.zipWithIndex.foreach { case (le, i) =>
      sb ++= s"""${family}_bucket{$labels,le="$le"} ${h.buckets.get(i)}""" + "\n"
    }
    sb ++= s"${family}_sum{$labels} ${h.sum.sum()}\n"
    sb ++= s"${family}_count{$labels} ${h.count.sum()}\n"
  }

  /** K4 — storage-command metrics, the engine analog of the reference's
    * MongoDB command monitor (internal/mongo/client.go:83-126 feeding
    * prometheus.go:44-90): every storage "command" the runtime issues
    * (batch scan, messages append, tokens append/read) increments
    * started/succeeded/failed counters and a duration histogram, labeled
    * {database, command} exactly like the reference. Plus the per-subject
    * publish-duration histogram (nats_message_duration_seconds,
    * prometheus.go:112-119, timed at internal/nats/client.go:121-127) —
    * at batch granularity, observed once per subject present in the batch.
    */
  object CommandMetrics {
    final case class Key(database: String, command: String)

    private[streaming] val started = new ConcurrentHashMap[Key, LongAdder]
    private[streaming] val succeeded = new ConcurrentHashMap[Key, LongAdder]
    private[streaming] val failed = new ConcurrentHashMap[Key, LongAdder]
    private[graft] val durations = new ConcurrentHashMap[Key, Histo]
    private[streaming] val natsDurations = new ConcurrentHashMap[String, Histo]

    /** Time one storage command — the CommandStarted/Succeeded/Failed
      * monitor events. Duration is observed on success AND failure, like
      * ObserveMongoCmdSucceeded/Failed (prometheus.go:76-90).
      */
    def time[T](database: String, command: String)(f: => T): T = {
      val k = Key(database, command)
      started.computeIfAbsent(k, _ => new LongAdder).increment()
      val t0 = System.nanoTime()
      try {
        val r = f
        succeeded.computeIfAbsent(k, _ => new LongAdder).increment()
        durations.computeIfAbsent(k, _ => new Histo)
          .observe((System.nanoTime() - t0) / 1e9)
        r
      } catch {
        case e: Throwable =>
          failed.computeIfAbsent(k, _ => new LongAdder).increment()
          durations.computeIfAbsent(k, _ => new Histo)
            .observe((System.nanoTime() - t0) / 1e9)
          throw e
      }
    }

    /** Per-subject publish duration (nats_message_duration_seconds). */
    def observePublish(subject: String, sec: Double): Unit =
      natsDurations.computeIfAbsent(subject, _ => new Histo).observe(sec)
  }

  final case class QueryStats(
      collection: String,
      batches: Long,
      failures: Long,
      duration: Histo) { // trigger execution time per batch
    /** Post-filter publish count (nats_messages_published_total
      * semantics), maintained by the engine at the commit point.
      */
    def eventsPublished: Long =
      StreamingCdc.publishedTotal.getOrDefault(collection, 0L)
  }

  /** K4 — collects per-query progress into the metric registry. */
  final class MetricsListener extends StreamingQueryListener {
    private val stats = new ConcurrentHashMap[String, QueryStats]()
    // id → name: QueryTerminatedEvent carries only the id, but stats are
    // keyed by name — without this map, failure counts would land under a
    // key nothing reads and report 0 forever.
    private val idToName = new ConcurrentHashMap[String, String]()

    private def fresh(name: String) = QueryStats(name, 0L, 0L, new Histo)

    override def onQueryStarted(e: QueryStartedEvent): Unit = {
      val name = Option(e.name).getOrElse(e.id.toString) // unnamed-safe
      idToName.put(e.id.toString, name)
      stats.putIfAbsent(name, fresh(name))
    }

    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val name = Option(p.name).getOrElse(p.id.toString)
      val sec = Option(p.durationMs.get("triggerExecution"))
        .map(_.toDouble / 1000.0).getOrElse(0.0)
      stats.compute(name, (_, prev0) => {
        val prev = Option(prev0).getOrElse(fresh(name))
        prev.duration.observe(sec)
        prev.copy(batches = prev.batches + 1)
      })
    }

    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      e.exception.foreach { _ =>
        val name = idToName.getOrDefault(e.id.toString, e.id.toString)
        stats.computeIfPresent(name,
          (_, s) => s.copy(failures = s.failures + 1))
      }

    def snapshot: Map[String, QueryStats] = stats.asScala.toMap

    /** Prometheus text exposition, family names per prometheus.go. */
    def renderPrometheus(): String = {
      val sb = new StringBuilder
      val fam = "connector_change_event_processing_duration_seconds"
      header(sb, fam, "Duration of change event processing in seconds.",
        "histogram")
      for (s <- snapshot.values.toSeq.sortBy(_.collection)) {
        val lbl = s"""collection="${s.collection}""""
        series(sb, fam, lbl, s.duration)
        sb ++= s"nats_messages_published_total{$lbl} ${s.eventsPublished}\n"
        sb ++= s"nats_messages_failed_total{$lbl} ${s.failures}\n"
      }
      renderCommandMetrics(sb)
      sb.result()
    }

    /** mongodb_command_* + nats_message_duration_seconds families
      * (prometheus.go:44-90, :112-119) from the CommandMetrics registry.
      */
    private def renderCommandMetrics(sb: StringBuilder): Unit = {
      import CommandMetrics._
      def sorted[V](m: ConcurrentHashMap[Key, V]) =
        m.asScala.toSeq.sortBy(e => (e._1.database, e._1.command))
      def lbl(k: Key) = s"""database="${k.database}",command="${k.command}""""
      def counters(fam: String, help: String,
          m: ConcurrentHashMap[Key, LongAdder]): Unit =
        if (!m.isEmpty) {
          header(sb, fam, help, "counter")
          sorted(m).foreach { case (k, v) => sb ++= s"$fam{${lbl(k)}} ${v.sum()}\n" }
        }
      counters("mongodb_commands_started_total",
        "Total number of started commands.", started)
      counters("mongodb_commands_succeeded_total",
        "Total number of succeeded commands.", succeeded)
      counters("mongodb_commands_failed_total",
        "Total number of failed commands.", failed)
      if (!durations.isEmpty) {
        val fam = "mongodb_command_duration_seconds"
        header(sb, fam, "Duration of commands in seconds.", "histogram")
        sorted(durations).foreach { case (k, h) => series(sb, fam, lbl(k), h) }
      }
      if (!natsDurations.isEmpty) {
        val fam = "nats_message_duration_seconds"
        header(sb, fam, "Duration of messages in seconds.", "histogram")
        natsDurations.asScala.toSeq.sortBy(_._1).foreach { case (subj, h) =>
          series(sb, fam, s"""subject="$subj"""", h)
        }
      }
    }
  }

  def attach(spark: SparkSession): MetricsListener = {
    val l = new MetricsListener
    spark.streams.addListener(l)
    l
  }

  /** A2 snapshot as a DataFrame — composable with the query surface. */
  def metricsFrame(spark: SparkSession, l: MetricsListener): DataFrame = {
    import spark.implicits._
    l.snapshot.values.toSeq
      .map(s => (s.collection, s.batches, s.eventsPublished, s.failures))
      .toDF("collection", "batches", "events_published", "failures")
  }

  // ---- K3 health ----

  final case class ComponentStatus(status: String)
  final case class HealthResponse(
      status: String, components: Map[String, ComponentStatus])

  /** K3 — component probes over the active streaming queries (the engine's
    * "monitors"): a query is UP while active and exception-free
    * (NamedMonitor contract, health.go:8-11).
    */
  def healthCheck(spark: SparkSession): HealthResponse = {
    val components = spark.streams.active.map { q =>
      val name = Option(q.name).getOrElse(q.id.toString)
      name -> ComponentStatus(
        if (q.exception.isEmpty && q.isActive) "UP" else "DOWN")
    }.toMap
    // Reference quirk: overall status is hard-coded UP (health.go:23-26).
    HealthResponse("UP", components)
  }

  /** The exact healthz JSON contract (health.go:31-45, http.go:8-12). */
  def healthJson(h: HealthResponse): String = {
    val comps = h.components.toSeq.sortBy(_._1).map { case (n, c) =>
      s""""$n":{"status":"${c.status}"}"""
    }.mkString(",")
    s"""{"status":"${h.status}","components":{$comps}}"""
  }
}
