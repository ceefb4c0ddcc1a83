package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** Spans around every call the benchmark makes into a layer, plus
  * Spark's own job/stage events and streaming progress, kept in memory
  * and written out when the run ends.
  *
  * Tree: workload → phase → unit (one query, one trigger, one probe)
  * → Spark job → Spark stage. Benchmark spans set the Spark job group,
  * so a job lands under the span that submitted it; streaming jobs carry
  * their query id and batch id instead and land under their trigger,
  * which spans the jobs of one micro-batch.
  *
  * Disabled (the end-to-end runs), `span` only runs its body: no
  * listener is registered and nothing is recorded.
  */
final class Tracer(val enabled: Boolean) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  @volatile private var on = enabled

  def span[T](spark: SparkSession, name: String, layer: String)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      val sc = spark.sparkContext
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      stack.set(id :: stack.get)
      sc.setLocalProperty("spark.jobGroup.id", s"pb-$id")
      val t0 = nowMs
      try f
      finally {
        spans.add(Span(id, parent, name, layer, t0, nowMs))
        stack.set(stack.get.tail)
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      }
    }

  import Tracer._

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val taskMs = new ConcurrentHashMap[Int, java.util.List[java.lang.Long]]()
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Trigger]()

  private object SparkEvents extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs.put(e.jobId, JobRec(e.jobId, prop("spark.jobGroup.id").orNull,
        prop("sql.streaming.queryId").orNull,
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
        e.time.toDouble, e.time.toDouble, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        taskMs.computeIfAbsent(e.stageId,
          _ => java.util.Collections.synchronizedList(
            new java.util.ArrayList[java.lang.Long]()))
          .add(e.taskInfo.duration)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val start = s.submissionTime.getOrElse(0L).toDouble
      stages.put(s.stageId, StageRec(s.stageId, s.name, s.numTasks, start,
        s.completionTime.map(_.toDouble).getOrElse(start),
        if (m == null) 0L else m.inputMetrics.bytesRead,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        if (m == null) 0L else m.executorRunTime))
    }
  }

  private object Progress extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      triggers.add(Trigger(p.id.toString, p.name, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows))
    }
  }

  /** Dataset.observe counters the queries emit (graft_dropped_*),
    * summed by field over the run. */
  private val observed = new ConcurrentHashMap[String, java.lang.Long]()
  def observedTotals: Map[String, Long] =
    observed.asScala.map { case (k, v) => k -> v.longValue }.toMap

  private object Observed extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith("graft_dropped_"))
          row.schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
            row.get(i) match {
              case n: java.lang.Number =>
                observed.merge(f, n.longValue, (x, y) => x + y)
              case _ =>
            }
          }
      }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(SparkEvents)
    spark.streams.addListener(Progress)
    spark.listenerManager.register(Observed)
  }

  private def removeListeners(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(SparkEvents)
    spark.streams.removeListener(Progress)
    spark.listenerManager.unregister(Observed)
  }

  /** Run `f` with tracing off (no spans, no listeners): the untraced
    * side of the tracing-overhead measurement. */
  def untraced[T](spark: SparkSession)(f: => T): T =
    if (!enabled) f
    else {
      removeListeners(spark)
      on = false
      try f
      finally { on = true; attach(spark) }
    }

  def detach(spark: SparkSession): Unit = if (enabled) {
    // the listener bus is asynchronous and has no public flush: give it
    // a moment to deliver the last stage and task events
    Thread.sleep(1000)
    removeListeners(spark)
  }

  /** Every micro-batch that ran a Spark job, from the jobs' start and end
    * times, in start order. Progress events would miss some: a query
    * that stops itself right after a batch may never post its progress.
    */
  def batches: Seq[Batch] = jobs.values.asScala.toSeq
    .filter(j => j.query != null && j.batch >= 0)
    .groupBy(j => (j.query, j.batch)).toSeq
    .map { case ((q, b), js) =>
      Batch(q, b, js.map(_.start).min, js.map(_.end).max)
    }.sortBy(_.start)

  /** Benchmark spans plus triggers, jobs and stages as one span list. */
  def allSpans: Seq[Span] = {
    val own = spans.asScala.toSeq
    // the innermost benchmark span open at `t`: the parent of a span the
    // driving thread did not open itself
    def openAt(t: Double): Long = own.filter(s => s.start <= t && t <= s.end)
      .sortBy(-_.start).headOption.map(_.id).getOrElse(0L)
    val names = triggers.asScala.map(t => t.queryId -> t.name).toMap
    val bs = batches
    val trig = bs.zipWithIndex.map { case (b, i) =>
      Span(3000000000L + i, openAt(b.start),
        s"trigger ${names.getOrElse(b.queryId, b.queryId)}#${b.batch}",
        "unit", b.start, b.end)
    }
    val trigOf = bs.zipWithIndex.map { case (b, i) =>
      (b.queryId, b.batch) -> (3000000000L + i) }.toMap
    val js = jobs.values.asScala.toSeq.map { j =>
      val parent =
        if (j.group != null && j.group.startsWith("pb-")) j.group.drop(3).toLong
        else trigOf.getOrElse((j.query, j.batch), openAt(j.start))
      Span(1000000000L + j.id, parent, s"job ${j.id}", "job", j.start, j.end)
    }
    val stageJob = jobs.values.asScala.toSeq.sortBy(_.id)
      .flatMap(j => j.stages.map(_ -> j.id)).reverse.toMap
    val ss = stages.values.asScala.toSeq.flatMap { s =>
      stageJob.get(s.id).map(j => Span(2000000000L + s.id,
        1000000000L + j, s"stage ${s.id} (${s.tasks} tasks)", "stage",
        s.start, s.end))
    }
    own ++ trig ++ js ++ ss
  }

  /** Self time per layer: a span's duration minus the part of it that
    * its children cover, summed by layer (seconds). */
  def selfSeconds(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var (cs, ce) = (Double.NaN, Double.NaN)
        iv.foreach { case (a, b) =>
          if (cs.isNaN) { cs = a; ce = b }
          else if (a <= ce) ce = math.max(ce, b)
          else { covered += ce - cs; cs = a; ce = b }
        }
        if (!cs.isNaN) covered += ce - cs
        math.max(0.0, s.dur - covered)
      }.sum / 1000.0
    }
  }

  /** Max over stages of (max task time / median task time). */
  def taskSkewMax(stageIds: Set[Int]): Double = {
    val ratios = taskMs.asScala.toSeq.filter(e => stageIds(e._1)).flatMap {
      case (_, l) =>
      val xs = l.synchronized(l.asScala.map(_.longValue).toIndexedSeq).sorted
      if (xs.size < 2) None
      else {
        val med = math.max(1L, xs(xs.size / 2))
        Some(xs.last.toDouble / med)
      }
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  def writeSpans(path: String, runId: String, all: Seq[Span]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try all.sortBy(_.start).foreach { s =>
      w.write(Json.render(Map("run" -> runId, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_ms" -> s.start, "end_ms" -> s.end)))
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  final case class JobRec(id: Int, group: String, query: String,
      batch: Long, start: Double, var end: Double, stages: Seq[Int])
  final case class StageRec(id: Int, name: String, tasks: Int,
      start: Double, end: Double, inputBytes: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, runMs: Long)
  final case class Trigger(queryId: String, name: String, batch: Long,
      start: Double, durations: Map[String, Long], rows: Long)
  final case class Batch(queryId: String, batch: Long, start: Double,
      end: Double)

}
