package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side. One process per invocation:
  *
  *   cdc       — cdc_catchup: drain a staged change-stream backlog with
  *               Connector.run(availableNow) in a closed loop
  *   curation  — curation_small: the training-data query list
  *   single    — one drain of the probe backlog at the session's core
  *               count (run at local[1]: the single-threaded streaming
  *               baseline, and the stream layers of a curation trace)
  *
  * Every mode first records `setup_s`: the time from JVM start to the
  * GraftExtensions session answering its first query.
  *
  * Usage: `Harness <mode> <dataDir> <workDir> <seconds> <trace 0|1>
  * <cores> <out.json> [queries]`. Writes one JSON result file; the
  * driving script (run.py) turns it into the benchmark's output line.
  */
object Harness {

  final case class Args(mode: String, data: String, work: String,
      seconds: Double, trace: Boolean, cores: Int, out: String,
      queries: Seq[String])

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1), argv(2), argv(3).toDouble, argv(4) == "1",
      argv(5).toInt, argv(6),
      if (argv.length > 7) argv(7).split(",").toSeq.filter(_.nonEmpty)
      else Nil)
    val jvmStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.cores, a.work)
    spark.sql("SELECT fnv64('graft')").collect()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val res = mutable.LinkedHashMap[String, Any]("setup_s" -> setupS)
    log(s"${a.mode}: session answered after $setupS s")
    try {
      res ++= environment(spark)
      val tr = new Tracer(a.trace)
      tr.attach(spark)
      val r = a.mode match {
        case "cdc" => Cdc.workload(spark, a, tr)
        case "curation" => Curation.workload(spark, a, tr)
        case "single" => Cdc.measure(spark, a, tr, s"${a.data}/probe", 0.0,
          warmDrains = 1, minDrains = 1, overhead = false)
      }
      res ++= r
      if (a.trace && a.mode != "single") {
        res("probes") = Probes.all(spark, a, tr)
        tr.detach(spark)
        val spans = tr.allSpans
        tr.writeSpans(s"${a.work}/spans.jsonl",
          s"${a.mode}-${jvmStart}", spans)
        res ++= sparkStats(tr, spans, r, a.queries)
      }
      res("jvm") = jvmStats()
      Json.write(a.out, res)
      log("done")
    } finally spark.stop()
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val t0 = System.nanoTime()

  /** A progress line on stderr (the harness log), with elapsed seconds. */
  def log(msg: String): Unit =
    Console.err.println(f"[harness ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }

  /** Hard-link every file of `from` into `to` (a path no JVM has seen). */
  def linkTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.createLink(t, p)
    }

  /** Fixed single-thread CPU reference (xorshift64*), seconds. */
  def cpuRef(): Double = seconds {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      i += 1
    }
    x
  }._2

  def environment(spark: SparkSession): Map[String, Any] = Map("env" -> Map(
    "available_processors" -> Runtime.getRuntime.availableProcessors(),
    "default_parallelism" -> spark.sparkContext.defaultParallelism,
    "shuffle_partitions" ->
      spark.conf.get("spark.sql.shuffle.partitions").toInt,
    "spark_version" -> spark.version,
    "jvm_version" -> System.getProperty("java.vm.version"),
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
    "cpu_ref_s" -> cpuRef()))

  /** GC time, peak heap use, peak resident memory (VmHWM) and the heap
    * still in use after a full collection at the end of the run. */
  def jvmStats(): Map[String, Any] = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    val gcMs = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val heapPeak = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    val hwmKb = status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    System.gc()
    Map("gc_s" -> gcMs / 1000.0, "heap_peak_mb" -> heapPeak / 1048576.0,
      "live_heap_mb" -> mx.getHeapMemoryUsage.getUsed / 1048576.0,
      "peak_rss_mb" -> hwmKb / 1024.0)
  }

  /** Order-independent digest of a result: row count and the xor of a
    * 64-bit hash over every column. Forces every column to be computed.
    */
  def digestCols(df: DataFrame): Seq[org.apache.spark.sql.Column] =
    df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.VariantType =>
          col(f.name).cast("string")
        case _ => col(f.name)
      }
    }

  def digestParts(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(digestCols(df): _*).as("__h"))
      .agg(count(lit(1)), expr("bit_xor(__h)")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def digest(df: DataFrame): String = {
    val (n, x) = digestParts(df)
    s"$n:$x"
  }

  /** Spark-level counters of the traced run: stages, tasks, shuffle,
    * spill, skew, serial stages, observed query counters, self time per
    * span layer, and the shuffle bytes of each listed query (the median
    * over timed passes of its stages, found through the job group). */
  def sparkStats(tr: Tracer, spans: Seq[Span], r: Map[String, Any],
      queries: Seq[String]): Map[String, Any] = {
    // the measured window of the workload: warm-up and probes excluded
    val Seq(w0, w1) = r("window").asInstanceOf[Seq[Double]]
    val st = tr.stages.values.asScala.toSeq
      .filter(s => s.start >= w0 && s.end <= w1)
    val inputBytes = r.getOrElse("input_bytes", 0L).asInstanceOf[Long]
    // a serial stage: one task over (at least half of) the workload's
    // corpus-sized input
    val serial = st.filter(s => s.tasks == 1 &&
      s.inputBytes + s.shuffleRead >= inputBytes / 2 && inputBytes > 0)
    val spanOf = spans.map(s => s.id -> s).toMap
    val groupOf = tr.jobs.values.asScala.toSeq.sortBy(-_.id)
      .filter(j => j.group != null && j.group.startsWith("pb-"))
      .flatMap(j => j.stages.map(_ -> j.group.drop(3).toLong)).toMap
    val queryShuffle = st.flatMap { s =>
      groupOf.get(s.id).flatMap(spanOf.get)
        .filter(u => u.layer == "unit" && queries.contains(u.name))
        .map(u => (u.name, u.parent, s.shuffleWrite))
    }.groupBy(_._1).map { case (q, xs) =>
      q -> median(xs.groupBy(_._2).values.map(_.map(_._3).sum.toDouble).toSeq)
    }
    Map("spark" -> Map(
      "jobs" -> tr.jobs.values.asScala.count(j => j.start >= w0 && j.end <= w1),
      "stages" -> st.size,
      "tasks" -> st.map(_.tasks.toLong).sum,
      "serial_stages" -> serial.size,
      "serial_stage_names" -> serial.map(_.name).distinct.take(20),
      "shuffle_bytes" -> st.map(_.shuffleWrite).sum,
      "spill_bytes" -> st.map(_.spill).sum,
      "task_skew_max" -> tr.taskSkewMax(st.map(_.id).toSet),
      "executor_run_s" -> st.map(_.runMs).sum / 1000.0,
      "observed" -> tr.observedTotals,
      "query_shuffle_bytes" -> queryShuffle),
      "self_s" -> tr.selfSeconds(spans),
      "spans" -> spans.size)
  }
}
