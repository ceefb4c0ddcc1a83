package graft

import org.apache.spark.sql.SparkSession

/** The local session every dev and verification main builds (Bench, Verify,
  * the fuzzers, the audits) and the test suites share: `local[cpus]`, the
  * function library through the extension, one shuffle partition per core,
  * a UTC session clock and no UI. `Main` keeps its own builder, because
  * spark-submit supplies the master there.
  */
object LocalSession {
  private val CpusEnv = "SPARK_GRAFT_CPUS"

  /** Cores for a local session: the value when it is a positive integer,
    * else every available core (unset, non-integer and ≤ 0 alike).
    */
  def parseCpus(v: Option[String]): Int =
    v.flatMap(_.trim.toIntOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `parseCpus` of `SPARK_GRAFT_CPUS`, warning once on stderr when it
    * falls back.
    */
  lazy val envCpus: Int = {
    val v = sys.env.get(CpusEnv)
    val n = parseCpus(v)
    if (!v.flatMap(_.trim.toIntOption).contains(n))
      System.err.println(s"[graft] WARN $CpusEnv" +
        v.fold(" is unset")(x => s"='$x' is not a positive integer") +
        s"; using $n cores")
    n
  }

  /** A builder carrying the shared configs; callers add their own (app
    * name, scenario configs) before `getOrCreate()`.
    */
  def builder(cpus: Int = envCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      // the deployment path: functions arrive via the extension, not
      // per-query registration
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Older testdata generations stored events.ts as TIMESTAMP(NANOS),
      // which Spark 4 rejects unless read as raw long nanos; newer ones
      // use TIMESTAMP(MICROS). The flag keeps the nanos generation
      // readable; EventsCdc.normalizeTs canonicalizes either at load.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
