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
    parseKnob(CpusEnv, v, Runtime.getRuntime.availableProcessors).toInt

  /** `parseCpus` of `SPARK_GRAFT_CPUS`, warning on stderr when it falls
    * back.
    */
  lazy val envCpus: Int = {
    val n = parseCpus(sys.env.get(CpusEnv))
    if (!sys.env.contains(CpusEnv))
      System.err.println(s"[graft] WARN $CpusEnv is unset; using $n cores")
    n
  }

  private val warned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The integer setting `name` from `v`: the value when it parses as an
    * integer in [min, max], else `default` (malformed and out-of-range
    * alike, with one stderr warning per name), and `default` when unset.
    * Every numeric `SPARK_GRAFT_*` knob goes through it, so a bad value
    * degrades to the default instead of failing a run.
    */
  def parseKnob(name: String, v: Option[String], default: Long,
      min: Long = 1, max: Long = Int.MaxValue): Long = {
    val n = v.flatMap(_.trim.toLongOption).filter(x => x >= min && x <= max)
    if (v.isDefined && n.isEmpty && warned.add(name))
      System.err.println(s"[graft] WARN $name='${v.get}' is not an " +
        s"integer in [$min, $max]; using $default")
    n.getOrElse(default)
  }

  /** `parseKnob` of the environment variable `name`. */
  def envKnob(name: String, default: Long, min: Long = 1,
      max: Long = Int.MaxValue): Long =
    parseKnob(name, sys.env.get(name), default, min, max)

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
