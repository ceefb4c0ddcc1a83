package graft
import java.nio.file.{Files, Paths}

/** Dev tool: dump one query's generated oracle SQL (iterate on an oracle in
  * DuckDB against an existing Verify output, without re-running Spark):
  * `sbt "runMain graft.DumpOracle <queryName> [outFile]"`.
  */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val sql = SparkEntry.oracleSql.getOrElse(args(0),
      sys.error(s"no oracle for ${args(0)}"))
    if (args.length > 1) Files.writeString(Paths.get(args(1)), sql)
    else println(sql)
  }
}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (comma-separated names); unset = full gate —
    // the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // A query that fails both attempts must not vanish from the round's
    // record (the driver's correctness artifact only has rows for outputs
    // that exist): collect failures and publish them as an artifact.
    val failures = scala.collection.mutable.Map.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // one retry: a transient executor hiccup must not zero a query's
      // correctness entry for the round
      def attempt(): Unit = fn(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      try attempt()
      catch { case e1: Throwable =>
        System.err.println(s"[verify] $name failed once: $e1 — retrying")
        try attempt()
        catch { case e2: Throwable =>
          System.err.println(s"[verify] $name failed: $e2")
          e2.printStackTrace()
          failures(name) = e2.toString.take(500)
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Self-identifying artifact (same philosophy as Bench's loadavg/spread
    // fields): an empty object means every query produced output; any
    // entry is a query the correctness gate would otherwise silently skip.
    val errJson = failures.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.toSeq.sorted.mkString(", "))
    spark.stop()
  }
}
