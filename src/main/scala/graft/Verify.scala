package graft
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal: escapes backslash, quote and every control char
    * (< 0x20). A tab or CR in builder-authored SQL, or a newline in a
    * recorded exception, would otherwise make the artifact stop parsing.
    */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON object of string keys and string values, in `kvs` order. */
  private[graft] def jsonObj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}")

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
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObj(SparkEntry.oracleSql))
    // Self-identifying artifact (same philosophy as Bench's loadavg/spread
    // fields): an empty object means every query produced output; any
    // entry is a query the correctness gate would otherwise silently skip.
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      jsonObj(failures.toSeq.sortBy(_._1)))
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.toSeq.sorted.mkString(", "))
    spark.stop()
  }
}
