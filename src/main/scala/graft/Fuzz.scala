package graft

import java.nio.file.{Files, Paths}

/** Randomized differential gate runner (see FuzzEntry): executes N seeded
  * random queries on the Spark engine, dumps each result to parquet plus
  * the paired DuckDB SQL to `oracle_sql.json` — Verify-shaped output, so
  * `tools/check.py` (and hence `tools/fuzz.py`) compares it unchanged.
  *
  * Usage: `sbt "runMain graft.Fuzz <sfDir> <outDir> [n] [seed0]"`.
  */
object Fuzz {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val n = if (args.length > 2) args(2).toInt else 220
    val seed0 = if (args.length > 3) args(3).toLong else 1L
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Stale results from an earlier generator version would be compared
    // (or silently rows-only'd) by the gate: a (version, seed) pair maps
    // to a different shape, so clear every fz_* dir before writing.
    Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("fz_"))
      .foreach { d =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(): Unit
        }
        rm(d)
      }

    val cases = FuzzEntry.cases(seed0, n)
    val failures = scala.collection.mutable.Map.empty[String, String]
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
      f.delete(): Unit
    }
    cases.foreach { fc =>
      def attempt(): Unit = fc.build(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/${fc.name}")
      try attempt()
      catch { case e1: Throwable =>
        System.err.println(s"[fuzz] ${fc.name} failed once: $e1 — retrying")
        try attempt()
        catch { case e2: Throwable =>
          System.err.println(s"[fuzz] ${fc.name} FAILED: $e2")
          failures(fc.name) = e2.toString.take(500)
          // A partially-written output dir would be globbed by
          // tools/check.py as an empty result and double-counted as a
          // hash mismatch on top of the recorded spark_error (ADVICE
          // r11) — remove it so the failure is reported exactly once.
          rmTree(new java.io.File(s"$outDir/${fc.name}"))
        }
      }
    }

    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = cases.map(fc => s"${q(fc.name)}: ${q(fc.sql)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val manifest =
      s"""{"generator_version": ${FuzzEntry.GeneratorVersion}, "n": $n,
         | "seed0": $seed0, "sf_dir": ${q(sfDir)},
         | "shapes": {${cases.groupBy(_.shape).toSeq.sortBy(_._1)
              .map { case (s, cs) => s"${q(s)}: ${cs.size}" }.mkString(", ")}},
         | "spark_errors": {${failures.toSeq.sortBy(_._1)
              .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ")}}}"""
        .stripMargin.linesIterator.mkString("")
    Files.writeString(Paths.get(s"$outDir/fuzz_manifest.json"), manifest)
    if (failures.nonEmpty)
      System.err.println(s"[fuzz] ${failures.size} SPARK-SIDE FAILURES: " +
        failures.keys.toSeq.sorted.mkString(", "))
    println(s"[fuzz] wrote ${cases.size - failures.size}/${cases.size} " +
      s"query results to $outDir (generator v${FuzzEntry.GeneratorVersion}, " +
      s"seeds $seed0..${seed0 + n - 1})")
    spark.stop()
  }
}
