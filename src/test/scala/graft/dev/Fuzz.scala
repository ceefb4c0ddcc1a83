package graft

import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils

import graft.Verify.{jsonObj, jsonStr}

/** Randomized differential gate runner (see FuzzEntry): executes N seeded
  * random queries on the Spark engine, dumps each result to parquet plus
  * the paired DuckDB SQL to `oracle_sql.json` — Verify-shaped output, so
  * `tools/check.py` (and hence `tools/fuzz.py`) compares it unchanged.
  *
  * Usage: `sbt "Test/runMain graft.Fuzz <sfDir> <outDir> [n] [seed0]"`.
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
      .foreach(FileUtils.deleteQuietly)

    val cases = FuzzEntry.cases(seed0, n)
    val failures = scala.collection.mutable.Map.empty[String, String]
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
          FileUtils.deleteQuietly(new java.io.File(s"$outDir/${fc.name}"))
        }
      }
    }

    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObj(cases.map(fc => fc.name -> fc.sql)))
    val manifest =
      s"""{"generator_version": ${FuzzEntry.GeneratorVersion}, "n": $n,
         | "seed0": $seed0, "sf_dir": ${jsonStr(sfDir)},
         | "shapes": {${cases.groupBy(_.shape).toSeq.sortBy(_._1)
              .map { case (s, cs) => s"${jsonStr(s)}: ${cs.size}" }
              .mkString(", ")}},
         | "spark_errors": ${jsonObj(failures.toSeq.sortBy(_._1))}}"""
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
