package graft

/** Dev tool: time ONE registered query at one or more testdata dirs — the
  * A/B harness for plan work and cross-SF scaling spot-checks without the
  * full Bench sweep.
  *
  *   sbt "Test/runMain graft.TimeQuery <query> <sfDir> [sfDir...]"
  *
  * Per dir: one untimed warm-up, then three timed trials, each consuming
  * every output column through `Bench.consumeAll` (the Bench shape).
  * Prints every trial and the per-dir min (the Bench-comparable figure).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"no query $name"))
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (dir <- args.tail) {
      Bench.consumeAll(fn(spark, dir))
      val times = (1 to 3).map { trial =>
        val t0 = System.nanoTime()
        val n = Bench.consumeAll(fn(spark, dir))
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[time-query] $name $dir trial $trial: $dt%.3f s, $n rows")
        dt
      }
      println(f"[time-query] $name $dir min: ${times.min}%.3f s")
    }
    spark.stop()
  }
}
