package graft

import java.nio.file.{Files, Paths}
import java.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Verify.jsonStr
import graft.model.{ChangeEvent, ChangeEventId, Ns}
import graft.operators.CdcPipeline
import graft.streaming.StreamingCdc
import graft.streaming.StreamingCdc.StreamConfig

/** Randomized differential gate for the STREAMING path (round-13 VERDICT
  * #6): the batch fuzzer (graft.Fuzz) probes plans DuckDB can replay; the
  * streaming runtime's state machine — micro-batch admission, the per-batch
  * invalidate cut, the publish/commit ordering, replay-after-kill, capped
  * token retention — is pinned only by fixed scenarios. This main generates
  * seeded RANDOM change streams (random op mixes, invalidate placement,
  * file/batch shapes, kill points, capped/uncapped tokens, pre/post-image
  * toggles) and asserts per seed that the streamed outcome equals the BATCH
  * replay of the same envelope input — the same streamed==batch discipline
  * STREAMING_r12's fixed twins use, across a seed space instead of five
  * hand-picked cases. (The reference's analog: the fault-injection harness
  * probing what fixed acceptance cases don't enumerate,
  * /root/reference/test/harness/harness.go:274-294.)
  *
  * Checks per scenario AND per collection:
  *  1. set equality — dedupByMsgId(streamed) == toMessages(truncateAt
  *     Invalidate(input)) on (subject, msgId, data), both directions;
  *  2. at-least-once — raw streamed count >= expected (duplicates only
  *     from replayed batches, and only when an injected fault or a
  *     sibling-cancel abort actually fired);
  *  3. order — consecutive committed batches' [min,max] msgId ranges are
  *     strictly increasing (token-ordered admission survives restarts);
  *  4. token — for UNCAPPED tokens with a nonempty expected set, the max
  *     committed non-null token value equals the max expected msgId
  *     (capped runs may legitimately trim the carrying row when trailing
  *     batches publish nothing, so the check is scoped like D1's).
  *
  * Generator v2 (round-14 VERDICT #6) widens the seed space to the C1
  * fan-out machinery v1 left fixed-scenario-only:
  *  - MULTI-COLLECTION scenarios (1-3 concurrent collections through one
  *    runAll, each with its own op stream/invalidate placement);
  *  - TRIM-RACE kills (capped tokens, the injected kill fires INSIDE
  *    trimTokensAt's append→delete window — the duplicate-file crash state);
  *  - POISONED SIBLINGS (one collection throws a transient non-kill fault
  *    mid-stream; errgroup fail-fast cancels the healthy siblings
  *    mid-batch, and the retry must converge everyone).
  *
  * Generator v4 runs every scenario through the one CDC path — the
  * change-stream source into the DSv2 epoch-commit sink
  * (graft.sinks.MessageSink); micro-batch shape comes from the row budget
  * alone. A trim-race kill gets a small row budget and a 1-2 row token
  * cap, so the killed collection commits enough batches for its trim —
  * and the kill inside it — to run.
  *
  * Usage: `sbt "Test/runMain graft.StreamFuzz <outJson> [n] [seed0]"`.
  * Exits 2 on any failed scenario.
  */
object StreamFuzz {

  final val GeneratorVersion = 4

  private val Ops = Seq(
    // weighted op pool: publishable ops dominate, skip-ops and the odd
    // unknown op keep the F1 filter honest
    Seq.fill(30)("insert"), Seq.fill(18)("update"), Seq.fill(10)("replace"),
    Seq.fill(10)("delete"), Seq.fill(3)("drop"), Seq.fill(3)("rename"),
    Seq.fill(2)("dropDatabase")).flatten

  /** Per-collection shape: its own stream length, invalidate placement
    * and file layout (the C1 fan-out runs heterogeneous collections).
    */
  private case class Coll(
      nEvents: Int,
      invPos: Option[Int],
      nFiles: Int)

  private case class Scenario(
      seed: Long,
      colls: Seq[Coll],
      maxRows: Option[Long],
      capped: Boolean,
      maxTokRows: Int,
      prePost: Boolean,
      killColl: Int,
      killBatch: Option[Long], // -1 = inside trimTokensAt's race window
      poisonColl: Option[Int], // transient fault -> sibling cancel
      poisonTrips: Int)

  private def genScenario(seed: Long): Scenario = {
    val r = new Random(seed * 0x9e3779b97f4a7c15L + GeneratorVersion)
    // ~40% single-collection (the v1 space), ~60% multi (2-3 collections)
    val nColls = r.nextInt(5) match {
      case 0 | 1 => 1
      case 2 | 3 => 2
      case _     => 3
    }
    val colls = Seq.fill(nColls) {
      val nEvents = 200 + r.nextInt(1301)
      Coll(
        nEvents = nEvents,
        invPos = if (r.nextInt(3) == 0) Some(1 + r.nextInt(nEvents)) else None,
        nFiles = 2 + r.nextInt(9))
    }
    // a third of kills land in the trim race window (forces capped below)
    val trimKill = r.nextInt(3) == 0
    val killBatch =
      if (r.nextBoolean()) Some(if (trimKill) -1L else r.nextInt(4).toLong)
      else None
    val trimRace = killBatch.contains(-1L)
    val poison = r.nextInt(3) == 0 && nColls > 1
    Scenario(
      seed = seed,
      colls = colls,
      maxRows =
        if (trimRace) Some(50L + r.nextInt(100))
        else if (r.nextBoolean()) Some(50L + r.nextInt(400)) else None,
      capped = r.nextBoolean() || trimRace,
      maxTokRows = if (trimRace) 1 + r.nextInt(2) else 2 + r.nextInt(8),
      prePost = r.nextBoolean(),
      killColl = r.nextInt(nColls),
      killBatch = killBatch,
      poisonColl = if (poison) Some(r.nextInt(nColls)) else None,
      poisonTrips = 1 + r.nextInt(2))
  }

  /** Deterministic envelope row for token position i (1-based). */
  private def event(cl: Coll, r: Random, i: Int): ChangeEvent = {
    val op =
      if (cl.invPos.contains(i)) "invalidate" else Ops(r.nextInt(Ops.size))
    // fixed epoch base (2024-01-01T00:00:00Z) + i seconds — reproducible
    val ts = new java.sql.Timestamp(1704067200000L + i * 1000L)
    ChangeEvent(
      ChangeEventId(f"$i%012d"), op, Some(ts), Some(ts),
      Some(Ns("db", "c")),
      Some(s"""{"_id":$i}"""),
      if (op == "delete" || op == "invalidate") None
      else Some(s"""{"_id":$i,"v":${r.nextInt(1000)}}"""),
      if (op == "update" && r.nextBoolean())
        Some(s"""{"_id":$i,"v":${r.nextInt(1000)}}""")
      else None,
      if (op == "update") Some(s"""{"updatedFields":{"v":$i}}""") else None)
  }

  /** The batch replay the stream must converge to: truncate at the first
    * invalidate, the D2 pre-image mask, then the same toMessages plan the
    * runtime publishes through.
    */
  private def expectedMessages(spark: SparkSession, cfg: StreamConfig,
      input: DataFrame): DataFrame = {
    val truncated = CdcPipeline.truncateAtInvalidate(input)
    val effective =
      if (cfg.preAndPostImages) truncated
      else truncated.withColumn("fullDocumentBeforeChange",
        lit(null).cast("string"))
    CdcPipeline.toMessages(spark, cfg.resolvedStreamName)(effective).toDF()
  }

  private def runScenario(spark: SparkSession, root: String,
      sc: Scenario): (Boolean, String) = {
    import spark.implicits._
    val dir = s"$root/fz${sc.seed}"
    val cfgs = sc.colls.indices.map { ci =>
      StreamConfig(s"fz${sc.seed}c$ci", s"$dir/in$ci", s"$dir/messages$ci",
        s"$dir/tokens$ci", s"$dir/ckpt$ci",
        tokensCapped = sc.capped, tokensMaxRows = sc.maxTokRows,
        preAndPostImages = sc.prePost, maxRowsPerTrigger = sc.maxRows)
    }
    sc.colls.zipWithIndex.foreach { case (cl, ci) =>
      val r = new Random(
        sc.seed * 0x9e3779b97f4a7c15L - GeneratorVersion - 31L * ci)
      val events = (1 to cl.nEvents).map(i => event(cl, r, i))
      events.toDF()
        .repartitionByRange(cl.nFiles, col("_id").getField("_data"))
        .write.mode("overwrite").parquet(cfgs(ci).inputDir)
    }

    // Injected faults: a one-shot kill on killColl (the publish->commit
    // gap, or the trimTokensAt append->delete race window when killBatch ==
    // -1), plus an optional transiently-POISONED sibling that throws on
    // its first poisonTrips publish faultpoints -- exercising errgroup
    // fail-fast sibling cancel and restart-everyone convergence.
    val killTripped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val poisonCount = new java.util.concurrent.atomic.AtomicInteger(0)
    var killFired = false
    var poisonFired = false
    val killName = cfgs(sc.killColl).name
    val poisonName = sc.poisonColl.map(cfgs(_).name)
    // Retry-loop hygiene (ADVICE r13): only the injected markers are
    // SWALLOWED; any other exception after a trip is logged and recorded
    // in the scenario detail (a deterministic real bug that keeps a
    // stream from draining must surface its actual exception, not vanish
    // behind "stream never drained"). A non-marker exception BEFORE any
    // trip is a genuine failure and propagates immediately.
    var unexpected: Option[String] = None
    StreamingCdc.faultpoint = (name, batchId) => {
      if (name == killName && sc.killBatch.contains(batchId) &&
          killTripped.compareAndSet(false, true))
        throw new java.io.IOException(s"streamfuzz: injected kill @$batchId")
      if (poisonName.contains(name) && batchId >= 0 &&
          poisonCount.incrementAndGet() <= sc.poisonTrips)
        throw new java.io.IOException(s"streamfuzz-poison: $name @$batchId")
    }
    try {
      var attempts = 0
      var done = false
      while (!done && attempts < 8) {
        attempts += 1
        try {
          StreamingCdc.runAll(spark, cfgs, availableNow = true)
          done = true
        } catch {
          case e: Throwable =>
            val chain = Iterator.iterate[Throwable](e)(_.getCause)
              .takeWhile(_ != null).take(10).toSeq
            val isMarker = chain.exists(_.toString.contains("streamfuzz"))
            if (isMarker) {
              if (chain.exists(_.toString.contains("streamfuzz-poison")))
                poisonFired = true
              else killFired = true
            } else if (!killTripped.get() && poisonCount.get() == 0) throw e
            else {
              unexpected = Some(e.toString.take(200))
              System.err.println(
                s"[streamfuzz] seed ${sc.seed} retry $attempts " +
                  s"after NON-marker exception: $e")
            }
        }
      }
      if (!done) {
        val why = unexpected.map(u => s"; last unexpected: $u").getOrElse("")
        return (false, s""""err":${jsonStr(s"stream never drained$why")}""")
      }
    } finally StreamingCdc.faultpoint = (_, _) => ()

    // A fault anywhere in the scenario (kill or poison) aborts the whole
    // fan-out mid-flight -- SIBLING queries can be cancelled between their
    // publish and token commit, so the duplicate window is scenario-wide,
    // not per-collection.
    val anyFault = killFired || poisonFired
    val collResults = cfgs.zipWithIndex.map { case (cfg, ci) =>
      val raw = spark.read.parquet(cfg.messagesDir)
      val rawN = raw.count()
      val streamed = CdcPipeline.dedupByMsgId(raw.drop("batch_id"))
      val expected = expectedMessages(spark, cfg,
        spark.read.parquet(cfg.inputDir))
      val expN = expected.count()

      val extra = streamed.exceptAll(expected).count()
      val missing = expected.exceptAll(streamed).count()
      val setOk = extra == 0 && missing == 0
      val dupOk = rawN >= expN && (anyFault || rawN == expN)

      // order: committed batches' msgId ranges strictly increase
      val ranges = raw.groupBy(col("batch_id"))
        .agg(min(col("msgId")).as("lo"), max(col("msgId")).as("hi"))
        .orderBy(col("batch_id"))
        .select("lo", "hi").as[(String, String)].collect()
      val orderOk = ranges.sliding(2).forall {
        case Array((_, hiA), (loB, _)) => hiA < loB
        case _ => true
      }

      // token commit point (uncapped only -- see scaladoc)
      val tokOk =
        if (sc.capped || expN == 0) true
        else {
          val maxTok = spark.read.parquet(cfg.tokensDir)
            .agg(max(col("value"))).head().getString(0)
          val maxExp = expected.agg(max(col("msgId"))).head().getString(0)
          maxTok == maxExp
        }

      val pass = setOk && dupOk && orderOk && tokOk
      val cl = sc.colls(ci)
      val detail =
        s"""{"coll":$ci,"n_events":${cl.nEvents},""" +
        s""""invalidate_pos":${cl.invPos.getOrElse(-1)},""" +
        s""""n_files":${cl.nFiles},""" +
        s""""expected":$expN,"raw":$rawN,"extra":$extra,""" +
        s""""missing":$missing,"set_ok":$setOk,"dup_ok":$dupOk,""" +
        s""""order_ok":$orderOk,"token_ok":$tokOk,""" +
        s""""batches":${ranges.length},"pass":$pass}"""
      (pass, detail)
    }

    val pass = collResults.forall(_._1)
    val detail =
      s""""n_colls":${sc.colls.size},""" +
      s""""max_rows":${sc.maxRows.getOrElse(-1L)},"capped":${sc.capped},""" +
      s""""pre_post":${sc.prePost},"kill_coll":${sc.killColl},""" +
      s""""kill_batch":${sc.killBatch.getOrElse(-99L)},""" +
      s""""kill_fired":$killFired,""" +
      s""""poison_coll":${sc.poisonColl.getOrElse(-1)},""" +
      s""""poison_fired":$poisonFired,""" +
      unexpected.map(u => s""""unexpected":${jsonStr(u)},""").getOrElse("") +
      s""""colls":[${collResults.map(_._2).mkString(",")}],"pass":$pass"""
    (pass, detail)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: StreamFuzz <outJson> [n] [seed0] (outJson is required)")
    val outJson = args(0)
    val n = if (args.length > 1) args(1).toInt else 75
    val seed0 = if (args.length > 2) args(2).toLong else 1L
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val root = Files.createTempDirectory("graft-streamfuzz").toString

    val rows = (seed0 until seed0 + n).map { seed =>
      val sc = genScenario(seed)
      val (pass, detail) =
        try runScenario(spark, root, sc)
        catch {
          case e: Throwable =>
            (false, s""""err":${jsonStr(e.toString.take(300))}""")
        }
      println(s"[streamfuzz] seed $seed ${if (pass) "PASS" else "FAIL"}")
      (seed, pass, s"""{"seed":$seed,$detail}""", sc.colls.size)
    }
    val nPass = rows.count(_._2)
    val nMulti = rows.count(_._4 > 1)
    val json =
      s"""{"generator_version":$GeneratorVersion,"n":$n,"seed0":$seed0,
         |"n_pass":$nPass,"all_pass":${nPass == n},"n_multi":$nMulti,
         |"scenarios":[
         |${rows.map(_._3).mkString(",\n")}
         |]}""".stripMargin
    Files.writeString(Paths.get(outJson), json)
    println(s"[streamfuzz] $nPass/$n scenarios passed -> $outJson")
    spark.stop()
    if (nPass != n) sys.exit(2)
  }
}
