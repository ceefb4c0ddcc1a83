package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Driver-visible streaming-correctness artifact (VERDICT r9 #8): the
  * streaming twins (CDC publish/commit, gap-sessionization, heavy
  * hitters, near-dedup, consumer state view) are pinned in their specs on
  * constructed fixtures — this main re-proves their batch parity on the
  * ROUND'S real testdata at bench scale and emits one JSON file, so each
  * round's artifacts capture streaming correctness the way
  * CORRECTNESS_r{N}.json captures batch.
  *
  * Every twin additionally runs a planted mid-stream kill + restart
  * (VERDICT r11 #6 — the reference's layer-4 fault-injection matrix,
  * the restart_*_test.go files under test/faultinjection, restarts every
  * component and asserts
  * the invariant still holds): the kill must SURFACE (the run fails, not
  * hangs or swallows), and the restarted run must converge to the same
  * batch-parity answer through each twin's replay guard.
  *
  * Usage: sbt "runMain graft.StreamingReport [sfDir] [outFile]"
  * (defaults: /root/testdata/sf0.1, STREAMING_report.json)
  */
object StreamingReport {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outFile = if (args.length > 1) args(1) else "STREAMING_report.json"
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft-sr").toString
    val events = graft.queries.Tables.load(spark, sfDir, "events")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sections = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var allPass = true
    def section(name: String, json: String, pass: Boolean): Unit = {
      sections(name) = json
      allPass &&= pass
      println(s"[streaming-report] $name: ${if (pass) "PASS" else "FAIL"}")
    }

    // ---- 1. CDC publish + token commit, N=2 collections concurrently --
    // The reference's defining orchestration (C1, connector.go:128-174)
    // is N concurrent watches: split events into two "collections" by
    // user_id parity, run ONE runAll fan-out over both DSv2 change-stream
    // configs, then assert PER COLLECTION: exactly-once after consumer
    // dedup (= the batch publishable count) and publish ORDER (the
    // per-batch msgId ranges must be disjoint and increasing in batch_id
    // — per-collection order is the reference's delivery contract;
    // maxRowsPerTrigger forces ≥3 micro-batches so the check has teeth).
    locally {
      val splits = Seq(
        ("coll_a", col("user_id") % 2 === 0),
        ("coll_b", col("user_id") % 2 === 1))
      val cfgs = splits.map { case (nm, cond) =>
        graft.operators.EventsCdc.toEnvelopes(events.filter(cond))
          .repartitionByRange(16, col("_id").getField("_data"))
          .write.mode("overwrite").parquet(s"$root/in-$nm")
        val rows = spark.read.parquet(s"$root/in-$nm").count()
        graft.streaming.StreamingCdc.StreamConfig(
          nm, s"$root/in-$nm", s"$root/messages-$nm", s"$root/tokens-$nm",
          s"$root/ckpt-$nm", maxRowsPerTrigger = Some(math.max(1L, rows / 3)))
      }
      val cnt = splits.map { case (nm, _) =>
        spark.read.parquet(s"$root/in-$nm").count() }.sum
      val t0 = System.nanoTime()
      graft.streaming.StreamingCdc.runAll(spark, cfgs, availableNow = true)
      val sec = (System.nanoTime() - t0) / 1e9
      var pass = true
      val per = splits.map { case (nm, cond) =>
        val raw = spark.read.parquet(s"$root/messages-$nm")
        val published = raw.count()
        val distinctMsgs = graft.operators.CdcPipeline
          .dedupByMsgId(raw.drop("batch_id")).count()
        val expected = events
          .filter(cond && col("event_type") =!= "error").count()
        // order: consecutive batches' [min,max] msgId ranges are disjoint
        // and increasing (msgIds are monotone resume tokens)
        val ranges = raw.groupBy(col("batch_id"))
          .agg(min(col("msgId")).as("mn"), max(col("msgId")).as("mx"))
          .orderBy(col("batch_id"))
          .collect().map(r => (r.getString(1), r.getString(2)))
        val rangesIncreasing = ranges.sliding(2).forall {
          case Array((_, mxPrev), (mnNext, _)) => mxPrev < mnNext
          case _ => true
        }
        // The >=3-batches teeth only make sense when the input can YIELD
        // 3 batches of published messages: a tiny sfDir (sfDir is a CLI
        // arg) may publish <3 events per collection, where demanding 3
        // batches would fail spuriously — degrade to an explicit skip
        // that still checks ordering on whatever batches exist (ADVICE
        // r11).
        val multiBatchCheckable = expected >= 3
        val ordered = rangesIncreasing &&
          (!multiBatchCheckable || ranges.length >= 3)
        val ok = distinctMsgs == expected && ordered
        pass &&= ok
        s""""$nm":{"published":$published,""" +
          s""""published_distinct":$distinctMsgs,"expected":$expected,""" +
          s""""batches":${ranges.length},"ordered":$ordered,""" +
          s""""multi_batch_check":"${
            if (multiBatchCheckable) "enforced" else "skipped_small_input"}",""" +
          s""""exactly_once":${distinctMsgs == expected}}"""
      }
      // section 5 (consumer state view) reads the combined publish log
      splits.foreach { case (nm, _) =>
        spark.read.parquet(s"$root/messages-$nm")
          .write.mode("append").parquet(s"$root/messages") }
      // Planted mid-stream kill + restart (VERDICT r11 #6; the
      // reference's layer-4 restart matrix, test/faultinjection/
      // restart_*_test.go): same coll_a input, fresh dirs, a one-shot
      // fault in batch >=1 between publish (K1) and token commit (K2).
      // The first run must FAIL (kill surfaced); the restart resumes from
      // the checkpoint, replays the uncommitted batch (observable raw
      // duplicates — the reference's documented at-least-once window),
      // and the msgId-distinct view still equals the batch publishable
      // count exactly.
      locally {
        val inA = s"$root/in-coll_a"
        val rowsA = spark.read.parquet(inA).count()
        val rsCfg = graft.streaming.StreamingCdc.StreamConfig(
          "coll_a_rs", inA, s"$root/messages-rs", s"$root/tokens-rs",
          s"$root/ckpt-rs", maxRowsPerTrigger = Some(math.max(1L, rowsA / 3)))
        var armed = true
        graft.streaming.StreamingCdc.faultpoint = (nm, bid) =>
          if (nm == "coll_a_rs" && bid >= 1 && armed) {
            armed = false
            throw new RuntimeException("planted publish fault (restart probe)")
          }
        val crashed = scala.util.Try(graft.streaming.StreamingCdc
          .runAll(spark, Seq(rsCfg), availableNow = true)).isFailure
        graft.streaming.StreamingCdc.faultpoint = (_, _) => ()
        graft.streaming.StreamingCdc.runAll(spark, Seq(rsCfg),
          availableNow = true)
        val raw = spark.read.parquet(s"$root/messages-rs")
        val distinctMsgs = graft.operators.CdcPipeline
          .dedupByMsgId(raw.drop("batch_id")).count()
        val expected = events.filter(
          col("user_id") % 2 === 0 && col("event_type") =!= "error").count()
        val ok = crashed && distinctMsgs == expected
        pass &&= ok
        sections("cdc_restart") =
          s"""{"kill_surfaced":$crashed,"raw_published":${raw.count()},""" +
            s""""distinct_after_replay":$distinctMsgs,""" +
            s""""expected":$expected,"recovered":${distinctMsgs == expected}}"""
        println(s"[streaming-report] cdc_restart: ${if (ok) "PASS" else "FAIL"}")
      }
      section("cdc",
        s"""{"collections":2,"events":$cnt,""" +
          s""""events_per_sec":${cnt / sec},${per.mkString(",")}}""",
        pass)
    }

    // ---- 2. Gap-sessionization (flatMapGroupsWithState) ---------------
    // Stream the whole events table plus one far-future sentinel per
    // user; once the watermark passes the sentinels, every REAL session
    // has closed (sentinel sessions stay open and are withheld). The
    // closed set must equal the batch session_window query bit-exactly.
    locally {
      val ev3 = events.select(col("user_id"), col("ts"), col("value"))
      val bounds = ev3.agg(max(col("ts")).as("mx"),
        min(col("ts")).as("mn")).head()
      val maxTs = bounds.getTimestamp(0)
      val midTs = new java.sql.Timestamp(
        (bounds.getTimestamp(1).getTime + maxTs.getTime) / 2)
      // sentinel = max_ts + gap(1d) + span-cover delay margin (31d)
      val sentinelTs = new java.sql.Timestamp(
        maxTs.getTime + 32L * 86400000L)
      // Two arrival phases with a mid-stream checkpoint restart (VERDICT
      // r11 #6): phase 1 = first half by event time, then the query is
      // STOPPED; phase 2 appends the rest plus the sentinels and a fresh
      // query resumes from the same checkpoint. The open-session state
      // must survive the restart: the union of emissions across both
      // query incarnations equals the batch session_window query
      // bit-exactly with no re-emission.
      ev3.filter(col("ts") <= midTs)
        .write.mode("overwrite").parquet(s"$root/sess-in")
      val schema = ev3.schema
      def runSess(): Unit = {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "100000").parquet(s"$root/sess-in")
        // watermark delay covers the fixture's full span, so intra-batch
        // arrival order can never drop a real event as late; the final
        // watermark (sentinel − delay) still clears every real close point
        val q = graft.streaming.StreamingSessionization
          .sessions(spark, stream, gap = "1 day", watermarkDelay = "30 days")
          .writeStream
          .foreachBatch((d: org.apache.spark.sql.Dataset[
              graft.streaming.StreamingSessionization.SessionRow], _: Long) =>
            d.write.mode("append").parquet(s"$root/sess-log"))
          .option("checkpointLocation", s"$root/sess-ckpt")
          .outputMode("append").start()
        q.processAllAvailable()
        q.stop()
      }
      runSess()
      val phase1Emitted = scala.util.Try(
        spark.read.parquet(s"$root/sess-log").count()).getOrElse(0L)
      ev3.filter(col("ts") > midTs)
        .write.mode("append").parquet(s"$root/sess-in")
      ev3.select(col("user_id")).distinct()
        .select(col("user_id"), lit(sentinelTs).as("ts"),
          lit(0.0).as("value"))
        .coalesce(1).write.mode("append").parquet(s"$root/sess-in")
      runSess()
      val log = spark.read.parquet(s"$root/sess-log")
      val got = log
        .select(col("user_id"), col("session_start"), col("n"),
          col("sum_value"))
        .collect().map(_.toSeq).toSet
      val want = graft.queries.AnalyticsQueries
        .queries("events_session_windows")(spark, sfDir)
        .collect().map(_.toSeq).toSet
      val dupFree = got.size == log.count()
      section("sessionization",
        s"""{"streamed_closed":${got.size},"batch_sessions":${want.size},""" +
          s""""phase1_emitted":$phase1Emitted,"restart":true,""" +
          s""""exactly_once":$dupFree,"match":${got == want}}""",
        got == want && dupFree)
    }

    // ---- 3. Streaming heavy hitters (Misra-Gries + recount) -----------
    locally {
      val in = docs.select(col("doc_id"), col("text"),
        lit(new java.sql.Timestamp(0L)).as("ingest_ts"))
      in.repartition(8).write.mode("overwrite").parquet(s"$root/hh-in")
      // Planted mid-stream kill + restart (VERDICT r11 #6): one-shot
      // crash in batch 1 with the batch consumed but its generation
      // uncommitted; the restart replays exactly that batch (replay
      // guard: generation presence) and the final summary must be
      // indistinguishable from an uninterrupted run.
      var hhArmed = true
      graft.streaming.StreamingHeavyHitters.faultpoint = id =>
        if (id == 1L && hhArmed) {
          hhArmed = false
          throw new RuntimeException("planted heavy-hitters fault")
        }
      val hhCrashed = scala.util.Try(
        graft.streaming.StreamingHeavyHitters.runOnce(spark, s"$root/hh-in",
          s"$root/hh-sum", s"$root/hh-ckpt", capacity = 512,
          maxFilesPerTrigger = 2)).isFailure
      graft.streaming.StreamingHeavyHitters.faultpoint = _ => ()
      graft.streaming.StreamingHeavyHitters.runOnce(spark, s"$root/hh-in",
        s"$root/hh-sum", s"$root/hh-ckpt", capacity = 512,
        maxFilesPerTrigger = 2)
      val cand = graft.streaming.StreamingHeavyHitters
        .summary(spark, s"$root/hh-sum")
        .select("token").as[String].collect().toSeq
      val tk = docs.select(explode(split(col("text"), " ")).as("tok"))
      val n = tk.count()
      val streamed = tk.filter(col("tok").isin(cand: _*))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 256 >= n)
        .orderBy(col("cnt").desc, col("tok"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val want = graft.queries.TextQueries
        .queries("text_heavy_hitters")(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      section("heavy_hitters",
        s"""{"summary_candidates":${cand.size},""" +
          s""""heavy_hitters":${streamed.size},""" +
          s""""kill_surfaced":$hhCrashed,"restart":true,""" +
          s""""match":${streamed == want}}""",
        streamed == want && streamed.nonEmpty && hhCrashed)
    }

    // ---- 4. Streaming near-dedup (band index over arrivals) -----------
    // Three arrival slices by doc_id; the streamed pair log must equal
    // the batch incremental operator probed slice-by-slice.
    locally {
      graft.functions.TextHashes.register(spark)
      val ids = docs.select(col("doc_id")).orderBy(col("doc_id"))
        .as[Long].collect()
      val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
      val slices = Seq(
        docs.filter(col("doc_id") <= cuts(0)),
        docs.filter(col("doc_id") > cuts(0) && col("doc_id") <= cuts(1)),
        docs.filter(col("doc_id") > cuts(1)))
      var expected = Set.empty[(Long, Long)]
      var indexedSoFar: Option[DataFrame] = None
      var ndCrashed = false
      for ((slice, si) <- slices.zipWithIndex) {
        val s3 = slice.select(col("doc_id"), col("text"),
          lit(new java.sql.Timestamp(0L)).as("ingest_ts"))
        val deltaIdx = graft.operators.IncrementalDedup.buildIndex(s3)
        indexedSoFar.foreach { idx =>
          expected ++= graft.operators.IncrementalDedup
            .probe(idx, deltaIdx, cap = 50)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
        }
        indexedSoFar = Some(indexedSoFar
          .map(_.unionByName(deltaIdx)).getOrElse(deltaIdx)
          .localCheckpoint())
        s3.coalesce(1).write.mode("append").parquet(s"$root/nd-in")
        // Planted mid-stream kill + restart on the SECOND slice (VERDICT
        // r11 #6): the fault lands between the pair append and the index
        // commit — the restart replays the batch (pairs re-append into
        // the duplicate window the pairsView collapses) and the final
        // pair set must still equal the batch incremental operator's.
        if (si == 1) {
          var armed = true
          graft.streaming.StreamingNearDedup.faultpoint = _ =>
            if (armed) {
              armed = false
              throw new RuntimeException("planted near-dedup fault")
            }
          ndCrashed = scala.util.Try(
            graft.streaming.StreamingNearDedup.runOnce(spark, s"$root/nd-in",
              s"$root/nd-pairs", s"$root/nd-index", s"$root/nd-ckpt"))
            .isFailure
          graft.streaming.StreamingNearDedup.faultpoint = _ => ()
        }
        graft.streaming.StreamingNearDedup.runOnce(spark, s"$root/nd-in",
          s"$root/nd-pairs", s"$root/nd-index", s"$root/nd-ckpt")
      }
      val got = graft.streaming.StreamingNearDedup
        .pairsView(spark, s"$root/nd-pairs")
        .select("delta_id", "base_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      section("near_dedup",
        s"""{"streamed_pairs":${got.size},""" +
          s""""batch_pairs":${expected.size},""" +
          s""""kill_surfaced":$ndCrashed,"restart":true,""" +
          s""""match":${got == expected}}""",
        got == expected && got.nonEmpty && ndCrashed)
    }

    // ---- 5. Consumer state view over the published CDC stream ---------
    locally {
      val msgsDir = s"$root/messages"
      // Planted mid-stream kill + restart (VERDICT r11 #6): the one-shot
      // throw lands AFTER the state-log append, BEFORE the epoch commit —
      // the restart replays that batch and re-appends its rows. The
      // last-state view below reads through max(struct(...)), which is
      // duplicate-insensitive by construction, so the final live-key set
      // must still equal the batch stateView exactly.
      var svArmed = true
      def runStateView(): Unit = {
        val src = spark.readStream
          .schema(spark.read.parquet(msgsDir).schema)
          .option("maxFilesPerTrigger", "2").parquet(msgsDir)
        val q = graft.streaming.StreamingStateView.stateView(spark, src)
          .writeStream.outputMode("update")
          .foreachBatch((d: org.apache.spark.sql.Dataset[
              graft.streaming.StreamingStateView.StateRow], bid: Long) => {
            d.write.mode("append").parquet(s"$root/state-log")
            if (bid >= 1 && svArmed) {
              svArmed = false
              throw new RuntimeException("planted state-view fault")
            }
          })
          .option("checkpointLocation", s"$root/state-ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val svCrashed = scala.util.Try(runStateView()).isFailure
      runStateView()
      val last = spark.read.parquet(s"$root/state-log")
        .groupBy(col("stream"), col("key"))
        .agg(max(struct(col("last_msg_id"), col("last_op"),
          col("live"))).as("s"))
        .select(col("stream"), col("key"), col("s.last_msg_id"),
          col("s.last_op"), col("s.live"))
      val gotLive = last.filter(col("live"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getString(2), r.getString(3))).toSet
      val want = graft.operators.CdcPipeline
        .stateView(spark.read.parquet(msgsDir))
        .collect().map(r => (r.getAs[String]("stream"),
          r.getAs[String]("key"), r.getAs[String]("last_msg_id"),
          r.getAs[String]("last_op"))).toSet
      section("state_view",
        s"""{"live_keys":${gotLive.size},"batch_keys":${want.size},""" +
          s""""kill_surfaced":$svCrashed,"restart":true,""" +
          s""""match":${gotLive == want}}""",
        gotLive == want && gotLive.nonEmpty && svCrashed)
    }

    // ---- 5b. Streaming semantic decontamination (arrival-sliced) -------
    // Corpus shards arrive in three slices; each micro-batch probes the
    // persisted eval bucket index and publishes its contaminated vectors.
    // The streamed union must equal the batch decontam_semantic query on
    // the full corpus — valid whenever no LSH bucket exceeds the caps
    // (asserted below; see StreamingDecontam's parity contract).
    locally {
      import graft.queries.{CurationQueries, DedupQueries}
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val m = CurationQueries.DecontamMod
      val planes = DedupQueries.lshPlanes(spark, sfDir)
      val tables = DedupQueries.LshTables
      val cap = graft.operators.CandidatePairs.VecBucketCap
      // parity precondition: no bucket over the cap on the FULL corpus
      val maxOcc = emb.select(
          posexplode(expr(s"lsh_buckets(embedding, $tables, $planes)"))
            .as(Seq("t", "b")))
        .groupBy(col("t"), col("b")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head().getLong(0)
      graft.streaming.StreamingDecontam.indexEval(spark,
        emb.filter(col("vec_id") % m === 0), s"$root/dc-idx", tables, planes)
      val corpus = emb.filter(col("vec_id") % m =!= 0)
      val ids = corpus.select(col("vec_id")).orderBy(col("vec_id"))
        .collect().map(_.getLong(0))
      val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
      val slices = Seq(
        corpus.filter(col("vec_id") <= cuts(0)),
        corpus.filter(col("vec_id") > cuts(0) && col("vec_id") <= cuts(1)),
        corpus.filter(col("vec_id") > cuts(1)))
      var dcCrashed = false
      for ((slice, si) <- slices.zipWithIndex) {
        slice.coalesce(1).write.mode("append").parquet(s"$root/dc-in")
        // Planted mid-stream kill + restart on the SECOND slice (VERDICT
        // r11 #6): the fault lands between the contamination publish and
        // the ledger commit; the restart replays the batch (the ledger
        // guard + contamView make the replay idempotent) and the final
        // streamed set must still satisfy the batch-parity contract.
        if (si == 1) {
          var armed = true
          graft.streaming.StreamingDecontam.faultpoint = _ =>
            if (armed) {
              armed = false
              throw new RuntimeException("planted decontam fault")
            }
          dcCrashed = scala.util.Try(
            graft.streaming.StreamingDecontam.runOnce(spark, s"$root/dc-in",
              s"$root/dc-out", s"$root/dc-ledger", s"$root/dc-idx",
              s"$root/dc-ckpt", tables, planes, capEval = cap,
              cosMin = CurationQueries.DecontamCosMin.toDouble)).isFailure
          graft.streaming.StreamingDecontam.faultpoint = _ => ()
        }
        graft.streaming.StreamingDecontam.runOnce(spark, s"$root/dc-in",
          s"$root/dc-out", s"$root/dc-ledger", s"$root/dc-idx",
          s"$root/dc-ckpt", tables, planes, capEval = cap,
          cosMin = CurationQueries.DecontamCosMin.toDouble)
      }
      val got = graft.streaming.StreamingDecontam
        .contamView(spark, s"$root/dc-out")
        .select(col("vec_id"), col("eval_id"), col("cos"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val want = graft.queries.CurationQueries
        .queries("decontam_semantic")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      // Contract (see StreamingDecontam's scaladoc): eval occupancy ≤
      // combined occupancy, so a bucket the stream drops was dropped by
      // the batch query too — the stream can only find MORE. Under the
      // no-overfull-bucket precondition the two are bit-equal (the spec
      // pins that regime); when the batch's combined cap binds (true at
      // sf0.1: max occupancy above the cap), the pass criterion is
      // dominance — every batch-contaminated vector is streamed-
      // contaminated with at-least-equal best cosine.
      val exact = maxOcc <= cap
      val gotBest = got.groupBy(_._1).map { case (v, rs) =>
        v -> rs.map(_._3).max }
      val dominated = want.forall { case (v, _, c) =>
        gotBest.get(v).exists(_ >= c) }
      val pass =
        if (exact) got == want else dominated && got.size >= want.size
      section("decontam",
        s"""{"streamed_contaminated":${got.size},""" +
          s""""batch_contaminated":${want.size},""" +
          s""""max_bucket_occupancy":$maxOcc,"bucket_cap":$cap,""" +
          s""""parity_mode":"${if (exact) "exact" else "dominance"}",""" +
          s""""kill_surfaced":$dcCrashed,"restart":true,""" +
          s""""match":$pass}""",
        pass && got.nonEmpty && dcCrashed)
    }

    // ---- 6. Sibling-cancel probe (C1 errgroup semantics) ---------------
    // One slow collection (24 single-file micro-batches) runs beside a
    // poisoned one (faultpoint throws in its second batch, after publish,
    // before token commit — the reference's fault-injection seam). The
    // first hard failure must cancel the slow sibling mid-stream: runAll
    // surfaces the failure, the poisoned query records an exception, and
    // the slow collection commits strictly fewer batches than its input
    // holds.
    locally {
      import graft.streaming.StreamingCdc
      val slowIn = s"$root/sc-slow-in"; val poisonIn = s"$root/sc-poison-in"
      graft.operators.EventsCdc.toEnvelopes(
          events.filter(col("user_id") % 2 === 0))
        .repartitionByRange(24, col("_id").getField("_data"))
        .write.mode("overwrite").parquet(slowIn)
      graft.operators.EventsCdc.toEnvelopes(
          events.filter(col("user_id") % 2 === 1).limit(400))
        .repartitionByRange(4, col("_id").getField("_data"))
        .write.mode("overwrite").parquet(poisonIn)
      val slowCfg = StreamingCdc.StreamConfig("sc_slow", slowIn,
        s"$root/sc-slow-msgs", s"$root/sc-slow-tokens", s"$root/sc-slow-ckpt",
        maxRowsPerTrigger = Some(1L))
      val poisonCfg = StreamingCdc.StreamConfig("sc_poison", poisonIn,
        s"$root/sc-poison-msgs", s"$root/sc-poison-tokens",
        s"$root/sc-poison-ckpt", maxRowsPerTrigger = Some(1L))
      StreamingCdc.faultpoint = (nm, batchId) =>
        if (nm == "sc_poison" && batchId >= 1)
          throw new RuntimeException("planted publish fault (report probe)")
      val outcome = scala.util.Try(
        StreamingCdc.runAll(spark, Seq(slowCfg, poisonCfg),
          availableNow = true))
      StreamingCdc.faultpoint = (_, _) => ()
      val slowCommitted = spark.read.parquet(s"$root/sc-slow-tokens").count()
      val failed = outcome.isFailure
      val cancelled = slowCommitted < 24
      section("sibling_cancel",
        s"""{"poison_failure_surfaced":$failed,""" +
          s""""slow_batches_committed":$slowCommitted,""" +
          s""""slow_batches_total":24,"cancelled_mid_stream":$cancelled}""",
        failed && cancelled)
    }

    val body = sections.map { case (k, v) => s""""$k":$v""" }
      .mkString(",")
    val line = s"""{"sf":"$sfDir","all_pass":$allPass,$body}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
    if (!allPass) sys.exit(2)
  }
}
