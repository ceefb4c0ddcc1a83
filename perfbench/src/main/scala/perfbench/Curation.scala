package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** curation_small: a fixed list of training-data queries over a seeded
  * corpus stored as one single-row-group file per table.
  *
  * The validation pass and also warms every query shape: each
  * result is written out for the DuckDB oracle compare (run.py) and its
  * order-independent digest is observed on that same write. Every timed
  * pass then runs the list on a corpus path no earlier pass used, so a
  * result memoised per path (the BPE merge cache) cannot stand in for
  * work, and must reproduce the validation digests.
  */
object Curation {

  def workload(spark: SparkSession, a: Harness.Args,
      tr: Tracer): Map[String, Any] = {
    val corpus = Paths.get(s"${a.data}/corpus")
    def freshCopy(tag: String): String = {
      val d = Paths.get(s"${a.work}/corpus-$tag")
      Harness.linkTree(corpus, d)
      d.toString
    }
    val errors = mutable.LinkedHashMap.empty[String, String]
    val digests = mutable.LinkedHashMap.empty[String, String]
    val validateS = mutable.LinkedHashMap.empty[String, Double]
    tr.span(spark, "curation_small", "workload") {
      val vdir = freshCopy("validate")
      tr.span(spark, "validate", "phase") {
        a.queries.foreach { q =>
          val t0 = System.nanoTime()
          try tr.span(spark, q, "unit") {
            val df = SparkEntry.queries(q)(spark, vdir)
            val obs = new Observation(s"pb-$q")
            df.observe(obs, count(lit(1)).as("n"),
              bit_xor(xxhash64(Harness.digestCols(df): _*)).as("x"))
              .write.mode("overwrite").parquet(s"${a.work}/out/$q")
            val r = obs.get
            digests(q) = s"${r("n")}:${Option(r("x")).getOrElse(0L)}"
          } catch {
            case e: Throwable => errors(q) = e.toString.take(300)
          }
          validateS(q) = (System.nanoTime() - t0) / 1e9
        }
      }
    }
    Harness.log("validation pass done")
    val timed = a.queries.filterNot(errors.contains)
    val passes = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.LinkedHashMap.empty[String, List[Double]]
      .withDefaultValue(Nil)
    var mismatches = 0L
    /** One timed pass on a fresh corpus path; per-query seconds. */
    def pass(tag: String): Seq[(String, Double)] = {
      val dir = freshCopy(tag)
      tr.span(spark, s"pass $tag", "phase") {
        timed.map { q =>
          val (d, s) = Harness.seconds(tr.span(spark, q, "unit") {
            try Harness.digest(SparkEntry.queries(q)(spark, dir))
            catch { case e: Throwable => e.toString.take(300) }
          })
          if (d != digests(q)) {
            mismatches += 1
            errors(s"$q#$tag") = s"digest $d != ${digests(q)}"
          }
          q -> s
        }
      }
    }
    // one more untimed pass: JIT compilation is still settling after the
    // validation pass
    tr.span(spark, "warm-up", "phase")(pass("warm"))
    val w0 = tr.nowMs
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    tr.span(spark, "curation_small timed", "workload") {
      // at least three passes, then another only if it is expected to end
      // by the deadline
      while (passes.size < 3 ||
          System.nanoTime() + Harness.median(passes.toSeq) * 1e9 <= deadline) {
        val qs = pass(s"p${passes.size}")
        qs.foreach { case (q, s) => perQuery(q) = s :: perQuery(q) }
        passes += qs.map(_._2).sum
      }
    }
    val w1 = tr.nowMs
    Harness.log(s"${passes.size} timed passes")
    // tracing overhead: one more pass with tracing off
    val untraced = if (!a.trace) Nil
      else Seq(tr.untraced(spark)(pass("untraced")).map(_._2).sum)
    Map("unit_s" -> passes.toSeq,
      "attempted" ->
        (a.queries.size + timed.size * (1 + passes.size + untraced.size)).toLong,
      "untraced_unit_s" -> untraced,
      "failed" -> (a.queries.count(errors.contains) + mismatches).toLong,
      "errors" -> errors,
      "digests" -> digests,
      "validate_s" -> validateS,
      "query_s" -> perQuery.map { case (q, xs) => q -> Harness.median(xs) },
      "input_bytes" -> java.nio.file.Files.list(corpus).toArray.map(p =>
        java.nio.file.Files.size(p.asInstanceOf[java.nio.file.Path])).sum,
      "oracle_sql" -> a.queries.flatMap(q =>
        SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
      "window" -> Seq(w0, w1))
  }
}
