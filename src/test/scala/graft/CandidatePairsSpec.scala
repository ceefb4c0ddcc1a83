package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.CandidatePairs
import graft.queries.DedupQueries

/** The candidate-pair operator against brute force: both shapes return
  * exactly the i<j pairs of every bucket with 2..cap members, for a bigint
  * and for a struct member, and observe exactly what the cap dropped.
  */
class CandidatePairsSpec extends SparkSuite {

  private val cap = 5
  // bucket key -> size: a singleton, a pair, a full bucket, one over cap
  private val sizes = Seq(1L -> 1, 2L -> 2, 3L -> cap, 4L -> (cap + 1))

  /** (k, id, w): ids unique across buckets, w a payload riding the id. */
  private lazy val rows: DataFrame = {
    import spark.implicits._
    sizes.flatMap { case (k, n) => (0 until n).map(i => (k, k * 100 + i)) }
      .toDF("k", "id").withColumn("w", col("id") * 7)
  }

  private val expected: Seq[(Long, Long)] = sizes
    .filter { case (_, n) => n >= 2 && n <= cap }
    .flatMap { case (k, n) =>
      val ids = (0 until n).map(k * 100 + _)
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    }.sorted

  private def dropped(df: DataFrame, label: String): Row =
    df.queryExecution.observedMetrics.collectFirst {
      case (name, row) if name.startsWith(s"graft_dropped_${label}_") => row
    }.getOrElse(fail(s"no graft_dropped_$label observation"))

  private def check(shape: String,
      pairs: (DataFrame, String, org.apache.spark.sql.Column) => DataFrame)
      : Unit = {
    val label = s"spec_$shape"
    val longPairs = pairs(rows, label, col("id"))
      .select(col("p.doc_a"), col("p.doc_b"))
    val structPairs = pairs(rows, label, struct("id", "w"))
      .select(col("p.a.id"), col("p.b.id"), col("p.a.w"), col("p.b.w"))
    val got = longPairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq.sorted == expected, s"$shape, bigint member")
    val gotS = structPairs.collect()
    assert(gotS.map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ==
      expected, s"$shape, struct member")
    assert(gotS.forall(r => r.getLong(2) == r.getLong(0) * 7 &&
      r.getLong(3) == r.getLong(1) * 7), s"$shape: payload rides its id")
    Seq(longPairs, structPairs).foreach { df =>
      val m = dropped(df, label)
      assert(m.getAs[Long]("dropped_buckets") == 1L)
      assert(m.getAs[Long]("dropped_postings") == cap + 1L)
      assert(m.getAs[Long]("total_buckets") == sizes.size.toLong)
    }
  }

  test("collected: exactly the brute-force i<j pairs of each 2..cap " +
      "bucket, bigint and struct members, with the exact dropped mass") {
    check("collected", (df, label, member) =>
      CandidatePairs.collected(df, label, Seq("k"), member, cap))
  }

  test("prefiltered: the same pairs and the same dropped mass, counted " +
      "before the members are collected") {
    check("prefiltered", (df, label, member) =>
      CandidatePairs.prefiltered(df, label, Seq("k"), member, cap))
  }

  test("a member that is neither bigint nor struct is refused") {
    intercept[IllegalArgumentException](CandidatePairs.collected(rows,
      "spec_bad", Seq("k"), col("id").cast("string"), cap))
  }

  test("the drop logger is registered once per session, however often " +
      "generators are built and however many sessions ask") {
    val other = spark.newSession()
    Seq(spark, other).foreach { s =>
      (1 to 3).foreach(_ => CandidatePairs.ensureListener(s))
      val ls = s.listenerManager.getClass.getMethod("listListeners")
        .invoke(s.listenerManager)
        .asInstanceOf[Array[org.apache.spark.sql.util.QueryExecutionListener]]
      assert(ls.count(_ eq CandidatePairs.DropLogger) == 1)
    }
  }

  test("the LSH plane count follows a corpus rewritten at the same path " +
      "(2048 vectors size 6 planes, 2049 size 7)") {
    val dir = Files.createTempDirectory("graft-planes").toString
    def write(n: Long): Unit = spark.range(n).toDF("vec_id").write
      .mode("overwrite").parquet(s"$dir/embeddings.parquet")
    write(2048)
    assert(DedupQueries.lshPlanes(spark, dir) == 6)
    write(2049)
    assert(DedupQueries.lshPlanes(spark, dir) == 7)
  }
}

/** Source rule: the pair kernels are exploded only by the candidate-pair
  * operator, so a capped generator cannot hand-roll its own bucket cap
  * again. Two generators keep their own pair path: `dedup_prefix_pairs`
  * is exact and uncapped (its pair-mass refusal is its bound), and
  * `pairStats` keeps singleton buckets for its set sizes.
  */
class CandidatePairsRuleSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val exempt = Set("dedup_prefix_pairs", "pairStats")
  // a query entry of a registry map, or a member def of an object
  private val owner =
    """^(?:    "(\w+)" ->|  (?:private(?:\[\w+\])? )?def (\w+))""".r.unanchored

  test("struct_pairs( and ordered_pairs( appear in queries/, operators/ " +
      "and streaming/ only inside CandidatePairs and the two exempt " +
      "generators") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = Seq("queries", "operators", "streaming").flatMap { d =>
      val s = java.nio.file.Files.list(root.resolve(d))
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      finally s.close()
    }.filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "CandidatePairs.scala")
    assert(files.exists(_.getFileName.toString == "DedupQueries.scala"))
    val offenders = files.flatMap { f =>
      var current = ""
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.flatMap {
        case (line, i) =>
          line match {
            case owner(q, d) => current = Option(q).getOrElse(d)
            case _ =>
          }
          if ((line.contains("struct_pairs(") ||
              line.contains("ordered_pairs(")) && !exempt(current))
            Some(s"${f.getFileName}:${i + 1} ($current)")
          else None
      }.toList
    }
    assert(offenders.isEmpty,
      s"pair kernels outside graft.operators.CandidatePairs: $offenders")
  }
}
