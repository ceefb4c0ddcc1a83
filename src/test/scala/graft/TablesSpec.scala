package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}

import graft.queries.Tables
import graft.streaming.ParquetIO

/** The corpus reads of `Tables`: `load` repartitions `documents` by
  * `doc_id` once, whatever the file layout, and `scan` adds no exchange.
  * Each layout holds the same sf0.1 documents (5000 rows); the queries'
  * output must not depend on the layout.
  */
class TablesSpec extends SparkSuite {
  private lazy val shipped = sf("sf0.1")

  private lazy val root = Files.createTempDirectory("graft-tables").toString

  /** A dir whose `documents.parquet` holds the shipped rows as `write`
    * lays them out at the path it is given.
    */
  private def layout(name: String)(write: (DataFrame, String) => Unit) = {
    val dir = s"$root/$name"
    write(spark.read.parquet(s"$shipped/documents.parquet"),
      s"$dir/documents.parquet")
    dir
  }

  private lazy val fourFiles =
    layout("four")((df, out) => df.repartition(4).write.parquet(out))

  /** One file, row groups capped at ~1/8 of the shipped file's bytes. */
  private lazy val eightGroups = layout("eight")((df, out) =>
    df.coalesce(1).write.option("parquet.block.size", 180000).parquet(out))

  /** One large one-row-group file plus three small files: under small
    * splits both the split and the row-group counts reach 4, yet the
    * large file's rows are read in one split.
    */
  private lazy val mixed = layout("mixed") { (df, out) =>
    df.filter("doc_id < 4000").coalesce(1).write.parquet(out)
    df.filter("doc_id >= 4000").repartition(3).write.mode("append")
      .parquet(out)
  }

  private def files(dir: String): Seq[Path] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new Path(s"$dir/documents.parquet")
    p.getFileSystem(hconf).listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
  }

  private def rowGroups(dir: String): Int = files(dir).map { f =>
    val r = ParquetIO.openFooter(f, spark.sparkContext.hadoopConfiguration)
    try r.getRowGroups.size finally r.close()
  }.sum

  private def byColExchanges(df: DataFrame): Int =
    physicalNodes(df).count {
      case e: ShuffleExchangeExec => e.shuffleOrigin == REPARTITION_BY_COL
      case _ => false
    }

  private def withConfs[T](confs: Map[String, String])(f: => T): T = {
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally confs.keys.foreach(spark.conf.unset)
  }

  private val none = Map.empty[String, String]
  private val smallSplits = Map(
    "spark.sql.files.maxPartitionBytes" -> "128k",
    "spark.sql.files.openCostInBytes" -> "4k")

  private def layouts = Seq(
    "shipped, 1 row group" -> (shipped, none),
    "4 files" -> (fourFiles, none),
    "1 file, 8 row groups, byte-packed into 1 split" -> (eightGroups, none),
    "1 row group, 5 splits, 4 of them empty" -> (shipped, smallSplits),
    "1 file, 8 row groups, 5 splits" -> (eightGroups, smallSplits),
    "1 large row group + 3 small files" -> (mixed, smallSplits))

  /** `query` adds one keyed exchange on every layout and returns the
    * shipped layout's rows on every one.
    */
  private def check(query: String): Unit = {
    val want = SparkEntry.queries(query)(spark, shipped)
      .collect().map(_.toString).toSeq
    assert(want.nonEmpty)
    for ((label, (dir, confs)) <- layouts) withConfs(confs) {
      val df = SparkEntry.queries(query)(spark, dir)
      assert(byColExchanges(df) == 1, s"$query, $label: keyed exchanges")
      assert(df.collect().map(_.toString).toSeq == want,
        s"$query, $label: rows differ")
    }
  }

  test("layout fixtures: row groups per file and Spark's planned splits") {
    assert(rowGroups(shipped) == 1)
    assert(rowGroups(fourFiles) == 4)
    assert(files(fourFiles).size == 4 && files(eightGroups).size == 1)
    assert(rowGroups(eightGroups) >= 8)
    assert(files(mixed).size == 4 && rowGroups(mixed) == 4)
    def splits(dir: String, confs: Map[String, String]) = withConfs(confs) {
      spark.read.parquet(s"$dir/documents.parquet").rdd.getNumPartitions
    }
    assert(layouts.map { case (_, (d, c)) => splits(d, c) }.take(5) ==
      Seq(1, 4, 1, 5, 5))
    assert(splits(mixed, smallSplits) >= 4)
  }

  test("load spreads documents once on every layout; scan adds no exchange") {
    check("text_repetition")
    for ((_, (dir, confs)) <- layouts) withConfs(confs) {
      assert(byColExchanges(Tables.scan(spark, dir, "documents")) == 0)
      assert(byColExchanges(Tables.load(spark, dir, "documents")) == 1)
    }
  }

  test("spread on a derived frame spreads once on every layout") {
    // decontam_overlap spreads scan(documents).filter(doc_id % 37 =!= 0)
    check("decontam_overlap")
  }
}
