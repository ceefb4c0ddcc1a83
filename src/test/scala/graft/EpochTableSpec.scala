package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import graft.streaming.{Ddl, EpochTable, StreamingCdc}

/** EpochTable: the footer-decided replay guard agrees with the Spark
  * filter it replaces on every table shape the runtime leaves behind, and
  * decides without a Spark job wherever the footers can.
  */
class EpochTableSpec extends SparkSuite {

  private val schema = StreamingCdc.tokenSchema

  private def row(b: Long) = Row(b, f"${b * 10}%06d", 1L)

  /** A table with the ensureTable seed, single-batch parts, the given
    * multi-batch part and a leftover in-progress temp of a crashed write.
    */
  private def table(singles: Seq[Long], compacted: Seq[Long]): String = {
    val dir = Files.createTempDirectory("graft-epoch").toString
    Ddl.ensureTable(spark, dir, schema)
    singles.foreach(b =>
      EpochTable.writeRows(spark, dir, b, schema, Seq(row(b))))
    if (compacted.nonEmpty)
      EpochTable.writeRows(spark, dir, compacted.max, schema,
        compacted.map(row))
    Files.write(new java.io.File(dir,
      ".part-99-deadbeef.snappy.parquet.inprogress").toPath,
      Array[Byte](0x50, 0x41, 0x52))
    dir
  }

  /** A part written with column statistics disabled. */
  private def noStatsPart(dir: String, batches: Seq[Long]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val t = new org.apache.spark.sql.execution.datasources.parquet
      .SparkToParquetSchemaConverter().convert(schema)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new Path(dir, "part-nostats.parquet"), conf))
      .withType(t).withConf(conf).withStatisticsEnabled(false).build()
    try batches.foreach { b =>
      val g = new SimpleGroup(t)
      g.add("batch_id", b)
      g.add("n_published", 1L)
      w.write(g)
    } finally w.close()
  }

  private def sparkFilter(dir: String, b: Long): Boolean =
    !spark.read.parquet(dir).filter(col("batch_id") === b).isEmpty

  /** `committed` equals the Spark filter for every b in -1..11, and the
    * b's in `decided` cost no Spark job.
    */
  private def check(dir: String, decided: Long => Boolean): Unit = {
    val bs = (-1L to 11L).toList
    val want = bs.map(b => b -> sparkFilter(dir, b)).toMap
    val (footer, fallback) = bs.partition(decided)
    var got = Map.empty[Long, Boolean]
    val jobs = jobsByBatch {
      footer.foreach(b => got += b -> EpochTable.committed(spark, dir, b))
    }
    assert(jobs.values.sum == 0, s"footer-decided answers ran jobs: $jobs")
    fallback.foreach(b => got += b -> EpochTable.committed(spark, dir, b))
    assert(got == want)
  }

  test("committed agrees with the Spark filter on single-batch parts, the " +
      "zero-row ensureTable seed and a leftover .inprogress temp, without " +
      "a Spark job") {
    val dir = table(Seq(0L, 1L, 2L, 5L), Nil)
    check(dir, _ => true)
    assert(EpochTable.parts(spark, dir).map(_.rows).sorted ==
      Seq(0L, 1L, 1L, 1L, 1L))
  }

  test("committed inside a compacted multi-batch range falls back to the " +
      "Spark filter; outside it, and on a single-batch part, the footers " +
      "decide") {
    val dir = table(Seq(0L, 6L), Seq(3L, 4L, 6L, 8L))
    check(dir, b => b == 0L || b == 6L || b < 3L || b > 8L)
    assert(EpochTable.committed(spark, dir, 4L))
    assert(!EpochTable.committed(spark, dir, 5L))
  }

  test("a part without statistics never answers false from the footers") {
    val dir = table(Seq(0L, 1L), Nil)
    noStatsPart(dir, Seq(2L, 3L))
    assert(EpochTable.parts(spark, dir).exists(p =>
      p.rows == 2L && p.batchIds.isEmpty))
    check(dir, b => b == 0L || b == 1L)
    assert(EpochTable.committed(spark, dir, 3L))
  }

  test("readRows reads what writeRows wrote (nulls too), projected to the " +
      "asked columns; replace appends, runs the seam, then deletes") {
    val dir = table(Seq(1L, 2L), Nil)
    EpochTable.writeRows(spark, dir, 3L, schema, Seq(Row(3L, null, 0L)))
    val old = EpochTable.parts(spark, dir)
    val files = old.map(_.path)
    assert(EpochTable.readRows(spark, files, schema).sortBy(_.getLong(0)) ==
      Seq(row(1L), row(2L), Row(3L, null, 0L)))
    val ids = org.apache.spark.sql.types.StructType(Seq(schema("batch_id")))
    assert(EpochTable.readRows(spark, files, ids).map(_.getLong(0)).sorted ==
      Seq(1L, 2L, 3L))
    var seen = -1
    EpochTable.replace(spark, old) {
      EpochTable.writeRows(spark, dir, 3L, schema, Seq(row(3L)))
    } { seen = EpochTable.parts(spark, dir).length }
    assert(seen == old.length + 1)
    val now = EpochTable.parts(spark, dir)
    assert(now.map(p => (p.rows, p.batchIds)) == Seq((1L, Some((3L, 3L)))))
    assert(spark.read.parquet(dir).count() == 1)
  }
}
