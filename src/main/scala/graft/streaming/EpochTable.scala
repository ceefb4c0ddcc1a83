package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The crash-safe protocol of every batch-committed parquet table: the
  * CDC tokens (K2, D1) and the twins' commit markers (the NearDedup index,
  * the HeavyHitters generations, the Decontam ledger). Each is a directory
  * of `part-` files whose rows carry the `batch_id` that wrote them; a
  * batch is committed once a row of it is visible, like the reference's
  * resume token once its insert returns (internal/mongo/client.go:248-254).
  *
  *  - [[parts]] and [[committed]] answer from the parquet footers.
  *  - [[writeRows]] / [[readRows]] move the rows of small flat tables
  *    driver-side, the writer through a two-phase file commit; [[newest]]
  *    reads the current generation of one.
  *  - [[replace]] is the compaction order: append, seam, delete. A crash
  *    in between leaves rows doubled, never lost; every reader of these
  *    tables is insensitive to duplicates, and the next compaction folds
  *    them back.
  *  - [[drainFiles]] is the file-fed twins' one AvailableNow drain.
  */
object EpochTable {

  /** One visible `part-` file: its row count and the min/max `batch_id`
    * of its footer statistics (None: no rows, or no statistics).
    */
  final case class Part(path: Path, rows: Long, batchIds: Option[(Long, Long)])

  def parts(spark: SparkSession, dir: String): Seq[Part] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val d = new Path(dir)
    d.getFileSystem(hconf).listStatus(d).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("part-"))
      .map { p =>
        val r = ParquetIO.openFooter(p, hconf)
        try Part(p, r.getRecordCount, ParquetIO.columnRange(r, "batch_id")(
          _.asInstanceOf[java.lang.Long].longValue))
        finally r.close()
      }
  }

  /** Is batch `b` committed, i.e. does the table hold a row of it? False
    * when no non-empty part's range covers `b` (the steady state: a new
    * batch id is above every max), true when a part holds `b` alone, and
    * otherwise the Spark filter decides: a part without statistics never
    * answers false.
    */
  def committed(spark: SparkSession, dir: String, b: Long): Boolean = {
    val ps = parts(spark, dir).filter(_.rows > 0)
    ps.exists(_.batchIds.contains((b, b))) ||
      ps.exists(_.batchIds.forall { case (lo, hi) => lo <= b && b <= hi }) &&
        !spark.read.parquet(dir).filter(col("batch_id") === b).isEmpty
  }

  /** Every row of `files`, read driver-side as `schema`: bigint and
    * string columns of the table, read as a projection.
    */
  def readRows(spark: SparkSession, files: Seq[Path],
      schema: StructType): Seq[Row] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    files.flatMap { f =>
      val r = ParquetIO.groupReader(f, hconf, file =>
        new MessageType(file.getName,
          schema.fieldNames.map(n => file.getType(Seq(n): _*)): _*))
      try Iterator.continually(r.read()).takeWhile(_ != null)
        .map(g => Row.fromSeq(schema.fields.toSeq.map(value(g, _)))).toList
      finally r.close()
    }
  }

  /** The rows of the newest batch: those carrying the max `batch_id`,
    * read driver-side (as `schema`, which holds `batch_id`) from the
    * parts whose footer range ends at that max and from any part without
    * statistics. Empty when the table holds no rows.
    */
  def newest(spark: SparkSession, dir: String, schema: StructType): Seq[Row] = {
    val ps = parts(spark, dir).filter(_.rows > 0)
    val top = ps.flatMap(_.batchIds).map(_._2).maxOption
    val rows = readRows(spark,
      ps.filter(_.batchIds.forall(r => top.contains(r._2))).map(_.path), schema)
    val b = schema.fieldIndex("batch_id")
    rows.map(_.getLong(b)).maxOption.fold(Seq.empty[Row])(m =>
      rows.filter(_.getLong(b) == m))
  }

  private def value(g: Group, f: StructField): Any =
    if (g.getFieldRepetitionCount(f.name) == 0) null
    else f.dataType match {
      case LongType => g.getLong(f.name, 0)
      case StringType => g.getString(f.name, 0)
      case t => throw new IllegalArgumentException(s"not a flat column: $t")
    }

  /** `rows` of `schema` (zero rows: a schema-bearing empty table) as one
    * new `part-<tag>-<uuid>` file of `dir`, in Spark's parquet conversion
    * of `schema`. Two-phase: written under a dot-temp name (Spark's
    * listing and [[parts]] skip dot-files; the `.inprogress` suffix keeps
    * it out of `Ddl.tableExists`' `*.parquet` probe) and renamed after
    * close — atomic on a posix file system. The writer opens its file at
    * build, so a crash leaves at most the temp, never a truncated `part-`.
    */
  def writeRows(spark: SparkSession, dir: String, tag: Long,
      schema: StructType, rows: Seq[Row]): Unit = {
    val t = new org.apache.spark.sql.execution.datasources.parquet
      .SparkToParquetSchemaConverter().convert(schema)
    val name = s"part-$tag-${java.util.UUID.randomUUID()}.snappy.parquet"
    val tmp = new Path(dir, s".$name.inprogress")
    val hconf = spark.sparkContext.hadoopConfiguration
    val w = ParquetIO.groupWriter(tmp, t, hconf)
    try rows.foreach { r =>
      val g = new SimpleGroup(t)
      schema.fieldNames.indices.filterNot(r.isNullAt).foreach { i =>
        r.get(i) match {
          case v: Long => g.add(i, v)
          case v: String => g.add(i, v)
        }
      }
      w.write(g)
    } finally w.close()
    if (!tmp.getFileSystem(hconf).rename(tmp, new Path(dir, name)))
      throw new java.io.IOException(s"commit rename failed: $tmp -> $name")
  }

  /** Compaction: `appendNew` writes the replacement of `old`, then `seam`
    * runs (the test seam of the duplicate window), then `old` is deleted.
    */
  def replace(spark: SparkSession, old: Seq[Part])(appendNew: => Unit)(
      seam: => Unit): Unit = {
    appendNew
    seam
    val hconf = spark.sparkContext.hadoopConfiguration
    old.foreach(p => p.path.getFileSystem(hconf).delete(p.path, false))
  }

  /** The one drain of the foreachBatch twins: every parquet file now under
    * `inputDir` (read as `schema`, at most `maxFilesPerTrigger` files per
    * batch) through `batchFn`, checkpointed in `checkpointDir`, with an
    * AvailableNow trigger; returns when the input is drained and rethrows
    * a failed batch.
    */
  def drainFiles(spark: SparkSession, schema: StructType, inputDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int)(
      batchFn: (DataFrame, Long) => Unit): Unit =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(batchFn)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
}
