package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageType

import scala.jdk.CollectionConverters._

/** The CDC path's parquet opens (source S1, sink K1, and through
  * [[EpochTable]] the token table K2, D1 setup and the twins' commit
  * markers), every one over a Hadoop `Configuration` that is already loaded.
  *
  * A fresh `Configuration` parses core-default.xml and core-site.xml from
  * the classpath on first use, and parquet builds one behind the caller's
  * back in `ParquetFileReader.open(InputFile)` without read options and in
  * `ParquetReader.builder(readSupport, path)`. Paid per task and per footer
  * open, that parse was a third of a CDC drain's CPU. The rule: a site with
  * a session at hand passes `spark.sparkContext.hadoopConfiguration`; every
  * other site (executor tasks, the source's driver-side offset planning)
  * passes [[conf]], loaded once per JVM with the same defaults a per-call
  * `new Configuration()` loads. Neither is ever mutated: readers take their
  * projection from the ReadSupport and writers their schema from
  * `withType`, so no task's projection or schema reaches another task.
  */
object ParquetIO {

  /** JVM-wide and read-only; its default resources are parsed on first use
    * of the holder, not on first lookup by some task.
    */
  lazy val conf: Configuration = {
    val c = new Configuration()
    c.size()
    c
  }

  /** Footer-level open: schema, row counts and column statistics. */
  def openFooter(file: Path, hconf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, hconf),
      HadoopReadOptions.builder(hconf, file).build())

  /** Min and max of `column` (a dot path) over the file's row groups,
    * from the footer statistics, each decoded by `decode`. None when no
    * row group holds a non-null value, or when one holds rows that its
    * statistics do not describe (no min/max, yet not all null): its values
    * are then unknown.
    */
  def columnRange[T: Ordering](r: ParquetFileReader, column: String)(
      decode: Any => T): Option[(T, T)] = {
    val stats = r.getFooter.getBlocks.asScala.toSeq.filter(_.getRowCount > 0)
      .map(b => b.getRowCount -> b.getColumns.asScala
        .find(_.getPath.toDotString == column).map(_.getStatistics).orNull)
    val known = stats.map(_._2).filter(s => s != null && s.hasNonNullValue)
    val unknown = stats.exists { case (n, s) =>
      s == null || !s.hasNonNullValue && !(s.isNumNullsSet && s.getNumNulls == n)
    }
    if (known.isEmpty || unknown) None
    else Some((known.map(s => decode(s.genericGetMin)).min,
      known.map(s => decode(s.genericGetMax)).max))
  }

  /** Row reader of `file` as example Groups, projected to what
    * `projection` makes of the file schema (opened once, in the reader).
    */
  def groupReader(file: Path, hconf: Configuration,
      projection: MessageType => MessageType = identity): ParquetReader[Group] =
    new ParquetReader.Builder[Group](HadoopInputFile.fromPath(file, hconf)) {
      override protected def getReadSupport(): ReadSupport[Group] =
        new GroupReadSupport {
          override def init(ctx: InitContext): ReadSupport.ReadContext =
            new ReadSupport.ReadContext(projection(ctx.getFileSchema))
        }
    }.build()

  /** Snappy writer of `schema` rows into `file` (which it creates). */
  def groupWriter(file: Path, schema: MessageType,
      hconf: Configuration): ParquetWriter[Group] =
    ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, hconf))
      .withType(schema)
      .withConf(hconf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
}
