package graft

import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.parquet.column.Encoding
import org.apache.spark.sql.Row
import graft.model.{ChangeEvent, ChangeEventId, Ns}
import graft.streaming.{EpochTable, ParquetIO, StreamingCdc}
import graft.streaming.StreamingCdc.StreamConfig

/** The streaming runtime's own files on a `file:` path are created through
  * java.nio, with no Hadoop create (which forks `chmod` per file, per
  * `.crc` side file and per directory where libhadoop is absent); every
  * other scheme keeps the Hadoop create. Either way the files read back
  * the same through Spark and through [[EpochTable]].
  */
class LocalWriteSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-localwrite").toString

  private def ev(token: Int, op: String): ChangeEvent =
    ChangeEvent(ChangeEventId(f"$token%06d"), op, None, None,
      Some(Ns("db", "c")), Some(s"""{"_id":$token}"""),
      Some(s"""{"_id":$token,"v":"${"x" * (token % 7)}"}"""), None, None)

  /** Every file name under `dir`, recursively. */
  private def names(dir: String): Seq[String] =
    Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq

  /** A capped drain (cap 2, so the trim compacts) of five batches, the
    * last cut by an invalidate (46) inside it, so its staging is
    * re-written at the commit.
    */
  private def drain(name: String): StreamConfig = {
    val root = tmp()
    val c = StreamConfig(name, s"$root/in", s"$root/messages",
      s"$root/tokens", s"$root/checkpoint", maxRowsPerTrigger = Some(1L),
      tokensCapped = true, tokensMaxRows = 2)
    (0 until 5).foreach { b =>
      (b * 10 + 1 to b * 10 + 10)
        .map(i => ev(i, if (i == 46) "invalidate" else "insert"))
        .toDF().coalesce(1).write.mode("append").parquet(c.inputDir)
    }
    StreamingCdc.runAll(spark, Seq(c), availableNow = true)
    c
  }

  test("a capped drain that ends in an invalidate leaves no .crc side file " +
      "in its messages or tokens directory, nor beside _invalidated") {
    val c = drain("lw-crc")
    assert(StreamingCdc.wasInvalidated("lw-crc"))
    assert(spark.read.parquet(c.messagesDir).count() == 45)
    assert(StreamingCdc.latestToken(spark, c.tokensDir).contains("000045"))
    assert(spark.read.parquet(c.tokensDir).count() == 2) // trimmed
    val tokens = names(c.tokensDir)
    assert(tokens.contains("_invalidated"))
    val crc = (names(c.messagesDir) ++ tokens).filter(_.endsWith(".crc"))
    assert(crc.isEmpty, s"Hadoop-created side files: $crc")
  }

  test("java.nio-written files read back identically through Spark and " +
      "through EpochTable; the staging writer keeps a dictionary only for " +
      "subject and batch_id") {
    val c = drain("lw-same")
    val parts = EpochTable.parts(spark, c.messagesDir).filter(_.rows > 0)
    val viaEpoch = EpochTable.readRows(spark, parts.map(_.path),
      StreamingCdc.messagesSchema)
    val viaSpark = spark.read.parquet(c.messagesDir).collect().toSeq
    assert(viaEpoch.size == 45)
    assert(viaEpoch.map(_.toString).sorted == viaSpark.map(_.toString).sorted)

    val dir = tmp()
    val rows = Seq(Row(3L, "ü€\u0000\"x", 7L), Row(4L, null, 0L),
      Row(5L, "", Long.MaxValue))
    EpochTable.writeRows(spark, dir, 5L, StreamingCdc.tokenSchema, rows)
    assert(!names(dir).exists(_.endsWith(".crc")))
    assert(EpochTable.readRows(spark,
      EpochTable.parts(spark, dir).map(_.path), StreamingCdc.tokenSchema) ==
      rows)
    assert(spark.read.parquet(dir).orderBy("batch_id").collect().toSeq == rows)
    assert(EpochTable.newest(spark, dir, StreamingCdc.tokenSchema) ==
      rows.takeRight(1))

    val dict = Set(Encoding.PLAIN_DICTIONARY, Encoding.RLE_DICTIONARY)
    val hconf = spark.sparkContext.hadoopConfiguration
    // the staged epochs; the invalidate epoch's (4) cut was re-written
    parts.filter(_.batchIds.exists(_._2 < 4)).foreach { p =>
      val r = ParquetIO.openFooter(p.path, hconf)
      try {
        val enc = r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .groupMap(_.getPath.toDotString)(_.getEncodings.asScala.toSet)
          .map { case (k, v) => k -> v.exists(_.exists(dict)) }
        assert(enc == Map("subject" -> true, "msgId" -> false,
          "data" -> false, "batch_id" -> true), s"${p.path}: $enc")
      } finally r.close()
    }
  }

  test("a path under another scheme still writes through the Hadoop file " +
      "system and reads back through readRows and newest") {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set(s"fs.${CountingFs.Scheme}.impl", classOf[CountingFs].getName)
    val dir = s"${CountingFs.Scheme}://${tmp()}"
    val before = CountingFs.creates.get
    val schema = StreamingCdc.tokenSchema
    EpochTable.writeRows(spark, dir, 0L, schema, Nil)
    EpochTable.writeRows(spark, dir, 1L, schema, Seq(Row(1L, "000010", 10L)))
    EpochTable.writeRows(spark, dir, 2L, schema,
      Seq(Row(2L, "000020", 10L), Row(2L, null, 0L)))
    assert(CountingFs.creates.get - before == 3)
    assert(ParquetIO.localTarget(new Path(dir, "x"), hconf).isEmpty)
    val ps = EpochTable.parts(spark, dir)
    assert(ps.map(_.path.toUri.getScheme).distinct == Seq(CountingFs.Scheme))
    assert(ps.map(_.rows).sorted == Seq(0L, 1L, 2L))
    assert(EpochTable.readRows(spark, ps.map(_.path), schema)
      .map(_.toString).sorted ==
      Seq("[1,000010,10]", "[2,000020,10]", "[2,null,0]"))
    assert(EpochTable.newest(spark, dir, schema).map(_.toString).sorted ==
      Seq("[2,000020,10]", "[2,null,0]"))
  }
}

/** The raw local file system under a scheme of its own, counting its
  * creates: a stand-in for any non-`file:` Hadoop file system.
  */
class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = CountingFs.Uri
  override def getScheme: String = CountingFs.Scheme
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountingFs.creates.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountingFs.creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object CountingFs {
  val Scheme = "graftcount"
  val Uri: URI = URI.create(s"$Scheme:///")
  val creates = new java.util.concurrent.atomic.AtomicLong
}
