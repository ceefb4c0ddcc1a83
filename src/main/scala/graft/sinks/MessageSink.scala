package graft.sinks

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.streaming.{EpochTable, ParquetIO, StreamingCdc}

/** K1/K2 as a DataSource V2 `StreamingWrite` (SURVEY.md §7 step 4's
  * third custom-Catalyst item): the NATS-shaped publish sink with
  * JetStream msg-id semantics, declaring the epoch-based commit contract
  * to Spark. The only publish path of [[StreamingCdc]].
  *
  * Input rows: (subject, msgId, data, op) — [[graft.operators.CdcPipeline
  * .toSinkRows]], the batch toMessages projection chain but with
  * invalidate rows RETAINED and flagged by `op` so the F2 cut can be
  * applied at commit time.
  *
  * Two-phase epoch commit, mirroring the reference's publish-then-token
  * discipline (internal/mongo/client.go:217-257):
  *
  *  1. Data writers append rows to DOT-PREFIXED staging files in the
  *     messages dir (invisible to Spark's listing and every part- filter),
  *     skipping `invalidate` rows but reporting the minimum invalidate
  *     msgId they saw. A replayed epoch whose token the ledger already
  *     holds is decided on the driver when its writer factory is built:
  *     its writers report the minimum invalidate and write no file.
  *  2. `commit(epochId)` — driver-side, after every task commits:
  *     a. replayed epoch (token already committed) → staging (if any)
  *        deleted, nothing re-published; an invalidate in it still marks the
  *        stream terminated (a crash can land between the token write
  *        and the marker);
  *     b. F2: with a minimum invalidate token m, staging files entirely
  *        below m RENAME into place (atomic, the steady case is "no
  *        invalidate" so this path is rename-only), files straddling m
  *        are re-written driver-side keeping `msgId < m`, files entirely
  *        at-or-after m are deleted — the
  *        exact `truncateAtInvalidate` semantics, applied at the commit
  *        point; the promote duration is observed once per published
  *        subject (K4 nats_message_duration_seconds, batch-granular);
  *     c. faultpoint (the StreamFuzz seam) fires BETWEEN message
  *        visibility and the token write — the reference's at-least-once
  *        duplicate window;
  *     d. the token row lands through EpochTable's crash-safe two-phase
  *        writer ([[StreamingCdc.writeTokenRow]]), then capped tables
  *        trim, counters bump, and an invalidate marks the stream
  *        terminated durably ([[StreamingCdc.markInvalidatedAt]]).
  *
  * A crash before any rename publishes nothing (the epoch replays); a
  * crash mid-rename or before the token write re-publishes on replay —
  * observable duplicates, deduplicated by msgId downstream: exactly the
  * reference's delivery contract (README.md:118-127).
  *
  * Scale: writers stream rows straight to parquet (no buffering beyond
  * the writer's row group); commit is O(#partitions) renames. The one
  * non-rename path — an invalidate epoch — re-writes only the straddling
  * staging files driver-side, and a stream sees at most
  * one invalidate in its lifetime (resuming past one is invalid,
  * internal/mongo/watcher.go).
  */
class MessageSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MessageSink.inputSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new MessageSinkTable(
      opts.get("path"),
      opts.get("tokensDir"),
      opts.get("name"),
      "true".equalsIgnoreCase(opts.get("capped")),
      Option(opts.get("maxTokRows")).map(_.toInt).getOrElse(1024))
  }
  override def supportsExternalMetadata(): Boolean = true
}

object MessageSink {
  /** Sink input: the message projection plus the operationType flag. */
  val inputSchema: StructType = StructType(Seq(
    StructField("subject", StringType, nullable = false),
    StructField("msgId", StringType, nullable = false),
    StructField("data", StringType, nullable = false),
    StructField("op", StringType, nullable = false)))

  private[sinks] val InvalidateOp = graft.model.Model.InvalidateOp

  /** Parquet schema of the staging and part- files, converted from
    * [[StreamingCdc.messagesSchema]] so Spark reads them as the messages
    * table.
    */
  private[sinks] val messageType = new org.apache.spark.sql.execution
    .datasources.parquet.SparkToParquetSchemaConverter()
    .convert(StreamingCdc.messagesSchema)
}

final class MessageSinkTable(path: String, tokensDir: String, name: String,
    capped: Boolean, maxTokRows: Int) extends Table with SupportsWrite {
  require(path != null, "path option (messages dir) is required")
  require(tokensDir != null, "tokensDir option is required")
  require(name != null, "name option is required")
  override def name(): String = s"natsmessages($path)"
  override def schema(): StructType = MessageSink.inputSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.STREAMING_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite =
          new MessageStreamingWrite(path, tokensDir, name, capped,
            maxTokRows)
      }
    }
}

/** One staging file's commit message (null path = empty partition);
  * `subjects` = the distinct subjects of its rows.
  */
final case class MsgStaging(path: String, minMsg: String, maxMsg: String,
    count: Long, minInvalidate: String, subjects: Seq[String])
  extends WriterCommitMessage

final class MessageStreamingWrite(messagesDir: String, tokensDir: String,
    name: String, capped: Boolean, maxTokRows: Int) extends StreamingWrite {

  /** Built on the stream thread, which carries the epoch's id as the
    * `streaming.sql.batchId` local property: an epoch the ledger already
    * holds gets writers that stage nothing.
    */
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val replayed = Option(spark.sparkContext
        .getLocalProperty("streaming.sql.batchId"))
      .exists(b => StreamingCdc.committedBatchIds(spark, name, tokensDir)
        .contains(b.toLong))
    new MessageWriterFactory(messagesDir, replayed)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(messagesDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = messages.collect {
      case m: MsgStaging if m.path != null => m
    }
    def dropStaging(): Unit =
      staged.foreach(m => fs.delete(new Path(m.path), false))

    val minInv = messages.collect {
      case m: MsgStaging if m.minInvalidate != null => m.minInvalidate
    }.sorted.headOption

    // F2 entry check + C2/C3 ledger skip: a terminated stream publishes
    // nothing; a replayed committed epoch (normally already skipped by its
    // writers, checked again here) is idempotently dropped, but
    // its invalidate is still honoured (F2 durability: the crash may have
    // landed between the token write and the marker write below).
    if (StreamingCdc.wasInvalidated(name)) { dropStaging(); return }
    if (StreamingCdc.committedBatchIds(spark, name, tokensDir)
        .contains(epochId)) {
      dropStaging()
      if (minInv.isDefined)
        StreamingCdc.markInvalidatedAt(spark, name, tokensDir)
      return
    }

    import graft.streaming.Observability.CommandMetrics
    var published = 0L
    var maxMsg: String = null
    val subjects = scala.collection.mutable.Set.empty[String]
    val t0 = System.nanoTime()
    CommandMetrics.time(name, "messages_append") {
      // the F2 cut at the commit point: keep msgId < the min invalidate
      val (below, rest) = staged.partition(m => minInv.forall(m.maxMsg < _))
      below.foreach { m =>
        promote(fs, m.path, epochId)
        published += m.count
        if (maxMsg == null || m.maxMsg > maxMsg) maxMsg = m.maxMsg
        subjects ++= m.subjects
      }
      // the rows below the cut of a straddling file are re-written
      // DRIVER-side through EpochTable (Spark's hidden-file filter drops
      // dot-staging paths even when listed explicitly): bounded work — a
      // stream sees at most one invalidate epoch in its lifetime, and each
      // file is one partition of that one micro-batch
      minInv.foreach { cut =>
        rest.filter(m => m.minMsg < cut).foreach { m =>
          val kept = EpochTable.readRows(spark, Seq(new Path(m.path)),
            StreamingCdc.messagesSchema).filter(_.getString(1) < cut)
          if (kept.nonEmpty) {
            EpochTable.writeRows(spark, messagesDir, epochId,
              StreamingCdc.messagesSchema, kept)
            published += kept.size
            val keptMax = kept.map(_.getString(1)).max
            if (maxMsg == null || keptMax > maxMsg) maxMsg = keptMax
            subjects ++= kept.map(_.getString(0))
          }
        }
      }
      rest.foreach(m => fs.delete(new Path(m.path), false))
    }
    // nats_message_duration_seconds analog at batch granularity: the
    // epoch's publish duration, observed once per subject it published.
    // INTENTIONAL divergence from the reference's per-publish timing
    // (client.go:121-127): a micro-batch engine publishes once per epoch,
    // so all subjects in it share one sample. Pinned by ObservabilitySpec.
    val pubSec = (System.nanoTime() - t0) / 1e9
    subjects.foreach(CommandMetrics.observePublish(_, pubSec))

    // the at-least-once window: messages are visible, token not yet
    StreamingCdc.faultpoint(name, epochId)

    CommandMetrics.time(name, "tokens_append") {
      StreamingCdc.writeTokenRow(spark, tokensDir, epochId, maxMsg,
        published)
    }
    StreamingCdc.committedBatchIds(spark, name, tokensDir).add(epochId)
    if (capped)
      StreamingCdc.trimTokensAt(spark, name, tokensDir, maxTokRows)
    StreamingCdc.publishedTotal.merge(name, published, (a, b) => a + b)
    if (minInv.isDefined)
      StreamingCdc.markInvalidatedAt(spark, name, tokensDir)
  }

  /** Atomic staging-file promotion: dot-file → part- name. The batch_id
    * is already inside the rows (written by the task), so the rename IS
    * the publish.
    */
  private def promote(fs: org.apache.hadoop.fs.FileSystem, staging: String,
      epochId: Long): Unit = {
    val src = new Path(staging)
    val dst = new Path(src.getParent,
      s"part-$epochId-${java.util.UUID.randomUUID()}.snappy.parquet")
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"message promote failed: $src -> $dst")
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(messagesDir)
      .getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    messages.foreach {
      case m: MsgStaging if m.path != null =>
        try fs.delete(new Path(m.path), false)
        catch { case _: Throwable => () }
      case _ => ()
    }
  }
}

final class MessageWriterFactory(messagesDir: String, replayed: Boolean)
  extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new MessageDataWriter(messagesDir, partitionId, taskId, epochId, replayed)
}

/** Buffers the partition's published rows, sorts them by msgId at commit
  * (file order = token order — Spark's analyzer rejects Sort on streaming
  * plans, so the ordering lives here), and writes one dot-prefixed
  * staging parquet file. Skips invalidate rows but records the smallest
  * invalidate msgId. The buffer holds one partition of one micro-batch —
  * the same data any sort would materialize, bounded by the source's
  * per-trigger admission control. Empty partitions, and every partition
  * of a `replayed` epoch, write nothing.
  */
final class MessageDataWriter(messagesDir: String, partitionId: Int,
    taskId: Long, epochId: Long, replayed: Boolean)
  extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  import org.apache.parquet.example.data.simple.SimpleGroup

  private val stagingPath = new Path(messagesDir,
    s".staging-$epochId-$partitionId-$taskId-" +
      s"${java.util.UUID.randomUUID()}.parquet")

  private val rows =
    scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
  private var minInvalidate: String = _

  override def write(row: InternalRow): Unit = {
    val msgId = row.getUTF8String(1).toString
    val op = row.getUTF8String(3).toString
    if (op == MessageSink.InvalidateOp) {
      if (minInvalidate == null || msgId < minInvalidate)
        minInvalidate = msgId
    } else if (!replayed)
      rows += ((msgId, row.getUTF8String(0).toString,
        row.getUTF8String(2).toString))
  }

  override def commit(): WriterCommitMessage = {
    if (rows.isEmpty)
      return MsgStaging(null, null, null, 0L, minInvalidate, Nil)
    val sorted = rows.sortBy(_._1)
    // a task has no session at hand: it writes through the JVM's one
    // loaded conf (ParquetIO), never a per-task copy. msgId and data are
    // unique per row: a dictionary of them only hashes every value
    val writer = ParquetIO.groupWriter(stagingPath, MessageSink.messageType,
      ParquetIO.conf, plain = Seq("msgId", "data"))
    try sorted.foreach { case (msgId, subject, data) =>
      val g = new SimpleGroup(MessageSink.messageType)
      g.add("subject", subject)
      g.add("msgId", msgId)
      g.add("data", data)
      g.add("batch_id", epochId)
      writer.write(g)
    } finally writer.close()
    MsgStaging(stagingPath.toString, sorted.head._1, sorted.last._1,
      sorted.length.toLong, minInvalidate, sorted.map(_._2).distinct.toList)
  }

  override def abort(): Unit =
    try {
      val fs = stagingPath.getFileSystem(ParquetIO.conf)
      fs.delete(stagingPath, false)
    } catch { case _: Throwable => () }

  override def close(): Unit = ()
}
