package graft.sources

import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.Group
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Model
import graft.streaming.ParquetIO

/** S1 — the change-stream source as a genuine DataSource V2
  * `MicroBatchStream` (SURVEY.md §7 step 4): streaming offsets ARE resume
  * tokens (`_id._data`, internal/mongo/client.go:268-270), so checkpoint
  * recovery replays exactly the reference's SetResumeAfter(token) contract
  * (client.go:206-209) — `Offset` ⇔ token, C2 for free.
  *
  * Improvements over the reference, per SURVEY §4:
  *  - the publishable-op filter (F1) PUSHES DOWN into the source
  *    (`SupportsPushDownFilters` accepts In/EqualTo on operationType);
  *    the reference evaluated it client-side with an empty server
  *    pipeline (client.go:211,231-237)
  *  - files whose parquet footer token range falls entirely at-or-before
  *    the start offset are pruned without opening them (min/max stats on
  *    `_id._data`) — the directory plays the oplog, stats play the oplog
  *    index
  *
  * Usage: `spark.readStream.format("graft.sources.ChangeStreamSource")
  * .load(dir)` (batch read supported too).
  */
class ChangeStreamSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Model.changeEventSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ChangeStreamTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = false
}

final class ChangeStreamTable(path: String) extends Table with SupportsRead {
  require(path != null, "path option is required")
  override def name(): String = s"changestream($path)"
  override def schema(): StructType = Model.changeEventSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ChangeStreamScanBuilder(path,
      Option(options.get("maxRowsPerTrigger")).map(_.toLong),
      // `ops` option: comma-separated operationType allow-list evaluated
      // in the reader. Spark's optimizer does NOT run filter pushdown on
      // STREAMING DSv2 scans (the plan shows `pushedOps=*` with a
      // Spark-side Filter above the MicroBatchScan even when the filter
      // is in the stream DAG — pinned by ChangeStreamSourceSpec), so the
      // F1 op set rides in as a source option on the streaming path; on
      // the batch path pushFilters() intersects it further.
      Option(options.get("ops"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet))
}

final class ChangeStreamScanBuilder(path: String,
    maxRowsPerTrigger: Option[Long] = None,
    initialOps: Option[Set[String]] = None)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns {

  private var opFilter: Option[Set[String]] = initialOps
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = Model.changeEventSchema

  /** Column pruning: the reader projects the parquet read schema down to
    * the requested fields (plus the token and operationType it needs for
    * range/op filtering), so a narrow query — the invalidate probe, a
    * token top-1, a per-op count — never decodes the document payloads.
    * At change-log scale the payload columns ARE the bytes; this is the
    * difference between scanning metadata and scanning the corpus.
    */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** F1 pushdown: operationType In/EqualTo are evaluated in the reader. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case In("operationType", _) => true
      case EqualTo("operationType", _) => true
      case _ => false
    }
    pushed = accepted
    opFilter = accepted.foldLeft(initialOps) {
      case (acc, In(_, vs)) =>
        val s = vs.map(String.valueOf).toSet
        Some(acc.fold(s)(_.intersect(s)))
      case (acc, EqualTo(_, v)) =>
        val s = Set(String.valueOf(v))
        Some(acc.fold(s)(_.intersect(s)))
      case (acc, _) => acc
    }
    rejected
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new ChangeStreamScan(path, opFilter, required, maxRowsPerTrigger)
}

final class ChangeStreamScan(path: String, opFilter: Option[Set[String]],
    required: StructType, maxRowsPerTrigger: Option[Long] = None)
  extends Scan {
  override def readSchema(): StructType = required
  override def description(): String =
    s"changestream($path) pushedOps=" +
      s"${opFilter.map(_.mkString(",")).getOrElse("*")} " +
      s"readSchema=${required.fieldNames.mkString(",")}"
  override def toBatch: Batch = new ChangeStreamBatch(path, opFilter, required)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ChangeStreamMicroBatch(path, opFilter, required, maxRowsPerTrigger)
}

/** Offset = resume token (empty string ⇒ from the beginning). */
final case class TokenOffset(token: String) extends Offset {
  override def json(): String =
    s"""{"token":${TokenOffset.quote(token)}}"""
}
object TokenOffset {
  def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def fromJson(json: String): TokenOffset = {
    // {"token":"..."} — minimal parse, tokens are hex-ish strings
    val m = """\{"token":"(.*)"\}""".r
    json match {
      case m(t) => TokenOffset(t.replace("\\\"", "\"").replace("\\\\", "\\"))
      case _ => throw new IllegalArgumentException(s"bad offset json: $json")
    }
  }
}

object ChangeStreamFiles {
  final case class FileRange(
      path: String, minToken: String, maxToken: String, rows: Long)

  /** Footer-stat scan of the directory: one (min,max) token range per
    * file. Cached by path with (length, modTime) as a validity stamp — a
    * rewritten/compacted file REPLACES its entry instead of adding a new
    * permanent one, and entries for deleted files are pruned per listing,
    * so a long-running driver's cache stays bounded by the live file set.
    */
  private final case class CachedRange(len: Long, modTime: Long, range: FileRange)
  private val statCache =
    new java.util.concurrent.ConcurrentHashMap[String, CachedRange]()

  def listRanges(dir: String, conf: Configuration): Seq[FileRange] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Seq.empty
    val files: Seq[FileStatus] = fs.listStatus(p).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val live = files.map(_.getPath.toString).toSet
    val dirPrefix = fs.makeQualified(p).toString + "/"
    statCache.keySet.removeIf(k =>
      k.startsWith(dirPrefix) && !live.contains(k))
    files.flatMap { f =>
      val key = f.getPath.toString
      Option(statCache.get(key))
        .collect {
          case c if c.len == f.getLen &&
            c.modTime == f.getModificationTime => c.range
        }
        .orElse {
          val r = readRange(f.getPath, conf)
          r.foreach(r0 => statCache.put(key,
            CachedRange(f.getLen, f.getModificationTime, r0)))
          r
        }
    }.sortBy(r => (r.minToken, r.path))
  }

  private def readRange(file: Path, conf: Configuration): Option[FileRange] = {
    val reader = ParquetIO.openFooter(file, conf)
    try ParquetIO.columnRange(reader, "_id._data")(
        _.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
      .map { case (lo, hi) =>
        FileRange(file.toString, lo, hi, reader.getRecordCount) }
    finally reader.close()
  }
}

final class ChangeStreamMicroBatch(path: String, opFilter: Option[Set[String]],
    required: StructType = Model.changeEventSchema,
    maxRowsPerTrigger: Option[Long] = None)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  private val conf = ParquetIO.conf

  /** Trigger.AvailableNow: freeze the target at query start; paced
    * triggers drain up to it, then the query terminates.
    */
  @volatile private var availableNowBound: Option[String] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound =
      Some(latestOffset().asInstanceOf[TokenOffset].token)
  override def reportLatestOffset(): Offset = latestOffset()

  override def initialOffset(): Offset = TokenOffset("")

  override def latestOffset(): Offset = {
    val ranges = ChangeStreamFiles.listRanges(path, conf)
    if (ranges.isEmpty) TokenOffset("")
    else TokenOffset(ranges.map(_.maxToken).max)
  }

  /** Backpressure (the reference paces one event per publish round-trip,
    * client.go:217-257; the micro-batch analog is a row budget per
    * trigger): admit whole files in token order until the budget is hit.
    */
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    maxRowsPerTrigger
      .map(n => org.apache.spark.sql.connector.read.streaming.ReadLimit
        .maxRows(n))
      .getOrElse(org.apache.spark.sql.connector.read.streaming.ReadLimit
        .allAvailable())

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val s = start.asInstanceOf[TokenOffset].token
    val pending = ChangeStreamFiles.listRanges(path, conf)
      .filter(_.maxToken > s)
      .filter(r => availableNowBound.forall(b => r.minToken <= b))
    if (pending.isEmpty) return start
    val end = limit match {
      case mr: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        var budget = mr.maxRows()
        var e = ""
        for (r <- pending if budget > 0 || e.isEmpty) {
          e = if (e.isEmpty || r.maxToken > e) r.maxToken else e
          budget -= r.rows
        }
        e
      case _ => pending.map(_.maxToken).max
    }
    // AvailableNow must not overshoot the bound frozen at query start:
    // admitted files are whole, so a file's maxToken can exceed it (rows
    // written after start). Clamp — the per-row endToken check in
    // ChangeStreamReader makes the clamped range exact.
    TokenOffset(availableNowBound.filter(_ < end).getOrElse(end))
  }

  override def deserializeOffset(json: String): Offset =
    TokenOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TokenOffset].token
    val e = end.asInstanceOf[TokenOffset].token
    ChangeStreamFiles.listRanges(path, conf)
      // oplog-index pruning: token order is lexicographic; a file whose
      // max token ≤ start holds nothing new, one whose min > end is ahead
      .filter(r => r.maxToken > s && (e.isEmpty || r.minToken <= e))
      .map(r => ChangeStreamPartition(r.path, s, e, opFilter, required)
        : InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangeStreamReaderFactory()
  override def commit(end: Offset): Unit = () // checkpoint is the ledger
  override def stop(): Unit = ()
}

final class ChangeStreamBatch(path: String, opFilter: Option[Set[String]],
    required: StructType = Model.changeEventSchema)
  extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    ChangeStreamFiles.listRanges(path, ParquetIO.conf)
      .map(r => ChangeStreamPartition(r.path, "", "", opFilter, required)
        : InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new ChangeStreamReaderFactory()
}

final case class ChangeStreamPartition(
    file: String, startToken: String, endToken: String,
    opFilter: Option[Set[String]],
    required: StructType = Model.changeEventSchema) extends InputPartition

final class ChangeStreamReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new ChangeStreamReader(p.asInstanceOf[ChangeStreamPartition])
}

/** Row-at-a-time envelope reader (the per-event cursor of the reference's
  * watch loop, client.go:217): parquet Group API → InternalRow, applying
  * the token range, the pushed op filter and the pruned read schema —
  * page data for unrequested columns (the document payloads, typically
  * the bulk of the bytes) is never decoded.
  */
final class ChangeStreamReader(p: ChangeStreamPartition)
  extends PartitionReader[InternalRow] {

  private val reader =
    ParquetIO.groupReader(new Path(p.file), ParquetIO.conf, projection)

  /** Parquet read projection of the file schema (the reader's own footer
    * open hands it over): the required columns plus the token and
    * operationType fields the reader always filters on, intersected with
    * what the file actually has (files written by older envelope schemas
    * stay readable — absent fields read as null, as before).
    */
  private def projection(fileSchema: org.apache.parquet.schema.MessageType)
      : org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{GroupType, MessageType}
    val names = (p.required.fieldNames ++ Array("_id", "operationType"))
      .distinct.filter(fileSchema.containsField)
    val types = names.map { n =>
      val t = fileSchema.getType(Seq(n): _*)
      p.required.find(_.name == n).map(_.dataType) match {
        case Some(sub: StructType) if !t.isPrimitive =>
          val g = t.asGroupType()
          val keep = (if (n == "_id") sub.fieldNames :+ "_data"
            else sub.fieldNames).distinct
            .filter(g.containsField).map(g.getType(_))
          new GroupType(t.getRepetition, n, keep: _*)
        case _ => t
      }
    }
    new MessageType(fileSchema.getName, types: _*)
  }

  private var current: InternalRow = _

  override def next(): Boolean = {
    var g = reader.read()
    while (g != null) {
      val row = convert(g)
      if (row != null) { current = row; return true }
      g = reader.read()
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = reader.close()

  private def str(g: Group, field: String): UTF8String =
    if (g.getType.containsField(field) &&
        g.getFieldRepetitionCount(field) > 0)
      UTF8String.fromString(g.getString(field, 0))
    else null

  /** Timestamp → epoch micros, handling all parquet physical encodings
    * Spark may write: INT96 (julian day + nanos-of-day, the legacy
    * default), INT64 TIMESTAMP(MICROS) and TIMESTAMP(MILLIS).
    */
  private def ts(g: Group, field: String): Any = {
    if (!g.getType.containsField(field) ||
        g.getFieldRepetitionCount(field) == 0) return null
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val pt = g.getType.getType(field).asPrimitiveType()
    pt.getPrimitiveTypeName match {
      case INT96 =>
        val bytes = g.getInt96(field, 0).getBytes // little-endian
        val buf = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanosOfDay = buf.getLong
        val julianDay = buf.getInt
        java.lang.Long.valueOf(
          (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L)
      case INT64 =>
        val v = g.getLong(field, 0)
        pt.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if t.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS =>
            java.lang.Long.valueOf(v * 1000L)
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS =>
            java.lang.Long.valueOf(v / 1000L)
          case _ => java.lang.Long.valueOf(v) // micros
        }
      case other =>
        throw new UnsupportedOperationException(
          s"timestamp field $field has unsupported physical type $other")
    }
  }

  private def nested(g: Group, field: String, sub: StructType): InternalRow =
    if (g.getType.containsField(field) &&
        g.getFieldRepetitionCount(field) > 0) {
      val s = g.getGroup(field, 0)
      new GenericInternalRow(
        sub.fieldNames.map(f => str(s, f): Any))
    } else null

  /** null ⇒ filtered out (token range, pushed op filter, or a dirty row
    * missing the token — unorderable, uncommittable, dropped like the
    * reference's lookup-miss would be). The emitted row matches the
    * PRUNED schema, in its field order.
    */
  private def convert(g: Group): InternalRow = {
    if (g.getFieldRepetitionCount("_id") == 0) return null
    val idGroup = g.getGroup("_id", 0)
    if (idGroup.getFieldRepetitionCount("_data") == 0) return null
    val token = idGroup.getString("_data", 0)
    if (token <= p.startToken) return null
    if (p.endToken.nonEmpty && token > p.endToken) return null
    if (g.getFieldRepetitionCount("operationType") == 0) return null
    val op = g.getString("operationType", 0)
    if (p.opFilter.exists(!_.contains(op))) return null
    new GenericInternalRow(p.required.fields.map[Any] { f =>
      f.name match {
        case "_id" =>
          val sub = f.dataType.asInstanceOf[StructType]
          new GenericInternalRow(sub.fieldNames.map[Any] {
            case "_data" => UTF8String.fromString(token)
            case other => str(idGroup, other)
          })
        case "operationType" => UTF8String.fromString(op)
        case "clusterTime" | "wallTime" => ts(g, f.name)
        case "ns" => nested(g, "ns", f.dataType.asInstanceOf[StructType])
        case other => str(g, other)
      }
    })
  }
}
