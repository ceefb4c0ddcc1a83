package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** P2 — BSON → relaxed MongoDB Extended JSON rendering
  * (internal/mongo/client.go:222-225; type wrappers per README.md:95-97).
  *
  * `to_json` renders plain JSON; Extended JSON needs:
  *  - DateTime → `{"$date":"<ISO-8601 millis>"}` (wallTime et al.)
  *  - BSON Timestamp → `{"$timestamp":{"t":<sec>,"i":<ord>}}` (clusterTime)
  *  - opaque document fields (already Extended-JSON text from the source:
  *    fullDocument, documentKey, ...) embedded VERBATIM, not re-escaped
  *
  * Implemented as a Catalyst expression over a struct; codegen emits a call
  * back into the instance (addReferenceObj), so it composes inside
  * whole-stage codegen without per-row interpretation overhead.
  */
case class ToExtendedJson(
    child: Expression,
    rawFields: Set[String] = ToExtendedJson.DefaultRawFields,
    timestampTFields: Set[String] = ToExtendedJson.DefaultTimestampTFields)
  extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "to_extended_json"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StructType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"to_extended_json expects a struct, got ${other.simpleString}")
  }

  private lazy val schema = child.dataType.asInstanceOf[StructType]

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(renderStruct(v.asInstanceOf[InternalRow], schema))

  def renderForCodegen(row: InternalRow): UTF8String =
    UTF8String.fromString(renderStruct(row, schema))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("extJson", this,
      classOf[ToExtendedJson].getName)
    defineCodeGen(ctx, ev, c => s"$ref.renderForCodegen($c)")
  }

  private def renderStruct(row: InternalRow, st: StructType): String = {
    val sb = new java.lang.StringBuilder(64)
    sb.append('{')
    var first = true
    var i = 0
    while (i < st.length) {
      val f = st(i)
      if (!row.isNullAt(i)) { // null/absent fields omitted, like BSON marshal
        if (!first) sb.append(',')
        first = false
        sb.append('"').append(f.name).append("\":")
        sb.append(renderValue(row.get(i, f.dataType), f.dataType, f.name))
      }
      i += 1
    }
    sb.append('}')
    sb.toString
  }

  private def renderValue(v: Any, dt: DataType, name: String): String = dt match {
    case st: StructType => renderStruct(v.asInstanceOf[InternalRow], st)
    case TimestampType =>
      val micros = v.asInstanceOf[Long]
      if (timestampTFields.contains(name))
        s"""{"$$timestamp":{"t":${micros / 1000000L},"i":1}}"""
      else {
        val millis = micros / 1000L
        val iso = java.time.Instant.ofEpochMilli(millis)
          .atOffset(java.time.ZoneOffset.UTC)
          .format(ToExtendedJson.IsoMillis)
        s"""{"$$date":"$iso"}"""
      }
    case StringType =>
      val s = v.toString
      if (rawFields.contains(name)) s // opaque Extended-JSON passthrough
      else "\"" + ToExtendedJson.escape(s) + "\""
    case LongType | IntegerType | ShortType | ByteType |
         DoubleType | FloatType | BooleanType => String.valueOf(v)
    case _: DecimalType => v.toString
    case other =>
      throw new UnsupportedOperationException(
        s"to_extended_json: unsupported type ${other.simpleString}")
  }

  override protected def withNewChildInternal(c: Expression): ToExtendedJson =
    copy(child = c)
}

object ToExtendedJson {
  /** Opaque document fields forwarded verbatim (already Extended JSON from
    * the source) — the connector never inspects them (SURVEY.md §1.2).
    */
  val DefaultRawFields: Set[String] =
    Set("documentKey", "fullDocument", "fullDocumentBeforeChange",
      "updateDescription", "props")

  /** Envelope fields that are BSON Timestamps (not DateTimes). */
  val DefaultTimestampTFields: Set[String] = Set("clusterTime")

  val IsoMillis: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")

  def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case x if x < ' ' => sb.append(f"\\u${x.toInt}%04x")
        case x => sb.append(x)
      }
      i += 1
    }
    sb.toString
  }
}
