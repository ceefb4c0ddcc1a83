package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** mg_candidates(token, capacity): Misra-Gries frequent-items summary —
  * returns the (sorted) candidate token set of a bounded-memory heavy-hitter
  * pass. A native mergeable `TypedImperativeAggregate` (the "mergeable
  * summaries" construction of Agarwal et al., PODS'12):
  *
  *  - buffer = at most `capacity` (token → counter) entries, O(capacity)
  *    memory regardless of stream length
  *  - update = the classic MG step: increment a present counter, insert if
  *    below capacity, otherwise decrement ALL counters by one (amortized
  *    O(1): every decrement round cancels `capacity` prior increments)
  *  - merge  = pointwise counter sum, then subtract the (capacity+1)-th
  *    largest counter from every entry and drop the non-positives — the
  *    mergeable-summaries reduction that keeps the combined error bound
  *  - eval   = the surviving tokens, sorted (set output; counters are NOT
  *    exposed — they are estimates, and the two-phase query recounts
  *    exactly)
  *
  * Guarantee (pinned in TextHashesSpec): undercount ≤ n/(capacity+1), so
  * every token with true frequency > n/(capacity+1) survives — the
  * candidate set is a SUPERSET of the true heavy hitters at any support
  * threshold ≥ 1/(capacity+1), REGARDLESS of partitioning/merge order.
  * Only the candidate set varies with partitioning; the final filtered
  * output of the recount phase does not (text_heavy_hitters is bit-exact
  * against the brute-force oracle).
  *
  * Scale: partial aggregation applies (map-side combine) — each task ships
  * one ≤capacity-entry summary; the exchange carries KBs per partition
  * while the token stream itself never shuffles.
  */
case class MisraGriesAgg(
    child: Expression,
    capExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  override def children: Seq[Expression] = Seq(child, capExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "mg_candidates"

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, capExpr.dataType) match {
      case (StringType, IntegerType) if capExpr.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"mg_candidates expects (string, int literal), got $other")
    }

  private lazy val capacity: Int = {
    val c = capExpr.eval(null).asInstanceOf[Int]
    require(c > 0, s"mg_candidates capacity must be positive, got $c")
    c
  }

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty[String, Long]

  override def update(
      m: mutable.HashMap[String, Long],
      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      // toString copies out of the (reused) unsafe-row backing buffer
      val tok = v.asInstanceOf[UTF8String].toString
      val cur = m.getOrElse(tok, 0L)
      if (cur > 0L || m.size < capacity) m(tok) = cur + 1L
      else {
        // full and token absent: decrement every counter, evict zeros
        val dead = mutable.ArrayBuffer.empty[String]
        m.foreach { case (k, c) =>
          if (c <= 1L) dead += k else m(k) = c - 1L
        }
        dead.foreach(m.remove)
      }
    }
    m
  }

  override def merge(
      a: mutable.HashMap[String, Long],
      b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b.foreach { case (k, c) => a(k) = a.getOrElse(k, 0L) + c }
    if (a.size > capacity) {
      // subtract the (capacity+1)-th largest counter from everything;
      // exactly ≤ capacity entries stay positive
      val pivot = a.values.toArray.sortBy(-_).apply(capacity)
      val dead = mutable.ArrayBuffer.empty[String]
      a.foreach { case (k, c) =>
        if (c - pivot <= 0L) dead += k else a(k) = c - pivot
      }
      dead.foreach(a.remove)
    }
    a
  }

  override def eval(m: mutable.HashMap[String, Long]): Any =
    new GenericArrayData(
      m.keys.toArray.sorted.map(UTF8String.fromString(_): Any))

  override def serialize(m: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(m.size)
    m.foreach { case (k, c) =>
      val bytes = k.getBytes(StandardCharsets.UTF_8)
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val m = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val buf = new Array[Byte](len)
      in.readFully(buf)
      m(new String(buf, StandardCharsets.UTF_8)) = in.readLong()
      i += 1
    }
    m
  }

  override def withNewMutableAggBufferOffset(offset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren(0), capExpr = newChildren(1))
}
