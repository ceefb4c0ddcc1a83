package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** simhash_agg(array<string>): GROUP-level 64-bit SimHash — the per-bit
  * votes of every member document's tokens accumulate into one corpus
  * fingerprint per group. A native `TypedImperativeAggregate`:
  *
  *  - buffer = 64 int votes (mutable, off the row format)
  *  - update = per-token FNV-64 bit votes (same math as the row-level
  *    SimHash64 expression, so a single-doc group equals simhash64(doc))
  *  - merge  = element-wise vote addition — associative + commutative,
  *    so partial aggregation (map-side combine) applies and the shuffle
  *    carries 64 ints per group, independent of corpus size
  *  - eval   = sign bits
  *
  * Use: drift detection between corpus slices (hamming distance of two
  * slices' fingerprints), dedup of near-identical GROUPS (e.g. mirrored
  * sources) — document-level SimHash can't see those.
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Int]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_agg"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_agg expects array<string>, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): Array[Int] = new Array[Int](64)

  override def update(buffer: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val tokens = v.asInstanceOf[ArrayData]
      var i = 0
      while (i < tokens.numElements()) {
        if (!tokens.isNullAt(i)) {
          val h = TextHashImpl.poly64(tokens.getUTF8String(i))
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) buffer(b) += 1 else buffer(b) -= 1
            b += 1
          }
        }
        i += 1
      }
    }
    buffer
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var i = 0
    while (i < 64) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buffer: Array[Int]): Any = {
    var out = 0L
    var b = 0
    while (b < 64) { if (buffer(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override def serialize(buffer: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(256)
    buffer.foreach(bb.putInt)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(64)(bb.getInt)
  }

  override def withNewMutableAggBufferOffset(offset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SimHashAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SimHashAgg =
    copy(child = newChildren.head)
}
