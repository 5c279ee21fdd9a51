package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType}

/** Native SimHash AGGREGATE — `graft_simhash_agg(h, w)` — the
  * streaming form of [[SimHash64]]: instead of `collect_list`ing every
  * document's (hash, weight) tokens into an array and folding it with
  * the scalar expression, the 64 weighted bit-sums accumulate directly
  * in the aggregation buffer as rows stream through the hash
  * aggregate. Same signatures, bit for bit (parity-pinned in
  * OperatorsSpec and by the md5-family DuckDB oracles), but the plan
  * never materializes a per-document token array: partial aggregation
  * runs map-side, the shuffle carries one 65-long buffer per (doc)
  * group instead of the token list, and peak memory per group is
  * constant. At 100 TB token streams that is the difference between a
  * signature build bounded by the buffer count and one bounded by the
  * widest document.
  *
  * Buffer layout: 64 signed bit-sums + one poison slot (a null h or w
  * nulls the whole signature — the same conservative semantics as the
  * scalar expression's null element handling).
  */
case class SimHashAgg(
    hash: Expression,
    weight: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(hash, weight)

  override def checkInputDataTypes(): TypeCheckResult =
    if (hash.dataType == LongType && weight.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_simhash_agg expects (BIGINT, BIGINT), got " +
        s"(${hash.dataType}, ${weight.dataType})")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_simhash_agg"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](65)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val h0 = hash.eval(input)
    val w0 = weight.eval(input)
    if (h0 == null || w0 == null) { buf(64) = 1L; return buf }
    val h = h0.asInstanceOf[Long]
    val w = w0.asInstanceOf[Long]
    var j = 0
    while (j < 64) {
      buf(j) += (((h >>> j) & 1L) * 2L - 1L) * w
      j += 1
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var j = 0
    while (j < 64) { b1(j) += b2(j); j += 1 }
    b1(64) |= b2(64)
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    if (buf(64) != 0L) return null
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (buf(j) > 0L) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(65 * 8)
    var j = 0
    while (j < 65) { bb.putLong(buf(j)); j += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new Array[Long](65)
    var j = 0
    while (j < 65) { buf(j) = bb.getLong(); j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SimHashAgg =
    copy(hash = newChildren(0), weight = newChildren(1))
}
