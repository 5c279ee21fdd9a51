package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries frequent-items AGGREGATE — `graft_mg_agg(item, k)` —
  * the deterministic-memory heavy-hitter sketch beside the CMS grid
  * (`graft_cms_agg`, [[NativeFunctions]]): at most `k` counters live
  * in the buffer however wide the key space is, updates are O(1)
  * amortized, and the MERGE is the mergeable-summaries reduction
  * (Agarwal et al., PODS 2012): pointwise counter addition followed
  * by subtracting the (k+1)-th largest counter from every survivor.
  * After ANY sequence of updates and merges over a stream of N items
  * the summary guarantees, for EVERY item x:
  *
  *     est(x) ≤ count(x)            (never an overcount)
  *     count(x) − est(x) ≤ N/(k+1)  (bounded undercount)
  *
  * so every item with count > N/(k+1) is present in the summary. The
  * individual counter VALUES, however, depend on the merge order —
  * Spark does not fix partition-combine order, so queries must expose
  * only the theorem-guaranteed facts (membership/bound FLAGS beside
  * exact counts), never raw estimates; q_frequent_items is the
  * reference consumer of that discipline.
  *
  * This is the 100 TB shape for "head of an unbounded key space":
  * the shuffle carries one ≤k-entry map per partial aggregate instead
  * of the full (token, count) keyspace.
  */
case class MisraGriesAgg(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[String, Long]] {

  override def children: Seq[Expression] = Seq(child, kExpr)

  @transient private lazy val k: Int =
    kExpr.eval(null).asInstanceOf[Number].intValue()

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_mg_agg expects a STRING item, got ${child.dataType}")
    else if (!(kExpr.foldable && kExpr.dataType == IntegerType))
      TypeCheckResult.TypeCheckFailure(
        "graft_mg_agg expects a foldable INT capacity")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_mg_agg"

  override def createAggregationBuffer(): java.util.HashMap[String, Long] =
    new java.util.HashMap[String, Long]()

  override def update(
      buf: java.util.HashMap[String, Long],
      input: InternalRow): java.util.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v == null) return buf // null items carry no frequency mass
    val s = v.asInstanceOf[UTF8String].toString
    if (buf.containsKey(s)) buf.put(s, buf.get(s) + 1L)
    else if (buf.size < k) buf.put(s, 1L)
    else {
      // classic MG step: a full summary + unseen item decrements all
      val it = buf.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1L)
      }
    }
    buf
  }

  override def merge(
      b1: java.util.HashMap[String, Long],
      b2: java.util.HashMap[String, Long]): java.util.HashMap[String, Long] = {
    val it2 = b2.entrySet().iterator()
    while (it2.hasNext) {
      val e = it2.next()
      val key = e.getKey
      if (b1.containsKey(key)) b1.put(key, b1.get(key) + e.getValue)
      else b1.put(key, e.getValue)
    }
    if (b1.size > k) {
      // subtract the (k+1)-th largest counter, keep strictly positive
      val vals = new Array[Long](b1.size)
      var i = 0
      val vi = b1.values().iterator()
      while (vi.hasNext) { vals(i) = vi.next(); i += 1 }
      java.util.Arrays.sort(vals)
      val cut = vals(b1.size - k - 1) // (k+1)-th largest
      val it = b1.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue <= cut) it.remove() else e.setValue(e.getValue - cut)
      }
    }
    b1
  }

  override def eval(buf: java.util.HashMap[String, Long]): Any = {
    // canonical key order so the map literal itself is stable
    val keys = new Array[String](buf.size)
    buf.keySet().toArray(keys)
    java.util.Arrays.sort(keys, java.util.Comparator.naturalOrder[String]())
    val ks = new Array[Any](keys.length)
    val vs = new Array[Any](keys.length)
    var i = 0
    while (i < keys.length) {
      ks(i) = UTF8String.fromString(keys(i))
      vs(i) = buf.get(keys(i))
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
  }

  override def serialize(buf: java.util.HashMap[String, Long]): Array[Byte] = {
    // length-prefixed UTF-8, not writeUTF: writeUTF throws
    // UTFDataFormatException past 65535 encoded bytes, so a single
    // pathological token would crash the shuffle instead of counting
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val kb = e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length)
      out.write(kb)
      out.writeLong(e.getValue)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[String, Long] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new java.util.HashMap[String, Long](n * 2)
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](in.readInt())
      in.readFully(kb)
      buf.put(new String(kb, java.nio.charset.StandardCharsets.UTF_8),
        in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren(0), kExpr = newChildren(1))
}
