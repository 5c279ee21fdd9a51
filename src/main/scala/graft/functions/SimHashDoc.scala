package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole-document SimHash in ONE per-row pass —
  * `graft_simhash_doc_xx(tokens)` / `graft_simhash_doc_md5(tokens)` —
  * the shuffle-free form of the signature build. The aggregate
  * pipeline (`explode(tokens)` → `groupBy(doc_id, tok).count` → hash →
  * `graft_simhash_agg`) EXCHANGES the corpus at TOKEN grain twice
  * before a signature exists; but a document's tokens already live in
  * one row, so the whole computation — multiplicity counting, one
  * hash per distinct token, the 64 weighted bit sums, the sign fold —
  * is a narrow scalar map over the corpus scan, embarrassingly
  * parallel at any SF (the `winnowFrame` posture). At 100 TB the
  * difference is two corpus-scale token-grain shuffles vs none.
  *
  * BIT PARITY with the aggregate path is exact, including its edge
  * cases, so the two forms are interchangeable under the DuckDB hash
  * gate (the md5 family's oracle recomputes the same 60 weighted bit
  * sums in SQL):
  *  - weights are within-doc token multiplicities; integer bit sums
  *    are order-independent, so grouping-then-hashing-once vs this
  *    map's per-distinct-token hashing is the same arithmetic;
  *  - xx family: `xxhash64(tok)` = XXH64 over the UTF8 bytes, seed 42
  *    ([[XXH64.hashUTF8String]] — the same kernel the builtin calls);
  *    a NULL token folds to the seed (the builtin's null fold), i.e.
  *    contributes like a token hashing to 42 — never reachable from
  *    `split` output, mirrored anyway so the swap is total;
  *  - md5 family: first 15 hex chars of md5 as a 60-bit BIGINT
  *    (= big-endian first 8 digest bytes >>> 4), exactly
  *    `CAST(conv(substring(md5(tok),1,15),16,10) AS BIGINT)`; a NULL
  *    token nulls the hash and thus poisons the whole signature to
  *    NULL (the aggregate's conservative null handling);
  *  - sign fold: bit j set iff the signed sum is > 0 (ties fold to 0,
  *    matching [[SimHashAgg]]).
  *
  * A null tokens ARRAY yields a null signature, and so does an EMPTY
  * one (the aggregate path emits no row for either: `explode` drops
  * null AND zero-element arrays, so "doc absent" maps to null here,
  * never to the would-be all-zero-sums signature 0L — which a doc
  * whose token hashes cancel exactly could legitimately produce).
  * Call sites feed `split` output, which is never null and never
  * empty for non-null text (`split("")` is `[""]`), so neither case
  * is reachable today; both are pinned conservatively so a future
  * call site feeding e.g. `filter`-ed token arrays cannot silently
  * diverge from the aggregate form.
  */
case class SimHashDoc(child: Expression, md5Family: Boolean)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<STRING>, got $t")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String =
    if (md5Family) "graft_simhash_doc_md5" else "graft_simhash_doc_xx"

  override def nullSafeEval(input: Any): Any =
    SimHashDoc.compute(input.asInstanceOf[ArrayData], md5Family)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val boxed = ctx.freshName("sig")
      s"""
         |java.lang.Long $boxed =
         |  graft.functions.SimHashDoc.compute($arr, $md5Family);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHashDoc =
    copy(child = newChild)
}

object SimHashDoc {

  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** xxhash64 seed Spark's builtin uses. */
  private val XxSeed = 42L

  /** One-pass signature over a token array; null = poisoned (md5
    * family with a null token) or doc absent (empty array — the
    * aggregate path's explode drops such docs, so no signature
    * exists to be matched). Called from both eval and codegen. */
  def compute(arr: ArrayData, md5Family: Boolean): java.lang.Long = {
    val n = arr.numElements()
    if (n == 0) return null
    // multiplicity map: one hash per DISTINCT token (the aggregate
    // path's groupBy(doc_id, tok) did the same dedup); UTF8String
    // keys are content-hashed views into the row buffer, stable for
    // the duration of this call
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var nulls = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        if (md5Family) return null // md5(NULL) poisons the signature
        nulls += 1L                 // xx family: null folds to the seed
      } else {
        val t = arr.getUTF8String(i)
        val c = counts.get(t)
        if (c == null) counts.put(t, Array(1L)) else c(0) += 1L
      }
      i += 1
    }
    val sums = new Array[Long](64)
    def add(h: Long, w: Long): Unit = {
      var j = 0
      while (j < 64) {
        sums(j) += (((h >>> j) & 1L) * 2L - 1L) * w
        j += 1
      }
    }
    if (nulls > 0L) add(XxSeed, nulls)
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val h =
        if (md5Family) {
          // first 15 hex chars of md5 = big-endian first 8 bytes >>> 4
          val d = Md5.get()
          d.reset()
          val bytes = d.digest(e.getKey.getBytes)
          var b = 0L
          var k = 0
          while (k < 8) { b = (b << 8) | (bytes(k) & 0xffL); k += 1 }
          b >>> 4
        } else XXH64.hashUTF8String(e.getKey, XxSeed)
      add(h, e.getValue()(0))
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (sums(j) > 0L) sig |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(sig)
  }
}
