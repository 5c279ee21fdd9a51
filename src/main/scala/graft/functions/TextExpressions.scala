package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}

/** Native 64-bit SimHash (Charikar) over an array of (hash, weight)
  * structs — the signature stage of q_dedup_simhash.
  *
  * The HOF formulation folds `sequence(0, 63)` with an inner
  * `aggregate` over the token array: 64 interpreted lambda frames per
  * token per document. This expression computes the same 64
  * weighted bit-sums in ONE pass over the tokens inside whole-stage
  * codegen (SURVEY.md §7.2 escalation rule — same justification as
  * DotProduct).
  *
  * Bit j of the result is set iff Σ_t ((t.h >> j & 1) · 2 − 1) · t.w
  * is strictly positive — EXACTLY the HOF fold's semantics, pinned
  * bit-identical by OperatorsSpec ("graft_simhash native expression is
  * bit-identical to the HOF fold"). Null array → null; a null element
  * or field nulls the result (conservative, mirrors graft_dot).
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _)
        if s.length == 2 && s(0).dataType == LongType && s(1).dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects ARRAY<STRUCT<BIGINT, BIGINT>>, got $t")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sums = new Array[Long](64)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val t = arr.getStruct(i, 2)
      if (t.isNullAt(0) || t.isNullAt(1)) return null
      val h = t.getLong(0)
      val w = t.getLong(1)
      var j = 0
      while (j < 64) {
        sums(j) += (((h >>> j) & 1L) * 2L - 1L) * w
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (sums(j) > 0L) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val sums = ctx.freshName("sums")
      val t = ctx.freshName("t")
      val h = ctx.freshName("h")
      val w = ctx.freshName("w")
      val sig = ctx.freshName("sig")
      s"""
         |int $n = $a.numElements();
         |long[] $sums = new long[64];
         |long $sig = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  org.apache.spark.sql.catalyst.InternalRow $t = $a.getStruct($i, 2);
         |  if ($t.isNullAt(0) || $t.isNullAt(1)) { ${ev.isNull} = true; break; }
         |  long $h = $t.getLong(0);
         |  long $w = $t.getLong(1);
         |  for (int $j = 0; $j < 64; $j++) {
         |    $sums[$j] += ((($h >>> $j) & 1L) * 2L - 1L) * $w;
         |  }
         |}
         |if (!${ev.isNull}) {
         |  for (int $j = 0; $j < 64; $j++) {
         |    if ($sums[$j] > 0L) $sig |= (1L << $j);
         |  }
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
