package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}

/** Native Catalyst expressions for the vector-similarity operators.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) express a
  * dot product correctly but evaluate interpreted — one lambda frame
  * per element, no whole-stage codegen. At 100 TB of 64-dim scoring
  * that boundary dominates the scan, so this is the one place the
  * engine drops to a custom `Expression` with `doGenCode` (SURVEY.md
  * §7.2 escalation rule): a tight primitive loop, fused into the
  * surrounding codegen stage.
  *
  * Semantics are EXACTLY the sequential left fold the HOF version and
  * DuckDB's `list_dot_product` both compute (same element order, same
  * IEEE double adds) — the DuckDB-oracle hash compare stays bit-exact.
  * A null array or any null element yields null, matching the HOF
  * null propagation.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects ARRAY<DOUBLE> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def dataType: DataType = DoubleType

  // a null ELEMENT nulls the result even when both array inputs are
  // non-null — the default child-derived nullability would let codegen
  // elide the isNull slot and silently emit 0.0
  override def nullable: Boolean = true

  override def prettyName: String = "graft_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Fused cosine similarity: ab / (√aa · √bb) with all three
  * accumulators filled in ONE pass over the arrays. The composed form
  * `graft_dot(a,b) / (sqrt(graft_dot(a,a)) * sqrt(graft_dot(b,b)))`
  * traverses each array three times per candidate pair — at 100 TB of
  * pair scoring that is the hot loop, so fusing it is a straight 3×
  * cut in array traffic. Each accumulator adds in the same sequential
  * element order as its standalone fold and the final combination is
  * the same IEEE expression tree, so results are BIT-IDENTICAL to the
  * composed form (and therefore to the DuckDB oracle) — pinned by
  * ExtensionsSpec.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects ARRAY<DOUBLE> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var ab = 0.0
    var aa = 0.0
    var bb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      ab += x * y
      aa += x * x
      bb += y * y
      i += 1
    }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val ab = ctx.freshName("ab")
      val aa = ctx.freshName("aa")
      val bb = ctx.freshName("bb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $ab = 0.0; double $aa = 0.0; double $bb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $x = $a.getDouble($i);
         |  double $y = $b.getDouble($i);
         |  $ab += $x * $y; $aa += $x * $x; $bb += $y * $y;
         |}
         |${ev.value} = $ab / (java.lang.Math.sqrt($aa) * java.lang.Math.sqrt($bb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** |a ∩ b| for two SORTED ARRAY<BIGINT> inputs via a two-pointer
  * merge — the triangle-census hot loop. `array_intersect` builds an
  * OpenHashSet PER ROW (one allocation + rehash per edge, random
  * probes across the larger array); over the ~10⁹-element adjacency
  * stream a 16× corpus feeds through the census, that allocation and
  * cache-miss churn dominated the query. The merge does the same
  * count with zero allocation and strictly sequential access.
  * PRECONDITION: both arrays sorted ascending with distinct elements
  * (the adjacency build sorts them) — unsorted input would undercount,
  * so [[graft.operators.GraphOps]] only feeds it `sort_array` output.
  * Null arrays yield null; elements are non-null by construction
  * (collect_list output). */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  // containsNull=true is REJECTED, not null-checked: the merge loop
  // reads elements with getLong, which on a null slot silently returns
  // garbage (wrong count, no error). This expression is registered as
  // a session SQL function, so arbitrary queries can reach it — an
  // analysis-time failure beats a silent wrong answer. Every intended
  // call site produces containsNull=false arrays (sort_array over
  // collect_list / array_distinct output).
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(LongType, containsNull) => !containsNull
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_sorted_intersect_count expects ARRAY<BIGINT> inputs with " +
        s"non-nullable elements, got ${left.dataType} / ${right.dataType}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_sorted_intersect_count"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (na, nb) = (a.numElements(), b.numElements())
    var cnt = 0L
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { cnt += 1L; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val cnt = ctx.freshName("cnt")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |long $cnt = 0L;
         |int $i = 0;
         |int $j = 0;
         |while ($i < $na && $j < $nb) {
         |  long $x = $a.getLong($i);
         |  long $y = $b.getLong($j);
         |  if ($x == $y) { $cnt++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** |a ∩ b| with a THRESHOLD EARLY-EXIT, for two SORTED ARRAY<STRING>
  * inputs — the PPJoin verify hot loop. The two-pointer merge carries
  * the lossless invariant `count_so_far + min(remaining_a,
  * remaining_b) >= overlap`, so the moment that bound drops below the
  * required overlap `alpha` the pair is PROVABLY dead and the merge
  * returns −1 (any value < alpha fails the caller's `common >= alpha`
  * filter identically). Pairs that reach alpha finish the merge and
  * return the EXACT count — survivors are bit-identical to
  * `size(array_intersect(a, b))`, which is what keeps the DuckDB
  * oracle hash-exact. vs `array_intersect`: no per-row OpenHashSet
  * allocation, strictly sequential byte-wise UTF8String compares, and
  * most candidate pairs (the overwhelming majority are near-misses by
  * construction of the prefix filter) exit in the first few steps.
  * PRECONDITION: both arrays sorted ascending (binary/UTF8 order, the
  * `sort_array` default) with distinct non-null elements. */
case class SortedIntersectGE(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  // containsNull=true rejected: getUTF8String(i) on a null slot NPEs
  // mid-merge; same registered-SQL-function exposure as
  // [[SortedIntersectCount]], same analysis-time fix
  override def checkInputDataTypes(): TypeCheckResult = {
    def arr(t: DataType): Boolean = t match {
      case ArrayType(StringType, containsNull) => !containsNull
      case _ => false
    }
    if (arr(first.dataType) && arr(second.dataType) &&
        third.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_sorted_intersect_ge expects (ARRAY<STRING> with non-nullable " +
        "elements, ARRAY<STRING> with non-nullable elements, BIGINT), got " +
        s"${first.dataType} / ${second.dataType} / ${third.dataType}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_sorted_intersect_ge"

  override def nullSafeEval(l: Any, r: Any, t: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val alpha = t.asInstanceOf[Long]
    val (na, nb) = (a.numElements(), b.numElements())
    var cnt = 0L
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      if (cnt + math.min(na - i, nb - j) < alpha) return -1L
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { cnt += 1L; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, t) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val cnt = ctx.freshName("cnt")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |long $cnt = 0L;
         |int $i = 0;
         |int $j = 0;
         |while ($i < $na && $j < $nb) {
         |  if ($cnt + java.lang.Math.min($na - $i, $nb - $j) < $t) {
         |    $cnt = -1L; break;
         |  }
         |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($c == 0) { $cnt++; $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): SortedIntersectGE =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object VectorExpressions {
  /** Register `graft_dot` / `graft_cosine` /
    * `graft_sorted_intersect_count` in the session's function registry
    * so plain SQL/expr strings can use them (idempotent; called per
    * query build).
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", exprs => DotProduct(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_cosine", exprs => CosineSimilarity(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_sorted_intersect_count",
      exprs => SortedIntersectCount(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_sorted_intersect_ge",
      exprs => SortedIntersectGE(exprs(0), exprs(1), exprs(2)), "scala_udf")
  }
}
