package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** |A ∩ B| of two SORTED, DISTINCT string arrays — the exact-Jaccard /
  * containment verify kernel (optimization guide step 4).
  *
  * Replaces `size(array_intersect(set_a, set_b))`, which builds a hash
  * set AND materializes the intersection array per candidate pair just
  * to count it — the dedup verify stage evaluates this once per
  * candidate pair, the hottest per-row site after shingling
  * (a per-job profile: 8.45 CPU-s in tau_sweep's verify stage alone at
  * sf0.1). On the docShingleSets contract (sort_array(array_distinct(
  * shingles)) — every caller's input) a two-pointer merge counts the
  * intersection with zero allocation.
  *
  * PRECONDITION: both inputs ascending-sorted (sort_array order:
  * nulls FIRST, then binary UTF8 order) with distinct elements —
  * exactly what docShingleSets emits. Inputs violating the ordering
  * produce an undercount, never an error; keep this expression behind
  * the shingle-set frames.
  *
  * Parity with size(array_intersect(a, b)) on the contract inputs:
  * counts each common element once; a null element common to both
  * sides counts once (array_intersect's null-safe matching); null
  * ARRAY → null (BinaryExpression null-intolerance, same as size(
  * array_intersect) returning null... size(null) is -1 under legacy
  * conf but null under spark.sql.legacy.sizeOfNull=false, the 3.x+
  * default this repo runs with). IntersectCountSortedSpec pins all of
  * it against the declarative form on the real corpus.
  */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<string> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "intersect_count_sorted"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0
    // nulls sort first under sort_array: count a shared null once,
    // then skip every leading null on both sides
    var xn = 0; while (xn < nx && x.isNullAt(xn)) xn += 1
    var yn = 0; while (yn < ny && y.isNullAt(yn)) yn += 1
    if (xn > 0 && yn > 0) c += 1
    i = xn; j = yn
    while (i < nx && j < ny) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val cmp = ctx.freshName("cmp")
      val xn = ctx.freshName("xn"); val yn = ctx.freshName("yn")
      s"""
         |final int $nx = $a.numElements();
         |final int $ny = $b.numElements();
         |int $c = 0;
         |int $xn = 0; while ($xn < $nx && $a.isNullAt($xn)) $xn++;
         |int $yn = 0; while ($yn < $ny && $b.isNullAt($yn)) $yn++;
         |if ($xn > 0 && $yn > 0) $c++;
         |int $i = $xn; int $j = $yn;
         |while ($i < $nx && $j < $ny) {
         |  final int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCountSorted =
    copy(left = newLeft, right = newRight)
}

object IntersectCountSorted {
  /** Column API over two sorted-distinct array<string> columns. */
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(IntersectCountSorted(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}
