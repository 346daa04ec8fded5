package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst kernels for the exact-integer vector arithmetic the
  * PQ / ADC / anisotropy operators fold per row (optimization guide
  * step 4: no interpreted expressions in the hot path).
  *
  * Each replaces a declarative higher-order-function composition —
  * `aggregate(zip_with(a, b, f), 0L, _+_)` and friends — which Spark
  * evaluates as an INTERPRETED lambda per element plus a materialized
  * intermediate array per row (ZipWith/ArrayAggregate are
  * CodegenFallback). A per-job profile traced the PQ encode/train argmin jobs
  * (320k (vec, sub, code) rows at sf0.1) to exactly these folds. The
  * native forms emit one primitive loop into whole-stage codegen, no
  * per-row allocation.
  *
  * Bit-parity contract (oracle hashes must not move):
  *  - integer sums are order-independent; the double accumulator in
  *    [[SumSqLongAsDouble]] adds in ascending index order — exactly the
  *    left-to-right fold order of the HOF form and of DuckDB list_sum;
  *  - Java long arithmetic wraps identically to the non-ANSI Catalyst
  *    Add/Multiply the lambdas evaluate (inputs are design-bounded
  *    < 2^53 anyway);
  *  - null semantics match the HOF composition exactly: null array →
  *    null; ANY null element → null; LENGTH MISMATCH → null (zip_with
  *    null-pads the shorter side, nulling the fold) for the binary
  *    kernels; empty arrays → 0.
  */
private[graft] trait LongArrayPair { self: BinaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  // length mismatch / null element → null even for non-nullable children
  override def nullable: Boolean = true
}

/** Σ aᵢ·bᵢ over two array<long> — the exact-integer dot product.
  * Replaces aggregate(zip_with(a, b, (x, y) => x*y), 0L, _+_). */
case class DotLong(left: Expression, right: Expression)
    extends BinaryExpression with LongArrayPair {
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var j = 0
    while (j < n) {
      if (x.isNullAt(j) || y.isNullAt(j)) return null
      j += 1
    }
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val bad = ctx.freshName("bad")
      val j = ctx.freshName("j")
      s"""
         |final int $n = $a.numElements();
         |boolean $bad = ($n != $b.numElements());
         |for (int $j = 0; !$bad && $j < $n; $j++) {
         |  $bad = $a.isNullAt($j) || $b.isNullAt($j);
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $a.getLong($i) * $b.getLong($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotLong =
    copy(left = newLeft, right = newRight)
}

object DotLong {
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(DotLong(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** Σ (aᵢ−bᵢ)² over two array<long> — the exact-integer squared L2
  * distance of the PQ argmin. Replaces
  * aggregate(zip_with(a, b, (x, y) => (x−y)*(x−y)), 0L, _+_). */
case class SqDistLong(left: Expression, right: Expression)
    extends BinaryExpression with LongArrayPair {
  override def dataType: DataType = LongType
  override def prettyName: String = "sqdist_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var j = 0
    while (j < n) {
      if (x.isNullAt(j) || y.isNullAt(j)) return null
      j += 1
    }
    var s = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i); s += d * d; i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      val bad = ctx.freshName("bad"); val j = ctx.freshName("j")
      s"""
         |final int $n = $a.numElements();
         |boolean $bad = ($n != $b.numElements());
         |for (int $j = 0; !$bad && $j < $n; $j++) {
         |  $bad = $a.isNullAt($j) || $b.isNullAt($j);
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final long $d = $a.getLong($i) - $b.getLong($i);
         |    $s += $d * $d;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistLong =
    copy(left = newLeft, right = newRight)
}

object SqDistLong {
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(SqDistLong(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** Σ aᵢ² over one array<long>, as LONG — the exact-integer norm².
  * Replaces aggregate(a, 0L, (acc, x) => acc + x*x). */
case class SumSqLong(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> argument, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "sumsq_long"
  override def nullable: Boolean = true // a null ELEMENT nulls the fold

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var j = 0
    while (j < n) {
      if (x.isNullAt(j)) return null
      j += 1
    }
    var s = 0L
    var i = 0
    while (i < n) { val v = x.getLong(i); s += v * v; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val v = ctx.freshName("v")
      val bad = ctx.freshName("bad"); val j = ctx.freshName("j")
      s"""
         |final int $n = $a.numElements();
         |boolean $bad = false;
         |for (int $j = 0; !$bad && $j < $n; $j++) {
         |  $bad = $a.isNullAt($j);
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final long $v = $a.getLong($i);
         |    $s += $v * $v;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SumSqLong =
    copy(child = newChild)
}

object SumSqLong {
  def apply(a: Column): Column =
    GraftBridge.column(SumSqLong(GraftBridge.expression(a)))
}

/** Σ (double)aᵢ · (double)aᵢ over one array<long>, accumulated in
  * DOUBLE in ascending index order — bit-identical to the declarative
  * aggregate(transform(a, n => n.cast(double) * n.cast(double)), 0.0d,
  * _+_) left-to-right fold (and to DuckDB's list_sum over the same
  * terms), for norms whose squares exceed int64. */
case class SumSqLongAsDouble(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> argument, got ${other.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sumsq_long_double"
  override def nullable: Boolean = true // a null ELEMENT nulls the fold

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var j = 0
    while (j < n) {
      if (x.isNullAt(j)) return null
      j += 1
    }
    var s = 0.0d
    var i = 0
    while (i < n) { val v = x.getLong(i).toDouble; s += v * v; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val v = ctx.freshName("v")
      val bad = ctx.freshName("bad"); val j = ctx.freshName("j")
      s"""
         |final int $n = $a.numElements();
         |boolean $bad = false;
         |for (int $j = 0; !$bad && $j < $n; $j++) {
         |  $bad = $a.isNullAt($j);
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0d;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $v = (double) $a.getLong($i);
         |    $s += $v * $v;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): SumSqLongAsDouble =
    copy(child = newChild)
}

object SumSqLongAsDouble {
  def apply(a: Column): Column =
    GraftBridge.column(SumSqLongAsDouble(GraftBridge.expression(a)))
}
