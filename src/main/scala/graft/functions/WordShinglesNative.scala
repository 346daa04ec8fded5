package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: word k-shingles of a token array,
  * computed IN-ROW — the shingling kernel under the whole dedup / KN
  * n-gram / winnowing / decontam family.
  *
  * Replaces (bit-for-bit) the higher-order-function column form
  *
  *   when(size(toks) >= k,
  *     transform(sequence(0, size(toks) - k),
  *       i => concat_ws(" ", slice(toks, i + 1, k)))).otherwise(array())
  *
  * Why an Expression: higher-order functions (`transform`) are
  * INTERPRETED — every shingle position pays a lambda invocation, a
  * `sequence` element, a `slice` that allocates a fresh k-element
  * array, and an expression-tree `concat_ws` eval. That is the same
  * ~10x interpreted-lambda constant factor MinHashSig / SimHash60
  * removed from the signature folds (see Dedup's scaladoc), sitting on
  * the hottest per-row kernel in the repo: EVERY shingle/bigram/
  * trigram/…/fivegram stream derives from this function, usually
  * straight off the corpus scan. The native form emits the shingle
  * array in one primitive loop inside the scan stage's codegen.
  *
  * Parity contract (pinned by WordShinglesSpec against the inlined HOF
  * form): n = |toks| >= k yields n-k+1 shingles, shingle i =
  * concat_ws(" ", toks[i..i+k-1]) (UTF8String.concatWs — same
  * null-element skipping as SQL concat_ws); n < k yields the EMPTY
  * array; a NULL token array also yields the empty array (size(null)
  * is null, so the HOF form's `when` fell through to `otherwise`).
  * The expression is therefore never null (`array()` in both arms). */
case class WordShingles(child: Expression, k: Int) extends WordGrams {

  require(k >= 1 && k <= 64, s"shingle width must be in [1, 64], got $k")

  override def prettyName: String = "word_shingles"
  protected def partial: Boolean = false

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** Native Catalyst expression: the SUFFIX WINDOW of every token
  * position — the up-to-`maxN` tokens starting there, space-joined —
  * in one primitive loop inside the scan stage (WordShingles' kernel
  * with the end-of-array windows kept instead of dropped). It feeds
  * the Kneser-Ney family's one n-gram count frame
  * (QualityModels.ngramWindows), whose every order's k-grams are the
  * k-prefixes of these windows.
  *
  * Contract (pinned by WordShinglesSpec against the HOF form
  * transform(sequence(0, size(toks) - 1),
  *   i => concat_ws(" ", slice(toks, i + 1, maxN)))):
  * n = |toks| tokens yield n windows, window i = concat_ws(" ",
  * toks[i .. min(i + maxN, n) - 1]) — the last maxN − 1 are shorter;
  * a NULL token array yields the empty array, never null. */
case class WordWindows(child: Expression, maxN: Int) extends WordGrams {

  require(maxN >= 1 && maxN <= 64, s"window width must be in [1, 64], got $maxN")

  def k: Int = maxN
  override def prettyName: String = "word_windows"
  protected def partial: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): WordWindows =
    copy(child = newChild)
}

/** The body both in-row n-gram kernels share: type check, the
  * never-null array result, and one interpreted/codegen entry point
  * (WordShingles.compute). */
sealed abstract class WordGrams extends UnaryExpression {
  def k: Int
  /** Whether positions closer than k to the end emit their shorter
    * window (WordWindows) or nothing (WordShingles). */
  protected def partial: Boolean

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  // null/short inputs produce the EMPTY array (the HOF form's
  // otherwise(array()) arm), so the result itself is never null
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    WordShingles.compute(
      if (v == null) null else v.asInstanceOf[ArrayData], k, partial)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.WordShingles.compute(
            ${c.isNull} ? null : ${c.value}, $k, $partial);
      """,
      isNull = FalseLiteral)
  }
}

object WordShingles {

  /** Column API: word_shingles(toks, k) → array<string>. */
  def apply(toks: Column, k: Int): Column =
    GraftBridge.column(WordShingles(GraftBridge.expression(toks), k))

  private val SEP = UTF8String.fromString(" ")
  private val EMPTY = new GenericArrayData(Array.empty[Any])

  /** Shared by the interpreted and codegen paths of both kernels
    * (called from generated Java — keep the signature Java-friendly).
    * Null input → the shared empty array; otherwise one k-token string
    * per position with k tokens ahead, plus, when `partial`, the
    * shorter windows of the last k − 1 positions. */
  def compute(a: ArrayData, k: Int, partial: Boolean): ArrayData = {
    if (a == null) return EMPTY
    val n = a.numElements()
    val m = if (partial) n else n - k + 1
    if (m <= 0) return EMPTY
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (a.isNullAt(i)) null else a.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](m)
    var parts = new Array[UTF8String](k)
    i = 0
    while (i < m) {
      if (n - i < parts.length) parts = new Array[UTF8String](n - i)
      var j = 0
      while (j < parts.length) { parts(j) = toks(i + j); j += 1 }
      // concatWs copies bytes, so reusing `parts` across positions is
      // safe; null tokens are skipped exactly like SQL concat_ws
      out(i) = UTF8String.concatWs(SEP, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

object WordWindows {

  /** Column API: word_windows(toks, maxN) → array<string>. */
  def apply(toks: Column, maxN: Int): Column =
    GraftBridge.column(WordWindows(GraftBridge.expression(toks), maxN))
}
