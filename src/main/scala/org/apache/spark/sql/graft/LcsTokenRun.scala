// This file lives under org.apache.spark.sql (the conventional home for
// third-party Catalyst expressions) because the expression-extension API
// surface (AbstractDataType, ExpressionUtils.column) is private[sql].
// It is graft's code, not Spark's — see the project root for license/origin.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Longest common contiguous TOKEN run over two bounded token windows
  * as a native Catalyst expression, for the exact-substring span
  * verifier (the Lee et al. 2021 step behind `dup_spans_exact`): the
  * rolling-row LCS-run DP has no built-in composition (where the
  * edit-distance verifier has Spark's `levenshtein`), and its first
  * cut as a typed Dataset map walled the pair path behind
  * Deserialize/Serialize (measured 6× of wall-clock on the
  * edit-distance twin's typed first cut). As a plain column the
  * candidate join, the window slices and the DP verdict share one
  * whole-stage-codegen span.
  *
  * Returns `struct(run_len, start_a, start_b, run_text)` — 1-based
  * starts, first-encountered maximum in the (i, j) scan (⇔ smallest
  * `start_a`, then smallest `start_b` on length ties — for a fixed
  * length, smaller end ⇔ smaller start), `(0, 0, 0, '')` when the
  * windows share no token. Token equality is UTF8String byte
  * equality, exactly the String equality of the typed form. */
case class LcsTokenRun(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))

  override def dataType: DataType = LcsTokenRun.Shape

  override def prettyName: String = "graft_lcs_run"

  override def nullSafeEval(a: Any, b: Any): Any =
    LcsTokenRun.run(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.LcsTokenRun.run($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object LcsTokenRun {
  val Shape: StructType = StructType(Seq(
    StructField("run_len", LongType, nullable = false),
    StructField("start_a", LongType, nullable = false),
    StructField("start_b", LongType, nullable = false),
    StructField("run_text", StringType, nullable = false)))

  /** Static kernel shared by the interpreted and codegen paths: the
    * rolling-row DP — `cur(j)` = longest common run ending at a-token
    * i, b-token j (both 1-based); flat int rows, no per-cell
    * allocation; O(window²) bounded by the caller's slice. */
  def run(a: ArrayData, b: ArrayData): InternalRow = {
    val la = a.numElements(); val lb = b.numElements()
    val ta = new Array[UTF8String](la)
    var x = 0
    while (x < la) { ta(x) = a.getUTF8String(x); x += 1 }
    val tb = new Array[UTF8String](lb)
    x = 0
    while (x < lb) { tb(x) = b.getUTF8String(x); x += 1 }
    var prev = new Array[Int](lb + 1); var cur = new Array[Int](lb + 1)
    var best = 0; var bi = 0; var bj = 0
    var i = 1
    while (i <= la) {
      var j = 1
      while (j <= lb) {
        cur(j) = if (ta(i - 1) == tb(j - 1)) prev(j - 1) + 1 else 0
        if (cur(j) > best) { best = cur(j); bi = i - best + 1; bj = j - best + 1 }
        j += 1
      }
      val t = prev; prev = cur; cur = t
      java.util.Arrays.fill(cur, 0)
      i += 1
    }
    val runText =
      if (best > 0) {
        val sb = new java.lang.StringBuilder
        var r = bi - 1
        while (r < bi - 1 + best) {
          if (r > bi - 1) sb.append(' ')
          sb.append(ta(r).toString)
          r += 1
        }
        UTF8String.fromString(sb.toString)
      } else UTF8String.EMPTY_UTF8
    new GenericInternalRow(Array[Any](best.toLong, bi.toLong, bj.toLong, runText))
  }

  /** Column-API surface: `lcsRun(a, b)` over two `array<string>`
    * token windows. */
  def lcsRun(a: Column, b: Column): Column =
    ExpressionUtils.column(LcsTokenRun(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}
