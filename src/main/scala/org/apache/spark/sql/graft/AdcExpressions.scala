// In the org.apache.spark.sql package tree for the same reason as
// VectorExpressions: Column construction over custom Expressions.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.BinaryExpression
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

private[graft] object AdcKernelUtil {
  /** The fold [[AdcSumFlat]]'s eval and generated code both call. */
  def sumFlat(codes: ArrayData, tbl: ArrayData, k: Int): Long = {
    val len = tbl.numElements()
    var sum = 0L
    var c = 0
    val n = codes.numElements()
    while (c < n) {
      if (!codes.isNullAt(c)) {
        val row = codes.getStruct(c, 2)
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val slot = row.getInt(0) * k + row.getInt(1)
          if (slot < 0 || slot >= len) {
            throw new ArrayIndexOutOfBoundsException(
              s"adc_sum_flat: code slot $slot outside the " +
                s"$len-entry table — codes paired with a mismatched " +
                "codebook")
          }
          if (!tbl.isNullAt(slot)) sum += tbl.getLong(slot)
        }
      }
      c += 1
    }
    sum
  }
}

/** Native ADC scoring kernel (round 20).
  *
  * The PQ/IVF-PQ scoring fold was a higher-order `aggregate` over the
  * packed (j, r) code array with two nested `element_at` lookups per
  * entry — `ArrayAggregate` is CodegenFallback, so every (query,
  * candidate) row of the ADC scan paid an INTERPRETED m-step lambda
  * fold (the same per-element interpretation that made the HOF argmax
  * 4× slower than [[VecArgmaxCos]]). This kernel is the codegen'd
  * twin over a FLAT [j·K + r] table: one tight loop per candidate
  * row, one array deref per code entry. The loop is written once, in
  * [[AdcKernelUtil.sumFlat]]; `eval` and `doGenCode` both call it.
  *
  * Contract, mirroring the HOF fold it replaces entry by entry:
  * the sum starts at 0 and adds table(j·K + r) for each code entry
  * left to right (exact long arithmetic — order-independent anyway);
  * a NULL code entry, NULL j/r field, or NULL table cell contributes
  * 0 (the old `coalesce(element_at(...), 0)`); an address outside
  * the table FAILS LOUDLY (the old ANSI `element_at` out-of-range
  * error — mismatched codebook/codes pairs are corrupted input).
  * NULL codes or NULL table → NULL row (nullSafeCodeGen; the old
  * fold returned 0 for a NULL table under a non-null code array, but
  * no builder produces one — the tables subtree is a non-null
  * aggregate output).
  */
case class AdcSumFlat(codes: Expression, tbl: Expression, k: Int)
    extends BinaryExpression {
  require(k >= 1, "codebookK must be positive")

  override def left: Expression = codes
  override def right: Expression = tbl
  override def prettyName: String = "adc_sum_flat"
  override def nullable: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    val ok = codes.dataType.isInstanceOf[ArrayType] &&
      codes.dataType.asInstanceOf[ArrayType].elementType
        .isInstanceOf[StructType] && {
        val st = codes.dataType.asInstanceOf[ArrayType].elementType
          .asInstanceOf[StructType]
        st.fields.length == 2 &&
          st.fields(0).dataType == IntegerType &&
          st.fields(1).dataType == IntegerType
      } && tbl.dataType == ArrayType(LongType, true) ||
      tbl.dataType == ArrayType(LongType, false)
    if (ok) TypeCheckSuccess
    else TypeCheckFailure("adc_sum_flat(codes: array<struct<j: int, " +
      "r: int>>, tbl: array<bigint>)")
  }

  override def nullSafeEval(cs: Any, tb: Any): Any =
    AdcKernelUtil.sumFlat(cs.asInstanceOf[ArrayData],
      tb.asInstanceOf[ArrayData], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cs, tb) =>
      s"${ev.value} = org.apache.spark.sql.graft.AdcKernelUtil" +
        s".sumFlat($cs, $tb, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcSumFlat =
    copy(codes = newLeft, tbl = newRight)
}

/** Column wrapper (the VectorColumns pattern). */
object AdcColumns {
  def adc_sum_flat(codes: Column, tbl: Column, k: Int): Column =
    ExpressionUtils.column(AdcSumFlat(
      ExpressionUtils.expression(codes), ExpressionUtils.expression(tbl), k))
}
