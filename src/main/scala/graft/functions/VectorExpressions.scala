package org.apache.spark.sql.graftfn

// This file lives under org.apache.spark.sql so it can use the
// private[sql] Column↔Expression bridge (classic.ExpressionUtils) and
// type-coercion traits — the standard pattern for Spark-native extension
// libraries. Engine-facing API is re-exported via graft.ext.Similarity.

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType}

/** Custom Catalyst expression for the similarity hot path.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) express a dot
  * product correctly but are CodegenFallback: every element evaluation is
  * an interpreted expression-tree walk with boxing (~20µs per 64-dim pair
  * observed). At 100 TB the pairwise scorer is the single hottest loop in
  * the engine, so it gets a native expression with `doGenCode` — a tight
  * primitive `double` loop inside whole-stage codegen, no allocation.
  *
  * Summation order is left-to-right, identical to the HOF formulation and
  * to the DuckDB oracle's `list_sum(list_transform(...))`, so results stay
  * bit-for-bit comparable.
  */
case class DotProductF64(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** `Column` wrapper: codegen'd dot product of two array<double> columns. */
  def dotProduct(a: Column, b: Column): Column =
    ExpressionUtils.column(
      DotProductF64(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}
