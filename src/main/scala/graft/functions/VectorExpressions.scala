package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the ANN hot loop: Σ aᵢ·bᵢ over two
  * `array<float>` columns with double accumulation in array order.
  *
  * Chosen over `aggregate(zip_with(...))` (which materializes a zipped
  * array and runs two higher-order-function interpreters per row) per the
  * custom-operator preference order: compose built-ins → custom
  * `Expression` with `doGenCode` → full plan nodes. The generated code is a
  * tight primitive loop that stays inside whole-stage codegen; identical
  * float→double summation order keeps results bit-equal to the
  * higher-order-function form (oracle parity preserved).
  */
case class FloatVecDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
  : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects array<float>, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}_acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}_acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  /** Column API for [[FloatVecDot]]. */
  def vec_dot(a: Column, b: Column): Column =
    GraftExpressionBridge.column(FloatVecDot(
      GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))
}
