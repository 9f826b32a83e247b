package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, LongType}

/** Native integer dot product over two int8 code columns
  * (`array<tinyint>`, codes in -128..127 encoding unsigned levels
  * code+128 in 0..255): returns `sum_i (a_i+128)*(b_i+128)` as a long.
  *
  * This is the hot inner loop of the quantized all-pairs pre-filter
  * ([[graft.similarity.Cosine.nearDupPairs]]): per PAIR it runs pure
  * int arithmetic over one-byte codes — an ~8x narrower read than the
  * float64 vectors and integer multiply-adds instead of FP — and the
  * true dequantized dot is then reconstructed algebraically from this
  * one sum plus per-VECTOR scalars (see the call site), so the O(n²)
  * pair stage never touches a double array. Max value 64*255*255 fits
  * comfortably in int; long out for headroom at any dimension.
  */
case class QuantDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(ByteType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"quant_dot expects (array<tinyint>, array<tinyint>), " +
      s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "quant_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) throw new IllegalArgumentException(
      s"quant_dot: length mismatch ($n vs ${y.numElements()})")
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += (x.getByte(i) + 128) * (y.getByte(i) + 128)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) throw new IllegalArgumentException(
         |  "quant_dot: length mismatch (" + $n + " vs " + $b.numElements() + ")");
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (($a.getByte($i)) + 128) * (($b.getByte($i)) + 128);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object QuantDotFunction {
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "quant_dot", exprs => QuantDot(exprs(0), exprs(1)), "built-in")

  /** Column front door: builds the expression directly, so a call never
    * touches the session's function registry (`spark` is unused). */
  def quant_dot(spark: SparkSession, a: Column, b: Column): Column =
    column(QuantDot(expression(a), expression(b)))
}
