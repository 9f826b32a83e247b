package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Random-hyperplane LSH signature: maps an `array<double>` vector to
  * `tables` bucket ids, each the packed sign bits of `bits` projections
  * onto deterministic ±1 hyperplanes (inline LCG — same sequence in eval
  * and codegen, no literals to carry).
  *
  * Why a native expression: the declarative form is tables × bits
  * expanded dot products (24 × 64 = 1536-term trees) whose generated code
  * takes tens of seconds for janino to compile; this emits one small
  * 3-level loop instead — microseconds per row, millisecond compile.
  */
case class HyperplaneSig(child: Expression, tables: Int, bits: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig expects array<double>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_sig"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var j = 0
      while (j < bits) {
        var state = (t.toLong * 1000003 + j * 7919 + 12345) & 0x7fffffffL
        var dot = 0.0
        var i = 0
        while (i < n) {
          state = (state * 1103515245L + 12345L) & 0x7fffffffL
          val h = if ((state & 1L) == 1L) 1.0 else -1.0
          dot += v.getDouble(i) * h
          i += 1
        }
        if (dot >= 0) bucket |= (1L << j)
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n"); val out = ctx.freshName("out")
      val t = ctx.freshName("t"); val j = ctx.freshName("j")
      val i = ctx.freshName("i"); val st = ctx.freshName("st")
      val dot = ctx.freshName("dot"); val bkt = ctx.freshName("bkt")
      s"""
         |int $n = $v.numElements();
         |long[] $out = new long[$tables];
         |for (int $t = 0; $t < $tables; $t++) {
         |  long $bkt = 0L;
         |  for (int $j = 0; $j < $bits; $j++) {
         |    long $st = (((long) $t) * 1000003L + $j * 7919L + 12345L) & 0x7fffffffL;
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $st = ($st * 1103515245L + 12345L) & 0x7fffffffL;
         |      $dot += $v.getDouble($i) * ((($st & 1L) == 1L) ? 1.0 : -1.0);
         |    }
         |    if ($dot >= 0) $bkt |= (1L << $j);
         |  }
         |  $out[$t] = $bkt;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneSigFunction {
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hyperplane_sig",
      exprs => HyperplaneSig(exprs(0),
        exprs(1).eval().asInstanceOf[Int], exprs(2).eval().asInstanceOf[Int]),
      "built-in")

  /** Column front door: builds the expression directly, so a call never
    * touches the session's function registry (`spark` is unused). */
  def hyperplane_sig(spark: SparkSession, v: Column, tables: Int, bits: Int): Column =
    column(HyperplaneSig(expression(v), tables, bits))
}
