package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Native sketch expressions over token/shingle arrays.
  *
  * Both replace an explode → groupBy(doc_id) aggregation — i.e., a full
  * shuffle of the tokenized corpus — with a per-row codegen'd loop: the
  * signature of a document never leaves its task. (The explode shape
  * remains the right call when single documents are so large that one
  * row's work dominates a task; for LLM-corpus documents the per-row form
  * wins by a shuffle.)
  *
  * Hashing matches Spark's `xxhash64` exactly (XXH64, seed 42, per-arg
  * chaining), so these are drop-in equal to the Column-API formulations.
  */
object SketchHash {
  /** xxhash64(str) — seed 42 over UTF8 bytes. */
  def hashString(s: UTF8String, seed: Long = 42L): Long =
    XXH64.hashUTF8String(s, seed)
  /** xxhash64(str, i) — chained: hashLong(i, hashString(str)). */
  def hashStringLong(s: UTF8String, i: Long): Long =
    XXH64.hashLong(i, hashString(s))
}

/** 64-bit SimHash of an `array<string>` token set → long. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h = SketchHash.hashString(arr.getUTF8String(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val counts = ctx.freshName("counts"); val i = ctx.freshName("i")
      val b = ctx.freshName("b"); val h = ctx.freshName("h")
      val n = ctx.freshName("n"); val out = ctx.freshName("out")
      s"""
         |int[] $counts = new int[64];
         |int $n = $v.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = graft.functions.SketchHash.hashString($v.getUTF8String($i), 42L);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >>> $b) & 1L) == 1L) $counts[$b]++; else $counts[$b]--;
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 64; $b++) if ($counts[$b] > 0) $out |= (1L << $b);
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature of an `array<string>` shingle set → array<long> of
  * `numPerm` minima of xxhash64(shingle, perm). */
case class MinHashSig(child: Expression, numPerm: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = Array.fill(numPerm)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h1 = SketchHash.hashString(s)
      var p = 0
      while (p < numPerm) {
        val h = XXH64.hashLong(p.toLong, h1)
        if (h < out(p)) out(p) = h
        p += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out"); val i = ctx.freshName("i")
      val p = ctx.freshName("p"); val h1 = ctx.freshName("h1")
      val h = ctx.freshName("h"); val n = ctx.freshName("n")
      s"""
         |long[] $out = new long[$numPerm];
         |java.util.Arrays.fill($out, Long.MAX_VALUE);
         |int $n = $v.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h1 = graft.functions.SketchHash.hashString($v.getUTF8String($i), 42L);
         |  for (int $p = 0; $p < $numPerm; $p++) {
         |    long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong((long) $p, $h1);
         |    if ($h < $out[$p]) $out[$p] = $h;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of positions where two equal-length `array<bigint>` signatures
  * agree — the MinHash Jaccard estimator numerator. Native loop instead
  * of `size(filter(zip_with(...)))`, which allocates two arrays and
  * dispatches two lambdas per pair, interpreted. */
case class SigAgreement(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sig_agreement expects (array<bigint>, array<bigint>)")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sig_agreement"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0; var i = 0
    while (i < n) { if (x.getLong(i) == y.getLong(i)) c += 1; i += 1 }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SketchFunctions {
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64", exprs => SimHash64(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sig",
      exprs => MinHashSig(exprs(0), exprs(1).eval().asInstanceOf[Int]), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sig_agreement", exprs => SigAgreement(exprs(0), exprs(1)), "built-in")
  }
  /** Column front doors: build the expression directly, so a call never
    * touches the session's function registry (`spark` is unused). */
  def simhash64(spark: SparkSession, tokens: Column): Column =
    column(SimHash64(expression(tokens)))
  def minhash_sig(spark: SparkSession, shingles: Column, numPerm: Int): Column =
    column(MinHashSig(expression(shingles), numPerm))
  def sig_agreement(spark: SparkSession, a: Column, b: Column): Column =
    column(SigAgreement(expression(a), expression(b)))
}
