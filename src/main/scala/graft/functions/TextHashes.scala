package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native text-hash kernels. The declarative forms — `aggregate` over
  * `regexp_extract_all(text, '.')` for the rolling hash, `transform` +
  * `array_min` over split tokens for the window minimum — evaluate their
  * lambdas interpreted per character/token (measured 3.2 s at sf0.1,
  * 12 s at sf1 for text_fingerprint_roll); these run the same loops as
  * tight JVM code called once per row from generated code. */
object TextHashes {

  val Mod = 1000000007L
  val Seed = 7L
  val Base = 131L

  /** Polynomial rolling hash over the text's code points, excluding line
    * terminators (mirrors the non-DOTALL `'.'` extraction the
    * declarative form used). */
  def rollingHash(s: UTF8String): Long = {
    val str = s.toString
    var acc = Seed
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      val lineTerm = cp == '\n' || cp == '\r' || cp == 0x85 ||
        cp == 0x2028 || cp == 0x2029
      if (!lineTerm) acc = (acc * Base + cp) % Mod
    }
    acc
  }

  /** Min over shared-tokenizer tokens ([[TextShingles.tokenize]], the
    * round-9 unicode split) of xxhash64(token, seed 42). A token-less
    * (all-punctuation) doc returns Long.MaxValue — a stable sentinel. */
  def tokenMinHash(s: UTF8String): Long = {
    val toks = TextShingles.tokenize(s.toString)
    var best = Long.MaxValue
    var i = 0
    while (i < toks.length) {
      val b = UTF8String.fromString(toks(i))
      val h = XXH64.hashUnsafeBytes(b.getBaseObject, b.getBaseOffset, b.numBytes(), 42L)
      if (h < best) best = h
      i += 1
    }
    best
  }
}

sealed abstract class TextHashExpr extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
}

case class RollingHash(child: Expression) extends TextHashExpr {
  override def prettyName: String = "rolling_hash"
  override def nullSafeEval(input: Any): Any =
    TextHashes.rollingHash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.rollingHash($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class TokenMinHash(child: Expression) extends TextHashExpr {
  override def prettyName: String = "token_min_hash"
  override def nullSafeEval(input: Any): Any =
    TextHashes.tokenMinHash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.tokenMinHash($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextHashFunctions {
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_hash", exprs => RollingHash(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "token_min_hash", exprs => TokenMinHash(exprs.head), "built-in")
  }
  /** Column front doors: build the expression directly, so a call never
    * touches the session's function registry (`spark` is unused). */
  def rolling_hash(spark: SparkSession, text: Column): Column =
    column(RollingHash(expression(text)))
  def token_min_hash(spark: SparkSession, text: Column): Column =
    column(TokenMinHash(expression(text)))
}
