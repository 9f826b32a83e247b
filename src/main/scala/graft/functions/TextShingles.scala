package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-n-gram shingling. Semantics identical to the declarative
  * `array_distinct(transform(sequence(0, greatest(size(toks)-n, 0)),
  * i -> concat_ws(' ', slice(toks, i+1, n))))` over the SHARED tokenizer
  * ([[graft.text.TextOps.TokenizePattern]]: split on non-letter/digit
  * runs, empties dropped — round 9; short docs contribute their full
  * token span as one shingle, first-occurrence distinct order) — but as
  * one JVM loop per row instead of interpreted lambdas per shingle.
  * Shingling feeds minhash, n-gram Jaccard, and contamination scans,
  * where the lambda interpreter dominated at sf1 (26 s of the
  * contamination query).
  */
object TextShingles {
  // compiled once; identical pattern to TextOps.TokenizePattern (kept
  // literal here to avoid a class-init cycle with the text package)
  private val TokenRe = java.util.regex.Pattern.compile("[^\\p{L}\\p{N}]+")

  def tokenize(s: String): Array[String] =
    TokenRe.split(s, -1).filter(_.nonEmpty)

  def wordNgrams(s: UTF8String, n: Int): ArrayData = {
    val toks = tokenize(s.toString)
    val last = math.max(toks.length - n, 0)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= last) {
      val end = math.min(i + n, toks.length)
      val sb = new java.lang.StringBuilder()
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }
}

object ParagraphWindowsImpl {
  // structural paragraph boundary: a blank line (newline, optional
  // intra-line whitespace, newline) — the conventional paragraph break
  // of crawl text. Round 12: windows never cross one. Round 13: the
  // class is EXPLICIT (`[ \t\r]`, not `\s`) and mirrored VERBATIM in
  // the DuckDB oracle CTE — Java's \s includes U+000B while RE2's does
  // not, so a `\n\x0B\n` sequence split paragraphs on the Spark side
  // only (latent real-text parity trap; token-level segmentation is
  // unchanged for all other inputs because a stray `\n` left inside a
  // segment contributes no tokens).
  private val BoundaryRe = java.util.regex.Pattern.compile("\\n[ \\t\\r]*\\n")

  /** The text's structural segments: split on blank-line runs when any
    * newline is present, the whole text otherwise (break-free corpora —
    * e.g. the synthetic testdata — see EXACTLY the pre-round-12
    * fixed-window behavior). The `indexOf` guard keeps the common
    * no-newline row a zero-regex pass. */
  def segments(s: String): Array[String] =
    if (s.indexOf('\n') < 0) Array(s) else BoundaryRe.split(s, -1)

  /** Consecutive (non-overlapping) `w`-token windows of the shared
    * tokenizer's output, each joined by single spaces; the last window
    * OF EACH SEGMENT may be short (windows respect structural paragraph
    * boundaries — round 12; a document with no blank lines is one
    * segment, the original fixed-window unit); zero tokens → empty
    * array. The paragraph unit of [[graft.text.ParagraphDedup]], as ONE
    * JVM loop per row — the declarative CASE/transform/slice form
    * referenced the token array once per window term, and
    * CollapseProject inlined the full tokenize into every reference
    * (measured at sf10: a 2-task stage re-tokenizing each
    * 500-doc-corpus row ~100×). */
  def windows(s: UTF8String, w: Int): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    segments(s.toString).foreach { seg =>
      val toks = TextShingles.tokenize(seg)
      val n = if (toks.isEmpty) 0 else (toks.length + w - 1) / w
      var i = 0
      while (i < n) {
        val start = i * w
        val end = math.min(start + w, toks.length)
        val sb = new java.lang.StringBuilder()
        var j = start
        while (j < end) {
          if (j > start) sb.append(' ')
          sb.append(toks(j))
          j += 1
        }
        out += UTF8String.fromString(sb.toString)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
}

object ParagraphWindowStatsImpl {
  private val Hex = "0123456789abcdef".toCharArray

  /** `(nt, paras)` — the document's TOTAL token count plus the
    * `(md5, n_tokens)` of every [[ParagraphWindowsImpl.windows]] window
    * (same segment-aware unit), WITHOUT materializing the window text
    * downstream — the funnel's one-pass form: hashing inside the same
    * JVM loop that tokenizes means a curation pipeline carries 36 bytes
    * per window instead of the window's text, and the corpus text is
    * scanned (and tokenized) exactly once — the total rides along so
    * callers drop their separate `size(tokenize(text))` projection
    * (windows partition the token stream, so the total equals the
    * shared tokenizer's count exactly). The hash is bit-identical to
    * `md5(window)` (lowercase hex of the UTF-8 bytes) and per-window
    * `nt` to `size(split(window, ' '))` — windows are non-empty
    * single-space joins of non-empty tokens.
    *
    * Return type is DECLARED as [[InternalRow]] (round 13): the codegen
    * template assigns the call result to a variable of the struct's
    * javaType (`InternalRow`), and Janino REJECTS an Object-typed
    * right-hand side — the round-12 `Any` declaration erased to Object,
    * so whole-stage compilation of every stage containing this
    * expression failed and Spark silently fell back to interpreted
    * execution on the funnel's hottest scan (the unexplained stack
    * trace in the round-12 bench tail). Spec-pinned via a
    * fallback-disabled compile. */
  def windowStats(s: UTF8String, w: Int)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var total = 0
    ParagraphWindowsImpl.segments(s.toString).foreach { seg =>
      val toks = TextShingles.tokenize(seg)
      total += toks.length
      val n = if (toks.isEmpty) 0 else (toks.length + w - 1) / w
      var i = 0
      while (i < n) {
        val start = i * w
        val end = math.min(start + w, toks.length)
        val sb = new java.lang.StringBuilder()
        var j = start
        while (j < end) {
          if (j > start) sb.append(' ')
          sb.append(toks(j))
          j += 1
        }
        md.reset()
        val dg = md.digest(
          sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val hex = new Array[Char](32)
        var b = 0
        while (b < 16) {
          hex(2 * b) = Hex((dg(b) >> 4) & 0xf)
          hex(2 * b + 1) = Hex(dg(b) & 0xf)
          b += 1
        }
        out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](UTF8String.fromString(new String(hex)), end - start))
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](total, new GenericArrayData(out.toArray)))
  }
}

case class ParagraphWindowStats(child: Expression, w: Int)
    extends UnaryExpression {
  require(w >= 1, "window size must be >= 1")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"paragraph_window_stats expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("nt",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("paras", ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("h", StringType, nullable = false),
        org.apache.spark.sql.types.StructField("nt",
          org.apache.spark.sql.types.IntegerType, nullable = false))),
      containsNull = false), nullable = false)))
  override def prettyName: String = "paragraph_window_stats"
  override def nullSafeEval(input: Any): Any =
    ParagraphWindowStatsImpl.windowStats(input.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ParagraphWindowStatsImpl.windowStats($c, $w)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class ParagraphWindows(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, "window size must be >= 1")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"paragraph_windows expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "paragraph_windows"
  override def nullSafeEval(input: Any): Any =
    ParagraphWindowsImpl.windows(input.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ParagraphWindowsImpl.windows($c, $w)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_ngrams expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"
  override def nullSafeEval(input: Any): Any =
    TextShingles.wordNgrams(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextShingles.wordNgrams($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextShingleFunctions {
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_ngrams",
      exprs => WordNgrams(exprs(0), exprs(1).eval().asInstanceOf[Int]), "built-in")
  /** Column front doors: build the expression directly, so a call never
    * touches the session's function registry (`spark` is unused). */
  def word_ngrams(spark: SparkSession, text: Column, n: Int): Column =
    column(WordNgrams(expression(text), n))
  def paragraph_windows(spark: SparkSession, text: Column, w: Int): Column =
    column(ParagraphWindows(expression(text), w))
  def paragraph_window_stats(spark: SparkSession, text: Column, w: Int): Column =
    column(ParagraphWindowStats(expression(text), w))
}
