package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitters summary over `array<string>` rows — a
  * MERGEABLE frequent-items sketch (Misra & Gries 1982; mergeability per
  * Agarwal et al., "Mergeable Summaries", PODS 2012) as a native
  * `TypedImperativeAggregate`, the same engine surface Spark's own
  * `hll_sketch_agg` / `approx_percentile` occupy.
  *
  * Why not `explode → groupBy(token) → count`? That shuffles ONE ROW PER
  * TOKEN OCCURRENCE — at 100 TB of text the token stream is ~20× the
  * corpus in rows, and the full token histogram (hundreds of millions of
  * distinct types, Zipf-tailed) is shuffled and materialized only to
  * discard everything below the cutoff. The MG summary keeps `k`
  * counters PER PARTITION, merges in O(k log k), and never shuffles the
  * token stream at all: state is O(k × partitions), independent of both
  * corpus size and vocabulary size.
  *
  * Guarantee (the reason a two-pass exact answer can be built on top):
  * after any sequence of updates and merges totalling N token
  * occurrences, every item with true frequency > N/(k+1) survives in the
  * summary, and each surviving counter underestimates by at most
  * N/(k+1). So for a threshold T ≥ N/(k+1), the summary keys are a
  * SUPERSET of the true ≥T-frequent items — re-counting just those ≤k
  * candidates exactly (a broadcast semi-join, not a vocabulary shuffle)
  * yields the exact heavy-hitter set, deterministically, whatever the
  * partitioning did to the sketch internals.
  *
  * Update is amortized O(1) per token: the decrement-all branch removes
  * k+1 units of total mass and total mass added is N, so it runs at most
  * N/(k+1) times across a partition. Merge follows Agarwal et al.:
  * pointwise-sum both maps, then subtract the (k+1)-th largest counter
  * from every counter and drop the non-positive — error bounds add.
  *
  * Output is `map<string, bigint>` (surviving item → lower-bound count).
  * Register via [[GraftFunctions.mg_sketch]].
  */
case class MisraGries(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[UTF8String, java.lang.Long]] {

  require(k >= 1, s"mg_sketch needs k >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"mg_sketch expects array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = child :: Nil
  override def prettyName: String = "mg_sketch"

  override def createAggregationBuffer(): java.util.HashMap[UTF8String, java.lang.Long] =
    new java.util.HashMap[UTF8String, java.lang.Long](k * 2)

  override def update(
      buf: java.util.HashMap[UTF8String, java.lang.Long],
      input: InternalRow): java.util.HashMap[UTF8String, java.lang.Long] = {
    val arr = child.eval(input)
    if (arr == null) return buf
    val a = arr.asInstanceOf[ArrayData]
    var i = 0
    val n = a.numElements()
    while (i < n) {
      val tok = a.getUTF8String(i)
      if (tok != null) {
        val cur = buf.get(tok)
        if (cur != null) buf.put(tok, cur + 1L)
        else if (buf.size < k) {
          // clone: the UTF8String points into the row's reused buffer
          buf.put(tok.clone(), 1L)
        } else {
          // decrement-all: removes k+1 units of mass, so amortized O(1)
          val it = buf.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1L)
          }
        }
      }
      i += 1
    }
    buf
  }

  override def merge(
      buf: java.util.HashMap[UTF8String, java.lang.Long],
      other: java.util.HashMap[UTF8String, java.lang.Long])
      : java.util.HashMap[UTF8String, java.lang.Long] = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = buf.get(e.getKey)
      buf.put(e.getKey, if (cur == null) e.getValue else cur + e.getValue)
    }
    if (buf.size > k) {
      // subtract the (k+1)-th largest counter from all, drop <= 0
      val values = new Array[Long](buf.size)
      var i = 0
      val vit = buf.values().iterator()
      while (vit.hasNext) { values(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(values)
      val cut = values(buf.size - 1 - k) // (k+1)-th largest
      val eit = buf.entrySet().iterator()
      while (eit.hasNext) {
        val e = eit.next()
        if (e.getValue <= cut) eit.remove() else e.setValue(e.getValue - cut)
      }
    }
    buf
  }

  override def eval(buf: java.util.HashMap[UTF8String, java.lang.Long]): Any = {
    val keys = new Array[Any](buf.size)
    val vals = new Array[Any](buf.size)
    var i = 0
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(i) = e.getKey
      vals(i) = e.getValue.longValue()
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  override def serialize(buf: java.util.HashMap[UTF8String, java.lang.Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val bytes = e.getKey.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(e.getValue)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[UTF8String, java.lang.Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new java.util.HashMap[UTF8String, java.lang.Long](n * 2)
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.put(UTF8String.fromBytes(b), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGries =
    copy(child = newChildren(0))
}

object MisraGries {
  /** Idempotent per-session registration, for SQL use: the analyzer
    * wraps the bare AggregateFunction in an AggregateExpression, exactly
    * as for built-in aggregates. `k` must be a literal int. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "mg_sketch", exprs => {
        val k = exprs(1) match {
          case Literal(i: Int, IntegerType) => i
          case other => throw new IllegalArgumentException(
            s"mg_sketch(col, k): k must be an int literal, got $other")
        }
        MisraGries(exprs(0), k)
      }, "built-in")

  /** Column front door: builds the aggregate expression directly, so a
    * call never touches the session's function registry (`spark` is
    * unused). */
  def mg_sketch(spark: SparkSession, tokens: Column, k: Int): Column =
    column(MisraGries(expression(tokens), k).toAggregateExpression())
}
