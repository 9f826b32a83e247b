package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced interval: the benchmark's own span around a call into a
  * layer. `parent` is the enclosing span's id (0 at the op level). */
final case class Span(id: Int, parent: Int, opId: Long, name: String,
                      layer: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One client operation. `cls` is "op" (the workload's frequent call)
  * or "step" (its periodic heavier call); both feed the end-to-end
  * percentiles, the traced ones also the per-layer figures. */
final case class OpRec(id: Long, kind: String, cls: String, traced: Boolean,
                       startMs: Long, endMs: Long, wallMs: Double, ok: Boolean)

/** Spark jobs, tasks and bytes attributed to one op through the
  * `perfbench.op` local property the harness sets around every call. */
final class OpSpark {
  var jobs = 0
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
}

/** Thrown by a failed output check; the message names the check. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** The closed-loop client's bookkeeping: times every op, records spans
  * and Spark activity for traced ops, and counts failures.
  *
  * When `tracing` is on, the caller alternates traced and bare cycles
  * of iterations (`tracedIteration`): traced ones run with spans, the
  * listener's attribution and counter probes. The ratio of their op
  * medians is the tracing overhead, measured in the same process on the
  * same evolving state. */
final class Harness(val spark: SparkSession, val tracing: Boolean) {
  import Harness._

  private val sc = spark.sparkContext
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Only ops issued while `timed` is set enter the samples. */
  var timed = false
  /** Whether ops of the current iteration are traced. */
  var tracedIteration = false
  val ops = ArrayBuffer.empty[OpRec]
  val spans = ArrayBuffer.empty[Span]
  private var opSeq = 0L
  private var spanSeq = 0
  private var stack: List[Int] = Nil
  private var curOp = 0L
  private var curTraced = false
  /** Whether the most recent op was traced: counter probes follow it. */
  var lastTraced = false
  var heapPeakBytes = 0L

  private val perOp = mutable.HashMap.empty[Long, OpSpark]
  private val jobOp = mutable.HashMap.empty[Int, (Long, Long)]
  private val stageOp = mutable.HashMap.empty[Int, Long]

  if (tracing) sc.addSparkListener(new SparkListener {
    private def rec(op: Long): OpSpark = perOp.getOrElseUpdate(op, new OpSpark)
    override def onJobStart(js: SparkListenerJobStart): Unit = Harness.this.synchronized {
      Option(js.properties).flatMap(p => Option(p.getProperty(OpProp)))
        .map(_.toLong).foreach { op =>
          jobOp(js.jobId) = (op, js.time)
          js.stageIds.foreach(s => stageOp(s) = op)
          rec(op).jobs += 1
        }
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = Harness.this.synchronized {
      jobOp.remove(je.jobId).foreach { case (op, t0) =>
        rec(op).jobIntervals += ((t0, je.time))
      }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = Harness.this.synchronized {
      stageOp.get(te.stageId).foreach { op =>
        val r = rec(op)
        r.tasks += 1
        Option(te.taskMetrics).foreach { m =>
          r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          r.inputBytes += m.inputMetrics.bytesRead
          r.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }
  })

  /** Whether the op now running records spans and probes. */
  def tracingNow: Boolean = curTraced

  /** Run one client op; a throw or a failed check counts against it. */
  def op[T](kind: String, cls: String)(body: => T): Option[T] = {
    opSeq += 1
    val id = opSeq
    curOp = id
    curTraced = tracing && timed && tracedIteration
    attempted += 1
    if (curTraced) sc.setLocalProperty(OpProp, id.toString)
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try Some(span(kind, "client")(body)) catch {
      case NonFatal(e) => recordFailure(s"$kind: ${describe(e)}"); None
    }
    val wall = (System.nanoTime() - t0) / 1e6
    val m1 = System.currentTimeMillis()
    sc.setLocalProperty(OpProp, null)
    val rt = Runtime.getRuntime
    heapPeakBytes = math.max(heapPeakBytes, rt.totalMemory() - rt.freeMemory())
    if (timed) ops += OpRec(id, kind, cls, curTraced, m0, m1, wall, out.isDefined)
    lastTraced = curTraced
    curOp = 0L
    curTraced = false
    out
  }

  /** A span around a call into `layer`, recorded only inside a traced
    * op of the timed window. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!curTraced) body
    else {
      spanSeq += 1
      val id = spanSeq
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, curOp, name, layer, t0, System.nanoTime())
      }
    }

  /** An output check: counted as attempted, and as failed (naming the
    * check) when `ok` is false. Inside an op it also fails that op. */
  def check(name: String, ok: Boolean, detail: => String): Unit =
    if (!ok) {
      val msg = s"check $name failed: $detail"
      if (curOp != 0L) throw new CheckFailed(msg)
      attempted += 1
      recordFailure(msg)
    } else if (curOp == 0L) attempted += 1

  private def recordFailure(msg: String): Unit = {
    failed += 1
    failures += msg
    System.err.println(s"perfbench: FAILED $msg")
  }

  /** Job/task/byte counts of a traced op; call after [[drainListener]]. */
  def sparkOf(opId: Long): OpSpark = synchronized(perOp.getOrElse(opId, new OpSpark))

  def drainListener(): Unit = if (tracing) org.apache.spark.PerfbenchBus.drain(sc)
}

object Harness {
  val OpProp = "perfbench.op"

  def describe(e: Throwable): String = e match {
    case c: CheckFailed => c.getMessage
    case _ => s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
  }

  /** Total length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Linear-interpolated percentile (the numpy default); NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}
