package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class Metric(name: String, value: Double, unit: String)

/** Everything a workload needs: the session, the harness, its seed, a
  * private scratch directory inside the checkout, and a directory that
  * keeps reference tables from one run to the next. */
final case class Ctx(spark: SparkSession, h: Harness, seed: Long, work: String,
                     inputs: String, selftest: Set[String]) {
  lazy val gen = new Gen(spark, seed)

  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** The directory of reference tables `name`, written by `make` with
    * the fixed reference seed the first time and reused afterwards. A
    * partial write never becomes visible: it goes to a temporary
    * directory that is renamed into place. */
  def reference(name: String)(make: (Gen, String) => Unit): String = {
    val d = new File(inputs, name)
    if (!d.isDirectory) {
      val tmp = new File(inputs, s"$name.tmp-${ProcessHandle.current().pid()}")
      tmp.mkdirs()
      make(new Gen(spark, Gen.ReferenceSeed), tmp.getAbsolutePath)
      Files.move(tmp.toPath, d.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    d.getAbsolutePath
  }
}

/** A closed-loop workload: one client issues an op only after the
  * previous one returned. */
trait Workload {
  /** Write the seeded input files into `dir` (generator work, untimed). */
  def prepare(dir: String): Unit
  /** Build the tables and indexes into `dir`. */
  def setup(dir: String): Unit
  /** Untimed work after set-up that is not an iteration (indexes, the
    * expected answers). */
  def prewarm(): Unit = ()
  /** Untimed iterations before the timed window, run as `iterate(-1)`,
    * `iterate(-2)`, ...: a fixed count, not a fixed time. */
  def warmupIterations: Int
  /** Iterations per cycle: one of each kind. A traced run traces one
    * cycle, runs the next bare, and so on, so that every kind of
    * iteration is both traced and bare. */
  def traceCycle: Int = 1
  /** Wall seconds of one cycle on the reference machine (4 vCPUs), checks
    * included: `--seconds` divided by this is the number of cycles the
    * timed window runs. */
  def cycleSeconds: Double
  /** One iteration of the closed loop. */
  def iterate(it: Int): Unit
  /** Untimed end-of-run output checks. */
  def finish(): Unit
  /** (op_ms, step_ms, items_per_s) over the timed window. */
  def contract(wallS: Double): (Double, Double, Double)
  /** The metrics users of this workload read, by their own names. */
  def named(wallS: Double): Seq[Metric]
  /** This workload's own per-layer figures (traced run only). */
  def layers(): Seq[Metric]
}

object Workload {
  /** count + bit_xor(xxhash64(row)): an order-independent fingerprint. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(df.columns.map(col): _*)),
      lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The median latency of each op kind starting with `prefix`, and
    * their geometric mean over the kinds: every kind weighs the same
    * whatever its cost, so a run that holds only a few ops of each kind
    * averages the noise of all of them. */
  def kindMedianGeomean(h: Harness, prefix: String): Double =
    Harness.geomean(h.ops.filter(o => o.ok && o.kind.startsWith(prefix)).groupBy(_.kind)
      .values.map(os => Harness.median(os.map(_.wallMs).toSeq)).toSeq)

  /** Materialize through Spark's no-op sink. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv.getOrElse("workload", sys.error("--workload is required"))
    val seed = kv.getOrElse("seed", "1").toLong
    val seconds = kv.getOrElse("seconds", "10").toDouble
    val tracing = kv.getOrElse("trace", "0") == "1"
    val work = new File(kv.getOrElse("work", "perfbench-work")).getAbsolutePath
    val cpus = kv.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val selftest = kv.get("selftest").toSeq.flatMap(_.split(',')).filter(_.nonEmpty).toSet
    val traces = new File(kv.getOrElse("traces", work)).getAbsolutePath
    val inputs = new File(kv.getOrElse("inputs", s"$work/inputs")).getAbsolutePath
    val code = run(workload, seed, seconds, tracing, work, traces, cpus, selftest, inputs)
    System.out.flush()
    System.err.flush()
    // the caller removes the work directory; skip Spark's shutdown hooks
    Runtime.getRuntime.halt(code)
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def make(name: String, c: Ctx): Workload = name match {
    case "elt_report" => new EltReport(c)
    case "cdc_pipeline" => new CdcPipeline(c)
    case other => sys.error(s"unknown workload $other (elt_report, cdc_pipeline)")
  }

  /** One benchmark run; prints the metrics and returns the exit code. */
  def run(workload: String, seed: Long, seconds: Double, tracing: Boolean,
          work: String, traces: String, cpus: Int, selftest: Set[String],
          inputs: String): Int = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus, work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val h = new Harness(spark, tracing)
    val c = Ctx(spark, h, seed, work, inputs, selftest)
    val w = make(workload, c)

    val tp = System.nanoTime()
    w.prepare(c.dir("input"))
    val prepS = (System.nanoTime() - tp) / 1e9
    val ts = System.nanoTime()
    w.setup(c.dir("setup"))
    val tw = System.nanoTime()
    w.prewarm()
    val warmIts = (1 to w.warmupIterations).map { i =>
      val t = System.nanoTime()
      w.iterate(-i)
      (System.nanoTime() - t) / 1e9
    }
    val setupOnlyS = (tw - ts) / 1e9
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + setupOnlyS + warmS

    val calBefore = Calibration.probe(cpus, Calibration.Probes)
    val cache0 = graft.acid.TxLog.parsedCacheStats
    h.timed = true
    val t0 = System.nanoTime()
    // a fixed amount of work sized by `seconds`, not a deadline: a
    // deadline ends the window after one or after two iterations
    // depending on the host's speed, and the second iteration runs on a
    // warmer JVM, which made the figures bimodal. A traced run runs at
    // least two cycles, one traced and one bare, to measure the overhead.
    val cycles = math.max(if (tracing) 2 else 1, math.round(seconds / w.cycleSeconds).toInt)
    var it = 0
    val timedIts = mutable.ArrayBuffer.empty[Double]
    while (it < cycles * w.traceCycle) {
      h.tracedIteration = (it / w.traceCycle) % 2 == 0
      val t = System.nanoTime()
      w.iterate(it)
      timedIts += (System.nanoTime() - t) / 1e9
      it += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    h.timed = false
    val calAfter = Calibration.probe(cpus, Calibration.Probes)
    // the host's speed around the window, as a factor on this run's times
    val calMs = Harness.median(calBefore ++ calAfter)
    val slow = calMs / Calibration.ReferenceMs
    val cache1 = graft.acid.TxLog.parsedCacheStats
    val tf = System.nanoTime()
    w.finish()
    h.drainListener()
    val finishS = (System.nanoTime() - tf) / 1e9

    val (opMs, stepMs, items) = w.contract(wallS)
    val named = Metric("setup_s", setupS, "s") +: w.named(wallS) :+
      Metric("op_error_ratio", h.failed.toDouble / math.max(1L, h.attempted), "ratio")
    System.err.println(f"perfbench: $workload seed=$seed iterations=$it wall=$wallS%.2fs " +
      f"session=$sessionS%.2fs prepare=$prepS%.2fs setup=$setupOnlyS%.2fs warmup=$warmS%.2fs " +
      f"finish=$finishS%.2fs ops=${h.ops.size} warmup_iterations_s=${secs(warmIts)} " +
      f"timed_iterations_s=${secs(timedIts.toSeq)} cal_ms=$calMs%.2f " +
      f"cal_all=${(calBefore ++ calAfter).map(x => f"$x%.1f").mkString("/")}")
    named.foreach(m => println(f"${m.name}%-26s ${fmt(m.value)}%14s ${m.unit}"))

    val metrics =
      if (!tracing) Seq(Metric("setup_s", setupS, "s"), Metric("op_ms", opMs / slow, "ms"),
        Metric("step_ms", stepMs / slow, "ms"), Metric("items_per_s", items * slow, "1/s"))
      else {
        val hits = cache1._1 - cache0._1
        val misses = cache1._2 - cache0._2
        val own = w.layers() ++ Seq(
          Metric("acid.parse_cache_hit_ratio",
            if (hits + misses == 0) 0.0 else hits.toDouble / (hits + misses), "ratio"))
        val all = own ++ Trace.common(h, wallS)
        Trace.writeSpans(h, s"$traces/trace-$workload-$seed.json", workload, seed)
        val byName = all.map(m => m.name -> m).toMap
        Trace.PerLayer.map { case (n, unit) => byName.getOrElse(n, Metric(n, 0.0, unit)) }
      }
    if (h.failures.nonEmpty) {
      System.err.println(s"perfbench: ${h.failures.size} failure(s):")
      h.failures.foreach(f => System.err.println(s"  $f"))
    }
    println(resultJson(h.failed == 0, h.attempted, h.failed, metrics))
    if (h.failed == 0) 0 else 1
  }

  private def secs(xs: Seq[Double]): String = xs.map(t => f"$t%.2f").mkString("/")

  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) f"$v%.0f" else f"$v%.4f"

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def resultJson(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[Metric]): String = {
    val ms = metrics.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  def writeText(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
}

/** A fixed CPU-bound task that uses no graft or Spark code, run on every
  * core: its wall time tracks how fast the host runs this process. The
  * compared op_ms, step_ms and items_per_s are scaled by
  * `ReferenceMs / median probe ms`, so they read as if the host ran at
  * its reference speed. On a shared host whose speed drifts by 20-30%
  * over minutes, this cut the spread of those figures across ten seeds
  * by about a third; the printed named metrics stay unscaled. */
object Calibration {
  /** The probe's median wall ms on the reference machine (4 vCPUs). */
  val ReferenceMs = 120.0
  /** Probes before and again after the timed window. */
  val Probes = 8

  private def spin(n: Int): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < n) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  /** Wall ms of `times` runs of the task, each on `threads` threads. */
  def probe(threads: Int, times: Int): Seq[Double] = (0 until times).map { _ =>
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { _ =>
      val t = new Thread(() => { if (spin(50000000) == 42L) println() })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }
}
