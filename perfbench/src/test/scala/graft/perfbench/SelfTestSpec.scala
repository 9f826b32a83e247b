package graft.perfbench

import java.io.{ByteArrayOutputStream, File}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The failure path of the benchmark itself: a broken op and a wrong
  * expected fingerprint must each count in the error ratio, name their
  * cause, and fail the run. Run with `sbt test` in this directory. */
class SelfTestSpec extends AnyFunSuite {
  private val work = new File("target/selftest").getAbsoluteFile

  private lazy val spark: SparkSession = Main.session(2, s"$work/session")

  test("a throwing op counts as failed and names its kind") {
    val h = new Harness(spark, tracing = false)
    h.timed = true
    assert(h.op("report.ok", "op")(1).contains(1))
    assert(h.op("report.broken", "op")(spark.table("perfbench_selftest_missing").count()).isEmpty)
    assert(h.attempted == 2 && h.failed == 1)
    assert(h.failures.head.startsWith("report.broken:"))
    assert(h.ops.map(_.ok) == Seq(true, false))
  }

  test("a failed check fails its op, and counts on its own outside an op") {
    val h = new Harness(spark, tracing = false)
    assert(h.op("report.q1", "op")(h.check("fingerprint.q1", ok = false, "got (1,2)")).isEmpty)
    h.check("table_fingerprint", ok = true, "")
    h.check("table_fingerprint", ok = false, "differs")
    assert(h.attempted == 3 && h.failed == 2)
    assert(h.failures.exists(_.contains("check fingerprint.q1 failed: got (1,2)")))
    assert(h.failures.exists(_.contains("check table_fingerprint failed: differs")))
  }

  test("spans subtract their children to give self time") {
    val h = new Harness(spark, tracing = true)
    h.timed = true
    h.tracedIteration = true
    h.op("ingest", "step") {
      h.span("acid.commit", "acid")(Thread.sleep(30))
      Thread.sleep(20)
    }
    val self = Trace.selfMs(h)
    assert(self("acid") >= 25 && self("client") >= 15 && self("client") < self("acid") + 20)
    assert(Harness.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0L, 35L) == 25L)
  }

  /** The metrics of a result line, by name. */
  private def metrics(line: String): Map[String, Double] =
    """"([a-z0-9_.]+)": \{"value": ([-0-9.Ee]+)""".r.findAllMatchIn(line)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  test("a traced cdc_pipeline run times every commit verb past a checkpoint interval") {
    val out = new ByteArrayOutputStream()
    val code = Console.withOut(out) {
      Main.run("cdc_pipeline", seed = 7, seconds = 1, tracing = true, work = s"$work/cdc",
        traces = s"$work/cdc", cpus = 2, selftest = Set.empty, inputs = s"$work/inputs")
    }
    assert(code == 0)
    val m = metrics(out.toString.trim.split("\n").last)
    Trace.CommitVerbs.foreach(v => assert(m(s"acid.commit_ms.$v") > 0, v))
    assert(m("streaming.scd2_pump_ms") > 0 && m("streaming.mv_pump_ms") > 0)
    // the warm-up takes the dimension and the view to the log's
    // checkpoint interval (10 commits), and the two traced and two bare
    // timed folds past it
    Seq("dim", "mv").foreach { t =>
      assert(graft.acid.TxLog.currentVersion(spark, s"$work/cdc/setup/$t") >= 14, t)
    }
    assert(m("acid.replay_commits.max.scd2") >= 14 && m("acid.replay_commits.max.mv") >= 14)
  }

  test("elt_report with a broken op and a wrong fingerprint fails loudly") {
    val out = new ByteArrayOutputStream()
    val code = Console.withOut(out) {
      Main.run("elt_report", seed = 7, seconds = 1, tracing = false, work = s"$work/run",
        traces = s"$work/run", cpus = 2, selftest = Set("broken_op", "wrong_fingerprint"),
        inputs = s"$work/inputs")
    }
    val lines = out.toString.trim.split("\n")
    assert(code == 1)
    assert(lines.last.startsWith("""{"correct": false"""))
    val ratio = lines.find(_.startsWith("op_error_ratio")).get.split("\\s+")(1).toDouble
    assert(ratio > 0)
  }
}
