package graft

/** The bench line is consumed from a ~2000-char stdout tail with sbt's
  * `[success] Total time: ...` line appended after it — these tests pin
  * the size contract so the line can never again overflow the window
  * (rounds 2–3 did, and were recorded as unparseable). */
class BenchSpec extends SparkSpec {

  private val sbtSuffix =
    "\n[success] Total time: 258 s (04:18), completed Aug 12, 2026, 7:02:17 PM\n"

  // worst-case realistic values: every query slow enough to need 4 chars
  private def worstCase(names: Seq[String]): Map[String, Double] =
    names.map(_ -> 2.345).toMap

  test("compact line with the FULL live registry fits the tail window") {
    val names = SparkEntry.queries.keys.toSeq
    assert(names.size >= 70, "registry unexpectedly small — update this spec")
    val line = Bench.renderCompact(worstCase(names), Map.empty, 6.37, 124.59,
      "/root/testdata/sf0.1")
    assert(line.length <= Bench.MaxLineChars, s"line is ${line.length} chars")
    // the complete line must survive a last-2000-chars capture
    val tail = (line + sbtSuffix).takeRight(2000)
    assert(tail.contains(line))
    // and parse as one JSON object per line (no internal newlines)
    assert(!line.contains('\n'))
    assert(line.startsWith("{") && line.endsWith("}"))
  }

  test("oversized registries degrade by dropping fastest queries, keeping totals") {
    val names = (1 to 400).map(i => f"synthetic_query_with_a_long_name_$i%03d")
    val best = names.zipWithIndex.map { case (n, i) => n -> (0.1 + i * 0.01) }.toMap
    val line = Bench.renderCompact(best, Map.empty, 1.0, 2.0, "/tmp/sf")
    assert(line.length <= Bench.MaxLineChars)
    assert(line.contains("\"queries_omitted\":"))
    // the slowest query always survives truncation
    assert(line.contains("synthetic_query_with_a_long_name_400"))
    // total still covers ALL queries, not just the kept ones
    val total = best.values.sum
    assert(line.contains(s""""value":${Bench.fmtSec(total)}"""))
  }

  test("truncation keeps every family represented (round-robin shed)") {
    // 10 families x 40 queries: far beyond the window. Family f0 is the
    // slowest family; f9 queries are all fast — under plain
    // slowest-first f9 would vanish entirely.
    val best = (for (f <- 0 until 10; i <- 0 until 40)
      yield f"fam$f%d_query_with_a_long_name_$i%02d" -> (10.0 - f + i * 0.001)).toMap
    val line = Bench.renderCompact(best, Map.empty, 1.0, 2.0, "/tmp/sf")
    assert(line.length <= Bench.MaxLineChars)
    assert(line.contains("\"queries_omitted\":"))
    for (f <- 0 until 10)
      assert(line.contains(s"fam${f}_"), s"family fam$f shed entirely")
    // within each family the kept entry is its slowest member
    assert(line.contains("fam9_query_with_a_long_name_39"))
  }

  test("full live registry line keeps every family visible") {
    val names = SparkEntry.queries.keys.toSeq
    val line = Bench.renderCompact(worstCase(names), Map.empty, 6.37, 124.59,
      "/root/testdata/sf0.1")
    val fams = names.map(_.takeWhile(_ != '_')).distinct
    for (f <- fams)
      assert(line.contains("\"" + f), s"family $f missing from compact line")
  }

  test("errors stay in the line and failed queries leave the per-query map") {
    val names = SparkEntry.queries.keys.toSeq
    val errs = Map(names.head ->
      ("AnalysisException: " + "x" * 300)) // long messages are truncated
    val line = Bench.renderCompact(worstCase(names), errs, 1.0, 2.0, "/tmp/sf")
    assert(line.length <= Bench.MaxLineChars)
    assert(line.contains(s""""failed":1"""))
    assert(line.contains(s""""${names.head}":"AnalysisException"""))
    // the failed query's time-to-failure is not reported as a result
    assert(!line.contains(s""""${names.head}":2.35"""))
  }

  test("registry: 177 distinct names, each declared once with an oracle") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 177 && names.distinct.size == 177)
    assert(SparkEntry.registry.forall(_.oracleSql.trim.nonEmpty))
    assert(SparkEntry.queries.keys.toSeq == SparkEntry.oracleSql.keys.toSeq,
      "runner and oracle maps must iterate in the same order")
  }

  test("the shared selector rejects unknown names and names them") {
    for (env <- Seq("SPARK_GRAFT_VERIFY_ONLY", "SPARK_GRAFT_BENCH_ONLY")) {
      val e = intercept[IllegalArgumentException](
        SparkEntry.select(Some("q1_avg_monthly, no_such_query"), env))
      assert(e.getMessage.contains(env) && e.getMessage.contains("no_such_query"))
    }
    val e = intercept[IllegalArgumentException](
      Bench.selected(Map("SPARK_GRAFT_BENCH_ONLY" -> "no_such_query")))
    assert(e.getMessage.contains("SPARK_GRAFT_BENCH_ONLY names unknown queries: no_such_query"))
    assert(SparkEntry.select(Some(" q2_avg_hourly,q1_avg_monthly "), "x").keySet ==
      Set("q1_avg_monthly", "q2_avg_hourly"))
    assert(SparkEntry.select(None, "x") eq SparkEntry.queries)
    assert(!Bench.selected(Map.empty).contains(Bench.SelfTestQuery))
  }

  test("a selftest run over a two-query subset reports failed:1") {
    val registry = Bench.selected(Map("SPARK_GRAFT_BENCH_SELFTEST" -> "1",
      "SPARK_GRAFT_BENCH_ONLY" -> s"q1_avg_monthly,${Bench.SelfTestQuery}"))
    assert(registry.keySet == Set("q1_avg_monthly", Bench.SelfTestQuery))
    val passes = Seq.fill(2)(Bench.pass(spark, sf, registry))
    val errs = Bench.firstErrors(passes)
    assert(errs.keySet == Set(Bench.SelfTestQuery))
    val best = registry.keys.map(n => n -> passes.map(_(n).total).max).toMap
    val line = Bench.renderCompact(best, errs, 0.0, 0.0, sf)
    assert(line.contains(""""failed":1"""))
    assert(line.contains(s""""errors":{"${Bench.SelfTestQuery}":"""))
    assert(line.contains(""""queries":{"q1_avg_monthly":"""))
  }

  test("fmtSec keeps 3 significant digits and trims zeros") {
    assert(Bench.fmtSec(0.504) == "0.5")
    assert(Bench.fmtSec(0.456) == "0.46")
    assert(Bench.fmtSec(1.234) == "1.23")
    assert(Bench.fmtSec(12.44) == "12.4")
    assert(Bench.fmtSec(123.9) == "124")
    assert(Bench.fmtSec(2.0) == "2")
  }
}
