package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.acid.TxLog
import graft.analytics.Queries
import graft.etl.ConsumerPipeline
import graft.reporting.Reports

/** The batch side, as its users run it. Each iteration ingests (one
  * seeded fleet partition reloaded through the ETL and
  * `overwritePartitions`, plus one seeded document batch deduplicated
  * against the corpus index), then serves each read once in a seeded
  * order: Q1, Q2, the sorted consume scan, the pricing summary, the
  * star join and an ANN top-10 probe.
  *
  * Amounts are whole units, so every average the reports take is an
  * exact sum over one division and the fingerprints compare exactly
  * whatever order Spark sums in. */
final class EltReport(c: Ctx) extends Workload {
  import EltReport._
  import c.{gen, h, spark}

  private val corpus = new Corpus(c)
  private var table = ""
  private var star = ""
  private var landing0 = ""
  private var input = ""
  private var partitions = Seq.empty[(String, Int, Int)]
  /** Partition -> landing directory holding its current rows. */
  private val owner = mutable.HashMap.empty[(String, Int, Int), String]
  private var expectedByPart = Map.empty[(String, Int, Int), Array[Row]]
  private var expected: DataFrame = _
  private var state = 0
  private val expectedFp = mutable.HashMap.empty[(String, Int, Int), (Long, Long)]
  private val checked = mutable.HashSet.empty[(String, Int, Int)]
  /** Per timed ingest: (reload s, landing rows, dedup s, documents). */
  private val ingests = mutable.ArrayBuffer.empty[(Double, Long, Double, Long)]
  private val tracedRows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val replays = mutable.ArrayBuffer.empty[Int]
  private var bytesAtStart = -1L

  private def landingEvents(dir: String): DataFrame = graft.Tables.events(spark, dir)

  /** The ETL's cached consumer frame and its table projection. */
  private def consumerOf(dir: String): (DataFrame, DataFrame) = {
    val raw = ConsumerPipeline.consumer(spark, dir)
    (raw, raw.select(Columns.map(col): _*))
  }

  /** The landing events and the star schema are reference tables, the
    * same for every seed (as sf0.1's are), so they are generated once
    * per checkout; the seed picks the reloads, edits and queries. */
  def prepare(dir: String): Unit = {
    input = dir
    val ref = c.reference("elt_report") { (g, d) =>
      g.writeEvents(s"$d/landing0", g.events(Events).withColumn("value", round(col("value"))))
      g.writeStar(s"$d/star", StarCustomers, StarOrders, StarLineitems)
    }
    landing0 = s"$ref/landing0"
    star = s"$ref/star"
    corpus.prepare(dir)
  }

  def setup(dir: String): Unit = {
    table = s"$dir/consumer"
    val (raw, consumer) = consumerOf(landing0)
    TxLog.overwrite(consumer, table, Parts)
    raw.unpersist()
    corpus.setup(dir)
  }

  override def prewarm(): Unit = {
    corpus.buildAnn(input)
    expectedByPart = expectedRows(landing0)
    partitions = expectedByPart.keys.toSeq.sorted
    refreshExpected()
  }

  def warmupIterations: Int = WarmupIterations

  def cycleSeconds: Double = 10.0

  /** The rows the generator expects in one landing's partitions, in
    * the table's schema, grouped by partition. */
  private def expectedRows(landing: String): Map[(String, Int, Int), Array[Row]] = {
    val schema = TxLog.read(spark, table).schema
    gen.expectedConsumer(landingEvents(landing))
      .select(schema.fields.map(f => col(f.name).cast(f.dataType)): _*).collect()
      .groupBy(r => (r.getAs[String]("trip_type"), r.getAs[Int]("trip_year"),
        r.getAs[Int]("trip_month")))
  }

  /** The expected consumer table, cached: rebuilt after each reload. */
  private def refreshExpected(): Unit = {
    if (expected != null) expected.unpersist()
    val schema = TxLog.read(spark, table).schema
    expected = spark.createDataFrame(
      java.util.Arrays.asList(expectedByPart.values.flatten.toSeq: _*), schema).persist()
  }

  private def report(kind: String, month: Int, t: DataFrame): DataFrame = kind match {
    case "q1" => Reports.monthlyAvg(t.filter(col("trip_type") === ConsumerPipeline.YellowType),
      "pickup_datetime", "total_amount")
    case "q2" => Reports.hourlyAvg(t.filter(col("trip_month") === month),
      "pickup_datetime", "passenger_count")
    case "consume" => t.filter(col("trip_month") === month)
      .select("event_id", "trip_type", "passenger_count", "total_amount", "pickup_datetime")
      .orderBy("event_id")
    case "pricing" => Queries.aggPricingSummary(spark, star)
    case "star_join" => Queries.joinRevenueNation(spark, star)
  }

  /** The ingest step: ETL reload of one partition, then one dedup batch. */
  private def ingest(it: Int, r: scala.util.Random): Unit = {
    val p @ (tt, y, m) = partitions(r.nextInt(partitions.size))
    // seeded value edits on the partition's current landing rows
    val salt = r.nextInt()
    val edited = landingEvents(owner.getOrElse(p, landing0))
      .filter(col("event_type") === tt && year(col("ts")) === y && month(col("ts")) === m)
      .withColumn("value", when(pmod(xxhash64(col("event_id"), lit(salt)), lit(5)) === 0,
        round(col("value") * 1.1 + 1)).otherwise(col("value")))
    val landing = c.dir(s"reload/$it")
    gen.writeEvents(landing, edited)
    val rowsIn = spark.read.parquet(s"$landing/events.parquet").count()
    val (docs, planted) = corpus.batch(r)
    if (h.timed && bytesAtStart < 0) bytesAtStart = TableStats.bytesUnder(spark, table)

    var reloadS, dedupS = 0.0
    val pairs = h.op("ingest", "step") {
      val t0 = System.nanoTime()
      val (raw, consumer) = h.span("etl.consumer", "etl") {
        val (raw, df) = consumerOf(landing)
        val rowsOut = df.count()
        if (h.tracingNow) tracedRows += ((rowsIn, rowsOut))
        (raw, df)
      }
      h.span("acid.overwrite_partitions", "acid")(TxLog.overwritePartitions(consumer, table))
      raw.unpersist()
      val t1 = System.nanoTime()
      val pairs = corpus.dedup(docs)
      reloadS = (t1 - t0) / 1e9
      dedupS = (System.nanoTime() - t1) / 1e9
      pairs
    }
    if (h.timed) pairs.foreach { ps =>
      ingests += ((reloadS, rowsIn, dedupS, Corpus.BatchDocs.toLong))
      if (h.tracing) replays += TableStats.replay(spark, table)._2
      corpus.checkBatch(docs, planted, ps)
    }
    owner(p) = landing
    expectedByPart = expectedByPart.updated(p, expectedRows(landing).getOrElse(p, Array.empty))
    refreshExpected()
    state += 1
  }

  private def read(kind: String, month: Int): Unit =
    if (kind == "ann") {
      val rows = h.op("report.ann", "op")(corpus.probe())
      if (h.timed) rows.foreach(corpus.checkProbe)
    }
    else {
      val isAnalytic = kind == "pricing" || kind == "star_join"
      h.op(s"report.$kind", "op") {
        val t = if (isAnalytic) null else h.span("acid.read", "acid")(TxLog.read(spark, table))
        val layer = if (isAnalytic) "analytics" else "reporting"
        h.span(s"$layer.$kind", layer)(Workload.noop(report(kind, month, t)))
      }
      // each distinct report of the timed window is checked once per
      // table state; the analytics reports read the static star schema,
      // so their first answer is the reference later answers must repeat
      val key = (kind, if (kind == "q1" || isAnalytic) 0 else month, if (isAnalytic) 0 else state)
      if (h.timed && !checked(key)) {
        checked += key
        val want = expectedFp.getOrElseUpdate(key, Workload.fingerprint(report(kind, month, expected)))
        val got = Workload.fingerprint(report(kind, month, TxLog.read(spark, table)))
        val wanted = if (c.selftest("wrong_fingerprint")) (want._1, want._2 ^ 1L) else want
        h.check(s"elt_report.fingerprint.$kind", got == wanted,
          s"month=$month state=$state got=$got want=$wanted")
      }
    }

  def iterate(it: Int): Unit = {
    val r = gen.rng(1000 + it + WarmupIterations)
    ingest(it, r)
    r.shuffle(Reads).foreach(kind => read(kind, 1 + r.nextInt(12)))
    if (c.selftest("broken_op"))
      h.op("report.broken", "op")(Workload.noop(spark.table("perfbench_selftest_missing")))
  }

  def finish(): Unit = {
    val got = Workload.fingerprint(TxLog.read(spark, table))
    h.check("elt_report.table_fingerprint", got == Workload.fingerprint(expected),
      s"consumer table differs from the generator's expected rows (got $got)")
  }

  private def lat(p: String => Boolean) =
    h.ops.filter(o => o.ok && p(o.kind)).map(_.wallMs).toSeq

  private def perS(n: Seq[Long], s: Seq[Double]): Double = if (s.sum == 0) 0.0 else n.sum / s.sum

  def contract(wallS: Double): (Double, Double, Double) =
    (Workload.kindMedianGeomean(h, "report."), Harness.median(lat(_ == "ingest")),
      perS(ingests.map(i => i._2 + i._4).toSeq, ingests.map(i => i._1 + i._3).toSeq))

  def named(wallS: Double): Seq[Metric] = {
    val rep = lat(k => k.startsWith("report.") && k != "report.ann")
    val ann = lat(_ == "report.ann")
    Seq(Metric("report_p50_ms", Harness.pct(rep, 50), "ms"),
      Metric("report_p90_ms", Harness.pct(rep, 90), "ms"),
      Metric("report_samples", rep.size.toDouble, "count"),
      Metric("ingest_p50_ms", Harness.median(lat(_ == "ingest")), "ms"),
      Metric("elt_rows_per_s", perS(ingests.map(_._2).toSeq, ingests.map(_._1).toSeq), "rows/s"),
      Metric("dedup_docs_per_s", perS(ingests.map(_._4).toSeq, ingests.map(_._3).toSeq), "docs/s"),
      Metric("ann_query_p50_ms", Harness.pct(ann, 50), "ms"),
      Metric("ann_query_p90_ms", Harness.pct(ann, 90), "ms"),
      Metric("ann_query_samples", ann.size.toDouble, "count"),
      Metric("ann_recall_at_10", Harness.mean(corpus.recalls.toSeq), "ratio"))
  }

  def layers(): Seq[Metric] = {
    val (added, removed, commits) = TableStats.churn(spark, table, 0L)
    val bytes = TableStats.bytesUnder(spark, table)
    Seq(
      Metric("acid.overwrite_partitions_ms", Trace.spanMs(h, "acid.overwrite_partitions"), "ms"),
      Metric("acid.read_ms", Trace.spanMs(h, "acid.read"), "ms"),
      Metric("acid.replay_commits.mean.table", Harness.mean(replays.map(_.toDouble).toSeq), "count"),
      Metric("acid.replay_commits.max.table", replays.maxOption.getOrElse(0).toDouble, "count"),
      Metric("acid.checkpoints.table", TableStats.checkpoints(spark, table).toDouble, "count"),
      Metric("acid.files_added_per_commit", added.toDouble / math.max(1, commits), "count"),
      Metric("acid.files_removed_per_commit", removed.toDouble / math.max(1, commits), "count"),
      Metric("acid.bytes_written_per_changed_row",
        (bytes - bytesAtStart).toDouble / math.max(1L, ingests.map(_._2).sum), "bytes"),
      Metric("acid.live_files", TableStats.replay(spark, table)._1.toDouble, "count"),
      Metric("acid.storage_amplification", bytes.toDouble / TableStats.liveBytes(spark, table),
        "ratio"),
      Metric("etl.consumer_ms", Trace.spanMs(h, "etl.consumer"), "ms"),
      Metric("etl.rows_in", Harness.mean(tracedRows.map(_._1.toDouble).toSeq), "count"),
      Metric("etl.rows_out", Harness.mean(tracedRows.map(_._2.toDouble).toSeq), "count"),
      Metric("reporting.q1_ms", Trace.spanMs(h, "reporting.q1"), "ms"),
      Metric("reporting.q2_ms", Trace.spanMs(h, "reporting.q2"), "ms"),
      Metric("reporting.consume_ms", Trace.spanMs(h, "reporting.consume"), "ms"),
      Metric("analytics.pricing_ms", Trace.spanMs(h, "analytics.pricing"), "ms"),
      Metric("analytics.star_join_ms", Trace.spanMs(h, "analytics.star_join"), "ms")) ++
      corpus.layers()
  }
}

object EltReport {
  /** sf0.1's event count; the star schema is a quarter of sf0.1's
    * (15,000 customers, 150,000 orders, 600,000 line items), which would
    * double the report op time and not fit the run budget. */
  val Events = 100000L
  val StarCustomers = 3750L
  val StarOrders = 37500L
  val StarLineitems = 150000L
  val WarmupIterations = 1
  val Reads = Seq("q1", "q2", "consume", "pricing", "star_join", "ann")
  val Parts = Seq("trip_type", "trip_year", "trip_month")
  val Columns = Seq("event_id", "passenger_count", "total_amount", "pickup_datetime",
    "trip_type", "trip_year", "trip_month")
}
