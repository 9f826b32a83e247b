package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.acid.{MaterializedView, MergeClause, MvSpec, Scd2, TxLog}
import graft.streaming.{ChangeFeedCursor, ChangeFeedStream, StreamMv, StreamScd2}

final case class Cust(c_custkey: Long, c_name: String, c_nationkey: Int,
                      c_acctbal: Double, c_mktsegment: String)

/** Incremental maintenance, the write side of `acid`: small row-level
  * DML commits on a source table, and after every trigger interval the
  * streaming SCD-2 dimension and aggregate view fold the change feed.
  * An in-memory model of the source is the expected answer. */
final class CdcPipeline(c: Ctx) extends Workload {
  import CdcPipeline._
  import c.{gen, h, spark}
  import spark.implicits._

  private var src, dim, mv = ""
  private var scdCursor: ChangeFeedCursor = _
  private var mvCursor: ChangeFeedCursor = _
  private var initial = Seq.empty[Cust]
  private val model = mutable.LinkedHashMap.empty[Long, Cust]
  private var nextKey = 0L
  /** Source version -> row count when it was committed. */
  private val rowsAt = mutable.HashMap.empty[Long, Int]
  private var changedRows = 0L
  /** (interval kind, ms from a commit's return to the fold's end). */
  private val foldLags = mutable.ArrayBuffer.empty[(Int, Double)]
  private val replays = Trace.Roles.map(_ -> mutable.ArrayBuffer.empty[Int]).toMap
  private val batches = mutable.ArrayBuffer.empty[Int]
  private var start: Option[(Long, Seq[Long])] = None

  private def tables = Seq(src, dim, mv)
  private def role(r: String) = r match { case "table" => src; case "scd2" => dim; case _ => mv }

  private def tsOf(v: Long): String =
    java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(v)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  private def row(r: scala.util.Random, key: Long): Cust =
    Cust(key, s"Customer#$key", r.nextInt(25), (r.nextInt(1100000) - 100000) / 100.0,
      Gen.Segments(r.nextInt(Gen.Segments.size)))

  /** The customer table is a reference table, the same for every seed;
    * the seed picks the keys and values of the commits. */
  def prepare(dir: String): Unit = {
    val r = new scala.util.Random(Gen.ReferenceSeed)
    initial = (1L to InitialRows).map(k => row(r, k))
  }

  def setup(dir: String): Unit = {
    src = s"$dir/source"; dim = s"$dir/dim"; mv = s"$dir/mv"
    model.clear()
    initial.foreach(x => model(x.c_custkey) = x)
    nextKey = InitialRows + 1
    TxLog.overwrite(model.values.toSeq.toDF(), src)
    rowsAt.clear()
    rowsAt(TxLog.currentVersion(spark, src)) = model.size
    Scd2.initialize(TxLog.read(spark, src), dim, Keys, Attrs, tsOf(0))
    val from = MaterializedView.initialize(spark, src, mv, Spec)
    scdCursor = ChangeFeedStream.cursor(spark, src, from)
    mvCursor = ChangeFeedStream.cursor(spark, src, from)
  }

  def warmupIterations: Int = WarmupFolds.size

  override def traceCycle: Int = Intervals.size

  def cycleSeconds: Double = 14.0

  private def existing(r: scala.util.Random, n: Int): Seq[Long] = {
    val keys = model.keysIterator.toVector
    r.shuffle(keys).take(n)
  }

  /** An upsert batch: half updates of live keys, half new keys. */
  private def upserts(r: scala.util.Random): Seq[Cust] =
    existing(r, RowsPerCommit / 2).map(k => row(r, k).copy(c_name = model(k).c_name,
      c_nationkey = model(k).c_nationkey)) ++
      (0 until RowsPerCommit / 2).map { _ => nextKey += 1; row(r, nextKey - 1) }

  /** One DML commit of `verb`; returns the source rows it changed. */
  private def commit(verb: String, r: scala.util.Random): Int = verb match {
    case "merge" | "merge_dv" =>
      val rows = upserts(r)
      h.op(s"commit.$verb", "op")(h.span(s"acid.commit.$verb", "acid") {
        if (verb == "merge") TxLog.merge(rows.toDF(), src, Keys)
        else TxLog.mergeWithDv(rows.toDF(), src, Keys)
      }).map { _ => rows.foreach(x => model(x.c_custkey) = x); rows.size }.getOrElse(0)
    case "merge_conditional" =>
      import MergeClause._
      val rows = upserts(r)
      h.op(s"commit.$verb", "op")(h.span(s"acid.commit.$verb", "acid") {
        TxLog.mergeConditional(rows.toDF(), src, Keys, Seq(
          MatchedUpdate(Some("s.c_acctbal <> t.c_acctbal"),
            Map("c_acctbal" -> "s.c_acctbal", "c_mktsegment" -> "s.c_mktsegment")),
          NotMatchedInsert(None)))
      }).map { _ =>
        rows.count { x =>
          model.get(x.c_custkey) match {
            case Some(old) if old.c_acctbal != x.c_acctbal =>
              model(x.c_custkey) = old.copy(c_acctbal = x.c_acctbal,
                c_mktsegment = x.c_mktsegment); true
            case Some(_) => false
            case None => model(x.c_custkey) = x; true
          }
        }
      }.getOrElse(0)
    case "update" | "update_dv" =>
      val keys = existing(r, RowsPerCommit)
      val bal = (r.nextInt(1100000) - 100000) / 100.0
      val seg = Gen.Segments(r.nextInt(Gen.Segments.size))
      val set = Map("c_acctbal" -> lit(bal), "c_mktsegment" -> lit(seg))
      h.op(s"commit.$verb", "op")(h.span(s"acid.commit.$verb", "acid") {
        val cond = col("c_custkey").isin(keys: _*)
        if (verb == "update") TxLog.update(spark, src, cond, set)
        else TxLog.updateWithDv(spark, src, cond, set)
      }).map { _ =>
        keys.foreach(k => model(k) = model(k).copy(c_acctbal = bal, c_mktsegment = seg))
        keys.size
      }.getOrElse(0)
    case "delete" | "delete_dv" =>
      val keys = existing(r, RowsPerCommit)
      h.op(s"commit.$verb", "op")(h.span(s"acid.commit.$verb", "acid") {
        val cond = col("c_custkey").isin(keys: _*)
        if (verb == "delete") TxLog.delete(spark, src, cond)
        else TxLog.deleteWithDv(spark, src, cond)
      }).map { _ => keys.foreach(model.remove); keys.size }.getOrElse(0)
    case "append" =>
      val rows = (0 until RowsPerCommit).map { _ => nextKey += 1; row(r, nextKey - 1) }
      h.op(s"commit.$verb", "op")(h.span(s"acid.commit.$verb", "acid") {
        TxLog.append(rows.toDF(), src)
      }).map { _ => rows.foreach(x => model(x.c_custkey) = x); rows.size }.getOrElse(0)
  }

  /** Replay length after every timed op of a traced run, bare or not:
    * with no checkpoint it grows by one per commit to the table. */
  private def probe(r: String): Unit =
    if (h.tracing && h.timed) replays(r) += TableStats.replay(spark, role(r))._2

  /** Timed intervals alternate between the copy-on-write and the
    * deletion-vector verbs, so every run issues the same verb sequence;
    * the seed picks the rows and values. A warm-up interval is one or two
    * commits, so the warm-up folds the change feed often at a small cost. */
  def iterate(it: Int): Unit = {
    if (h.timed && start.isEmpty)
      start = Some((bytesOfTables, tables.map(TxLog.currentVersion(spark, _))))
    val kind = Math.floorMod(it, Intervals.size)
    val verbs =
      if (it >= 0) Intervals(kind)
      else WarmupFolds(-it - 1)
    interval(it, kind, verbs)
  }

  /** `verbs` as one commit each, then both pumps fold the change feed. */
  private def interval(it: Int, kind: Int, verbs: Seq[String]): Unit = {
    val r = gen.rng(2000 + it)
    val commitEnds = verbs.map { verb =>
      val n = commit(verb, r)
      val end = System.nanoTime()
      rowsAt(TxLog.currentVersion(spark, src)) = model.size
      probe("table")
      if (h.timed) changedRows += n
      end
    }
    h.op("pump.scd2", "step")(h.span("streaming.scd2_pump", "streaming") {
      StreamScd2.pump(spark, src, dim, Keys, Attrs, scdCursor, tsOf)
    }).foreach(s => if (h.lastTraced) batches += s.batches)
    probe("scd2")
    h.op("pump.mv", "step")(h.span("streaming.mv_pump", "streaming") {
      StreamMv.pump(spark, src, mv, Spec, mvCursor)
    }).foreach(n => if (h.lastTraced) batches += n)
    probe("mv")
    val folded = System.nanoTime()
    if (h.timed) foldLags ++= commitEnds.map(e => (kind, (folded - e) / 1e6))
  }

  def finish(): Unit = {
    val source = TxLog.read(spark, src)
    h.check("cdc_pipeline.source_equals_model",
      Workload.fingerprint(source) == Workload.fingerprint(model.values.toSeq.toDF()),
      s"source snapshot differs from the generator's model (${model.size} rows)")
    val want = Workload.fingerprint(MaterializedView.compute(source, Spec))
    val got = Workload.fingerprint(TxLog.read(spark, mv))
    h.check("cdc_pipeline.mv_equals_recompute", got == want, s"got $got want $want")
    val current = TxLog.read(spark, dim).filter(col("is_current"))
    val dupes = current.groupBy(Keys.map(col): _*).count().filter(col("count") > 1).count()
    h.check("cdc_pipeline.scd2_one_current_row_per_key", dupes == 0, s"$dupes keys")
    val cols = (Keys ++ Attrs).map(col)
    h.check("cdc_pipeline.scd2_current_equals_source",
      Workload.fingerprint(current.join(source.select(Keys.map(col): _*), Keys, "left_semi")
        .select(cols: _*)) == Workload.fingerprint(source.select(cols: _*)),
      "current dimension rows differ from the source snapshot")
    val versions = rowsAt.keys.toSeq.sorted
    val v = versions(gen.rng(70).nextInt(versions.size))
    val n = TxLog.read(spark, src, Some(v)).count()
    h.check("cdc_pipeline.time_travel_count", n == rowsAt(v),
      s"version $v has $n rows, ${rowsAt(v)} when committed")
  }

  private def commitLat = h.ops.filter(o => o.ok && o.kind.startsWith("commit.")).map(_.wallMs).toSeq

  def contract(wallS: Double): (Double, Double, Double) =
    (Workload.kindMedianGeomean(h, "commit."),
      Harness.geomean(foldLags.groupBy(_._1).values.map(xs => Harness.median(xs.map(_._2).toSeq)).toSeq),
      changedRows / wallS)

  private def bytesOfTables: Long = tables.map(TableStats.bytesUnder(spark, _)).sum

  private def amplification: Double =
    bytesOfTables.toDouble /
      tables.map(TableStats.liveBytes(spark, _)).sum

  def named(wallS: Double): Seq[Metric] = Seq(
    Metric("commit_p50_ms", Harness.pct(commitLat, 50), "ms"),
    Metric("commit_p90_ms", Harness.pct(commitLat, 90), "ms"),
    Metric("commit_samples", commitLat.size.toDouble, "count"),
    Metric("fold_lag_p50_ms", Harness.median(foldLags.map(_._2).toSeq), "ms"),
    Metric("changes_per_s", changedRows / wallS, "rows/s"),
    Metric("storage_amplification", amplification, "ratio"))

  def layers(): Seq[Metric] = {
    val (bytes0, versions0) = start.getOrElse((0L, tables.map(_ => -1L)))
    val churn = tables.zip(versions0).map { case (t, v) => TableStats.churn(spark, t, v) }
    val commits = math.max(1, churn.map(_._3).sum)
    Trace.CommitVerbs.map(v => Metric(s"acid.commit_ms.$v", Trace.spanMs(h, s"acid.commit.$v"), "ms")) ++
    Trace.Roles.flatMap { rl =>
      val xs = replays(rl).map(_.toDouble).toSeq
      Seq(Metric(s"acid.replay_commits.mean.$rl", Harness.mean(xs), "count"),
        Metric(s"acid.replay_commits.max.$rl", xs.maxOption.getOrElse(0.0), "count"),
        Metric(s"acid.checkpoints.$rl", TableStats.checkpoints(spark, role(rl)).toDouble, "count"))
    } ++ Seq(
      Metric("acid.files_added_per_commit", churn.map(_._1).sum.toDouble / commits, "count"),
      Metric("acid.files_removed_per_commit", churn.map(_._2).sum.toDouble / commits, "count"),
      Metric("acid.bytes_written_per_changed_row",
        (bytesOfTables - bytes0).toDouble / math.max(1L, changedRows),
        "bytes"),
      Metric("acid.live_files", tables.map(TxLog.fileCount(spark, _)).sum.toDouble, "count"),
      Metric("acid.storage_amplification", amplification, "ratio"),
      Metric("streaming.scd2_pump_ms", Trace.spanMs(h, "streaming.scd2_pump"), "ms"),
      Metric("streaming.mv_pump_ms", Trace.spanMs(h, "streaming.mv_pump"), "ms"),
      Metric("streaming.batches_per_pump", Harness.mean(batches.map(_.toDouble).toSeq), "count"))
  }
}

object CdcPipeline {
  val InitialRows = 15000L
  val RowsPerCommit = 300
  /** Ten warm-up folds that run every verb before timing and take the
    * dimension and the view to the log's checkpoint interval (10
    * commits). A fold of deletes alone leaves the dimension unwritten,
    * so each delete shares its fold with an append, the cheapest verb. */
  val WarmupFolds = Seq(Seq("merge"), Seq("merge_conditional"), Seq("update"),
    Seq("delete", "append"), Seq("merge_dv"), Seq("update_dv"), Seq("delete_dv", "append"),
    Seq("append"), Seq("append"), Seq("append"))
  val Intervals = Seq(Seq("merge", "update", "delete", "append"),
    Seq("merge_conditional", "update_dv", "delete_dv", "merge_dv"))
  val Keys = Seq("c_custkey")
  val Attrs = Seq("c_nationkey", "c_acctbal", "c_mktsegment")
  val Spec = MvSpec(Seq("c_nationkey"), Seq("c_acctbal"))
}
