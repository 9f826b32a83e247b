package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming analytics over the events feed.
  *
  * The aggregation logic is ONE function applied to either a batch or a
  * streaming DataFrame — Structured Streaming's contract — so the batch
  * path doubles as the oracle-checkable equivalent of the streaming query.
  *
  * At scale: the watermark bounds state (late events beyond 1 hour are
  * dropped), and the tumbling window + event_type key gives a
  * low-cardinality shuffle; state store size is O(windows × types).
  */
object EventsStream {

  /** Tumbling 1-hour window aggregate per event type. Works on batch and
    * streaming frames alike. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("window_start"),
              col("event_type"), col("n_events"), col("total_value"))

  /** Batch equivalent (oracle: date_trunc-hour grouping). */
  def hourlyAggBatch(events: DataFrame): DataFrame =
    hourlyAgg(events).orderBy("window_start", "event_type")

  /** Streaming source over a directory of event parquet files with the
    * given schema; watermarked so windowed state is bounded. */
  def streamingHourlyAgg(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    hourlyAgg(
      spark.readStream.schema(schema).parquet(dir)
        .withWatermark("ts", "1 hour"))

  /** Stream–static dimension join + windowed aggregation, run as a REAL
    * streaming query: each micro-batch of the event stream joins the
    * static dimension (broadcast — the stream side is never shuffled for
    * the join) before the watermarked tumbling-window aggregate. The
    * production enrichment shape: at 100 TB/day the fact stream flows
    * through one broadcast join per batch, and only the (windows × dim
    * keys)-sized aggregate state persists in the state store. The memory
    * sink holds just that aggregate — O(windows × tiers), never O(rows).
    * `dim` must carry `user_id` plus the enrichment columns. */
  def runStreamStaticJoin(spark: SparkSession, events: DataFrame,
                          dim: DataFrame): DataFrame = {
    val stream = new ScratchStream(spark, "ssj")
    // normalize BEFORE staging: an NTZ `ts` would re-read as NTZ and
    // `withWatermark` requires strict TimestampType
    stream.stage(Seq("src" -> graft.Tables.normalizeTs(
      events.select("user_id", "ts", "value"), "ts")))
    val name = s"graft_ssj_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val dimCols = dim.columns.filterNot(_ == "user_id").map(col).toSeq
    val out = stream.source("src")
      .withWatermark("ts", "1 hour")
      .join(broadcast(dim), "user_id") // stream-static: re-read per batch
      .groupBy(window(col("ts"), "1 hour") +: dimCols: _*)
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("window_start") +: dimCols :+
              col("n_events") :+ col("total_value"): _*)
    stream.run(out.writeStream.outputMode("complete").format("memory").queryName(name),
      stateRows = Some(10000L))
    spark.table(name)
  }

  /** Stream–STREAM join, run as a real streaming query: the click
    * stream joins the purchase stream on user within a 1-hour
    * event-time window. This is the canonical two-feed correlation
    * (impression↔conversion) and the state story is the point: BOTH
    * sides carry watermarks and the join condition time-bounds the
    * match (`purchase_ts ∈ [click_ts, click_ts + 1h]`), so Spark
    * derives an eviction horizon for each buffer — state is
    * O(events inside the watermark window), never O(stream). Inner
    * join, so matches emit as they arrive (append mode); the file sink
    * keeps emitted pairs on executors/disk. The returned frame is the
    * bounded aggregate over the sink. */
  def runStreamStreamJoin(spark: SparkSession, events: DataFrame): DataFrame = {
    val stream = stageFeeds(spark, "ss2", events)
    stream.run(joinFeeds(stream, "inner"), stateRows = Some(10000L),
      singleIngest = Some("stream_stream_join"))
    spark.read.parquet(stream.dir("out")).agg(
      count(lit(1)).as("n_pairs"),
      count_distinct(col("user_id")).as("n_users"),
      round(sum(col("value").cast("decimal(18,2)")), 2).cast("double")
        .as("paired_value"))
  }

  /** Stream–stream LEFT OUTER join: same two-feed correlation as
    * [[runStreamStreamJoin]], but clicks that never convert inside the
    * 1-hour window ALSO emit — null-extended — which exercises the
    * state-eviction emit path the inner join never touches. An outer
    * stream-stream join can only emit an unmatched row once the
    * watermark proves no future match can arrive (click state evicts at
    * `click_ts + 1h` past the joint watermark), so the stream ends with
    * the [[ScratchStream.sentinelRounds]] (user `Long.MinValue`,
    * exact-match filtered afterward) written to BOTH feeds: they advance
    * the joint watermark — min across inputs — past every real click's
    * eviction horizon. State stays O(events inside the watermark window)
    * exactly as in the inner join, and each unmatched click emits
    * EXACTLY once (eviction removes it from the buffer — the second
    * sentinel batch cannot re-emit it; spec-pinned). Returns the
    * bounded aggregate over the file sink: matched pairs, unmatched
    * clicks, distinct click users, and matched value. */
  def runStreamStreamOuterJoin(spark: SparkSession, events: DataFrame): DataFrame =
    runStreamStreamOuterTyped(spark, events, "left_outer")

  /** FULL outer variant: eviction-driven null emission on BOTH buffers —
    * unmatched clicks null-extend when the click buffer evicts (as in
    * the left-outer face) AND unmatched purchases null-extend when the
    * purchase buffer evicts, the path the left join never exercises.
    * Oracle is the identical batch full join. */
  def runStreamStreamFullOuterJoin(spark: SparkSession, events: DataFrame): DataFrame =
    runStreamStreamOuterTyped(spark, events, "full_outer")

  /** Stage the two feeds of the stream-stream joins — each a full
    * events scan + filtered write, run as overlapping jobs. */
  private def stageFeeds(spark: SparkSession, tag: String,
                         events: DataFrame): ScratchStream = {
    val stream = new ScratchStream(spark, tag)
    val ev = graft.Tables.normalizeTs(
      events.select("user_id", "ts", "event_type", "value"), "ts")
    stream.stage(Seq(
      "clicks" -> ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts")),
      "purch" -> ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"), col("value"))))
    stream
  }

  /** Clicks joined to purchases within one hour of event time, both
    * sides watermarked, into a parquet sink at `out`. */
  private def joinFeeds(stream: ScratchStream, joinType: String) =
    stream.source("clicks").withWatermark("click_ts", "1 hour")
      .join(stream.source("purch").withWatermark("purchase_ts", "1 hour"), expr(
        "user_id = p_user AND purchase_ts >= click_ts AND " +
          "purchase_ts <= click_ts + interval 1 hour"), joinType)
      .writeStream.outputMode("append")
      .format("parquet").option("path", stream.dir("out"))

  private def runStreamStreamOuterTyped(spark: SparkSession, events: DataFrame,
                                        joinType: String): DataFrame = {
    import spark.implicits._
    val stream = stageFeeds(spark, "ss2o", events)
    // one metadata+agg pass for the sentinel horizon (max real ts)
    val maxTs = stream.staged("clicks").agg(max(col("click_ts"))).collect()(0).getTimestamp(0)
    stream.run(joinFeeds(stream, joinType), stateRows = Some(10000L),
      singleIngest = Some(s"stream_stream_$joinType"),
      drops = stream.sentinelRounds(maxTs)(ts => Seq(
        "clicks" -> Seq((Long.MinValue, ts)).toDF("user_id", "click_ts"),
        "purch" -> Seq((Long.MinValue, ts, 0.0)).toDF("p_user", "purchase_ts", "value"))))
    // sentinel rows can surface null-extended on EITHER side under full
    // outer, so both key columns are screened (left outer never emits a
    // null user_id — the generalized filter degenerates to the original)
    val out = spark.read.parquet(stream.dir("out"))
      .filter((col("user_id").isNull || col("user_id") =!= Long.MinValue) &&
              (col("p_user").isNull || col("p_user") =!= Long.MinValue))
    if (joinType == "left_outer")
      out.agg(
        count(lit(1)).as("n_rows"),
        count(col("purchase_ts")).as("n_pairs"),
        sum(when(col("purchase_ts").isNull, 1L).otherwise(0L)).as("n_unmatched"),
        count_distinct(col("user_id")).as("n_users"),
        round(sum(col("value").cast("decimal(18,2)")), 2).cast("double")
          .as("paired_value"))
    else
      out.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("click_ts").isNotNull && col("purchase_ts").isNotNull, 1L)
          .otherwise(0L)).as("n_pairs"),
        sum(when(col("purchase_ts").isNull, 1L).otherwise(0L)).as("n_click_only"),
        sum(when(col("click_ts").isNull, 1L).otherwise(0L)).as("n_purchase_only"),
        count_distinct(coalesce(col("user_id"), col("p_user"))).as("n_users"),
        round(sum(when(col("click_ts").isNotNull, col("value"))
          .cast("decimal(18,2)")), 2).cast("double").as("paired_value"))
  }

  // ------------------------------------------------- stateful sessionize

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  case class SessionState(openStartUs: Long, openLastUs: Long, openCount: Long)
  case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
                         session_end: java.sql.Timestamp, n_events: Long)

  /** Custom streaming state: gap-based sessionization via
    * flatMapGroupsWithState. Per user, events are folded into an open
    * session; a gap > `gapMinutes` closes it and emits. State is one
    * (start, last, count) triple per user, and BOUNDED: every update
    * arms an `EventTimeTimeout` at `last + gap`, so once the watermark
    * passes a session's gap horizon the state fires, the open session is
    * emitted as closed, and the user's state is removed — idle users
    * cost nothing, and the final session of every user is emitted rather
    * than parked forever (the round-2 `NoTimeout` shape kept one state
    * entry per user for the life of the query and never emitted the last
    * session). */
  def sessionizeStateful(events: org.apache.spark.sql.Dataset[SessionEvent],
                         gapMinutes: Int = 30): org.apache.spark.sql.Dataset[UserSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes.toLong * 60 * 1000000
    val gapMs = gapMinutes.toLong * 60 * 1000

    // µs-precision round trip: Timestamp(ms) alone would truncate the
    // microsecond component the events carry
    def usToTs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(us / 1000)
      t.setNanos(((us % 1000000) * 1000).toInt)
      t
    }

    def fold(userId: Long, it: Iterator[SessionEvent],
             state: GroupState[SessionState]): Iterator[UserSession] = {
      if (state.hasTimedOut) {
        // watermark passed last + gap: no event can reopen this session
        val s = state.get
        state.remove()
        return Iterator(UserSession(userId,
          usToTs(s.openStartUs), usToTs(s.openLastUs), s.openCount))
      }
      val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos))
      var closed = List.newBuilder[UserSession]
      var cur = state.getOption
      sorted.foreach { e =>
        val us = e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000
        cur match {
          case Some(s) if us - s.openLastUs <= gapUs =>
            cur = Some(s.copy(openLastUs = us, openCount = s.openCount + 1))
          case Some(s) =>
            closed += UserSession(userId,
              usToTs(s.openStartUs), usToTs(s.openLastUs), s.openCount)
            cur = Some(SessionState(us, us, 1))
          case None =>
            cur = Some(SessionState(us, us, 1))
        }
      }
      cur.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.openLastUs / 1000 + gapMs)
      }
      closed.result().iterator
    }

    events.withWatermark("ts", "0 seconds").groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fold)
  }

  /** End-to-end stateful sessionization as an actual STREAMING query:
    * stage the events as a file-source directory, run
    * [[sessionizeStateful]] over `readStream` into a file sink, and
    * return ALL emitted sessions — gap-closed ones and, via the
    * event-time state timeout, each user's final session once the
    * [[ScratchStream.sentinelRounds]] (a far-future tick from
    * `Long.MinValue` — outside any realistic id domain, removed by an
    * EXACT match so genuinely negative user ids still sessionize) push
    * the watermark past its gap horizon. */
  def runSessionizeStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val stream = new ScratchStream(spark, "sess")
    // normalize BEFORE staging: the typed SessionEvent encoder and the
    // `getTimestamp` accessor below require strict TimestampType, and the
    // staged parquet inherits whatever type is written here
    stream.stage(Seq("src" -> graft.Tables.normalizeTs(events.select("user_id", "ts"), "ts")))
    // ONE metadata+agg pass over the staged files for everything the
    // runner needs: schema comes from footers (no job), max ts and row
    // count share one aggregate job over the staged data — round 4 ran
    // a schema-infer, a max() over the UPSTREAM plan, and a separate
    // count: two extra jobs per invocation
    val statsRow = stream.staged("src").agg(max(col("ts")), count(lit(1))).collect()(0)
    // durable FILE sink, not a memory sink: emitted sessions are O(corpus)
    // rows and belong on executors/disk, never on the driver heap (the
    // round-2 lesson from stream_dedup, applied here)
    stream.run(
      sessionizeStateful(stream.source("src").as[SessionEvent])
        .writeStream.outputMode("append")
        .format("parquet").option("path", stream.dir("out")),
      stateRows = Some(statsRow.getLong(1)),
      drops = stream.sentinelRounds(statsRow.getTimestamp(0))(ts =>
        Seq("src" -> Seq((Long.MinValue, ts)).toDF("user_id", "ts"))))
    spark.read.parquet(stream.dir("out")).filter(col("user_id") =!= Long.MinValue)
  }

  /** Watermark late-data ACCOUNTING, run as a real streaming query — the
    * observability face of event-time semantics no other operator here
    * exercises: how many rows did the watermark actually drop, and does
    * the surviving aggregate match what the watermark contract promises?
    * Micro-batches in a forced order (mtime-staged files +
    * `maxFilesPerTrigger=1`): (1) the on-time slice (days ≥ 16)
    * advances the watermark to its max event time − 30 min; (2) a
    * 1-row mid batch — REQUIRED, because Spark's late-record filter
    * uses the PREVIOUS batch's watermark (`watermarkForLateEvents` lags
    * `watermarkForEviction` by one batch; measured here: a late batch
    * arriving immediately after the advancing batch is still fully
    * aggregated), so the watermark only rejects data from two batches
    * on; (3) the late slice (days ≤ 15), now entirely below the
    * late-event watermark — its contributions are dropped at the
    * PARTIAL-aggregate granularity (`numRowsDroppedByWatermark` counts
    * post-map-side partial rows: one per late window for a single-split
    * file, measured exactly); (4) a far-future sentinel pushes the
    * watermark past every real window so append mode finalizes them.
    * The oracle checks both sides of the contract: the kept aggregate
    * equals the batch aggregate over days ≥ 16 plus the mid row, and
    * the drop counter equals the distinct late-hour count exactly.
    *
    * Every batch-boundary timestamp derives from the OBSERVED max event
    * time (the runStreamStreamOuterTyped discipline), never a corpus
    * literal: mid = max + 1 h (its watermark, max + 30 min, is above
    * every real row, so the whole late slice drops), sentinel =
    * max + 30 d, and the append-finalization guard admits every real
    * window plus the mid window and nothing else — a corpus spanning
    * any date range keeps the oracle exact. The drop-counter contract
    * additionally requires the late file to ingest as ONE split (one
    * map-side partial per late hour): a file above `maxPartitionBytes`
    * would split, double-counting shared hours, so staging asserts the
    * bound loudly instead of letting the counter drift at scale. */
  def runLateDataAccounting(spark: SparkSession, events: DataFrame): DataFrame = {
    val stream = new ScratchStream(spark, "late")
    val ev = graft.Tables.normalizeTs(events.select("ts", "value"), "ts")
    // parse via the same byte-string grammar the conf accepts — a
    // unit-suffixed setting ("128m", "128MB") is valid Spark config and
    // a bare stripSuffix+toLong threw on it before any staging happened
    val maxSplitBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    def stageFile(df: DataFrame, name: String, mtime: Long): Unit = {
      val Seq(bytes) = stream.stage(Seq("src" -> df.coalesce(1)), mtime)
      require(bytes <= maxSplitBytes,
        s"late-data staging: $name is $bytes bytes > " +
          s"maxPartitionBytes=$maxSplitBytes — it would ingest as multiple " +
          "splits and numRowsDroppedByWatermark would count each late hour " +
          "once PER SPLIT, diverging from the distinct-late-hour oracle")
    }
    // boundary timestamps derived from the observed max event time
    val maxTs = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val midTs = new java.sql.Timestamp(maxTs.getTime + 3600000L)
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 30L * 86400000L)
    // UTC session (GraftSession): hour windows are epoch-aligned, so the
    // finalization guard is integer hour arithmetic — every real window
    // starts <= trunc_hour(max), the mid window starts trunc_hour(max)+1h,
    // and the sentinel's (max + 30 d) is the only window above the guard
    val guardUs = (maxTs.getTime / 3600000L + 3L) * 3600000000L
    // the file source orders the backlog by modification time
    val t0 = System.currentTimeMillis()
    stageFile(ev.filter(dayofmonth(col("ts")) >= 16), "b1_ontime", t0 - 180000)
    stageFile(spark.range(1).select(
      lit(midTs).as("ts"), lit(0.0).as("value")), "b2_mid", t0 - 120000)
    stageFile(ev.filter(dayofmonth(col("ts")) <= 15), "b3_late", t0 - 60000)
    stageFile(spark.range(1).select(
      lit(sentinelTs).as("ts"), lit(0.0).as("value")), "b4_sentinel", t0)
    val name = s"graft_late_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // data-sized state like every other stateful runner here
    // (optimization r16): the windowed aggregate commits every state
    // partition on every micro-batch, and neither the kept aggregate nor
    // the drop counter depends on the shuffle partition count (partials
    // are per input SPLIT — the single-split staging assertion above —
    // not per shuffle partition)
    val q = stream.run(
      stream.source("src", "maxFilesPerTrigger" -> "1")
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"),
             sum(col("value").cast("decimal(18,2)")).as("tv"))
        .select(unix_micros(col("window.start")).as("ws"), col("n"), col("tv"))
        .writeStream.outputMode("append").format("memory").queryName(name),
      stateRows = Some(10000L))
    val dropped = q.recentProgress
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .map(_.numRowsDroppedByWatermark).sum
    spark.table(name)
      // the sentinel's own window never finalizes; the guard makes that
      // an invariant rather than an accident of batch order
      .filter(col("ws") < guardUs)
      .agg(count(lit(1)).as("n_windows"), sum(col("n")).as("n_events_kept"),
           round(sum(col("tv")), 2).cast("double").as("total_kept"))
      .withColumn("n_dropped_late", lit(dropped))
  }
}
