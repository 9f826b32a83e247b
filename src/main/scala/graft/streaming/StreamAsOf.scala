package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming backward AS-OF join — the trades-vs-quotes correlation as a
  * continuous query, which Structured Streaming's stream–stream joins
  * cannot express (they support range predicates, not "the LATEST right
  * row ≤ my timestamp": that is a per-row argmax, i.e. state).
  *
  * Shape: both feeds arrive as ONE keyed stream (left rows carry an id,
  * right rows only a timestamp); `flatMapGroupsWithState` holds per key
  *  - the left rows whose event time the watermark has not passed, and
  *  - the right timestamps still relevant to any future left.
  * A left row is emitted exactly when the watermark passes its event
  * time: at that moment the set of right rows at-or-before it is FINAL —
  * any later-arriving right at-or-before it would be late beyond the
  * watermark and is dropped by the stream's late-data filter — so the
  * emitted match (max right ≤ left ts, or null) equals the batch as-of
  * answer regardless of arrival order. Out-of-order arrival WITHIN the
  * watermark is therefore handled exactly, not approximately.
  *
  * State is bounded the way a production as-of needs: emitted lefts
  * leave the buffer (exactly-once per left row); right timestamps at or
  * below the watermark collapse to their MAXIMUM (the only one a future
  * left — necessarily above the watermark — can still select), rights
  * above the watermark stay until it passes them. Steady state per key
  * is O(in-flight window) and decays to ONE timestamp for an idle key —
  * the same footprint as a keyed dimension — because the as-of contract
  * itself requires remembering the latest right forever.
  */
object StreamAsOf {

  case class AsOfEvent(user_id: Long, ts: java.sql.Timestamp,
                       event_id: Long, is_left: Boolean)
  case class AsOfPending(eventId: Long, tsUs: Long)
  case class AsOfState(pending: Seq[AsOfPending], rightUs: Seq[Long])
  case class AsOfMatch(event_id: Long, user_id: Long,
                       ts: java.sql.Timestamp,
                       signup_ts: Option[java.sql.Timestamp])

  private def tsUs(t: java.sql.Timestamp): Long =
    t.getTime * 1000 + (t.getNanos / 1000) % 1000

  private def usToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000)
    t.setNanos(((us % 1000000) * 1000).toInt)
    t
  }

  /** The stateful operator over an already-keyed union stream. `delay`
    * is the watermark lateness allowance: how far out-of-order a row may
    * arrive ACROSS batches and still resolve exactly. */
  def asofStateful(events: Dataset[AsOfEvent],
                   delay: String = "0 seconds"): Dataset[AsOfMatch] = {
    val spark = events.sparkSession
    import spark.implicits._

    def fold(userId: Long, it: Iterator[AsOfEvent],
             state: GroupState[AsOfState]): Iterator[AsOfMatch] = {
      val prior = state.getOption.getOrElse(AsOfState(Seq.empty, Seq.empty))
      var pending = prior.pending.toList
      var rights = prior.rightUs.toList
      it.foreach { e =>
        if (e.is_left) pending ::= AsOfPending(e.event_id, tsUs(e.ts))
        else rights ::= tsUs(e.ts)
      }
      val wmUs = state.getCurrentWatermarkMs() * 1000
      // emit lefts the watermark has passed: their right set is final
      val (ripe, hold) = pending.partition(_.tsUs <= wmUs)
      val out = ripe.sortBy(p => (p.tsUs, p.eventId)).map { p =>
        val m = rights.filter(_ <= p.tsUs)
        AsOfMatch(p.eventId, userId, usToTs(p.tsUs),
          if (m.isEmpty) None else Some(usToTs(m.max)))
      }
      // rights at/below the watermark collapse to their max — the only
      // one any future (above-watermark) left can still select
      val below = rights.filter(_ <= wmUs)
      rights = (if (below.isEmpty) Nil else List(below.max)) :::
        rights.filter(_ > wmUs)
      if (hold.isEmpty && rights.isEmpty) state.remove()
      else {
        state.update(AsOfState(hold, rights))
        // wake when the watermark passes the earliest held left, or the
        // last un-collapsed right (one final collapse to O(1) state);
        // an already-collapsed idle key sets no timeout and just holds
        // its single right timestamp
        val wake = (hold.map(_.tsUs) ++ rights.filter(_ > wmUs)) match {
          case Nil => None
          case us => Some(us.min / 1000)
        }
        wake.foreach(state.setTimeoutTimestamp)
      }
      out.iterator
    }

    events.withWatermark("ts", delay).groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fold)
  }

  /** End-to-end STREAMING as-of as a real query: stage (left=purchases,
    * right=signups) as one file-source union, run [[asofStateful]] into
    * a file sink, advance the watermark past every real row with the
    * [[ScratchStream.sentinelRounds]], and return every emitted match.
    * The result must equal the batch as-of row-for-row, which is exactly
    * what the registry oracle (DuckDB ASOF LEFT JOIN) checks. */
  def runAsOfStream(spark: SparkSession, left: DataFrame,
                    right: DataFrame): DataFrame = {
    import spark.implicits._
    val stream = new ScratchStream(spark, "sasof")
    stream.stage(Seq("src" -> left.select(col("user_id"), col("ts"), col("event_id"),
        lit(true).as("is_left"))
      .unionByName(right.select(col("user_id"), col("ts"),
        lit(-1L).as("event_id"), lit(false).as("is_left")))))
    val maxTs = stream.staged("src").agg(max(col("ts"))).collect()(0).getTimestamp(0)
    stream.run(
      asofStateful(stream.source("src").as[AsOfEvent]).toDF()
        .writeStream.outputMode("append")
        .format("parquet").option("path", stream.dir("out")),
      stateRows = Some(10000L),
      drops = stream.sentinelRounds(maxTs)(ts =>
        Seq("src" -> Seq(AsOfEvent(Long.MinValue, ts, -99L, true)).toDF())))
    spark.read.parquet(stream.dir("out"))
      .filter(col("user_id") =!= Long.MinValue)
      .select("event_id", "user_id", "ts", "signup_ts")
  }
}
