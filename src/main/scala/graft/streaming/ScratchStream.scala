package graft.streaming

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** The one driver of graft's self-contained stream RUNNERS (stage input
  * → run a Structured Streaming query → return its sink). An instance
  * owns one scratch dir ([[graft.TempDirs]]) holding the watched source
  * dirs, the staging dirs, the sink dirs and the query's checkpoint,
  * and every step the runners share:
  *
  *  - **Staging a drop** ([[stage]]). Each frame is written to its own
  *    scratch dir, then its data files move into the watched dir with
  *    Hadoop `FileSystem.rename` — stamped first with `setTimes` where
  *    file order matters (the file source orders a `maxFilesPerTrigger`
  *    backlog by modification time). A round of several frames (two
  *    feeds) writes them all first, as overlapping jobs, then renames
  *    back to back, so one discovery poll almost always sees the whole
  *    round — a fixed-cost trim only: a two-feed join's watermark is the
  *    min across inputs, so a split round advances nothing until all
  *    its files process. The source never lists a half-written file,
  *    and nothing assumes a local filesystem.
  *  - **One drain per drop** ([[run]]). The query starts on this
  *    instance's checkpoint; ONE `processAllAvailable` drains what was
  *    staged before the start, then each later drop is staged and
  *    drained in turn — a drop is a micro-batch boundary — and the
  *    query stops on every path.
  *  - **Sentinel rounds** ([[sentinelRounds]]). A watermarked stream
  *    only evicts state, fires event-time timeouts or emits outer-join
  *    nulls once later data advances the watermark — the way production
  *    streams experience their end. Two drops of far-future rows (30 and
  *    60 days past the last real event, under a key outside any real id
  *    domain that the runner filters out by EXACT match) push it past
  *    every real row; two because eviction and timeouts use the
  *    watermark committed by the PREVIOUS batch.
  *  - **Scratch confs**, set for the query's life and restored to their
  *    prior values (unset stays unset) however the body exits:
  *    - *state-partition sizing* (`stateRows`). Stateful operators
  *      commit every state-store partition on every micro-batch (delta
  *      file create + rename each); at small input volumes that fixed
  *      O(partitions × batches) cost dominates the work — measured on
  *      sessionize at sf0.1: 10.6 s with 32 partitions vs 3.2 s with 4,
  *      identical output. State partitions are sized to the DATA (one
  *      per ~100k input rows), floored at 4 and capped at the session
  *      setting. Production `writeStream` pipelines are unaffected: at
  *      cluster scale the session parallelism IS the right number, and
  *      this never raises it. foreachBatch runners whose batch work
  *      commits TxLog tables pass None and keep the session's
  *      parallelism.
  *    - *checkpoint file checksums off.* Spark 4.1 writes an
  *      integrity-checksum sidecar for every checkpoint file — per
  *      micro-batch one extra create+rename per state-store delta (4
  *      stores × partitions for a stream-stream join), offset log and
  *      commit log entry. Measured on stream_stream_outer at sf0.1:
  *      ~2.0 s/batch → ~0.86 s/batch, a fixed per-FILE cost at any
  *      scale. These checkpoints are per-invocation SCRATCH (written
  *      once, never restored, deleted with the scenario), so
  *      corruption-detection sidecars buy nothing; a production
  *      pipeline with a durable checkpoint keeps its session's default.
  */
private[graft] final class ScratchStream(spark: SparkSession, tag: String) {
  import ScratchStream._

  private val base = graft.TempDirs.create(tag)
  private val checkpoint = s"$base/ckpt"
  private val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val stagedFrames = mutable.Map.empty[String, DataFrame]
  private var rounds = 0

  /** Watched, sink or scratch dir `name` under this stream's dir. */
  def dir(name: String): String = s"$base/$name"

  /** Stage one round: each frame lands in its watched dir (see the
    * class doc). `mtime` (epoch ms) stamps every moved file; -1 keeps
    * the write time. Returns the moved data files' sizes in bytes. */
  def stage(round: Round, mtime: Long = -1L): Seq[Long] = {
    rounds += 1
    val scratch = round.indices.map(i => new Path(base, s"_stage/$rounds-$i"))
    writeAll(round.map(_._2).zip(scratch).toList)
    val moves = round.map(_._1).zip(scratch).flatMap { case (name, from) =>
      val to = new Path(dir(name))
      fs.mkdirs(to)
      fs.listStatus(from).toSeq
        .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
        .map { f =>
          if (mtime >= 0) fs.setTimes(f.getPath, mtime, -1L)
          (f, new Path(to, f.getPath.getName))
        }
    }
    moves.foreach { case (f, to) =>
      require(fs.rename(f.getPath, to), s"could not move ${f.getPath} to $to")
    }
    moves.map(_._1.getLen)
  }

  private def writeAll(frames: List[(DataFrame, Path)]): Unit = frames match {
    case (df, p) :: rest if rest.nonEmpty =>
      graft.acid.TxLog.overlapped(spark, df.write.parquet(p.toString))(writeAll(rest))
    case _ => frames.foreach { case (df, p) => df.write.parquet(p.toString) }
  }

  /** What was staged into `name` before the first call, as a batch
    * frame: its schema (read once) is the stream's, and runners take
    * their horizon statistics from it. */
  def staged(name: String): DataFrame =
    stagedFrames.getOrElseUpdate(name, spark.read.parquet(dir(name)))

  /** A parquet file stream over watched dir `name`. */
  def source(name: String, options: (String, String)*): DataFrame =
    spark.readStream.schema(staged(name).schema).options(options.toMap).parquet(dir(name))

  /** The two far-future sentinel rounds (see the class doc): `round(ts)`
    * gives each watched dir's frame at event time `ts`. */
  def sentinelRounds(maxTs: java.sql.Timestamp)(
      round: java.sql.Timestamp => Round): Seq[Round] =
    Seq(30L, 60L).map(days => round(new java.sql.Timestamp(maxTs.getTime + days * 86400000L)))

  /** Start `writer` on this stream's checkpoint under the scratch confs, drain,
    * then stage and drain each of `drops`; stop. `singleIngest` names a
    * stream-stream join: its first drain must ingest every staged file
    * in ONE micro-batch — the default when `maxFilesPerTrigger` is
    * unset. If batching ever splits (config drift, a future default
    * change), the 1-hour watermarks could silently drop out-of-order
    * rows relative to the batch oracle, so divergence fails loudly
    * instead. The later drops (sentinels: only far-future rows) are
    * exempt. Returns the stopped query; its progress stays readable. */
  def run(writer: DataStreamWriter[_], stateRows: Option[Long] = None,
          drops: Seq[Round] = Nil, singleIngest: Option[String] = None): StreamingQuery =
    withScratchConfs(spark, stateRows) {
      val q = writer.option("checkpointLocation", checkpoint).start()
      try {
        q.processAllAvailable()
        singleIngest.foreach { label =>
          val n = q.recentProgress.count(_.numInputRows > 0)
          require(n <= 1, s"$label: staged files must ingest in <= 1 micro-batch, " +
            s"got $n — single-batch ingestion is what makes the watermarked " +
            "stream equal to the batch oracle")
        }
        drops.foreach { d => stage(d); q.processAllAvailable() }
        q
      } finally q.stop()
    }

  /** The highest batch id in the checkpoint's commit log, -1 if none:
    * the engine's own durable record (a progress event for a batch
    * committing while `stop()` is in flight can be dropped). */
  def lastCommittedBatch: Long = {
    val commits = new Path(checkpoint, "commits")
    if (!fs.exists(commits)) -1L
    else fs.listStatus(commits).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
      .foldLeft(-1L)(math.max)
  }
}

private[graft] object ScratchStream {

  /** One drop: a frame per watched dir. */
  type Round = Seq[(String, DataFrame)]

  private val PartitionsKey = "spark.sql.shuffle.partitions"
  private val ChecksumKey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"

  private def withScratchConfs[T](spark: SparkSession, stateRows: Option[Long])(
      body: => T): T = {
    val prior = Seq(PartitionsKey, ChecksumKey).map(k => k -> spark.conf.getAll.get(k))
    stateRows.foreach { rows =>
      val cur = spark.conf.get(PartitionsKey).toInt
      spark.conf.set(PartitionsKey, math.max(4, math.min(cur, (rows / 100000L).toInt + 1)))
    }
    spark.conf.set(ChecksumKey, "false")
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
