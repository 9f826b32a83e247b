package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.{Compaction, ConsumerPipeline, PartitionedSink}
import graft.streaming.{EventsStream, ScratchStream}

class StreamingSinkSpec extends SparkSpec {

  test("streaming parquet sink with checkpoint persists the windowed agg") {
    val in = java.nio.file.Files.createTempDirectory("graft_ssin").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ssout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ssck").toString
    Tables.events(spark, sf).write.mode("overwrite").parquet(in)
    val schema = spark.read.parquet(in).schema
    // append mode + watermark: only windows older than the watermark emit;
    // with one batch, the final windows stay open — foreachBatch variant
    // below covers exact equality, this covers the durable-sink mechanics
    val q = EventsStream.streamingHourlyAgg(spark, in, schema)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out)
      .start()
    try q.processAllAvailable() finally q.stop()
    // durable sink mechanics: checkpoint has committed offsets, and the
    // sink directory has a streaming metadata log
    assert(new java.io.File(s"$ckpt/offsets").list().nonEmpty)
    assert(new java.io.File(s"$out/_spark_metadata").exists())
  }

  test("foreachBatch bridges the stream into the partitioned consumer sink") {
    val in = java.nio.file.Files.createTempDirectory("graft_fbin").toString
    val out = java.nio.file.Files.createTempDirectory("graft_fbout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fbck").toString
    Tables.events(spark, sf).write.mode("overwrite").parquet(in)
    val schema = spark.read.parquet(in).schema
    val stream = spark.readStream.schema(schema).parquet(in)
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val typed = batch
          .withColumn("trip_year", year(col("ts")))
          .withColumn("trip_month", month(col("ts")))
        PartitionedSink.write(typed, out, Seq("event_type", "trip_year", "trip_month"))
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val back = PartitionedSink.read(spark, out)
    assert(back.count() == Tables.events(spark, sf).count())
    assert(back.select("event_type").distinct().count() == 5)
  }

  test("stream-static join matches its batch equivalent exactly") {
    val ev = Tables.events(spark, sf)
    val dim = ev.select("user_id").distinct()
      .withColumn("tier", concat(lit("tier_"), col("user_id") % 3))
    val streamed = EventsStream.runStreamStaticJoin(spark, ev, dim)
    val batch = ev.join(dim, "user_id")
      .groupBy(window(col("ts"), "1 hour"), col("tier"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("window_start"), col("tier"),
              col("n_events"), col("total_value"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming dedup drops a fully re-delivered batch") {
    val ev = Tables.events(spark, sf).select("event_id", "event_type", "user_id")
    val out = graft.streaming.StreamDedup.dedupStream(spark, Seq(ev, ev), Seq("event_id"))
    assert(out.count() == ev.count(), "replayed rows must be dropped")
    assert(out.select("event_id").distinct().count() == ev.count())
  }

  test("streaming CDC upserts merge transactionally, one commit per batch") {
    import spark.implicits._
    import graft.acid.TxLog
    val t = java.nio.file.Files.createTempDirectory("graft_cdcacid").toString
    val base = Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0))
      .toDF("fleet", "id", "amt")
    TxLog.overwrite(base, t, Seq("fleet"))
    val cdc1 = Seq(("a", 2L, 99.0), ("b", 4L, 40.0),
                   ("b", 4L, 40.0)) // within-batch replay collapses
      .toDF("fleet", "id", "amt")
    val cdc2 = Seq(("b", 4L, 44.0)) // later batch updates batch-1's insert
      .toDF("fleet", "id", "amt")
    graft.streaming.StreamMerge.upsertStream(spark, Seq(cdc1, cdc2), t, Seq("id"))
    assert(TxLog.read(spark, t).collect().map(_.toSeq).toSet == Set(
      Seq("a", 1L, 10.0), Seq("a", 2L, 99.0), Seq("b", 3L, 30.0),
      Seq("b", 4L, 44.0)))
    // one ACID commit per micro-batch, and the intermediate state travels
    assert(TxLog.currentVersion(spark, t) == 3L)
    assert(TxLog.read(spark, t, Some(2L)).filter(col("id") === 4L)
      .select("amt").collect()(0).getDouble(0) == 40.0)
  }

  test("CDC batches with conflicting images collapse deterministically on seqCol") {
    import spark.implicits._
    import graft.acid.TxLog
    val t = java.nio.file.Files.createTempDirectory("graft_cdcseq").toString
    TxLog.overwrite(Seq((1L, 10.0, 0L), (2L, 20.0, 0L)).toDF("id", "amt", "seq"), t)
    // one micro-batch carries TWO different images of id=2: without a
    // sequence column this is an arbitrary pick; with one, latest wins
    val cdc = Seq((2L, 100.0, 5L), (2L, 200.0, 9L), (3L, 30.0, 1L))
      .toDF("id", "amt", "seq")
    graft.streaming.StreamMerge.upsertStream(spark, Seq(cdc), t, Seq("id"),
      seqCol = Some("seq"))
    assert(TxLog.read(spark, t).collect().map(_.toSeq).toSet == Set(
      Seq(1L, 10.0, 0L), Seq(2L, 200.0, 9L), Seq(3L, 30.0, 1L)))
  }

  test("sessionize stream keeps genuinely negative user ids") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf(_: String)
    // user -5 (a legitimate id in a signed domain) with two sessions
    // separated by a 2-hour gap; the watermark sentinel must not eat it
    val ev = Seq(
      (-5L, ts("2023-01-01 00:00:00")), (-5L, ts("2023-01-01 00:10:00")),
      (-5L, ts("2023-01-01 02:30:00")),
      (7L, ts("2023-01-01 01:00:00")))
      .toDF("user_id", "ts")
    val out = EventsStream.runSessionizeStream(spark, ev)
    val neg = out.filter(col("user_id") === -5L)
    assert(neg.count() == 2, "both of user -5's sessions must emit")
    assert(out.filter(col("user_id") === 7L).count() == 1)
  }

  test("compaction reduces file count and preserves data") {
    val base = java.nio.file.Files.createTempDirectory("graft_comp").toString
    val c = ConsumerPipeline.consumer(spark, sf).select("event_id", "total_amount")
    c.repartition(40).write.mode("overwrite").parquet(s"$base/small")
    assert(Compaction.parquetFileCount(spark, s"$base/small") >= 30)
    val compacted = Compaction.compact(spark, s"$base/small", s"$base/big")
    assert(Compaction.parquetFileCount(spark, s"$base/big") <= 2)
    assert(compacted.count() == c.count())
    assert(compacted.agg(round(sum("total_amount"), 2)).collect()(0).getDouble(0) ==
      c.agg(round(sum("total_amount"), 2)).collect()(0).getDouble(0))
  }

  // ------------------------------------------ the scratch-stream driver

  /** A foreachBatch writer over `stream`'s `src` dir that records each
    * non-empty batch's distinct `tag` values, in batch order. */
  private def recording(stream: ScratchStream, options: (String, String)*)
      : (org.apache.spark.sql.streaming.DataStreamWriter[_], ConcurrentLinkedQueue[Seq[String]]) = {
    val seen = new ConcurrentLinkedQueue[Seq[String]]()
    val writer = stream.source("src", options: _*).writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty)
          seen.add(b.select("tag").distinct().collect().map(_.getString(0)).toSeq.sorted)
        ()
      }
    (writer, seen)
  }

  test("scratch stream: N staged drops are N data micro-batches, in order") {
    val stream = new ScratchStream(spark, "ss_drops")
    // each drop spans two files, so a drop split across polls would show
    val drops = (0 until 4).map(i =>
      Seq("src" -> spark.range(i * 10L, i * 10L + 10L, 1L, 2).select(lit(s"d$i").as("tag"))))
    stream.stage(drops.head)
    val (writer, seen) = recording(stream)
    val q = stream.run(writer, drops = drops.tail)
    assert(q.recentProgress.count(_.numInputRows > 0) === 4)
    assert(seen.asScala.toSeq === (0 until 4).map(i => Seq(s"d$i")))
  }

  test("scratch stream: setTimes orders a maxFilesPerTrigger backlog") {
    val stream = new ScratchStream(spark, "ss_order")
    val t0 = System.currentTimeMillis()
    // staged a, b, c, d; stamped so that the file order is d, b, a, c
    Seq("a" -> (t0 - 60000L), "b" -> (t0 - 120000L), "c" -> t0, "d" -> (t0 - 180000L))
      .foreach { case (tag, mtime) =>
        stream.stage(Seq("src" -> spark.range(1).select(lit(tag).as("tag")).coalesce(1)), mtime)
      }
    val (writer, seen) = recording(stream, "maxFilesPerTrigger" -> "1")
    stream.run(writer)
    assert(seen.asScala.toSeq === Seq("d", "b", "a", "c").map(Seq(_)))
  }

  test("scratch stream: a throwing query restores the scratch confs") {
    val partsKey = "spark.sql.shuffle.partitions"
    val sumKey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    val prior = Seq(partsKey, sumKey).map(k => k -> spark.conf.getAll.get(k))
    def throwing(): (String, String) = {
      val stream = new ScratchStream(spark, "ss_throw")
      stream.stage(Seq("src" -> spark.range(3).select(lit("x").as("tag"))))
      val during = new java.util.concurrent.atomic.AtomicReference[(String, String)]()
      val e = intercept[Exception](stream.run(
        stream.source("src").writeStream.foreachBatch { (_: DataFrame, _: Long) =>
          during.set((spark.conf.get(partsKey), spark.conf.get(sumKey)))
          throw new IllegalStateException("boom")
        },
        stateRows = Some(10000L)))
      assert(e.getMessage.contains("boom"))
      during.get
    }
    try {
      spark.conf.set(partsKey, "8"); spark.conf.set(sumKey, "true")
      assert(throwing() === ("4", "false"))
      assert(spark.conf.getAll.get(partsKey) === Some("8"))
      assert(spark.conf.getAll.get(sumKey) === Some("true"))
      spark.conf.unset(partsKey); spark.conf.unset(sumKey)
      assert(throwing() === ("4", "false"))
      assert(spark.conf.getAll.get(partsKey) === None)
      assert(spark.conf.getAll.get(sumKey) === None)
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
