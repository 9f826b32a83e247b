package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The streaming face of the multimodal codec path: audio blobs arrive
  * as a document stream and feature-extract micro-batch by micro-batch
  * into a durable parquet sink — the ingest-time shape of
  * [[graft.multimodal.BinaryColumns.audioMeta]] (#100).
  *
  * Why this exists as its own proof: the codec path is `mapPartitions`
  * with per-partition JVM codec state (the image path reuses an ImageIO
  * [[graft.multimodal.Codecs.Handle]] per partition; the WAV path
  * allocates parse buffers per row). A micro-batch stream re-plans that
  * `mapPartitions` once PER BATCH over fresh partitions — this module
  * pins that the per-partition handle lifecycle survives that (handles
  * are constructed inside the partition closure, never captured from
  * the driver, so each micro-batch's tasks build their own — nothing
  * leaks across batches and nothing serializes a codec object).
  *
  * `foreachBatch` + per-batch overwrite partition `out/batch=<id>` is
  * the exactly-once discipline of [[StreamIncrementalDedup]]: a
  * replayed batch rewrites its own partition byte-identically (the
  * feature law is a pure function of the payload) instead of appending
  * a second copy. Feature rows are O(docs) — tiny next to the blobs —
  * and land on executors, never the driver.
  *
  * At 100 TB the blobs would arrive by reference (a path/offset column
  * into an object store) rather than inline; the plan shape is
  * unchanged — per-row decode inside `mapPartitions`, zero shuffles,
  * sink partitioned by batch. */
object StreamAudio {

  /** Stage `batches` as file-source drops processed IN ORDER (one
    * micro-batch per drop, [[ScratchStream.run]]), run
    * the #100 audio feature extraction on each micro-batch, and return
    * the durable sink's contents: one feature row per document. */
  def run(spark: SparkSession, batches: Seq[DataFrame]): DataFrame = {
    val stream = new ScratchStream(spark, "saud")
    val outDir = stream.dir("out")
    val empty = batches.head.limit(0)
    // an empty first drop: the stream needs the schema up front
    stream.stage(Seq("src" -> empty))
    // schema-stable empty marker (the StreamIncrementalDedup discipline):
    // the sink exists with the feature schema even if no drop arrives
    graft.multimodal.BinaryColumns.audioMeta(empty).toDF()
      .repartition(1).write.mode("overwrite").parquet(s"$outDir/batch=-1")
    stream.run(
      stream.source("src").writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (!batch.isEmpty)
            graft.multimodal.BinaryColumns.audioMeta(batch).toDF()
              .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        },
      drops = batches.map(b => Seq("src" -> b)))
    spark.read.parquet(outDir)
      .select("doc_id", "sample_rate", "n_samples", "duration_ms",
        "rms", "peak", "zcr", "header_ok")
  }
}
