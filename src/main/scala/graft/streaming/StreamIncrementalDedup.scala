package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.IncrementalDedup

/** The streaming face of incremental corpus dedup: a document stream is
  * deduped micro-batch by micro-batch against the persisted (bucketed)
  * LSH band index — exactly what a production ingest does between
  * landing and the consumer table. `foreachBatch` is the right hook
  * because each batch runs a full composite pipeline (LSH candidates
  * against the index, exact verify, index append) that has no
  * incremental-state expression inside a single streaming plan; the
  * per-batch work is [[IncrementalDedup.dedupBatch]] unchanged, so the
  * batch and stream paths cannot drift.
  *
  * The doc store grows with the stream: each processed batch's text
  * joins the corpus for later batches' verify stage (semi-join pruned —
  * only matched docs are ever read). Emitted pairs land in a durable
  * file sink, O(pairs) on executors, never the driver.
  *
  * EXACTLY-ONCE: foreachBatch is an at-least-once hook — after a crash
  * between a batch's side effects and the checkpoint commit, the
  * restarted query re-delivers the same micro-batch with the SAME
  * `batchId`. Both side effects are therefore keyed by that id
  * ([[IncrementalDedup.applyBatchExactlyOnce]]): pairs overwrite a
  * per-batch partition `out/batch=<id>` and the band append is skipped
  * when the batch's bands already landed, so a replay converges to the
  * first delivery's state instead of double-appending pairs and bands. */
object StreamIncrementalDedup {

  /** Stage `batches` as file-source drops processed IN ORDER (one
    * micro-batch per drop, [[ScratchStream.run]]), dedup each against
    * `indexTable` + the growing doc store, and return all verified
    * (new_doc, matched_doc, jaccard) pairs. */
  def run(spark: SparkSession, corpusText: DataFrame, batches: Seq[DataFrame],
          indexTable: String, textCol: String = "text"): DataFrame = {
    val stream = new ScratchStream(spark, "sid")
    val srcDir = stream.dir("src")
    val outDir = stream.dir("out")
    // an empty first drop: the stream needs the schema up front
    stream.stage(Seq("src" -> batches.head.limit(0)))
    val schema = stream.staged("src").schema
    // schema-stable empty marker: the sink dir exists (and carries the
    // pair schema) even if every staged drop turns out empty, so the
    // final read never throws path-does-not-exist
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("new_doc",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("matched_doc",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("jaccard",
            org.apache.spark.sql.types.DoubleType))))
      .repartition(1)
      .write.mode("overwrite").parquet(s"$outDir/batch=-1")
    val corpusSlim = corpusText.select(col("doc_id"), col(textCol))
    stream.run(
      stream.source("src").writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (!batch.isEmpty) {
            val s = batch.sparkSession
            // the growing doc store is the STAGED SOURCE itself (all prior
            // drops are parquet in srcDir) minus this batch's own docs — a
            // constant-depth plan per batch, not an N-way union whose
            // lineage grows with stream age
            val docStore = corpusSlim.unionByName(
              s.read.schema(schema).parquet(srcDir)
                .select(col("doc_id"), col(textCol))
                .join(broadcast(batch.select("doc_id")), Seq("doc_id"), "left_anti"))
            // per-batch frames must not accumulate in the cache manager
            // over a long-running stream: disable the signature cache for
            // this batch's cloned session (recompute is a per-row codegen
            // projection — cheap; an unreleased persist per batch is not)
            s.conf.set(graft.Caching.MaterializeKey, "false")
            IncrementalDedup.applyBatchExactlyOnce(
              batch, docStore, indexTable, batchId, outDir, textCol)
          }
        },
      drops = batches.map(b => Seq("src" -> b)))
    // partition discovery adds the batch key; drop it — callers see the
    // pure (new_doc, matched_doc, jaccard) pair set
    spark.read.parquet(outDir)
      .select("new_doc", "matched_doc", "jaccard")
  }
}
