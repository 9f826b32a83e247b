package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming ingest dedup: the exactly-once face of the landing layer.
  *
  * A re-delivered batch (retried upload, Lambda at-least-once fan-out —
  * the reference's ingest is exactly that shape, ingest_data.py:68-111)
  * must not double-count trips. Structured Streaming's `dropDuplicates`
  * on the natural key keeps one state-store entry per seen key and
  * drops replays across micro-batches; production bounds that state
  * with `withWatermark` + `dropDuplicatesWithinWatermark` (replays
  * arrive within the re-delivery SLA, so old keys age out).
  */
object StreamDedup {

  /** Run a file-source stream over the staged batches (later ones may
    * replay earlier rows), dedup on `keyCols`, apply `agg` INSIDE the
    * stream, and return the memory-sink result.
    *
    * The aggregation runs in-stream deliberately: only the (tiny)
    * aggregate state crosses into the driver-side sink. Landing the raw
    * deduped stream in a memory sink instead means O(rows) driver heap —
    * measured 64 s / 1M rows at sf1 vs ~4 s aggregated. */
  def dedupStream(spark: SparkSession, batches: Seq[DataFrame],
                  keyCols: Seq[String],
                  agg: DataFrame => DataFrame): DataFrame = {
    val stream = new ScratchStream(spark, "sdd")
    // every batch is staged before the start: ONE micro-batch ingests
    // them all, and the dedup state drops the replays within it
    stream.stage(batches.map("src" -> _))
    val nRows = stream.staged("src").count() // footer count
    val name = s"graft_sdd_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val out = agg(stream.source("src").dropDuplicates(keyCols))
    val mode = if (out.isStreaming && out.queryExecution.analyzed
        .collectFirst { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
        .isDefined) "complete" else "append"
    stream.run(out.writeStream.outputMode(mode).format("memory").queryName(name),
      stateRows = Some(nRows))
    spark.table(name)
  }

  /** Raw deduped rows (append mode) — test/bounded-size use. */
  def dedupStream(spark: SparkSession, batches: Seq[DataFrame],
                  keyCols: Seq[String]): DataFrame =
    dedupStream(spark, batches, keyCols, identity)
}
