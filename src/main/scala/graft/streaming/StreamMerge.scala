package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** Streaming CDC upsert into the ACID consumer table — the
  * `foreachBatch` + MERGE pattern Delta users run for change feeds
  * (the streaming face of the reference's consumer write,
  * process_data_glue.py:186-190).
  *
  * Each micro-batch becomes ONE transactional [[graft.acid.TxLog.merge]]
  * commit: matched keys update wholesale, new keys insert, and only the
  * files holding matched keys rewrite — a steady CDC trickle costs
  * per-batch O(touched files), never a table rewrite. Exactly-once
  * across restarts comes from the checkpoint: a replayed batch
  * re-MERGEs the same rows, and upserts are idempotent on the key.
  *
  * Within-batch collapse (MERGE requires a key-unique source): with a
  * `seqCol`, the row with the highest sequence value wins per key —
  * deterministic even when one batch carries two DIFFERENT images of a
  * key (ties break on the remaining columns, a total order). Without
  * one, `dropDuplicates` only collapses exact replays correctly; two
  * different images of a key would be an arbitrary pick, so callers
  * without a change-sequence column must pre-collapse their batches.
  */
object StreamMerge {

  /** Latest-image-per-key collapse: highest `seqCol` wins, remaining
    * columns break ties so the choice is a total order, not a hash-
    * partition accident. */
  private[graft] def collapseLatest(batch: DataFrame, keyCols: Seq[String],
                                    seqCol: String): DataFrame = {
    val tieBreak: Seq[Column] = batch.columns.toSeq
      .filterNot(keyCols.contains).filterNot(_ == seqCol).map(col(_).desc)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(seqCol).desc +: tieBreak: _*)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Drive `cdcBatches` through a file-source stream into `table`, one
    * MERGE commit per micro-batch (batch boundaries are forced by
    * feeding the source incrementally, mirroring a real trickle). The
    * table must already exist ([[graft.acid.TxLog.overwrite]] first).
    * `seqCol`: change-sequence column for deterministic latest-wins
    * collapse; None = batches must not carry conflicting images. */
  def upsertStream(spark: SparkSession, cdcBatches: Seq[DataFrame],
                   table: String, keyCols: Seq[String],
                   seqCol: Option[String] = None): Unit = {
    require(cdcBatches.nonEmpty, "need at least one CDC batch")
    val stream = new ScratchStream(spark, "cdc")
    stream.stage(Seq("src" -> cdcBatches.head))
    // the merge keeps the session's shuffle parallelism: no state sizing
    stream.run(
      stream.source("src").writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val collapsed = seqCol match {
              case Some(sc) => collapseLatest(batch, keyCols, sc)
              case None => batch.dropDuplicates(keyCols)
            }
            graft.acid.TxLog.merge(collapsed, table, keyCols)
            ()
          }
        },
      drops = cdcBatches.tail.map(b => Seq("src" -> b)))
  }
}
