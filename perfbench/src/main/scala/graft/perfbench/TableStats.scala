package graft.perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.acid.TxLog

/** Counters of a TxLog table, read only through graft's public functions
  * and Hadoop `FileSystem` listings. */
object TableStats {
  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (live files, commits a fresh snapshot of `table` replays). */
  def replay(spark: SparkSession, table: String): (Int, Int) = {
    val files = TxLog.fileCount(spark, table)
    (files, TxLog.lastReplayCommits)
  }

  def checkpoints(spark: SparkSession, table: String): Int = {
    val log = new Path(table, "_txlog")
    fs(spark, table).listStatus(log).count(_.getPath.getName.endsWith(".checkpoint.json"))
  }

  /** Bytes of every file under `dir`: data, log, change files, sidecars. */
  def bytesUnder(spark: SparkSession, dir: String): Long =
    fs(spark, dir).getContentSummary(new Path(dir)).getLength

  /** Bytes of the files the current snapshot reads. */
  def liveBytes(spark: SparkSession, table: String): Long = {
    val f = fs(spark, table)
    TxLog.read(spark, table).inputFiles.map(p => f.getFileStatus(new Path(p)).getLen).sum
  }

  /** (files added, files removed) summed over commits after `fromVersion`. */
  def churn(spark: SparkSession, table: String, fromVersion: Long): (Long, Long, Int) = {
    val hs = TxLog.historyFull(spark, table).filter(_._1 > fromVersion)
    (hs.map(_._4.toLong).sum, hs.map(_._5.toLong).sum, hs.size)
  }
}
