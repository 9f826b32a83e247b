package graft.tools

import java.io.{File, FileWriter}

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}

/** Plan-evidence capture for the optimization round: runs registry
  * queries under a QueryExecutionListener and appends the FORMATTED
  * physical plan of EVERY executed action (the scenario's internal
  * commits included — where the engine-kernel work actually happens,
  * invisible in the returned frame's own plan) to one file per query.
  *
  * Usage: runMain graft.tools.DumpPlans <outDir> <suffix> <q1>[,<q2>..]
  * Writes <outDir>/<query>_<suffix>.txt
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: DumpPlans <outDir> <suffix> <queries>")
    val outDir = new File(args(0)); outDir.mkdirs()
    val suffix = args(1)
    val queries = SparkEntry.select(Some(args.drop(2).mkString(",")), "DumpPlans")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.driver("graft-dump-plans", 32, logLevel = "ERROR")
    SparkEntry.ensureBucketedTables(spark, sfDir)

    @volatile var sink: Option[FileWriter] = None
    val listener = new QueryExecutionListener {
      private def dump(funcName: String, qe: QueryExecution): Unit =
        sink.foreach { w =>
          w.synchronized {
            w.write(s"\n===== action: $funcName =====\n")
            // formatted mode: operator list + details (PushedFilters,
            // ReadSchema, join strategies, exchange modes)
            w.write(qe.explainString(
              org.apache.spark.sql.execution.FormattedMode))
            w.flush()
          }
        }
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = dump(funcName, qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = dump(funcName, qe)
    }
    spark.listenerManager.register(listener)

    queries.foreach { case (name, fn) =>
      val f = new File(outDir, s"${name}_$suffix.txt")
      val w = new FileWriter(f)
      w.write(s"# $name — every executed plan of one scenario run ($suffix)\n")
      sink = Some(w)
      try {
        val df = fn(spark, sfDir)
        w.write("\n===== RETURNED FRAME (declared query output) =====\n")
        w.write(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        df.write.format("noop").mode("overwrite").save()
      } finally {
        sink = None
        // give straggling listener callbacks a beat before closing
        Thread.sleep(300)
        w.close()
      }
      SparkEntry.afterQuery(spark)
      println(s"wrote ${f.getPath}")
    }
    spark.stop()
  }
}
