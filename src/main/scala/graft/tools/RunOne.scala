package graft.tools

import graft.{GraftSession, SparkEntry}

/** Run registry queries and print their rows — for eyeballing pinned
  * booleans at scale factors the oracle does not cover (e.g. the sf10
  * boundedness row of sql_optimize_partition).
  * Usage: RunOne <query>[,<query>...]; env SPARK_GRAFT_SF_DIR /
  * SPARK_GRAFT_CPUS. */
object RunOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RunOne <query>[,<query>...]")
    val queries = SparkEntry.select(Some(args.mkString(",")), "RunOne")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.driver("graft-run-one", 32)
    SparkEntry.ensureBucketedTables(spark, sfDir)
    queries.foreach { case (_, fn) =>
      fn(spark, sfDir).show(100, false)
      SparkEntry.afterQuery(spark)
    }
    spark.stop()
  }
}
