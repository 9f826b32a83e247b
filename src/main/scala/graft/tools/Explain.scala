package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev tool: print the formatted physical plan and wall time of one or
  * more registered queries (all of them when none is named).
  *
  * Usage: runMain graft.tools.Explain <sfDir> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val queries = SparkEntry.select(
      Option.when(args.tail.nonEmpty)(args.tail.mkString(",")), "Explain")
    val spark = GraftSession.driver("graft-explain", 8)
    queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      println(s"\n========== $name ==========")
      df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"[$name] $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      SparkEntry.afterQuery(spark)
    }
    spark.stop()
  }
}
