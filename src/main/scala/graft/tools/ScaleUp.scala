package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Scale-stress data generator: replicates a testdata scale-factor
  * directory K× with key offsets, preserving referential integrity
  * (orders→customer, lineitem→orders/part/supplier, events→user) and
  * leaving the tiny fixed dimensions (region, nation) unreplicated.
  * Text/embedding payloads are copied verbatim, which deliberately
  * plants K-way exact/near duplicates — the worst realistic case for
  * the dedup operators (band-collision multiplicity grows K²).
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <dstDir> <K>
  */
object ScaleUp {

  /** Constant id stride between copies; testdata ids at sf0.1 are far
    * below it. */
  val Offset = 10000000L

  private def replicate(df: DataFrame, copies: Int, idCols: Seq[String]): DataFrame = {
    val k = explode(sequence(lit(0), lit(copies - 1))).as("copy_k")
    val rep = df.select(col("*"), k)
    idCols.foldLeft(rep) { (acc, c) =>
      acc.withColumn(c, col(c) + col("copy_k") * Offset)
    }.drop("copy_k")
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = args(2).toInt
    val spark = GraftSession.builder("graft-scaleup",
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val idCols: Map[String, Seq[String]] = Map(
      "region" -> Seq.empty, "nation" -> Seq.empty,
      "supplier" -> Seq("s_suppkey"),
      "customer" -> Seq("c_custkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))

    Tables.all.foreach { name =>
      // events: materialize the normalized µs timestamp so scaled data
      // reads back through the same Tables.events no-op path
      val base = if (name == "events") Tables.events(spark, src)
                 else Tables.load(spark, src, name)
      val out = idCols(name) match {
        case Seq() => base
        case cols  => replicate(base, copies, cols)
      }
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"SCALED $name -> ${out.count()} rows")
    }
    spark.stop()
  }
}
