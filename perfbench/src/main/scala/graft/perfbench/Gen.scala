package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every table, batch, key set, query order and
  * document edit is a pure function of the workload seed, so a run can
  * be repeated exactly and a claim re-checked on an unseen seed. Bulk
  * columns are hashes of (row id, seed, salt), which makes them
  * independent of Spark's partitioning.
  *
  * The benchmark reads nothing outside its checkout, so it cannot load
  * the sf0.1 test tables; it generates tables with their schemas, row
  * counts and value ranges instead (see METHOD.md for where it departs). */
final class Gen(val spark: SparkSession, val seed: Long) {

  /** Uniform [0, 1) per row of `spark.range`, for salt `salt`. */
  def u(salt: Int): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1000000000L)) / 1e9

  /** A local RNG for stream `stream`, independent of the others. */
  def rng(stream: Int): scala.util.Random =
    new scala.util.Random(seed * 1000003L + stream)

  private def write(df: DataFrame, dir: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def pick(c: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (floor(c * xs.size) + 1).cast("int"))

  /** Landing `events`: the raw trip feed the consumer pipeline cleans.
    * sf0.1's columns and ranges (1,500 users, five event types, values
    * 0-560), but spread over a year rather than one month, so the table
    * has 24 (fleet, month) partitions to reload one at a time. About 2%
    * of rows fail a quality rule, so the rules do some work. */
  def events(n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("event_id"),
      when(u(1) < 0.01, lit(null).cast("timestamp"))
        .otherwise(timestamp_seconds(lit(1704067200L) + floor(u(2) * 366 * 86400)
          .cast("long"))).as("ts"),
      floor(u(3) * 1500).cast("long").as("user_id"),
      pick(u(4), Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      when(u(5) < 0.01, round(lit(-1) - u(6) * 10, 2)).otherwise(round(u(6) * 560, 2)).as("value"),
      concat(lit("{\"k\": "), (col("id") % 100).cast("string"), lit("}")).as("props"))

  /** What the consumer table must hold for a landing frame, derived
    * independently of the pipeline: the quality rules and the fleet
    * filter written out as plain predicates. */
  def expectedConsumer(events: DataFrame): DataFrame =
    events.filter(col("user_id") > 0 && col("value") >= 0 && col("ts").isNotNull &&
        col("event_type").isin("purchase", "view"))
      .select(col("event_id"), col("user_id").as("passenger_count"),
        col("value").as("total_amount"), col("ts").as("pickup_datetime"),
        col("event_type").as("trip_type"), year(col("ts")).as("trip_year"),
        month(col("ts")).as("trip_month"))

  /** The star schema the analytics queries read. */
  def writeStar(dir: String, nCustomer: Long, nOrders: Long, nLineitem: Long): Unit = {
    write(spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      pick(col("id") / 5.0, Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"))
        .as("r_name")), dir, "region")
    write(spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), dir, "nation")
    write(spark.range(1, nCustomer + 1).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id").cast("string")).as("c_name"),
      floor(u(11) * 25).cast("int").as("c_nationkey"),
      round(u(12) * 11000 - 1000, 2).as("c_acctbal"),
      pick(u(13), Gen.Segments).as("c_mktsegment")), dir, "customer")
    write(spark.range(1, nOrders + 1).select(col("id").as("o_orderkey"),
      (floor(u(21) * nCustomer) + 1).cast("long").as("o_custkey"),
      pick(u(22), Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(23) * 400000 + 800, 2).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + floor(u(24) * 2400 * 86400).cast("long"))
        .as("o_orderdate"),
      pick(u(25), Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")), dir, "orders")
    write(spark.range(nLineitem).select(
      (floor(u(31) * nOrders) + 1).cast("long").as("l_orderkey"),
      (floor(u(32) * 20000) + 1).cast("long").as("l_partkey"),
      (floor(u(33) * 1000) + 1).cast("long").as("l_suppkey"),
      ((col("id") % 7) + 1).cast("int").as("l_linenumber"),
      (floor(u(34) * 50) + 1).cast("double").as("l_quantity"),
      round(u(35) * 100000 + 900, 2).as("l_extendedprice"),
      round(floor(u(36) * 11) / 100, 2).as("l_discount"),
      round(floor(u(37) * 9) / 100, 2).as("l_tax"),
      pick(u(38), Seq("A", "N", "R")).as("l_returnflag"),
      pick(u(39), Seq("F", "O")).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + floor(u(40) * 2500 * 86400).cast("long"))
        .as("l_shipdate")), dir, "lineitem")
  }

  def writeEvents(dir: String, df: DataFrame): Unit = write(df, dir, "events")

  /** A document of `minWords` to `maxWords` words from a `vocab`-word
    * vocabulary. */
  def document(r: scala.util.Random, minWords: Int, maxWords: Int, vocab: Int): Array[String] =
    Array.fill(minWords + r.nextInt(maxWords - minWords + 1))(s"w${r.nextInt(vocab)}")

  /** One word-level edit (substitute, insert or delete at a seeded
    * position), which keeps word-3-gram Jaccard above 0.93 at 90 words. */
  def edit(r: scala.util.Random, words: Array[String], vocab: Int): Array[String] = {
    val at = 1 + r.nextInt(words.length - 2)
    val w = s"e${r.nextInt(vocab)}"
    r.nextInt(3) match {
      case 0 => words.updated(at, w)
      case 1 => (words.take(at) :+ w) ++ words.drop(at)
      case _ => words.take(at) ++ words.drop(at + 1)
    }
  }

  /** Unit-length 64-dim embeddings with no cluster structure, as in
    * sf0.1, whose ten labels carry none either. A seeded id permutation
    * makes the ANN query set `vec_id < q` a seeded sample of the corpus. */
  def embeddings(n: Int): DataFrame = {
    val r = rng(50)
    val ids = r.shuffle((0 until n).toVector)
    val rows = (0 until n).map { i =>
      val v = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (ids(i).toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }
}

object Gen {
  /** The seed of the reference tables, which every run shares. */
  val ReferenceSeed = 20240101L
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
}
