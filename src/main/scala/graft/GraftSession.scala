package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the defaults this engine assumes everywhere:
  * UTC session time zone (oracle parity), AQE on (runtime coalescing and
  * skew-join splitting at scale), and shuffle partitions sized for the
  * local harness rather than Spark's default 200.
  *
  * On a real cluster the same builder is used with `master` unset and
  * `shufflePartitions` raised to ~2-3x total executor cores; AQE then
  * coalesces small post-shuffle partitions automatically.
  */
object GraftSession {
  def builder(
      appName: String = "graft",
      master: String = "local[*]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // testdata events.ts is parquet TIMESTAMP(NANOS); Spark has no nanos
      // type, so read as long and rescale in Tables.events (lossless: the
      // generator's values are µs-aligned).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def local(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session of a driver program (Verify, Bench, the tools):
    * `local[n]` with `n` shuffle partitions, `n` from `SPARK_GRAFT_CPUS`
    * (else `defaultCpus`). */
  def driver(appName: String, defaultCpus: Int,
      logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCpus)(_.toInt)
    val spark = builder(appName, s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
