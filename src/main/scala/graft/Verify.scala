package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load fail and silently zero the round's
    * correctness. Bench's artifacts use it too. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.driver("graft-verify", 4)
    new java.io.File(outDir).mkdirs()
    // failed queries must be VISIBLE in the correctness report, not absent
    // from it: a throwing query writes a `<name>.ERROR` sentinel (class +
    // first 200 chars) and lands in verify_errors.json, so the driver can
    // emit an `err` row instead of silently dropping the key (round 6: the
    // NTZ break removed 4 keys from CORRECTNESS with no trace)
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // dev-loop subset (comma-separated keys), mirroring Bench's
    // SPARK_GRAFT_BENCH_ONLY — the driver never sets this, so the full
    // registry always runs in the round gate
    val only = "SPARK_GRAFT_VERIFY_ONLY"
    SparkEntry.select(sys.env.get(only), only).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = e.getClass.getName + ": " +
          Option(e.getMessage).getOrElse("").take(200)
        System.err.println(s"[verify] $name failed: $msg")
        failures(name) = msg
        Files.writeString(Paths.get(s"$outDir/$name.ERROR"), msg)
      }
      SparkEntry.afterQuery(spark)
    }
    def obj(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), obj(failures))
    spark.stop()
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
  }
}
