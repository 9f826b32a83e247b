package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import graft.{GraftSession, SparkEntry}

/** Optimization-round profiler: runs registry queries under a
  * SparkListener and prints, per query, the wall time split into
  * executed-job time vs DRIVER GAP (analysis/optimization/planning,
  * file listing, commit bookkeeping — everything that is not a running
  * job), plus the job count and the slowest jobs with their call sites.
  *
  * The r15 rebalance lesson (51 s of repeated plan analysis invisible
  * to any job timer) is exactly the failure mode this surfaces: a
  * scenario whose wall time far exceeds its summed job time is paying
  * driver-side costs no executor tuning can touch.
  *
  * Usage: runMain graft.tools.ProfileQuery <query>[,<query>...]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32).
  */
object ProfileQuery {
  private case class JobRec(id: Int, desc: String, startMs: Long, endMs: Long) {
    def durMs: Long = endMs - startMs
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQuery <query>[,<query>...]")
    val queries = SparkEntry.select(Some(args.mkString(",")), "ProfileQuery")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.driver("graft-profile", 32)
    SparkEntry.ensureBucketedTables(spark, sfDir)

    val starts = TrieMap.empty[Int, (Long, String)]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
    val stageAgg = scala.collection.mutable.Map.empty[String, (Int, Long, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        starts(js.jobId) = (js.time, desc)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach { case (t0, d) =>
          jobs.add(JobRec(je.jobId, d, t0, je.time))
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val key = si.name.takeWhile(_ != '+').trim // "collect at X.scala:42"
        val dur = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(0L)
        stageAgg.synchronized {
          val (n, t, tk) = stageAgg.getOrElse(key, (0, 0L, 0L))
          stageAgg(key) = (n + 1, t + dur, tk + si.numTasks)
        }
      }
    })

    queries.foreach { case (name, fn) =>
      // one warmup pass (codegen/JIT), then the measured pass
      (0 until 2).foreach { round =>
        jobs.clear()
        stageAgg.synchronized(stageAgg.clear())
        val (pcHits0, pcMiss0) = graft.acid.TxLog.parsedCacheStats
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        SparkEntry.afterQuery(spark)
        if (round == 1) {
          val wallMs = (t2 - t0) / 1e6
          val buildMs = (t1 - t0) / 1e6
          val probeMs = (t2 - t1) / 1e6
          val recs = {
            val b = ArrayBuffer.empty[JobRec]
            val it = jobs.iterator(); while (it.hasNext) b += it.next()
            b.sortBy(_.startMs)
          }
          // jobs can overlap (concurrent actions); merge intervals for
          // the honest "some job was running" coverage number
          var covered = 0L
          var curS = -1L; var curE = -1L
          recs.foreach { r =>
            if (r.startMs > curE) { if (curE >= 0) covered += curE - curS; curS = r.startMs; curE = r.endMs }
            else curE = math.max(curE, r.endMs)
          }
          if (curE >= 0) covered += curE - curS
          val jobSum = recs.map(_.durMs).sum
          val (pcHits1, pcMiss1) = graft.acid.TxLog.parsedCacheStats
          println(f"== $name: wall ${wallMs / 1000}%.2fs (build ${buildMs / 1000}%.2f + probe ${probeMs / 1000}%.2f), " +
            f"jobs ${recs.size}, job-covered ${covered / 1000.0}%.2fs, job-sum ${jobSum / 1000.0}%.2fs, " +
            f"DRIVER GAP ${(wallMs - covered) / 1000.0}%.2fs, " +
            s"txlog-parse hits ${pcHits1 - pcHits0} / misses ${pcMiss1 - pcMiss0}")
          // stage-name aggregation: where the executed time comes from
          val byStage = stageAgg.synchronized(stageAgg.toSeq).sortBy(-_._2._2)
          byStage.take(20).foreach { case (name, (n, t, tk)) =>
            println(f"   ${t / 1000.0}%6.2fs  x$n%-3d tasks=$tk%-5d $name")
          }
        }
      }
    }
    spark.stop()
  }
}
