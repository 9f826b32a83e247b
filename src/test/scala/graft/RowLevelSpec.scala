package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.acid.{MergeClause, TxLog}
import MergeClause._

/** Laws of the row-level kernel that hold for every write strategy: a
  * copy-on-write commit costs a bounded number of SQL executions and
  * no stray job; a commit leaves the session's file-sizing conf as it
  * found it, also when commits race; and cancelling the caller's job
  * tag stops a commit in its staging writes, with nothing committed
  * and no job left behind. */
class RowLevelSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.select("id", "v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted

  private def table(prefix: String, n: Long): String = {
    val t = tmp(prefix)
    TxLog.overwrite(spark.range(0, n)
      .select(col("id"), (col("id") % 10).cast("double").as("v")).repartition(2), t)
    t
  }

  private def tags(p: java.util.Properties): Set[String] =
    Option(p.getProperty("spark.job.tags")).toSet.flatMap((s: String) => s.split(",").toSet)

  /** Runs a marker job in its own group and waits until the listener
    * has seen `expect` of them: the listener queue delivers in order, so
    * every event posted before the marker has then arrived. */
  private def flush(markerGroup: String, markers: AtomicInteger, expect: Int): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(markerGroup, "listener flush marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (markers.get() < expect && System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(markers.get() >= expect, "marker job event never delivered")
  }

  /** (SQL executions, Spark jobs outside any SQL execution) that `body`
    * runs — the listener pattern of DvCommitSpec. A stray job is e.g. a
    * parquet schema inference. */
  private def actionsOf(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val markerGroup = s"rowlevel-marker-${java.util.UUID.randomUUID()}"
    val executions = new AtomicInteger
    val stray = new AtomicInteger
    val markers = new AtomicInteger
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executions.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        executions.incrementAndGet()
    }
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties).getOrElse(new java.util.Properties)
        if (props.getProperty("spark.jobGroup.id") == markerGroup) markers.incrementAndGet()
        else if (props.getProperty("spark.sql.execution.id") == null) stray.incrementAndGet()
        ()
      }
    }
    spark.listenerManager.register(queries)
    sc.addSparkListener(listener)
    try {
      flush(markerGroup, markers, 1)
      val e0 = executions.get()
      stray.set(0)
      body
      flush(markerGroup, markers, 2)
      (executions.get() - e0, stray.get())
    } finally {
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(listener)
    }
  }

  // ------------------------------------------ actions per copy-on-write commit

  test("copy-on-write commits: bounded SQL executions, no stray jobs") {
    import spark.implicits._
    val t = table("cowact", 1000)
    val src = Seq((3L, 7.0), (103L, 7.0), (5000L, 7.0)).toDF("id", "v")
    // the bound of each verb is its count before the verbs shared one kernel
    val verbs = Seq[(String, Int, () => Unit)](
      ("merge", 3, () => TxLog.merge(src, t, Seq("id"))),
      ("mergeConditional", 3, () => TxLog.mergeConditional(src, t, Seq("id"), Seq(
        MatchedUpdate(None, Map("v" -> "s.v + 1")), NotMatchedInsert(None)))),
      ("update", 3, () => TxLog.update(spark, t, col("id") % 100 === 2,
        Map("v" -> lit(-1.0)))),
      ("delete", 3, () => TxLog.delete(spark, t, col("id") % 100 === 1)))
    for ((name, bound, verb) <- verbs) {
      val (executions, stray) = actionsOf(verb())
      info(s"$name: $executions SQL executions, $stray other jobs")
      assert(executions <= bound, s"$name ran $executions SQL executions")
      assert(stray === 0, s"$name ran $stray job(s) outside a SQL execution")
    }
    assert(TxLog.read(spark, t).count() === 1000L - 10 + 1)
  }

  // ------------------------------------------ the file-sizing conf

  test("row-level commits restore the file-sizing conf, also when commits race") {
    import spark.implicits._
    val key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    // what the session holds explicitly: None = unset, at its default
    def setting: Option[String] = spark.conf.getAll.get(key)
    val prior = setting
    val src = Seq((3L, 7.0), (103L, 7.0), (5000L, 7.0)).toDF("id", "v")
    val verbs = Seq[(String, String => Unit)](
      "delete" -> (TxLog.delete(spark, _, col("id") % 100 === 1)),
      "deleteWithDv" -> (TxLog.deleteWithDv(spark, _, col("id") % 100 === 2)),
      "update" -> (TxLog.update(spark, _, col("id") % 100 === 3, Map("v" -> lit(-1.0)))),
      "updateWithDv" -> (TxLog.updateWithDv(spark, _, col("id") % 100 === 4,
        Map("v" -> lit(-1.0)))),
      "merge" -> (TxLog.merge(src, _, Seq("id"))),
      "mergeWithDv" -> (TxLog.mergeWithDv(src, _, Seq("id"))),
      "mergeConditional" -> (TxLog.mergeConditional(src, _, Seq("id"), Seq(
        MatchedUpdate(None, Map("v" -> "s.v + 1")), NotMatchedInsert(None)))))
    try for (explicit <- Seq(None, Some("true"))) {
      explicit.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      val t = table("sizing", 400)
      for ((name, verb) <- verbs) {
        verb(t)
        assert(setting === explicit, s"$name left $key at $setting")
      }
      // two commits racing in one session, on two tables
      val (a, b) = (table("sizing_a", 400), table("sizing_b", 400))
      val start = new java.util.concurrent.CountDownLatch(1)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val racing = Seq(a, b).map(x => Future { start.await(); TxLog.mergeWithDv(src, x, Seq("id")) })
      start.countDown()
      Await.result(Future.sequence(racing), 300.seconds)
      assert(setting === explicit, s"two racing commits left $key at $setting")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // ------------------------------------------ cancel by job tag

  test("cancelJobsWithTag stops a copy-on-write merge in its staging writes") {
    import spark.implicits._
    val sc = spark.sparkContext
    val t = table("cowcancel", 200)
    val before = TxLog.currentVersion(spark, t)
    val expected = rows(TxLog.read(spark, t))
    val tag = s"cow-cancel-${java.util.UUID.randomUUID()}"
    val markerGroup = s"cancel-marker-${java.util.UUID.randomUUID()}"
    // a slow source keeps each staging job running until it is cancelled
    val slow = udf { (v: Double) => Thread.sleep(1000); v }
    val src = Seq((3L, 7.0), (5000L, 7.0)).toDF("id", "v").withColumn("v", slow(col("v")))
    val markers = new AtomicInteger
    val firstExecution = new AtomicReference[String]
    val cancelled = new AtomicBoolean
    val tagged = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    // the probe is the commit's first SQL execution; the first job of any
    // later one is a staging write, and that is where the tag is cancelled
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties).getOrElse(new java.util.Properties)
        if (props.getProperty("spark.jobGroup.id") == markerGroup) markers.incrementAndGet()
        else if (tags(props).contains(tag)) {
          tagged.add(j.jobId)
          val execution = props.getProperty("spark.sql.execution.id")
          firstExecution.compareAndSet(null, execution)
          if (execution != firstExecution.get && cancelled.compareAndSet(false, true))
            sc.cancelJobsWithTag(tag)
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      sc.setInterruptOnCancel(true)
      val e = try intercept[Exception](TxLog.merge(src, t, Seq("id")))
        finally { sc.removeJobTag(tag); sc.setInterruptOnCancel(false) }
      assert(cancelled.get, "no staging job of the merge started")
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(x => String.valueOf(x.getMessage).toLowerCase.contains("cancel")),
        s"the merge failed for another reason: $e")
      assert(TxLog.currentVersion(spark, t) === before)
      assert(rows(TxLog.read(spark, t)) === expected)
      flush(markerGroup, markers, 1)
      val atReturn = tagged.asScala.toSet
      Thread.sleep(1000)
      flush(markerGroup, markers, 2)
      assert(tagged.asScala.toSet === atReturn, "a job with the tag started after the merge returned")
    } finally sc.removeSparkListener(listener)
  }
}
