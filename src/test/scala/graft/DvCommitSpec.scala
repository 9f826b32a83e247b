package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.acid.{MergeClause, TxLog}
import MergeClause._

/** Laws of the row-level commit kernels: every verb is correct on
  * partitions whose value needs path escaping; the deletion-vector
  * commit keeps its logged DV sizes equal to its sidecars through
  * repeated verbs and a full-file dropout; a DV commit costs a bounded
  * number of SQL executions and no parquet schema read; and the fused
  * duplicate-key gate of `mergeWithDv` still aborts before any write. */
class DvCommitSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[(Long, String, Double)] =
    df.select("id", "grp", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq.sorted

  // ------------------------------------------ escaped partition values

  // '/' and '%' are escaped in the directory name ("a%2Fb", "p%25q");
  // ' ' is not, but becomes "%20" in the URI form Spark reports
  private val awkward = Seq("a/b", "x y", "p%q", "plain")

  private def awkwardTable(t: String): Seq[(Long, String, Double)] = {
    import spark.implicits._
    val init = (0L until 40L).map(i => (i, awkward((i % 4).toInt), i.toDouble))
    TxLog.overwrite(init.toDF("id", "grp", "v"), t, Seq("grp"))
    init
  }

  // 8 keys, two in each of the four partitions
  private val hit = (0L until 8L).toSet

  test("row-level verbs: partitions whose value needs path escaping") {
    import spark.implicits._
    val src = (0L until 8L).map(i => (i, awkward((i % 4).toInt), 99.0))
      .toDF("id", "grp", "v")
    def check(name: String)(verb: String => Unit)(
        expected: Seq[(Long, String, Double)] => Seq[(Long, String, Double)]): Unit = {
      // the table root needs escaping too
      val t = tmp(s"esc_$name") + "/t 1%"
      val init = awkwardTable(t)
      verb(t)
      assert(rows(TxLog.read(spark, t)) === expected(init).sorted, s"$name")
    }
    val deleted = (init: Seq[(Long, String, Double)]) =>
      init.filterNot(r => hit(r._1))
    val updated = (init: Seq[(Long, String, Double)]) =>
      init.map(r => if (hit(r._1)) r.copy(_3 = 99.0) else r)
    check("delete")(TxLog.delete(spark, _, col("id") < 8))(deleted)
    check("deleteWithDv")(TxLog.deleteWithDv(spark, _, col("id") < 8))(deleted)
    check("update")(TxLog.update(spark, _, col("id") < 8,
      Map("v" -> lit(99.0))))(updated)
    check("updateWithDv")(TxLog.updateWithDv(spark, _, col("id") < 8,
      Map("v" -> lit(99.0))))(updated)
    check("merge")(TxLog.merge(src, _, Seq("id")))(updated)
    check("mergeWithDv")(TxLog.mergeWithDv(src, _, Seq("id")))(updated)
    // matched probe AND by-source probe, both over every partition
    check("mergeConditional")(TxLog.mergeConditional(src, _, Seq("id"), Seq(
      MatchedUpdate(None, Map("v" -> "s.v")),
      NotMatchedBySourceDelete(Some("t.id >= 36")))))(init =>
      updated(init).filter(_._1 < 36))
    // a DV verb after a DV verb: the outstanding DV's anti-join must
    // keep hiding its rows in every escaped partition
    val t = tmp("esc_dv_twice") + "/t 1%"
    val init = awkwardTable(t)
    TxLog.deleteWithDv(spark, t, col("id") < 4)
    TxLog.updateWithDv(spark, t, col("id") < 8, Map("v" -> lit(99.0)))
    assert(rows(TxLog.read(spark, t)) ===
      updated(init).filter(_._1 >= 4).sorted)
  }

  // ------------------------------------------ DV sizes from the log

  test("deletion vectors: repeated verbs keep logged sizes equal to sidecars") {
    import spark.implicits._
    val t = tmp("dvrep"); val twin = tmp("dvrep_twin")
    val init = (0L until 200L).map(i => (i, if (i % 2 == 0) "a" else "b", i.toDouble))
      .toDF("id", "grp", "v")
    TxLog.overwrite(init, t, Seq("grp")); TxLog.overwrite(init, twin, Seq("grp"))
    def sidecarsAgree(step: String): Unit = {
      val logged = TxLog.dvInfo(spark, t).toMap
      val sidecars = TxLog.dvSidecars(spark, t)
      assert(sidecars.keySet === logged.keySet, step)
      sidecars.foreach { case (data, dv) =>
        assert(spark.read.parquet(dv).count() === logged(data),
          s"$step: logged DV size of $data differs from its sidecar")
      }
    }
    def step(name: String)(dv: String => Unit, cow: String => Unit): Unit = {
      dv(t); cow(twin)
      assert(rows(TxLog.read(spark, t)) === rows(TxLog.read(spark, twin)), name)
      sidecarsAgree(name)
    }
    val upsert = (0L until 200L by 10L).map(i => (i + 2, if (i % 2 == 0) "a" else "b", -2.0))
      .toDF("id", "grp", "v")
      .unionByName(Seq((1000L, "a", 1.0), (1001L, "b", 1.0)).toDF("id", "grp", "v"))
    step("delete")(TxLog.deleteWithDv(spark, _, col("id") % 10 === 0),
      TxLog.delete(spark, _, col("id") % 10 === 0))
    step("update")(TxLog.updateWithDv(spark, _, col("id") % 10 === 1, Map("v" -> lit(-1.0))),
      TxLog.update(spark, _, col("id") % 10 === 1, Map("v" -> lit(-1.0))))
    step("merge")(TxLog.mergeWithDv(upsert, _, Seq("id")),
      TxLog.merge(upsert, _, Seq("id")))
    // the same files again: their DVs grow by the new hits
    step("delete again")(TxLog.deleteWithDv(spark, _, col("id") % 10 === 3),
      TxLog.delete(spark, _, col("id") % 10 === 3))
    step("update again")(
      TxLog.updateWithDv(spark, _, col("id") % 10 === 4 || col("id") === 1000L,
        Map("v" -> lit(-4.0))),
      TxLog.update(spark, _, col("id") % 10 === 4 || col("id") === 1000L,
        Map("v" -> lit(-4.0))))
    val purge = (0L until 200L by 10L).map(i => (i + 5, "a", 0.0)).toDF("id", "grp", "v")
    step("merge with deleteWhen")(
      TxLog.mergeWithDv(purge, _, Seq("id"), deleteWhen = Some(col("v") === 0.0)),
      TxLog.merge(purge, _, Seq("id"), deleteWhen = Some(col("v") === 0.0)))
    assert(TxLog.dvInfo(spark, t).exists(_._1.contains("grp=b")))
    // every row of grp=b, DV'd files and appended images alike: each
    // file drops out of the snapshot instead of staying as an empty husk
    step("dropout")(TxLog.deleteWithDv(spark, _, col("grp") === "b"),
      TxLog.delete(spark, _, col("grp") === "b"))
    assert(!TxLog.livePaths(spark, t).exists(_.contains("grp=b")))
    assert(TxLog.dvInfo(spark, t).nonEmpty)
  }

  // ------------------------------------------ actions per DV commit

  /** The SQL executions `body` runs, and the local properties of each
    * Spark job it runs. Listener events arrive asynchronously, so a
    * marker job in its own group is run and awaited before and after
    * the body: the shared listener queue delivers in order, so once a
    * marker's job start arrives every earlier event has arrived too. */
  private def observe(body: => Unit): (Int, Seq[java.util.Properties]) = {
    val sc = spark.sparkContext
    val markerGroup = s"dvspec-marker-${java.util.UUID.randomUUID()}"
    val executions = new AtomicInteger
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
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
        else jobs.add(props)
        ()
      }
    }
    def marker(expect: Int): Unit = {
      sc.setJobGroup(markerGroup, "listener flush marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (markers.get() < expect && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(markers.get() >= expect, "marker job event never delivered")
    }
    spark.listenerManager.register(queries)
    sc.addSparkListener(listener)
    try {
      marker(1)
      val e0 = executions.get()
      jobs.clear()
      body
      marker(2)
      (executions.get() - e0, jobs.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(listener)
    }
  }

  /** (SQL executions, Spark jobs outside any SQL execution) that `body`
    * runs. */
  private def actionsOf(body: => Unit): (Int, Int) = {
    val (executions, jobs) = observe(body)
    // a stray job is e.g. a parquet schema inference
    (executions, jobs.count(_.getProperty("spark.sql.execution.id") == null))
  }

  test("deletion vectors: a commit is one probe plus one round of writes") {
    import spark.implicits._
    val t = tmp("dvact")
    TxLog.overwrite(spark.range(0, 1000)
      .select(col("id"), (col("id") % 10).cast("double").as("v"))
      .repartition(2), t)
    TxLog.deleteWithDv(spark, t, col("id") % 100 === 0) // outstanding DVs
    val verbs = Seq[(String, () => Unit)](
      "deleteWithDv" -> (() => TxLog.deleteWithDv(spark, t, col("id") % 100 === 1)),
      "updateWithDv" -> (() => TxLog.updateWithDv(spark, t, col("id") % 100 === 2,
        Map("v" -> lit(-1.0)))),
      "mergeWithDv" -> (() => TxLog.mergeWithDv(
        Seq((3L, 7.0), (103L, 7.0), (5000L, 7.0)).toDF("id", "v"), t, Seq("id"))))
    for ((name, verb) <- verbs) {
      assert(TxLog.dvInfo(spark, t).nonEmpty)
      val (executions, stray) = actionsOf(verb())
      info(s"$name: $executions SQL executions, $stray other jobs")
      assert(executions <= 4, s"$name ran $executions SQL executions")
      assert(stray === 0, s"$name ran $stray job(s) outside a SQL execution")
    }
    // and a read of the DV-carrying table infers no schema either
    val (_, stray) = actionsOf(TxLog.read(spark, t).count())
    assert(stray === 0, s"a DV read ran $stray job(s) outside a SQL execution")
    assert(TxLog.read(spark, t).count() === 1000L - 10 - 10 + 1)
  }

  // ------------------------------------------ caller context on staging jobs

  test("staging jobs carry the caller's local properties and job tags") {
    import spark.implicits._
    val sc = spark.sparkContext
    val key = "graft.test.caller"
    val t = tmp("dvctx")
    TxLog.overwrite(spark.range(0, 400)
      .select(col("id"), (col("id") % 10).cast("double").as("v")).repartition(2), t)
    val src = Seq((3L, 7.0), (103L, 7.0), (5000L, 7.0)).toDF("id", "v")
    /** A DV merge and a copy-on-write merge, each staging through the
      * pool, run on a fresh thread that set `who` as a property and a
      * job tag; returns the properties of every job they ran. */
    def mergesAs(who: String): Seq[java.util.Properties] = observe {
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val caller = new Thread(() => {
        sc.setLocalProperty(key, who)
        sc.addJobTag(s"tag-$who")
        try {
          TxLog.mergeWithDv(src, t, Seq("id"))
          TxLog.merge(src, t, Seq("id"))
        } catch { case e: Throwable => failure.set(e) }
        finally { sc.clearJobTags(); sc.setLocalProperty(key, null) }
      })
      caller.start(); caller.join()
      Option(failure.get).foreach(e => throw e)
    }._2
    def tags(p: java.util.Properties): Set[String] =
      Option(p.getProperty("spark.job.tags")).toSet.flatMap((s: String) => s.split(",").toSet)
    val first = mergesAs("one")
    val second = mergesAs("two")
    for ((who, jobs, other) <- Seq(("one", first, "two"), ("two", second, "one"))) {
      assert(jobs.nonEmpty)
      jobs.foreach { p =>
        assert(p.getProperty(key) === who, s"a job of caller $who lost its property")
        assert(tags(p).contains(s"tag-$who"), s"a job of caller $who lost its job tag")
        assert(!tags(p).contains(s"tag-$other"), s"a job of caller $who carried $other's tag")
      }
    }
  }

  // ------------------------------------------ duplicate-key gate

  test("mergeWithDv: a key-duplicate source aborts before any write") {
    import spark.implicits._
    val t = tmp("dvdup")
    TxLog.overwrite((0L until 20L).map(i => (i, i.toDouble)).toDF("id", "v"), t)
    TxLog.deleteWithDv(spark, t, col("id") === 0L)
    val v = TxLog.currentVersion(spark, t)
    val dup = Seq((1L, 1.0), (1L, 2.0), (30L, 3.0)).toDF("id", "v")
    val e = intercept[IllegalArgumentException](TxLog.mergeWithDv(dup, t, Seq("id")))
    assert(e.getMessage.startsWith("merge source has duplicate rows for key (id)"))
    assert(e.getMessage.contains("Collapse the source to one row per key"))
    assert(TxLog.currentVersion(spark, t) === v)
    assert(TxLog.read(spark, t).count() === 19L)
  }
}
