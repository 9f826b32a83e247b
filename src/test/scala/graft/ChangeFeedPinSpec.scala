package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.acid.{MergeClause, TxLog}
import graft.acid.TxLog.MergeStats
import MergeClause._

/** Pins, row for row, what each of the seven row-level verbs commits:
  * its change feed, the snapshot after it, and its `MergeStats`. Every
  * verb runs on the same four-file table, partitioned by a value that
  * needs path escaping (`a/b`); the expected rows come from a plain
  * Scala model of the verb, so a kernel change that moves a single row
  * of the feed or the table fails here. */
class ChangeFeedPinSpec extends SparkSpec {

  private type R = (Long, String, Double)

  private def grp(id: Long): String = if (id % 2 == 0) "a/b" else "plain"

  // v0 writes ids 0..15 and v1 appends 16..23: two files per partition
  private val init: Seq[R] = (0L until 24L).map(i => (i, grp(i), i.toDouble))

  private def fresh(name: String): String = {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory(s"cfpin_$name").toString + "/t"
    TxLog.overwrite(init.take(16).toDF("id", "grp", "v"), t, Seq("grp"))
    TxLog.append(init.drop(16).toDF("id", "grp", "v"), t)
    assert(TxLog.fileCount(spark, t) === 4)
    t
  }

  private def rows(df: DataFrame): Seq[R] =
    df.select("id", "grp", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq.sorted

  private def feed(df: DataFrame): Seq[(String, R)] =
    df.select("_change_type", "id", "grp", "v").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getString(2), r.getDouble(3))))
      .toSeq.sorted

  /** The snapshot and change feed a verb must leave. */
  private case class Outcome(snapshot: Seq[R], changes: Seq[(String, R)])

  private def deleted(p: R => Boolean) =
    Outcome(init.filterNot(p), init.filter(p).map("delete" -> _))

  private def updated(p: R => Boolean, f: R => R) =
    Outcome(init.map(r => if (p(r)) f(r) else r),
      init.filter(p).flatMap(r => Seq("update_preimage" -> r, "update_postimage" -> f(r))))

  /** `merge` keyed on id: a matched source row replaces its target row,
    * or deletes it when `del` holds; an unmatched one inserts unless
    * `del` holds. */
  private def merged(src: Seq[R], del: R => Boolean) = {
    val target = init.map(r => r._1 -> r).toMap
    val bySource = src.map(s => s._1 -> s).toMap
    Outcome(
      init.flatMap(t => bySource.get(t._1).fold(Seq(t))(s => if (del(s)) Nil else Seq(s))) ++
        src.filter(s => !target.contains(s._1) && !del(s)),
      src.flatMap(s => target.get(s._1) match {
        case Some(t) if del(s) => Seq("delete" -> t)
        case Some(t) => Seq("update_preimage" -> t, "update_postimage" -> s)
        case None if del(s) => Nil
        case None => Seq("insert" -> s)
      }))
  }

  /** Runs `verb` on a fresh table and checks its one commit. */
  private def pin(name: String, expected: Outcome, stats: MergeStats)(
      verb: String => MergeStats): Unit = {
    val t = fresh(name)
    val before = TxLog.currentVersion(spark, t)
    val got = verb(t)
    assert(TxLog.currentVersion(spark, t) === before + 1, s"$name: one commit")
    assert(rows(TxLog.read(spark, t)) === expected.snapshot.sorted, s"$name: snapshot")
    val changes = TxLog.readChangeFeed(spark, t, before + 1)
    assert(feed(changes) === expected.changes.sorted, s"$name: change feed")
    assert(changes.select("_commit_version").distinct().collect().map(_.getLong(0))
      .toSeq === Seq(before + 1), s"$name: commit version")
    assert(got === stats, s"$name: MergeStats")
  }

  // ids 0, 5, 10, 15, 20: three of the four files
  private val deleteCond = col("id") % 5 === 0
  private val deleteModel = deleted(_._1 % 5 == 0)

  test("change feed pin: delete") {
    pin("delete", deleteModel, MergeStats(3, 4, 2))(TxLog.delete(spark, _, deleteCond))
  }

  test("change feed pin: deleteWithDv") {
    pin("deleteWithDv", deleteModel, MergeStats(3, 4, 0))(
      TxLog.deleteWithDv(spark, _, deleteCond))
  }

  // ids 1, 5, 9, 13, 17, 21: both files of partition `plain`
  private val updateCond = col("id") % 4 === 1
  private val updateSet = Map("v" -> (col("v") + 100))
  private val updateModel =
    updated(_._1 % 4 == 1, r => r.copy(_3 = r._3 + 100))

  test("change feed pin: update") {
    pin("update", updateModel, MergeStats(2, 4, 1))(
      TxLog.update(spark, _, updateCond, updateSet))
  }

  test("change feed pin: updateWithDv") {
    pin("updateWithDv", updateModel, MergeStats(2, 4, 1))(
      TxLog.updateWithDv(spark, _, updateCond, updateSet))
  }

  // 2 updates, 3 is deleted, 17 updates in the appended file, 30
  // inserts into `a/b`, 31 is delete-marked and unmatched: a no-op
  private val upsert: Seq[R] = Seq((2L, "a/b", 200.0), (3L, "plain", -1.0),
    (17L, "plain", 170.0), (30L, "a/b", 300.0), (31L, "plain", -5.0))
  private val mergeModel = merged(upsert, _._3 < 0)

  test("change feed pin: merge") {
    import spark.implicits._
    pin("merge", mergeModel, MergeStats(3, 4, 2))(TxLog.merge(upsert.toDF("id", "grp", "v"),
      _, Seq("id"), deleteWhen = Some(col("v") < 0)))
  }

  test("change feed pin: mergeWithDv") {
    import spark.implicits._
    pin("mergeWithDv", mergeModel, MergeStats(3, 4, 2))(TxLog.mergeWithDv(
      upsert.toDF("id", "grp", "v"), _, Seq("id"), deleteWhen = Some(col("v") < 0)))
  }

  test("change feed pin: mergeConditional with by-source clauses") {
    import spark.implicits._
    // 4 updates; 6 deletes; 8 is matched but no matched clause acts on
    // it, so it stays as it is AND blocks its key's insert (s.v > 0);
    // 40 inserts into `plain`; 41 fails the insert condition. By
    // source: 22 flips its sign, 0 and 1 are deleted. Three of the four
    // files are touched; the appended `plain` file is not.
    val src: Seq[R] = Seq((4L, "a/b", 40.0), (6L, "a/b", -6.0), (8L, "a/b", 8.0),
      (40L, "plain", 41.0), (41L, "a/b", -1.0))
    val at = init.map(r => r._1 -> r).toMap
    def flip(r: R) = r.copy(_3 = -r._3)
    val expected = Outcome(
      init.filterNot(r => Set(0L, 1L, 6L)(r._1)).map {
        case r if r._1 == 4L => r.copy(_3 = 44.0)
        case r if r._1 == 22L => flip(r)
        case r => r
      } :+ src(3),
      Seq("update_preimage" -> at(4L), "update_postimage" -> (4L, "a/b", 44.0),
        "delete" -> at(6L), "insert" -> src(3),
        "update_preimage" -> at(22L), "update_postimage" -> flip(at(22L)),
        "delete" -> at(0L), "delete" -> at(1L)))
    pin("mergeConditional", expected, MergeStats(3, 4, 2))(TxLog.mergeConditional(
      src.toDF("id", "grp", "v"), _, Seq("id"), Seq(
        MatchedUpdate(Some("s.v > 30"), Map("v" -> "s.v + t.v")),
        MatchedDelete(Some("s.v < 0")),
        NotMatchedInsert(Some("s.v > 0")),
        NotMatchedBySourceUpdate(Some("t.id >= 22 AND t.grp = 'a/b'"),
          Map("v" -> "t.v * -1")),
        NotMatchedBySourceDelete(Some("t.id < 2")))))
  }
}
