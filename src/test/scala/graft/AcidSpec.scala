package graft

import org.apache.spark.sql.functions._

import graft.acid.TxLog

class AcidSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_acid").toString

  import scala.jdk.CollectionConverters._
  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("overwrite + append round-trips rows and schema") {
    import spark.implicits._
    val t = tmp()
    val a = Seq((1L, "x", 1.5), (2L, "y", 2.5)).toDF("id", "tag", "amt")
    val b = Seq((3L, "z", 3.5)).toDF("id", "tag", "amt")
    TxLog.overwrite(a, t)
    TxLog.append(b, t)
    val back = TxLog.read(spark, t)
    assert(back.schema.fieldNames.toSeq == Seq("id", "tag", "amt"))
    assert(rows(back) == rows(a.unionByName(b)))
    assert(TxLog.currentVersion(spark, t) == 2L)
  }

  test("append rejects a drifted schema; overwrite requires overwriteSchema") {
    import spark.implicits._
    val t = tmp()
    TxLog.overwrite(Seq((1L, 1.0)).toDF("id", "amt"), t)
    intercept[IllegalArgumentException] {
      TxLog.append(Seq((2L, "oops")).toDF("id", "amt"), t)
    }
    intercept[IllegalArgumentException] {
      TxLog.overwrite(Seq((2L, 1.0, true)).toDF("id", "amt", "flag"), t)
    }
    TxLog.overwrite(Seq((2L, 1.0, true)).toDF("id", "amt", "flag"), t,
      overwriteSchema = true)
    assert(TxLog.read(spark, t).schema.size == 3)
    // time travel: v1 keeps its own (old) schema
    assert(TxLog.read(spark, t, Some(1L)).schema.size == 2)
  }

  test("partitioned table: dynamic overwrite replaces emptied partitions; time travel") {
    import spark.implicits._
    val t = tmp()
    val v1 = Seq(("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 30.0))
      .toDF("fleet", "mth", "amt")
    TxLog.overwrite(v1, t, Seq("fleet", "mth"))
    val aSlice = v1.filter(col("fleet") === "a")
    TxLog.overwritePartitions(aSlice.filter(col("amt") < 15), t, Some(aSlice))
    // latest: (a,2) replaced-to-empty, (b,1) untouched, (a,1) reprocessed
    assert(rows(TxLog.read(spark, t).select("fleet", "mth", "amt")) ==
      Set(Seq("a", 1, 10.0), Seq("b", 1, 30.0)))
    // v1 still fully readable (time travel)
    assert(rows(TxLog.read(spark, t, Some(1L)).select("fleet", "mth", "amt")) ==
      rows(v1))
    // partition filter prunes via log metadata: only matching branches scan
    val pruned = TxLog.read(spark, t).filter(col("fleet") === "b")
    assert(rows(pruned.select("amt")) == Set(Seq(30.0)))
  }

  test("vacuum drops files unreachable from the retained version; snapshot survives") {
    import spark.implicits._
    val t = tmp()
    TxLog.overwrite(Seq((1L, 1.0)).toDF("id", "amt"), t)
    TxLog.overwrite(Seq((2L, 2.0)).toDF("id", "amt"), t)
    TxLog.vacuum(spark, t, retainVersion = 2L)
    assert(rows(TxLog.read(spark, t)) == Set(Seq(2L, 2.0)))
    // v1's files are gone — reading it must now fail at scan time
    intercept[Exception] {
      TxLog.read(spark, t, Some(1L)).collect()
    }
  }

  test("compactLog folds history into one commit without changing the snapshot") {
    import spark.implicits._
    val t = tmp()
    TxLog.overwrite(Seq((1L, "a")).toDF("id", "tag"), t)
    TxLog.append(Seq((2L, "b")).toDF("id", "tag"), t)
    TxLog.append(Seq((3L, "c")).toDF("id", "tag"), t)
    val before = rows(TxLog.read(spark, t))
    TxLog.compactLog(spark, t)
    assert(rows(TxLog.read(spark, t)) == before)
    val h = TxLog.history(spark, t)
    assert(h.last._1 == 4L && h.last._4, "compaction commit carries meta")
  }

  test("checkpoint seeds the snapshot; only the tail replays; time travel intact") {
    import spark.implicits._
    val t = tmp()
    TxLog.overwrite(Seq((1L, 10.0), (2L, 25.0)).toDF("id", "amt"), t)
    (0 until 5).foreach(i => TxLog.append(Seq((10L + i, 30.0)).toDF("id", "amt"), t))
    TxLog.delete(spark, t, col("amt") < 20)              // v7
    val before = rows(TxLog.read(spark, t))
    assert(TxLog.lastReplayCommits == 7, "no checkpoint yet: full replay")
    assert(TxLog.checkpoint(spark, t) == 7L)
    TxLog.append(Seq((100L, 40.0)).toDF("id", "amt"), t) // v8
    val after = rows(TxLog.read(spark, t))
    assert(TxLog.lastReplayCommits == 1, "checkpointed: only v8 replays")
    assert(after == before + Seq[Any](100L, 40.0))
    // stats/blooms ride the checkpoint: the snapshot still carries sizes
    assert(TxLog.fileCount(spark, t) >= 2)
    // time travel below the checkpoint replays the full prefix, exactly
    val v2 = TxLog.read(spark, t, versionAsOf = Some(2L))
    assert(TxLog.lastReplayCommits == 2)
    assert(rows(v2) == Set(Seq[Any](1L, 10.0), Seq[Any](2L, 25.0), Seq[Any](10L, 30.0)))
    // idempotent at a version; a second checkpoint at v8 layers on top
    assert(TxLog.checkpoint(spark, t) == 8L)
    assert(rows(TxLog.read(spark, t)) == after)
    assert(TxLog.lastReplayCommits == 0, "checkpoint at head: empty tail")
  }

  test("auto-checkpoint fires every N commits; readers replay only the tail") {
    import spark.implicits._
    val t = tmp()
    TxLog.overwrite(Seq((0L, 1.0)).toDF("id", "amt"), t)
    (1 to 11).foreach(i => TxLog.append(Seq((i.toLong, 1.0)).toDF("id", "amt"), t))
    // default interval 10: versions 1..12 exist, checkpoint landed at 10
    val ckpts = new java.io.File(t, "_txlog").list()
      .filter(_.endsWith(".checkpoint.json")).toSeq
    assert(ckpts == Seq(f"${10L}%020d.checkpoint.json"))
    assert(TxLog.read(spark, t).count() == 12)
    assert(TxLog.lastReplayCommits == 2, "v11..v12 tail above the v10 checkpoint")
  }

  test("timestampAsOf picks the latest commit at-or-before the instant") {
    import spark.implicits._
    val t = tmp()
    TxLog.overwrite(Seq((1L, 1.0)).toDF("id", "amt"), t)
    Thread.sleep(60)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(60)
    TxLog.append(Seq((2L, 2.0)).toDF("id", "amt"), t)
    assert(TxLog.readAsOfTimestamp(spark, t, betweenMs).count() == 1)
    assert(TxLog.readAsOfTimestamp(spark, t, System.currentTimeMillis()).count() == 2)
    intercept[IllegalArgumentException] {
      TxLog.readAsOfTimestamp(spark, t, betweenMs - 3600 * 1000L)
    }
  }

  test("optimize compacts to one file per partition, preserving data and history") {
    import spark.implicits._
    val t = tmp()
    val parts = Seq("fleet")
    TxLog.overwrite(Seq(("a", 1.0)).toDF("fleet", "amt"), t, parts)
    TxLog.append(Seq(("a", 2.0), ("b", 3.0)).toDF("fleet", "amt"), t)
    TxLog.append(Seq(("b", 4.0)).toDF("fleet", "amt"), t)
    val before = rows(TxLog.read(spark, t))
    assert(TxLog.fileCount(spark, t) >= 4, "appends should accumulate files")
    TxLog.optimize(spark, t)
    assert(TxLog.fileCount(spark, t) == 2, "one file per live partition")
    assert(rows(TxLog.read(spark, t)) == before, "OPTIMIZE must not change data")
    // pre-optimize versions still travel
    assert(rows(TxLog.read(spark, t, Some(1L))) == Set(Seq("a", 1.0)))
  }

  test("read plan is O(1) in partition count: 500 partitions, one scan, no Union") {
    import spark.implicits._
    val t = tmp()
    val df = spark.range(500).select(
      col("id"), (col("id") % 500).cast("int").as("p"))
    TxLog.overwrite(df.toDF(), t, Seq("p"))
    val back = TxLog.read(spark, t)
    val plan = back.queryExecution.optimizedPlan
    val unions = plan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }
    val scans = plan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r }
    assert(unions.isEmpty, "no union-per-partition branches")
    assert(scans.size == 1, "exactly one relation node")
    assert(back.count() == 500)
    // partition pruning still runs against log metadata inside listFiles
    val (pruned, idx) = TxLog.readWithSkipInfo(spark, t)
    assert(pruned.filter(col("p") === 7).count() == 1)
    assert(idx.lastListing.exists { case (sel, tot) => sel == 1 && tot == 500 })
  }

  test("min/max stats skip files on non-partition predicates") {
    import spark.implicits._
    val t = tmp()
    // range-clustered unpartitioned files: disjoint id ranges per file
    val df = spark.range(0, 10000).select(col("id"),
      (col("id") * 2).as("v")).repartitionByRange(8, col("id"))
    TxLog.overwrite(df.toDF(), t)
    assert(TxLog.fileCount(spark, t) == 8)
    val (back, idx) = TxLog.readWithSkipInfo(spark, t)
    val narrow = back.filter(col("id") >= 100 && col("id") < 200)
    assert(narrow.count() == 100)
    val (sel, tot) = idx.lastListing.get
    assert(tot == 8, s"expected 8 candidate files, saw $tot")
    assert(sel < tot, s"selective filter must skip files (scanned $sel of $tot)")
    // conservative on unknown shapes: a filter stats can't bound scans all
    val (back2, idx2) = TxLog.readWithSkipInfo(spark, t)
    assert(back2.filter((col("id") % 7) === 0).count() == 1429)
    assert(idx2.lastListing.get._1 == 8)
  }

  test("string min/max stats skip files; null-heavy columns stay conservative") {
    import spark.implicits._
    val t = tmp()
    // two files with disjoint ASCII string ranges + a column whose
    // footer stats are absent in one file (all-null chunk)
    val part1 = Seq(("apple", Some(1.0)), ("banana", Some(2.0)))
      .toDF("word", "score").coalesce(1)
    val part2 = Seq(("melon", None: Option[Double]), ("zebra", None))
      .toDF("word", "score").coalesce(1)
    TxLog.overwrite(part1, t)
    TxLog.append(part2, t)
    assert(TxLog.fileCount(spark, t) == 2)
    val (back, idx) = TxLog.readWithSkipInfo(spark, t)
    assert(back.filter(col("word") === "apple").count() == 1)
    assert(idx.lastListing.get == ((1, 2)), "string equality should skip the z-range file")
    // a filter on the all-null-stats column must not skip that file
    val (back2, idx2) = TxLog.readWithSkipInfo(spark, t)
    assert(back2.filter(col("score") > 0.5).count() == 2)
    assert(idx2.lastListing.get._1 >= 1)
  }

  test("merge upserts: updates matched rows, inserts new ones, rewrites only touched files") {
    import spark.implicits._
    val t = tmp()
    val base = Seq(
      ("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0), ("b", 4L, 40.0))
      .toDF("fleet", "id", "amt")
    TxLog.overwrite(base, t, Seq("fleet"))
    val filesBefore = TxLog.fileCount(spark, t)
    assert(filesBefore == 2, "one file per partition")
    val source = Seq(
      ("a", 2L, 99.0),  // update: touches only fleet=a's file
      ("b", 9L, 90.0))  // insert: new key
      .toDF("fleet", "id", "amt")
    val stats = TxLog.merge(source, t, Seq("id"))
    assert(stats.filesRewritten == 1, "only fleet=a's file holds a matched key")
    assert(stats.filesTotalBefore == 2)
    assert(rows(TxLog.read(spark, t).select("fleet", "id", "amt")) == Set(
      Seq("a", 1L, 10.0), Seq("a", 2L, 99.0), Seq("b", 3L, 30.0),
      Seq("b", 4L, 40.0), Seq("b", 9L, 90.0)))
    // pre-merge version still travels
    assert(rows(TxLog.read(spark, t, Some(1L)).select("id", "amt")) ==
      rows(base.select("id", "amt")))
  }

  test("merge evolveSchema widens in-commit; old snapshots keep their schema") {
    import spark.implicits._
    val t = tmp()
    val base = Seq(
      ("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0), ("b", 4L, 40.0))
      .toDF("fleet", "id", "amt")
    TxLog.overwrite(base, t, Seq("fleet")) // v1: one file per partition
    val source = Seq(
      ("a", 2L, 99.0, "audit"),  // update carrying the NEW column
      ("b", 9L, 90.0, "late"))   // insert carrying the NEW column
      .toDF("fleet", "id", "amt", "reason")
    val stats = TxLog.merge(source, t, Seq("id"), evolveSchema = true)
    // file-granular rewrite is unchanged by evolution: only fleet=a's
    // file holds a matched key (the insert appends, never rewrites)
    assert(stats.filesRewritten == 1 && stats.filesTotalBefore == 2)
    val cur = TxLog.read(spark, t)
    // new column appended LAST and nullable
    assert(cur.schema.fieldNames.toSeq == Seq("fleet", "id", "amt", "reason"))
    assert(cur.schema("reason").nullable)
    // typed-NULL back-fill: rows in UNTOUCHED files (fleet=b, ids 3/4) and
    // unmatched neighbors in the rewritten file (id 1) read NULL; matched
    // and inserted rows carry their source value
    assert(rows(cur.select("fleet", "id", "amt", "reason")) == Set(
      Seq("a", 1L, 10.0, null), Seq("a", 2L, 99.0, "audit"),
      Seq("b", 3L, 30.0, null), Seq("b", 4L, 40.0, null),
      Seq("b", 9L, 90.0, "late")))
    // the old snapshot still reads with its OWN (narrower) schema
    val v1 = TxLog.read(spark, t, Some(1L))
    assert(v1.schema.fieldNames.toSeq == Seq("fleet", "id", "amt"))
    assert(rows(v1) == rows(base))
    // without evolution the same source still merges, extras ignored
    // (deleteWhen-helper semantics preserved)
    val t2 = tmp()
    TxLog.overwrite(base, t2, Seq("fleet"))
    TxLog.merge(source, t2, Seq("id"))
    assert(TxLog.read(spark, t2).schema.fieldNames.toSeq ==
      Seq("fleet", "id", "amt"))
    // with deleteWhen in the same commit: a delete-marked matched row is
    // deleted, a delete-marked unmatched row is not inserted, and the
    // table gains only the source's new column — no internal helper
    val t3 = tmp()
    TxLog.overwrite(base, t3, Seq("fleet"))
    val marked = source.unionByName(Seq(
      ("a", 1L, 0.0, "purge"),  // matched and marked: deleted
      ("b", 8L, 0.0, "purge"))  // unmatched and marked: not inserted
      .toDF("fleet", "id", "amt", "reason"))
    val st3 = TxLog.merge(marked, t3, Seq("id"),
      deleteWhen = Some(col("reason") === "purge"), evolveSchema = true)
    assert(st3.filesRewritten == 1 && st3.filesTotalBefore == 2)
    val cur3 = TxLog.read(spark, t3)
    assert(cur3.schema.fieldNames.toSeq == Seq("fleet", "id", "amt", "reason"))
    assert(rows(cur3) == Set(
      Seq("a", 2L, 99.0, "audit"), Seq("b", 3L, 30.0, null),
      Seq("b", 4L, 40.0, null), Seq("b", 9L, 90.0, "late")))
    val feed = TxLog.readChangeFeed(spark, t3, 2L)
      .select("fleet", "id", "amt", "reason", "_change_type", "_commit_version")
      .collect().map(_.toSeq).toSeq
    assert(feed.sortBy(_.mkString("|")) == Seq(
      Seq("a", 1L, 10.0, null, "delete", 2L),
      Seq("a", 2L, 20.0, null, "update_preimage", 2L),
      Seq("a", 2L, 99.0, "audit", "update_postimage", 2L),
      Seq("b", 9L, 90.0, "late", "insert", 2L)))
  }

  test("delete/update rewrite only files that hold matching rows") {
    import spark.implicits._
    val t = tmp()
    val base = Seq(
      ("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0), ("b", 4L, 40.0))
      .toDF("fleet", "id", "amt")
    TxLog.overwrite(base, t, Seq("fleet"))
    // DELETE hits only fleet=a's file (partition pruning via the index)
    val del = TxLog.delete(spark, t, col("fleet") === "a" && col("id") === 1L)
    assert(del.filesRewritten == 1 && del.filesTotalBefore == 2)
    assert(rows(TxLog.read(spark, t).select("id", "amt")) ==
      Set(Seq(2L, 20.0), Seq(3L, 30.0), Seq(4L, 40.0)))
    // UPDATE only b's file; a's file from the delete commit is untouched
    val upd = TxLog.update(spark, t, col("id") === 4L,
      Map("amt" -> (col("amt") + 1.0)))
    assert(upd.filesRewritten == 1)
    assert(rows(TxLog.read(spark, t).select("id", "amt")) ==
      Set(Seq(2L, 20.0), Seq(3L, 30.0), Seq(4L, 41.0)))
    // no-match predicates commit nothing
    assert(TxLog.delete(spark, t, col("id") === 99L).filesRewritten == 0)
    assert(TxLog.currentVersion(spark, t) == 3L)
    // every prior version still travels
    assert(rows(TxLog.read(spark, t, Some(1L)).select("id", "amt")) ==
      rows(base.select("id", "amt")))
  }

  test("clustered optimize tightens file ranges so skipping improves") {
    import spark.implicits._
    val t = tmp()
    // hash-scattered layout: every file spans nearly the full id range,
    // so min/max skipping is useless before clustering
    val df = spark.range(0, 10000).select(col("id"), (col("id") * 3).as("v"))
      .repartition(8)
    TxLog.overwrite(df.toDF(), t)
    def scanned(): (Int, Int) = {
      val (back, idx) = TxLog.readWithSkipInfo(spark, t)
      assert(back.filter(col("id") >= 100 && col("id") < 200).count() == 100)
      idx.lastListing.get
    }
    val (selBefore, totBefore) = scanned()
    assert(selBefore == totBefore, "hash layout: no file can be skipped")
    TxLog.optimize(spark, t, clusterBy = Seq("id"), nFiles = 8)
    val (selAfter, totAfter) = scanned()
    assert(totAfter == 8)
    assert(selAfter < totAfter,
      s"clustered layout must skip files (scanned $selAfter of $totAfter)")
    assert(rows(TxLog.read(spark, t)).size == 10000, "OPTIMIZE must not change data")
  }

  test("shallow clone: zero-copy, pins clone-time version, isolated both ways") {
    import spark.implicits._
    val src = tmp() + "/s"
    val dst = tmp() + "/c"
    val v1 = Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0))
      .toDF("fleet", "id", "amt")
    TxLog.overwrite(v1, src, Seq("fleet"))
    TxLog.addCheckConstraint(spark, src, "nonneg", "amt >= 0")
    val nFiles = TxLog.cloneShallow(spark, src, dst)
    assert(nFiles > 0)
    // zero-copy: no data files under the clone root
    assert(!java.nio.file.Files.walk(java.nio.file.Paths.get(dst)).iterator()
      .asScala.exists(p => p.toString.endsWith(".parquet")))
    assert(rows(TxLog.read(spark, dst)) == rows(v1))
    // meta rides along: the clone enforces the source's constraint
    intercept[IllegalArgumentException] {
      TxLog.append(Seq(("c", 4L, -1.0)).toDF("fleet", "id", "amt"), dst)
    }
    // later SOURCE commits are invisible to the clone (pinned snapshot)
    TxLog.append(Seq(("c", 4L, 40.0)).toDF("fleet", "id", "amt"), src)
    assert(rows(TxLog.read(spark, dst)) == rows(v1))
    // CLONE writes are invisible to the source; copy-on-write rewrite
    TxLog.delete(spark, dst, col("id") === 1L)
    assert(TxLog.read(spark, dst).count() == 2)
    assert(TxLog.read(spark, src).count() == 4)
    // vacuum on the clone must never delete SOURCE files: after dropping
    // clone history below the rewrite, the source still reads fully
    TxLog.vacuum(spark, dst, retainVersion = TxLog.currentVersion(spark, dst))
    assert(TxLog.read(spark, src).count() == 4)
    assert(TxLog.read(spark, dst).count() == 2)
  }

  test("CHECK constraints gate every write path transactionally") {
    import spark.implicits._
    val t = tmp()
    TxLog.overwrite(Seq(("a", 1L, 10.0), ("b", 2L, 20.0)).toDF("fleet", "id", "amt"), t)
    // adding a constraint the current data violates is rejected
    intercept[IllegalArgumentException] {
      TxLog.addCheckConstraint(spark, t, "big", "amt >= 15")
    }
    TxLog.addCheckConstraint(spark, t, "nonneg", "amt >= 0")
    val vBefore = TxLog.currentVersion(spark, t)
    // violating append aborts BEFORE commit: no version, no rows
    intercept[IllegalArgumentException] {
      TxLog.append(Seq(("c", 3L, -1.0)).toDF("fleet", "id", "amt"), t)
    }
    assert(TxLog.currentVersion(spark, t) == vBefore)
    assert(TxLog.read(spark, t).count() == 2)
    // valid append lands; violating UPDATE aborts too
    TxLog.append(Seq(("c", 3L, 30.0)).toDF("fleet", "id", "amt"), t)
    intercept[IllegalArgumentException] {
      TxLog.update(spark, t, col("id") === 3L, Map("amt" -> lit(-5.0)))
    }
    assert(TxLog.read(spark, t).filter(col("id") === 3L)
      .select("amt").collect()(0).getDouble(0) == 30.0)
    // dropping the constraint re-opens the path
    TxLog.dropCheckConstraint(spark, t, "nonneg")
    TxLog.append(Seq(("d", 4L, -9.0)).toDF("fleet", "id", "amt"), t)
    assert(TxLog.read(spark, t).count() == 4)
  }

  test("concurrent appends both land via optimistic retry") {
    import spark.implicits._
    val t = tmp()
    TxLog.overwrite(Seq((0L, 0.0)).toDF("id", "amt"), t)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // two writers race for the same next version; the loser must re-read
    // and retry, not fail or clobber
    val writes = (1 to 4).map { i => Future {
      TxLog.append(Seq((i.toLong, i.toDouble)).toDF("id", "amt"), t)
    }}
    Await.result(Future.sequence(writes), 120.seconds)
    assert(TxLog.currentVersion(spark, t) == 5L, "one commit per writer")
    assert(rows(TxLog.read(spark, t).select("id")).flatten.toSet ==
      Set(0L, 1L, 2L, 3L, 4L))

    // row-level writers racing on ONE file: every one of them rewrites
    // or re-adds it, so all but the first claim lose and must recompute
    // against the winner's snapshot. Disjoint keys make the serial
    // outcome independent of the order the retries land in.
    import graft.acid.MergeClause._
    val r = tmp()
    TxLog.overwrite((1L to 8L).map(i => (i, i.toDouble)).toDF("id", "amt").coalesce(1), r)
    assert(TxLog.fileCount(spark, r) == 1)
    val rowLevel: Seq[() => Unit] = Seq(
      () => TxLog.merge(Seq((1L, 100.0), (11L, 11.0)).toDF("id", "amt"), r, Seq("id")),
      () => TxLog.mergeConditional(Seq((2L, 200.0), (12L, 12.0)).toDF("id", "amt"), r,
        Seq("id"), Seq(MatchedUpdate(None, Map("amt" -> "s.amt")), NotMatchedInsert(None))),
      () => TxLog.update(spark, r, col("id") === 3L, Map("amt" -> lit(300.0))),
      () => TxLog.deleteWithDv(spark, r, col("id") === 4L))
    // three log compactions race each other as well: each claim is
    // a few milliseconds after its snapshot read, so they collide
    val writers = rowLevel ++ Seq.fill(3)(() => TxLog.compactLog(spark, r))
    // one thread per writer, released together
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers.size)
    val start = new java.util.concurrent.CountDownLatch(1)
    val racing = writers.map(w => Future { start.await(); w() }(
      scala.concurrent.ExecutionContext.fromExecutor(pool)))
    start.countDown()
    try Await.result(Future.sequence(racing), 300.seconds)
    finally pool.shutdown()
    assert(TxLog.currentVersion(spark, r) == 1L + writers.size, "one commit per writer")
    val model = (1L to 8L).map(i => i -> i.toDouble).toMap - 4L ++
      Map(1L -> 100.0, 11L -> 11.0, 2L -> 200.0, 12L -> 12.0, 3L -> 300.0)
    val got = TxLog.read(spark, r).collect().map(x => x.getLong(0) -> x.getDouble(1))
    assert(got.length == model.size && got.toMap == model)
    // each row-level attempt stages one change-feed dir before it
    // claims; more dirs than row-level commits means some retried
    assert(new java.io.File(r).list().count(_.startsWith("cdc-")) > rowLevel.size,
      "no row-level writer lost a race")
  }

  test("crashed staging writes are invisible to readers") {
    import spark.implicits._
    val t = tmp()
    TxLog.overwrite(Seq((1L, 1.0)).toDF("id", "amt"), t)
    // simulate a writer that staged files but died before committing
    Seq((99L, 9.9)).toDF("id", "amt").write
      .parquet(s"$t/data-deadbeef-crashed")
    assert(rows(TxLog.read(spark, t)) == Set(Seq(1L, 1.0)))
  }

  test("merge rejects duplicate source keys instead of multiplying rows") {
    import spark.implicits._
    val t = tmp()
    TxLog.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amt"), t)
    // two DIFFERENT images of id=1: applying both would make the result
    // join-order-dependent — must fail like Delta, not silently duplicate
    val ex = intercept[IllegalArgumentException] {
      TxLog.merge(Seq((1L, 11.0), (1L, 12.0)).toDF("id", "amt"), t, Seq("id"))
    }
    assert(ex.getMessage.contains("duplicate"))
    // the table is untouched — detection happens before any commit
    assert(TxLog.currentVersion(spark, t) == 1L)
    assert(rows(TxLog.read(spark, t)) == Set(Seq(1L, 10.0), Seq(2L, 20.0)))
  }

  test("merge uses SQL-MERGE equality: NULL keys insert, never update") {
    import spark.implicits._
    val t = tmp()
    TxLog.overwrite(Seq((Some(1L), 10.0), (None, 50.0)).toDF("id", "amt"), t)
    TxLog.merge(Seq((Some(1L), 11.0), (None, 99.0)).toDF("id", "amt"), t, Seq("id"))
    // NULL = NULL is not a match: the null-keyed target row survives
    // untouched and the null-keyed source row inserts (and never both
    // updates AND re-inserts, the round-3 mixed <=> / = inconsistency)
    assert(rows(TxLog.read(spark, t)) == Set(
      Seq(1L, 11.0), Seq(null, 50.0), Seq(null, 99.0)))
  }

  test("legacy add actions without size read fully (stat-filled, never empty)") {
    import spark.implicits._
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val t = tmp()
    TxLog.overwrite(spark.range(0, 1000).select(col("id"),
      (col("id") * 2).as("v")).toDF(), t)
    // rewrite the log as a pre-stats-era format: add actions carry only
    // path + partitionValues (no size/numRecords/min/max)
    val logDir = new java.io.File(s"$t/_txlog")
    for (f <- logDir.listFiles() if f.getName.endsWith(".json")) {
      val legacy = scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty).map { ln =>
        JsonMethods.parse(ln) match {
          case JObject(List(("add", JObject(fields)))) =>
            JsonMethods.compact(JsonMethods.render(JObject("add" -> JObject(
              fields.filter(kv => kv._1 == "path" || kv._1 == "partitionValues")))))
          case _ => ln
        }
      }.mkString("", "\n", "\n")
      java.nio.file.Files.write(f.toPath, legacy.getBytes("UTF-8"))
      // the rewrite bypasses Hadoop's ChecksumFileSystem — drop the stale crc
      new java.io.File(logDir, s".${f.getName}.crc").delete()
    }
    // a size-0 FileStatus would yield zero splits: the round-3 bug read
    // such tables as silently EMPTY and sized them 0 (broadcast bait)
    val (back, idx) = TxLog.readWithSkipInfo(spark, t)
    assert(back.count() == 1000)
    assert(idx.sizeInBytes > 0)
  }

  test("change data feed reports row-level changes per commit, nothing else") {
    import spark.implicits._
    val t = tmp()
    TxLog.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amt"), t) // v1
    TxLog.append(Seq((3L, 30.0)).toDF("id", "amt"), t)                // v2
    TxLog.merge(Seq((2L, 25.0), (4L, 40.0)).toDF("id", "amt"), t, Seq("id")) // v3
    TxLog.delete(spark, t, col("id") === 1L)                          // v4
    TxLog.optimize(spark, t)                                          // v5: rearranges only
    val feed = TxLog.readChangeFeed(spark, t, 1L)
      .select("id", "amt", "_change_type", "_commit_version")
    assert(rows(feed) == Set(
      Seq(1L, 10.0, "insert", 1L), Seq(2L, 20.0, "insert", 1L),
      Seq(3L, 30.0, "insert", 2L),
      Seq(2L, 20.0, "update_preimage", 3L), Seq(2L, 25.0, "update_postimage", 3L),
      Seq(4L, 40.0, "insert", 3L),
      Seq(1L, 10.0, "delete", 4L)))
    // bounded ranges: only the asked-for commits contribute
    val mergeFeed = TxLog.readChangeFeed(spark, t, 3L, Some(3L))
    assert(rows(mergeFeed.select("id", "_change_type")) ==
      Set(Seq(2L, "update_preimage"), Seq(2L, "update_postimage"),
          Seq(4L, "insert")))
    // cost shape: a row-level commit's feed reads ONLY its cdc files —
    // never the table's data files (O(changed rows) at any table size)
    assert(mergeFeed.inputFiles.nonEmpty &&
      mergeFeed.inputFiles.forall(_.contains("/cdc-")),
      s"feed scanned non-cdc files: ${mergeFeed.inputFiles.mkString(", ")}")
    // the optimize rewrite is movement, not change — an empty tail feed
    assert(TxLog.readChangeFeed(spark, t, 5L).count() == 0)
    // CDC survives vacuum of retained versions; the merged state agrees
    // with replaying the feed over the v2 snapshot
    TxLog.vacuum(spark, t, retainVersion = 3L)
    assert(rows(TxLog.readChangeFeed(spark, t, 3L, Some(3L))
      .select("id")) == Set(Seq(2L), Seq(4L)))
  }

  test("restore rolls back to an old version as one metadata commit") {
    import spark.implicits._
    val t = tmp()
    // one file for v1 so the file-granular restore diff is deterministic
    val v1 = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amt").coalesce(1)
    TxLog.overwrite(v1, t)                                            // v1
    TxLog.append(Seq((3L, 30.0)).toDF("id", "amt"), t)                // v2
    TxLog.delete(spark, t, col("id") === 1L)                          // v3
    TxLog.restore(spark, t, 1L)                                       // v4
    assert(rows(TxLog.read(spark, t)) == rows(v1))
    assert(TxLog.currentVersion(spark, t) == 4L)
    // intermediate history still travels; the restore is itself a version
    assert(rows(TxLog.read(spark, t, Some(3L)).select("id")) ==
      Set(Seq(2L), Seq(3L)))
    // restore classifies in the feed as FILE-level delete+insert: the
    // re-added v1 file inserts {1,2}; the dropped post-delete rewrite
    // ({2}) and the dropped append ({3}) delete
    val feed = TxLog.readChangeFeed(spark, t, 4L)
      .select("id", "_change_type")
    assert(rows(feed.filter(col("_change_type") === "insert")) ==
      Set(Seq(1L, "insert"), Seq(2L, "insert")))
    assert(rows(feed.filter(col("_change_type") === "delete")) ==
      Set(Seq(2L, "delete"), Seq(3L, "delete")))
  }

  test("change feed cursor delivers each commit's changes exactly once") {
    import spark.implicits._
    val t = tmp()
    TxLog.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amt"), t) // v1
    val cur = graft.streaming.ChangeFeedStream.cursor(spark, t,
      TxLog.currentVersion(spark, t) + 1)
    assert(cur.poll().isEmpty, "nothing new after open")
    TxLog.merge(Seq((2L, 25.0), (3L, 30.0)).toDF("id", "amt"), t, Seq("id")) // v2
    val Some((lo1, hi1, b1)) = cur.poll()
    assert(lo1 == 2L && hi1 == 2L)
    assert(rows(b1.select("id", "_change_type")) == Set(
      Seq(2L, "update_preimage"), Seq(2L, "update_postimage"),
      Seq(3L, "insert")))
    assert(cur.poll().isEmpty, "batch must not replay")
    TxLog.delete(spark, t, col("id") === 1L)                          // v3
    TxLog.append(Seq((9L, 90.0)).toDF("id", "amt"), t)                // v4
    val Some((lo2, hi2, b2)) = cur.poll()
    assert(lo2 == 3L && hi2 == 4L, "one batch spans both pending commits")
    assert(rows(b2.select("id", "_change_type", "_commit_version")) == Set(
      Seq(1L, "delete", 3L), Seq(9L, "insert", 4L)))
  }

  test("change feed cursor survives a crash exactly-once via the persisted checkpoint") {
    import spark.implicits._
    val t = tmp()
    TxLog.overwrite(Seq((1L, 10.0)).toDF("id", "amt"), t)             // v1
    // durable consumer checkpoint: nextVersion persisted ATOMICALLY
    // AFTER each batch's output lands (the exactly-once protocol the
    // cursor doc prescribes) — a plain file stands in for the real sink
    val ckptFile = java.nio.file.Paths.get(tmp(), "cursor.ckpt")
    def persist(v: Long): Unit =
      java.nio.file.Files.write(ckptFile, v.toString.getBytes)
    def restore(): Long = new String(java.nio.file.Files.readAllBytes(ckptFile)).toLong
    persist(TxLog.currentVersion(spark, t) + 1)                       // ckpt = 2

    TxLog.append(Seq((2L, 20.0)).toDF("id", "amt"), t)                // v2
    TxLog.delete(spark, t, col("id") === 1L)                          // v3

    // --- crash BEFORE the checkpoint persists: the in-memory cursor had
    // advanced, but recovery re-opens from the durable value and must
    // re-deliver the SAME batch bit-for-bit (deterministic replay is
    // what lets an idempotent/overwrite sink turn this into exactly-once)
    val cur1 = graft.streaming.ChangeFeedStream.cursor(spark, t, restore())
    val Some((lo1, hi1, b1)) = cur1.poll()
    val firstDelivery = rows(b1.select("id", "_change_type", "_commit_version"))
    // (no persist here — this consumer dies before checkpointing)
    val cur2 = graft.streaming.ChangeFeedStream.cursor(spark, t, restore())
    val Some((lo2, hi2, b2)) = cur2.poll()
    assert((lo2, hi2) == (lo1, hi1), "replayed batch must cover the same versions")
    assert(rows(b2.select("id", "_change_type", "_commit_version")) == firstDelivery,
      "replay after crash must be bit-identical to the lost delivery")
    persist(hi2 + 1)                                                  // output landed; ckpt = 4

    // --- crash AFTER the checkpoint persisted: recovery must NOT replay
    val cur3 = graft.streaming.ChangeFeedStream.cursor(spark, t, restore())
    assert(cur3.poll().isEmpty, "committed batch replayed — duplicate delivery")

    // new commits after recovery flow from exactly the checkpoint on
    TxLog.append(Seq((7L, 70.0)).toDF("id", "amt"), t)                // v4
    val Some((lo4, hi4, b4)) = cur3.poll()
    assert(lo4 == 4L && hi4 == 4L)
    assert(rows(b4.select("id", "_change_type")) == Set(Seq(7L, "insert")))
    persist(hi4 + 1)
    // across the whole crashed/recovered run: every commit delivered,
    // none twice — union of persisted deliveries covers v2..v4 exactly
    assert(restore() == 5L)
  }

  test("persistent catalog: a new session attaches by file and prunes partitions") {
    import spark.implicits._
    import graft.acid.GraftCatalog
    val wh = tmp(); val t = tmp()
    val df = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("id", "part", "amount")
    TxLog.overwrite(df, t, Seq("part"))
    GraftCatalog.register(wh, "cat_spec_table", t)
    // registration is durable metadata: a fresh read of the FILE lists it
    assert(GraftCatalog.entries(wh).map(e => (e.name, e.location)) ==
      Seq(("cat_spec_table", t)))
    // a brand-new session (fresh temp-view namespace = restart stand-in)
    // sees the table by name from the catalog file alone
    val s2 = spark.newSession()
    assert(s2.catalog.tableExists("cat_spec_table") == false)
    GraftCatalog.attachAll(s2, wh)
    val got = s2.sql(
      "SELECT id, amount FROM cat_spec_table WHERE part = 'a' ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 10.0), (2L, 20.0)))
    // the partition filter prunes at the txlog FileIndex, not post-scan
    val plan = s2.sql("SELECT * FROM cat_spec_table WHERE part = 'a'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(part"),
      s"partition filter should reach the file index:\n$plan")
    // upsert replaces, drop removes metadata only (files untouched)
    GraftCatalog.register(wh, "cat_spec_table", t)
    assert(GraftCatalog.entries(wh).size == 1)
    GraftCatalog.drop(wh, "cat_spec_table")
    assert(GraftCatalog.entries(wh).isEmpty)
    assert(TxLog.read(spark, t).count() == 3)
    // drop against a warehouse that never existed is a metadata no-op
    GraftCatalog.drop(s"$wh/never_created", "ghost")
    assert(GraftCatalog.entries(s"$wh/never_created").isEmpty)
  }

  test("catalog: concurrent registers of different names all survive") {
    import graft.acid.GraftCatalog
    val wh = tmp()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // the lost-update shape: N writers read-modify-write the same file
    // at once; without mutual exclusion the losers' entries vanish
    val writes = (1 to 16).map { i => Future {
      GraftCatalog.register(wh, s"cat_conc_$i", s"/loc/$i")
    }}
    Await.result(Future.sequence(writes), 60.seconds)
    val got = GraftCatalog.entries(wh).map(_.name).toSet
    assert(got == (1 to 16).map(i => s"cat_conc_$i").toSet,
      s"lost updates: missing ${(1 to 16).map(i => s"cat_conc_$i").toSet -- got}")
    // mixed register/drop races keep unrelated entries intact too
    val mixed = (1 to 8).map { i => Future {
      if (i % 2 == 0) GraftCatalog.drop(wh, s"cat_conc_$i")
      else GraftCatalog.register(wh, s"cat_conc_extra_$i", s"/loc2/$i")
    }}
    Await.result(Future.sequence(mixed), 60.seconds)
    val after = GraftCatalog.entries(wh).map(_.name).toSet
    assert((1 to 8).filter(_ % 2 == 0).forall(i => !after(s"cat_conc_$i")))
    assert((1 to 8).filter(_ % 2 != 0).forall(i => after(s"cat_conc_extra_$i")))
    assert((9 to 16).forall(i => after(s"cat_conc_$i")), "drops clobbered bystanders")
  }

  test("catalog: malformed lines and truncated escapes are skipped, not fatal") {
    import graft.acid.GraftCatalog
    val wh = tmp()
    GraftCatalog.register(wh, "good_table", "/loc/good")
    // corrupt the file by hand: garbage line + a truncated \uXXXX escape
    val f = java.nio.file.Paths.get(wh, "catalog.jsonl")
    val bs = "\\" // (Scala 2 pre-processes \-u escapes even in raw strings)
    val hand = Seq(
      """not json at all""",
      s"""{"name":"bad_esc_${bs}u12","location":"/loc/bad"}""", // short escape
      s"""{"name":"bad_esc2_${bs}uZZZZ","location":"/loc/bad2"}""") // non-hex
    java.nio.file.Files.write(f, (java.nio.file.Files.readAllLines(f)
      .toArray.toSeq.map(_.toString) ++ hand).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val names = GraftCatalog.entries(wh).map(_.name)
    assert(names.contains("good_table"), "corruption made good entries unreadable")
    // the malformed-escape lines decode literally rather than throwing
    assert(names.exists(_.startsWith("bad_esc")) || names.size == 1)
    // and a subsequent register still works over the corrupted file
    GraftCatalog.register(wh, "post_corruption", "/loc/post")
    assert(GraftCatalog.entries(wh).map(_.name).contains("post_corruption"))
  }

  test("timestamp stats skip correctly across parquet timestamp units") {
    import spark.implicits._
    val key = "spark.sql.parquet.outputTimestampType"
    val old = spark.conf.get(key)
    try {
      for (unit <- Seq("TIMESTAMP_MILLIS", "TIMESTAMP_MICROS")) {
        spark.conf.set(key, unit)
        val t = tmp()
        val df = spark.range(0, 8000)
          .select(timestamp_seconds(col("id")).as("ts"), col("id"))
          .repartitionByRange(8, col("ts"))
        TxLog.overwrite(df.toDF(), t)
        val (back, idx) = TxLog.readWithSkipInfo(spark, t)
        // under MILLIS, round-3's raw compare saw footer maxima 1000×
        // smaller than the micros literal and skipped EVERY file here
        val n = back.filter(col("ts") >= timestamp_seconds(lit(7000))).count()
        assert(n == 1000, s"$unit: wrong row count $n — files skipped wrongly")
        val (sel, tot) = idx.lastListing.get
        assert(tot == 8, s"$unit: expected 8 files, saw $tot")
        assert(sel < tot, s"$unit: stats must still SKIP files ($sel of $tot)")
      }
    } finally spark.conf.set(key, old)
  }
}
