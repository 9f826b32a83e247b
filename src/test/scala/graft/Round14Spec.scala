package graft

import org.apache.spark.sql.functions._

import graft.acid.TxLog
import graft.analytics.GraftSql

/** Round-14 laws: the SQL face completed (read-side time travel +
  * DESCRIBE HISTORY, plain CREATE TABLE / ADD COLUMN, INSERT column
  * lists, reader-protected VACUUM, merge-on-read DML routing), the
  * VACUUM RETAIN arithmetic made un-destroyable (ADVICE r13 medium:
  * RETAIN 0 used to physically delete every live file of the current
  * snapshot), the reader-horizon derivation made committed-progress
  * aware, and MERGE key resolution made case-insensitive like the
  * engine's own. */
class Round14Spec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // ------------------------------------------- vacuum arithmetic guard

  test("VACUUM RETAIN 0 VERSIONS is rejected loudly; TxLog.vacuum refuses " +
       "any retainVersion above the current version") {
    val spark2 = spark
    import spark2.implicits._
    val wh = tmp("r14vacwh"); val table = tmp("r14vactbl")
    TxLog.overwrite(Seq((1L, "a")).toDF("k", "s"), table)             // v1
    TxLog.append(Seq((2L, "b")).toDF("k", "s"), table)                // v2
    graft.acid.GraftCatalog.register(wh, "tv14", table)
    // the round-13 arithmetic: retain = cur - 0 + 1 = cur + 1 → NO
    // snapshot retained → every live file physically deleted while the
    // log still references it. Must reject, not destroy.
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, wh, "VACUUM tv14 RETAIN 0 VERSIONS")
    }
    assert(e.getMessage.contains(">= 1"), e.getMessage)
    // the kernel guard holds for direct API callers too (belt and
    // suspenders — not force-overridable: "delete the current snapshot"
    // is never a valid operator intent)
    intercept[IllegalArgumentException] {
      TxLog.vacuum(spark, table,
        retainVersion = TxLog.currentVersion(spark, table) + 1)
    }
    // table fully intact after both refusals
    assert(TxLog.read(spark, table).count() == 2L)
    // a legal vacuum still works through the same grammar
    GraftSql.execute(spark, wh, "VACUUM tv14 RETAIN 1 VERSIONS")
    assert(TxLog.read(spark, table).count() == 2L)
  }

  test("SQL VACUUM PROTECT refuses to strand a lagging streaming reader; " +
       "FORCE overrides — the Scala guard, reachable through SQL text") {
    val spark2 = spark
    import spark2.implicits._
    val wh = tmp("r14vpwh"); val table = tmp("r14vptbl")
    val ckpt = tmp("r14vpck"); val out = tmp("r14vpout")
    TxLog.overwrite(Seq((1L, "a")).toDF("id", "s"), table)             // v1
    TxLog.append(Seq((2L, "b")).toDF("id", "s"), table)                // v2
    graft.acid.GraftCatalog.register(wh, "tp14", table)
    val q = spark.readStream.format("graft-table")
      .option("path", table).load().select("id", "_commit_version")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    TxLog.overwrite(Seq((3L, "c")).toDF("id", "s"), table)             // v3
    TxLog.append(Seq((4L, "d")).toDF("id", "s"), table)                // v4
    // RETAIN 1 VERSIONS = vacuum to the current version: above the
    // stopped reader's horizon → the SQL door must refuse like the API
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, wh,
        s"VACUUM tp14 RETAIN 1 VERSIONS PROTECT ('$ckpt')")
    }
    assert(e.getMessage.contains("strand"), e.getMessage)
    assert(TxLog.read(spark, table, Some(1L)).count() == 1L,
      "refused vacuum must leave history readable")
    // FORCE abandons the laggard explicitly, through SQL text
    GraftSql.execute(spark, wh,
      s"VACUUM tp14 RETAIN 1 VERSIONS PROTECT ('$ckpt') FORCE")
    intercept[Exception] { TxLog.read(spark, table, Some(1L)).count() }
  }

  // ------------------------------------- committed-progress horizon

  test("readerSafeHorizon of an uncommitted batch is the PREVIOUS batch's " +
       "offset; an uncommitted batch 0 yields None") {
    val spark2 = spark
    import spark2.implicits._
    val table = tmp("r14hztbl"); val ckpt = tmp("r14hzck")
    val out = tmp("r14hzout")
    TxLog.overwrite(Seq((1L, "a")).toDF("id", "s"), table)             // v1
    TxLog.append(Seq((2L, "b")).toDF("id", "s"), table)                // v2
    def run(): Unit = {
      val q = spark.readStream.format("graft-table")
        .option("path", table).load().select("id")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val committed = TxLog.readerSafeHorizon(spark, ckpt)
    assert(committed.isDefined)
    // simulate a crash between the offsets write and the commit write:
    // a NEW batch's offsets file lands with no commits/<id> twin. The
    // restart must replay (prev committed, planned] in full, so the
    // horizon must NOT advance to the planned end.
    TxLog.append(Seq((3L, "c")).toDF("id", "s"), table)                // v3
    val offsetsDir = new java.io.File(ckpt, "offsets")
    val ids = offsetsDir.listFiles().filter(_.getName.forall(_.isDigit))
      .map(_.getName.toLong)
    val next = ids.max + 1
    val template = java.nio.file.Files.readAllLines(
      new java.io.File(offsetsDir, ids.max.toString).toPath)
    val planned = new java.io.File(offsetsDir, next.toString)
    // same v1 header/metadata, a planned end offset beyond the commit
    java.nio.file.Files.write(planned.toPath,
      java.util.Arrays.asList(template.get(0), template.get(1),
        TxLog.currentVersion(spark, table).toString))
    val afterCrash = TxLog.readerSafeHorizon(spark, ckpt)
    assert(afterCrash == committed,
      s"uncommitted batch must pin the horizon at the committed progress " +
        s"($committed), got $afterCrash")
    // a brand-new checkpoint whose batch 0 never committed: no committed
    // progress at all → None (the vacuum caller refuses)
    val ckpt2 = tmp("r14hzck2")
    val off2 = new java.io.File(ckpt2, "offsets")
    assert(off2.mkdirs())
    java.nio.file.Files.write(new java.io.File(off2, "0").toPath,
      java.util.Arrays.asList(template.get(0), template.get(1), "2"))
    assert(TxLog.readerSafeHorizon(spark, ckpt2).isEmpty,
      "uncommitted batch 0 has no committed progress — must be None")
  }

  // --------------------------------------------- SQL DML robustness

  test("MERGE resolves key and SET column names case-insensitively " +
       "(Spark's default resolution); unknown columns stay loud") {
    val spark2 = spark
    import spark2.implicits._
    val wh = tmp("r14ciwh"); val table = tmp("r14citbl")
    TxLog.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), table)
    graft.acid.GraftCatalog.register(wh, "tci14", table)
    Seq((2L, 200.0), (3L, 30.0)).toDF("k", "v")
      .createOrReplaceTempView("r14cisrc")
    GraftSql.execute(spark, wh,
      """MERGE INTO tci14 t USING r14cisrc s ON t.K = s.k
        |WHEN MATCHED THEN UPDATE SET V = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(TxLog.read(spark, table).collect().map(_.toSeq).toSet ==
      Set(Seq(1L, 10.0), Seq(2L, 200.0), Seq(3L, 30.0)))
    // a genuinely unknown column is still rejected loudly
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, wh,
        "MERGE INTO tci14 t USING r14cisrc s ON t.nope = s.nope " +
          "WHEN MATCHED THEN DELETE")
    }
    assert(e.getMessage.contains("nope"), e.getMessage)
  }

  test("INSERT returns the uniform (op, files_rewritten, files_added) DML " +
       "shape; column lists back-fill typed NULLs; BY NAME rejects " +
       "unknown source columns") {
    val spark2 = spark
    import spark2.implicits._
    val wh = tmp("r14inswh"); val table = tmp("r14instbl")
    TxLog.overwrite(Seq((1L, "a", 10.0)).toDF("k", "name", "v"), table)
    graft.acid.GraftCatalog.register(wh, "tin14", table)
    val r = GraftSql.execute(spark, wh, "INSERT INTO tin14 VALUES (2, 'b', 20.0)")
    assert(r.columns.toSeq == Seq("op", "files_rewritten", "files_added"))
    val row = r.collect()(0)
    assert(row.getString(0) == "insert" && row.getInt(1) == 0 &&
      row.getInt(2) >= 1)
    // column list: named columns bind positionally, `name` back-fills NULL
    GraftSql.execute(spark, wh, "INSERT INTO tin14 (k, v) VALUES (3, 30.0)")
    val got = TxLog.read(spark, table).orderBy("k").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(got(2).isNullAt(1) && got(2).getDouble(2) == 30.0)
    // column-list arity is loud
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, wh, "INSERT INTO tin14 (k, v) VALUES (4)")
    }
    // BY NAME with a typo'd extra source column: loud, not silently
    // dropped (VERDICT r13 what's-wrong #3)
    Seq((4L, "d", 40.0, true)).toDF("k", "name", "v", "extra_typo")
      .createOrReplaceTempView("r14insrc")
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, wh,
        "INSERT INTO tin14 BY NAME SELECT * FROM r14insrc")
    }
    assert(e.getMessage.contains("extra_typo"), e.getMessage)
    // overwrite reports the replaced snapshot's file count as rewritten
    val ow = GraftSql.execute(spark, wh,
      "INSERT OVERWRITE tin14 VALUES (9, 'z', 90.0)").collect()(0)
    assert(ow.getString(0) == "insert_overwrite" && ow.getInt(1) >= 1)
  }

  test("merge-on-read session option routes SQL UPDATE/DELETE through the " +
       "DV kernels: no data file rewritten") {
    val spark2 = spark
    import spark2.implicits._
    val wh = tmp("r14dvwh"); val table = tmp("r14dvtbl")
    TxLog.overwrite(spark.range(0, 1000).select(col("id"),
      (col("id") % 10).as("grp"), (col("id") * 1.5).as("v")), table)
    graft.acid.GraftCatalog.register(wh, "tdv14", table)
    spark.conf.set("spark.graft.dml.mergeOnRead", "true")
    try {
      val del = GraftSql.execute(spark, wh,
        "DELETE FROM tdv14 WHERE id = 7").collect()(0)
      // DV contract: files gain sidecars (reported as rewritten), but
      // ZERO data files are written
      assert(del.getInt(2) == 0,
        s"DV delete must add no data file, got ${del.getInt(2)}")
      assert(TxLog.read(spark, table).where(col("id") === 7).count() == 0)
      val upd = GraftSql.execute(spark, wh,
        "UPDATE tdv14 SET v = 0.0 WHERE id = 8").collect()(0)
      assert(upd.getInt(2) >= 1, "DV update appends only the post-images")
      assert(TxLog.read(spark, table).where(col("id") === 8)
        .select("v").collect()(0).getDouble(0) == 0.0)
      assert(TxLog.read(spark, table).count() == 999L)
    } finally spark.conf.unset("spark.graft.dml.mergeOnRead")
    // off again: copy-on-write (adds a rewritten file)
    val cow = GraftSql.execute(spark, wh,
      "DELETE FROM tdv14 WHERE id = 9").collect()(0)
    assert(cow.getInt(2) >= 1, "copy-on-write delete rewrites files")
    assert(TxLog.read(spark, table).count() == 998L)
  }

  // --------------------------------------------- SQL DDL completion

  test("CREATE TABLE (schema) → INSERT → ADD COLUMN → INSERT wider: the " +
       "full lifecycle through SQL text; old rows back-fill typed NULLs") {
    val wh = tmp("r14ddlwh")
    val r = GraftSql.execute(spark, wh,
      "CREATE TABLE td14 (k BIGINT, grp STRING, v DOUBLE) PARTITIONED BY (grp)")
      .collect()(0)
    assert(r.getString(0) == "create_table" && r.getBoolean(2))
    val loc = graft.acid.GraftCatalog.entries(wh).find(_.name == "td14")
      .get.location
    // empty v0 table with the declared schema and layout
    assert(TxLog.read(spark, loc).count() == 0L)
    assert(TxLog.read(spark, loc).columns.toSeq == Seq("k", "grp", "v"))
    assert(TxLog.partitionColsOf(spark, loc) == Seq("grp"))
    // IF NOT EXISTS skips, bare re-create is loud (CTAS discipline)
    assert(!GraftSql.execute(spark, wh,
      "CREATE TABLE IF NOT EXISTS td14 (x INT)").collect()(0).getBoolean(2))
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, wh, "CREATE TABLE td14 (x INT)")
    }
    GraftSql.execute(spark, wh, "INSERT INTO td14 VALUES (1, 'a', 1.5)")
    // widen: ONE metadata commit, no file touched
    val files = TxLog.fileCount(spark, loc)
    GraftSql.execute(spark, wh, "ALTER TABLE td14 ADD COLUMN note STRING")
    assert(TxLog.fileCount(spark, loc) == files,
      "ADD COLUMN must be metadata-only")
    assert(TxLog.read(spark, loc).columns.toSeq ==
      Seq("k", "grp", "v", "note"))
    GraftSql.execute(spark, wh,
      "INSERT INTO td14 VALUES (2, 'b', 2.5, 'wide')")
    val got = TxLog.read(spark, loc).orderBy("k").collect()
    assert(got(0).isNullAt(3), "pre-widen row must back-fill NULL")
    assert(got(1).getString(3) == "wide")
    // time travel below the widen keeps the narrower schema: the widen
    // is the LAST schema-changed data-free commit so far
    val widenV = GraftSql.execute(spark, wh, "DESCRIBE HISTORY td14")
      .where(col("schema_changed") &&
        col("n_adds") === 0 && col("n_removes") === 0)
      .orderBy(col("version")).collect()
    assert(widenV.nonEmpty, "history must show the metadata-only widen")
    assert(TxLog.read(spark, loc, Some(widenV.last.getLong(0) - 1))
      .columns.toSeq == Seq("k", "grp", "v"))
    // re-adding, a dropped-name landing, and nested adds are loud
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, wh, "ALTER TABLE td14 ADD COLUMN NOTE INT")
    }
    GraftSql.execute(spark, wh, "ALTER TABLE td14 DROP COLUMN note")
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, wh, "ALTER TABLE td14 ADD COLUMN note INT")
    }
  }

  test("SQL CDF: table_changes(t, from[, to]) reads the change feed " +
       "through SQL text and composes with the query around it") {
    val spark2 = spark
    import spark2.implicits._
    val wh = tmp("r14cfwh"); val table = tmp("r14cftbl")
    TxLog.overwrite(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))
      .toDF("k", "v"), table)                                        // v1
    graft.acid.GraftCatalog.register(wh, "tcf14", table)
    GraftSql.execute(spark, wh, "UPDATE tcf14 SET v = v + 1 WHERE k = 2") // v2
    GraftSql.execute(spark, wh, "DELETE FROM tcf14 WHERE k = 3")          // v3
    val ch = GraftSql.execute(spark, wh,
      """SELECT _change_type, count(*) AS n
        |FROM table_changes('tcf14', 2, 3)
        |GROUP BY 1 ORDER BY 1""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ch == Map("update_preimage" -> 1L, "update_postimage" -> 1L,
      "delete" -> 1L), ch.toString)
    // default toVersion = latest; feed columns filter like any others
    val post = GraftSql.execute(spark, wh,
      "SELECT v FROM table_changes('tcf14', 2) " +
        "WHERE _change_type = 'update_postimage'").collect()
    assert(post.map(_.getDouble(0)).toSeq == Seq(21.0))
    // the full range includes v1's inserts
    assert(GraftSql.execute(spark, wh,
      "SELECT count(*) AS n FROM table_changes('tcf14', 1, 1)")
      .collect()(0).getLong(0) == 3L)
    // non-integer version arguments are loud
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, wh,
        "SELECT * FROM table_changes('tcf14', 'two')").collect()
    }
  }

  test("INSERT PARTITION (static spec) binds remaining columns " +
       "positionally; INSERT OVERWRITE PARTITION replaces ONLY that " +
       "partition; SHOW TABLES lists the graft catalog") {
    val spark2 = spark
    import spark2.implicits._
    val wh = tmp("r14pswh"); val table = tmp("r14pstbl")
    TxLog.overwrite(Seq((1L, "a", 1.0), (2L, "b", 2.0))
      .toDF("k", "grp", "v"), table, Seq("grp"))
    graft.acid.GraftCatalog.register(wh, "tps14", table)
    // static spec: grp pinned, (k, v) bind positionally
    GraftSql.execute(spark, wh,
      "INSERT INTO tps14 PARTITION (grp = 'a') VALUES (3, 3.0)")
    assert(TxLog.read(spark, table).where(col("grp") === "a").count() == 2L)
    // overwrite-partition: replaces grp='a' ONLY — grp='b' untouched
    val r = GraftSql.execute(spark, wh,
      "INSERT OVERWRITE tps14 PARTITION (grp = 'a') VALUES (9, 9.0)")
      .collect()(0)
    assert(r.getString(0) == "insert_overwrite_partition" &&
      r.getInt(1) >= 1 && r.getInt(2) >= 1, r.toString)
    assert(TxLog.read(spark, table).collect().map(_.toSeq).toSet ==
      Set(Seq(9L, "a", 9.0), Seq(2L, "b", 2.0)))
    // dynamic specs and spec+column-list are loud
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, wh,
        "INSERT INTO tps14 PARTITION (grp) VALUES (4, 'c', 4.0)")
    }
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, wh,
        "INSERT INTO tps14 PARTITION (grp = 'a') (k) VALUES (4)")
    }
    // a non-partition column in the spec is loud
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, wh,
        "INSERT INTO tps14 PARTITION (v = '1.0') VALUES (4, 'c')")
    }
    // SHOW TABLES lists the GRAFT catalog (not the session catalog)
    val tables = GraftSql.execute(spark, wh, "SHOW TABLES").collect()
    assert(tables.map(_.getString(0)).toSeq == Seq("tps14"))
    assert(tables(0).getString(1) == table)
  }

  // ------------------------------------------ full-PSL rule classes

  test("PSL wildcard, exception, and ≥3-label rules resolve by the real " +
       "algorithm; the full ICANN ASCII set is loaded") {
    import graft.etl.Curation
    import graft.functions.PslSuffixImpl
    val spark2 = spark
    import spark2.implicits._
    // the audit surface: the COMPLETE ICANN section (the round-13 audit
    // measured the hand subset covering 46/3,614 two-label rules; round
    // 14 ships every rule class, with IDN rules in BOTH the PSL's
    // Unicode spelling and the punycode form crawl hosts actually carry)
    // 7,807 at round 14 (both spellings); round 16 SHED the 453
    // Unicode-spelled IDN rules — hosts IDNA-normalize to punycode
    // BEFORE the probe since round 15, so only the xn-- twins are
    // reachable (graft.tools.SlimPsl, last held in commit 52ef7a0,
    // verified every twin present with the runtime's own IDN call before
    // dropping)
    assert(PslSuffixImpl.rules.exact.size == 7354,
      s"exact rules: ${PslSuffixImpl.rules.exact.size}")
    assert(PslSuffixImpl.rules.wildcardBases.size == 18,
      s"wildcards: ${PslSuffixImpl.rules.wildcardBases.size}")
    assert(PslSuffixImpl.rules.exceptions.size == 8,
      s"exceptions: ${PslSuffixImpl.rules.exceptions.size}")
    assert(Curation.MultiLabelSuffixes.size == 3899) // 3,614 + 285 xn--
    val cases = Seq(
      // wildcard *.ck: ANY label under ck is a suffix → bar.ck is the
      // suffix, registrable = three labels (the VERDICT's fixture)
      ("https://a.foo.bar.ck/x", "foo.bar.ck"),
      ("https://foo.bar.ck/", "foo.bar.ck"),
      ("https://bar.ck/", "bar.ck"),            // a bare wildcard suffix
      // exception !www.ck prevails: www.ck is itself registrable
      ("https://a.www.ck/x", "www.ck"),
      ("https://www.ck/", "www.ck"),
      // 3-label exact rule (municipal-registry class)
      ("https://portal.example.k12.ak.us/", "example.k12.ak.us"),
      ("https://example.k12.ak.us/", "example.k12.ak.us"),
      // 3-label wildcard base *.kawasaki.jp (+ its city exception)
      ("https://a.b.c.kawasaki.jp/", "b.c.kawasaki.jp"),
      ("https://a.city.kawasaki.jp/", "city.kawasaki.jp"),
      // IDN rules, in the punycode spelling crawl hosts carry
      // (公司.cn = xn--55qx5d.cn) and the PSL's own Unicode spelling —
      // since round 15 the host IDNA-normalizes BEFORE the probe, so
      // BOTH spellings yield the one canonical punycode domain (a cap
      // or blocklist can never be dodged by re-spelling; Round15Spec
      // pins the mixed-spelling case)
      ("https://shop.example.xn--55qx5d.cn/", "example.xn--55qx5d.cn"),
      ("https://shop.example.公司.cn/", "example.xn--55qx5d.cn"),
      // the round-12/13 classes keep resolving identically
      ("https://shop.example.co.uk/", "example.co.uk"),
      ("https://cdn.docs.example.com?q=1", "example.com"),
      ("https://co.uk/", "co.uk"),
      ("https://example.co/", "example.co"))
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), Curation.registrableDomain(col("url")).as("d"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (url, want) =>
      assert(got(url) == want, s"$url -> ${got(url)}, want $want")
    }
    // the expression stays codegen-compilable (the round-13 pin class)
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.types.StringType
    GenerateMutableProjection.generate(Seq(
      graft.functions.PslRegistrableDomain(
        BoundReference(0, StringType, nullable = true))))
  }

  // ------------------------------------- deletion-tolerant ANN index

  test("AnnIndexStore: removing corpus files shrinks the index in place — " +
       "Shrunk(n) / Maintained(a,r), rows DV-deleted by provenance, " +
       "codebooks kept, next call a pure load") {
    import graft.similarity.AnnIndexStore
    import AnnIndexStore.IndexOutcome
    val wh = tmp("r14annwh"); val corpus = tmp("r14anncorp")
    val emb0 = Tables.embeddings(spark, sf)
    emb0.filter(col("vec_id") < 400).repartition(4)
      .write.mode("overwrite").parquet(corpus)
    val (built, o0) = AnnIndexStore.pqIndex(
      spark.read.parquet(corpus), wh, "ps", m = 16, k = 16)
    assert(o0 == IndexOutcome.Trained(false))
    val loc = new java.io.File(wh, "ps").toString
    val rows0 = TxLog.read(spark, loc).count()
    // erase one corpus file (GDPR-erasure shape)
    val victim = spark.read.parquet(corpus).inputFiles.sorted.head
    val victimRows = spark.read.parquet(victim).count()
    val victimName = victim.split('/').last
    val vp = new org.apache.hadoop.fs.Path(victim)
    vp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(vp, false)
    val (shr, o1) = AnnIndexStore.pqIndex(
      spark.read.parquet(corpus), wh, "ps", m = 16, k = 16)
    assert(o1 == IndexOutcome.Shrunk(1), s"got $o1")
    assert(shr.cb == built.cb, "shrink must keep the stored codebooks")
    // the code table lost EXACTLY the removed file's rows, via DV (no
    // code file rewritten — the delete's stats say so in its own spec;
    // here the content contract)
    assert(TxLog.read(spark, loc).count() == rows0 - victimRows)
    assert(TxLog.read(spark, loc)
      .filter(col("src_file") === victimName).count() == 0L,
      "no code row of the removed file may survive")
    // next call is a pure load
    val (_, o2) = AnnIndexStore.pqIndex(
      spark.read.parquet(corpus), wh, "ps", m = 16, k = 16)
    assert(o2 == IndexOutcome.Loaded, s"got $o2")
    // probing the shrunken index never returns an erased vector
    val gone = spark.read.parquet(corpus).select("vec_id")
    val probe = graft.similarity.Pq.probe(
      spark.read.parquet(corpus), shr, nQueries = 4, kNeighbors = 5)
    assert(probe.join(gone.withColumnRenamed("vec_id", "neighbor_id"),
      Seq("neighbor_id"), "left_anti").count() == 0L,
      "every neighbor must come from the surviving corpus")
    // mixed add+remove (a REWRITE is removed+added of the same path):
    // delete one more file AND append a fresh batch → Maintained(1, 1)
    val victim2 = spark.read.parquet(corpus).inputFiles.sorted.head
    val v2p = new org.apache.hadoop.fs.Path(victim2)
    v2p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(v2p, false)
    emb0.filter(col("vec_id") >= 400).coalesce(1)
      .write.mode("append").parquet(corpus)
    val (m1, o3) = AnnIndexStore.pqIndex(
      spark.read.parquet(corpus), wh, "ps", m = 16, k = 16)
    assert(o3 == IndexOutcome.Maintained(1, 1), s"got $o3")
    assert(m1.cb == built.cb)
    assert(TxLog.read(spark, loc).count() ==
      spark.read.parquet(corpus).count())
    val (_, o4) = AnnIndexStore.pqIndex(
      spark.read.parquet(corpus), wh, "ps", m = 16, k = 16)
    assert(o4 == IndexOutcome.Loaded)
    // a corpus sharing NO file with the stored index retrains
    val corpus2 = tmp("r14anncorp2")
    emb0.filter(col("vec_id") < 300).coalesce(2)
      .write.mode("overwrite").parquet(corpus2)
    val (_, o5) = AnnIndexStore.pqIndex(
      spark.read.parquet(corpus2), wh, "ps", m = 16, k = 16)
    assert(o5 == IndexOutcome.Trained(false), s"got $o5")
  }

  test("IVF×PQ cell census rides the tag, maintains in O(batch), and the " +
       "rebalance flag fires on a deliberately skewed extension") {
    import graft.similarity.AnnIndexStore
    import AnnIndexStore.IndexOutcome
    val spark2 = spark
    import spark2.implicits._
    val wh = tmp("r14cenwh"); val corpus = tmp("r14cencorp")
    val emb0 = Tables.embeddings(spark, sf)
    emb0.filter(col("vec_id") < 400).repartition(2)
      .write.mode("overwrite").parquet(corpus)
    val (_, o0) = AnnIndexStore.ivfPqIndex(
      spark.read.parquet(corpus), wh, "ic", nCells = 16, m = 16, k = 256)
    assert(o0 == IndexOutcome.Trained(false))
    val loc = new java.io.File(wh, "ic").toString
    val (census0, skew0) = AnnIndexStore.cellHealth(spark, wh, "ic").get
    assert(census0.size == 16 && census0.sum == TxLog.read(spark, loc).count(),
      s"census must account for every code row, got $census0")
    assert(!skew0, "a freshly trained Voronoi layout must not be skewed")
    // skewed extension: 400 copies of ONE corpus vector (new ids) — all
    // land in that vector's cell by the assignment rule; distortion ≈
    // the original's (it was in training), so the drift guard accepts
    val one = emb0.filter(col("vec_id") === 0)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    (100000L until 100400L).map(i => (i, one)).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(corpus)
    val (_, o1) = AnnIndexStore.ivfPqIndex(
      spark.read.parquet(corpus), wh, "ic", nCells = 16, m = 16, k = 256)
    assert(o1 == IndexOutcome.Extended(1), s"got $o1")
    val (census1, skew1) = AnnIndexStore.cellHealth(spark, wh, "ic").get
    assert(census1.sum == census0.sum + 400,
      s"extension census must add exactly the batch: $census0 -> $census1")
    assert((0 until 16).count(c => census1(c) > census0(c)) == 1,
      "all copies of one vector must land in exactly one cell")
    assert(skew1, s"400 rows in one cell of ${census1.sum} must flag " +
      s"rebalance, census: $census1")
    // shrink: erase the skew file (the newest — the appended batch) —
    // the census returns to the trained shape
    val skewFile = spark.read.parquet(corpus).inputFiles
      .maxBy(f => new java.io.File(new java.net.URI(f)).lastModified())
    val sp = new org.apache.hadoop.fs.Path(skewFile)
    sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, false)
    val (_, o2) = AnnIndexStore.ivfPqIndex(
      spark.read.parquet(corpus), wh, "ic", nCells = 16, m = 16, k = 256)
    assert(o2 == IndexOutcome.Shrunk(1), s"got $o2")
    val (census2, skew2) = AnnIndexStore.cellHealth(spark, wh, "ic").get
    assert(census2 == census0,
      s"shrinking the skew batch away must restore the census: " +
        s"$census2 vs $census0")
    assert(!skew2)
  }

  test("SQL time travel: VERSION AS OF / TIMESTAMP AS OF read historical " +
       "snapshots through SQL text; DESCRIBE HISTORY lists the commits") {
    val spark2 = spark
    import spark2.implicits._
    val wh = tmp("r14ttwh"); val table = tmp("r14tttbl")
    TxLog.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), table) // v1
    graft.acid.GraftCatalog.register(wh, "ttt14", table)
    GraftSql.execute(spark, wh, "UPDATE ttt14 SET v = v + 100")        // v2
    GraftSql.execute(spark, wh, "DELETE FROM ttt14 WHERE k = 1")       // v3
    // current state through the attached view face
    graft.acid.GraftCatalog.attachAll(spark, wh)
    assert(spark.sql("SELECT sum(v) FROM ttt14").collect()(0).getDouble(0)
      == 120.0)
    // VERSION AS OF reads the pre-UPDATE content — including inside a
    // larger query (aggregation over the historical relation)
    val v1 = GraftSql.execute(spark, wh,
      "SELECT count(*) AS n, sum(v) AS s FROM ttt14 VERSION AS OF 1")
      .collect()(0)
    assert(v1.getLong(0) == 2L && v1.getDouble(1) == 30.0, v1.toString)
    val v2 = GraftSql.execute(spark, wh,
      "SELECT sum(v) AS s FROM ttt14 VERSION AS OF 2").collect()(0)
    assert(v2.getDouble(0) == 230.0)
    // a historical and the current snapshot JOIN in one statement
    val joined = GraftSql.execute(spark, wh,
      """SELECT cur.k, old.v AS v_old, cur.v AS v_new
        |FROM ttt14 cur JOIN ttt14 VERSION AS OF 1 old ON cur.k = old.k
        |""".stripMargin).collect()
    assert(joined.length == 1 && joined(0).getDouble(1) == 20.0 &&
      joined(0).getDouble(2) == 120.0)
    // TIMESTAMP AS OF: a timestamp at/after v1's commit but before v2's
    // resolves to v1 (commit mtimes are monotone on one filesystem)
    val (hfs, root) = (new org.apache.hadoop.fs.Path(table)
        .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(table))
    val v1ts = hfs.getFileStatus(new org.apache.hadoop.fs.Path(root,
      f"_txlog/${1L}%020d.json")).getModificationTime
    val tsLit = new java.sql.Timestamp(v1ts).toInstant.toString
    val tt = GraftSql.execute(spark, wh,
      s"SELECT sum(v) AS s FROM ttt14 TIMESTAMP AS OF '$tsLit'").collect()(0)
    assert(tt.getDouble(0) == 30.0, s"TIMESTAMP AS OF '$tsLit' read ${tt}")
    // a version above the current is loud
    intercept[Exception] {
      GraftSql.execute(spark, wh,
        "SELECT * FROM ttt14 VERSION AS OF 99").collect()
    }
    // DESCRIBE HISTORY: one row per commit, versions ascending, with
    // the Delta-shape op + timestamp columns
    val histDf = GraftSql.execute(spark, wh, "DESCRIBE HISTORY ttt14")
    assert(histDf.columns.toSeq == Seq("version", "timestamp", "op",
      "n_adds", "n_removes", "schema_changed"))
    val hist = histDf.collect()
    assert(hist.map(_.getLong(0)).toSeq == (1L to 3L),
      hist.map(_.getLong(0)).mkString(","))
    assert(hist.map(r => r.getString(2)).toSeq ==
      Seq("overwrite", "update", "delete"), hist.mkString(";"))
    assert(hist.last.getInt(3) >= 1, "the DELETE commit adds files")
    // a history row's timestamp, read back AS OF, selects that version
    val tsRows = hist.map(_.getTimestamp(1))
    assert(!tsRows.contains(null) &&
      tsRows.sliding(2).forall(p => !p(1).before(p(0))),
      "commit timestamps must be monotone non-decreasing")
  }
}
