package graft

import java.nio.file.Files

import org.apache.spark.BusDrain

import graft.config.ArchiverConfig
import graft.dml.DeleteBack
import graft.metrics.MetricsRecorder
import graft.sink.{Retry, StagedLoader}
import graft.source.ParquetTableSource

/** End-to-end pipeline tests in the spirit of the reference's workflow
  * tests (cmd/main_test.go): seed a source, run the archiver, golden-check
  * the target count, then the delete-back effect. */
class ArchiveE2ESpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-e2e").toString

  /** The archiver `Archiver.wire` builds over the parquet tables in
    * `srcDir`, staging next to `tgt`, with no pacing sleeps. */
  private def parquetArchiver(cfg: ArchiverConfig, srcDir: String,
      tgt: String): Archiver =
    Archiver.wire(spark, cfg, new ParquetTableSource(spark, srcDir), tgt,
      tgt + ".stg", pacingSleep = _ => ())

  private def copyFixture(table: String, destDir: String): Unit = {
    spark.read.parquet(s"$sf/$table.parquet")
      .write.mode("overwrite").parquet(s"$destDir/$table.parquet")
  }

  test("key-split archive: orders → target, counts reconcile") {
    val srcDir = tmpDir(); val tgt = tmpDir() + "/t"
    copyFixture("orders", srcDir)
    val cfg = ArchiverConfig(
      sourceDB = new java.io.File(srcDir).getName, sourceTable = "orders",
      sourceWhereCondition = "o_totalprice > 1000",
      sourceSplitKey = "o_orderkey", batchSize = 200, maxThread = 4)
    val archiver = parquetArchiver(cfg, srcDir, tgt)
    // a recorder around the same run, read after a drain, sees every task
    // of the run: the report's own snapshot must not miss the last jobs
    BusDrain.drain(spark.sparkContext)
    val outer = MetricsRecorder.attach(spark)
    val report =
      try archiver.run()
      finally { BusDrain.drain(spark.sparkContext); MetricsRecorder.detach(spark, outer) }

    val expected = spark.read.parquet(s"$srcDir/orders.parquet")
      .where("o_totalprice > 1000").count()
    assert(report.reconciliation.correct, report.reconciliation)
    assert(report.reconciliation.targetRows == expected)
    assert(report.tables.head.rowsLoaded == expected)
    assert(report.metrics.rowsRead > 0)
    assert(report.metrics.rowsRead == outer.snapshot.rowsRead)
  }

  test("time-split archive: events windows load sequentially and reconcile") {
    val srcDir = tmpDir(); val tgt = tmpDir() + "/t"
    // events.ts needs the µs conversion — write a converted copy
    graft.ops.Tables.events(spark, sf)
      .write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    val cfg = ArchiverConfig(
      sourceDB = new java.io.File(srcDir).getName, sourceTable = "events",
      sourceWhereCondition =
        "ts >= '2024-01-02 00:00:00' and ts < '2024-01-05 00:00:00'",
      sourceSplitTimeKey = "ts", timeSplitUnit = "day", batchSize = 1000)
    val report = parquetArchiver(cfg, srcDir, tgt).run()

    val expected = spark.read.parquet(s"$srcDir/events.parquet")
      .where("ts >= '2024-01-02 00:00:00' and ts < '2024-01-05 00:00:00'").count()
    assert(expected > 0)
    assert(report.reconciliation.correct, report.reconciliation)
    assert(report.reconciliation.targetRows == expected)
  }

  test("idempotency gate refuses a second run into a non-empty target") {
    val srcDir = tmpDir(); val tgt = tmpDir() + "/t"
    copyFixture("nation", srcDir)
    val cfg = ArchiverConfig(
      sourceDB = new java.io.File(srcDir).getName, sourceTable = "nation",
      sourceWhereCondition = "n_nationkey >= 0",
      sourceSplitKey = "n_nationkey", batchSize = 10)
    def mk() = parquetArchiver(cfg, srcDir, tgt)
    assert(mk().run().reconciliation.correct)
    val e = intercept[IllegalArgumentException] { mk().run() }
    assert(e.getMessage.contains("refusing"))
  }

  test("multi-table regex expansion archives into one shared target") {
    val srcDir = tmpDir(); val tgt = tmpDir() + "/t"
    copyFixture("region", srcDir); copyFixture("nation", srcDir)
    val db = new java.io.File(srcDir).getName
    val cfg = ArchiverConfig(
      sourceDbTables = Seq(s"$db@^(region|nation)$$"),
      sourceWhereCondition = "1 = 1",
      sourceSplitKey = "key", batchSize = 10)
    // shared sink schema: the union shape (reference loads heterogeneous
    // tables into one pre-created table; here both keyed tables align)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType)))
    val src = new graft.source.ParquetTableSource(spark, srcDir) {
      override def scan(dbx: String, t: String, preds: Seq[String], userPred: String) = {
        val base = t match {
          case "region" => spark.read.parquet(s"$srcDir/region.parquet")
            .selectExpr("r_regionkey as key", "r_name as name")
          case "nation" => spark.read.parquet(s"$srcDir/nation.parquet")
            .selectExpr("n_nationkey as key", "n_name as name")
        }
        val withUser = base.where(if (userPred.isEmpty) "true" else userPred)
        if (preds.isEmpty) withUser
        else withUser.where(preds.map(p => s"($p)").mkString(" OR "))
      }
      override def count(dbx: String, t: String, where: String): Long =
        scan(dbx, t, Seq.empty, where).count()
      override def minMaxKey(dbx: String, t: String, key: String, where: String) = {
        val r = scan(dbx, t, Seq.empty, where)
          .agg(org.apache.spark.sql.functions.min(key),
               org.apache.spark.sql.functions.max(key)).head()
        (BigInt(r.getInt(0)), BigInt(r.getInt(1)))
      }
    }
    val loader = new StagedLoader(spark, tgt, schema)
    val archiver = new Archiver(spark, cfg, src, loader, tgt + ".stg",
      pacingSleep = _ => ())
    val report = archiver.run()
    assert(report.tables.map(_.table).sorted == Seq("nation", "region"))
    assert(report.reconciliation.correct)
    assert(report.reconciliation.targetRows == 30) // 25 nations + 5 regions
  }

  test("discovery without db@table patterns sends no catalog query") {
    val srcDir = tmpDir()
    val src = new graft.source.ParquetTableSource(spark, srcDir) {
      override def listDatabases(): Seq[String] = sys.error("catalog queried")
    }
    assert(src.expandDbTables(Seq.empty) == Map.empty)
    val cfg = ArchiverConfig(sourceDB = "db", sourceTable = "orders")
    val archiver = new Archiver(spark, cfg, src,
      new StagedLoader(spark, tmpDir() + "/t",
        spark.read.parquet(s"$sf/orders.parquet").schema), tmpDir())
    assert(archiver.discoverTables() == Seq("db" -> "orders"))
  }

  test("delete-back removes archived rows from the source") {
    val srcDir = tmpDir(); val tgt = tmpDir() + "/t"
    copyFixture("supplier", srcDir)
    val cfg = ArchiverConfig(
      sourceDB = new java.io.File(srcDir).getName, sourceTable = "supplier",
      sourceWhereCondition = "s_suppkey <= 5",
      sourceSplitKey = "s_suppkey", batchSize = 2,
      deleteAfterSync = true)
    val before = spark.read.parquet(s"$srcDir/supplier.parquet").count()
    val report = parquetArchiver(cfg, srcDir, tgt).run()
    assert(report.reconciliation.correct)
    assert(report.deletedBack == report.reconciliation.targetRows)
    val after = spark.read.parquet(s"$srcDir/supplier.parquet").count()
    assert(after == before - report.deletedBack)
    assert(spark.read.parquet(s"$srcDir/supplier.parquet")
      .where("s_suppkey <= 5").count() == 0)
  }

  test("delete-back keeps rows where the predicate is NULL (SQL DELETE semantics)") {
    val srcDir = tmpDir()
    // fixture with a NULL key row: DELETE WHERE k <= 5 must not touch it
    spark.sql(
      """SELECT * FROM VALUES (1, 'a'), (5, 'b'), (CAST(NULL AS INT), 'nullkey'), (9, 'c')
        |AS t(k, v)""".stripMargin)
      .write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val deleted = DeleteBack.deleteFromParquet(spark, s"$srcDir/t.parquet", "k <= 5")
    assert(deleted == 2)
    val rest = spark.read.parquet(s"$srcDir/t.parquet")
    assert(rest.count() == 2)
    assert(rest.where("v = 'nullkey'").count() == 1, "NULL-predicate row was destroyed")
  }

  test("ingest failures are classified retryable and the retry never duplicates rows") {
    val tgt = tmpDir() + "/t"; val stg = tmpDir() + "/stg"
    val src = spark.read.parquet(s"$sf/region.parquet")
    val loader = new StagedLoader(spark, tgt, src.schema)
    // worst case: the failure lands AFTER the load committed — the retry
    // must supersede the prior attempt's files, not append next to them
    var failures = 1
    loader.postLoadFailpoint = () =>
      if (failures > 0) { failures -= 1; sys.error("post-commit crash") }
    val n = Retry.withRetry(maxAttempts = 3, initialDelayMs = 1, sleep = _ => ()) {
      loader.ingest(src, stg)
    }
    assert(n == src.count())
    assert(spark.read.parquet(tgt).count() == src.count(), "retry duplicated the batch")
    // at-least-once replay of the SAME batch (same staging dir) is also a
    // no-op-equivalent: the commit supersedes itself instead of appending
    loader.ingest(src, stg): Unit
    assert(spark.read.parquet(tgt).count() == src.count(), "replay duplicated the batch")
    // and the classification: a stage-write failure surfaces as retryable
    val bad = new StagedLoader(spark, tgt, src.schema, compression = "no-such-codec")
    intercept[Retry.RetryableIngestError] { bad.ingest(src, tmpDir() + "/stg2") }
  }

  test("incremental sync archives only rows past the target's watermark") {
    val srcDir = tmpDir(); val tgt = tmpDir() + "/t"
    val full = spark.read.parquet(s"$sf/orders.parquet")
    // day 1: the source only holds the first half of the keyspace
    val cut = 750L
    full.where(s"o_orderkey <= $cut")
      .write.mode("overwrite").parquet(s"$srcDir/orders.parquet")
    val cfg = ArchiverConfig(
      sourceDB = new java.io.File(srcDir).getName, sourceTable = "orders",
      sourceWhereCondition = "o_totalprice > 0",
      sourceSplitKey = "o_orderkey", batchSize = 200, maxThread = 4)
    def mk() = parquetArchiver(cfg, srcDir, tgt)
    val r1 = mk().runIncremental() // empty target → full load of day-1 rows
    assert(r1.reconciliation.correct, r1.reconciliation)
    val day1 = r1.tables.head.rowsLoaded
    assert(day1 == full.where(s"o_orderkey <= $cut").count())
    // day 2: new rows appended to the source; only the delta must load
    full.write.mode("overwrite").parquet(s"$srcDir/orders.parquet")
    val r2 = mk().runIncremental()
    assert(r2.reconciliation.correct, r2.reconciliation)
    assert(r2.tables.head.rowsLoaded == full.count() - day1,
      "second run must load only rows past the watermark")
    assert(spark.read.parquet(tgt).count() == full.count())
    // and the loaded keyspace is exactly the source's (no dup, no gap)
    assert(spark.read.parquet(tgt).select("o_orderkey").distinct().count()
      == full.count())
  }

  test("time-incremental sync archives only events past the µs watermark") {
    val srcDir = tmpDir(); val tgt = tmpDir() + "/t"
    val full = graft.ops.Tables.events(spark, sf)
    val cut = "2024-01-15 00:00:00"
    full.where(s"ts < '$cut'")
      .write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    val cfg = ArchiverConfig(
      sourceDB = new java.io.File(srcDir).getName, sourceTable = "events",
      sourceWhereCondition =
        "ts >= '2024-01-01 00:00:00' and ts < '2025-01-01 00:00:00'",
      sourceSplitTimeKey = "ts", timeSplitUnit = "day", batchSize = 1000)
    def mk() = parquetArchiver(cfg, srcDir, tgt)
    val r1 = mk().runIncremental()
    assert(r1.reconciliation.correct, r1.reconciliation)
    val day1 = r1.tables.head.rowsLoaded
    assert(day1 == full.where(s"ts < '$cut'").count())
    full.write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    val r2 = mk().runIncremental()
    assert(r2.reconciliation.correct, r2.reconciliation)
    assert(r2.tables.head.rowsLoaded == full.count() - day1,
      "second run must load only events past the watermark")
    assert(spark.read.parquet(tgt).count() == full.count())
  }

  test("a batch replayed after compaction is recognized as committed (tombstone)") {
    val tgt = tmpDir() + "/t"
    val src = spark.read.parquet(s"$sf/region.parquet")
    val loader = new StagedLoader(spark, tgt, src.schema)
    val stg = tmpDir() + "/stg"
    loader.ingest(src, stg): Unit
    // an external rewrite (a table format's OPTIMIZE, say) moves the
    // batch's rows into files of its own naming and keeps the tombstone
    val dir = new java.io.File(tgt)
    val batchFiles = dir.listFiles().filter(f =>
      f.getName.startsWith("ingest-") && f.getName.endsWith(".parquet"))
    assert(batchFiles.nonEmpty)
    assert(dir.listFiles().exists(f =>
      f.getName.startsWith("_ingest-") && f.getName.endsWith(".done")))
    batchFiles.zipWithIndex.foreach { case (f, i) =>
      assert(f.renameTo(new java.io.File(dir, f"rewritten-$i%05d.parquet")))
    }
    // at-least-once replay of the same batch AFTER its files were
    // rewritten away: the durable tombstone must make it a no-op
    assert(loader.ingest(src, stg) == 0L, "replay after compaction must be skipped")
    assert(spark.read.parquet(tgt).count() == src.count(),
      "compaction + replay must not duplicate the batch")
  }

  test("retry: only classified ingest errors retry, with doubling backoff") {
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = Retry.withRetry(maxAttempts = 5, initialDelayMs = 100,
        sleep = sleeps.append(_)) {
      calls += 1
      if (calls < 3) throw Retry.RetryableIngestError("upload", new RuntimeException("boom"))
      42
    }
    assert(out == 42 && calls == 3)
    assert(sleeps.toSeq == Seq(100L, 200L))
    // non-retryable propagates immediately
    intercept[RuntimeException] {
      Retry.withRetry(maxAttempts = 5, sleep = _ => ())(
        throw new RuntimeException("fatal"))
    }
  }

  test("delete-back batch plan: min(batch, remaining) with pacing between") {
    val plan = DeleteBack.batchPlan(totalRows = 25, batchSize = 10, pacingSeconds = 3)
    assert(plan.map(_.limit) == Seq(10L, 10L, 5L))
    assert(plan.map(_.sleepSecondsAfter) == Seq(3, 3, 0))
    assert(DeleteBack.deleteSql("db", "t", "id < 5", Some(10)) ==
      "DELETE FROM db.t WHERE id < 5 LIMIT 10")
    // the mysql delete-back runs that plan statement by statement
    val stmts = collection.mutable.ArrayBuffer.empty[String]
    val sleeps = collection.mutable.ArrayBuffer.empty[Long]
    val deleted = DeleteBack.runBatches("DELETE FROM db.t WHERE id < 5", 25, 10, 3,
        sleeps.append(_)) { sql => stmts += sql; sql.split(" ").last.toLong }
    assert(deleted == 25L)
    assert(stmts.toSeq == Seq(10, 10, 5).map(n => s"DELETE FROM db.t WHERE id < 5 LIMIT $n"))
    assert(sleeps.toSeq == Seq(3000L, 3000L))
  }

  test("all staging formats round-trip µs timestamps and quoted text exactly") {
    // events: µs-precision timestamps (Spark's json/csv default
    // timestampFormat is millis — truncation here once broke the
    // time-incremental watermark) plus JSON-in-string props that stress
    // csv quoting
    val src = graft.ops.Tables.events(spark, sf)
    Seq("json", "csv", "parquet", "orc").foreach { fmt =>
      val tgt = tmpDir() + s"/t-$fmt"
      val loader = new StagedLoader(spark, tgt, src.schema, stagingFormat = fmt)
      assert(loader.ingest(src, tmpDir() + s"/stg-$fmt") == src.count(), fmt)
      val loaded = spark.read.parquet(tgt)
      assert(loaded.count() == src.count(), fmt)
      // full-fidelity round-trip: every row identical after the staging hop
      assert(loaded.exceptAll(src).isEmpty && src.exceptAll(loaded).isEmpty,
        s"$fmt staging altered rows")
    }
  }

  test("text staging survives embedded newlines and keeps empty-vs-NULL strings") {
    // free text (documents-style) is the hostile case for csv staging:
    // quoted embedded newlines corrupt a non-multiLine reader, and both ""
    // and NULL serialize to an empty field without an explicit sentinel
    import spark.implicits._
    val src = Seq(
      (1L, "line one\nline two\nline three"),
      (2L, ""),
      (3L, null: String),
      (4L, "quotes \" and, commas,\r\nand a CRLF"),
      (5L, "plain")
    ).toDF("id", "txt")
    Seq("json", "csv", "parquet", "orc").foreach { fmt =>
      val tgt = tmpDir() + s"/t-$fmt"
      val loader = new StagedLoader(spark, tgt, src.schema, stagingFormat = fmt)
      assert(loader.ingest(src, tmpDir() + s"/stg-$fmt") == src.count(), fmt)
      val loaded = spark.read.parquet(tgt)
      assert(loaded.count() == src.count(),
        s"$fmt staging split rows at embedded newlines")
      assert(loaded.exceptAll(src).isEmpty && src.exceptAll(loaded).isEmpty,
        s"$fmt staging altered text rows")
      assert(loaded.where("id = 2 AND txt = ''").count() == 1,
        s"$fmt staging turned empty string into something else")
      assert(loaded.where("id = 3 AND txt IS NULL").count() == 1,
        s"$fmt staging lost NULL")
    }
  }

  test("compaction recovery restores a swap stranded between renames") {
    import graft.sink.Compaction
    val tgt = tmpDir() + "/t"
    val src = spark.read.parquet(s"$sf/region.parquet")
    val loader = new StagedLoader(spark, tgt, src.schema)
    loader.ingest(src, tgt + ".stg"): Unit
    val rows = spark.read.parquet(tgt).count()

    // simulate the crash window: target renamed aside, rewrite stranded
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sessionState.newHadoopConf())
    val target = new org.apache.hadoop.fs.Path(tgt)
    assert(fs.rename(target, Compaction.oldPath(tgt)))
    fs.mkdirs(Compaction.tmpPath(tgt))

    // the incremental entry point must see the restored target, not an
    // empty one (watermark None would silently re-archive from scratch)
    assert(Compaction.recover(spark, tgt))
    assert(spark.read.parquet(tgt).count() == rows)
    assert(!fs.exists(Compaction.oldPath(tgt)) && !fs.exists(Compaction.tmpPath(tgt)))
    assert(!Compaction.recover(spark, tgt), "second recover must be a no-op")

    // crash AFTER the swap (stale .old left behind): obsolete copy deleted
    fs.mkdirs(Compaction.oldPath(tgt))
    assert(Compaction.recover(spark, tgt))
    assert(fs.exists(target) && !fs.exists(Compaction.oldPath(tgt)))
    assert(spark.read.parquet(tgt).count() == rows)
  }

  test("ingest into a mid-swap-crashed target restores the history first") {
    // the data-loss chain this closes: a rename-aside swap crashes between
    // its two renames (target absent, history stranded in .old) → an ingest
    // recreates the target with just the new batch → a later recover()
    // reads "target present + .old present" as post-swap cleanup and
    // deletes the only copy of the history. The loader must restore .old
    // BEFORE any commit can recreate the target.
    import graft.sink.Compaction
    val tgt = tmpDir() + "/t"
    val src = spark.read.parquet(s"$sf/region.parquet")
    val loader = new StagedLoader(spark, tgt, src.schema)
    loader.ingest(src, tmpDir() + "/stg1"): Unit
    val rows = spark.read.parquet(tgt).count()

    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(tgt), Compaction.oldPath(tgt)))

    // a second batch arrives while the swap is stranded
    loader.ingest(src, tmpDir() + "/stg2"): Unit
    assert(spark.read.parquet(tgt).count() == 2 * rows,
      "history stranded in .old must be restored before the new commit")
    assert(!fs.exists(Compaction.oldPath(tgt)))
    // and the later recover() has nothing left to destroy
    Compaction.recover(spark, tgt): Unit
    assert(spark.read.parquet(tgt).count() == 2 * rows)
  }

  test("replay honors commits made under the legacy 13-char ingest id") {
    val tgt = tmpDir() + "/t"; val stg = tmpDir() + "/stg"
    val src = spark.read.parquet(s"$sf/region.parquet")
    val loader = new StagedLoader(spark, tgt, src.schema, purge = false)
    loader.ingest(src, stg): Unit
    val rows = src.count()

    // rewrite the commit to the pre-upgrade naming (truncated id)
    val fullId = java.util.UUID.nameUUIDFromBytes(
      new org.apache.hadoop.fs.Path(stg).toString.getBytes("UTF-8")).toString
    val legacyId = fullId.take(13)
    val dir = new java.io.File(tgt)
    dir.listFiles().foreach { f =>
      if (f.getName == s"_ingest-$fullId.done")
        assert(f.renameTo(new java.io.File(dir, s"_ingest-$legacyId.done")))
      else if (f.getName.startsWith(s"ingest-$fullId-"))
        assert(f.renameTo(new java.io.File(dir,
          f.getName.replace(fullId, legacyId))))
    }

    // replay of the same staging dir: supersedes the legacy files, never
    // duplicates
    loader.ingest(src, stg): Unit
    assert(spark.read.parquet(tgt).count() == rows,
      "replay over a legacy-format commit must not duplicate the batch")

    // committed-then-compacted legacy state (tombstone only, no files):
    // replay is a no-op
    dir.listFiles().foreach { f =>
      if (f.getName.startsWith("ingest-")) assert(f.delete())
      if (f.getName.startsWith("_ingest-") && f.getName.endsWith(".done"))
        assert(f.renameTo(new java.io.File(dir, s"_ingest-$legacyId.done")))
    }
    assert(loader.ingest(src, stg) == 0L,
      "legacy tombstone with no surviving files means already committed")
    assert(!dir.listFiles().exists(_.getName.startsWith(s"ingest-")))
  }

  test("prefix cleanup never touches another batch sharing the 13-char prefix") {
    // the legacy id is a string prefix of every full UUID sharing its
    // first 13 chars — cleanup must match the embedded id EXACTLY, or a
    // replay of batch B deletes a colliding batch A's committed files
    val tgt = tmpDir() + "/t"; val stg = tmpDir() + "/stg"
    val src = spark.read.parquet(s"$sf/region.parquet")
    val loader = new StagedLoader(spark, tgt, src.schema, purge = false)
    loader.ingest(src, stg): Unit
    val fullId = java.util.UUID.nameUUIDFromBytes(
      new org.apache.hadoop.fs.Path(stg).toString.getBytes("UTF-8")).toString
    // plant a "colliding other batch": a full-format file whose id shares
    // the first 13 chars but is a different UUID
    val dir = new java.io.File(tgt)
    val donor = dir.listFiles().find(_.getName.startsWith(s"ingest-$fullId-")).get
    val otherId = fullId.take(13) + "x" + fullId.drop(14)
    val planted = new java.io.File(dir, s"ingest-$otherId-00000.parquet")
    java.nio.file.Files.copy(donor.toPath, planted.toPath)
    val before = spark.read.parquet(tgt).count()

    loader.ingest(src, stg): Unit // replay of THIS batch only
    assert(planted.exists(),
      "replay cleanup deleted a different batch's file sharing the 13-char prefix")
    assert(spark.read.parquet(tgt).count() == before,
      "replay must supersede its own files and leave the other batch intact")
  }

  test("staging compresses by default (COMPRESSION AUTO analogue) and round-trips") {
    val tgt = tmpDir() + "/t"; val stg = tgt + ".stg"
    val src = spark.read.parquet(s"$sf/region.parquet")
    val loader = new StagedLoader(spark, tgt, src.schema, purge = false)
    assert(loader.ingest(src, stg) == src.count())
    val staged = new java.io.File(stg).listFiles().filter(_.getName.startsWith("part-"))
    assert(staged.nonEmpty && staged.forall(_.getName.endsWith(".json.gz")),
      staged.map(_.getName).mkString(","))
    assert(spark.read.parquet(tgt).count() == src.count())
    // "none" reproduces the reference's plain NDJSON temp files
    val tgt2 = tmpDir() + "/t2"; val stg2 = tgt2 + ".stg"
    val plain = new StagedLoader(spark, tgt2, src.schema, purge = false,
      compression = "none")
    plain.ingest(src, stg2): Unit
    val staged2 = new java.io.File(stg2).listFiles().filter(_.getName.startsWith("part-"))
    assert(staged2.nonEmpty && staged2.forall(_.getName.endsWith(".json")))
  }

  test("one run body: src/main/scala builds RunReport once and Archiver only in wire") {
    // full and delta runs share Archiver's one run body; a second
    // RunReport construction or an Archiver built inside another is the
    // fork that once let a delta run drop the quarantine audit
    val file = "graft/Archiver.scala"
    val text = MainSources.text(file)
    val report = """(?<!class )RunReport\("""
    val bad = MainSources.offenders(report, Set(file))
    assert(bad.isEmpty, "RunReport built outside Archiver in: " + bad.mkString(", "))
    assert(report.r.findAllIn(text).size == 1, s"$file must build RunReport at one site")
    val ctor = """new\s+Archiver\("""
    val ctorBad = MainSources.offenders(ctor, Set(file))
    assert(ctorBad.isEmpty, "Archiver constructed outside its companion in: " +
      ctorBad.mkString(", "))
    val wire = text.indexOf("  def wire(")
    assert(wire >= 0 && ctor.r.findAllIn(text).size == 1 &&
      ctor.r.findAllIn(text.substring(wire)).size == 1,
      s"$file must construct Archiver only in the companion's wire")
    // the source/loader wiring is the factory's alone: the streaming
    // archive query is the one other loader, and it has no Archiver
    val loaderCtor = """new\s+(graft\.sink\.)?StagedLoader\("""
    val loaderBad = MainSources.offenders(loaderCtor,
      Set(file, "graft/ops/StreamingOps.scala"))
    assert(loaderBad.isEmpty, "StagedLoader wired by hand in: " + loaderBad.mkString(", "))
    assert(loaderCtor.r.findAllIn(text).size == 1 &&
      loaderCtor.r.findAllIn(text.substring(wire)).size == 1,
      s"$file must construct StagedLoader only in wire")
  }
}
