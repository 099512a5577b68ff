package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.sink.{Compaction, Retry, StagedLoader}

/** Crash-window walk of the staged-load commit protocol (the reference's
  * classified-retry + COPY-INTO dedup-by-file contract,
  * ingester/ingest_databend.go:182-241): a failure is injected into every
  * hop — stage write, the stage→commit gap, mid-commit between part
  * renames, the tombstone-invalidate window, the post-commit purge, and a
  * concurrent rename-aside swap crash — and after each resume the target
  * must hold EXACTLY one copy of every batch: no duplicates, no loss,
  * exact counts.
  *
  * Injection is by constructing the crashed on-disk state directly (the
  * states a process death leaves behind), not by monkey-patching the
  * loader — each state is precisely the set of files the protocol's
  * scaladoc says the window strands.
  */
class FaultInjectionSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-fault").toString

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sessionState.newHadoopConf())

  /** Mirror of StagedLoader's deterministic ingest identity (private
    * there): full name-UUID of the staging dir's normalized path. */
  private def ingestId(stagingDir: String): String =
    java.util.UUID.nameUUIDFromBytes(
      new Path(stagingDir).toString.getBytes("UTF-8")).toString

  test("crash between stage write and commit: resume commits exactly once") {
    val tgt = tmpDir() + "/t"; val stg = tmpDir() + "/stg"
    val src = spark.read.parquet(s"$sf/region.parquet")
    val n = src.count()
    val loader = new StagedLoader(spark, tgt, src.schema)
    // crashed state: the stage write completed durably (NDJSON on disk),
    // the process died before copyInto ran — target does not exist yet
    src.write.mode("overwrite").option("compression", "gzip")
      .option("timestampFormat", StagedLoader.MicrosTimestampFormat)
      .json(stg)
    assert(!fs.exists(new Path(tgt)))
    // resume = re-run the same ingest (same batch, same staging dir)
    assert(loader.ingest(src, stg) == n)
    assert(spark.read.parquet(tgt).count() == n, "resume lost or duplicated rows")
  }

  test("crash during the stage write (partial staging) : retry overwrites, exact count") {
    val tgt = tmpDir() + "/t"; val stg = tmpDir() + "/stg"
    val src = spark.read.parquet(s"$sf/region.parquet")
    val n = src.count()
    val loader = new StagedLoader(spark, tgt, src.schema)
    // crashed state: a torn stage write — a half-written part plus the
    // writer's _temporary scratch dir
    fs.mkdirs(new Path(stg, "_temporary"))
    val torn = fs.create(new Path(stg, "part-00000-dead.json.gz"), true)
    torn.write("{\"r_regionkey\":999".getBytes("UTF-8")); torn.close()
    // retry: the stage write is SaveMode.Overwrite — the torn attempt is
    // replaced wholesale, never merged
    assert(loader.ingest(src, stg) == n)
    assert(spark.read.parquet(tgt).count() == n)
    assert(spark.read.parquet(tgt).where("r_regionkey = 999").count() == 0,
      "torn staging part leaked into the target")
  }

  test("crash mid-commit between part renames: retry supersedes the partial prefix") {
    val tgt = tmpDir() + "/t"; val stg = tmpDir() + "/stg"
    val src = spark.read.parquet(s"$sf/region.parquet")
    val n = src.count()
    val loader = new StagedLoader(spark, tgt, src.schema)
    // build a REAL part file to strand: commit the batch into a throwaway
    // target and steal one of its committed parts
    val scratch = tmpDir() + "/scratch"
    new StagedLoader(spark, scratch, src.schema).ingest(src, tmpDir() + "/s2")
    val donor = fs.listStatus(new Path(scratch)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    // crashed state: some ingest-<id>-NNNNN parts renamed in, tombstone
    // never written (the crash window between the rename loop and the
    // tombstone create)
    val id = ingestId(stg)
    fs.mkdirs(new Path(tgt))
    assert(fs.rename(donor, new Path(tgt, f"ingest-$id-00000.parquet")))
    assert(spark.read.parquet(tgt).count() == n, "precondition: partial visible")
    // resume: no tombstone → the replay must DELETE the stranded prefix
    // and redo the whole commit — exactly one copy, never partial+new
    assert(loader.ingest(src, stg) == n)
    assert(spark.read.parquet(tgt).count() == n,
      "stranded partial prefix not superseded")
  }

  test("crash in the tombstone-invalidate window (no tombstone, no files): replay redoes") {
    val tgt = tmpDir() + "/t"; val stg = tmpDir() + "/stg"
    val src = spark.read.parquet(s"$sf/region.parquet")
    val n = src.count()
    val loader = new StagedLoader(spark, tgt, src.schema)
    assert(loader.ingest(src, stg) == n)
    // crashed state: a replay began — tombstone deleted, prefix files
    // deleted — and the process died before the re-commit
    val id = ingestId(stg)
    fs.delete(new Path(tgt, s"_ingest-$id.done"), false)
    fs.listStatus(new Path(tgt)).map(_.getPath)
      .filter(_.getName.startsWith(s"ingest-$id-"))
      .foreach(p => fs.delete(p, true))
    assert(spark.read.schema(src.schema).parquet(tgt).count() == 0,
      "precondition: batch gone")
    // resume: the state must be REDONE (the invalidate-before-delete order
    // exists precisely so this window replays instead of skipping)
    assert(loader.ingest(src, stg) == n)
    assert(spark.read.parquet(tgt).count() == n,
      "invalidate-window crash lost the batch")
  }

  test("crash after commit before staging purge: replay is count-stable (delete hop)") {
    val tgt = tmpDir() + "/t"; val stg = tmpDir() + "/stg"
    val src = spark.read.parquet(s"$sf/region.parquet")
    val n = src.count()
    val loader = new StagedLoader(spark, tgt, src.schema)
    assert(loader.ingest(src, stg) == n)
    // crashed state: tombstone + data committed, the purge never ran —
    // re-create the staging dir as the crash left it
    src.write.mode("overwrite").option("compression", "gzip")
      .option("timestampFormat", StagedLoader.MicrosTimestampFormat)
      .json(stg)
    // resume re-runs the ingest: the commit supersedes itself (tombstone
    // present but prefix files too → cleanup + redo), count unchanged
    assert(loader.ingest(src, stg) == n)
    assert(spark.read.parquet(tgt).count() == n,
      "unpurged staging replay duplicated the batch")
    assert(!fs.exists(new Path(stg)), "resume must complete the purge")
  }

  test("delete-back swap crash windows: history restored, delete redone, exact counts") {
    import graft.dml.DeleteBack
    val dir = tmpDir(); val table = s"$dir/t.parquet"
    val src = spark.read.parquet(s"$sf/region.parquet")
    val n = src.count()
    src.write.parquet(table)
    // crashed state A: swap died between its two renames — table absent,
    // the only copy stranded in .old, the completed rewrite in .rewrite
    assert(fs.rename(new Path(table), new Path(table + ".old")))
    fs.mkdirs(new Path(table + ".rewrite"))
    // resume = re-run the delete: recovery restores the PRE-delete data
    // first, then the (idempotent) delete redoes the rewrite
    val d = DeleteBack.deleteFromParquet(spark, table, "r_regionkey <= 1")
    assert(d == 2, s"redone delete must remove exactly the 2 matching rows, got $d")
    assert(spark.read.parquet(table).count() == n - 2)
    assert(!fs.exists(new Path(table + ".old")) &&
           !fs.exists(new Path(table + ".rewrite")))
    // crashed state B: crash after the swap, before cleanup (stale .old) —
    // the next delete's recovery must drop the obsolete copy and leave the
    // live table untouched (a predicate matching no row isolates that)
    fs.mkdirs(new Path(table + ".old"))
    val before = spark.read.parquet(table).collect().toSet
    assert(DeleteBack.deleteFromParquet(spark, table, "r_regionkey < 0") == 0)
    assert(spark.read.parquet(table).count() == n - 2)
    assert(spark.read.parquet(table).collect().toSet == before)
    assert(!fs.exists(new Path(table + ".old")) &&
           !fs.exists(new Path(table + ".rewrite")))
  }

  test("retry loop drives a mid-swap-crashed target through recovery to exact counts") {
    val tgt = tmpDir() + "/t"
    val src = spark.read.parquet(s"$sf/region.parquet")
    val n = src.count()
    val loader = new StagedLoader(spark, tgt, src.schema)
    assert(loader.ingest(src, tmpDir() + "/s1") == n)
    // crashed state: a rename-aside swap died between its two renames — the
    // history sits in .old, the target is absent — while a NEW batch's
    // ingest is about to retry
    assert(fs.rename(new Path(tgt), Compaction.oldPath(tgt)))
    fs.mkdirs(Compaction.tmpPath(tgt))
    // the retried ingest must restore the history BEFORE committing (a
    // commit into a fresh target would let a later recover() delete the
    // only copy of the history as an "obsolete .old")
    val batch2 = src.withColumn("r_regionkey",
      org.apache.spark.sql.functions.col("r_regionkey") + 100)
    val m = Retry.withRetry(maxAttempts = 3, initialDelayMs = 1, sleep = _ => ()) {
      loader.ingest(batch2, tmpDir() + "/s2")
    }
    assert(m == n)
    val all = spark.read.parquet(tgt)
    assert(all.count() == 2 * n, "history or new batch lost through recovery")
    assert(all.where("r_regionkey >= 100").count() == n)
    assert(all.where("r_regionkey < 100").count() == n)
    assert(!fs.exists(Compaction.oldPath(tgt)) &&
           !fs.exists(Compaction.tmpPath(tgt)))
  }
}
