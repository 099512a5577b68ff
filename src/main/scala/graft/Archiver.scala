package graft

import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession

import graft.config.ArchiverConfig
import graft.dml.DeleteBack
import graft.metrics.MetricsRecorder
import graft.plan.{ArchivePlanner, EmptyTablePlan, KeySplitPlan, TimeSplitPlan}
import graft.sink.{Retry, StagedLoader}
import graft.source.TableSource
import graft.verify.Reconciler

/** The worker/driver orchestration (SURVEY.md §3): discovery → idempotency
  * gate → per-table plan/scan/stage/load → reconciliation → optional
  * delete-back.
  *
  * Execution shape vs the reference (worker/worker.go):
  *  - key-split: the whole predicate array goes into ONE partitioned scan —
  *    Spark's scheduler replaces the goroutine fan-out and bounds
  *    parallelism by executor cores (flagged upgrade, SURVEY §7.5). The
  *    ingest is a single distributed stage→load, retried as a unit.
  *  - time-split: sequential loop over window predicates, one staged load
  *    per window with `batchMaxInterval` pacing — the reference's
  *    single-threaded-by-design path, preserved.
  */
final class Archiver(spark: SparkSession, cfg: ArchiverConfig,
    src: TableSource, loader: StagedLoader,
    stagingRoot: String, pacingSleep: Long => Unit = Thread.sleep,
    deleteBackFn: (String, String, String) => Long = (_, _, _) => 0L) {

  import Archiver.{RunReport, TableReport}

  /** Resolve the (db, table) work list: explicit config pair plus
    * `db@table` regex expansion (cmd/main.go:54-71). */
  def discoverTables(): Seq[(String, String)] = {
    val explicit =
      if (cfg.sourceDB.nonEmpty && cfg.sourceTable.nonEmpty)
        Seq(cfg.sourceDB -> cfg.sourceTable)
      else Seq.empty
    val expanded = src.expandDbTables(cfg.sourceDbTables)
      .toSeq.flatMap { case (db, ts) => ts.map(db -> _) }
    (explicit ++ expanded).distinct
  }

  def run(): RunReport = {
    val rec = MetricsRecorder.attach(spark)
    try {
      // idempotency gate (cmd/main.go:74-82)
      val pre = loader.syncedCount(cfg.sourceWhereCondition)
      require(pre == 0,
        s"target already has $pre rows matching the predicate; refusing to run")

      val tables = discoverTables()
      require(tables.nonEmpty, "no tables resolved from config")

      val reports = tables.map { case (db, t) => archiveTable(db, t) }

      val sourceTotal = tables.map { case (db, t) =>
        src.count(db, t, cfg.sourceWhereCondition)
      }.sum
      val targetTotal = loader.targetCount(cfg.sourceWhereCondition)
      val rc = Reconciler.Result(sourceTotal, targetTotal)

      val deleted =
        if (rc.correct && cfg.deleteAfterSync)
          tables.map { case (db, t) =>
            deleteBackFn(db, t, cfg.sourceWhereCondition)
          }.sum
        else 0L

      // corrupt-record audit: rows the source's parse policy excluded from
      // the scan (landing-zone quarantine) — reconciliation balances
      // without them, so they MUST be reported or the truncation is silent
      val quarantined = tables.map { case (db, t) => src.quarantined(db, t) }.sum

      // task-end events arrive asynchronously: without the drain the
      // snapshot can miss the count and delete-back jobs just run
      BusDrain.drain(spark.sparkContext)
      RunReport(reports, rc, deleted, rec.snapshot, quarantined)
    } finally MetricsRecorder.detach(spark, rec)
  }

  /** High-watermark incremental sync (flagged upgrade — the reference is
    * one-shot with an empty-target gate). Resumes from max(splitKey)
    * already in the target and archives only rows beyond it; rows at or
    * below the watermark are assumed immutable (the same assumption the
    * reference's time path documents). Reconciliation still compares the
    * FULL predicate on both sides, so a mutated history fails loudly.
    * Staging dirs carry the watermark so a delta run's idempotent commit
    * never supersedes an earlier run's committed files.
    *
    * Soundness preconditions, enforced or documented:
    *  - SINGLE table only (enforced): the watermark is a global max over
    *    the shared target, and with several tables interleaved in it
    *    "max key archived" would not mean "all rows ≤ max archived".
    *  - crash-consistency: the loader must commit batches in ascending
    *    key order (`orderedCommitKey` = the split key, which
    *    [[Archiver.parquet]] wires up) so a crash mid-commit strands a
    *    key-PREFIX and the next run's watermark resumes exactly after it. */
  def runIncremental(): RunReport = {
    val key = cfg.sourceSplitKey
    require(key.nonEmpty, "incremental sync requires sourceSplitKey")
    // maxKey restores an interrupted rename-aside swap before reading the
    // watermark (StagedLoader.ensureRecovered owns that invariant)
    runDelta(key, loader.maxKey(key).map(w => (s"$key > $w", s"delta-gt-$w")))
  }

  /** Time-flavored incremental sync — the delta counterpart of the
    * reference's time-split mode. The watermark is the target's max time
    * key at full µs precision (a truncated watermark would duplicate the
    * last instant's sub-second tail); soundness preconditions are the
    * same as [[runIncremental]] with the time key as the ordered-commit
    * key. */
  def runIncrementalTime(): RunReport = {
    val key = cfg.sourceSplitTimeKey
    require(key.nonEmpty, "time-incremental sync requires sourceSplitTimeKey")
    runDelta(key, loader.maxTime(key).map { w =>
      (s"$key > ${src.timestampLiteral(w)}", "delta-ts-" + w.replaceAll("[^0-9]", ""))
    })
  }

  private def runDelta(orderKey: String,
      wm: Option[(String, String)]): RunReport = {
    val rec = MetricsRecorder.attach(spark)
    try {
      require(discoverTables().sizeIs == 1,
        "incremental sync supports a single table per target " +
          "(the watermark is a global max over the shared target)")
      require(loader.orderedCommitKey.contains(orderKey),
        "incremental sync requires the loader to commit in watermark-key order " +
          s"(StagedLoader(orderedCommitKey = Some($orderKey))) — otherwise a crash " +
          "mid-commit strands rows below the watermark")
      require(!cfg.deleteAfterSync,
        "deleteAfterSync is not supported by incremental sync " +
          "(delta runs would repeatedly delete the full predicate range)")
      val (deltaWhere, runTag) = wm match {
        case Some((pred, tag)) => (s"(${cfg.sourceWhereCondition}) AND $pred", tag)
        case None              => (cfg.sourceWhereCondition, "delta-initial")
      }
      val inner = new Archiver(spark, cfg.copy(sourceWhereCondition = deltaWhere),
        src, loader, s"$stagingRoot/$runTag", pacingSleep, deleteBackFn)
      val tables = inner.discoverTables()
      require(tables.nonEmpty, "no tables resolved from config")
      val reports = tables.map { case (db, t) => inner.archiveTable(db, t) }
      val sourceTotal = tables.map { case (db, t) =>
        src.count(db, t, cfg.sourceWhereCondition)
      }.sum
      val rc = Reconciler.Result(sourceTotal,
        loader.targetCount(cfg.sourceWhereCondition))
      BusDrain.drain(spark.sparkContext)
      RunReport(reports, rc, 0L, rec.snapshot)
    } finally MetricsRecorder.detach(spark, rec)
  }

  private def archiveTable(db: String, table: String): TableReport = {
    val plan = ArchivePlanner.plan(src, cfg, db, table)
    val loaded = plan match {
      case EmptyTablePlan => 0L
      case KeySplitPlan(preds, _, _, _) =>
        val batch = src.scan(db, table, preds, cfg.sourceWhereCondition)
        Retry.withRetry(maxAttempts = 5, initialDelayMs = 100, sleep = pacingSleep) {
          loader.ingest(batch, s"$stagingRoot/$db.$table")
        }
      case TimeSplitPlan(windows) =>
        // sequential by design (worker/worker.go:140-143)
        windows.zipWithIndex.map { case (w, i) =>
          val batch = src.scan(db, table, Seq(w), cfg.sourceWhereCondition)
          val n = Retry.withRetry(maxAttempts = 5, initialDelayMs = 100, sleep = pacingSleep) {
            loader.ingest(batch, s"$stagingRoot/$db.$table.w$i")
          }
          if (cfg.batchMaxInterval > 0 && i < windows.size - 1)
            pacingSleep(cfg.batchMaxInterval * 1000L)
          n
        }.sum
    }
    TableReport(db, table, loaded)
  }
}

object Archiver {
  final case class TableReport(db: String, table: String, rowsLoaded: Long)
  final case class RunReport(tables: Seq[TableReport],
      reconciliation: Reconciler.Result,
      deletedBack: Long, metrics: MetricsRecorder.Snapshot,
      /** landing-zone corrupt-record audit: rows excluded from the scan by
        * the source's parse policy (0 for structured sources) */
      quarantined: Long = 0L)

  /** Sandbox wiring: parquet fixtures as the source, a parquet dir as the
    * warehouse target. Delete-back rewrites the source table (K5/K6) —
    * note it mutates `sourceDir`, so tests copy fixtures first. */
  def parquet(spark: SparkSession, cfg: ArchiverConfig,
      sourceDir: String, targetDir: String, stagingRoot: String,
      sinkSchema: org.apache.spark.sql.types.StructType,
      pacingSleep: Long => Unit = Thread.sleep): Archiver = {
    val src = new graft.source.ParquetTableSource(spark, sourceDir)
    wire(spark, cfg, src, targetDir, stagingRoot, sinkSchema, pacingSleep,
      deleteBackFn = (db, table, where) =>
        DeleteBack.deleteFromParquet(spark, s"$sourceDir/$table.parquet", where))
  }

  /** File-landing-zone deployment: NDJSON/CSV drops under `sourceDir`
    * swept into the warehouse. Landing files are immutable producer
    * output — delete-back is not part of this topology (the producer
    * retires its own drops), so the delete hook is a loud no-op. */
  def landing(spark: SparkSession, cfg: ArchiverConfig,
      sourceDir: String, targetDir: String, stagingRoot: String,
      sinkSchema: org.apache.spark.sql.types.StructType,
      format: String = "json",
      pacingSleep: Long => Unit = Thread.sleep): Archiver = {
    val src = new graft.source.FileTableSource(spark, sourceDir, format,
      schemas = Map(cfg.sourceTable -> sinkSchema).filter(_._1.nonEmpty))
    wire(spark, cfg, src, targetDir, stagingRoot, sinkSchema, pacingSleep,
      deleteBackFn = (db, table, _) => sys.error(
        s"delete-back is not supported on a file landing zone ($db.$table)"))
  }

  private def wire(spark: SparkSession, cfg: ArchiverConfig,
      src: graft.source.TableSource, targetDir: String, stagingRoot: String,
      sinkSchema: org.apache.spark.sql.types.StructType,
      pacingSleep: Long => Unit,
      deleteBackFn: (String, String, String) => Long): Archiver = {
    val loader = new StagedLoader(spark, targetDir, sinkSchema,
      compression = cfg.stagingCompression,
      orderedCommitKey = Option(cfg.sourceSplitKey).filter(_.nonEmpty)
        .orElse(Option(cfg.sourceSplitTimeKey).filter(_.nonEmpty)),
      stagingFormat = cfg.stagingFormat)
    new Archiver(spark, cfg, src, loader, stagingRoot, pacingSleep,
      deleteBackFn = deleteBackFn)
  }
}
