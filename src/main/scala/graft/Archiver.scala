package graft

import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession

import graft.config.ArchiverConfig
import graft.metrics.MetricsRecorder
import graft.plan.{ArchivePlanner, EmptyTablePlan, KeySplitPlan, TimeSplitPlan}
import graft.sink.{Retry, StagedLoader}
import graft.source.TableSource

/** The worker/driver orchestration (SURVEY.md §3): idempotency gate →
  * discovery → per-table plan/scan/stage/load → reconciliation → optional
  * delete-back → quarantine audit, one run body behind both the full
  * archive ([[run]]) and the delta sync ([[runIncremental]]).
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

  import Archiver.{Delta, Reconciliation, RunReport, TableReport}

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

  /** The full archive: the idempotency gate refuses a target that already
    * holds rows under the predicate, and a reconciled run may delete back. */
  def run(): RunReport = runBody(None)

  /** High-watermark incremental sync (flagged upgrade — the reference is
    * one-shot with an empty-target gate). Resumes from the watermark
    * already in the target and archives only rows beyond it; rows at or
    * below it are assumed immutable (the same assumption the reference's
    * time path documents). The config's split key picks the watermark:
    * `sourceSplitKey` reads max(key); `sourceSplitTimeKey` reads the max
    * time at full µs precision (a truncated watermark would duplicate the
    * last instant's sub-second tail). Reconciliation still compares the
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
    *    [[Archiver.wire]] wires up) so a crash mid-commit strands a
    *    key-PREFIX and the next run's watermark resumes exactly after it. */
  def runIncremental(): RunReport = {
    val k = Archiver.splitKey(cfg).getOrElse(
      throw new IllegalArgumentException("incremental sync requires a split key"))
    require(loader.orderedCommitKey.contains(k),
      "incremental sync requires the loader to commit in watermark-key order " +
        s"(StagedLoader(orderedCommitKey = Some($k))) — otherwise a crash " +
        "mid-commit strands rows below the watermark")
    require(!cfg.deleteAfterSync,
      "deleteAfterSync is not supported by incremental sync " +
        "(delta runs would repeatedly delete the full predicate range)")
    // the watermark reads restore an interrupted rename-aside swap first
    // (StagedLoader.ensureRecovered owns that invariant)
    val wm =
      if (k == cfg.sourceSplitKey) loader.maxKey(k).map(w => (s"$k > $w", s"delta-gt-$w"))
      else loader.maxTime(k).map { w =>
        (s"$k > ${src.timestampLiteral(w)}", "delta-ts-" + w.replaceAll("[^0-9]", ""))
      }
    runBody(Some(wm.fold(Delta(cfg.sourceWhereCondition, "delta-initial")) {
      case (pred, tag) => Delta(s"(${cfg.sourceWhereCondition}) AND $pred", tag)
    }))
  }

  /** The one run: gate (full runs) → discovery → per-table
    * plan/scan/ingest under the delta-narrowed predicate → reconciliation
    * over the full predicate → delete-back (full runs; a delta run
    * requires it off) → quarantine audit. */
  private def runBody(delta: Option[Delta]): RunReport = {
    val rec = MetricsRecorder.attach(spark)
    try {
      val where = cfg.sourceWhereCondition
      if (delta.isEmpty) {
        // idempotency gate (cmd/main.go:74-82)
        val pre = loader.targetCount(where)
        require(pre == 0,
          s"target already has $pre rows matching the predicate; refusing to run")
      }

      val tables = discoverTables()
      require(tables.nonEmpty, "no tables resolved from config")
      require(delta.isEmpty || tables.sizeIs == 1,
        "incremental sync supports a single table per target " +
          "(the watermark is a global max over the shared target)")

      val scanCfg = delta.fold(cfg)(d => cfg.copy(sourceWhereCondition = d.where))
      val staging = delta.fold(stagingRoot)(d => s"$stagingRoot/${d.tag}")
      val reports = tables.map { case (db, t) => archiveTable(scanCfg, staging, db, t) }

      val sourceTotal = tables.map { case (db, t) => src.count(db, t, where) }.sum
      val rc = Reconciliation(sourceTotal, loader.targetCount(where))

      val deleted =
        if (rc.correct && cfg.deleteAfterSync)
          tables.map { case (db, t) => deleteBackFn(db, t, where) }.sum
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

  /** Plan, scan and ingest one table under `scanCfg`'s predicate, staging
    * below `staging`. */
  private def archiveTable(scanCfg: ArchiverConfig, staging: String,
      db: String, table: String): TableReport = {
    val where = scanCfg.sourceWhereCondition
    val loaded = ArchivePlanner.plan(src, scanCfg, db, table) match {
      case EmptyTablePlan => 0L
      case KeySplitPlan(preds, _, _, _) =>
        val batch = src.scan(db, table, preds, where)
        Retry.withRetry(maxAttempts = 5, initialDelayMs = 100, sleep = pacingSleep) {
          loader.ingest(batch, s"$staging/$db.$table")
        }
      case TimeSplitPlan(windows) =>
        // sequential by design (worker/worker.go:140-143)
        windows.zipWithIndex.map { case (w, i) =>
          val batch = src.scan(db, table, Seq(w), where)
          val n = Retry.withRetry(maxAttempts = 5, initialDelayMs = 100, sleep = pacingSleep) {
            loader.ingest(batch, s"$staging/$db.$table.w$i")
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

  /** Source/target reconciliation (worker/worker.go:230-242; cmd/main.go:
    * 102-110): count equality under the same predicate decides success.
    * The row-level check is ArchiveOps' `a7_reconcile_rowlevel`. */
  final case class Reconciliation(sourceRows: Long, targetRows: Long) {
    def correct: Boolean = sourceRows == targetRows
  }

  final case class RunReport(tables: Seq[TableReport],
      reconciliation: Reconciliation,
      deletedBack: Long, metrics: MetricsRecorder.Snapshot,
      /** landing-zone corrupt-record audit: rows excluded from the scan by
        * the source's parse policy (0 for structured sources) */
      quarantined: Long)

  /** A delta run's narrowing: the predicate its plan and scans use (the
    * config's, AND the watermark's when the target is not empty) and the
    * staging sub-root tag its ingest ids hash. */
  private final case class Delta(where: String, tag: String)

  /** The config's split key, key or time (preCheck lets exactly one be
    * set): the delta watermark's column and the ordered-commit key. */
  private def splitKey(cfg: ArchiverConfig): Option[String] =
    Seq(cfg.sourceSplitKey, cfg.sourceSplitTimeKey).find(_.nonEmpty)

  /** The one wiring of a source into an archive run: the loader's sink
    * schema is the config table's own ([[TableSource.schema]]), it commits
    * in split-key order, and delete-back is the source's
    * ([[TableSource.deleteWhere]]). With `sourceDbTables` alone there is
    * no table to take the schema from, so `sourceTable` is required. */
  def wire(spark: SparkSession, cfg: ArchiverConfig, src: TableSource,
      targetDir: String, stagingRoot: String,
      pacingSleep: Long => Unit = Thread.sleep): Archiver = {
    require(cfg.sourceTable.nonEmpty,
      "sourceTable must name the table whose schema the target takes")
    val loader = new StagedLoader(spark, targetDir,
      src.schema(cfg.sourceDB, cfg.sourceTable),
      compression = cfg.stagingCompression,
      orderedCommitKey = splitKey(cfg),
      stagingFormat = cfg.stagingFormat)
    new Archiver(spark, cfg, src, loader, stagingRoot, pacingSleep,
      deleteBackFn = src.deleteWhere)
  }
}
