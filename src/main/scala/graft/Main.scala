package graft

import org.apache.spark.sql.SparkSession

import graft.config.ArchiverConfig
import graft.source.{FileTableSource, JdbcDialect, JdbcTableSource, ParquetTableSource, TableSource}

/** CLI entry point (cmd/main.go equivalent): load + validate config, build
  * the source the config names, run the archive pipeline into a parquet
  * target, print reconciliation and wall-clock.
  *
  * Usage: runMain graft.Main <conf.json> <sourceDir> <targetDir>
  *          [--incremental] [--landing json|csv]
  *
  * The source, like the reference's `databaseType` dispatch
  * (source/source.go:31-46):
  *  - `--landing json|csv`: <sourceDir> is a file landing zone (NDJSON/CSV
  *    drops); each table's contract schema is inferred once from its own
  *    drop, and lines that fail it are quarantined. A config that also
  *    sets `sourceHost` is refused: the two name different sources.
  *  - a non-empty `sourceHost`: a live JDBC source, the dialect from
  *    `databaseType`, connected with `sourceHost`/`sourcePort`/
  *    `sourceUser`/`sourcePass` to `sourceDB`. <sourceDir> is not read
  *    (pass `-`). On mysql/tidb `deleteAfterSync` deletes in `LIMIT
  *    batchSize` batches, `batchMaxInterval` seconds apart.
  *  - otherwise: <sourceDir> is a directory of `<table>.parquet` tables.
  *
  * `--incremental` runs the high-watermark delta sync instead of the full
  * archive: resume from the max split key already in the target, load
  * only newer rows, reconcile over the full predicate. The config's split
  * key picks the flavour: `sourceSplitKey` a key delta,
  * `sourceSplitTimeKey` a time delta. The scheduled-delta deployment mode.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val Array(confPath, sourceDir, targetDir) = args.take(3)
    var incremental = false
    var landing: Option[String] = None
    var rest = args.drop(3).toList
    while (rest.nonEmpty) rest match {
      case "--incremental" :: t    => incremental = true; rest = t
      case "--landing" :: fmt :: t => landing = Some(fmt); rest = t
      case other :: _ => sys.error(s"unknown flag: $other")
      case Nil        => ()
    }
    val cfg = ArchiverConfig.fromJson(
        java.nio.file.Files.readString(java.nio.file.Paths.get(confPath)))
      .fold(e => sys.error(s"config: $e"), identity)

    // SPARK_MASTER: the deployment's cluster master; unset, local[n]
    val spark = sys.env.get("SPARK_MASTER")
      .fold(GraftSession.local())(GraftSession.session(_))

    // SIGTERM/SIGQUIT parity with the reference (cmd/main.go:29-35:
    // signal → context cancel). The JVM runs shutdown hooks on both
    // signals; the hook cancels every running Spark job and sweeps the
    // transient staging root. The staged-load commit protocol makes the
    // interruption safe — the next run's chokepoints replay recovery and
    // the staging dir is rewritten with Overwrite — and the process exits
    // with the kill's own 128+signal code (non-zero), matching the
    // reference's cancelled-context exit.
    val hook = new Thread(() => cancelAndSweep(spark, staging(targetDir)),
      "graft-signal-cancel")
    Runtime.getRuntime.addShutdownHook(hook)
    val correct =
      try run(spark, cfg, sourceDir, targetDir, t0, incremental, landing)
      finally {
        try Runtime.getRuntime.removeShutdownHook(hook)
        catch { case _: IllegalStateException => () } // already shutting down
        spark.stop()
      }
    if (!correct) sys.exit(2)
  }

  /** Job-group tag every archive action runs under, so the signal hook
    * cancels exactly the archive's jobs — the per-group analogue of the
    * reference's per-process context (in the CLI deployment the process
    * owns the session, so group-cancel ≡ cancel-all; in a shared session
    * it cancels only us). interruptOnCancel interrupts task threads
    * blocked on JDBC I/O. */
  private[graft] val JobGroup = "graft-archiver"

  /** The signal hook's body, factored out so MainSpec can fire it against
    * an in-flight run: cancel the archive's Spark jobs (the
    * context-cancel analogue) and remove the staging root so no
    * half-staged batch outlives the process. Committed target files are
    * NOT touched — the idempotent copyInto tombstone protocol owns that
    * state, and a replayed batch against it is a no-op. */
  private[graft] def cancelAndSweep(spark: SparkSession,
      stagingRoot: String): Unit = {
    // Runs in a JVM shutdown hook CONCURRENTLY with Spark's own shutdown
    // hook: any SparkContext/sessionState call may see an already-stopped
    // context and throw IllegalStateException, which would abort this
    // hook before the staging sweep. The cancel is best-effort (a stopped
    // context has no jobs left to cancel) and the sweep must not depend
    // on the session — fall back to a bare Hadoop conf.
    try if (!spark.sparkContext.isStopped)
      spark.sparkContext.cancelJobGroup(JobGroup)
    catch { case _: IllegalStateException => () }
    val conf =
      try spark.sessionState.newHadoopConf()
      catch { case _: IllegalStateException =>
        new org.apache.hadoop.conf.Configuration() }
    val p = new org.apache.hadoop.fs.Path(stagingRoot)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) fs.delete(p, true): Unit
  }

  /** The CLI body minus session/process lifecycle (testable directly):
    * returns whether reconciliation passed. */
  def run(spark: SparkSession, cfg: ArchiverConfig,
      sourceDir: String, targetDir: String,
      t0: Long = System.nanoTime(), incremental: Boolean = false,
      landing: Option[String] = None): Boolean = try {
    spark.sparkContext.setJobGroup(JobGroup, "graft archive run",
      interruptOnCancel = true)
    runBody(spark, cfg, sourceDir, targetDir, t0, incremental, landing)
  } finally spark.sparkContext.clearJobGroup()

  private def runBody(spark: SparkSession, cfg: ArchiverConfig,
      sourceDir: String, targetDir: String,
      t0: Long, incremental: Boolean,
      landing: Option[String]): Boolean = {
    val archiver = Archiver.wire(spark, cfg, source(spark, cfg, sourceDir, landing),
      targetDir, staging(targetDir))
    val report = if (incremental) archiver.runIncremental() else archiver.run()
    report.tables.foreach(t =>
      println(s"[archive] ${t.db}.${t.table}: ${t.rowsLoaded} rows"))
    val rc = report.reconciliation
    println(s"[reconcile] source=${rc.sourceRows} target=${rc.targetRows} " +
      s"correct=${rc.correct} deletedBack=${report.deletedBack}")
    if (report.quarantined > 0)
      println(s"[quarantine] ${report.quarantined} corrupt landing rows excluded")
    val m = report.metrics
    println(f"[metrics] read=${m.rowsRead} rows (${m.readRowsPerSec}%.0f rows/s, " +
      f"${m.readRowsPerSec10s}%.0f rows/s over the last 10s) " +
      s"written=${m.bytesWritten} bytes")
    println(f"[done] total ${(System.nanoTime() - t0) / 1e9}%.1f s")
    rc.correct
  }

  /** The source rule of the usage text above. */
  private def source(spark: SparkSession, cfg: ArchiverConfig,
      sourceDir: String, landing: Option[String]): TableSource = landing match {
    case Some(fmt) =>
      require(cfg.sourceHost.isEmpty,
        s"--landing names a file landing zone and sourceHost " +
          s"'${cfg.sourceHost}' a JDBC source: give one of them")
      new FileTableSource(spark, sourceDir, fmt)
    case None if cfg.sourceHost.nonEmpty =>
      new JdbcTableSource(spark, JdbcDialect.forType(cfg.databaseType),
        cfg.sourceHost, cfg.sourcePort, cfg.sourceUser, cfg.sourcePass, cfg.sourceDB,
        deleteBatch = cfg.batchSize, deletePacingSeconds = cfg.batchMaxInterval)
    case None => new ParquetTableSource(spark, sourceDir)
  }

  private def staging(targetDir: String): String = s"$targetDir.staging"
}
