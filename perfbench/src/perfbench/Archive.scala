package perfbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

import graft.Archiver
import graft.config.ArchiverConfig
import graft.dml.DeleteBack
import graft.sink.StagedLoader
import graft.source.{DerbyDialect, JdbcTableSource, ParquetTableSource, TableSource}

/** One real `Archiver.run` per iteration into a fresh target directory,
  * with every correctness check made after the timed run. Traced iterations
  * hook the run through its public constructor parameters only: a
  * [[TimedSource]], a timed `deleteBackFn` and a timed `pacingSleep`. */
abstract class ArchiveWorkload(spark: SparkSession, work: String) extends Workload {
  protected def cfg: ArchiverConfig
  protected def sinkSchema: StructType
  /** Source rows under the predicate, computed from the fixture itself. */
  protected def expected: Fingerprint
  protected def source(): TableSource
  protected def deleteBack(db: String, table: String, where: String): Long
  /** Restore the source rows a delete-back removed (untimed). */
  protected def restore(): Unit
  /** Checks on the source after the run. */
  protected def sourceChecks(): Seq[String]

  private var restoreNeeded = false

  /** Iteration times fall by a quarter over the first runs as the JIT
    * compiles the scan, codec and commit paths. */
  override def warmups: Int = 3

  /** The loader `Archiver.parquet` would wire for this config. */
  private def loader(target: String): StagedLoader =
    new StagedLoader(spark, target, sinkSchema,
      compression = cfg.stagingCompression,
      orderedCommitKey = Seq(cfg.sourceSplitKey, cfg.sourceSplitTimeKey).find(_.nonEmpty),
      stagingFormat = cfg.stagingFormat)

  def iterate(i: Int, probe: Option[EngineProbe]): Iter = {
    val dir = new File(s"$work/iteration")
    Dirs.delete(dir)
    if (restoreNeeded) { restore(); restoreNeeded = false }
    val target = s"$dir/target"
    val clock = probe.map(_ => new PhaseClock)
    val src = clock.fold(source())(c => new TimedSource(source(), c))
    val pace: Long => Unit = clock match {
      case Some(c) => _ => c.around(PhaseClock.Pace, c.current)(())
      case None => _ => ()
    }
    val delete: (String, String, String) => Long = clock match {
      case Some(c) => (d, t, w) => c.around(PhaseClock.Delete, PhaseClock.Audit)(deleteBack(d, t, w))
      case None => deleteBack
    }
    val archiver = new Archiver(spark, cfg, src, loader(target), s"$dir/staging", pace, delete)

    val before = probe.map(_.snapshot())
    val startMs = System.currentTimeMillis()
    clock.foreach(_.start())
    val t0 = System.nanoTime()
    val report = try Right(archiver.run()) catch { case NonFatal(e) => Left(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val phases = clock.map(_.finish())
    val endMs = System.currentTimeMillis()
    restoreNeeded = cfg.deleteAfterSync

    val errors = (report match {
      case Left(e) => Seq(s"Archiver.run failed: $e")
      case Right(r) => check(r, target) ++ sourceChecks()
    }) ++ phases.toSeq.flatMap(PhaseClock.coverageErrors(_, seconds))
    val layers = (probe, phases, report) match {
      case (Some(p), Some(ph), Right(r)) =>
        traceLayers(p, before.get, ph, r, target, startMs, endMs)
      case _ => Map.empty[String, Double]
    }
    Iter(seconds, attempted = 1, failed = if (errors.isEmpty) 0 else 1,
      units = expected.rows, queries = Seq.empty, errors = errors, layers = layers)
  }

  private def check(r: Archiver.RunReport, target: String): Seq[String] = {
    val rc = r.reconciliation
    val loaded = r.tables.map(_.rowsLoaded).sum
    val want = if (cfg.deleteAfterSync) expected.rows else 0L
    val got = Fingerprint.of(spark.read.schema(sinkSchema).parquet(target))
    Seq(
      Option.when(!rc.correct)(s"reconciliation failed: $rc"),
      Option.when(rc.targetRows != expected.rows)(
        s"targetRows ${rc.targetRows}, expected ${expected.rows}"),
      Option.when(loaded != expected.rows)(s"rowsLoaded $loaded, expected ${expected.rows}"),
      Option.when(r.deletedBack != want)(s"deletedBack ${r.deletedBack}, expected $want"),
    ).flatten ++ Fingerprint.compare("target", got, expected, checkHash = true)
  }

  private def traceLayers(p: EngineProbe, before: EngineCounts,
      phases: Seq[(String, Long)], r: Archiver.RunReport, target: String,
      startMs: Long, endMs: Long): Map[String, Double] = {
    val d = p.snapshot() - before
    val (phaseSecs, batches) = PhaseReport(phases)
    val files = Option(new File(target).list()).toSeq.flatten
      .count(n => n.startsWith("ingest-") && n.endsWith(".parquet"))
    val rows = math.max(expected.rows, 1L)
    phaseSecs ++ EngineLayers(d, p.idleMs(startMs, endMs)) ++ Map(
      "sink.batches" -> batches.toDouble,
      "sink.bytes_written_mb" -> d.outputBytes / EngineLayers.MB,
      "sink.target_files" -> files.toDouble,
      "source.rows_read_per_row" -> r.metrics.rowsRead.toDouble / rows)
  }
}

object Dirs {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete(): Unit
  }
}

object Frames {
  /** Cast `df`'s columns, by position, to `schema`'s types and names. */
  def castTo(schema: StructType, df: DataFrame): DataFrame =
    df.select(schema.fields.toSeq.zip(df.columns.toSeq).map { case (f, c) =>
      col(c).cast(f.dataType).as(f.name)
    }: _*)

  /** Timestamp-without-zone columns as session-zone timestamps (UTC), the
    * type JDBC and the archiver's parquet source hand back. */
  def zonedTimestamps(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      if (f.dataType == TimestampNTZType) col(f.name).cast(TimestampType).as(f.name)
      else col(f.name)
    }: _*)
}

/** Key-split archive of `lineitem` rows from embedded in-memory Derby over
  * JDBC: partitioned scan with four threads, gzip NDJSON staging, parquet
  * target, reconciliation, and one Derby `DELETE` as the delete-back. */
final class ArchiveJdbc(spark: SparkSession, sfDir: String, work: String, seed: Long)
    extends ArchiveWorkload(spark, work) {
  import ArchiveJdbc._

  private val url = DerbyDialect.driverUrl("", 0, "", "", Locator)
  private val props = {
    val p = new java.util.Properties()
    DerbyDialect.scanOptions.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }
  /** The seed moves the predicate's lower key bound within the first 1% of
    * the key range, so every seed archives about the same number of rows. */
  private val lowKey = Math.floorMod(seed * 2654435761L, KeyCap / 100)
  private val where = s"L_ORDERKEY >= $lowKey"

  private lazy val rows: DataFrame = {
    val f = spark.read.parquet(s"$sfDir/lineitem.parquet").where(s"l_orderkey < $KeyCap")
    Frames.zonedTimestamps(f.toDF(f.columns.map(_.toUpperCase).toSeq: _*))
  }

  protected val cfg = ArchiverConfig(databaseType = "derby",
    sourceDB = Db, sourceTable = Table, sourceWhereCondition = where,
    sourceSplitKey = "L_ORDERKEY", maxThread = 4, deleteAfterSync = true,
    stagingFormat = "json", stagingCompression = "gzip")

  protected lazy val sinkSchema: StructType =
    spark.read.jdbc(url, s"$Db.$Table", props).schema
  protected lazy val expected: Fingerprint =
    Fingerprint.of(Frames.castTo(sinkSchema, rows.where(where)))
  private lazy val total: Long = rows.count()

  private def sql(statements: String*): Unit = {
    val c = java.sql.DriverManager.getConnection(s"$url;create=true")
    try statements.foreach { s =>
      val st = c.createStatement()
      try st.execute(s): Unit finally st.close()
    } finally c.close()
  }

  private def insert(df: DataFrame): Unit =
    df.coalesce(1).write.mode(SaveMode.Append).option("batchsize", "5000")
      .jdbc(url, s"$Db.$Table", props)

  def stage(): Unit = {
    try sql(s"DROP TABLE $Db.$Table") catch { case _: java.sql.SQLException => () }
    try sql(s"CREATE SCHEMA $Db") catch { case _: java.sql.SQLException => () }
    sql(s"""CREATE TABLE $Db.$Table (L_ORDERKEY BIGINT NOT NULL, L_PARTKEY BIGINT,
           |  L_SUPPKEY BIGINT, L_LINENUMBER INT, L_QUANTITY DOUBLE,
           |  L_EXTENDEDPRICE DOUBLE, L_DISCOUNT DOUBLE, L_TAX DOUBLE,
           |  L_RETURNFLAG VARCHAR(8), L_LINESTATUS VARCHAR(8),
           |  L_SHIPDATE TIMESTAMP)""".stripMargin)
    insert(rows)
    sql(s"CREATE INDEX $Db.LINEITEM_ORDERKEY ON $Db.$Table (L_ORDERKEY)")
  }

  protected def source(): TableSource =
    new JdbcTableSource(spark, DerbyDialect, "", 0, "", "", Locator)

  protected def deleteBack(db: String, table: String, w: String): Long =
    DeleteBack.executeJdbc(url, props, DeleteBack.deleteSql(db, table, w, limit = None))

  protected def restore(): Unit = insert(rows.where(where))

  protected def sourceChecks(): Seq[String] = {
    val src = source()
    val left = src.count(Db, Table, where)
    val kept = src.count(Db, Table, "1=1")
    Seq(
      Option.when(left != 0)(s"$left source rows still match the predicate after delete-back"),
      Option.when(kept != total - expected.rows)(
        s"$kept source rows left, expected ${total - expected.rows}"),
    ).flatten
  }

  override def close(): Unit =
    try java.sql.DriverManager.getConnection(s"$url;drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception
}

object ArchiveJdbc {
  val Locator = "memory:perfbench"
  val Db = "ARCHDB"
  val Table = "LINEITEM"
  /** Rows with `l_orderkey` below this: 25,199 of sf0.1's 600,000. */
  val KeyCap = 6250L
}

/** Time-split archive of `events` from parquet: a seed-chosen day's first
  * hours in 2-hour windows, each window its own scan and staged load. */
final class ArchiveTime(spark: SparkSession, sfDir: String, work: String, seed: Long)
    extends ArchiveWorkload(spark, work) {
  import ArchiveTime._

  private val srcDir = s"$work/source/$Db"
  /** The seed picks the day: 1..29 of the fixture's 30 days. */
  private val day = 1 + Math.floorMod(seed, 29L)
  private val where = f"ts >= '2024-01-$day%02d 00:00:00' and ts < '2024-01-$day%02d $Hours%02d:00:00'"

  protected val cfg: ArchiverConfig = ArchiverConfig.preCheck(ArchiverConfig(
    sourceDB = Db, sourceTable = "events", sourceWhereCondition = where,
    sourceSplitTimeKey = "ts", timeSplitUnit = "hour",
    stagingFormat = "json", stagingCompression = "gzip"))
    .fold(e => sys.error(e), identity)

  private def fixture: DataFrame = graft.ops.Tables.events(spark, sfDir)

  protected lazy val sinkSchema: StructType =
    spark.read.parquet(s"$srcDir/events.parquet").schema
  protected lazy val expected: Fingerprint =
    Fingerprint.of(Frames.castTo(sinkSchema, fixture.where(where)))

  def stage(): Unit =
    fixture.write.mode(SaveMode.Overwrite).parquet(s"$srcDir/events.parquet")

  protected def source(): TableSource = new ParquetTableSource(spark, srcDir)

  protected def deleteBack(db: String, table: String, w: String): Long =
    sys.error("archive_time runs without delete-back")

  protected def restore(): Unit = ()

  protected def sourceChecks(): Seq[String] = Seq.empty
}

object ArchiveTime {
  val Db = "archive_src"
  /** Hours archived from the start of the day: four 2-hour windows. */
  val Hours = 8
}
