package graft.source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.dml.DeleteBack

/** Source abstraction: a catalog of (db, table) relations plus the planning
  * aggregates and the partitioned scan. Two implementations:
  *
  *  - [[JdbcTableSource]] — the production path: `spark.read.jdbc(url,
  *    table, predicates, props)` turns each planner predicate into one Spark
  *    input partition (1000 executors ⇒ 1000 concurrent remote cursors,
  *    bounded by the predicate count). Catalog queries, planning aggregates
  *    and the reconciliation count run as driver-side statements on one
  *    JDBC connection each ([[DriverJdbc]]), not as Spark jobs.
  *  - [[ParquetTableSource]] — the fixture path (no live RDBMS in the
  *    sandbox): a directory of parquet files is a database; predicates
  *    become partition filters on the same relation. Lets every layer above
  *    (catalog regex, planner, loader, reconciler, delete-back) run and be
  *    tested for real.
  */
trait TableSource {
  def listDatabases(): Seq[String]
  def listTables(db: String): Seq[String]

  /** `dbRegex@tableRegex` expansion (SURVEY.md §2 S8): unanchored match,
    * like Go's regexp.MatchString. No patterns, no catalog query. */
  def expandDbTables(patterns: Seq[String]): Map[String, Seq[String]] = {
    if (patterns.isEmpty) return Map.empty
    val dbs = listDatabases()
    patterns.flatMap { p =>
      val Array(dbRe, tblRe) = p.split("@", 2)
      dbs.filter(db => dbRe.r.findFirstIn(db).isDefined).map { db =>
        db -> listTables(db).filter(t => tblRe.r.findFirstIn(t).isDefined)
      }
    }.groupBy(_._1).map { case (db, ts) =>
      db -> ts.flatMap(_._2).distinct.toSeq
    }
  }

  /** Full-row scan of one partition predicate AND the user predicate. */
  def scan(db: String, table: String, predicates: Seq[String], userPred: String): DataFrame

  def count(db: String, table: String, where: String): Long
  def minMaxKey(db: String, table: String, key: String, where: String): (BigInt, BigInt)
  def minMaxTime(db: String, table: String, key: String, where: String): (String, String)

  /** Rows this source EXCLUDED from the scan under its corrupt-record
    * policy (landing zones quarantine unparseable lines); surfaced in the
    * run report so truncation is never silent. Structured sources have
    * nothing to quarantine. */
  def quarantined(db: String, table: String): Long = 0L

  /** The table's row schema, the sink schema of its archive: by default
    * that of an unfiltered [[scan]] (analysis only, no rows read). */
  def schema(db: String, table: String): StructType =
    scan(db, table, Seq.empty, "").schema

  /** Delete-back: remove the rows matching `where` from the source table,
    * returning how many went. Sources the archiver must not mutate refuse
    * loudly. */
  def deleteWhere(db: String, table: String, where: String): Long =
    throw new UnsupportedOperationException(
      s"delete-back is not supported on ${getClass.getSimpleName} ($db.$table)")

  /** Render a `yyyy-MM-dd HH:mm:ss[.SSSSSS]` timestamp as a literal this
    * source's engine compares against a timestamp column. The ANSI typed
    * form is the default (Spark, mysql, pg, oracle all accept it);
    * dialects with their own syntax override via their profile. */
  def timestampLiteral(ts: String): String = s"TIMESTAMP '$ts'"
}

/** Shared implementation for sources whose tables materialize as Spark
  * DataFrames (parquet fixtures, file landing zones): the planning
  * aggregates and the predicate scan run through Catalyst on the same
  * relation — predicates become partition filters instead of remote
  * cursors, everything above (catalog regex, planner, loader, reconciler,
  * delete-back) is source-agnostic. The catalog is a directory:
  * `rootDir/<table><suffix>` for each of [[suffixes]], one database named
  * after the directory's base name. */
trait DataFrameTableSource extends TableSource {
  protected val rootDir: String
  /** File-name suffixes that mark a table. */
  protected def suffixes: Seq[String]
  protected def table(t: String): DataFrame

  private def dir = new java.io.File(rootDir)
  private def dbName = dir.getName

  override def listDatabases(): Seq[String] = Seq(dbName)

  override def listTables(db: String): Seq[String] =
    if (db != dbName) Seq.empty
    else dir.listFiles((_, n) => suffixes.exists(n.endsWith)).toSeq
      .map(n => suffixes.foldLeft(n.getName)(_.stripSuffix(_))).distinct.sorted

  override def scan(db: String, t: String, predicates: Seq[String],
      userPred: String): DataFrame = {
    val base = table(t).where(if (userPred.isEmpty) "true" else userPred)
    if (predicates.isEmpty) base
    else base.where(predicates.map(p => s"($p)").mkString(" OR "))
  }

  override def count(db: String, t: String, where: String): Long =
    table(t).where(where).count()

  override def minMaxKey(db: String, t: String, key: String, where: String): (BigInt, BigInt) = {
    val r = table(t).where(where)
      .agg(min(col(key)).cast("decimal(20,0)"), max(col(key)).cast("decimal(20,0)")).head()
    if (r.isNullAt(0)) (BigInt(0), BigInt(0)) // empty-table sentinel (reference A3)
    else (BigInt(r.getDecimal(0).toBigInteger), BigInt(r.getDecimal(1).toBigInteger))
  }

  override def minMaxTime(db: String, t: String, key: String, where: String): (String, String) = {
    val r = table(t).where(where)
      .agg(date_format(min(col(key)), "yyyy-MM-dd HH:mm:ss"),
           date_format(max(col(key)), "yyyy-MM-dd HH:mm:ss")).head()
    (Option(r.getString(0)).getOrElse(""), Option(r.getString(1)).getOrElse(""))
  }
}

/** Parquet-backed source: `rootDir/<table>.parquet`. */
class ParquetTableSource(spark: SparkSession, protected val rootDir: String)
    extends DataFrameTableSource {
  protected def suffixes: Seq[String] = Seq(".parquet")

  protected def table(t: String): DataFrame =
    spark.read.parquet(s"$rootDir/$t.parquet")

  /** Rewrites the table without the matching rows (K5/K6): this mutates
    * `rootDir`, so tests archive copies of their fixtures. */
  override def deleteWhere(db: String, t: String, where: String): Long =
    DeleteBack.deleteFromParquet(spark, s"$rootDir/$t.parquet", where)
}

/** File-landing-zone source: `rootDir/<table>.<json|csv>[.gz]` — the
  * ingestion topology where an upstream producer drops NDJSON or CSV
  * batches in a landing directory and the archiver sweeps them into the
  * warehouse. Every table is read under a CONTRACT schema (text formats
  * carry no types; µs-precision timestamps parse via the same
  * `timestampFormat` the staged loader writes): the one `schemas` gives
  * for it, else the schema inferred from its drop — json, or csv with a
  * header, timestamps opted in (the default infers them as strings, which
  * would silently turn a time-split watermark into string comparison) —
  * once per drop, re-inferred only when the drop's files change. A table
  * a `db@table` regex matches is therefore parsed, audited and
  * quarantined exactly like the config table. Everything above the
  * relation — catalog regex, key/time-split planning, staged load,
  * reconciliation — is inherited unchanged from [[DataFrameTableSource]].
  * Delete-back keeps the inherited refusal: landing drops are immutable
  * producer output, and the producer retires its own.
  *
  * Robustness (a production landing zone is untrusted producer output):
  *
  *  - gzip drops (`.json.gz` / `.csv.gz`) read transparently — Spark's
  *    text source picks the codec from the extension. A gz file is not
  *    splittable, so scan parallelism is the file count: exactly the
  *    shape landing producers deliver (many per-batch drops), not a
  *    problem the archiver needs to solve.
  *  - corrupt-record policy: lines that fail to parse under the contract
  *    land in a `_corrupt_record` audit column, are EXCLUDED from the
  *    archived scan, and are counted per table via [[quarantined]] so the
  *    run report can surface exactly how many rows were left behind — the
  *    same classified-error discipline the reference's loader applies
  *    (ingester/ingest_databend.go:25-29). A malformed line must neither
  *    silently become nulls nor fail the whole sweep.
  *  - a drop that yields no columns to infer (empty, or every line
  *    corrupt) fails loudly, naming the table and its drop: there is no
  *    contract to archive it under.
  *
  * The parse is deliberately `text` + `from_json`/`from_csv`, not the
  * json/csv file source: Spark disallows file-source queries whose
  * required schema is only the corrupt column (JsonFileFormat/
  * CSVFileFormat), which is precisely what reconciliation's `count()`
  * over the corrupt-filtered relation prunes to. Parsing as an ordinary
  * projection over a text scan keeps every count/filter shape legal, at
  * the same cost (json can't push predicates anyway). */
final class FileTableSource(spark: SparkSession, protected val rootDir: String,
    format: String = "json",
    schemas: Map[String, StructType] = Map.empty)
    extends DataFrameTableSource {
  require(Set("json", "csv")(format), s"unsupported landing format: $format")
  import FileTableSource.CorruptCol
  protected def suffixes: Seq[String] = Seq(s".$format", s".$format.gz")

  private def pathOf(t: String): String = {
    val present = suffixes.map(sfx => s"$rootDir/$t$sfx")
      .filter(p => new java.io.File(p).exists())
    // both plain and gzip drops present would force a silent choice —
    // whichever we picked, the other file's rows would be neither
    // archived nor quarantined. Refuse loudly; the producer owns the
    // landing contract (one suffix per table).
    require(present.size <= 1,
      s"ambiguous landing drop for table '$t': ${present.mkString(" AND ")} " +
        "— plain and gzip forms both present; remove one (reading either " +
        "alone would silently omit the other's rows)")
    present.headOption.getOrElse(s"$rootDir/$t.$format")
  }

  private def parseOptions: Map[String, String] = Map(
    "mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> CorruptCol,
    "timestampFormat" -> graft.sink.StagedLoader.MicrosTimestampFormat)

  /** Table `t`'s contract, without the audit column (inference over a
    * dirty drop appends it when it meets malformed records). */
  private def contract(t: String): StructType =
    StructType(schemas.getOrElse(t, inferred(t)).filterNot(_.name == CorruptCol))

  /** The schema inferred from `t`'s drop, memoized under the drop's file
    * signature ([[graft.ops.Memo.signed]]): one inference job per drop,
    * however many times planning, scan, count and audit ask. */
  private def inferred(t: String): StructType = {
    val path = pathOf(t)
    graft.ops.Memo.signed(spark, "source.inferred", path, format) { _ =>
      val r = spark.read
        .option("timestampFormat", graft.sink.StagedLoader.MicrosTimestampFormat)
        .option("inferTimestamp", "true")
      val sc = (format match {
        case "json" => r.json(path)
        case "csv"  => r.option("header", "true").option("inferSchema", "true").csv(path)
      }).schema
      require(sc.exists(_.name != CorruptCol),
        s"landing table '$t' has no contract and its drop $path yields no " +
          "columns to infer (empty, or every line corrupt)")
      sc
    }
  }

  /** A line is header-SHAPED when its CSV tokens — dequoted by the same
    * parser the data path uses, trimmed, case-folded — are exactly the
    * contract's field names in order. Tolerating render variants
    * (quoted fields, padding, case) matters both ways: a quoted header
    * must not be parsed as a data row NOR miscounted as a quarantined
    * corrupt row, and the match must be per-line because a landing
    * "file" can be a directory of part files, each carrying its own
    * header. (The residual ambiguity — a data row whose every field
    * literally equals its column name — is unresolvable in headered
    * CSV itself, and under a typed contract such a row would fail the
    * parse anyway for any non-string column.) */
  private def headerShaped(sc: StructType): org.apache.spark.sql.Column = {
    val strSchema = StructType(sc.fieldNames.map(
      org.apache.spark.sql.types.StructField(_, org.apache.spark.sql.types.StringType)))
    val toks = from_csv(col("value"), strSchema, Map("mode" -> "PERMISSIVE"))
    sc.fieldNames.map(f =>
      lower(trim(toks.getField(f))) === lit(f.toLowerCase)).reduce(_ && _)
  }

  /** Contract parse with the audit column: every non-blank line becomes
    * one row, malformed ones carrying their raw text in `_corrupt_record`
    * (and nothing else). CSV header-shaped lines are dropped per line
    * (see [[headerShaped]]) and never enter the quarantine count. */
  private def parsedWithAudit(t: String, sc: StructType): DataFrame = {
    val pSchema = sc.add(CorruptCol, org.apache.spark.sql.types.StringType)
    val lines = spark.read.text(pathOf(t))
      .where(length(trim(col("value"))) > 0)
    val parsed = format match {
      case "json" =>
        lines.select(from_json(col("value"), pSchema, parseOptions).as("r"),
          col("value"))
      case "csv" =>
        lines.where(!headerShaped(sc))
          .select(from_csv(col("value"), pSchema, parseOptions).as("r"),
            col("value"))
    }
    // from_json yields a NULL struct (not a corrupt-marked row) for
    // unparseable lines; normalize both shapes to "all fields null,
    // corrupt = raw line" so the audit count sees every bad line.
    parsed.select(
      (sc.fieldNames.map(f =>
        when(col("r").isNotNull && col(s"r.$CorruptCol").isNull, col(s"r.$f"))
          .as(f)) :+
        when(col("r").isNull || col(s"r.$CorruptCol").isNotNull,
          col("value")).as(CorruptCol)): _*)
  }

  // quarantine counts memoized per (landing drop, contract) under its file
  // signature ([[graft.ops.Memo.signed]]): the landing file is immutable
  // between producer drops, so the corrupt-line count is a pure function
  // of its files. Without the memo a run re-parses the entire drop once
  // for reconciliation's count() and AGAIN for the quarantine audit — one
  // full extra scan per table per run. count() below fills the memo from
  // the pass it already makes, so the audit read is usually free.
  private def quarantineMemo(t: String, sc: StructType)(corrupt: => Long): Long =
    graft.ops.Memo.signed(spark, "source.quarantined", pathOf(t), (format, sc))(
      _ => corrupt)

  /** Valid-row count under `where` and the corrupt-line count, from ONE
    * parse of the landing drop. */
  override def count(db: String, t: String, where: String): Long = {
    val sc = contract(t)
    val w = if (where.isEmpty) "true" else where
    val r = parsedWithAudit(t, sc).agg(
      org.apache.spark.sql.functions.count(
        when(col(CorruptCol).isNull && expr(w), 1)),
      org.apache.spark.sql.functions.count(
        when(col(CorruptCol).isNotNull, 1))).head()
    quarantineMemo(t, sc)(r.getLong(1)): Unit
    r.getLong(0)
  }

  /** Rows this table's landing drop contains that FAILED the contract
    * parse — quarantined out of the archived scan, surfaced in the run
    * report. */
  override def quarantined(db: String, t: String): Long = {
    val sc = contract(t)
    quarantineMemo(t, sc)(
      parsedWithAudit(t, sc).where(col(CorruptCol).isNotNull).count())
  }

  protected def table(t: String): DataFrame =
    parsedWithAudit(t, contract(t)).where(col(CorruptCol).isNull).drop(CorruptCol)
}

object FileTableSource {
  /** Audit-column name for quarantined landing rows. */
  val CorruptCol = "_corrupt_record"
}

/** JDBC-backed source for a real deployment. Catalog queries, planning
  * aggregates and the reconciliation count are control statements: each
  * runs on the driver as one statement on one connection
  * ([[DriverJdbc]]), with no Spark job. The data scan hands the planner's
  * predicate array to `spark.read.jdbc` — one predicate per Spark
  * partition. */
final class JdbcTableSource(spark: SparkSession, dialect: JdbcDialect,
    host: String, port: Int, user: String, pass: String, defaultDb: String,
    deleteBatch: Long = 0L, deletePacingSeconds: Int = 0)
    extends TableSource {

  private def props: java.util.Properties = {
    val p = new java.util.Properties()
    dialect.scanOptions.foreach { case (k, v) => p.setProperty(k, v) }
    dialect.credentialOptions(user, pass).foreach { case (k, v) => p.setProperty(k, v) }
    p
  }
  private def url: String = dialect.driverUrl(host, port, user, pass, defaultDb)

  private def column(sql: String): Seq[String] =
    DriverJdbc.query(url, props, sql) { rs =>
      Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toVector
    }

  /** The one row an aggregate statement returns. */
  private def row[A](sql: String)(read: java.sql.ResultSet => A): A =
    DriverJdbc.query(url, props, sql) { rs =>
      if (!rs.next()) throw new IllegalStateException(s"no row from: $sql")
      read(rs)
    }

  override def listDatabases(): Seq[String] = column(dialect.listDatabasesSql)

  override def listTables(db: String): Seq[String] = column(dialect.listTablesSql(db))

  override def scan(db: String, table: String, predicates: Seq[String],
      userPred: String): DataFrame = {
    val preds =
      if (userPred.isEmpty) predicates.toArray
      else predicates.map(p => s"$p AND ($userPred)").toArray
    if (preds.isEmpty)
      spark.read.jdbc(url, dialect.qualify(db, table), props)
        .where(if (userPred.isEmpty) "true" else userPred)
    else spark.read.jdbc(url, dialect.qualify(db, table), preds, props)
  }

  override def count(db: String, table: String, where: String): Long =
    row(dialect.countSql(db, table, where))(_.getLong(1))

  /** Key bounds, decoded exactly whatever the key column's scale (Spark
    * reads Oracle `NUMBER` as `decimal(38,10)`, so `1` arrives as `1.00…`);
    * a fractional key fails, naming the key. */
  override def minMaxKey(db: String, table: String, key: String, where: String): (BigInt, BigInt) =
    row(dialect.minMaxSql(key, db, table, where)) { rs =>
      def whole(v: java.math.BigDecimal): BigInt =
        try BigInt(v.toBigIntegerExact)
        catch { case _: ArithmeticException =>
          throw new IllegalArgumentException(
            s"split key $key of $db.$table has the fractional value $v; a key split needs whole-number keys")
        }
      Option(rs.getBigDecimal(1)) match {
        case None => (BigInt(0), BigInt(0)) // empty-range sentinel (reference A3)
        case Some(mn) => (whole(mn), whole(rs.getBigDecimal(2)))
      }
    }

  override def minMaxTime(db: String, table: String, key: String, where: String): (String, String) =
    row(dialect.minMaxTimeSql(key, db, table, where)) { rs =>
      (DriverJdbc.string(rs, 1), DriverJdbc.string(rs, 2))
    }

  /** Driver-side `DELETE` on the dialect's qualified name: one statement,
    * or on a dialect that batches it (mysql) with a positive
    * `deleteBatch`, the counted range in `LIMIT min(deleteBatch,
    * remaining)` statements with `deletePacingSeconds` sleeps between. */
  override def deleteWhere(db: String, table: String, where: String): Long = {
    val stmt = dialect.deleteSql(db, table, where)
    if (dialect.batchedDelete && deleteBatch > 0)
      DeleteBack.runBatches(stmt, count(db, table, where), deleteBatch,
        deletePacingSeconds)(DeleteBack.executeJdbc(url, props, _))
    else DeleteBack.executeJdbc(url, props, stmt)
  }

  override def timestampLiteral(ts: String): String = dialect.timestampLiteral(ts)
}
