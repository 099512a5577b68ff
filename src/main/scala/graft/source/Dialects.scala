package graft.source

/** Per-DBMS dialect profiles (SURVEY.md §2 S1-S8): how to build the JDBC
  * url, quote identifiers, discover catalogs, and push the planning
  * aggregates. Pure data + string builders — the network side is owned by
  * `spark.read.jdbc` (the data scan) and [[DriverJdbc]] (control
  * statements), so each profile is testable without a live server.
  *
  * Reference behavior being reproduced (citations into /root/reference):
  *  - factory dispatch, default mysql  — source/source.go:31-46
  *  - database/table discovery SQL     — source/mysql.go:298-351,
  *    postgres.go:307-364, sql_server.go:398-499, oracle.go:312-369
  *  - count/min-max planning SQL       — source/mysql.go:67-114 et al.
  *  - NOLOCK/dirty-read hint           — source/sql_server.go:231,291
  */
sealed trait JdbcDialect {
  def name: String
  def driverUrl(host: String, port: Int, user: String, pass: String, db: String): String
  def quote(ident: String): String = ident
  def qualify(db: String, table: String): String = s"$db.$table"
  /** SQL listing databases (regex filtering happens client-side, like the
    * reference's regexp.MatchString over the result). */
  def listDatabasesSql: String
  def listTablesSql(db: String): String
  def countSql(db: String, table: String, where: String): String =
    s"SELECT count(*) FROM ${qualify(db, table)} WHERE $where"
  def minMaxSql(key: String, db: String, table: String, where: String): String =
    s"SELECT MIN($key), MAX($key) FROM ${qualify(db, table)} WHERE $where"
  /** The delete-back statement (postgres.go:174-187 et al). */
  def deleteSql(db: String, table: String, where: String): String =
    s"DELETE FROM ${qualify(db, table)} WHERE $where"
  /** Whether delete-back runs [[deleteSql]] in rate-limited `LIMIT`
    * batches (mysql.go:134-172) instead of as one statement. */
  def batchedDelete: Boolean = false
  def minMaxTimeSql(key: String, db: String, table: String, where: String): String =
    s"SELECT MIN($key), MAX($key) FROM ${qualify(db, table)} WHERE $where"
  /** Typed timestamp literal for WHERE predicates against timestamp
    * columns (time windows, time watermarks). ANSI form by default. */
  def timestampLiteral(ts: String): String = s"TIMESTAMP '$ts'"
  /** Extra options for spark.read.jdbc (isolation, fetchsize). */
  def scanOptions: Map[String, String] = Map("fetchsize" -> "10000")
  /** Credentials that must NOT ride in the URL (dialects whose URL syntax
    * has no safe quoting) — merged into the jdbc reader options. */
  def credentialOptions(user: String, pass: String): Map[String, String] = Map.empty
}

case object MySqlDialect extends JdbcDialect {
  val name = "mysql"
  def driverUrl(h: String, p: Int, u: String, pw: String, db: String) =
    s"jdbc:mysql://$h:$p/$db?user=${JdbcDialect.enc(u)}&password=${JdbcDialect.enc(pw)}"
  val listDatabasesSql = "SHOW DATABASES"
  def listTablesSql(db: String) = s"SHOW TABLES FROM $db"
  override def batchedDelete = true
}

case object PostgresDialect extends JdbcDialect {
  val name = "pg"
  def driverUrl(h: String, p: Int, u: String, pw: String, db: String) =
    s"jdbc:postgresql://$h:$p/$db?user=${JdbcDialect.enc(u)}&password=${JdbcDialect.enc(pw)}"
  val listDatabasesSql =
    "SELECT datname FROM pg_database WHERE datistemplate = false"
  def listTablesSql(db: String) =
    "SELECT tablename FROM pg_tables WHERE schemaname NOT IN ('pg_catalog', 'information_schema')"
  override def minMaxSql(key: String, db: String, table: String, where: String) =
    s"SELECT COALESCE(MIN($key), 0), COALESCE(MAX($key), 0) FROM ${qualify(db, table)} WHERE $where"
}

case object SqlServerDialect extends JdbcDialect {
  val name = "mssql"
  def driverUrl(h: String, p: Int, u: String, pw: String, db: String) =
    s"jdbc:sqlserver://$h:$p;databaseName=$db;user=${JdbcDialect.brace(u)};password=${JdbcDialect.brace(pw)}"
  override def quote(ident: String) = s"[$ident]"
  override def qualify(db: String, table: String) =
    if (table.contains(".")) s"[$db].$table" else s"[$db].dbo.[$table]"
  val listDatabasesSql =
    """SELECT name FROM sys.databases
      |WHERE state = 0 AND HAS_DBACCESS(name) = 1
      |  AND name NOT IN ('master', 'tempdb', 'model', 'msdb')""".stripMargin
  def listTablesSql(db: String) =
    s"SELECT SCHEMA_NAME(schema_id) + '.' + name FROM [$db].sys.tables"
  /** T-SQL has no ANSI `TIMESTAMP '...'` literal, and a bare quoted
    * string breaks against `datetime` columns when the value carries the
    * µs-precision watermark (max 3 fractional digits implicitly convert
    * to datetime — 6 raise error 241). CAST to datetime2 instead:
    * datetime2 accepts 7 fractional digits and has higher type
    * precedence, so a datetime column converts UP and the comparison is
    * done at datetime2 precision regardless of the column's type. */
  override def timestampLiteral(ts: String): String =
    s"CAST('$ts' AS datetime2)"
  /** Dirty-read scan (reference WITH (NOLOCK), sql_server.go:231,291).
    * Spark's JDBC `isolationLevel` option applies only to the WRITE path —
    * for reads the session itself must be switched, which
    * `sessionInitStatement` runs on every scan connection. */
  override def scanOptions: Map[String, String] =
    Map("fetchsize" -> "10000",
        "sessionInitStatement" -> "SET TRANSACTION ISOLATION LEVEL READ UNCOMMITTED")
}

case object OracleDialect extends JdbcDialect {
  val name = "oracle"
  /** Thin URL without embedded credentials — `user`/`pass` with reserved
    * characters (`/`, `@`) would corrupt the locator; they travel as
    * connection properties instead (spark.read.jdbc user/password
    * options, populated by [[credentialOptions]]). */
  def driverUrl(h: String, p: Int, u: String, pw: String, db: String) =
    s"jdbc:oracle:thin:@//$h:$p/$db"
  override def credentialOptions(u: String, pw: String): Map[String, String] =
    Map("user" -> u, "password" -> pw)
  val listDatabasesSql = "SELECT username FROM all_users"
  def listTablesSql(db: String) =
    s"SELECT table_name FROM all_tables WHERE owner = '${db.toUpperCase}'"
  override def minMaxSql(key: String, db: String, table: String, where: String) =
    s"SELECT COALESCE(MIN($key), 0), COALESCE(MAX($key), 0) FROM ${qualify(db, table)} WHERE $where"
}

/** Embedded Apache Derby — the generic-JDBC profile that makes the REAL
  * `spark.read.jdbc` path e2e-testable offline (JdbcE2ESpec): Derby runs
  * in-process (its jars ship with Spark), so discovery, planning pushdown,
  * the partitioned predicate scan, and delete-back DML all execute against
  * a live JDBC engine — the tier the reference covers with live-DBMS CI
  * (cmd/main_test.go:25-59, ci.yaml:12-44). Derby's unit of discovery is
  * the schema (Oracle-style). The embedded driver has no host, so the
  * database locator (e.g. "memory:graftdb") rides in `host` when it is set
  * (a config's `sourceHost`, next to `sourceDB` naming the schema) and in
  * `db` otherwise; the port is unused.
  *
  * Timestamps: Derby compares a TIMESTAMP column with a bare
  * `'yyyy-MM-dd HH:mm:ss[.ffffff]'` string exactly, µs fraction included
  * (the shape a config's `sourceWhereCondition` carries), but rejects the
  * ANSI typed literal `TIMESTAMP '...'` as a syntax error, so
  * [[timestampLiteral]] renders its function form `TIMESTAMP('...')` —
  * all four archival modes (key-split, time-split, key- and
  * time-incremental) run live in JdbcE2ESpec. */
case object DerbyDialect extends JdbcDialect {
  val name = "derby"
  def driverUrl(h: String, p: Int, u: String, pw: String, db: String) =
    s"jdbc:derby:${if (h.nonEmpty) h else db}"
  val listDatabasesSql =
    """SELECT schemaname FROM sys.sysschemas
      |WHERE schemaname NOT LIKE 'SYS%'
      |  AND schemaname NOT IN ('NULLID', 'SQLJ')""".stripMargin
  def listTablesSql(db: String) =
    s"""SELECT t.tablename FROM sys.systables t
       |JOIN sys.sysschemas s ON t.schemaid = s.schemaid
       |WHERE s.schemaname = '$db' AND t.tabletype = 'T'""".stripMargin
  /** Second-precision strings in the planner's lenient layouts — Derby's
    * TIMESTAMP renders "yyyy-MM-dd HH:mm:ss.f" (space + fraction), which
    * none of the reference's four layouts parse. Second truncation matches
    * the reference's own planning precision (its Go format string is
    * second-grained too) — but MIN truncates DOWN while MAX must round UP:
    * the planner's final window is CLOSED at mx, so a max with a
    * fractional-second tail beyond the truncated value would fall outside
    * every window and a time-split scan would silently drop it. Adding one
    * second before truncating makes the ceiling (an extra empty second
    * when the max was already whole — harmless, nothing exists past the
    * true max). TIMESTAMPADD is JDBC-escape-only in Derby, hence {fn}. */
  override def minMaxTimeSql(key: String, db: String, table: String, where: String) =
    s"""SELECT SUBSTR(CAST(MIN($key) AS VARCHAR(29)), 1, 19),
       |  SUBSTR(CAST({fn TIMESTAMPADD(SQL_TSI_SECOND, 1, MAX($key))} AS VARCHAR(29)), 1, 19)
       |FROM ${qualify(db, table)} WHERE $where""".stripMargin
  /** Derby rejects the ANSI `TIMESTAMP '...'` literal; it has a TIMESTAMP()
    * conversion function instead. */
  override def timestampLiteral(ts: String): String = s"TIMESTAMP('$ts')"
  /** Spark resolves the driver from the URL via DriverManager; pin the
    * embedded driver class explicitly so the scan never depends on
    * service-loader ordering when multiple Derby jars are present. */
  override def scanOptions: Map[String, String] =
    Map("fetchsize" -> "10000",
        "driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
}

object JdbcDialect {
  /** URL-query-component encoding for credentials in `?user=&password=`
    * style URLs (mysql/pg) — reserved characters survive intact. */
  private[source] def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  /** sqlserver `;key=value` escaping: values containing `;` `{` `}` or `=`
    * ride inside braces, with `}` doubled (JDBC connection-string rule). */
  private[source] def brace(s: String): String =
    if (s.exists(c => c == ';' || c == '{' || c == '}' || c == '='))
      "{" + s.replace("}", "}}") + "}"
    else s

  /** Factory dispatch — tidb shares the mysql profile; unknown → mysql
    * (reference default, source/source.go:31-46). */
  def forType(databaseType: String): JdbcDialect = databaseType match {
    case "pg"     => PostgresDialect
    case "mssql"  => SqlServerDialect
    case "oracle" => OracleDialect
    case "derby"  => DerbyDialect // embedded/generic-JDBC profile
    case _        => MySqlDialect // mysql, tidb, default
  }
}
