package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.source.{DerbyDialect, JdbcDialect, MySqlDialect, OracleDialect, PostgresDialect, SqlServerDialect}

/** Dialect URL/credential handling (SURVEY.md §2 S1): credentials with
  * reserved characters must survive each dialect's URL syntax, and the
  * dirty-read analogue must apply to the READ path. */
class DialectsSpec extends AnyFunSuite {

  test("mysql/pg URLs percent-encode both user and password") {
    val u = MySqlDialect.driverUrl("h", 3306, "us&er", "p@ss&w=rd", "db")
    assert(u == "jdbc:mysql://h:3306/db?user=us%26er&password=p%40ss%26w%3Drd")
    val p = PostgresDialect.driverUrl("h", 5432, "us&er", "p@ss", "db")
    assert(p.contains("user=us%26er") && p.contains("password=p%40ss"))
  }

  test("sqlserver values with ; { } = ride inside braces, } doubled") {
    val plain = SqlServerDialect.driverUrl("h", 1433, "sa", "simple", "db")
    assert(plain == "jdbc:sqlserver://h:1433;databaseName=db;user=sa;password=simple")
    val tricky = SqlServerDialect.driverUrl("h", 1433, "sa", "p;w}d=x", "db")
    assert(tricky.endsWith(";password={p;w}}d=x}"))
  }

  test("oracle thin URL carries no credentials; they travel as properties") {
    val u = OracleDialect.driverUrl("h", 1521, "scott/tiger", "t@ger", "orcl")
    assert(u == "jdbc:oracle:thin:@//h:1521/orcl")
    assert(!u.contains("tiger"))
    assert(OracleDialect.credentialOptions("scott/tiger", "t@ger") ==
      Map("user" -> "scott/tiger", "password" -> "t@ger"))
    // dialects with URL-safe quoting keep credentials in the URL
    assert(MySqlDialect.credentialOptions("u", "p").isEmpty)
  }

  test("derby's embedded locator comes from host when set, else from db") {
    // a config's sourceHost carries the locator; sourceDB names the schema
    assert(DerbyDialect.driverUrl("memory:graftdb", 0, "", "", "ARCHDB") ==
      "jdbc:derby:memory:graftdb")
    assert(DerbyDialect.driverUrl("", 0, "", "", "memory:graftdb") ==
      "jdbc:derby:memory:graftdb")
    // ... and its tables, deleted back too, qualify as SCHEMA.TABLE
    assert(DerbyDialect.deleteSql("DB", "T", "ID <= 5") == "DELETE FROM DB.T WHERE ID <= 5")
  }

  test("sqlserver dirty reads use sessionInitStatement (read path), not isolationLevel") {
    val opts = SqlServerDialect.scanOptions
    assert(!opts.contains("isolationLevel"), "isolationLevel is write-path only")
    assert(opts("sessionInitStatement") ==
      "SET TRANSACTION ISOLATION LEVEL READ UNCOMMITTED")
  }

  test("factory dispatch: tidb/unknown fall back to mysql") {
    assert(JdbcDialect.forType("tidb") == MySqlDialect)
    assert(JdbcDialect.forType("nonsense") == MySqlDialect)
    assert(JdbcDialect.forType("pg") == PostgresDialect)
    assert(JdbcDialect.forType("mssql") == SqlServerDialect)
    assert(JdbcDialect.forType("oracle") == OracleDialect)
    assert(JdbcDialect.forType("derby") == DerbyDialect)
  }

  test("timestamp literals per dialect: ANSI default, Derby function form, T-SQL datetime2 cast") {
    val ts = "2024-03-01 00:29:30.000000"
    assert(MySqlDialect.timestampLiteral(ts) == s"TIMESTAMP '$ts'")
    assert(PostgresDialect.timestampLiteral(ts) == s"TIMESTAMP '$ts'")
    assert(OracleDialect.timestampLiteral(ts) == s"TIMESTAMP '$ts'")
    // a bare quoted µs-precision string raises T-SQL error 241 against
    // datetime (max 3 fractional digits); the datetime2 cast compares at
    // datetime2 precedence for both column types
    assert(SqlServerDialect.timestampLiteral(ts) == s"CAST('$ts' AS datetime2)")
    assert(DerbyDialect.timestampLiteral(ts) == s"TIMESTAMP('$ts')")
  }

  test("Derby time min/max: MAX rounds UP to the next whole second (closed final window)") {
    val sql = DerbyDialect.minMaxTimeSql("ts", "DB", "T", "1=1")
    assert(sql.contains("SUBSTR(CAST(MIN(ts) AS VARCHAR(29)), 1, 19)"), sql)
    assert(sql.contains("{fn TIMESTAMPADD(SQL_TSI_SECOND, 1, MAX(ts))}"),
      "sub-second tails beyond a truncated MAX would fall outside every " +
      "closed window and be silently dropped by a time-split scan:\n" + sql)
  }
}
