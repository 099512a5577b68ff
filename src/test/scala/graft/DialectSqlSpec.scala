package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.source._

/** Best-effort offline validation of the per-dialect SQL surface.
  *
  * The honest caveat (also in SCALE.md): no pg/mssql/oracle engine — nor
  * an H2/HSQLDB compatibility-mode stand-in — exists in this zero-egress
  * sandbox (only Derby ships with Spark), so the pg/mssql/oracle strings
  * still have never been PARSED by their target engines. What CAN be
  * checked offline, and is here:
  *
  *  1. structural lint of every generated statement — balanced quotes,
  *     brackets and parens, a single SELECT/SHOW statement, no leaked
  *     format placeholders, no doubled identifier quoting;
  *  2. parity of the catalog/planning SQL surface with the reference's
  *     own published statements (source/postgres.go:308,340,
  *     oracle.go:313,345, sql_server.go:398-446, mysql.go:299,327,
  *     postgres.go:116, oracle.go:120) — a typo in our string fails
  *     against the reference-derived expectation instead of shipping
  *     silently.
  */
class DialectSqlSpec extends AnyFunSuite {

  private val dialects: Seq[JdbcDialect] =
    Seq(MySqlDialect, PostgresDialect, SqlServerDialect, OracleDialect,
      DerbyDialect)

  /** Every statement a dialect can generate, over representative args —
    * including a dotted mssql table (schema-qualified path) and a key
    * needing quoting. */
  private def statements(d: JdbcDialect): Seq[(String, String)] = Seq(
    "listDatabases" -> d.listDatabasesSql,
    "listTables" -> d.listTablesSql("archive_db"),
    "count" -> d.countSql("archive_db", "orders", "o_totalprice > 5000"),
    "minMax" -> d.minMaxSql("o_orderkey", "archive_db", "orders", "1 = 1"),
    "minMaxTime" -> d.minMaxTimeSql("created_at", "archive_db", "orders",
      s"created_at < ${d.timestampLiteral("2024-01-02 03:04:05")}"),
    "countDotted" -> d.countSql("archive_db", "audit.orders", "1 = 1"),
    "delete" -> d.deleteSql("archive_db", "orders", "o_orderkey <= 120"))

  private def balanced(s: String, open: Char, close: Char): Boolean = {
    var depth = 0
    s.foreach { c =>
      if (c == open) depth += 1
      else if (c == close) { depth -= 1; if (depth < 0) return false }
    }
    depth == 0
  }

  test("lint: every generated statement is structurally sound") {
    for (d <- dialects; (what, sql) <- statements(d)) {
      val where = s"${d.name}.$what: $sql"
      assert(sql.trim.nonEmpty, where)
      val form = if (what == "delete") Seq("DELETE FROM") else Seq("SELECT", "SHOW")
      assert(form.exists(sql.toUpperCase.startsWith), s"statement form — $where")
      assert(!sql.contains("%s") && !sql.contains("{}") && !sql.contains("${"),
        s"leaked format placeholder — $where")
      assert(sql.count(_ == '\'') % 2 == 0, s"unbalanced quotes — $where")
      assert(balanced(sql, '(', ')'), s"unbalanced parens — $where")
      assert(balanced(sql, '[', ']'), s"unbalanced brackets — $where")
      assert(!sql.contains("[["), s"doubled bracket quoting — $where")
      assert(!sql.contains(";"), s"single statement only — $where")
      assert(!sql.contains("..") || what == "countDotted",
        s"empty path segment — $where")
    }
  }

  test("pg surface matches the reference's published statements") {
    // postgres.go:308 lists pg_database (ours additionally excludes
    // templates — a superset filter, same relation and column)
    assert(PostgresDialect.listDatabasesSql.contains("datname"))
    assert(PostgresDialect.listDatabasesSql.contains("pg_database"))
    // postgres.go:340: pg_tables with both system schemas excluded; pg
    // cannot query across databases, so the db arg is correctly unused
    val lt = PostgresDialect.listTablesSql("ignored")
    assert(lt.contains("tablename") && lt.contains("pg_tables"))
    assert(lt.contains("pg_catalog") && lt.contains("information_schema"))
    // postgres.go:116: COALESCE(MIN,0)/COALESCE(MAX,0)
    val mm = PostgresDialect.minMaxSql("k", "db", "t", "1 = 1")
    assert(mm.contains("COALESCE(MIN(k), 0)") &&
      mm.contains("COALESCE(MAX(k), 0)"))
  }

  test("mssql surface matches the reference's published statements") {
    // sql_server.go:398-405: sys.databases gated on state and
    // HAS_DBACCESS, system databases excluded
    val ld = SqlServerDialect.listDatabasesSql
    assert(ld.contains("sys.databases") && ld.contains("HAS_DBACCESS(name) = 1"))
    assert(Seq("master", "tempdb", "model", "msdb").forall(ld.contains))
    // sql_server.go:444-446: sys.tables with SCHEMA_NAME(schema_id)
    val lt = SqlServerDialect.listTablesSql("archive_db")
    assert(lt.contains("sys.tables") && lt.contains("SCHEMA_NAME(schema_id)"))
    assert(lt.contains("[archive_db]"), "db must be bracket-quoted")
    // bracket quoting + dbo defaulting in qualified names
    assert(SqlServerDialect.qualify("db", "t") == "[db].dbo.[t]")
    assert(SqlServerDialect.qualify("db", "s.t") == "[db].s.t",
      "a schema-qualified table must not be re-defaulted to dbo")
    assert(SqlServerDialect.deleteSql("db", "t", "id <= 5") ==
      "DELETE FROM [db].dbo.[t] WHERE id <= 5")
  }

  test("oracle surface matches the reference's published statements") {
    // oracle.go:313: all_users as the database listing
    assert(OracleDialect.listDatabasesSql.contains("all_users"))
    // oracle.go:345: ALL_TABLES filtered by OWNER — reference passes the
    // db through; ours additionally upcases (oracle folds unquoted
    // identifiers up, so a lowercase config value must still match)
    val lt = OracleDialect.listTablesSql("hr_schema")
    assert(lt.toUpperCase.contains("ALL_TABLES"))
    assert(lt.contains("'HR_SCHEMA'"), "owner literal must be upcased")
    // oracle.go:120: COALESCE min/max form
    val mm = OracleDialect.minMaxSql("k", "db", "t", "1 = 1")
    assert(mm.contains("COALESCE(MIN(k), 0)"))
  }

  test("mysql surface matches the reference's published statements") {
    // mysql.go:299,327
    assert(MySqlDialect.listDatabasesSql == "SHOW DATABASES")
    assert(MySqlDialect.listTablesSql("db1") == "SHOW TABLES FROM db1")
    // mysql.go:134-172: delete-back runs in LIMIT batches
    assert(MySqlDialect.batchedDelete)
    assert(Seq(PostgresDialect, SqlServerDialect, OracleDialect, DerbyDialect)
      .forall(!_.batchedDelete))
  }
}
