package graft.source

import java.sql.{ResultSet, Types}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.datasources.jdbc.JDBCOptions
import org.apache.spark.sql.jdbc.JdbcDialects

/** Control statements on the driver: catalog queries, planning aggregates,
  * the reconciliation count and delete-back DML each run as one statement
  * on one JDBC connection, with no Spark job. Only the data scan goes
  * through `spark.read.jdbc`.
  *
  * The connection opens the way Spark's JDBC reader opens its own: the
  * reader options (`props`, e.g. [[JdbcDialect.scanOptions]]) parse as
  * `JDBCOptions`, Spark's dialect for the url makes the connection from
  * them, and `sessionInitStatement` runs first when set (the mssql
  * dirty-read setting). Spark-only keys such as `fetchsize` and `driver`
  * never reach the JDBC driver as connection properties. */
object DriverJdbc {

  private def withStatement[A](url: String, props: java.util.Properties, sql: String)(
      run: java.sql.Statement => A): A = {
    val options = new JDBCOptions(
      props.asScala.toMap ++ Map(JDBCOptions.JDBC_URL -> url, JDBCOptions.JDBC_QUERY_STRING -> sql))
    val conn = JdbcDialects.get(url).createConnectionFactory(options)(-1)
    try {
      options.sessionInitStatement.foreach { init =>
        val st = conn.createStatement()
        try st.execute(init): Unit finally st.close()
      }
      val st = conn.createStatement()
      try run(st) finally st.close()
    } finally conn.close()
  }

  /** Run a query and read its result set with `read`. */
  def query[A](url: String, props: java.util.Properties, sql: String)(read: ResultSet => A): A =
    withStatement(url, props, sql) { st =>
      val rs = st.executeQuery(sql)
      try read(rs) finally rs.close()
    }

  /** Run one DML statement; returns its update count. */
  def update(url: String, props: java.util.Properties, sql: String): Long =
    withStatement(url, props, sql)(_.executeUpdate(sql).toLong)

  /** Column `i` of the current row as the string Spark's JDBC reader gives
    * for it (`Row.get(i).toString`): timestamps at µs precision in
    * `java.sql.Timestamp` form, dates as `java.sql.Date`, anything else as
    * the driver's string. NULL is "". */
  def string(rs: ResultSet, i: Int): String = rs.getMetaData.getColumnType(i) match {
    case Types.TIMESTAMP | Types.TIMESTAMP_WITH_TIMEZONE =>
      Option(rs.getTimestamp(i)).fold("") { t =>
        t.setNanos(t.getNanos / 1000 * 1000)
        t.toString
      }
    case Types.DATE => Option(rs.getDate(i)).fold("")(_.toString)
    case _ => Option(rs.getString(i)).getOrElse("")
  }
}
