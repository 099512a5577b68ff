package graft.dml

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, expr, lit, not}

import graft.ParquetFooters
import graft.source.DriverJdbc
import graft.sink.Compaction

/** Delete-after-sync (SURVEY.md §2 K5-K7). On MySQL the reference deletes
  * in rate-limited batches of `LIMIT min(batch, remaining)` with
  * `batchMaxInterval`-second sleeps (source/mysql.go:134-172); other
  * dialects issue one unbatched DELETE (postgres.go:174-187 etc).
  *
  * Two faces here:
  *  - [[batchPlan]] — the pure batching/pacing schedule, which
  *    [[runBatches]] runs statement by statement (a mysql
  *    `JdbcTableSource.deleteWhere`);
  *  - [[deleteFromParquet]] — the sandbox execution: a table rewrite
  *    keeping only the anti-predicate rows (what DELETE means for an
  *    immutable-file table; a real table format makes this transactional).
  */
object DeleteBack {

  final case class DeleteBatch(limit: Long, sleepSecondsAfter: Int)

  /** The mysql-path schedule: total rows under the predicate, deleted in
    * `min(batch, remaining)` chunks, pacing sleep between chunks. */
  def batchPlan(totalRows: Long, batchSize: Long, pacingSeconds: Int): Seq[DeleteBatch] = {
    val out = Seq.newBuilder[DeleteBatch]
    var remaining = totalRows
    while (remaining > 0) {
      val n = math.min(batchSize, remaining)
      remaining -= n
      out += DeleteBatch(n, if (remaining > 0) pacingSeconds else 0)
    }
    out.result()
  }

  /** Runs the mysql schedule for one delete statement: `stmt LIMIT n` for
    * each [[batchPlan]] batch through `exec`, the pacing `sleep` (ms)
    * between batches. Returns the rows `exec` reports deleted. */
  def runBatches(stmt: String, totalRows: Long, batchSize: Long, pacingSeconds: Int,
      sleep: Long => Unit = Thread.sleep)(exec: String => Long): Long =
    batchPlan(totalRows, batchSize, pacingSeconds).map { b =>
      val n = exec(s"$stmt LIMIT ${b.limit}")
      if (b.sleepSecondsAfter > 0) sleep(b.sleepSecondsAfter * 1000L)
      n
    }.sum

  /** Batched delete statements for a JDBC executor (dialect-generic). */
  def deleteSql(db: String, table: String, where: String, limit: Option[Long]): String =
    limit match {
      case Some(n) => s"DELETE FROM $db.$table WHERE $where LIMIT $n"
      case None    => s"DELETE FROM $db.$table WHERE $where"
    }

  /** Live-JDBC DML execution: one statement, returns the update count.
    * The non-mysql delete-back path is exactly one unbatched statement;
    * the mysql path feeds [[runBatches]]' LIMIT batches through here one
    * statement at a time with the pacing sleep between them. Runs on the
    * DRIVER by design — delete-back is a planning-sized control action
    * (one statement per table), never a per-row distributed job — on the
    * connection every control statement opens ([[graft.source.DriverJdbc]]). */
  def executeJdbc(url: String, props: java.util.Properties, sql: String): Long =
    DriverJdbc.update(url, props, sql)

  /** Sandbox execution over a parquet "table": rewrite keeping every row
    * where the predicate is NOT TRUE. SQL DELETE removes only rows where
    * the predicate evaluates to TRUE — a NULL predicate (e.g. a NULL key
    * column) must KEEP the row, so the complement is
    * `NOT coalesce(pred, false)`, not `NOT pred` (NOT NULL = NULL would
    * silently drop those rows). Returns rows deleted.
    *
    * The swap is rename-ASIDE ([[graft.sink.Compaction.swapIn]]), never
    * delete-then-rename: the live table must not be deleted before its
    * replacement is in place, or a crash in between loses the only copy.
    * Recovery ([[graft.sink.Compaction.recoverSwap]], the rewrite in
    * `.rewrite`) runs first so an interrupted prior swap is repaired
    * before the rewrite reads the table; the DELETE is idempotent, so a
    * restored `.old` is simply redone. */
  def deleteFromParquet(spark: SparkSession, path: String, where: String): Long = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(path.stripSuffix("/") + ".rewrite")
    Compaction.recoverSwap(fs, path, tmp): Unit
    val keep = spark.read.parquet(path)
      .where(not(coalesce(expr(where), lit(false))))
    keep.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // rows deleted = footer rows before minus footer rows of the rewrite:
    // the rewrite is the only scan, the counts are metadata reads
    val deleted = ParquetFooters.rowCount(spark, path) -
      ParquetFooters.rowCount(spark, tmp.toString)
    Compaction.swapIn(fs, path, tmp)
    deleted
  }
}
