package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated TPC-H-ish parquet fixtures (TESTDATA.md).
  *
  * Every operator in the suite takes `(SparkSession, sfDir)` and resolves its
  * inputs here, so the scan is always a plain parquet relation that Catalyst
  * can push filters/projections into (checked via `.explain("formatted")` —
  * `PushedFilters`/`ReadSchema` must reflect the query, see specs).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Memoized per (session, path): repeated spark.read.parquet calls re-list
  // files and re-read footers (~50-100 ms each); the suite reads the same
  // ten tables hundreds of times. DataFrames are immutable plans — reuse is
  // safe.
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    Memo(spark, "tables.read", path)(spark.read.parquet(path))
  }

  /** Exact table row count from the parquet FOOTERS, read driver-side —
    * the metadata probe a planner uses for path decisions (e.g.
    * pack_sequences' hybrid prefix sum). No Spark job: a `df.count()`
    * schedules a scan stage (~150 ms warm at sf0.1) where the footers
    * already carry the answer ([[graft.ParquetFooters]]); memoized per
    * (session, path) under the file listing ([[Memo.signed]]) so a
    * rewrite invalidates. */
  def parquetRowCount(spark: SparkSession, dir: String, name: String): Long =
    Memo.signed(spark, "tables.rowCount", s"$dir/$name.parquet")(files =>
      graft.ParquetFooters.rowCount(spark.sessionState.newHadoopConf(), files))

  /** Total on-disk bytes of a table's data files, from the driver-side
    * listing alone (no footer reads, no Spark job) — the size probe for
    * planning gates where ROW count is the wrong proxy (a broadcast
    * decision cares how big the data is, not how many rows it has). */
  def parquetBytes(spark: SparkSession, dir: String, name: String): Long =
    dataFiles(spark, dir, name).map(_.getLen).sum

  /** Spread a scan across the session's parallelism — CONDITIONALLY. The
    * fixtures are single-row-group parquet files, so Spark schedules the
    * whole scan as one task and CPU-heavy per-row work (JSON codec,
    * hashing, decode) would run on one core; the repartition stands in
    * for the row-group splitting a real deployment's files get. But it
    * must be a no-op when the scan ALREADY has enough input partitions —
    * a production plan over splittable multi-file input must not inherit
    * an unconditional exchange of corpus text.
    *
    * The probe is METADATA-ONLY: for a file-source relation (every call
    * site — the fixtures are parquet scans) the scheduled partition count
    * is recomputed from the leaf-file listing with Spark's own split-and-
    * pack arithmetic (`FilePartition.maxSplitBytes` + the greedy bin-pack
    * in `FilePartition.getFilePartitions`), so query construction never
    * forces physical planning of the scan. Only a non-file plan falls
    * back to `df.rdd.getNumPartitions`, memoized per semantic plan so the
    * planning cost is paid at most once per distinct input. */
  def fan(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.conf.get("spark.sql.shuffle.partitions", "8").toInt
    val n = plannedScanPartitions(s, df).getOrElse(rddPartitionsMemo(s, df))
    if (n >= target) df else df.repartition(target)
  }

  /** Scheduled partition count of a single-file-relation plan, from the
    * file listing alone (no RDD, no physical planning), through the calls
    * the file scan makes: `FilePartition.maxSplitBytes`,
    * `PartitionedFileUtil.splitFiles` per file, and
    * `FilePartition.getFilePartitions` over the splits, largest first.
    * None when the plan is not exactly one HadoopFsRelation (fallback
    * path). */
  private[ops] def plannedScanPartitions(s: SparkSession, df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.PartitionedFileUtil
    import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
    val rels = df.queryExecution.analyzed.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation]
    }
    if (rels.size != 1) None
    else {
      val rel = rels.head
      val dirs = rel.location.listFiles(Nil, Nil)
      val maxSplit = FilePartition.maxSplitBytes(s, dirs)
      val splits = dirs.flatMap { dir =>
        dir.files.flatMap { f =>
          val path = f.getPath
          PartitionedFileUtil.splitFiles(f, path,
            rel.fileFormat.isSplitable(s, rel.options, path), maxSplit, dir.values)
        }
      }.sortBy(_.length)(Ordering[Long].reverse)
      Some(FilePartition.getFilePartitions(s, splits, maxSplit).size)
    }
  }

  private def rddPartitionsMemo(s: SparkSession, df: DataFrame): Int =
    Memo(s, "tables.rddPartitions", df.queryExecution.analyzed.semanticHash())(
      df.rdd.getNumPartitions)

  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")
  /** events.parquet's `ts` column has shipped in two physical shapes
    * across fixture generations, both normalized here to one logical
    * contract: session-TZ (UTC) microsecond TimestampType.
    *
    *  - TIMESTAMP(NANOS): Spark's parquet reader rejects it; read as
    *    long nanos (legacy conf) and truncate to µs — the same ns→µs
    *    truncation DuckDB applies casting TIMESTAMP_NS to TIMESTAMP.
    *    The conf is a SESSION-LEVEL requirement, not a per-read one:
    *    the parquet source re-reads `nanosAsLong` from the session's
    *    SQLConf at every action's physical planning, so a save/restore
    *    here would make later executions of the returned frame throw.
    *    Hence: set once, idempotently, for the life of the session.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): reads natively as
    *    TIMESTAMP_NTZ; cast to TimestampType. With the session pinned
    *    to UTC the cast is a pure type relabel (identical micros),
    *    matching DuckDB's naive TIMESTAMP view of the same file.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (!s.conf.getOption(key).contains("true")) s.conf.set(key, "true")
    val df = t(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  /** Sorted data-file listing of a table ([[graft.ParquetFooters.dataFiles]]),
    * for planners that probe a bounded, region-covering SUBSET of files
    * rather than the whole scan. */
  def dataFiles(spark: SparkSession, dir: String,
                name: String): Seq[org.apache.hadoop.fs.FileStatus] =
    graft.ParquetFooters.dataFiles(spark.sessionState.newHadoopConf(),
      s"$dir/$name.parquet")

  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
