package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import graft.ParquetFooters

/** The sink side of the pipeline (SURVEY.md §2 K1-K4): NDJSON staging,
  * schema-aligned bulk append, classified retry, and the idempotency gate.
  *
  * Staging + load mirrors the reference's stage-upload + COPY INTO
  * (ingester/ingest_databend.go:106-195): the batch is written as NDJSON to
  * a staging directory, then loaded into the target with column alignment
  * by name — absent columns are NULL (`missing_field_as = FIELD_DEFAULT`
  * over columns without a default), unknown columns are dropped. `purge` deletes the
  * staging files after a successful load (COPY ... PURGE = true).
  *
  * All target/staging I/O goes through the Hadoop FileSystem API, so the
  * dirs may live on any Hadoop-supported store (file://, hdfs://, s3a://) —
  * the object-storage deployment, not just the local sandbox. On a real
  * deployment a table format's atomic commit replaces the rename loop; the
  * protocol here (prefix cleanup → temp write → ordered renames → durable
  * `.done` tombstone) gives the same replay-safety guarantees with plain
  * files.
  */
/** @param compression staging codec (`COMPRESSION = AUTO` analogue,
  *   ingester/ingest_databend.go:183-185): any Spark codec name — "gzip"
  *   cuts staging I/O 3-5× on text-heavy rows; "none" matches the
  *   reference's uncompressed temp files. The read side auto-detects by
  *   file extension either way (that is the AUTO).
  * @param stagingFormat the reference stages NDJSON only ("json", the
  *   default, `FILE_FORMAT = (type = NDJSON)`); "csv" covers the other
  *   interchange format warehouses bulk-load, and "parquet" is the
  *   zero-fidelity-loss fast path when the stage store allows it (binary
  *   columns, exact types, ~5× smaller than NDJSON — at 100 TB the
  *   staging hop's bytes are the bottleneck); "orc" is the same full-
  *   fidelity columnar path for warehouses whose bulk loader prefers ORC.
  * @param orderedCommitKey when set, each batch is sorted on this column
  *   before commit and its files are renamed in ascending key order — a
  *   crash mid-commit then leaves a key-PREFIX of the batch, so
  *   `max(committed key)` remains a sound incremental watermark (see
  *   Archiver.runIncremental). */
final class StagedLoader(spark: SparkSession, val targetDir: String,
    sinkSchema: StructType, purge: Boolean = true, compression: String = "gzip",
    val orderedCommitKey: Option[String] = None,
    stagingFormat: String = "json") {

  require(Set("json", "csv", "parquet", "orc")(stagingFormat),
    s"unsupported staging format: $stagingFormat")

  private def hconf = spark.sessionState.newHadoopConf()
  private val targetPath = new Path(targetDir)
  private def fsOf(p: Path): FileSystem = p.getFileSystem(hconf)

  /** Every read or commit of the target repairs an interrupted rename-aside
    * swap ([[Compaction.swapIn]]) FIRST. Without this, a crash between the
    * swap's two renames (target absent, live data in `target.old`) then any
    * ingest would recreate the target with just the new batch — and a
    * LATER Compaction.recover would then read that state as "swap
    * completed, `.old` obsolete" and delete the only copy of the archived
    * history. Funneling recovery through the loader's own chokepoints
    * (gate, commit, watermark reads) closes that window: the `.old` data
    * is restored before anything can observe or recreate the target. */
  private def ensureRecovered(): Unit =
    Compaction.recover(spark, targetDir): Unit

  /** Target rows matching `where`: the idempotency gate's count
    * (cmd/main.go:74-82) and reconciliation's target side. */
  def targetCount(where: String): Long = {
    ensureRecovered()
    if (!fsOf(targetPath).exists(targetPath)) 0L
    else spark.read.schema(sinkSchema).parquet(targetDir).where(where).count()
  }

  /** Test failpoint: invoked after the load commit, before purge — still
    * inside the retry-classified region, so specs can force a post-commit
    * failure and assert the retry does not duplicate rows. */
  private[graft] var postLoadFailpoint: () => Unit = () => ()

  /** Stage one batch as NDJSON and load it, returning rows loaded. The
    * source is read once (the stage write) and the stage once (the load
    * write); an empty batch stages, loads and commits nothing
    * (ingest_databend.go:78-80).
    *
    * Stage/load failures are classified [[Retry.RetryableIngestError]]
    * (the reference retries staged-load errors only,
    * ingest_databend.go:206-241) and the whole call is retry-idempotent:
    * the stage write is an Overwrite, and the load commits files under a
    * deterministic per-ingest prefix that a retry cleans up first — a
    * partial or even completed prior attempt never duplicates rows. */
  def ingest(batch: DataFrame, stagingDir: String): Long = {
    try {
      // full-µs timestampFormat: Spark's json/csv default is MILLISECOND
      // precision, which silently truncates µs timestamps through the
      // staging hop — fatal for the time-incremental watermark (a
      // truncated max re-loads the boundary row on every delta run)
      val w = batch.write.mode(SaveMode.Overwrite)
        .option("compression", compression)
        .option("timestampFormat", StagedLoader.MicrosTimestampFormat)
      stagingFormat match {
        case "json"    => w.json(stagingDir) // K1: df.write.json = NDJSON
        // nullValue sentinel keeps NULL distinguishable from "" through the
        // text round-trip (both serialize to an empty field otherwise)
        case "csv"     => w.option("header", "true")
          .option("nullValue", StagedLoader.CsvNullSentinel).csv(stagingDir)
        case "parquet" => w.parquet(stagingDir)
        // ORC names its deflate-family codec "zlib" (no "gzip" alias), so
        // the loader-level default maps across; other codec names pass
        // through for callers who pick ORC-specific ones
        case "orc"     => w.option("compression",
          if (compression == "gzip") "zlib" else compression).orc(stagingDir)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        throw Retry.RetryableIngestError("stage", e)
    }
    val loaded =
      try {
        val n = copyInto(stagingDir)
        postLoadFailpoint()
        n
      } catch {
        case e: Retry.RetryableIngestError => throw e
        case scala.util.control.NonFatal(e) =>
          throw Retry.RetryableIngestError("load", e)
      }
    if (purge) {
      val stg = new Path(stagingDir)
      fsOf(stg).delete(stg, true): Unit
    }
    loaded
  }

  /** Deterministic ingest identity — stable across retries of the same
    * batch, distinct across batches. Hashes the staging dir's FULL
    * normalized path: different runs stage under different roots but share
    * table-derived basenames, and a basename-derived id would let a later
    * run's commit supersede an earlier run's files. */
  private def ingestId(stagingDir: String): String =
    // full 128-bit name-UUID: a truncated id colliding across staging dirs
    // would let one batch's prefix cleanup delete another's committed files
    java.util.UUID.nameUUIDFromBytes(
      new Path(stagingDir).toString.getBytes("UTF-8")).toString

  /** K2: NDJSON staging → aligned append into the target.
    *
    * Idempotent commit protocol (the COPY-INTO staged-file dedup of the
    * reference, expressed as files):
    *  1. a durable `ingest-<id>.done` tombstone with NO surviving data
    *     files means the batch was committed and an external rewrite (a
    *     table format's OPTIMIZE, say) later moved its rows — a replay is
    *     a no-op (without this, such a rewrite would reopen the
    *     at-least-once window);
    *  2. otherwise write the aligned batch to the private `.load-<id>` temp
    *     dir — the stage's one read — and take the loaded row count from
    *     that dir's parquet footers, before touching the target. A
    *     zero-row batch drops the temp dir and returns 0: no target dir,
    *     no tombstone;
    *  3. invalidate the tombstones, remove any `ingest-<id>-*` files a
    *     failed or replayed prior attempt left, rename the parts in under
    *     the prefix, then write the tombstone. Renames are the only
    *     mutation of the target.
    *
    * With `orderedCommitKey` set, a batch whose staged bytes fit in
    * `spark.sql.adaptive.coalescePartitions.minPartitionSize` is written
    * as ONE file sorted on the key (`repartition(1)`: the parse stays
    * parallel, no range-sample job). AQE's coalesce target never drops
    * below that size, so it would merge a range shuffle of such a batch
    * into that one file anyway. A larger batch is range-partitioned on
    * the key, so its part files are ascending, non-overlapping key ranges
    * in name order. */
  private def copyInto(stagingDir: String): Long = {
    ensureRecovered() // never recreate a target whose live data sits in .old
    val id = ingestId(stagingDir)
    // earlier releases truncated the id to 13 chars; honor their commits so
    // a replay against an old target stays idempotent. The legacy id is a
    // string-prefix of the full id, so the legacy file prefix subsumes the
    // current one for listing/cleanup.
    val legacyId = id.take(13)
    val tfs = fsOf(targetPath)
    // underscore prefix: Spark's file listing skips _-prefixed entries, so
    // the tombstone never reaches the parquet footer reader
    val done = new Path(targetPath, s"_ingest-$id.done")
    val doneLegacy = new Path(targetPath, s"_ingest-$legacyId.done")
    // EXACT id match, not prefix: the legacy id is a prefix of every full
    // id that shares its first 13 chars, so a prefix filter would let this
    // batch's cleanup delete a COLLIDING batch's committed full-id files —
    // the very cross-batch collision the full UUID exists to prevent.
    // File names are ingest-<id>-NNNNN.parquet; compare the embedded id.
    val filePat = """ingest-(.+)-\d{5}\.parquet""".r
    def prefixFiles(): Seq[Path] =
      if (!tfs.exists(targetPath)) Seq.empty
      else tfs.listStatus(targetPath).toSeq.map(_.getPath)
        .filter(_.getName match {
          case filePat(fid) => fid == id || fid == legacyId
          case _            => false
        })
    if ((tfs.exists(done) || tfs.exists(doneLegacy)) && prefixFiles().isEmpty)
      return 0L
    val tmp = new Path(targetDir.stripSuffix("/") + s".load-$id")
    sorted(align(readStage(stagingDir)), stagingDir)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val loaded = ParquetFooters.rowCount(spark, tmp.toString)
    if (loaded == 0L) {
      fsOf(tmp).delete(tmp, true)
      return 0L
    }
    // invalidate the tombstones BEFORE touching data files: a crash between
    // deleting the prefix files and re-committing must leave a state the
    // next replay redoes (no tombstone, no files), never one it skips
    // (stale tombstone + deleted files = silent loss)
    tfs.delete(done, false)
    tfs.delete(doneLegacy, false)
    prefixFiles().foreach(p => tfs.delete(p, true))
    tfs.mkdirs(targetPath)
    // sorted part files are ascending key ranges in name order, so this
    // loop commits in key order when orderedCommitKey is set
    val parts = fsOf(tmp).listStatus(tmp).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    parts.zipWithIndex.foreach { case (p, i) =>
      val dest = new Path(targetPath, f"ingest-$id-$i%05d.parquet")
      if (!tfs.rename(p, dest))
        sys.error(s"commit rename failed: $p -> $dest")
    }
    tfs.create(done, true).close()
    fsOf(tmp).delete(tmp, true)
    loaded
  }

  private def readStage(stagingDir: String): DataFrame =
    stagingFormat match {
      case "json" => spark.read.schema(stagingSchema)
        .option("timestampFormat", StagedLoader.MicrosTimestampFormat)
        .json(stagingDir)
      // multiLine: the writer quotes embedded newlines in free-text columns;
      // the default reader splits records at those newlines and corrupts
      // the rows. (multiLine disables intra-file splits, but staged files
      // are batch-sized and gzip'd — they are one split regardless.)
      case "csv" => spark.read.schema(stagingSchema)
        .option("timestampFormat", StagedLoader.MicrosTimestampFormat)
        .option("header", "true")
        .option("multiLine", "true")
        .option("nullValue", StagedLoader.CsvNullSentinel)
        .option("emptyValue", "")
        .csv(stagingDir)
      case "parquet" => spark.read.parquet(stagingDir)
      case "orc"     => spark.read.orc(stagingDir)
    }

  /** The ordered-commit layout (see [[copyInto]]): one key-sorted file
    * when the staged bytes fit AQE's smallest coalesced partition, else
    * key ranges. */
  private def sorted(aligned: DataFrame, stagingDir: String): DataFrame =
    orderedCommitKey.fold(aligned) { k =>
      val stagedBytes = ParquetFooters.dataFiles(hconf, stagingDir).map(_.getLen).sum
      val oneFile = stagedBytes <=
        spark.sessionState.conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      (if (oneFile) aligned.repartition(1) else aligned.repartitionByRange(col(k)))
        .sortWithinPartitions(col(k))
    }

  /** Read NDJSON with the sink's types but tolerate missing fields. */
  private def stagingSchema: StructType =
    StructType(sinkSchema.fields.map(_.copy(nullable = true)))

  /** FIELD_DEFAULT alignment: select sink columns by name; a column absent
    * from the batch is NULL. */
  def align(df: DataFrame): DataFrame = {
    val present = df.columns.toSet
    df.select(sinkSchema.fields.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }

  /** High-watermark read for incremental sync: max of the split key
    * already in the target (None when the target is empty/absent).
    * BigInt via decimal(20,0) — the split-key domain is uint64 (the
    * reference's NullUint64), whose top half a Long cast would overflow
    * (ANSI error, or NULL→full-reload duplication with ANSI off). */
  def maxKey(key: String): Option[BigInt] = {
    ensureRecovered()
    if (!fsOf(targetPath).exists(targetPath)) None
    else {
      val r = spark.read.schema(sinkSchema).parquet(targetDir)
        .agg(max(col(key)).cast("decimal(20,0)")).head()
      if (r.isNullAt(0)) None else Some(BigInt(r.getDecimal(0).toBigInteger))
    }
  }

  /** Time watermark for incremental sync: max of the time key, at FULL
    * microsecond precision — a second-truncated watermark would re-load
    * (duplicate) the sub-second tail of the last committed instant. */
  def maxTime(key: String): Option[String] = {
    ensureRecovered()
    if (!fsOf(targetPath).exists(targetPath)) None
    else {
      val r = spark.read.schema(sinkSchema).parquet(targetDir)
        .agg(date_format(max(col(key)), "yyyy-MM-dd HH:mm:ss.SSSSSS")).head()
      Option(r.getString(0))
    }
  }
}

object StagedLoader {
  /** Staging text formats carry timestamps at full µs precision. */
  val MicrosTimestampFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** CSV NULL marker (the \N convention), keeping NULL and "" distinct
    * through text staging. Known text-format limit: a data value that IS
    * the two-character string `\N` reads back as NULL — adversarial text
    * should stage as parquet (full fidelity) instead. */
  val CsvNullSentinel = "\\N"
}

object Retry {
  /** Error classification (ingest_databend.go:25-29,206-241): only
    * staged-load failures retry; everything else propagates. Backoff
    * doubles from 1s up to maxDelay, at most maxAttempts tries. */
  final case class RetryableIngestError(stage: String, cause: Throwable)
      extends RuntimeException(s"retryable $stage failure: ${cause.getMessage}", cause)

  def withRetry[A](maxAttempts: Int = 500,
      initialDelayMs: Long = 1000,
      maxDelayMs: Long = 60 * 60 * 1000,
      sleep: Long => Unit = Thread.sleep)(body: => A): A = {
    var attempt = 0
    var delay = initialDelayMs
    while (true) {
      attempt += 1
      try return body
      catch {
        case _: RetryableIngestError if attempt < maxAttempts =>
          sleep(delay)
          delay = math.min(delay * 2, maxDelayMs)
        case e: RetryableIngestError => throw e
      }
    }
    sys.error("unreachable")
  }
}
