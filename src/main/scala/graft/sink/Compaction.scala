package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Small-file compaction for the append target. Every staged load commits
  * its own files, so a long-running archive accumulates one file set per
  * batch — at 100 TB that is the classic small-file problem (footer reads
  * and task scheduling dominate scans). Compaction rewrites the target
  * into ~targetBytes files sized for the scan path (HDFS-block/row-group
  * scale), the same maintenance a table format's OPTIMIZE performs.
  *
  * Replay safety: the per-ingest `ingest-<id>.done` tombstones are carried
  * across the rewrite, so a batch replayed AFTER its data files were
  * compacted away is recognized by StagedLoader.copyInto as already
  * committed (tombstone present, no prefix files) and skipped — without
  * this, compaction would reopen the at-least-once duplication window.
  *
  * All I/O is Hadoop-FS (file://, hdfs://, s3a://). The rewrite goes to a
  * sibling temp dir and is swapped in by rename-aside (target → .old, tmp
  * → target, delete .old) — on a real deployment the swap is the table
  * format's atomic commit. A crash at any point leaves the live data
  * recoverable: [[recover]] restores a stranded `.old` and clears stale
  * temp dirs, and both compact() and the incremental-sync entry points
  * call it first. The failure this closes: a delete-then-rename swap
  * crashing mid-swap leaves the target absent, and a later incremental
  * run would read watermark None and silently re-archive from scratch
  * while the only copy of the compacted data sat stranded in `.compact`.
  */
object Compaction {

  final case class Report(filesBefore: Int, filesAfter: Int, rows: Long)

  def tmpPath(targetDir: String) =
    new Path(targetDir.stripSuffix("/") + ".compact")
  def oldPath(targetDir: String) =
    new Path(targetDir.stripSuffix("/") + ".old")

  /** Crash recovery for the compaction swap. Idempotent; cheap (two
    * existence probes) when there is nothing to do. See [[recoverSwap]].
    * @return true when it repaired something */
  def recover(spark: SparkSession, targetDir: String): Boolean =
    recoverSwap(new Path(targetDir).getFileSystem(spark.sessionState.newHadoopConf()),
      targetDir, tmpPath(targetDir))

  /** Crash recovery for a rename-aside swap of `dir` with its rewrite
    * `tmp` ([[swapIn]]) — three states:
    *
    *  - `dir` missing + `.old` present → the crash hit between the two
    *    renames: restore `.old` as the live data (the rewrite in `tmp`, if
    *    complete, is simply redone by the caller).
    *  - `dir` present + `.old` present → crash after the swap, before
    *    cleanup: the `.old` copy is obsolete, delete it.
    *  - stale `tmp` → always safe to delete (never live).
    *
    * @return true when it repaired something */
  def recoverSwap(fs: FileSystem, dir: String, tmp: Path): Boolean = {
    val target = new Path(dir)
    val old = oldPath(dir)
    var repaired = false
    if (fs.exists(old)) {
      if (!fs.exists(target)) {
        if (!fs.rename(old, target))
          sys.error(s"rename-aside recovery failed: $old -> $target")
      } else fs.delete(old, true)
      repaired = true
    }
    if (fs.exists(tmp)) { fs.delete(tmp, true); repaired = true }
    repaired
  }

  /** Swap the finished rewrite `tmp` in for `dir` by rename-aside (`dir` →
    * `.old`, `tmp` → `dir`, delete `.old`): the live data is ALWAYS under
    * `dir` or `.old` — never deleted before its replacement is in place. */
  def swapIn(fs: FileSystem, dir: String, tmp: Path): Unit = {
    val old = oldPath(dir)
    if (!fs.rename(new Path(dir), old))
      sys.error(s"rename-aside swap (aside) failed for $dir")
    if (!fs.rename(tmp, new Path(dir)))
      sys.error(s"rename-aside swap (in) failed for $dir") // .old still holds the data
    fs.delete(old, true): Unit
  }

  /** Run [[compact]] only when the small-file problem is real: at least
    * `minSmallFiles` data files below `smallBytes`. The rewrite is a full
    * whole-directory swap — a PARTIAL rewrite (moving only small files)
    * cannot be made duplication-safe on a plain FS, because committing
    * "new compacted files in, originals out" spans multiple non-atomic
    * renames with no manifest to arbitrate a crash in the middle; that is
    * precisely the problem table-format OPTIMIZE solves with a manifest
    * commit. So the knob here is WHEN to pay for the rewrite, not how
    * much of it to do. Returns None when skipped. */
  def compactIfNeeded(spark: SparkSession, targetDir: String,
      targetBytes: Long = 128L << 20, smallBytes: Long = 32L << 20,
      minSmallFiles: Int = 8): Option[Report] = {
    recover(spark, targetDir)
    val target = new Path(targetDir)
    val fs: FileSystem = target.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(target)) return None
    val small = fs.listStatus(target)
      .count(s => s.getPath.getName.endsWith(".parquet") && s.getLen < smallBytes)
    if (small < minSmallFiles) None
    else Some(compact(spark, targetDir, targetBytes))
  }

  def compact(spark: SparkSession, targetDir: String,
      targetBytes: Long = 128L << 20): Report = {
    recover(spark, targetDir)
    val target = new Path(targetDir)
    val fs: FileSystem = target.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(target)) return Report(0, 0, 0L)
    val entries = fs.listStatus(target).toSeq
    val parts = entries.filter(s => s.getPath.getName.endsWith(".parquet"))
    if (parts.isEmpty) return Report(0, 0, 0L)
    val tombstones = entries.map(_.getPath)
      .filter(p => p.getName.startsWith("_ingest-") && p.getName.endsWith(".done"))
    val total = parts.map(_.getLen).sum
    val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    val tmp = tmpPath(targetDir)
    // row count from the PRE-rewrite footers: metadata reads, no scan job
    val rows = graft.ParquetFooters.rowCount(spark, targetDir)
    spark.read.parquet(targetDir)
      .repartition(n).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // RECREATE the tombstones in tmp (they are empty markers) and leave
    // the originals in the live target until after the swap — moving them
    // out first would strip replay protection if the swap crashes, and a
    // compact() re-run's Overwrite would then wipe the only copies
    tombstones.foreach { t =>
      fs.create(new Path(tmp, t.getName), true).close()
    }
    swapIn(fs, targetDir, tmp)
    val after = fs.listStatus(target)
      .count(_.getPath.getName.endsWith(".parquet"))
    Report(parts.length, after, rows)
  }
}
