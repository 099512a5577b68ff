package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Rename-aside swap of a directory with its finished rewrite, and the
  * crash recovery for it. [[swapIn]] moves the live dir to `.old`, the
  * rewrite from `tmp` into place, then deletes `.old`: the live data is
  * always under the dir or under `.old`, never deleted before its
  * replacement is in place. [[recoverSwap]] repairs a crash at any point
  * of that sequence; [[recover]] applies it to an archive target, whose
  * rewrite dir is `.compact` (the name older builds' target compaction
  * used, kept so a crash state they left still recovers). DeleteBack
  * swaps its rewritten source tables through the same two calls, and
  * StagedLoader recovers the target before every ingest. All I/O is
  * Hadoop-FS (file://, hdfs://, s3a://).
  */
object Compaction {

  def tmpPath(targetDir: String) =
    new Path(targetDir.stripSuffix("/") + ".compact")
  def oldPath(targetDir: String) =
    new Path(targetDir.stripSuffix("/") + ".old")

  /** Crash recovery for a target's swap. Idempotent; cheap (two
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
}
