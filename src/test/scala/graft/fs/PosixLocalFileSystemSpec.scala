package graft.fs

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec
import graft.sink.StagedLoader

/** [[PosixLocalFileSystem]] sets the permission bits stock Hadoop sets,
  * and answers symlink lookups, without a process per call. The fork check
  * is a JFR recording of `jdk.ProcessStart` events: stock Hadoop without
  * libhadoop records one `chmod` per local file or directory it writes and
  * one `readlink` per link-status lookup. */
class PosixLocalFileSystemSpec extends SparkSpec {

  private def hconf = spark.sessionState.newHadoopConf()

  /** Commands of the processes this JVM starts while `body` runs. Hadoop's
    * `Shell` probes for `setsid` with one process when the class loads,
    * once per JVM; it is loaded first, so only per-call forks count. */
  private def forks(body: => Unit): Seq[String] = {
    org.apache.hadoop.util.Shell.isSetsidAvailable: Unit
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(f) }
  }

  private def oct(s: String): Int = Integer.parseInt(s, 8)
  private def perm(s: String) = new FsPermission(oct(s).toShort)

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** (directory?, .crc?, mode) of everything under `root`, with counts. */
  private def shapes(root: String): Map[(Boolean, Boolean, Int), Int] = {
    val s = Files.walk(java.nio.file.Paths.get(root))
    try s.iterator().asScala.toSeq
      .map(p => (Files.isDirectory(p), p.getFileName.toString.endsWith(".crc"), mode(p)))
      .groupBy(identity).view.mapValues(_.size).toMap
    finally s.close()
  }

  private def ingest(root: String): Long = {
    val src = spark.read.parquet(s"$sf/orders.parquet")
    new StagedLoader(spark, s"$root/t", src.schema, orderedCommitKey = Some("o_orderkey"))
      .ingest(src, s"$root/stg")
  }

  test("one staged ingest forks no process; its files and directories get " +
       "stock Hadoop's permission bits") {
    val ours = Files.createTempDirectory("graft-posix").toString
    var loaded = 0L
    val started = forks { loaded = ingest(ours) }
    assert(started.isEmpty, s"processes started during ingest: $started")
    assert(loaded > 0)
    // the same ingest through stock Hadoop (uncached, so this session's
    // cached instance is left alone), under the same process umask
    val stock = Files.createTempDirectory("graft-stock").toString
    val keys = Seq("fs.file.impl" -> classOf[org.apache.hadoop.fs.LocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    val stockStarted =
      try forks { assert(ingest(stock) == loaded) }
      finally keys.foreach { case (k, _) => spark.conf.unset(k) }
    // the recording sees the forks it is there to catch
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable)
      assert(stockStarted.exists(_.contains("chmod")), stockStarted)
    assert(shapes(s"$ours/t") == shapes(s"$stock/t"))
  }

  test("explicit modes round-trip; a sticky bit takes the stock path") {
    val fs = FileSystem.get(URI.create("file:///"), hconf)
    assert(fs.isInstanceOf[PosixLocalFileSystem])
    val root = Files.createTempDirectory("graft-modes")
    val dir = new Path(root.toUri.toString, "d")
    val file = new Path(dir, "f")
    val started = forks {
      assert(fs.mkdirs(dir, perm("700")))
      fs.create(file, perm("600"), false, 4096, 1.toShort, 1L << 20, null).close()
    }
    assert(started.isEmpty, s"processes started: $started")
    assert(mode(root.resolve("d")) == oct("700"))
    assert(mode(root.resolve("d/f")) == oct("600"))
    assert(Files.exists(root.resolve("d/.f.crc")), "checksummed, as stock")
    fs.setPermission(file, perm("640"))
    assert(mode(root.resolve("d/f")) == oct("640"))
    fs.setPermission(dir, perm("1777"))
    assert(mode(root.resolve("d")) == oct("1777"))
  }

  test("the FileContext API writes through the same file system") {
    val fc = FileContext.getFileContext(URI.create("file:///"), hconf)
    assert(fc.getDefaultFileSystem.isInstanceOf[PosixLocalFs])
    val root = Files.createTempDirectory("graft-fc")
    val file = new Path(root.toUri.toString, "c/state")
    val started = forks {
      fc.mkdir(file.getParent, perm("750"), true)
      fc.create(file, java.util.EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(perm("640"))).close()
    }
    assert(started.isEmpty, s"processes started: $started")
    assert(mode(root.resolve("c")) == oct("750"))
    assert(mode(root.resolve("c/state")) == oct("640"))
    assert(Files.exists(root.resolve("c/.state.crc")), "checksummed, as stock LocalFs")
  }

  test("a FileContext rename forks no process; link status comes from java.nio") {
    val fc = FileContext.getFileContext(URI.create("file:///"), hconf)
    val root = Files.createTempDirectory("graft-rename")
    def at(name: String) = new Path(root.toUri.toString, name)
    Seq("a", "b").foreach(n => fc.create(at(n), java.util.EnumSet.of(CreateFlag.CREATE)).close())
    // a streaming checkpoint commit: temp file renamed onto a new name,
    // then over an existing one
    val started = forks {
      fc.rename(at("a"), at("c"), Options.Rename.NONE)
      fc.rename(at("b"), at("c"), Options.Rename.OVERWRITE)
    }
    assert(started.isEmpty, s"processes started: $started")
    assert(Files.exists(root.resolve("c")) && !Files.exists(root.resolve("a")) &&
      !Files.exists(root.resolve("b")))

    def raw(fs: RawLocalFileSystem) = { fs.initialize(URI.create("file:///"), hconf); fs }
    val (ours, stock) = (raw(new PosixRawLocalFileSystem), raw(new RawLocalFileSystem))
    def fields(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory, s.isSymlink,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup,
      s.getReplication, s.getBlockSize)
    // a regular file or directory: stock getFileStatus's fields
    for (p <- Seq(at("c"), new Path(root.toUri.toString)))
      assert(fields(ours.getFileLinkStatus(p)) == fields(stock.getFileStatus(p)))
    // stock never sees a link (it forks `readlink` on the `file:` path);
    // a real symlink now reports one, with its target
    Files.createSymbolicLink(root.resolve("l"), root.resolve("c"))
    val stockStarted = forks { assert(!stock.getFileLinkStatus(at("l")).isSymlink) }
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable)
      assert(stockStarted.exists(_.contains("readlink")), stockStarted)
    val link = fc.getFileLinkStatus(at("l"))
    assert(link.isSymlink && !link.isDirectory)
    assert(link.getSymlink == new Path(root.resolve("c").toUri.toString))
    assert(fc.getLinkTarget(at("l")) == new Path(root.resolve("c").toString))
    intercept[java.io.IOException](fc.getLinkTarget(at("c")))
  }
}
