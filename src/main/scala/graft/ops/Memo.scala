package graft.ops

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one place a result is reused across queries.
  *
  * Key: `(session, name, key)`. `name` says what is memoized
  * (`"tables.read"`, `"ann.centroids"`, ...); `key` is the value that
  * identifies one result of it, usually the fixture directory. Sessions
  * compare by identity, so a `newSession()` clone has entries of its own.
  *
  * Lifetime: an entry lives until its session's SparkContext stops. The
  * first entry of a context installs one listener that drops the context's
  * entries at application end; each newly watched context also sweeps
  * the entries of contexts already stopped. Nothing else evicts. Inputs
  * are treated as immutable for an entry's life, except under [[signed]],
  * which re-lists its files on every call and recomputes when they changed.
  *
  * Lock discipline: the compute runs outside the map lock, behind a future.
  * A compute may call the memo for another key; callers of a key whose
  * compute is running wait for that one compute; a compute that asks for
  * its own key throws instead of waiting on itself; a compute that throws
  * is not remembered, so the next call runs it again.
  *
  * A compute runs under [[Materialize]]'s owning scope: frames it
  * materializes keep their blocks for the entry's life, never released
  * by the scope of the query that happened to compute them.
  */
object Memo {
  private final case class Key(session: SparkSession, name: String, key: Any)

  private final class Entry extends CompletableFuture[Any] {
    @volatile var owner: Thread = Thread.currentThread()
  }

  private val entries = new ConcurrentHashMap[Key, Entry]()
  private val watched = ConcurrentHashMap.newKeySet[SparkContext]()

  /** The memoized value of `compute` for `(s, name, key)`. */
  def apply[V](s: SparkSession, name: String, key: Any)(compute: => V): V =
    get(Key(s, name, key), compute)

  /** A directory staged once per `(s, key)`: `write` fills a fresh temp
    * directory, registered with [[TempDirs]] before `write` runs so a
    * failed write cannot leak it. */
  def staged(s: SparkSession, key: String, prefix: String)(write: String => Unit): String =
    apply(s, "staged", key) {
      val dir = TempDirs.register(
        java.nio.file.Files.createTempDirectory(prefix).toString)
      write(dir)
      dir
    }

  /** [[apply]] checked against the data files under `path`
    * ([[graft.ParquetFooters.dataFiles]]): the signature is their paths,
    * lengths and modification times, listed on every call, and a changed
    * signature recomputes. The listing is driver-cheap; `compute` gets it. */
  def signed[V](s: SparkSession, name: String, path: String, key: Any = ())(
      compute: Seq[FileStatus] => V): V = {
    val files = graft.ParquetFooters.dataFiles(s.sessionState.newHadoopConf(), path)
    val sig = files.map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
      .mkString("|")
    val k = Key(s, name, (path, key))
    val (seen, v) = get(k, (sig, compute(files)))
    if (seen == sig) v
    else { entries.remove(k); signed(s, name, path, key)(compute) }
  }

  /** Number of live entries, all sessions. */
  private[graft] def size: Int = entries.size

  private def get[V](k: Key, compute: => V): V = {
    val hit = entries.get(k)
    val e = if (hit != null) hit else {
      val fresh = new Entry
      val prev = entries.putIfAbsent(k, fresh)
      if (prev != null) prev else return run(k, fresh, compute)
    }
    if (!e.isDone && (e.owner eq Thread.currentThread()))
      throw new IllegalStateException(
        s"memo entry ${k.name}(${k.key}) asked for itself while computing")
    try e.join().asInstanceOf[V]
    catch { case c: CompletionException if c.getCause != null => throw c.getCause }
  }

  private def run[V](k: Key, e: Entry, compute: => V): V = {
    watch(k.session.sparkContext)
    try {
      val v = Materialize.pinned(compute)
      e.complete(v): Unit
      v
    } catch {
      case t: Throwable =>
        entries.remove(k, e)
        e.completeExceptionally(t): Unit
        throw t
    } finally e.owner = null
  }

  private def watch(sc: SparkContext): Unit =
    if (watched.add(sc) && !sc.isStopped) {
      // a stopped context serves no queries and holds no blocks to
      // unpersist; keeping its entries would only pin its sessions
      entries.keySet.removeIf(_.session.sparkContext.isStopped)
      watched.removeIf(_.isStopped)
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          entries.keySet.removeIf(_.session.sparkContext eq sc)
          watched.remove(sc): Unit
        }
      })
    }
}
