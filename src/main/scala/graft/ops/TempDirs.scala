package graft.ops

/** Process-lifetime temp directories with recursive removal at JVM exit —
  * shared by every query that stages data on disk (streaming landing
  * dirs, archive targets, [[Memo.staged]] directories), so there is ONE
  * registry and ONE shutdown hook to maintain.
  */
object TempDirs {
  private val dirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  locally {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) {
        val children = f.listFiles()
        // listFiles is null if the dir vanished concurrently — nothing to do
        if (children != null) children.foreach(rm)
      }
      f.delete(): Unit
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.values().forEach(d => rm(new java.io.File(d)))))
  }

  /** Register an existing path for exit-time removal; returns it. */
  def register(path: String): String = { dirs.put(path, path); path }
}
