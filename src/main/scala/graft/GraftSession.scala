package graft

import org.apache.spark.sql.SparkSession

/** Library entry point and the one place a SparkSession is built: every
  * main, tool and spec takes its session from here, so the numbers one
  * entry point measures describe the session the others run.
  *
  * - `spark.sql.legacy.parquet.nanosAsLong=true` — the events fixtures (and
  *   any TIMESTAMP(NANOS) parquet) read as long nanos; `Tables.events`
  *   converts to µs timestamps.
  * - shuffle partitions default to the core count, not Spark's 200 — on a
  *   real cluster callers should size this to data volume instead
  *   (`targetPartitionMB` of shuffle per partition) or rely on AQE
  *   coalescing, which is enabled.
  * - `GraftExtensions` registered, so simhash64/dot_d/minhash_sig/
  *   minhash_shingled/word_ngrams work from SQL.
  * - `spark.hadoop.fs.file.impl` = [[graft.fs.PosixLocalFileSystem]] and
  *   `spark.hadoop.fs.AbstractFileSystem.file.impl` = [[graft.fs.PosixLocalFs]]:
  *   Hadoop's local file system (FileSystem and FileContext APIs) with file
  *   permissions set in-process. Stock Hadoop without libhadoop forks a
  *   `chmod` process for every local file and directory it writes — 44 per
  *   archive run. Hadoop caches one FileSystem per scheme and user, and the
  *   first `file://` instance created decides the class, so this recipe has
  *   to run before anything opens a local path.
  * - `spark.sql.codegen.cache.maxEntries` = 4096, not Spark's 100: the
  *   LRU cache of the classes Spark's code generator compiled (whole-stage
  *   code, projections, predicates) has to hold the engine's working set,
  *   or every pass recompiles what it evicted. Measured working sets: 156
  *   distinct classes for perfbench's 12-query suite, about 2,000 for the
  *   190-query Bench. At 100 the suite recompiled 70–100 classes in every
  *   warm pass and a pass took 4.2 s (median, 4 cores); at 4096 a warm
  *   pass compiles none and takes 2.4 s. The cost is the classes kept:
  *   the suite's resident heap after warmup rose about 1.5 MB (77 → 78 MB).
  *   It is a static conf that Spark's `CodeGenerator` reads once per JVM,
  *   when it first compiles, so it holds only because every session comes
  *   from this recipe (`CodegenCacheSpec`).
  * - `SPARK_GRAFT_EVENTLOG=<dir>`, when set, writes the standard Spark
  *   event log there (`tools/stage_profile.py` renders its per-stage
  *   wall/shuffle/spill table); unset, the session has no event log.
  *
  * `GraftSession.local()` for a local[n] session with n =
  * `SPARK_GRAFT_CPUS` (default 4), `GraftSession.session(master)` for one
  * pointed at a cluster master.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, default 4: the core count of every entry point's
    * session. */
  lazy val defaultCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cores: Int = defaultCores): SparkSession =
    session(s"local[$cores]", cores)

  def session(master: String, cores: Int = defaultCores): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.hadoop.fs.file.impl", classOf[graft.fs.PosixLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.fs.PosixLocalFs].getName)
      .withExtensions(new graft.functions.GraftExtensions)
    sys.env.get("SPARK_GRAFT_EVENTLOG").foreach { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      b.config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", dir)
        // plain single-file JSON so the parser needs no codec
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
