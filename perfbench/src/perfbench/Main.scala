package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark process: one workload, one session, a closed loop of iterations.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --fixtures DIR --work DIR --out FILE --queries FILE [--record FILE]
  *
  * Writes the result (metrics by name, attempted/failed operations, errors)
  * as JSON to `--out`; `perfbench/run.py` turns it into the result line. */
object Main {
  /** Stop starting iterations once the process has run this long, so a run
    * ends well inside the 180-second limit on a slow host. */
  val BudgetSeconds = 140.0
  /** Set-up is repeated this many times and its median reported. */
  val Stagings = 3
  /** Fewest timed iterations a run makes, however short `--seconds` is; a
    * traced run alternates traced and untraced ones. */
  val MinIterations = 3
  val MinTracedIterations = 6

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      fixtures: String, work: String, out: String, queries: String, record: Option[String])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("fixtures"), need("work"), need("out"),
      need("queries"), m.get("record"))
  }

  def workload(o: Opts, spark: SparkSession): Workload = o.workload match {
    case "archive_jdbc" => new ArchiveJdbc(spark, s"${o.fixtures}/sf0.1", o.work, o.seed)
    case "archive_time" => new ArchiveTime(spark, s"${o.fixtures}/sf0.1", o.work, o.seed)
    case "query_suite" =>
      new QuerySuite(spark, s"${o.fixtures}/sf0.01", o.work, o.seed, o.queries)
    case w => sys.error(s"unknown workload: $w")
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args)
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    try o.record match {
      case Some(path) => record(spark, o, path)
      case None =>
        val json = measure(spark, o, sessionS, jvmStartMs)
        Files.write(Paths.get(o.out), json.getBytes(StandardCharsets.UTF_8)): Unit
    } finally spark.stop()
  }

  private def secondsOf(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def measure(spark: SparkSession, o: Opts, sessionS: Double, jvmStartMs: Long): String = {
    val w = workload(o, spark)
    try {
      val stageS = (1 to Stagings).map(_ => secondsOf(w.stage()))
      val warm = ArrayBuffer.empty[Iter]
      val warmS = secondsOf { (0 until w.warmups).foreach(i => warm += w.iterate(i, None)) }
      val setupS = sessionS + Stats.median(stageS) + warmS
      log(f"setup: session $sessionS%.2f s, staging ${stageS.map(s => f"$s%.2f").mkString("/")} s, " +
        f"warmup $warmS%.2f s")
      // the least heap in use over three collections: Spark's ContextCleaner
      // releases, between them, what the previous one found unreachable
      val rt = Runtime.getRuntime
      val heapMb = (1 to 3).map { _ =>
        System.gc()
        Thread.sleep(300)
        (rt.totalMemory - rt.freeMemory) / EngineLayers.MB
      }.min
      val cachedMb = Storage.cachedBytes(spark) / EngineLayers.MB

      val probe = Option.when(o.trace)(new EngineProbe(spark))
      val iters = ArrayBuffer.empty[(Boolean, Iter)]
      val minIters = if (o.trace) MinTracedIterations else MinIterations
      def elapsed = (System.currentTimeMillis() - jvmStartMs) / 1e3
      var timed = 0.0
      var lastWall = 0.0
      while ((timed < o.seconds || iters.size < minIters) &&
          elapsed + 1.5 * lastWall < BudgetSeconds) {
        // traced runs alternate traced and untraced iterations; the
        // difference of their medians is the tracing overhead
        val traced = o.trace && iters.size % 2 == 0
        if (traced) probe.foreach(_.attach())
        var r: Iter = null
        lastWall = secondsOf { r = w.iterate(w.warmups + iters.size, if (traced) probe else None) }
        if (traced) probe.foreach(_.detach())
        log(f"iteration ${iters.size + 1}${if (traced) " (traced)" else ""}: ${r.seconds}%.3f s, " +
          f"with preparation and checks $lastWall%.3f s" +
          r.errors.map("\n  " + _).mkString)
        iters += ((traced, r))
        timed += r.seconds
      }
      val all = warm.toSeq ++ iters.map(_._2)
      val errors = all.flatMap(_.errors)
      val metrics: Seq[(String, Double)] =
        if (!o.trace) {
          val runs = iters.map(_._2).toSeq
          Seq("setup_s" -> setupS,
            "run_s" -> Stats.median(runs.map(_.seconds)),
            "rows_per_s" -> Stats.median(runs.map(r => r.units / r.seconds)),
            "heap_mb_end" -> heapMb)
        } else {
          val (tr, un) = iters.partition(_._1)
          val traced = tr.map(_._2).toSeq
          val keys = traced.flatMap(_.layers.keys).distinct.sorted
          val lat = iters.flatMap(_._2.queries).toSeq
          val latency = Option.when(lat.nonEmpty)(Seq(
            "ops.query_p50_s" -> Stats.quantile(lat, 0.5),
            "ops.query_p90_s" -> Stats.quantile(lat, 0.9))).toSeq.flatten
          keys.map(k => k -> Stats.median(traced.map(_.layers.getOrElse(k, 0.0)))) ++ latency ++ Seq(
            "mem.cached_mb_end" -> cachedMb,
            "trace.overhead_s" ->
              (Stats.median(traced.map(_.seconds)) - Stats.median(un.map(_._2.seconds).toSeq)))
        }
      val host = Seq(
        "cores" -> Runtime.getRuntime.availableProcessors.toString,
        "driver_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / EngineLayers.MB),
        "jdk" -> Json.str(System.getProperty("java.version")),
        "spark" -> Json.str(spark.version),
        "iterations" -> iters.size.toString,
        "query_samples" -> iters.map(_._2.queries.size).sum.toString)
      Json.obj(Seq(
        "correct" -> errors.isEmpty.toString,
        "attempted" -> all.map(_.attempted).sum.toString,
        "failed" -> all.map(_.failed).sum.toString,
        "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
        "host" -> Json.obj(host),
        "errors" -> errors.map(Json.str).mkString("[", ",", "]")))
    } finally w.close()
  }

  /** Write the query list with the fingerprints the queries produce now. */
  def record(spark: SparkSession, o: Opts, path: String): Unit = {
    val suite = new QuerySuite(spark, s"${o.fixtures}/sf0.01", o.work, o.seed, o.queries)
    val lines = suite.fingerprints().map { case (q, fp) =>
      s"${q.family} ${q.name} ${fp.rows} ${fp.hash}"
    }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8)): Unit
  }
}
