package graft.tools

/** Dev tool: time the named contract queries (best of N runs after one
  * warmup) — for targeted perf iteration without the full bench sweep.
  * Usage: runMain graft.tools.TimeQueries [--out isolated.json] q1 q2 ...
  *
  * `--out` writes the per-query map as a JSON sidecar in the same shape
  * as Bench's `bench_sidecar.json` ({"metric":"isolated","queries":{…}})
  * so cross-round suspect triage reads one record per round
  * (`bench_isolated_r{N}.json`) instead of scraping TIMED lines out of
  * commit messages. A query that fails any run is left out of the map,
  * listed under "failed", and makes the process exit non-zero, as in
  * graft.Bench.
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (out, names) = args.toSeq match {
      case Seq("--out", f, rest @ _*) => (Some(f), rest)
      case rest                       => (None, rest)
    }
    val spark = graft.GraftSession.local()

    val timed = names.map { name =>
      // noop sink, the same action BenchMedian times, so numbers compare
      def once() = graft.Bench.timeQuery(spark, sfDir, name)(
        graft.Bench.noopSink)
      val runs = Seq(once(), once(), once()) // warmup + best of 2
      val best = if (runs.forall(_.isDefined)) Some(runs.tail.flatten.min) else None
      best.foreach(b => println(f"TIMED $name%-28s $b%6.2f s"))
      name -> best
    }
    val failed = timed.collect { case (k, None) => k }
    out.foreach { f =>
      val qs = timed.collect { case (k, Some(v)) => "\"" + k + "\":" + graft.Jfmt.num(v) }
        .mkString("{", ",", "}")
      val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        s"""{"metric":"isolated","unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(2)
  }
}
