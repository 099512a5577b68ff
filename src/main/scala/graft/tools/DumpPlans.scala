package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dev tool: write `explain("formatted")` of the named contract queries to
  * `<outDir>/<query>_<tag>.txt` — the plan evidence files the optimization
  * rounds commit under plans/rNN/. One JVM for the whole list (vs one
  * graft.Explain launch per query).
  *
  * Usage: runMain graft.tools.DumpPlans <outDir> <tag> q1 q2 ...
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01 — plans are scale-invariant in
  * shape; sf0.01 keeps any size-gated path identical to verify's).
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.local()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
        plan.getBytes(StandardCharsets.UTF_8))
      println(s"WROTE $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
