package graft

/** Dev tool: print schema, formatted physical plan, and a sample for one
  * query (or a raw table with `table:<name>`). Used to iterate on plans —
  * pushdown, broadcast choice, whole-stage codegen spans.
  *
  * Usage: runMain graft.Explain <queryName|table:name> [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    // the bench's session shape, so the plan shown is the plan it times
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val df =
      if (name.startsWith("table:"))
        spark.read.parquet(s"$sfDir/${name.stripPrefix("table:")}.parquet")
      else SparkEntry.queries(name)(spark, sfDir)
    df.printSchema()
    df.explain("formatted")
    df.show(10, truncate = 40)
    println(s"rows: ${df.count()}")
    spark.stop()
  }
}
