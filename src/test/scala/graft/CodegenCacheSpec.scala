package graft

/** `GraftSession` sizes Spark's codegen class cache above the engine's
  * working set. The conf is static and read once per JVM, so reading it
  * back proves nothing: this counts compiles with Spark's own counter. */
class CodegenCacheSpec extends SparkSpec {

  test("more generated classes than Spark's default cache holds stay compiled") {
    // 150 projections that differ only in an inlined integer literal: two
    // distinct classes each, three times Spark's default of 100 entries
    def round(): Unit = (0 until 150).foreach { i =>
      spark.range(1).selectExpr(s"id + ${7340000 + i} AS v").collect(): Unit
    }
    val (_, first) = Bench.compiling(round())
    assert(first > 100, s"first round compiled $first classes")
    val (_, second) = Bench.compiling(round())
    assert(second == 0, s"second round recompiled $second of $first classes")
  }
}
