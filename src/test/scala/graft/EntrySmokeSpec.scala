package graft

class EntrySmokeSpec extends SparkSpec {

  test("GraftSession.local(n) is the engine's session recipe") {
    // TestSpark is GraftSession.local(4): the session perfbench and every
    // main run on, so these are the confs their numbers rest on
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "4096") // in effect: CodegenCacheSpec
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.hadoop.fs.file.impl") == classOf[graft.fs.PosixLocalFileSystem].getName)
    assert(conf.get("spark.hadoop.fs.AbstractFileSystem.file.impl") ==
      classOf[graft.fs.PosixLocalFs].getName)
    // the cached file:// instance every local read and write goes through
    // is the session's: nothing opened a local path before the recipe ran
    assert(org.apache.hadoop.fs.FileSystem.get(java.net.URI.create("file:///"),
      spark.sessionState.newHadoopConf()).isInstanceOf[graft.fs.PosixLocalFileSystem])
    assert(spark.sql("SELECT simhash64(array('a', 'b')) AS h").schema
      .head.dataType == org.apache.spark.sql.types.LongType)
  }

  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("ScaleSmoke lanes are contract queries; an unknown lane is rejected") {
    import graft.tools.ScaleSmoke
    val missing = ScaleSmoke.lanes.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"lanes without a query: $missing")
    assert(ScaleSmoke.lanes.distinct == ScaleSmoke.lanes)
    assert(ScaleSmoke.selectLanes(None) == ScaleSmoke.lanes)
    // a subset keeps sweep order, whatever order it is named in
    assert(ScaleSmoke.selectLanes(Some("tfidf_topterms,dedup_exact")) ==
      Seq("dedup_exact", "tfidf_topterms"))
    val ex = intercept[IllegalArgumentException] {
      ScaleSmoke.selectLanes(Some("dedup_exact,dedup_exactt"))
    }
    assert(ex.getMessage.contains("dedup_exactt"))
  }

  test("oracleSql keys are a subset of queries keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracleSql without a query: $extra")
  }

  // one pass over every query at sf0.001, shared by the two tests below:
  // each query runs and counts its rows once, whichever test asks first
  private lazy val counts: Seq[(String, scala.util.Try[Long])] =
    SparkEntry.queries.toSeq.map { case (name, fn) => name -> scala.util.Try(fn(spark, sf).count()) }

  test("every query runs at sf0.001 and returns a readable result") {
    val failed = counts.collect { case (name, scala.util.Failure(e)) => s"$name: $e" }
    assert(failed.isEmpty, s"queries failing at sf0.001:\n${failed.mkString("\n")}")
  }

  test("queries return non-empty results (operators are non-trivial)") {
    val failed = counts.collect {
      case (name, scala.util.Success(n)) if n <= 0 => s"$name: no rows"
      case (name, scala.util.Failure(e)) => s"$name: $e"
    }
    assert(failed.isEmpty, s"queries failing at sf0.001:\n${failed.mkString("\n")}")
  }
}
