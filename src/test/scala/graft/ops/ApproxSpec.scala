package graft.ops

import graft.SparkSpec

/** Error-envelope checks for the approximate aggregates. The contract
  * query itself now emits bound booleans the DuckDB oracle pins to true;
  * this spec re-asserts them locally (and at the raw level for one
  * sketch) so a regression fails here before the gate. */
class ApproxSpec extends SparkSpec {

  test("sketch bounds hold: HLL within 15%, quantiles ordered and inside IQR") {
    val r = graft.SparkEntry.queries("f_approx_agg")(spark, sf).head()
    assert(r.getAs[Long]("exact_orders") > 0)
    assert(r.getAs[Long]("exact_parts") > 0)
    assert(r.getAs[Boolean]("orders_within_15pct"))
    assert(r.getAs[Boolean]("parts_within_15pct"))
    assert(r.getAs[Boolean]("p50_within_iqr"))
    assert(r.getAs[Boolean]("p95_above_p50"))
  }

  test("exactPercentiles == percentile() bit-for-bit on random multisets") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(0xC0FFEE)
    // duplicates, negatives, non-round doubles, sizes that put every pct
    // on and off integer positions (incl. n = 1 and n = 4k+1 edges)
    for (n <- Seq(1, 2, 3, 5, 100, 101, 1237)) {
      val vals = Seq.fill(n)(
        math.floor(rnd.nextDouble() * 40 - 20) + rnd.nextInt(4) * 0.25)
      val df = vals.toDF("x")
      val want = df.agg(expr(
        "percentile(x, array(0.25D, 0.5D, 0.75D, 0.99D))").as("p"))
        .head().getSeq[Double](0)
      val got = ScalarOps.exactPercentiles(df, "x", Seq(0.25, 0.5, 0.75, 0.99))
        .head().getSeq[Double](0)
      assert(got == want, s"n=$n got=$got want=$want")
    }
  }

  test("exactPercentiles bucket map survives degenerate value ranges") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the r13 range-bucketed running count must stay bit-equal to
    // percentile() when the monotone bucket map degrades: all-equal
    // values (vmax = vmin), ±Infinity endpoints (NaN ratios), ranges
    // whose width overflows to Inf, and tiny n with many empty buckets;
    // the decimal cases take the map through decimal arithmetic (the
    // production caller's l_extendedprice is decimal(12,2))
    val doubles = Seq(
      Seq.fill(7)(3.25),                                     // one distinct value
      Seq(Double.NegativeInfinity, -1.0, 0.0, 2.5, 2.5),     // -Inf = vmin
      Seq(-4.0, 0.5, Double.PositiveInfinity),               // +Inf = vmax
      Seq(Double.NegativeInfinity, 1.0, Double.PositiveInfinity),
      Seq(-1.7e308, 0.0, 1.2e308, 1.2e308),                  // width overflows
      Seq(42.0))                                             // n = 1
    val decimals = Seq(Seq.fill(7)("91234.56"), Seq("42.10"))
      .map(_.toDF("x").select(col("x").cast("decimal(12,2)").as("x")))
    for (df <- doubles.map(_.toDF("x")) ++ decimals) {
      val vals = df.collect().map(_.get(0)).toSeq
      val want = df.agg(expr(
        "percentile(x, array(0.25D, 0.5D, 0.75D, 0.99D))").as("p"))
        .head().getSeq[Double](0)
      val got = ScalarOps.exactPercentiles(df, "x", Seq(0.25, 0.5, 0.75, 0.99))
        .head().getSeq[Double](0)
      assert(got == want, s"vals=$vals got=$got want=$want")
    }
  }

  test("exactPercentiles fails loudly on a value it cannot bucket") {
    import org.apache.spark.sql.functions._
    // with ANSI off a decimal overflow is null, not an error: vmax − vmin
    // here exceeds decimal(38,0), so the top value has no bucket
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "false")
    import s.implicits._
    val df = Seq("-9" + "0" * 37, "0", "9" + "0" * 37).toDF("x")
      .select(col("x").cast("decimal(38,0)").as("x"))
    val e = intercept[Exception] {
      ScalarOps.exactPercentiles(df, "x", Seq(0.5)).collect()
    }
    assert(e.getMessage.contains("null bucket"), e.getMessage)
  }

  test("raw HLL estimate tracks exact count on a bigger column too") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf)
    val r = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey")).as("approx")).head()
    val exact = r.getAs[Long]("exact").toDouble
    val approx = r.getAs[Long]("approx").toDouble
    assert(math.abs(approx - exact) / exact < 0.15, s"approx=$approx exact=$exact")
  }
}
