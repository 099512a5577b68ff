package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSession

/** The benchmark's own tests: its checks must fail on broken output and its
  * phase spans must cover a run.
  *
  *   perfbench.SelfTest --fixtures DIR --work DIR --queries FILE
  *
  * Exits 1 when a test fails. */
object SelfTest {
  private var failures = 0

  private def expect(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors)
    try {
      phaseGrammar()
      archivePhases(spark, m("fixtures"), m("work"))
      fingerprints(spark, m("fixtures"), m("work"), m("queries"))
    } finally spark.stop()
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def phaseGrammar(): Unit = {
    import PhaseClock._
    val run = Seq(Gate, Discover, Split, Aggregates, Split, ScanBuild, Ingest, Pace,
      Ingest, ScanBuild, Ingest, Reconcile, Audit).map(_ -> 1000000L)
    expect(coverageErrors(run, 0.013).isEmpty, "a well-ordered, fully covered run passes")
    expect(coverageErrors(run, 0.020).nonEmpty, "7 ms the phases do not cover is reported")
    expect(coverageErrors(run.reverse, 0.013).nonEmpty, "phases out of order are reported")
    expect(coverageErrors(run.filterNot(_._1 == Ingest), 0.011).nonEmpty,
      "a scan with no sink span after it is reported")
  }

  /** One traced iteration of each archive workload: every check passes, the
    * coverage check included, and the phase seconds add up to the run. */
  private def archivePhases(spark: SparkSession, fixtures: String, work: String): Unit =
    Seq(new ArchiveTime(spark, s"$fixtures/sf0.1", s"$work/time", 7),
        new ArchiveJdbc(spark, s"$fixtures/sf0.1", s"$work/jdbc", 7)).foreach { w =>
      val name = w.getClass.getSimpleName
      try {
        w.stage()
        val probe = new EngineProbe(spark)
        probe.attach()
        val r = try w.iterate(0, Some(probe)) finally probe.detach()
        val phaseSum = PhaseClock.All.map(p => r.layers.getOrElse(s"${p}_s", 0.0)).sum
        expect(r.errors.isEmpty, s"$name: traced iteration passes its checks ${r.errors.mkString("; ")}")
        expect(math.abs(phaseSum - r.seconds) < 1e-3,
          f"$name: phases add up to the run ($phaseSum%.4f s of ${r.seconds}%.4f s)")
        expect(r.layers.getOrElse("sink.batches", 0.0) >= 1, s"$name: at least one sink batch")
      } finally w.close()
    }

  /** The recorded fingerprint accepts each query's output and rejects it
    * with a row dropped or with its values changed. */
  private def fingerprints(spark: SparkSession, fixtures: String, work: String,
      list: String): Unit = {
    val suite = new QuerySuite(spark, s"$fixtures/sf0.01", s"$work/suite", 1, list)
    suite.stage()
    val dir = s"$work/suite/fixtures"
    QuerySuite.readList(list).foreach { q =>
      val df = QuerySuite.fn(q.name)(spark, dir).localCheckpoint()
      def errs(d: DataFrame) = Fingerprint.compare(q.name, Fingerprint.of(d), q.expect, q.checkHash)
      expect(errs(df).isEmpty, s"${q.name}: output matches its recorded fingerprint")
      if (q.expect.rows > 0)
        expect(errs(df.limit((q.expect.rows - 1).toInt)).nonEmpty, s"${q.name}: a dropped row is caught")
      if (q.checkHash && q.expect.rows > 0)
        expect(errs(perturb(df)).nonEmpty, s"${q.name}: changed values are caught")
    }
    val events = Frames.zonedTimestamps(spark.read.parquet(s"$fixtures/sf0.1/events.parquet"))
      .where("ts < '2024-01-02 00:00:00'")
    expect(Fingerprint.of(events) !=
      Fingerprint.of(events.withColumn("ts", date_trunc("millisecond", col("ts")))),
      "timestamps truncated to milliseconds change the archive checksum")
  }

  /** Every numeric, string and timestamp column changed in every row. */
  private def perturb(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      (f.dataType match {
        case _: NumericType => (c + lit(1)).cast(f.dataType)
        case StringType => concat(c, lit("~"))
        case TimestampType => c + expr("INTERVAL 1 MICROSECOND")
        case BooleanType => not(c)
        case _ => c
      }).as(f.name)
    }: _*)
}
