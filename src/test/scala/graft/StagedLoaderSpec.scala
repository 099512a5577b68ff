package graft

import java.nio.file.Files

import org.apache.spark.BusDrain
import org.apache.spark.sql.functions.{max, min}

import graft.metrics.MetricsRecorder
import graft.sink.StagedLoader

/** The shape of one staged ingest: how often it reads each hop, what an
  * empty batch leaves behind, and the ordered-commit file layout. */
class StagedLoaderSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-loader").toString

  private def orders = spark.read.parquet(s"$sf/orders.parquet")

  private def ingestFiles(tgt: String): Seq[java.io.File] =
    new java.io.File(tgt).listFiles().toSeq
      .filter(f => f.getName.startsWith("ingest-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  test("an ordered ingest reads the source once and the stage once") {
    val root = tmpDir(); val tgt = s"$root/t"
    val src = orders
    val n = src.count()
    val loader = new StagedLoader(spark, tgt, src.schema,
      orderedCommitKey = Some("o_orderkey"))
    BusDrain.drain(spark.sparkContext)
    val rec = MetricsRecorder.attach(spark)
    val loaded =
      try {
        val l = loader.ingest(src, s"$root/stg")
        BusDrain.drain(spark.sparkContext)
        l
      } finally MetricsRecorder.detach(spark, rec)
    assert(loaded == n)
    // N for the stage write's source scan + N for the load's stage scan;
    // no emptiness pre-scan, no range sample, no recount of the stage
    assert(rec.snapshot.rowsRead == 2 * n)
    assert(ingestFiles(tgt).size == 1, "a batch within AQE's smallest partition is one file")
    assert(spark.read.parquet(tgt).count() == n)
  }

  test("an empty batch returns 0 and leaves no target, tombstone, temp or staging dir") {
    for (fmt <- Seq("json", "csv", "parquet", "orc");
         key <- Seq(None, Some("o_orderkey"))) {
      val root = tmpDir()
      val src = orders.where("o_orderkey < 0")
      val loader = new StagedLoader(spark, s"$root/t", src.schema,
        orderedCommitKey = key, stagingFormat = fmt)
      assert(loader.ingest(src, s"$root/stg") == 0L, s"$fmt $key")
      // no t/ (so no _ingest-*.done), no t.load-*, no stg/
      assert(new java.io.File(root).list().isEmpty,
        s"$fmt $key left ${new java.io.File(root).list().mkString(", ")}")
    }
  }

  test("an ordered batch past AQE's smallest partition commits rising, disjoint key ranges") {
    val root = tmpDir(); val tgt = s"$root/t"
    val src = orders
    // lowered so the fixture batch takes the range-partitioned path and
    // AQE keeps its range partitions apart
    val conf = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, "1")
    val loaded =
      try new StagedLoader(spark, tgt, src.schema, orderedCommitKey = Some("o_orderkey"))
        .ingest(src, s"$root/stg")
      finally prev.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
    assert(loaded == src.count())
    val files = ingestFiles(tgt)
    assert(files.size > 1, "the range-partitioned path must commit several files")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.getPath).agg(min("o_orderkey"), max("o_orderkey")).head()
      (r.getLong(0), r.getLong(1))
    }
    ranges.sliding(2).foreach { case Seq((_, hi), (lo, _)) =>
      assert(hi < lo, s"key ranges overlap or fall: $ranges")
    }
  }
}
