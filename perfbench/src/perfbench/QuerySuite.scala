package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops._

/** A query of the suite with its recorded output. `checkHash = false`
  * checks the row count only (output that is not deterministic). */
final case class SuiteQuery(family: String, name: String, expect: Fingerprint,
    checkHash: Boolean)

object QuerySuite {
  /** The 13 query families behind `SparkEntry`, by their public `.all`. */
  val Families: Seq[(String, Seq[Q])] = Seq(
    "relational" -> RelationalOps.all, "archive" -> ArchiveOps.all,
    "scalar" -> ScalarOps.all, "dedup" -> DedupOps.all, "ann" -> AnnOps.all,
    "text" -> TextOps.all, "multimodal" -> MultimodalOps.all,
    "temporal_join" -> TemporalJoinOps.all, "pipeline" -> PipelineOps.all,
    "streaming" -> StreamingOps.all, "profiling" -> ProfilingOps.all,
    "analytics" -> AnalyticsOps.all, "curation" -> CurationOps.all)

  private lazy val byName: Map[String, Q] = Families.flatMap(_._2).map(q => q.name -> q).toMap

  def fn(name: String): (SparkSession, String) => DataFrame =
    byName.getOrElse(name, sys.error(s"no query named $name")).fn

  /** `family name rows hash` per line; hash `-` means row count only. */
  def readList(path: String): Seq[SuiteQuery] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        l.split("\\s+") match {
          case Array(f, n, rows, h) =>
            SuiteQuery(f, n, Fingerprint(rows.toLong, h), checkHash = h != "-")
          case _ => sys.error(s"malformed query list line: $l")
        }
      }.toSeq

  /** Run a query through the noop sink: the complete plan executes and every
    * output row is produced, then discarded. */
  def runNoop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** The contract queries through the noop sink, one pass per iteration in a
  * seed-permuted order. The untimed warmup pass checks each query's output
  * against the fingerprint recorded for it. */
final class QuerySuite(spark: SparkSession, sfDir: String, work: String,
    seed: Long, listPath: String) extends Workload {
  import QuerySuite._

  private val queries = new scala.util.Random(seed).shuffle(readList(listPath))
  private val dataDir = s"$work/fixtures"

  /** Copy the fixture tables into the run's own directory. */
  def stage(): Unit = {
    val out = new File(dataDir)
    Dirs.delete(out)
    out.mkdirs()
    Option(new File(sfDir).listFiles()).toSeq.flatten.foreach { f =>
      copyTree(f.toPath, Paths.get(dataDir, f.getName))
    }
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    if (Files.isDirectory(from)) {
      Files.createDirectories(to)
      Files.list(from).forEach(p => copyTree(p, to.resolve(p.getFileName)))
    } else Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING): Unit

  /** Each query's output fingerprint as the program produces it now, run in
    * the seed's order and returned in list order. */
  def fingerprints(): Seq[(SuiteQuery, Fingerprint)] = {
    stage()
    val fps = queries.map(q => q.name -> Fingerprint.of(fn(q.name)(spark, dataDir))).toMap
    readList(listPath).map(q => q -> fps(q.name))
  }

  def iterate(i: Int, probe: Option[EngineProbe]): Iter =
    if (i == 0) warmup() else pass(probe)

  private def warmup(): Iter = {
    val errors = queries.flatMap { q =>
      try {
        val t0 = System.nanoTime()
        val df = fn(q.name)(spark, dataDir)
        val got = Fingerprint.of(df)
        val t1 = System.nanoTime()
        runNoop(df)
        System.err.println(f"[perfbench] warmup ${q.name}: fingerprint " +
          f"${(t1 - t0) / 1e9}%.2f s, noop ${(System.nanoTime() - t1) / 1e9}%.2f s")
        Fingerprint.compare(q.name, got, q.expect, q.checkHash)
      } catch { case NonFatal(e) => Seq(s"${q.name} failed: $e") }
    }
    Iter(0.0, queries.size, errors.size, queries.map(_.expect.rows).sum,
      Seq.empty, errors)
  }

  private def pass(probe: Option[EngineProbe]): Iter = {
    val layers = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val latencies = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    val start = probe.map(p => (p.snapshot(), System.currentTimeMillis()))
    val t0 = System.nanoTime()
    queries.foreach { q =>
      val before = probe.map(p => (p.snapshot(), Storage.cachedBytes(spark)))
      val q0 = System.nanoTime()
      try {
        val df = fn(q.name)(spark, dataDir)
        val q1 = System.nanoTime()
        runNoop(df)
        val q2 = System.nanoTime()
        latencies += (q2 - q0) / 1e9
        before.foreach { case (c0, cached0) =>
          val d = probe.get.snapshot() - c0
          val f = s"ops.${q.family}"
          layers(s"$f.s") += (q2 - q0) / 1e9
          layers(s"$f.build_s") += (q1 - q0) / 1e9
          layers(s"$f.plan_s") += d.planMs / 1e3
          layers(s"$f.jobs") += d.jobs
          layers(s"$f.shuffle_mb") += d.shuffleWriteBytes / EngineLayers.MB
          layers(s"$f.spill_mb") += d.spillBytes / EngineLayers.MB
          layers(s"$f.cached_mb") += (Storage.cachedBytes(spark) - cached0) / EngineLayers.MB
        }
      } catch { case NonFatal(e) => errors += s"${q.name} failed: $e" }
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val engine = start.fold(Map.empty[String, Double]) { case (c0, ms0) =>
      EngineLayers(probe.get.snapshot() - c0, probe.get.idleMs(ms0, System.currentTimeMillis()))
    }
    Iter(seconds, queries.size, errors.size, queries.map(_.expect.rows).sum,
      latencies.toSeq, errors.toSeq, layers.toMap ++ engine)
  }
}
