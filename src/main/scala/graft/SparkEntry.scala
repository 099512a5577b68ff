package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory (SURVEY.md §2 + the
  * training-data-pipeline extensions), one entry per operator, each paired
  * where possible with a DuckDB oracle in `oracleSql`.
  */
object SparkEntry {

  private def suites: Seq[Q] = {
    val qs =
      RelationalOps.all ++ ArchiveOps.all ++ ScalarOps.all ++
        DedupOps.all ++ AnnOps.all ++ TextOps.all ++ MultimodalOps.all ++
        TemporalJoinOps.all ++ PipelineOps.all ++ StreamingOps.all ++
        ProfilingOps.all ++ AnalyticsOps.all ++ CurationOps.all
    // a duplicate name would silently SHADOW an operator in the toMap
    // below — one contract query would vanish from the driver's gate
    // without any failure signal
    val dups = qs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    qs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q5_join_agg_topk")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    suites.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    suites.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
