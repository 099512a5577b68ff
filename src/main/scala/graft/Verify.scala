package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional: `--only a,b,c` restricts the dump to the named queries
    // (local iteration; the driver always runs the full set)
    val only: Option[Set[String]] = args.drop(2) match {
      case Array() => None
      case Array("--only", names) =>
        val ns = names.split(",").toSet
        val unknown = ns -- SparkEntry.queries.keySet
        require(unknown.isEmpty, s"--only names not in SparkEntry.queries: $unknown")
        Some(ns)
      case other =>
        sys.error(s"usage: Verify <sfDir> <outDir> [--only a,b,c]; got: ${other.mkString(" ")}")
    }
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val selected = only.fold(SparkEntry.queries)(ns => SparkEntry.queries.filter(kv => ns(kv._1)))
    selected.foreach { case (name, fn) =>
      try graft.ops.Materialize.scoped {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = only.fold(SparkEntry.oracleSql)(ns => SparkEntry.oracleSql.filter(kv => ns(kv._1)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
