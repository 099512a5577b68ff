package graft.config

/** Engine configuration — the reference's JSON config re-expressed as an
  * immutable case class (config/config.go:36-69). Field names keep the
  * reference's JSON spelling so existing configs load unchanged.
  *
  * Validation semantics from config/config.go:90-137 (`preCheckConfig` /
  * `validateSourceSplitTimeKey`), as pure functions returning the normalized
  * config or an error instead of panicking.
  *
  * The connection fields `databaseType`, `sourceHost`, `sourcePort`,
  * `sourceUser`, `sourcePass` are read by `graft.Main`: a non-empty
  * `sourceHost` selects the JDBC source, `databaseType` its dialect.
  * Reference-config keys with no engine counterpart (`databendDSN`,
  * `databendTable` — the target is `Main`'s `<targetDir>` argument —
  * `userStage`, `copyPurge`, `copyForce`, `disableVariantCheck`,
  * `sourceQuery`) are not fields: the JSON loader ignores unknown keys,
  * so such configs still load.
  */
final case class ArchiverConfig(
    databaseType: String = "mysql",
    sourceHost: String = "",
    sourcePort: Int = 0,
    sourceUser: String = "",
    sourcePass: String = "",
    sourceDB: String = "",
    sourceTable: String = "",
    sourceDbTables: Seq[String] = Seq.empty,     // "dbRegex@tableRegex"
    sourceWhereCondition: String = "",
    sourceSplitKey: String = "",                 // integer PK key-split mode
    sourceSplitTimeKey: String = "",             // time-split mode
    timeSplitUnit: String = "minute",
    batchSize: Long = 1000L,
    batchMaxInterval: Int = 3,                   // pacing seconds
    maxThread: Int = 1,
    deleteAfterSync: Boolean = false,
    // staging FILE_FORMAT (the reference hard-codes `type = NDJSON`,
    // ingester/ingest_databend.go:182-195; flagged §7.5-style extension):
    // json | csv | parquet | orc, plus the staging codec
    stagingFormat: String = "json",
    stagingCompression: String = "gzip")

object ArchiverConfig {

  private val timeWherePattern =
    """^\w+\s*(>|>=)\s*'[^']*'\s+and\s+\w+\s*(<|<=)\s*'[^']*'$""".r

  /** Shape gate for the WHERE predicate in time-split mode:
    * `key >(=) 'A' and key <(=) 'B'`. */
  def validateSourceSplitTimeKey(where: String): Either[String, Unit] =
    if (timeWherePattern.matches(where)) Right(())
    else Left("SourceSplitTimeKey does not match the required format")

  /** Normalize defaults and enforce the reference's invariants:
    * exactly one split mode, WHERE required, time mode single-threaded
    * with a whitelisted unit and a shape-checked predicate. */
  def preCheck(cfg0: ArchiverConfig): Either[String, ArchiverConfig] = {
    val cfg = cfg0.copy(maxThread = if (cfg0.maxThread == 0) 1 else cfg0.maxThread)
    if (!Set("json", "csv", "parquet", "orc")(cfg.stagingFormat))
      Left(s"invalid stagingFormat: ${cfg.stagingFormat}, it should be 'json', 'csv', 'parquet', or 'orc'")
    else if (cfg.sourceSplitKey.nonEmpty && cfg.sourceSplitTimeKey.nonEmpty)
      Left("cannot set both sourceSplitKey and sourceSplitTimeKey")
    else if (cfg.sourceSplitKey.isEmpty && cfg.sourceSplitTimeKey.isEmpty)
      Left("must set one of sourceSplitKey and sourceSplitTimeKey")
    else if (cfg.sourceWhereCondition.isEmpty)
      Left("must set sourceWhereCondition when sourceSplitTimeKey is set")
    else if (cfg.sourceSplitTimeKey.nonEmpty && cfg.maxThread > 1)
      Left("SourceSplitTimeKey does not support MaxThread > 1; use SourceSplitKey for parallelism")
    else if (cfg.sourceSplitTimeKey.nonEmpty &&
        graft.plan.SplitPlanner.unitWidth(cfg.timeSplitUnit).isEmpty)
      Left(s"invalid TimeSplitUnit: ${cfg.timeSplitUnit}, it should be 'minute', 'quarter', 'hour', or 'day'")
    else if (cfg.sourceSplitTimeKey.nonEmpty)
      validateSourceSplitTimeKey(cfg.sourceWhereCondition).map(_ => cfg)
    else Right(cfg)
  }

  /** Load from the reference's JSON config format (json4s ships with Spark). */
  def fromJson(json: String): Either[String, ArchiverConfig] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    try preCheck(JsonMethods.parse(json).camelizeKeys.extract[ArchiverConfig])
    catch { case e: Exception => Left(s"config parse failed: ${e.getMessage}") }
  }
}
