package graft

import java.nio.file.Files

import graft.config.ArchiverConfig
import graft.sink.StagedLoader
import graft.source.FileTableSource

/** The file-landing-zone source (NDJSON/CSV drops swept into the
  * warehouse): discovery, planning aggregates, key-split archival, and the
  * incremental watermark all running over text relations with a schema
  * contract — the third TableSource implementation next to parquet and
  * live JDBC. */
class FileSourceSpec extends SparkSpec {

  private def stageLanding(): (String, org.apache.spark.sql.DataFrame) = {
    val root = Files.createTempDirectory("graft-landing").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    orders.write.mode("overwrite")
      .option("timestampFormat", StagedLoader.MicrosTimestampFormat)
      .json(s"$root/orders.json")
    (root, orders)
  }

  /** The archiver `Archiver.wire` builds over the NDJSON drops in `root`
    * under the config table's contract schema, writing below `out`. */
  private def landingArchiver(cfg: ArchiverConfig, root: String,
      contract: org.apache.spark.sql.types.StructType, out: String): Archiver =
    Archiver.wire(spark, cfg,
      new FileTableSource(spark, root, schemas = Map(cfg.sourceTable -> contract)),
      s"$out/target", s"$out/staging", pacingSleep = _ => ())

  test("landing-dir discovery + planning aggregates over NDJSON relations") {
    val (root, orders) = stageLanding()
    val dbName = new java.io.File(root).getName
    val src = new FileTableSource(spark, root,
      schemas = Map("orders" -> orders.schema))
    assert(src.listDatabases() == Seq(dbName))
    assert(src.listTables(dbName) == Seq("orders"))
    assert(src.expandDbTables(Seq("graft-landing.*@ord.*")) ==
      Map(dbName -> Seq("orders")))
    assert(src.count(dbName, "orders", "1=1") == orders.count())
    val (mn, mx) = src.minMaxKey(dbName, "orders", "o_orderkey", "1=1")
    val exp = orders.agg(
      org.apache.spark.sql.functions.min("o_orderkey"),
      org.apache.spark.sql.functions.max("o_orderkey")).head()
    assert(mn == BigInt(exp.getLong(0)) && mx == BigInt(exp.getLong(1)))
    // empty-predicate sentinel (reference A3)
    assert(src.minMaxKey(dbName, "orders", "o_orderkey", "o_orderkey < 0") ==
      (BigInt(0), BigInt(0)))
  }

  test("key-split archival + incremental watermark over the NDJSON landing zone") {
    val (root, orders) = stageLanding()
    val dbName = new java.io.File(root).getName
    val src = new FileTableSource(spark, root,
      schemas = Map("orders" -> orders.schema))
    val out = Files.createTempDirectory("graft-landing-out").toString
    val cfg = ArchiverConfig(
      sourceDB = dbName, sourceTable = "orders",
      sourceWhereCondition = "o_totalprice > 0",
      sourceSplitKey = "o_orderkey", batchSize = 300, maxThread = 4)
    val loader = new StagedLoader(spark, s"$out/target", orders.schema,
      orderedCommitKey = Some("o_orderkey"))
    val archiver = new Archiver(spark, cfg, src, loader, s"$out/staging",
      pacingSleep = _ => ())
    val r1 = archiver.runIncremental() // empty target → full load
    val n = orders.where("o_totalprice > 0").count()
    assert(r1.reconciliation.correct && r1.reconciliation.targetRows == n,
      r1.toString)
    // a second NDJSON drop lands in the same directory; the delta run
    // must sweep ONLY the new keys
    val maxKey = orders.agg(
      org.apache.spark.sql.functions.max("o_orderkey")).head().getLong(0)
    // deterministic second drop: the lowest key range (keys are 0-based),
    // shifted STRICTLY past the watermark — maxKey + 1, because key 0
    // shifted by maxKey alone would land ON the watermark and be
    // (correctly) excluded by the strict delta predicate
    val wave2 = orders.where("o_orderkey <= 120")
      .withColumn("o_orderkey",
        org.apache.spark.sql.functions.col("o_orderkey") + maxKey + 1)
    wave2.write.mode("append")
      .option("timestampFormat", StagedLoader.MicrosTimestampFormat)
      .json(s"$root/orders.json")
    val r2 = archiver.runIncremental()
    assert(r2.reconciliation.correct, r2.toString)
    assert(r2.tables.map(_.rowsLoaded).sum ==
      wave2.where("o_totalprice > 0").count(),
      s"delta must sweep only the second drop: $r2")
    val tgt = spark.read.schema(orders.schema).parquet(s"$out/target")
    assert(tgt.count() == n + wave2.where("o_totalprice > 0").count())
    assert(tgt.select("o_orderkey").distinct().count() == tgt.count())
  }

  test("time-incremental sync over the landing zone: µs watermark through NDJSON text") {
    // pins the DEFAULT ANSI timestamp literal (TableSource.timestampLiteral)
    // on the Spark-SQL predicate path — previously only the JDBC dialects'
    // literals ran live — and the µs-precision watermark surviving the
    // landing TEXT format (a ms-truncated watermark would re-load the
    // boundary instant's sub-second tail on every delta run)
    val root = Files.createTempDirectory("graft-landing-ts").toString
    val events = graft.ops.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type")
    val cut = events
      .selectExpr("timestamp_micros(CAST(percentile_disc(0.5) " +
        "WITHIN GROUP (ORDER BY unix_micros(ts)) AS BIGINT)) AS c")
      .head().getTimestamp(0)
    def dump(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("append")
        .option("timestampFormat", StagedLoader.MicrosTimestampFormat)
        .json(s"$root/events.json")
    dump(events.where(org.apache.spark.sql.functions.col("ts") <= cut))
    val dbName = new java.io.File(root).getName
    val src = new FileTableSource(spark, root,
      schemas = Map("events" -> events.schema))
    val out = Files.createTempDirectory("graft-landing-ts-out").toString
    val cfg = ArchiverConfig(
      sourceDB = dbName, sourceTable = "events",
      sourceWhereCondition = "user_id >= 0",
      sourceSplitTimeKey = "ts", timeSplitUnit = "hour",
      batchSize = 100000, maxThread = 1)
    val loader = new StagedLoader(spark, s"$out/target", events.schema,
      orderedCommitKey = Some("ts"))
    val archiver = new Archiver(spark, cfg, src, loader, s"$out/staging",
      pacingSleep = _ => ())
    val n1 = events.where(org.apache.spark.sql.functions.col("ts") <= cut).count()
    val r1 = archiver.runIncremental()
    assert(r1.reconciliation.correct && r1.reconciliation.targetRows == n1,
      r1.toString)
    // second drop: the rest of the feed; only rows past the watermark load
    dump(events.where(org.apache.spark.sql.functions.col("ts") > cut))
    val r2 = archiver.runIncremental()
    val nAll = events.count()
    assert(r2.reconciliation.correct && r2.reconciliation.targetRows == nAll,
      r2.toString)
    assert(r2.tables.map(_.rowsLoaded).sum == nAll - n1,
      s"time delta must load only the second drop: $r2")
    val tgt = spark.read.schema(events.schema).parquet(s"$out/target")
    assert(tgt.count() == nAll)
    assert(tgt.select("event_id").distinct().count() == nAll,
      "µs watermark must not re-load the boundary instant")
  }

  test("landing-zone delete-back refuses loudly (producer-owned drops)") {
    val (root, orders) = stageLanding()
    val dbName = new java.io.File(root).getName
    val out = Files.createTempDirectory("graft-landing-del").toString
    val cfg = ArchiverConfig(
      sourceDB = dbName, sourceTable = "orders",
      sourceWhereCondition = "o_totalprice > 0",
      sourceSplitKey = "o_orderkey", batchSize = 1000, maxThread = 2,
      deleteAfterSync = true)
    val archiver = landingArchiver(cfg, root, orders.schema, out)
    // the archive itself must complete; the delete hook (which only fires
    // after a correct reconciliation) is the loud no-op
    val e = intercept[RuntimeException](archiver.run())
    assert(e.getMessage.contains("delete-back is not supported"), e.getMessage)
    // and the archived data is intact — the refusal happened after load
    assert(spark.read.schema(orders.schema).parquet(s"$out/target").count() ==
      orders.count())
  }

  test("gzip NDJSON drop: transparent codec, full archival, reconciliation balances") {
    // .json.gz is the common landing drop format — producers compress
    // per-batch files; the codec rides the extension through the text scan
    val root = Files.createTempDirectory("graft-landing-gz").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    orders.write.mode("overwrite")
      .option("timestampFormat", StagedLoader.MicrosTimestampFormat)
      .option("compression", "gzip")
      .json(s"$root/orders.json.gz")
    val dbName = new java.io.File(root).getName
    val src = new FileTableSource(spark, root,
      schemas = Map("orders" -> orders.schema))
    assert(src.listTables(dbName) == Seq("orders"))
    assert(src.count(dbName, "orders", "1=1") == orders.count())
    val out = Files.createTempDirectory("graft-landing-gz-out").toString
    val cfg = ArchiverConfig(
      sourceDB = dbName, sourceTable = "orders",
      sourceWhereCondition = "o_totalprice > 0",
      sourceSplitKey = "o_orderkey", batchSize = 500, maxThread = 2)
    val archiver = landingArchiver(cfg, root, orders.schema, out)
    val report = archiver.run()
    assert(report.reconciliation.correct, report.toString)
    assert(report.quarantined == 0L, report.toString)
    assert(spark.read.schema(orders.schema).parquet(s"$out/target").count() ==
      orders.where("o_totalprice > 0").count())
  }

  /** An NDJSON `orders` drop of the rows with key < 200 and three corrupt
    * lines among them (plus a trailing blank line): the landing root, the
    * good rows and the corrupt lines. */
  private def corruptDrop(): (String, org.apache.spark.sql.DataFrame, Seq[String]) = {
    val root = Files.createTempDirectory("graft-landing-bad").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .where("o_orderkey < 200")
    val good = orders.toJSON.collect()
    val bad = Seq(
      """{"o_orderkey": 9000001, "o_custkey": BROKEN}""", // malformed JSON
      """not json at all""",
      """{"o_orderkey": "NaN-ish", "o_custkey": 1, "o_totalprice": "x", "o_orderstatus": "O"}<<<""")
    val lines = (good.take(50) ++ bad ++ good.drop(50)) :+ "" // + blank line
    Files.write(java.nio.file.Paths.get(s"$root/orders.json"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    (root, orders, bad)
  }

  test("corrupt landing lines: exactly N quarantined, the rest archived") {
    // a landing zone is untrusted producer output — malformed lines must
    // neither silently become nulls nor fail the sweep; the run report
    // carries the exact quarantine count (reference classifies loader
    // errors the same way, ingester/ingest_databend.go:25-29)
    val (root, orders, bad) = corruptDrop()
    val good = orders.toJSON.collect()
    val dbName = new java.io.File(root).getName
    val src = new FileTableSource(spark, root,
      schemas = Map("orders" -> orders.schema))
    assert(src.quarantined(dbName, "orders") == bad.length.toLong)
    assert(src.count(dbName, "orders", "1=1") == good.length.toLong,
      "quarantined rows must be excluded from the archived scan")
    val out = Files.createTempDirectory("graft-landing-bad-out").toString
    val cfg = ArchiverConfig(
      sourceDB = dbName, sourceTable = "orders",
      sourceWhereCondition = "o_totalprice > 0",
      sourceSplitKey = "o_orderkey", batchSize = 100, maxThread = 2)
    val archiver = landingArchiver(cfg, root, orders.schema, out)
    val report = archiver.run()
    assert(report.reconciliation.correct, report.toString)
    assert(report.quarantined == bad.length.toLong,
      s"run report must surface the quarantine count: $report")
    assert(spark.read.schema(orders.schema).parquet(s"$out/target").count() ==
      orders.where("o_totalprice > 0").count())
  }

  test("corrupt landing lines: a delta run reports the quarantine count too") {
    // a delta run goes through the same run body as a full one, so the
    // corrupt-record audit (and Main's [quarantine] line) covers it
    val (root, orders, bad) = corruptDrop()
    val out = Files.createTempDirectory("graft-landing-bad-delta-out").toString
    val cfg = ArchiverConfig(
      sourceDB = new java.io.File(root).getName, sourceTable = "orders",
      sourceWhereCondition = "o_totalprice > 0",
      sourceSplitKey = "o_orderkey", batchSize = 100, maxThread = 2)
    val archiver = landingArchiver(cfg, root, orders.schema, out)
    val n = orders.where("o_totalprice > 0").count()
    val r1 = archiver.runIncremental() // empty target → full load
    assert(r1.reconciliation.correct && r1.reconciliation.targetRows == n,
      r1.toString)
    assert(r1.quarantined == bad.length.toLong,
      s"a delta run must surface the quarantine count: $r1")
    // nothing new past the watermark: the rerun loads nothing and still
    // reports the drop's corrupt lines
    val r2 = archiver.runIncremental()
    assert(r2.reconciliation.correct && r2.tables.map(_.rowsLoaded).sum == 0L,
      r2.toString)
    assert(r2.quarantined == bad.length.toLong, r2.toString)
    assert(spark.read.schema(orders.schema).parquet(s"$out/target").count() == n)
  }

  test("a regex-matched table with no contract parses under its inferred one: " +
       "corrupt line quarantined, no null row archived") {
    // the db@table sweep reaches tables the config names no contract for;
    // each is read under the schema inferred from its own drop, so a
    // truncated line is quarantined and counted, never archived as nulls
    val (root, orders) = stageLanding()
    val b = orders.where("o_orderkey < 4").withColumn("o_orderkey",
      org.apache.spark.sql.functions.col("o_orderkey") + 1000000L)
    val lines = b.toJSON.collect() :+ """{"o_orderkey": 1000009, "o_custkey": 5, "o_tot"""
    Files.write(java.nio.file.Paths.get(s"$root/orders_b.json"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    val dbName = new java.io.File(root).getName
    val out = Files.createTempDirectory("graft-landing-regex-out").toString
    val cfg = ArchiverConfig(
      sourceDB = dbName, sourceTable = "orders",
      sourceDbTables = Seq(".*@^orders"),
      sourceWhereCondition = "1=1",
      sourceSplitKey = "o_orderkey", batchSize = 300, maxThread = 2)
    val archiver = landingArchiver(cfg, root, orders.schema, out)
    assert(archiver.discoverTables().toSet ==
      Set(dbName -> "orders", dbName -> "orders_b"))
    val report = archiver.run()
    assert(report.quarantined == 1L, report.toString)
    assert(report.reconciliation.correct &&
      report.reconciliation.targetRows == orders.count() + b.count(), report.toString)
    val tgt = spark.read.schema(orders.schema).parquet(s"$out/target")
    assert(tgt.where(orders.columns.map(c => s"$c IS NULL").mkString(" AND "))
      .count() == 0L, "a corrupt line must not be archived as an all-null row")
  }

  test("a drop with no contract is inferred once; a rewritten drop again; " +
       "an empty drop fails naming the table") {
    val (root, orders) = stageLanding()
    val dbName = new java.io.File(root).getName
    val src = new FileTableSource(spark, root)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        e.stageInfos.foreach(st => stages.add(st.name))
    }
    /** Jobs `body` starts whose call site is the json schema inference. */
    def inferences(body: => Unit): Int = {
      org.apache.spark.BusDrain.drain(spark.sparkContext)
      stages.clear()
      body
      org.apache.spark.BusDrain.drain(spark.sparkContext)
      stages.toArray.count(_.toString.startsWith("json at"))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(inferences(src.schema(dbName, "orders")) >= 1)
      assert(inferences {
        assert(src.schema(dbName, "orders").fieldNames.toSet == orders.columns.toSet)
        assert(src.count(dbName, "orders", "1=1") == orders.count())
        assert(src.scan(dbName, "orders", Seq.empty, "o_orderkey < 100").count() ==
          orders.where("o_orderkey < 100").count())
        assert(src.quarantined(dbName, "orders") == 0L)
        // a second source over the same unchanged drop shares the inference
        assert(new FileTableSource(spark, root).count(dbName, "orders", "1=1") ==
          orders.count())
      } == 0, "an unchanged drop must not be inferred again")
      // the producer rewrites the drop with one more column
      orders.withColumn("o_note", org.apache.spark.sql.functions.lit("n"))
        .write.mode("overwrite").json(s"$root/orders.json")
      assert(inferences(
        assert(src.schema(dbName, "orders").fieldNames.contains("o_note"))) >= 1)
    } finally spark.sparkContext.removeSparkListener(listener)
    // an empty drop and an all-corrupt drop have no columns to infer
    Files.write(java.nio.file.Paths.get(s"$root/empty.json"), Array.emptyByteArray)
    Files.write(java.nio.file.Paths.get(s"$root/garbage.json"),
      "not json\n{\"o_orderkey\": 1,".getBytes("UTF-8"))
    Seq("empty", "garbage").foreach { t =>
      val e = intercept[IllegalArgumentException](src.count(dbName, t, "1=1"))
      assert(e.getMessage.contains(s"'$t'") && e.getMessage.contains(s"$t.json"),
        e.getMessage)
    }
  }

  test("CSV corrupt lines quarantine under the contract parse") {
    val root = Files.createTempDirectory("graft-landing-csv-bad").toString
    // comma-free columns only — free-text comments would break the
    // hand-rendered positional lines, which is not what's under test
    val nation = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey")
    val header = nation.schema.fieldNames.mkString(",")
    val good = nation.collect().map(r =>
      nation.schema.fieldNames.indices.map(r.get(_).toString).mkString(","))
    // wrong arity + unparseable int under the typed contract
    val bad = Seq("only,two", "notanint,BADLAND,xx")
    Files.write(java.nio.file.Paths.get(s"$root/nation.csv"),
      String.join("\n", (header +: (good.toSeq ++ bad)): _*).getBytes("UTF-8"))
    val dbName = new java.io.File(root).getName
    val src = new FileTableSource(spark, root, format = "csv",
      schemas = Map("nation" -> nation.schema))
    assert(src.quarantined(dbName, "nation") == bad.length.toLong)
    assert(src.count(dbName, "nation", "1=1") == nation.count())
  }

  test("ambiguous drop (plain AND gzip for one table) refuses loudly") {
    // reading either file alone would silently omit the other's rows —
    // neither archived nor quarantined — so the source must not choose
    val root = Files.createTempDirectory("graft-landing-ambig").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_totalprice").limit(10)
    orders.write.option("timestampFormat", StagedLoader.MicrosTimestampFormat)
      .json(s"$root/orders.json")
    orders.write.option("compression", "gzip")
      .option("timestampFormat", StagedLoader.MicrosTimestampFormat)
      .json(s"$root/orders.json.gz")
    val dbName = new java.io.File(root).getName
    val src = new FileTableSource(spark, root,
      schemas = Map("orders" -> orders.schema))
    val e = intercept[IllegalArgumentException] {
      src.count(dbName, "orders", "1=1")
    }
    assert(e.getMessage.contains("ambiguous"), e.getMessage)
  }

  test("CSV header variants: quoted/cased/padded headers dropped, never quarantined; near-header data row parses") {
    val root = Files.createTempDirectory("graft-landing-csv-hdr").toString
    val nation = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey")
    val good = nation.collect().map(r =>
      nation.schema.fieldNames.indices.map(r.get(_).toString).mkString(","))
    // three header renders a real producer emits: plain, fully quoted,
    // case+whitespace variant — all must be skipped AND excluded from
    // the quarantine count (the old exact-render match parsed the last
    // two as data and then miscounted them as corrupt rows)
    val headers = Seq(
      "n_nationkey,n_name,n_regionkey",
      "\"n_nationkey\",\"n_name\",\"n_regionkey\"",
      " N_NATIONKEY , n_Name , n_regionkey ")
    // header-ADJACENT data line (first token is a number, not the field
    // name): must parse as data, not be dropped as a header
    val nearHeader = "999,n_name,0"
    val corrupt = Seq("only,two")
    Files.write(java.nio.file.Paths.get(s"$root/nation.csv"),
      String.join("\n",
        (headers ++ good.toSeq ++ Seq(nearHeader) ++ corrupt): _*)
        .getBytes("UTF-8"))
    val dbName = new java.io.File(root).getName
    val src = new FileTableSource(spark, root, format = "csv",
      schemas = Map("nation" -> nation.schema))
    assert(src.count(dbName, "nation", "1=1") == nation.count() + 1)
    assert(src.quarantined(dbName, "nation") == corrupt.length.toLong)
    val scanned = src.scan(dbName, "nation", Seq.empty, "n_nationkey = 999")
    assert(scanned.count() == 1L, "near-header data row must survive")
  }

  test("CSV landing flavor: schema contract carries types through the text relation") {
    val root = Files.createTempDirectory("graft-landing-csv").toString
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    nation.write.mode("overwrite").option("header", "true")
      .csv(s"$root/nation.csv")
    val src = new FileTableSource(spark, root, format = "csv",
      schemas = Map("nation" -> nation.schema))
    val dbName = new java.io.File(root).getName
    assert(src.listTables(dbName) == Seq("nation"))
    assert(src.count(dbName, "nation", "1=1") == nation.count())
    val df = src.scan(dbName, "nation", Seq("n_nationkey < 10"), "1=1")
    assert(df.schema == nation.schema)
    assert(df.count() == nation.where("n_nationkey < 10").count())
  }
}
