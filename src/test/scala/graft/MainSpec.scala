package graft

import java.nio.file.Files

import graft.config.ArchiverConfig

/** CLI-path e2e: the reference JSON config format → Main.run → golden
  * count on the target (O5 in COVERAGE.md, previously only hand-driven). */
class MainSpec extends SparkSpec {

  /** In-memory Derby database `locator` with MAINDB.ORDERS: ids 1..200,
    * one a minute from 2024-03-01 00:01 (re-seeded on every call). */
  private def seedDerby(locator: String): Unit = {
    val c = java.sql.DriverManager.getConnection(s"jdbc:derby:$locator;create=true")
    try {
      val st = c.createStatement()
      try { st.execute("CREATE SCHEMA MAINDB"): Unit }
      catch { case _: java.sql.SQLException => () } // already exists
      try { st.execute("DROP TABLE MAINDB.ORDERS"): Unit }
      catch { case _: java.sql.SQLException => () }
      st.execute("CREATE TABLE MAINDB.ORDERS (ID BIGINT NOT NULL PRIMARY KEY, " +
        "TS TIMESTAMP, AMOUNT DECIMAL(12,2))")
      st.close()
      val ps = c.prepareStatement("INSERT INTO MAINDB.ORDERS VALUES (?, ?, ?)")
      (1 to 200).foreach { i =>
        ps.setLong(1, i.toLong)
        ps.setTimestamp(2, java.sql.Timestamp.valueOf(
          java.time.LocalDateTime.of(2024, 3, 1, 0, 0, 0).plusMinutes(i.toLong)))
        ps.setBigDecimal(3, new java.math.BigDecimal(i).setScale(2))
        ps.addBatch()
      }
      ps.executeBatch(); ps.close()
    } finally c.close()
  }

  /** MAINDB.ORDERS rows matching `where`, read over plain JDBC. */
  private def derbyCount(locator: String, where: String): Long = {
    val c = java.sql.DriverManager.getConnection(s"jdbc:derby:$locator")
    try {
      val rs = c.createStatement().executeQuery(
        s"SELECT COUNT(*) FROM MAINDB.ORDERS WHERE $where")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  private def derbyConfig(locator: String, split: String): ArchiverConfig =
    ArchiverConfig.fromJson(
      s"""{
         |  "databaseType": "derby",
         |  "sourceHost": "$locator",
         |  "sourceDB": "MAINDB",
         |  "sourceTable": "ORDERS",
         |  "batchSize": 25,
         |  $split
         |}""".stripMargin).fold(e => fail(s"config parse: $e"), identity)

  test("Main.run key-split archives a JDBC source named by the config and deletes back") {
    val locator = "memory:graftmain"
    seedDerby(locator)
    val tgt = Files.createTempDirectory("graft-main-jdbc").toString + "/t"
    val cfg = derbyConfig(locator,
      """"sourceWhereCondition": "ID <= 120", "sourceSplitKey": "ID",
        |  "maxThread": 3, "deleteAfterSync": true""".stripMargin)
    // sourceDir is not read for a JDBC source
    assert(Main.run(spark, cfg, "-", tgt))
    val got = spark.read.parquet(tgt)
    assert(got.count() == 120L)
    assert(got.select("ID").distinct().count() == 120L)
    // the source lost exactly the archived range
    assert(derbyCount(locator, "ID <= 120") == 0L)
    assert(derbyCount(locator, "1=1") == 80L)
  }

  test("Main.run time-split archives a JDBC source named by the config") {
    val locator = "memory:graftmain"
    seedDerby(locator)
    val tgt = Files.createTempDirectory("graft-main-jdbc-ts").toString + "/t"
    val cfg = derbyConfig(locator,
      """"sourceWhereCondition": "TS >= '2024-03-01 00:30:00' and TS < '2024-03-01 02:30:00'",
        |  "sourceSplitTimeKey": "TS", "timeSplitUnit": "hour",
        |  "batchMaxInterval": 0, "maxThread": 1""".stripMargin)
    assert(Main.run(spark, cfg, "-", tgt))
    assert(spark.read.parquet(tgt).count() == 120L) // minutes 30..149
    assert(derbyCount(locator, "1=1") == 200L)
  }

  test("Main.run refuses --landing with a config that names a JDBC source") {
    val cfg = ArchiverConfig(sourceHost = "memory:graftmain", sourceTable = "orders")
    val e = intercept[IllegalArgumentException](
      Main.run(spark, cfg, "-", "-", landing = Some("json")))
    assert(e.getMessage.contains("--landing") && e.getMessage.contains("sourceHost"),
      e.getMessage)
  }

  test("Main.run archives per a JSON config and reconciles") {
    val srcDir = Files.createTempDirectory("graft-main-src").toString
    val tgt = Files.createTempDirectory("graft-main-tgt").toString + "/t"
    spark.read.parquet(s"$sf/orders.parquet")
      .write.mode("overwrite").parquet(s"$srcDir/orders.parquet")
    val db = new java.io.File(srcDir).getName
    val json =
      s"""{
         |  "sourceDB": "$db",
         |  "sourceTable": "orders",
         |  "sourceWhereCondition": "o_totalprice > 5000",
         |  "sourceSplitKey": "o_orderkey",
         |  "batchSize": 500,
         |  "maxThread": 4
         |}""".stripMargin
    val cfg = ArchiverConfig.fromJson(json)
      .fold(e => fail(s"config parse: $e"), identity)
    assert(Main.run(spark, cfg, srcDir, tgt))
    val expected = spark.read.parquet(s"$srcDir/orders.parquet")
      .where("o_totalprice > 5000").count()
    assert(spark.read.parquet(tgt).count() == expected)
  }

  test("Main.run --landing json: CLI archives an NDJSON landing zone") {
    val srcDir = Files.createTempDirectory("graft-main-landing").toString
    val tgt = Files.createTempDirectory("graft-main-ltgt").toString + "/t"
    spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").json(s"$srcDir/orders.json")
    val db = new java.io.File(srcDir).getName
    val json =
      s"""{
         |  "sourceDB": "$db",
         |  "sourceTable": "orders",
         |  "sourceWhereCondition": "o_totalprice > 5000",
         |  "sourceSplitKey": "o_orderkey",
         |  "batchSize": 500,
         |  "maxThread": 4
         |}""".stripMargin
    val cfg = ArchiverConfig.fromJson(json)
      .fold(e => fail(s"config parse: $e"), identity)
    assert(Main.run(spark, cfg, srcDir, tgt, landing = Some("json")))
    val expected = spark.read.parquet(s"$sf/orders.parquet")
      .where("o_totalprice > 5000").count()
    assert(spark.read.parquet(tgt).count() == expected)
  }

  test("Main.run --landing json: a db@table regex sweeps every drop under its own contract") {
    // orders is the config table, orders_b only matches the regex and holds
    // one truncated line: it is quarantined and printed, not archived
    val srcDir = Files.createTempDirectory("graft-main-lregex").toString
    val tgt = Files.createTempDirectory("graft-main-lregex-tgt").toString + "/t"
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    orders.write.mode("overwrite")
      .option("timestampFormat", graft.sink.StagedLoader.MicrosTimestampFormat)
      .json(s"$srcDir/orders.json")
    val b = orders.where("o_orderkey < 4").withColumn("o_orderkey",
      org.apache.spark.sql.functions.col("o_orderkey") + 1000000L)
    b.write.mode("overwrite")
      .option("timestampFormat", graft.sink.StagedLoader.MicrosTimestampFormat)
      .json(s"$srcDir/orders_b.json")
    Files.write(java.nio.file.Paths.get(s"$srcDir/orders_b.json/part-99999.json"),
      """{"o_orderkey": 1000009, "o_cus""".getBytes("UTF-8"))
    val db = new java.io.File(srcDir).getName
    val cfg = ArchiverConfig.fromJson(
      s"""{
         |  "sourceDB": "$db",
         |  "sourceTable": "orders",
         |  "sourceDbTables": [".*@^orders"],
         |  "sourceWhereCondition": "o_totalprice > 0",
         |  "sourceSplitKey": "o_orderkey",
         |  "batchSize": 500,
         |  "maxThread": 4
         |}""".stripMargin).fold(e => fail(s"config parse: $e"), identity)
    val printed = new java.io.ByteArrayOutputStream
    assert(Console.withOut(printed)(
      Main.run(spark, cfg, srcDir, tgt, landing = Some("json"))))
    assert(printed.toString("UTF-8").contains("[quarantine] 1 corrupt landing rows excluded"),
      printed.toString("UTF-8"))
    val got = spark.read.parquet(tgt)
    assert(got.count() == orders.count() + b.count())
    // the sink schema is the config table's drop as inference reads it
    val inferred = spark.read
      .option("timestampFormat", graft.sink.StagedLoader.MicrosTimestampFormat)
      .option("inferTimestamp", "true").json(s"$srcDir/orders.json")
    assert(got.schema.map(f => f.name -> f.dataType) ==
      inferred.schema.map(f => f.name -> f.dataType))
  }

  test("Main.run --landing + incremental-time: inferred schema carries a real timestamp") {
    // the CLI landing probe infers the sink schema from the first drop;
    // without inferTimestamp the ts column would infer as STRING and the
    // time watermark would silently compare strings (advisor finding) —
    // this pins the inferred contract end-to-end through a time delta
    val srcDir = Files.createTempDirectory("graft-main-lts").toString
    val tgt = Files.createTempDirectory("graft-main-lts-tgt").toString + "/t"
    val events = graft.ops.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type")
    val cut = events.selectExpr("timestamp_micros(CAST(percentile_disc(0.5) " +
      "WITHIN GROUP (ORDER BY unix_micros(ts)) AS BIGINT)) AS c")
      .head().getTimestamp(0)
    def dump(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("append")
        .option("timestampFormat", graft.sink.StagedLoader.MicrosTimestampFormat)
        .json(s"$srcDir/events.json")
    dump(events.where(org.apache.spark.sql.functions.col("ts") <= cut))
    val db = new java.io.File(srcDir).getName
    val cfg = ArchiverConfig.fromJson(
      s"""{
         |  "sourceDB": "$db",
         |  "sourceTable": "events",
         |  "sourceWhereCondition": "ts >= '1970-01-01 00:00:00' and ts <= '2100-01-01 00:00:00'",
         |  "sourceSplitTimeKey": "ts",
         |  "timeSplitUnit": "day",
         |  "batchSize": 100000,
         |  "batchMaxInterval": 0,
         |  "maxThread": 1
         |}""".stripMargin).fold(e => fail(s"config parse: $e"), identity)
    assert(Main.run(spark, cfg, srcDir, tgt, incremental = true,
      landing = Some("json")))
    val tgtDf = spark.read.parquet(tgt)
    assert(tgtDf.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType,
      s"landing probe must infer ts as TIMESTAMP, got ${tgtDf.schema}")
    val n1 = events.where(org.apache.spark.sql.functions.col("ts") <= cut).count()
    assert(tgtDf.count() == n1)
    // second drop past the watermark sweeps only the delta
    dump(events.where(org.apache.spark.sql.functions.col("ts") > cut))
    assert(Main.run(spark, cfg, srcDir, tgt, incremental = true,
      landing = Some("json")))
    val after = spark.read.parquet(tgt)
    assert(after.count() == events.count())
    assert(after.select("event_id").distinct().count() == events.count(),
      "µs watermark must not re-load the boundary instant")
  }

  test("Main.run incremental mode: initial load, then a no-op delta") {
    val srcDir = Files.createTempDirectory("graft-main-src").toString
    val tgt = Files.createTempDirectory("graft-main-tgt").toString + "/t"
    spark.read.parquet(s"$sf/orders.parquet")
      .write.mode("overwrite").parquet(s"$srcDir/orders.parquet")
    val db = new java.io.File(srcDir).getName
    val cfg = ArchiverConfig.fromJson(
      s"""{
         |  "sourceDB": "$db",
         |  "sourceTable": "orders",
         |  "sourceWhereCondition": "o_totalprice > 5000",
         |  "sourceSplitKey": "o_orderkey",
         |  "batchSize": 500,
         |  "maxThread": 4
         |}""".stripMargin).fold(e => fail(s"config parse: $e"), identity)
    // first delta run over an empty target = the initial full load
    assert(Main.run(spark, cfg, srcDir, tgt, incremental = true))
    val expected = spark.read.parquet(s"$srcDir/orders.parquet")
      .where("o_totalprice > 5000").count()
    assert(spark.read.parquet(tgt).count() == expected)
    // second delta run: nothing new at the source → still correct, no dupes
    // (the full-archive mode would refuse here via the idempotency gate)
    assert(Main.run(spark, cfg, srcDir, tgt, incremental = true))
    assert(spark.read.parquet(tgt).count() == expected)
  }

  test("SIGTERM analogue: cancel hook mid-run, incremental recovery is exact") {
    // the signal path (reference cmd/main.go:29-35): the shutdown hook
    // fires Main.cancelAndSweep against an IN-FLIGHT archive — jobs
    // cancelled, staging root swept at an arbitrary instant — and the
    // process dies. Recovery is the incremental mode resuming from the
    // committed-key watermark (ascending-key commit order makes any
    // interruption leave a key-prefix). The assertion: whatever instant
    // the hook hit, the recovered target holds EXACTLY one copy of every
    // matching source row.
    val srcDir = Files.createTempDirectory("graft-main-sig-src").toString
    val tgt = Files.createTempDirectory("graft-main-sig-tgt").toString + "/t"
    spark.read.parquet(s"$sf/orders.parquet")
      .write.mode("overwrite").parquet(s"$srcDir/orders.parquet")
    val db = new java.io.File(srcDir).getName
    val cfg = ArchiverConfig.fromJson(
      s"""{
         |  "sourceDB": "$db",
         |  "sourceTable": "orders",
         |  "sourceWhereCondition": "o_totalprice > 5000",
         |  "sourceSplitKey": "o_orderkey",
         |  "batchSize": 50,
         |  "maxThread": 2
         |}""".stripMargin).fold(e => fail(s"config parse: $e"), identity)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val th = new Thread(() => {
      // the interrupted process: outcome irrelevant (it would be SIGKILLed
      // dead in production) — only the on-disk state it leaves matters
      try { Main.run(spark, cfg, srcDir, tgt, incremental = true); () }
      catch { case _: Throwable => () }
      finally done.set(true)
    }, "graft-sig-run")
    th.start()
    // fire the hook once the run is genuinely in flight (first committed
    // target file) — or immediately at thread end if it outran the poll
    val fs = new org.apache.hadoop.fs.Path(tgt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!done.get() && !fs.exists(new org.apache.hadoop.fs.Path(tgt))
        && System.nanoTime() < deadline) Thread.sleep(5)
    Main.cancelAndSweep(spark, s"$tgt.staging")
    th.join(180000)
    assert(!th.isAlive, "interrupted run thread must terminate")
    // fresh process, same config: the delta run resumes from the watermark
    assert(Main.run(spark, cfg, srcDir, tgt, incremental = true))
    val src = spark.read.parquet(s"$srcDir/orders.parquet")
      .where("o_totalprice > 5000")
    val got = spark.read.parquet(tgt)
    assert(got.count() == src.count(), "recovery must not lose rows")
    assert(got.select("o_orderkey").distinct().count() == src.count(),
      "no half-committed batch may survive as duplicates")
  }
}
