package graft

import java.nio.file.Files

import graft.config.ArchiverConfig
import graft.plan.{ArchivePlanner, KeySplitPlan}
import graft.sink.StagedLoader
import graft.source.{DerbyDialect, DriverJdbc, JdbcTableSource}

/** The flagship archival path against a LIVE JDBC engine — embedded Derby,
  * whose jars ship with Spark, so `spark.read.jdbc(url, table, predicates,
  * props)` actually executes (remote cursors, real catalog metadata, real
  * DML) with zero network egress. This is the tier the reference covers
  * with live-DBMS CI (cmd/main_test.go:25-59, ci.yaml:12-44; scan at
  * source/mysql.go:182-296): discovery, the planning aggregates, the
  * partitioned predicate scan, schema probe, staged load, reconciliation,
  * and delete-back DML — none of it through the parquet stand-in.
  * Discovery, the planning aggregates, the reconciliation count and the
  * delete-back run as driver-side statements on one JDBC connection each
  * ([[graft.source.DriverJdbc]]), with no Spark job; only the scan is one.
  */
class JdbcE2ESpec extends SparkSpec {

  private val locator = "memory:graftdb"
  private def bootUrl = s"jdbc:derby:$locator;create=true"

  private def withConn[A](f: java.sql.Connection => A): A = {
    val c = java.sql.DriverManager.getConnection(bootUrl)
    try f(c) finally c.close()
  }

  /** (Re-)seed ARCHDB.ORDERS_ARCHIVE with 200 rows + an empty sibling
    * table; idempotent so each test starts from the same live state. */
  private def seed(): Unit = withConn { c =>
    val st = c.createStatement()
    def tryRun(sql: String): Unit =
      try { st.execute(sql): Unit }
      catch { case _: java.sql.SQLException => () } // already exists
    tryRun("CREATE SCHEMA ARCHDB")
    tryRun("""CREATE TABLE ARCHDB.ORDERS_ARCHIVE (
             |  ID BIGINT NOT NULL PRIMARY KEY,
             |  USER_ID INT,
             |  STATUS VARCHAR(16),
             |  TS TIMESTAMP,
             |  AMOUNT DECIMAL(12,2))""".stripMargin)
    tryRun("CREATE TABLE ARCHDB.EVENTS_LOG (ID BIGINT NOT NULL PRIMARY KEY)")
    st.execute("DELETE FROM ARCHDB.ORDERS_ARCHIVE")
    st.close()
    val ps = c.prepareStatement(
      "INSERT INTO ARCHDB.ORDERS_ARCHIVE VALUES (?, ?, ?, ?, ?)")
    (1 to 200).foreach { i =>
      ps.setLong(1, i.toLong)
      ps.setInt(2, i % 17)
      ps.setString(3, Seq("open", "done", "void")(i % 3))
      ps.setTimestamp(4, java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 3, 1, 0, 0, 0).plusMinutes(i.toLong)))
      ps.setBigDecimal(5, new java.math.BigDecimal(i).multiply(
        new java.math.BigDecimal("1.25")).setScale(2))
      ps.addBatch()
    }
    ps.executeBatch()
    ps.close()
  }

  private def source =
    new JdbcTableSource(spark, DerbyDialect, "", 0, "", "", locator)

  private def url = DerbyDialect.driverUrl("", 0, "", "", locator)

  private def derbyProps: java.util.Properties = {
    val p = new java.util.Properties()
    DerbyDialect.scanOptions.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  private def cfg = ArchiverConfig(
    databaseType = "derby",
    sourceDB = "ARCHDB", sourceTable = "ORDERS_ARCHIVE",
    sourceWhereCondition = "ID <= 120", sourceSplitKey = "ID",
    batchSize = 25, maxThread = 3)

  test("discovery + db@table regex expansion against live catalog metadata") {
    seed()
    val src = source
    assert(src.listDatabases().contains("ARCHDB"))
    assert(src.listTables("ARCHDB").toSet ==
      Set("ORDERS_ARCHIVE", "EVENTS_LOG"))
    assert(src.expandDbTables(Seq("ARCH.*@ORDERS.*")) ==
      Map("ARCHDB" -> Seq("ORDERS_ARCHIVE")))
  }

  test("planning aggregates push down as remote scalar queries") {
    seed()
    val src = source
    assert(src.count("ARCHDB", "ORDERS_ARCHIVE", "1=1") == 200L)
    assert(src.count("ARCHDB", "ORDERS_ARCHIVE", "ID <= 120") == 120L)
    assert(src.minMaxKey("ARCHDB", "ORDERS_ARCHIVE", "ID", "1=1") ==
      (BigInt(1), BigInt(200)))
    // empty-predicate sentinel (reference A3): MIN/MAX over zero rows
    assert(src.minMaxKey("ARCHDB", "ORDERS_ARCHIVE", "ID", "ID > 9999") ==
      (BigInt(0), BigInt(0)))
    val (mnT, mxT) = src.minMaxTime("ARCHDB", "ORDERS_ARCHIVE", "TS", "1=1")
    assert(mnT.startsWith("2024-03-01 00:01") && mxT.startsWith("2024-03-01 03:20"))
  }

  test("discovery, planning, count, minMaxTime and delete-back start no Spark job") {
    seed()
    val src = source
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.BusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(src.expandDbTables(Seq("ARCH.*@ORDERS.*")) ==
        Map("ARCHDB" -> Seq("ORDERS_ARCHIVE")))
      assert(ArchivePlanner.plan(src, cfg, "ARCHDB", "ORDERS_ARCHIVE")
        .isInstanceOf[KeySplitPlan])
      assert(src.count("ARCHDB", "ORDERS_ARCHIVE", "1=1") == 200L)
      assert(src.minMaxTime("ARCHDB", "ORDERS_ARCHIVE", "TS", "1=1")._1.nonEmpty)
      assert(src.deleteWhere("ARCHDB", "ORDERS_ARCHIVE", "ID > 9999") == 0L)
      org.apache.spark.BusDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, "control statements must not run as Spark jobs")
  }

  test("a DECIMAL split key of whole values plans exactly; a fractional one " +
       "fails naming the key") {
    seed()
    withConn { c =>
      val st = c.createStatement()
      try { st.execute("DROP TABLE ARCHDB.DEC_KEYS"): Unit }
      catch { case _: java.sql.SQLException => () }
      st.execute("CREATE TABLE ARCHDB.DEC_KEYS (K DECIMAL(12,2) NOT NULL, V INT)")
      st.execute("INSERT INTO ARCHDB.DEC_KEYS VALUES (1.00, 1), (7.00, 2), (40.00, 3), (40.50, 4)")
      st.close()
    }
    val src = source
    assert(src.minMaxKey("ARCHDB", "DEC_KEYS", "K", "K <= 40") == (BigInt(1), BigInt(40)))
    assert(src.minMaxKey("ARCHDB", "DEC_KEYS", "K", "K > 99") == (BigInt(0), BigInt(0)))
    val ex = intercept[IllegalArgumentException](
      src.minMaxKey("ARCHDB", "DEC_KEYS", "K", "1=1"))
    assert(ex.getMessage.contains("split key K") && ex.getMessage.contains("40.50"),
      ex.getMessage)
  }

  test("driver-side statements run the reader's sessionInitStatement first") {
    seed()
    val props = derbyProps
    props.setProperty("sessionInitStatement", "SET SCHEMA ARCHDB")
    val sql = "SELECT COUNT(*) FROM ORDERS_ARCHIVE"
    assert(DriverJdbc.query(url, props, sql) { rs => rs.next(); rs.getLong(1) } == 200L)
    // without it the unqualified name resolves in the default schema
    intercept[java.sql.SQLException](DriverJdbc.query(url, derbyProps, sql)(_.next()))
  }

  test("driver-side minMaxTime strings are the ones Spark's JDBC reader renders") {
    seed()
    val q = """SELECT TIMESTAMP('2024-03-01 00:01:02.123456789') AS A,
              |  DATE('2024-03-01') AS B, CAST(NULL AS TIMESTAMP) AS C,
              |  MIN(TS) AS D, MAX(STATUS) AS E
              |FROM ARCHDB.ORDERS_ARCHIVE""".stripMargin
    val driver = DriverJdbc.query(url, derbyProps, q) { rs =>
      rs.next(); (1 to 5).map(DriverJdbc.string(rs, _))
    }
    val row = spark.read.jdbc(url, s"($q) T", derbyProps).head()
    assert(driver == (0 until 5).map(i => Option(row.get(i)).fold("")(_.toString)))
    assert(driver.head == "2024-03-01 00:01:02.123456")
  }

  test("partitioned scan: one Spark input partition per planner predicate; " +
       "user predicate AND-composed remotely") {
    seed()
    val src = source
    val plan = ArchivePlanner.plan(src, cfg, "ARCHDB", "ORDERS_ARCHIVE")
    val preds = plan match {
      case KeySplitPlan(p, _, mn, mx) =>
        assert(mn == BigInt(1) && mx == BigInt(120)); p
      case other => fail(s"expected KeySplitPlan, got $other")
    }
    assert(preds.size > 1, s"planner must split: $preds")
    val df = src.scan("ARCHDB", "ORDERS_ARCHIVE", preds, "ID <= 120")
    // the 1000-concurrent-cursors contract: each predicate IS one Spark
    // input partition of the live JDBC relation
    assert(df.rdd.getNumPartitions == preds.size)
    assert(df.count() == 120L)
    // L4 schema probe comes free off the same relation
    assert(df.schema.fieldNames.toSeq ==
      Seq("ID", "USER_ID", "STATUS", "TS", "AMOUNT"))
    // user predicate composes with the partition predicates REMOTELY
    val even = src.scan("ARCHDB", "ORDERS_ARCHIVE", preds, "MOD(ID, 2) = 0")
    assert(even.count() == 60L)
  }

  test("full archival run: live scan -> staged load -> reconcile -> " +
       "delete-back DML mutates the source") {
    seed()
    val src = source
    val root = Files.createTempDirectory("graft-jdbc-e2e").toString
    val schema = src.schema("ARCHDB", "ORDERS_ARCHIVE")
    val archiver = Archiver.wire(spark, cfg.copy(deleteAfterSync = true),
      src, s"$root/target", s"$root/staging", pacingSleep = _ => ())
    val report = archiver.run()
    assert(report.reconciliation.correct, report.toString)
    assert(report.reconciliation.targetRows == 120L)
    assert(report.deletedBack == 120L)
    // the live source lost exactly the archived range
    assert(src.count("ARCHDB", "ORDERS_ARCHIVE", "1=1") == 80L)
    assert(src.count("ARCHDB", "ORDERS_ARCHIVE", "ID <= 120") == 0L)
    // and the target holds it, decimal/timestamp fidelity intact
    val tgt = spark.read.schema(schema).parquet(s"$root/target")
    assert(tgt.count() == 120L)
    assert(tgt.where("ID = 120").select("AMOUNT").head().getDecimal(0)
      .compareTo(new java.math.BigDecimal("150.00")) == 0)
    // idempotency gate (A5): a second run against the same target refuses
    val again = intercept[IllegalArgumentException](archiver.run())
    assert(again.getMessage.contains("refusing to run"))
  }

  test("incremental high-watermark sync against the live source: " +
       "initial load, source grows, delta run picks up only new keys") {
    seed() // idempotent ARCHDB bootstrap — keeps the test runnable in isolation
    withConn { c =>
      val st = c.createStatement()
      try { st.execute("DROP TABLE ARCHDB.ORDERS_DELTA"): Unit }
      catch { case _: java.sql.SQLException => () }
      st.execute("""CREATE TABLE ARCHDB.ORDERS_DELTA (
                   |  ID BIGINT NOT NULL PRIMARY KEY, V INT)""".stripMargin)
      st.close()
      val ps = c.prepareStatement("INSERT INTO ARCHDB.ORDERS_DELTA VALUES (?, ?)")
      (1 to 100).foreach { i => ps.setLong(1, i.toLong); ps.setInt(2, i * 3); ps.addBatch() }
      ps.executeBatch(); ps.close()
    }
    val src = source
    val root = Files.createTempDirectory("graft-jdbc-inc").toString
    val schema = src.scan("ARCHDB", "ORDERS_DELTA", Seq.empty, "1=1").schema
    // reads the watermark of the target the archiver writes
    val loader = new StagedLoader(spark, s"$root/target", schema)
    val icfg = cfg.copy(sourceTable = "ORDERS_DELTA",
      sourceWhereCondition = "ID >= 1", batchSize = 40)
    val archiver = Archiver.wire(spark, icfg, src, s"$root/target",
      s"$root/staging", pacingSleep = _ => ())
    val r1 = archiver.runIncremental()
    assert(r1.reconciliation.correct && r1.reconciliation.targetRows == 100L)
    assert(loader.maxKey("ID").contains(BigInt(100)))
    // the source grows; the delta run must load ONLY keys past the watermark
    withConn { c =>
      val ps = c.prepareStatement("INSERT INTO ARCHDB.ORDERS_DELTA VALUES (?, ?)")
      (101 to 150).foreach { i => ps.setLong(1, i.toLong); ps.setInt(2, i * 3); ps.addBatch() }
      ps.executeBatch(); ps.close()
    }
    val r2 = archiver.runIncremental()
    assert(r2.reconciliation.correct && r2.reconciliation.targetRows == 150L)
    assert(r2.tables.map(_.rowsLoaded).sum == 50L,
      s"delta run must load only the 50 new rows: $r2")
    assert(loader.maxKey("ID").contains(BigInt(150)))
    // no duplicates through the two staged commits
    val tgt = spark.read.schema(schema).parquet(s"$root/target")
    assert(tgt.count() == 150L)
    assert(tgt.select("ID").distinct().count() == 150L)
  }

  test("time-split archival + time-incremental sync against the live source " +
       "(dialect-typed timestamp literals)") {
    def insertRows(range: Range, baseSec: Int): Unit = withConn { c =>
      val ps = c.prepareStatement("INSERT INTO ARCHDB.EVENTS_TS VALUES (?, ?, ?)")
      range.foreach { i =>
        ps.setLong(1, i.toLong)
        ps.setTimestamp(2, java.sql.Timestamp.valueOf(
          java.time.LocalDateTime.of(2024, 3, 1, 0, 0, 0)
            .plusSeconds(baseSec + (i - range.head) * 30L)))
        ps.setInt(3, i)
        ps.addBatch()
      }
      ps.executeBatch(); ps.close()
    }
    seed() // idempotent ARCHDB bootstrap — keeps the test runnable in isolation
    withConn { c =>
      val st = c.createStatement()
      try { st.execute("DROP TABLE ARCHDB.EVENTS_TS"): Unit }
      catch { case _: java.sql.SQLException => () }
      st.execute("""CREATE TABLE ARCHDB.EVENTS_TS (
                   |  ID BIGINT NOT NULL PRIMARY KEY, TS TIMESTAMP, V INT)""".stripMargin)
      st.close()
    }
    insertRows(1 to 60, 0) // 30 minutes of 30 s ticks
    val src = source
    val root = Files.createTempDirectory("graft-jdbc-ts").toString
    val schema = src.scan("ARCHDB", "EVENTS_TS", Seq.empty, "1=1").schema
    // reads the watermark of the target the archiver writes
    val loader = new StagedLoader(spark, s"$root/target", schema)
    val tcfg = cfg.copy(sourceTable = "EVENTS_TS",
      sourceWhereCondition = "ID >= 1",
      sourceSplitKey = "", sourceSplitTimeKey = "TS",
      timeSplitUnit = "minute", batchMaxInterval = 0, maxThread = 1)
    // the plan the live engine will execute: 10-minute tumbling windows
    // with Derby's TIMESTAMP('...') literals (Derby rejects the ANSI
    // TIMESTAMP '...' form the other dialects take)
    ArchivePlanner.plan(src, tcfg, "ARCHDB", "EVENTS_TS") match {
      case graft.plan.TimeSplitPlan(ws) =>
        assert(ws.size == 4, ws.toString) // 3 real windows + degenerate tail
        assert(ws.head.contains("TIMESTAMP('2024-03-01 00:00:00')"), ws.head)
      case other => fail(s"expected TimeSplitPlan, got $other")
    }
    val archiver = Archiver.wire(spark, tcfg, src, s"$root/target",
      s"$root/staging", pacingSleep = _ => ())
    val r1 = archiver.run()
    assert(r1.reconciliation.correct && r1.reconciliation.targetRows == 60L)
    // µs-precision time watermark, then a live delta over the typed literal
    assert(loader.maxTime("TS").contains("2024-03-01 00:29:30.000000"))
    insertRows(61 to 70, 30 * 60)
    val r2 = archiver.runIncremental()
    assert(r2.reconciliation.correct && r2.reconciliation.targetRows == 70L)
    assert(r2.tables.map(_.rowsLoaded).sum == 10L,
      s"time-delta run must load only the 10 new rows: $r2")
    val tgt = spark.read.schema(schema).parquet(s"$root/target")
    assert(tgt.count() == 70L && tgt.select("ID").distinct().count() == 70L)
    // Derby compares TIMESTAMP with a bare string too, to the µs: the last
    // first-drop row sits at 00:29:30, so one µs below it counts 11 rows
    // and the instant itself 10, both as strings and as TIMESTAMP('…');
    // only the ANSI typed literal is refused
    Seq("2024-03-01 00:29:29.999999" -> 11L, "2024-03-01 00:29:30.000000" -> 10L)
      .foreach { case (w, n) =>
        assert(src.count("ARCHDB", "EVENTS_TS", s"TS > '$w'") == n, w)
        assert(src.count("ARCHDB", "EVENTS_TS", s"TS > ${src.timestampLiteral(w)}") == n, w)
      }
    val ansi = intercept[java.sql.SQLException](
      src.count("ARCHDB", "EVENTS_TS", "TS > TIMESTAMP '2024-03-01 00:29:30'"))
    assert(ansi.getSQLState == "42X01", ansi.getMessage)
  }

  test("multi-schema db@table regex archives several LIVE tables into one " +
       "target: summed reconciliation, NULL wave intact") {
    // The reference's multi-table loop (cmd/main.go:83-101) with its
    // two-wave seed shape (cmd/main_test.go:448-510): wave 1 is fully
    // populated, wave 2 (ids i*11+100) NULLs int/varchar/timestamp on odd
    // i. Two schemas of different sizes so the summed golden counts
    // (cmd/main_test.go:852-895) can't pass by accident, and the two
    // tables carry OVERLAPPING id ranges — the shared target must keep
    // both copies and reconcile on the SUM, not a distinct count.
    def seedWave(db: String, wave2N: Int): Unit = withConn { c =>
      val st = c.createStatement()
      def tryRun(sql: String): Unit =
        try { st.execute(sql): Unit }
        catch { case _: java.sql.SQLException => () }
      tryRun(s"CREATE SCHEMA $db")
      tryRun(s"DROP TABLE $db.ORDERS_WAVE")
      st.execute(s"""CREATE TABLE $db.ORDERS_WAVE (
                    |  ID BIGINT NOT NULL PRIMARY KEY,
                    |  INT_COL INT,
                    |  VARCHAR_COL VARCHAR(32),
                    |  TS TIMESTAMP)""".stripMargin)
      st.close()
      val ps = c.prepareStatement(
        s"INSERT INTO $db.ORDERS_WAVE VALUES (?, ?, ?, ?)")
      val base = java.time.LocalDateTime.of(2024, 3, 1, 0, 0, 0)
      def ts(i: Int) = java.sql.Timestamp.valueOf(base.plusMinutes(i.toLong))
      (1 to 10).foreach { i =>
        ps.setLong(1, i.toLong); ps.setInt(2, i)
        ps.setString(3, s"varchar $i"); ps.setTimestamp(4, ts(i))
        ps.addBatch()
      }
      (1 to wave2N).foreach { i =>
        ps.setLong(1, i * 11L + 100L)
        if (i % 2 == 1) {
          ps.setNull(2, java.sql.Types.INTEGER)
          ps.setNull(3, java.sql.Types.VARCHAR)
          ps.setNull(4, java.sql.Types.TIMESTAMP)
        } else {
          ps.setInt(2, i); ps.setString(3, s"varchar ${i * 11}")
          ps.setTimestamp(4, ts(i))
        }
        ps.addBatch()
      }
      ps.executeBatch(); ps.close()
    }
    seedWave("WAVEDB1", 10) // 20 rows, 5 NULL-wave rows
    seedWave("WAVEDB2", 5)  // 15 rows, 3 NULL-wave rows
    val src = source
    val root = Files.createTempDirectory("graft-jdbc-multi").toString
    // the config table (inside the regex's expansion) names the target's
    // schema; the expansion adds WAVEDB2's table of the same shape
    val mcfg = ArchiverConfig(
      databaseType = "derby",
      sourceDB = "WAVEDB1", sourceTable = "ORDERS_WAVE",
      sourceDbTables = Seq("WAVEDB.*@ORDERS.*"),
      sourceWhereCondition = "ID >= 1", sourceSplitKey = "ID",
      batchSize = 7, maxThread = 3)
    // the regex alone expands to both schemas; the config table adds none
    assert(src.expandDbTables(mcfg.sourceDbTables) ==
      Map("WAVEDB1" -> Seq("ORDERS_WAVE"), "WAVEDB2" -> Seq("ORDERS_WAVE")))
    val schema = src.scan("WAVEDB1", "ORDERS_WAVE", Seq.empty, "1=1").schema
    val archiver = Archiver.wire(spark, mcfg, src, s"$root/target",
      s"$root/staging", pacingSleep = _ => ())
    val r = archiver.run()
    assert(r.tables.map(t => (t.db, t.table, t.rowsLoaded)).toSet ==
      Set(("WAVEDB1", "ORDERS_WAVE", 20L), ("WAVEDB2", "ORDERS_WAVE", 15L)),
      r.toString)
    assert(r.reconciliation.correct, r.toString)
    assert(r.reconciliation.sourceRows == 35L &&
           r.reconciliation.targetRows == 35L, r.toString)
    val tgt = spark.read.schema(schema).parquet(s"$root/target")
    assert(tgt.count() == 35L)
    // overlapping ids stayed duplicated (two tables' worth), not merged
    assert(tgt.where("ID = 5").count() == 2L)
    // the NULL wave survived the staged NDJSON hop: 5 + 3 all-NULL rows,
    // and NULLs never leaked into wave 1
    assert(tgt.where("INT_COL IS NULL AND VARCHAR_COL IS NULL AND TS IS NULL")
      .count() == 8L)
    assert(tgt.where("ID <= 10 AND INT_COL IS NULL").count() == 0L)
    // fidelity of a populated wave-2 row through the text staging
    assert(tgt.where("ID = 122 AND VARCHAR_COL = 'varchar 22'").count() == 2L)
  }
}
