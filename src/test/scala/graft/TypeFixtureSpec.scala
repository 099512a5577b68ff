package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.config.ArchiverConfig

/** The reference's canonical 9-column wide-typed e2e fixture
  * (FIXTURES.md §1; cmd/main_test.go:458-510): unsigned 64-bit PK, ints,
  * varchar, float, bool, DECIMAL(18,6), date, datetime, timestamp — 10
  * seed rows plus a NULL wave (ids i*11, odd i has NULL int/varchar/
  * timestamp). Expected archived count: 20. Exercises every type-mapping
  * branch of SURVEY §1.2 through the full pipeline, including the
  * bool→int sink rewrite (pg/mssql/oracle behavior).
  */
class TypeFixtureSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", DecimalType(20, 0), nullable = false),
    StructField("int_col", IntegerType),
    StructField("varchar_col", StringType),
    StructField("float_col", FloatType),
    StructField("bool_col", BooleanType),
    StructField("de", DecimalType(18, 6)),
    StructField("date_col", DateType),
    StructField("datetime_col", TimestampType),
    StructField("timestamp_col", TimestampType)))

  private def seedRows: Seq[Row] = {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def d(s: String) = java.sql.Date.valueOf(s)
    val wave1 = (1 to 10).map { i =>
      Row(BigDecimal(i), i, s"varchar $i", i.toFloat * 1.5f, i % 2 == 0,
        BigDecimal("1.100000"), d("2022-01-01"),
        ts("2022-01-01 00:00:00"), ts("2024-06-30 20:00:00"))
    }
    val wave2 = (1 to 10).map { i =>
      val odd = i % 2 == 1
      Row(BigDecimal(i * 11L + 100L), if (odd) null else i,
        if (odd) null else s"varchar ${i * 11}", i.toFloat, i % 2 == 0,
        BigDecimal("1.100000"), d("2022-01-01"),
        ts("2022-01-01 00:00:00"), if (odd) null else ts("2024-06-30 20:00:00"))
    }
    wave1 ++ wave2
  }

  test("canonical wide-typed table archives end-to-end with count 20, NULLs intact") {
    val srcDir = Files.createTempDirectory("graft-types").toString
    val tgt = srcDir + "/target"
    spark.createDataFrame(
        spark.sparkContext.parallelize(seedRows, 2), schema)
      .write.parquet(s"$srcDir/test_table.parquet")

    val cfg = ArchiverConfig(
      sourceDB = new java.io.File(srcDir).getName, sourceTable = "test_table",
      sourceWhereCondition = "id < 10000", sourceSplitKey = "id",
      batchSize = 5, maxThread = 3)
    val report = Archiver.wire(spark, cfg,
      new graft.source.ParquetTableSource(spark, srcDir), tgt, tgt + ".stg",
      pacingSleep = _ => ()).run()

    assert(report.reconciliation.correct)
    assert(report.reconciliation.targetRows == 20) // reference golden count

    val loaded = spark.read.schema(schema).parquet(tgt)
    // NULL wave survived the NDJSON staging hop
    assert(loaded.where("int_col IS NULL").count() == 5)
    assert(loaded.where("timestamp_col IS NULL").count() == 5)
    // unsigned-range id round-trips as exact decimal
    assert(loaded.where("id = 210").count() == 1) // wave-2 max (10*11+100)
    // decimal fidelity through NDJSON
    assert(loaded.where("de = CAST('1.100000' AS DECIMAL(18,6))").count() == 20)
  }

  test("bool→int sink rewrite (pg/mssql/oracle semantics) via aligned cast") {
    val sinkSchema = StructType(schema.fields.map {
      case f if f.name == "bool_col" => f.copy(dataType = IntegerType)
      case f => f
    })
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(seedRows.take(4), 1), schema)
    val loader = new graft.sink.StagedLoader(spark,
      Files.createTempDirectory("graft-bool").toString + "/t", sinkSchema)
    val aligned = loader.align(df)
    val vals = aligned.select("id", "bool_col").collect()
      .map(r => r.getDecimal(0).intValue() -> r.getInt(1)).toMap
    assert(vals == Map(1 -> 0, 2 -> 1, 3 -> 0, 4 -> 1)) // true/false → 1/0
  }

  test("uint64 max survives the STAGED LOAD hop in every staging format") {
    // the edge SURVEY §7.4 calls out (reference source/mysql.go:410-458):
    // 18446744073709551615 is representable by NO long/double — only the
    // DECIMAL(20,0) lane carries it, and it must survive the text formats'
    // serialize→parse round-trip, not just the columnar ones
    val uMax = BigDecimal("18446744073709551615")
    val row = Seq(Row(uMax, 7, "umax", 1.0f, true, BigDecimal("0.000001"),
      java.sql.Date.valueOf("2022-01-01"),
      java.sql.Timestamp.valueOf("2022-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-06-30 20:00:00")))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(row, 1), schema)
    Seq("json", "csv", "parquet", "orc").foreach { fmt =>
      val root = Files.createTempDirectory(s"graft-umax-$fmt").toString
      val loader = new graft.sink.StagedLoader(spark, s"$root/t", schema,
        stagingFormat = fmt)
      assert(loader.ingest(df, s"$root/stg") == 1L, s"$fmt: ingest count")
      val got = spark.read.schema(schema).parquet(s"$root/t")
        .select("id").head().getDecimal(0)
      assert(BigDecimal(got) == uMax, s"$fmt staging lost uint64 max")
      // the incremental watermark must carry the full unsigned range too
      assert(loader.maxKey("id").contains(BigInt("18446744073709551615")),
        s"$fmt: maxKey watermark")
    }
  }

  test("HTML metacharacters round-trip the staged load byte-exactly in every format") {
    // Go's json.Marshal escapes `<` `>` `&` to </>/& by
    // default (reference source/source.go:164-189); Spark's JSON writer
    // emits them raw. Both are valid JSON encodings of the SAME string —
    // what the archival contract requires is that the decoded value is
    // byte-identical after the staged load, which this pins across all
    // four staging formats (plus quotes, backslash, and a tab for the
    // CSV/JSON escape paths).
    val tricky = "<a href=\"x?a=1&b=2\">T&C's</a> \\ <script> &amp; \t end"
    val row = Seq(Row(BigDecimal(1), 1, tricky, 1.0f, true,
      BigDecimal("0.000001"), java.sql.Date.valueOf("2022-01-01"),
      java.sql.Timestamp.valueOf("2022-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-06-30 20:00:00")))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(row, 1), schema)
    Seq("json", "csv", "parquet", "orc").foreach { fmt =>
      val root = Files.createTempDirectory(s"graft-esc-$fmt").toString
      val loader = new graft.sink.StagedLoader(spark, s"$root/t", schema,
        stagingFormat = fmt)
      assert(loader.ingest(df, s"$root/stg") == 1L, s"$fmt: ingest count")
      val got = spark.read.schema(schema).parquet(s"$root/t")
        .select("varchar_col").head().getString(0)
      assert(got == tricky,
        s"$fmt staging corrupted HTML metacharacters: got <$got>")
    }
  }

  test("uint64 max id survives the pipeline as DECIMAL(20,0)") {
    val uMax = BigDecimal("18446744073709551615")
    val row = Seq(Row(uMax, 1, "max", 1.0f, true, BigDecimal("0.000001"),
      java.sql.Date.valueOf("2022-01-01"),
      java.sql.Timestamp.valueOf("2022-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-06-30 20:00:00")))
    val srcDir = Files.createTempDirectory("graft-umax").toString
    spark.createDataFrame(spark.sparkContext.parallelize(row, 1), schema)
      .write.parquet(s"$srcDir/t.parquet")
    val back = spark.read.parquet(s"$srcDir/t.parquet")
      .where(s"id = CAST('$uMax' AS DECIMAL(20,0))")
    assert(back.count() == 1)
    assert(BigDecimal(back.head().getDecimal(0)) == uMax)
  }
}
