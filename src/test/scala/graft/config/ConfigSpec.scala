package graft.config

import org.scalatest.funsuite.AnyFunSuite

/** Mirrors config/config_test.go:8-104 (validateSourceSplitTimeKey accept/
  * reject cases) and the preCheck invariants. */
class ConfigSpec extends AnyFunSuite {
  import ArchiverConfig._

  test("validateSourceSplitTimeKey accepts the 4 operator combinations") {
    Seq(
      "t1 > '2024-06-30 2:00:00' and t1 < '2024-06-30 20:00:00'",
      "t1 >= '2024-06-30 2:00:00' and t1 <= '2024-06-30 20:00:00'",
      "t1 >= '2024-06-30 2:00:00' and t1 < '2024-06-30 20:00:00'",
      "t1 > '2024-06-30 2:00:00' and t1 <= '2024-06-30 20:00:00'",
      "t1>'2024-06-30 2:00:00' and t1<'2024-06-30 20:00:00'",
    ).foreach(w => assert(validateSourceSplitTimeKey(w).isRight, w))
  }

  test("validateSourceSplitTimeKey rejects malformed predicates") {
    Seq(
      "t1 = '2024-06-30'",
      "t1 > '2024-06-30' or t1 < '2024-07-30'",
      "t1 > 2024 and t1 < 2025",
      "t1 > '2024' and t2 < '2025' and t3 < '2026'",
      "",
    ).foreach(w => assert(validateSourceSplitTimeKey(w).isLeft, w))
  }

  test("preCheck: exactly one split mode required") {
    val base = ArchiverConfig(sourceWhereCondition = "id > 0")
    assert(preCheck(base).isLeft)
    assert(preCheck(base.copy(sourceSplitKey = "id")).isRight)
    assert(preCheck(base.copy(sourceSplitKey = "id", sourceSplitTimeKey = "t1")).isLeft)
  }

  test("preCheck: WHERE required; time mode needs thread=1, valid unit, shaped WHERE") {
    assert(preCheck(ArchiverConfig(sourceSplitKey = "id")).isLeft)
    val tm = ArchiverConfig(sourceSplitTimeKey = "t1", timeSplitUnit = "hour",
      sourceWhereCondition = "t1 > '2024-01-01 00:00:00' and t1 < '2024-02-01 00:00:00'")
    assert(preCheck(tm).isRight)
    assert(preCheck(tm.copy(maxThread = 2)).isLeft)
    assert(preCheck(tm.copy(timeSplitUnit = "week")).isLeft)
    assert(preCheck(tm.copy(sourceWhereCondition = "t1 = '2024-01-01'")).isLeft)
  }

  test("preCheck normalizes defaults (maxThread)") {
    val c = preCheck(ArchiverConfig(sourceSplitKey = "id",
      sourceWhereCondition = "id > 0", maxThread = 0)).toOption.get
    assert(c.maxThread == 1)
  }

  test("fromJson parses the reference config format") {
    val json =
      """{"databaseType":"mysql","sourceHost":"127.0.0.1","sourcePort":3306,
        |"sourceUser":"root","sourceDB":"mydb","sourceTable":"test_table",
        |"sourceWhereCondition":"id < 100","sourceSplitKey":"id",
        |"databendTable":"default.test_table","batchSize":2,"maxThread":10,
        |"copyPurge":true,"deleteAfterSync":false}""".stripMargin
    val c = ArchiverConfig.fromJson(json)
    assert(c.isRight, c)
    assert(c.toOption.get.batchSize == 2L)
    assert(c.toOption.get.maxThread == 10)
  }

  test("preCheck: staging format whitelisted, defaults to NDJSON") {
    val base = ArchiverConfig(sourceSplitKey = "id", sourceWhereCondition = "id > 0")
    assert(preCheck(base).toOption.get.stagingFormat == "json")
    Seq("csv", "parquet", "orc").foreach { f =>
      assert(preCheck(base.copy(stagingFormat = f)).isRight, f)
    }
    assert(preCheck(base.copy(stagingFormat = "avro")).isLeft,
      "unsupported staging formats must be rejected at config time")
  }
}
