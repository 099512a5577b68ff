package graft.ops

import graft.SparkSpec

/** The SQL surface of the native expressions must agree with the DataFrame
  * helpers — same kernels, two registration paths. The shared session is
  * GraftSession's, which registers the extensions.
  */
class ExtensionsSpec extends SparkSpec {

  test("simhash64 / dot_d / minhash_shingled / word_ngrams callable from SQL") {
    val rows = spark.sql(
      """SELECT simhash64(array('a', 'b', 'c')) AS sh,
        |  dot_d(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
        |  size(minhash_shingled(array('x', 'y', 'z', 'w'), 2, 16)) AS mh,
        |  word_ngrams(array('p', 'q', 'r'), 2) AS ng""".stripMargin).head()
    assert(rows.getDouble(1) == 11.0)
    assert(rows.getInt(2) == 16)
    assert(rows.getSeq[String](3) == Seq("p q", "q r"))
    // same kernel as the DataFrame path
    import org.apache.spark.sql.functions._
    val viaDf = spark.range(1)
      .select(graft.functions.SimHash64.simhash64(
        array(lit("a"), lit("b"), lit("c")))).head().getLong(0)
    assert(rows.getLong(0) == viaDf)
  }

  test("sql plan with native functions stays whole-stage-codegen") {
    val df = spark.sql(
      "SELECT dot_d(array(id * 1.0d, 2.0d), array(3.0d, 4.0d)) AS d FROM range(100)")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("))
  }

  test("normalize_nfc / word_rep_stats / block_rep_stats callable from SQL") {
    // Spark's chr() is ASCII-mod-256, so the decomposed sequence is a
    // Scala literal: 'e' + U+0301 combining acute
    val r = spark.sql(
      s"""SELECT normalize_nfc('é') AS nfc,
         |  word_rep_stats(array('a', 'b', 'a')) AS w,
         |  block_rep_stats(split('a a a', ' ')) AS b""".stripMargin).head()
    assert(r.getString(0) == "é") // precomposed é, one code point
    val w = r.getStruct(1)
    assert(w.getLong(0) == 2L && w.getLong(1) == 3L && w.getLong(2) == 2L)
    val b = r.getStruct(2)
    assert(b.getLong(0) == 1L && b.getString(4) == "a a" && b.getLong(5) == 2L)
    // same kernel as the DataFrame path
    import org.apache.spark.sql.functions._
    val viaDf = spark.range(1)
      .select(graft.functions.TextStats.block_rep_stats(
        split(lit("a a a"), " ")).getField("top_gram")).head().getString(0)
    assert(b.getString(4) == viaDf)
  }

  test("non-literal nHash is rejected with a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_sig(array('a'), cast(rand() * 4 as int))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("literal"), e.getMessage)
  }
}
