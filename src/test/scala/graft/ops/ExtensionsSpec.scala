package graft.ops

import org.apache.spark.sql.Column

import graft.{MainSources, SparkSpec}

/** The SQL surface of the native kernels must agree with the DataFrame
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

  test("every SQL function returns its Column helper's value") {
    import org.apache.spark.sql.functions._
    import graft.functions._
    val toks = "array('a b', 'c', 'a b', 'd', 'c')"
    val toksCol = array(Seq("a b", "c", "a b", "d", "c").map(lit): _*)
    val text = "'The cat,  the Ünïcode\tdog'"
    val textCol = lit("The cat,  the Ünïcode\tdog")
    val cases: Map[String, (String, Column)] = Map(
      "simhash64" -> (s"simhash64($toks)", SimHash64.simhash64(toksCol)),
      "dot_d" -> ("dot_d(array(1.5d, 2.0d), array(3.0d, -4.0d))",
        VectorOps.dot_d(array(lit(1.5), lit(2.0)), array(lit(3.0), lit(-4.0)))),
      "minhash_sig" -> (s"minhash_sig($toks, 8)", VectorOps.minhash_sig(toksCol, 8)),
      "minhash_shingled" -> (s"minhash_shingled($toks, 2, 8)",
        VectorOps.minhash_shingled(toksCol, 2, 8)),
      "splitmix64" -> ("splitmix64(42L)", SplitMix64.splitmix64(lit(42L))),
      "word_ngrams" -> (s"word_ngrams($toks, 2)", VectorOps.word_ngrams(toksCol, 2)),
      "normalize_nfc" -> ("normalize_nfc('e\u0301')",
        NormalizeNFC.normalize_nfc(lit("e\u0301"))),
      "word_rep_stats" -> (s"word_rep_stats($toks)", TextStats.word_rep_stats(toksCol)),
      "block_rep_stats" -> (s"block_rep_stats($toks)", TextStats.block_rep_stats(toksCol)),
      "ws_tokens" -> (s"ws_tokens($text)", Tokenize.ws_tokens(textCol)),
      "alpha_runs" -> (s"alpha_runs(lower($text))", Tokenize.alpha_runs(lower(textCol))),
      "count_alpha" -> (s"count_alpha($text)", Tokenize.count_alpha(textCol)))
    assert(cases.keySet == GraftExtensions.functions.map(_._1.funcName).toSet)
    // the SQL side folds its literal call (interpreted eval); the helper
    // side runs with folding off, so the kernel call is generated code
    val excluded = "spark.sql.optimizer.excludedRules"
    spark.conf.set(excluded, "org.apache.spark.sql.catalyst.optimizer.ConstantFolding")
    try cases.foreach { case (name, (sql, helper)) =>
      val viaSql = spark.sql(s"SELECT $sql AS v").head().get(0)
      val viaCol = spark.range(1).select(helper.as("v")).head().get(0)
      assert(viaSql != null, name)
      assert(viaSql == viaCol, name)
    } finally spark.conf.unset(excluded)
  }

  test("a wrong input type is an analysis error naming the function") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT simhash64('not an array')").collect()
    }
    assert(e.getMessage.contains("simhash64"), e.getMessage)
    assert(e.getMessage.contains("array<string>"), e.getMessage)
  }

  test("kernel calls read as their SQL name in columns and plans") {
    import org.apache.spark.sql.functions._
    val df = spark.range(3).select(
      graft.functions.SplitMix64.splitmix64(col("id")),
      graft.functions.VectorOps.minhash_sig(array(col("id").cast("string")), 4))
    assert(df.columns.toSeq ==
      Seq("splitmix64(id)", "minhash_sig(array(CAST(id AS STRING)))"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("splitmix64(id#") && plan.contains(", 4) AS minhash_sig("), plan)
    assert(plan.contains("*("), "kernels stay in whole-stage codegen:\n" + plan)
  }

  test("only the Kernel binding generates code under src/main/scala") {
    val binding = "graft/functions/Kernel.scala"
    val bad = MainSources.offenders(
      """doGenCode|extends\s+UnaryExpression|extends\s+BinaryExpression""", Set(binding))
    assert(bad.isEmpty,
      "native kernels bind through graft.functions.Kernel; hand-written expressions in: " +
        bad.mkString(", "))
    assert(MainSources.text(binding).contains("doGenCode"))
  }
}
