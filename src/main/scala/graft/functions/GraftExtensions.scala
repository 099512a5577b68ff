package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftshim.ColumnShim

/** SQL surface for the native kernels: register with
  *
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)          // programmatic, or
  *     .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  *
  * or, for a session that already exists (notebooks, shared sessions —
  * `withExtensions` is construction-time only):
  *
  *   GraftExtensions.attach(spark)
  *
  * after which `spark.sql("SELECT simhash64(tokens), dot_d(a, b), ...")`
  * works anywhere the DataFrame helpers do: each SQL name builds through
  * its Column helper, so both paths give the same [[Kernel]] node.
  * Registration is FunctionRegistry injection only — no parser/optimizer
  * changes — so the kernels stay ordinary codegen'd Catalyst nodes in the
  * plan.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other =>
      throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  private def c(e: Expression): Column = ColumnShim.column(e)

  /** One SQL function built through its Column helper. */
  private def fn(name: String, usage: String)(helper: Seq[Expression] => Column)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
      args => ColumnShim.expression(helper(args)))

  /** The one function table both registration paths share. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("simhash64", "simhash64(tokens) - 64-bit SimHash of an array<string> of tokens")(
      a => SimHash64.simhash64(c(a(0)))),
    fn("dot_d", "dot_d(a, b) - dot product of two array<double> vectors")(
      a => VectorOps.dot_d(c(a(0)), c(a(1)))),
    fn("minhash_sig", "minhash_sig(shingles, nHash) - MinHash signature of array<string>")(
      a => VectorOps.minhash_sig(c(a(0)), intArg(a(1), "nHash"))),
    fn("minhash_shingled",
        "minhash_shingled(tokens, gram, nHash) - MinHash over word n-gram shingles")(
      a => VectorOps.minhash_shingled(c(a(0)), intArg(a(1), "gram"), intArg(a(2), "nHash"))),
    fn("splitmix64", "splitmix64(key) - splitmix64 mix of a bigint key (dataset routing)")(
      a => SplitMix64.splitmix64(c(a(0)))),
    fn("word_ngrams", "word_ngrams(tokens, gram) - space-joined word n-gram shingles")(
      a => VectorOps.word_ngrams(c(a(0)), intArg(a(1), "gram"))),
    fn("normalize_nfc", "normalize_nfc(s) - Unicode NFC canonicalization of a string")(
      a => NormalizeNFC.normalize_nfc(c(a(0)))),
    fn("word_rep_stats",
        "word_rep_stats(tokens) - struct(topc, total, n_distinct, n_bg) repetition stats")(
      a => TextStats.word_rep_stats(c(a(0)))),
    fn("block_rep_stats",
        "block_rep_stats(tokens) - struct(n_blocks, dup_blocks, blk_chars, dup_chars, " +
          "top_gram, top_gram_n) block-grain repetition stats")(
      a => TextStats.block_rep_stats(c(a(0)))),
    fn("ws_tokens", "ws_tokens(s) - whitespace tokens; = regexp_extract_all(s, '\\S+', 0)")(
      a => Tokenize.ws_tokens(c(a(0)))),
    fn("alpha_runs", "alpha_runs(s) - [a-z]+ runs; = regexp_extract_all(s, '[a-z]+', 0)")(
      a => Tokenize.alpha_runs(c(a(0)))),
    fn("count_alpha",
        "count_alpha(s) - [A-Za-z] char count; = size(regexp_extract_all(s, '[A-Za-z]', 0))")(
      a => Tokenize.count_alpha(c(a(0)))),
  )

  /** Idempotently register the functions into an existing session. */
  def attach(spark: SparkSession): Unit =
    functions.foreach { case (id, inf, b) =>
      ColumnShim.registerFunction(spark, id, inf, b)
    }
}
