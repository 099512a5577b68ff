package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 64-bit SimHash over a token array as a native Catalyst expression.
  *
  * For each token a deterministic 64-bit hash is formed by a poly-31 fold
  * over the token's code points finished with the splitmix64 mixer; each of
  * the 64 bit positions accumulates a ±1 vote across tokens; the signature
  * bit is 1 where the vote is positive. Near-duplicate texts differ in few
  * tokens, so their signatures differ in few bits (compare via hamming
  * distance).
  *
  * The token hash is deliberately engine-portable — poly31 + splitmix64 is
  * expressible in plain SQL with 128-bit integer arithmetic (see the
  * dedup_simhash DuckDB oracle, which reproduces these signatures
  * bit-for-bit), so the whole operator is cross-engine verifiable rather
  * than pinned only by specs. splitmix64's avalanche keeps the bit votes
  * uniform despite the weak base hash.
  *
  * A Catalyst `Expression` (not a Scala UDF) so null handling, eval on
  * `UTF8String` without row conversion, and filter pushdown around it stay
  * native; `doGenCode` emits a static-kernel call so surrounding
  * projections stay inside one whole-stage-codegen stage.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash64 requires array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    SimHash64.kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SimHash64.kernel($a);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

object SimHash64 {
  import org.apache.spark.sql.graftshim.ColumnShim

  /** poly31 over code points + splitmix64 — wrapping Long arithmetic is
    * mod-2^64, matching the oracle's HUGEINT formulation exactly. */
  def tokenHash(s: String): Long = {
    var h = 0L
    var j = 0
    while (j < s.length) {
      val cp = s.codePointAt(j)
      h = h * 31L + cp
      j += Character.charCount(cp)
    }
    SplitMix64.kernel(h)
  }

  def kernel(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = tokenHash(arr.getUTF8String(i).toString)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Column API: `simhash64(tokensCol)`. */
  def simhash64(tokens: Column): Column =
    ColumnShim.column(SimHash64(ColumnShim.expression(tokens)))
}
