package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

/** 64-bit SimHash over a token array as a native kernel.
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
  * Bound through [[Kernel]] (not a Scala UDF) so null handling, eval on
  * `UTF8String` without row conversion, and filter pushdown around it stay
  * native, and surrounding projections stay inside one whole-stage-codegen
  * stage.
  */
object SimHash64 {
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
    Kernel.column("simhash64", "graft.functions.SimHash64.kernel",
      Seq(tokens), Seq(ArrayType(StringType)), LongType)
}
