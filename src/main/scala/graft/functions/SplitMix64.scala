package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.LongType

/** splitmix64 of a 64-bit key as a native kernel — the
  * deterministic scrambler behind hash-based dataset routing (train/val/
  * test splits, stratified sampling, shard assignment). A keyed split must
  * be (a) stable across runs and engines, (b) uncorrelated with the key's
  * natural order; `pmod(key, 100)` fails (b) badly for sequential ids,
  * while rand() fails (a). splitmix64 is the standard statelessly-seeded
  * mixer (Steele et al., "Fast splittable pseudorandom number
  * generators", OOPSLA 2014) and — like [[SimHash64]]'s token hash — is
  * deliberately portable: wrapping-Long arithmetic is mod-2^64, so the
  * DuckDB oracle reproduces it exactly with HUGEINT arithmetic.
  *
  * Bound through [[Kernel]] (not a UDF), so routing stays inside
  * whole-stage codegen at the scan.
  */
object SplitMix64 {
  def kernel(h: Long): Long = {
    var z = h + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Column API: `splitmix64(keyCol)`. */
  def splitmix64(key: Column): Column =
    Kernel.column("splitmix64", "graft.functions.SplitMix64.kernel",
      Seq(key), Seq(LongType), LongType)
}
