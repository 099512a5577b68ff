package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query: a Spark DataFrame program plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle over the
  * same parquet tables. Column names/aliases MUST match between the two —
  * the driver sorts columns by name before hashing.
  *
  * Determinism rules applied throughout the suite (so the hash compare is
  * stable across engines and across Spark's own partition/merge order):
  *   - aggregates over double columns go through `cast(... as decimal)` at a
  *     scale that holds the true value exactly (all testdata doubles are
  *     2-decimal; products of two 2-decimal values are exact at scale 4) —
  *     decimal addition is associative, so Spark's partial-agg merge order
  *     and DuckDB's parallel sums agree bit-for-bit;
  *   - averages are `CAST(decimal_sum AS DOUBLE) / count` in both engines
  *     (one IEEE division of identical inputs);
  *   - every result has a total ORDER BY on a unique key set;
  *   - FINAL output columns are never DECIMAL and never a bare `sum(int)`:
  *     the driver compares through pandas, where DuckDB DECIMAL and
  *     HUGEINT surface as float64 while Spark parquet DECIMAL stays
  *     Decimal objects — so every decimal aggregate is cast to DOUBLE and
  *     every integer sum to BIGINT in the final projection of BOTH
  *     engines (one exact conversion of identical values = identical
  *     bits). Array/map columns are likewise reduced to scalars or
  *     strings before output (pandas cannot sort list cells).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))
}
