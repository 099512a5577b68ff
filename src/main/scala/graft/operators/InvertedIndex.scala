package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Guards for inverted-index candidate generation (the shared shape of
  * every near-dup/LSH operator: explode to (id, bucket) → self-join on
  * bucket). Candidate work is Σ |bucket|², so one degenerate bucket — all
  * empty documents sharing a signature, a boilerplate shingle present in
  * half the corpus — turns a linear pass into a quadratic blowup. The
  * standard production mitigation is to cap bucket width: a bucket shared
  * by thousands of documents carries no discriminative signal for
  * NEAR-dup detection anyway (its members pair through their other,
  * rarer buckets).
  */
object InvertedIndex {

  /** Drop rows belonging to buckets wider than `cap`.
    *
    * One extra window count over the bucket key — it reuses the very
    * shuffle the downstream self-join needs, so on a co-partitioned plan
    * the guard is close to free. Returns the input unchanged when every
    * bucket is within the cap.
    */
  def capBuckets(df: DataFrame, bucketCols: Seq[String], cap: Long): DataFrame = {
    require(cap >= 2, s"bucket cap must allow pairs (got $cap)")
    val w = Window.partitionBy(bucketCols.map(col): _*)
    df.withColumn("__bucket_n", count(lit(1)).over(w))
      .where(col("__bucket_n") <= cap)
      .drop("__bucket_n")
  }

  /** Audit variant: per-bucket widths above `cap`, widest first — the
    * report a pipeline logs when the guard fires (silent truncation reads
    * as "covered everything" when it didn't). */
  def oversizedBuckets(df: DataFrame, bucketCols: Seq[String],
      cap: Long): DataFrame =
    df.groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > cap)
      .orderBy(col("bucket_n").desc)
}
