package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-insensitive content hash: the sum, as an exact
  * decimal, of one xxhash64 per row over every column in order. Values hash
  * at full precision, so a timestamp truncated to milliseconds or a double
  * that lost digits changes the hash. Map columns, which Spark cannot hash,
  * hash through their string form. */
final case class Fingerprint(rows: Long, hash: String)

object Fingerprint {
  def of(df: DataFrame): Fingerprint = {
    val cols = df.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) col(f.name).cast(StringType) else col(f.name)
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
    Fingerprint(r.getLong(0),
      Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Errors of `got` against `want`; `checkHash = false` compares the row
    * count only (queries whose output is not deterministic). */
  def compare(name: String, got: Fingerprint, want: Fingerprint,
      checkHash: Boolean): Seq[String] =
    if (got.rows != want.rows)
      Seq(s"$name: ${got.rows} rows, expected ${want.rows}")
    else if (checkHash && got.hash != want.hash)
      Seq(s"$name: content hash ${got.hash}, expected ${want.hash}")
    else Seq.empty
}
