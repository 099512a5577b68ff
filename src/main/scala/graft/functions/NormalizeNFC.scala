package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native kernel — the
  * canonicalization step a web-corpus pipeline runs BEFORE any hashing
  * dedup: the same visible text crawled from two pages can arrive as
  * precomposed («é», U+00E9) or decomposed («e»+U+0301) code-point
  * sequences, which hash differently and silently defeat exact and
  * shingle dedup. NFC composes canonically-equivalent sequences to one
  * form so downstream digests agree.
  *
  * Bound through [[Kernel]] (not a Scala UDF): null handling stays native
  * and generated code calls the static kernel, so the surrounding cleaning
  * projection stays inside one whole-stage-codegen stage. The kernel
  * fast-paths already-normalized input (the overwhelmingly common case —
  * ASCII is trivially NFC) with a zero-allocation check, returning the
  * original `UTF8String` untouched.
  *
  * Cross-engine note: java.text.Normalizer and DuckDB's ICU
  * `nfc_normalize` implement the same Unicode canonical composition; the
  * contract query exercises composition sequences (base + combining
  * accents) that are stable across every Unicode version either engine
  * could ship.
  */
object NormalizeNFC {
  def kernel(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  def normalize_nfc(c: Column): Column =
    Kernel.column("normalize_nfc", "graft.functions.NormalizeNFC.kernel",
      Seq(c), Seq(StringType), StringType)
}
