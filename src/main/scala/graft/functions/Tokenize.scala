package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native tokenizers replacing `regexp_extract_all` in the hot paths.
  *
  * The two tokenize shapes the whole text/dedup lane is built on —
  * `regexp_extract_all(text, '\S+', 0)` (whitespace tokens) and
  * `regexp_extract_all(lower(text), '[a-z]+', 0)` (letter runs) — spend
  * their time in java.util.regex: one Matcher state machine step per
  * char, one String allocation per match, one UTF8String re-encode per
  * match. Both patterns are single-byte-class runs, so a direct scan
  * over the UTF8String's bytes produces the identical token sequence
  * with zero per-match allocations (tokens are offset/length slices of
  * one shared byte array).
  *
  * Exactness argument (TokenizeSpec pins it property-style against the
  * regexp originals):
  *   - Java's `\s` (no UNICODE_CHARACTER_CLASS, which Spark does not
  *     enable) is exactly [ \t\n\x0B\f\r] — six ASCII code points. In
  *     UTF-8, bytes < 0x80 appear ONLY as those ASCII chars (multi-byte
  *     chars consist solely of bytes ≥ 0x80), so maximal byte runs
  *     delimited by those six byte values are exactly the regex's
  *     maximal char runs, and byte-range slices decode to the same
  *     strings. Non-ASCII whitespace (U+00A0, U+2028…) is NOT `\s` to
  *     Java and not a break here either.
  *   - `[a-z]+` / `[A-Za-z]` are ASCII classes; same byte-run argument.
  *
  * Same discipline as [[VectorOps]]: each helper binds its static kernel
  * through [[Kernel]], so the surrounding projection stays one
  * whole-stage-codegen span; no CodegenFallback, no UDF.
  */
object Tokenize {

  @inline private def isWs(b: Byte): Boolean =
    // ' ' 0x20, '\t' 0x09, '\n' 0x0A, '' 0x0B, '\f' 0x0C, '\r' 0x0D
    b == 0x20 || (b >= 0x09 && b <= 0x0D)

  /** Maximal runs of non-[ \t\n\x0B\f\r] bytes, as UTF8String slices over
    * one shared byte array — ≡ regexp_extract_all(s, '\\S+', 0). */
  def wsTokensKernel(s: UTF8String): GenericArrayData = {
    val b = s.getBytes
    val n = b.length
    // count tokens first: exact-sized output array, no growth copies
    var cnt = 0
    var i = 0
    while (i < n) {
      if (!isWs(b(i))) {
        cnt += 1
        i += 1
        while (i < n && !isWs(b(i))) i += 1
      } else i += 1
    }
    val out = new Array[Any](cnt)
    var j = 0
    i = 0
    while (i < n) {
      if (!isWs(b(i))) {
        val start = i
        i += 1
        while (i < n && !isWs(b(i))) i += 1
        out(j) = UTF8String.fromBytes(b, start, i - start)
        j += 1
      } else i += 1
    }
    new GenericArrayData(out)
  }

  @inline private def isLowerAlpha(b: Byte): Boolean = b >= 'a' && b <= 'z'

  /** Maximal runs of [a-z] bytes — ≡ regexp_extract_all(s, '[a-z]+', 0).
    * Callers pass `lower(text)` exactly as the regexp sites did. */
  def alphaRunsKernel(s: UTF8String): GenericArrayData = {
    val b = s.getBytes
    val n = b.length
    var cnt = 0
    var i = 0
    while (i < n) {
      if (isLowerAlpha(b(i))) {
        cnt += 1
        i += 1
        while (i < n && isLowerAlpha(b(i))) i += 1
      } else i += 1
    }
    val out = new Array[Any](cnt)
    var j = 0
    i = 0
    while (i < n) {
      if (isLowerAlpha(b(i))) {
        val start = i
        i += 1
        while (i < n && isLowerAlpha(b(i))) i += 1
        out(j) = UTF8String.fromBytes(b, start, i - start)
        j += 1
      } else i += 1
    }
    new GenericArrayData(out)
  }

  /** Count of [A-Za-z] bytes — ≡ size(regexp_extract_all(s, '[A-Za-z]', 0))
    * without materializing one single-char string per letter. */
  def countAlphaKernel(s: UTF8String): Int = {
    val b = s.getBytes
    val n = b.length
    var cnt = 0
    var i = 0
    while (i < n) {
      val c = b(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) cnt += 1
      i += 1
    }
    cnt
  }

  /** One-pass classifier word stats over lower(text): struct(nw, n_stop,
    * sum_len) with nw = count of [a-z]+ runs, n_stop = runs equal to one
    * of the 8 classifier stopwords, sum_len = Σ run lengths. Fuses the
    * alpha_runs array + interpreted filter(array_contains)/aggregate
    * lambdas the quality classifier evaluated PER WORD into one byte
    * scan; integer results, so the downstream IEEE feature arithmetic
    * (and the z threshold theorem) is untouched. sum_len mirrors the
    * ANSI `aggregate(wa, 0, (a, x) -> a + length(x))` it replaces:
    * addExact so a (physically impossible) overflow still fails loudly
    * instead of wrapping. */
  def qualityWordStatsKernel(s: UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val b = s.getBytes
    val n = b.length
    var nw = 0
    var nStop = 0
    var sumLen = 0
    var i = 0
    while (i < n) {
      if (isLowerAlpha(b(i))) {
        val start = i
        i += 1
        while (i < n && isLowerAlpha(b(i))) i += 1
        val len = i - start
        nw += 1
        sumLen = Math.addExact(sumLen, len)
        // stopwords: the, a, of, and, to, in, is, it
        val hit = len match {
          case 1 => b(start) == 'a'
          case 2 =>
            val c0 = b(start); val c1 = b(start + 1)
            (c0 == 'o' && c1 == 'f') || (c0 == 't' && c1 == 'o') ||
            (c0 == 'i' && (c1 == 'n' || c1 == 's' || c1 == 't'))
          case 3 =>
            val c0 = b(start); val c1 = b(start + 1); val c2 = b(start + 2)
            (c0 == 't' && c1 == 'h' && c2 == 'e') ||
            (c0 == 'a' && c1 == 'n' && c2 == 'd')
          case _ => false
        }
        if (hit) nStop += 1
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nw, nStop, sumLen))
  }

  private val qualityStructType = StructType(Seq(
    StructField("nw", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false),
    StructField("sum_len", IntegerType, nullable = false)))

  /** struct(nw, n_stop, sum_len) classifier word stats over lower(text). */
  def quality_word_stats(s: Column): Column =
    Kernel.column("quality_word_stats", "graft.functions.Tokenize.qualityWordStatsKernel",
      Seq(s), Seq(StringType), qualityStructType)

  /** Ordered bigram HASH pairs over the \S+ tokens of `s`, with
    * multiplicity: struct(w1, w2) where wX = xxhash64(token) (XXH64,
    * seed 42 — the xxhash64() SQL function's hash, computed over the
    * token's bytes in place). Fuses the LM lane's tokenize → transform
    * (interpreted per-token lambda building struct(w[u-1], w[u]) string
    * pairs) → xxhash64 × 2 chain into one byte scan that hashes each
    * token ONCE — no token array, no string-pair structs, half the hash
    * work. Fewer than two tokens ⇒ empty array, like the CASE guard it
    * replaces. */
  def wsBigramHashesKernel(s: UTF8String): GenericArrayData = {
    val b = s.getBytes
    val n = b.length
    var cnt = 0
    var i = 0
    while (i < n) {
      if (!isWs(b(i))) {
        cnt += 1
        i += 1
        while (i < n && !isWs(b(i))) i += 1
      } else i += 1
    }
    if (cnt < 2) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](cnt - 1)
    var j = 0
    var prev = 0L
    var first = true
    i = 0
    while (i < n) {
      if (!isWs(b(i))) {
        val start = i
        i += 1
        while (i < n && !isWs(b(i))) i += 1
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
            + start, i - start, 42L)
        if (!first) {
          out(j) = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](prev, h))
          j += 1
        }
        prev = h
        first = false
      } else i += 1
    }
    new GenericArrayData(out)
  }

  private val bigramStructType = ArrayType(StructType(Seq(
    StructField("w1", LongType, nullable = false),
    StructField("w2", LongType, nullable = false))), containsNull = false)

  /** array<struct<w1,w2>> of xxhash64'd adjacent \S+ token pairs. */
  def ws_bigram_hashes(s: Column): Column =
    Kernel.column("ws_bigram_hashes", "graft.functions.Tokenize.wsBigramHashesKernel",
      Seq(s), Seq(StringType), bigramStructType)

  /** Rolling polynomial fingerprint: left fold (acc·31 + codepoint) mod
    * 1e9+7 from seed 7 over the string's code points — ≡ the
    * aggregate(split(text, ''), 7L, (acc, c) -> (acc·31 + ascii(c)) %
    * 1000000007) chain, which materialized one single-char string and
    * one interpreted lambda call PER CHARACTER. Java's split("") yields
    * [""] for the empty string and ascii("") is 0, so empty input takes
    * exactly one fold step with c = 0 (TokenizeSpec pins it). acc stays
    * < 1e9+7, so acc·31 + cp fits a long with no overflow. */
  def polyFingerprintKernel(s: UTF8String): Long = {
    val M = 1000000007L
    var acc = 7L
    val str = s.toString
    if (str.isEmpty) return (acc * 31) % M
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % M
      i += Character.charCount(cp)
    }
    acc
  }

  /** long rolling fingerprint of a string's code points (seed 7, ×31,
    * mod 1e9+7). */
  def poly_fingerprint(s: Column): Column =
    Kernel.column("poly_fingerprint", "graft.functions.Tokenize.polyFingerprintKernel",
      Seq(s), Seq(StringType), LongType)

  /** All adjacent character-pair CODES (c₀·256 + c₁) of the [a-z]+ runs
    * of `s`, with multiplicity, in one byte scan — ≡ the BPE trainer's
    * explode(alpha_runs) → explode(transform(sequence, substr)) chain
    * (which materialized every word string, ran one interpreted lambda
    * per word, and allocated one 2-char UTF8String per pair). Codes are
    * order-isomorphic to the pair strings (equal-length ASCII: byte
    * order = lexicographic order), so grouping/ordering by code equals
    * grouping/ordering by pair; consumers rebuild the 20 surviving
    * strings AFTER their top-k. Runs shorter than 2 contribute nothing,
    * exactly like the len ≥ 2 filter. */
  def alphaPairCodesKernel(s: UTF8String): GenericArrayData = {
    val b = s.getBytes
    val n = b.length
    var cnt = 0
    var i = 0
    while (i < n) {
      if (isLowerAlpha(b(i))) {
        val start = i
        i += 1
        while (i < n && isLowerAlpha(b(i))) i += 1
        cnt += i - start - 1
      } else i += 1
    }
    val out = new Array[Any](cnt)
    var j = 0
    i = 0
    while (i < n) {
      if (isLowerAlpha(b(i))) {
        i += 1
        while (i < n && isLowerAlpha(b(i))) {
          out(j) = (b(i - 1) & 0xFF) * 256 + (b(i) & 0xFF)
          j += 1
          i += 1
        }
      } else i += 1
    }
    new GenericArrayData(out)
  }

  /** array<int> of adjacent [a-z] pair codes over lower(text). */
  def alpha_pair_codes(s: Column): Column =
    Kernel.column("alpha_pair_codes", "graft.functions.Tokenize.alphaPairCodesKernel",
      Seq(s), Seq(StringType), ArrayType(IntegerType, containsNull = false))

  /** struct(n_chars, n_tokens) of a word array under a learned BPE merge
    * list: n_chars = Σ length(word), n_tokens = Σ length(encode(word))
    * where encode applies each merge in rank order as a greedy
    * left-to-right non-overlapping replace of its 2-char pair with the
    * 1-char marker 'A'+rank — the exact semantics of the nested
    * `replace(replace(..., p1, 'A'), p2, 'B')` expression chain it
    * replaces (which allocated one UTF8String per word PER MERGE STEP
    * inside an interpreted `aggregate` lambda; TokenizeSpec pins
    * equality). Character counts are code points (non-continuation
    * bytes), ≡ Spark's length(); merge pairs are ASCII by construction
    * ([a-z] pairs, enforced below), and a byte-level replace of an ASCII
    * pair equals the char-level replace on any valid UTF-8 (continuation
    * bytes are ≥ 0x80 and never match). A null ELEMENT nulls the whole
    * result, exactly like `length(null)` poisoning the fold — unreachable
    * from alpha_runs input, pinned anyway. */
  def bpeCountsKernel(arr: ArrayData, pairs: Array[Array[Byte]],
      markers: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val nw = arr.numElements()
    var nChars = 0L
    var nToks = 0L
    var buf = new Array[Byte](64)
    var w = 0
    while (w < nw) {
      if (arr.isNullAt(w)) return null
      val b = arr.getUTF8String(w).getBytes
      var i = 0
      var nc = 0L
      while (i < b.length) { if ((b(i) & 0xC0) != 0x80) nc += 1; i += 1 }
      nChars += nc
      if (b.length > buf.length)
        buf = new Array[Byte](math.max(b.length, buf.length * 2))
      System.arraycopy(b, 0, buf, 0, b.length)
      var len = b.length
      var p = 0
      while (p < pairs.length) {
        val pa = pairs(p)(0); val pb = pairs(p)(1); val m = markers(p)
        var out = 0
        var k = 0
        while (k < len) {
          if (k + 1 < len && buf(k) == pa && buf(k + 1) == pb) {
            buf(out) = m; out += 1; k += 2
          } else { buf(out) = buf(k); out += 1; k += 1 }
        }
        len = out
        p += 1
      }
      var j = 0
      var ec = 0L
      while (j < len) { if ((buf(j) & 0xC0) != 0x80) ec += 1; j += 1 }
      nToks += ec
      w += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nChars, nToks))
  }

  private val bpeStructType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false)))

  /** struct(n_chars, n_tokens) BPE-encode counts over a word array. */
  def bpe_counts(words: Column, merges: Seq[String]): Column = {
    require(merges.length <= 26 &&
        merges.forall(m => m.length == 2 && m.forall(c => c >= 'a' && c <= 'z')),
      s"bpe_counts merges must be 2-char [a-z] pairs, got $merges")
    val pairs = merges.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
    val markers = merges.indices.map(i => ('A' + i).toByte).toArray
    // a null element nulls the fold
    Kernel.column("bpe_counts", "graft.functions.Tokenize.bpeCountsKernel",
      Seq(words), Seq(ArrayType(StringType)), bpeStructType, Seq(pairs, markers),
      nullResult = true)
  }

  /** ≡ regexp_extract_all(s, '\\S+', 0); same ArrayType(StringType)
    * (containsNull = true) as RegExpExtractAll so downstream schema
    * nullability — and therefore every contract-output schema — is
    * byte-identical to the regexp plan's. */
  def ws_tokens(s: Column): Column =
    Kernel.column("ws_tokens", "graft.functions.Tokenize.wsTokensKernel",
      Seq(s), Seq(StringType), ArrayType(StringType))

  /** ≡ regexp_extract_all(s, '[a-z]+', 0). */
  def alpha_runs(s: Column): Column =
    Kernel.column("alpha_runs", "graft.functions.Tokenize.alphaRunsKernel",
      Seq(s), Seq(StringType), ArrayType(StringType))

  /** ≡ size(regexp_extract_all(s, '[A-Za-z]', 0)) for non-null input. */
  def count_alpha(s: Column): Column =
    Kernel.column("count_alpha", "graft.functions.Tokenize.countAlphaKernel",
      Seq(s), Seq(StringType), IntegerType)
}
