package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Single-pass per-document word-repetition statistics.
  *
  * Replaces the explode → groupBy(doc, word) → groupBy(doc) plan for the
  * Gopher-style repetition signals (reference has no text ops; this is the
  * pipeline-extension family): that plan shuffles one row PER WORD of the
  * corpus — at 100 TB that is the single largest shuffle in the whole
  * pipeline, easily 10× the corpus row count. This kernel computes the
  * same four statistics in one pass over the token array at the scan, so
  * the query needs NO shuffle at all: per-doc quality signals are a pure
  * projection, exactly as embarrassingly parallel as the corpus itself.
  *
  * Output struct (all longs):
  *   topc       — occurrences of the most frequent word
  *   total      — total word count (= array length)
  *   n_distinct — distinct word count
  *   n_bg       — distinct space-joined bigram count, with the SAME
  *                degenerate-input convention as [[VectorOps.word_ngrams]]
  *                (a 1-word doc yields 1 "bigram" = the word itself), so
  *                results are bit-identical to size(word_ngrams(w, 2)).
  */
object TextStats {

  private val structType = StructType(Seq(
    StructField("topc", LongType, nullable = false),
    StructField("total", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("n_bg", LongType, nullable = false)))

  def wordRepStatsKernel(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    val toks = new Array[String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
      i += 1
    }
    // word counts
    val counts = new java.util.HashMap[String, Integer](n * 2)
    i = 0
    var topc = 0
    while (i < n) {
      val prev = counts.get(toks(i))
      val c = if (prev == null) 1 else prev.intValue() + 1
      counts.put(toks(i), c)
      if (c > topc) topc = c
      i += 1
    }
    // distinct bigrams — same enumeration as WordNGrams(gram = 2)
    val grams = math.max(n - 1, if (n > 0) 1 else 0)
    val seen = new java.util.HashSet[String](grams * 2)
    var g = 0
    val sb = new java.lang.StringBuilder(64)
    while (g < grams) {
      sb.setLength(0)
      sb.append(toks(g))
      if (g + 1 < n) { sb.append(' '); sb.append(toks(g + 1)) }
      seen.add(sb.toString)
      g += 1
    }
    new GenericInternalRow(Array[Any](
      topc.toLong, n.toLong, counts.size.toLong, seen.size.toLong))
  }

  /** struct(topc, total, n_distinct, n_bg) over an array<string> of words. */
  def word_rep_stats(tokens: Column): Column =
    Kernel.column("word_rep_stats", "graft.functions.TextStats.wordRepStatsKernel",
      Seq(tokens), Seq(ArrayType(StringType)), structType)

  private val blockStructType = StructType(Seq(
    StructField("n_blocks", LongType, nullable = false),
    StructField("dup_blocks", LongType, nullable = false),
    StructField("blk_chars", LongType, nullable = false),
    StructField("dup_chars", LongType, nullable = false),
    StructField("top_gram", StringType, nullable = false),
    StructField("top_gram_n", LongType, nullable = false)))

  /** Single-pass per-document BLOCK-grain repetition kernel for
    * text_repetition_stats: duplicate-10-word-block count/char mass plus
    * the top word-2-gram and its count, all O(words) with two hash maps.
    * Same motivation as [[wordRepStatsKernel]]: the explode → groupBy
    * (doc, token) plan ships one row per token of the corpus through an
    * exchange — at 1.3M docs that measured 101 s vs 5 s for this kernel;
    * at 100 TB it is a corpus-sized string shuffle for a quantity that
    * never leaves its own document.
    *
    * Block unit matches the paragraph dedup family exactly: 10-word
    * groups, space-joined, last block short. The 2-gram tie-break is the
    * LEXICOGRAPHIC MINIMUM in binary UTF-8 order (UTF8String.compareTo),
    * matching ORDER BY gtext ASC in both engines.
    */
  def blockRepStatsKernel(arr: ArrayData): InternalRow = {
    import org.apache.spark.unsafe.types.UTF8String
    val n = arr.numElements()
    val toks = new Array[String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
      i += 1
    }
    // 10-word blocks, counted per distinct block text
    val nBlocks = math.max((n + 9) / 10, 1)
    val bCounts = new java.util.HashMap[String, Integer](nBlocks * 2)
    val sb = new java.lang.StringBuilder(128)
    var b = 0
    while (b < nBlocks) {
      sb.setLength(0)
      var j = b * 10
      val end = math.min(n, j + 10)
      while (j < end) {
        if (j > b * 10) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      val k = sb.toString
      val prev = bCounts.get(k)
      bCounts.put(k, if (prev == null) 1 else prev.intValue() + 1)
      b += 1
    }
    var blkChars = 0L; var dupChars = 0L
    var totBlocks = 0L; var dupBlocks = 0L
    val it = bCounts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue.longValue()
      // Unicode CODE POINTS, not UTF-16 units: the oracle's length(btext)
      // and Spark's length() both count code points, so supplementary-plane
      // text (emoji, rare CJK) must not inflate the char mass.
      val k = e.getKey
      val chars = c * k.codePointCount(0, k.length)
      totBlocks += c; blkChars += chars
      if (c >= 2) { dupBlocks += c; dupChars += chars }
    }
    // top word-2-gram by (count DESC, gram ASC in binary UTF-8 order)
    var topGram = ""; var topN = 0L
    if (n >= 2) {
      val gCounts = new java.util.HashMap[String, Integer](n * 2)
      var g = 0
      while (g < n - 1) {
        sb.setLength(0)
        sb.append(toks(g)); sb.append(' '); sb.append(toks(g + 1))
        val k = sb.toString
        val prev = gCounts.get(k)
        val c = if (prev == null) 1 else prev.intValue() + 1
        gCounts.put(k, c)
        g += 1
      }
      val git = gCounts.entrySet().iterator()
      while (git.hasNext) {
        val e = git.next()
        val c = e.getValue.longValue()
        if (c > topN || (c == topN && UTF8String.fromString(e.getKey)
            .compareTo(UTF8String.fromString(topGram)) < 0)) {
          topN = c; topGram = e.getKey
        }
      }
    }
    new GenericInternalRow(Array[Any](
      totBlocks, dupBlocks, blkChars, dupChars,
      UTF8String.fromString(topGram), topN))
  }

  /** struct(n_blocks, dup_blocks, blk_chars, dup_chars, top_gram,
    * top_gram_n) over an array<string> of words. */
  def block_rep_stats(tokens: Column): Column =
    Kernel.column("block_rep_stats", "graft.functions.TextStats.blockRepStatsKernel",
      Seq(tokens), Seq(ArrayType(StringType)), blockStructType)

  private val entropyStructType = StructType(Seq(
    StructField("n_elems", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("s", DoubleType, nullable = false)))

  /** Per-document char-entropy sufficient statistics in ONE pass:
    * n_elems (code-point count), n_distinct (distinct code points), and
    * s = Σ over distinct code points of
    * decimal30_12(cnt·ln cnt) summed exactly and cast back to double —
    * term-for-term the explode(split(text,'')) → groupBy(doc, c) →
    * groupBy(doc) plan it replaces, which shuffled one row per DISTINCT
    * (doc, char) and exploded one row per CHARACTER first. The decimal
    * quantization mirrors Spark's double→DECIMAL(30,12) cast
    * (BigDecimal.valueOf shortest-repr, HALF_UP at scale 12), the exact
    * decimal sum is associative like the aggregate it replaces, ln is
    * the same java.lang.Math.log, and the final cast is
    * BigDecimal.doubleValue — so the query's rounded entropy is
    * bit-identical (RepetitionSpec pins kernel == chain). Per-doc state
    * is one code-point→count map, bounded by document length — the
    * word_rep_stats memory class. */
  def charEntropyStatsKernel(s: org.apache.spark.unsafe.types.UTF8String): InternalRow = {
    val str = s.toString
    // split('') on the empty string yields [""] — one empty-string
    // element with count 1 and term 1·ln(1) = 0, not zero elements
    if (str.isEmpty)
      return new GenericInternalRow(Array[Any](1L, 1L, 0.0))
    val counts = new java.util.HashMap[Integer, Long]()
    var i = 0
    var n = 0L
    while (i < str.length) {
      val cp = str.codePointAt(i)
      counts.put(cp, counts.getOrDefault(cp, 0L) + 1L)
      n += 1
      i += Character.charCount(cp)
    }
    var acc = java.math.BigDecimal.ZERO
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      val term = c.toDouble * java.lang.Math.log(c.toDouble)
      acc = acc.add(java.math.BigDecimal.valueOf(term)
        .setScale(12, java.math.RoundingMode.HALF_UP))
    }
    new GenericInternalRow(Array[Any](n, counts.size.toLong, acc.doubleValue()))
  }

  /** struct(n_elems, n_distinct, s) char-entropy statistics of a string. */
  def char_entropy_stats(s: Column): Column =
    Kernel.column("char_entropy_stats", "graft.functions.TextStats.charEntropyStatsKernel",
      Seq(s), Seq(StringType), entropyStructType)
}
