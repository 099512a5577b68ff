package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import scala.util.hashing.MurmurHash3

/** Native vector/sketch kernels for the similarity operators.
  *
  * These replace `aggregate`/`zip_with` higher-order-function chains in the
  * pair-scoring hot path: HOFs evaluate a lambda per element per row
  * (interpreted), which at millions of candidate pairs × 64 dims dominates
  * the query. A tight kernel loop over `ArrayData` is ~20× faster and keeps
  * the exact same left-to-right double accumulation, so results (and the
  * DuckDB oracle hashes) are bit-identical.
  *
  * Each helper binds its static kernel through [[Kernel]], whose
  * generated code calls the kernel directly (the JIT inlines it) — no
  * CodegenFallback, so surrounding projections stay in one generated
  * stage.
  */
object VectorOps {

  /** Static kernel: left-to-right Σ aᵢ·bᵢ. Mismatched lengths reject loudly
    * (the similarity ops always compare equal-dim vectors). */
  def dotKernel(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(n == b.numElements(), s"dot_d dims differ: $n vs ${b.numElements()}")
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** MinHash signature (nHash values) over a string array in ONE pass per
    * element: two murmur runs per shingle, then the j-th hash is
    * h1 + j·h2 (Kirsch–Mitzenmacher construction) — vs. nHash independent
    * hash passes, same LSH properties. */
  def minHashSigKernel(arr: ArrayData, nHash: Int): GenericArrayData = {
    val mins = Array.fill(nHash)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val bytes = arr.getUTF8String(i).getBytes
        val h1 = (MurmurHash3.bytesHash(bytes, 0x2545F491).toLong << 32) |
          (MurmurHash3.bytesHash(bytes, 0x9E3779B9).toLong & 0xFFFFFFFFL)
        val h2 = (MurmurHash3.bytesHash(bytes, 0x27220A95).toLong << 32) |
          (MurmurHash3.bytesHash(bytes, 0x85EBCA77).toLong & 0xFFFFFFFFL)
        var j = 0
        var hj = h1
        while (j < nHash) {
          if (hj < mins(j)) mins(j) = hj
          hj += h2
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** MinHash signature over token n-gram shingles in one native pass:
    * hashes each token once, derives each n-gram's 128-bit identity by
    * mixing the n consecutive token hashes, then Kirsch–Mitzenmacher
    * extends to nHash values. Duplicate shingles are harmless (min is
    * idempotent), so no distinct pass is needed. */
  def minHashShingledKernel(arr: ArrayData, gram: Int, nHash: Int): GenericArrayData = {
    {
      val n = arr.numElements()
      val th = new Array[Long](n)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val bytes = arr.getUTF8String(i).getBytes
          th(i) = (MurmurHash3.bytesHash(bytes, 0x2545F491).toLong << 32) |
            (MurmurHash3.bytesHash(bytes, 0x9E3779B9).toLong & 0xFFFFFFFFL)
        }
        i += 1
      }
      val mins = Array.fill(nHash)(Long.MaxValue)
      val grams = math.max(n - gram + 1, if (n > 0) 1 else 0)
      var g = 0
      while (g < grams) {
        var h1 = 0x9E3779B97F4A7C15L
        var h2 = 0xC2B2AE3D27D4EB4FL
        var k = g
        val end = math.min(g + gram, n)
        while (k < end) {
          h1 = java.lang.Long.rotateLeft(h1 ^ th(k), 27) * 0x9E3779B97F4A7C15L
          h2 = java.lang.Long.rotateLeft(h2 + th(k), 31) * 0xC2B2AE3D27D4EB4FL
          k += 1
        }
        var j = 0
        var hj = h1
        while (j < nHash) {
          if (hj < mins(j)) mins(j) = hj
          hj += h2 | 1L
          j += 1
        }
        g += 1
      }
      new GenericArrayData(mins)
    }
  }

  /** Distinct space-joined word n-grams as a native kernel — replaces a
    * transform(sequence)+slice+array_join HOF chain (one interpreted lambda
    * per gram) with a single pass and a dedup set. */
  def wordNGramsKernel(arr: ArrayData, gram: Int): GenericArrayData = {
    {
      val n = arr.numElements()
      val toks = new Array[String](n)
      var i = 0
      while (i < n) {
        toks(i) = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
        i += 1
      }
      val grams = math.max(n - gram + 1, if (n > 0) 1 else 0)
      val seen = new java.util.LinkedHashSet[String](grams * 2)
      var g = 0
      val sb = new java.lang.StringBuilder(64)
      while (g < grams) {
        sb.setLength(0)
        var k = g
        val end = math.min(g + gram, n)
        while (k < end) {
          if (k > g) sb.append(' ')
          sb.append(toks(k))
          k += 1
        }
        seen.add(sb.toString)
        g += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) {
        out(j) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
        j += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Distinct xxhash64 values of the space-joined word n-grams, fused:
    * replaces word_ngrams → explode → xxhash64 (one UTF8String alloc per
    * gram, one String alloc per dedup-set entry, one hash expression per
    * exploded row) with a single byte-level pass that builds each gram's
    * UTF-8 bytes in a reused buffer and hashes them directly — the hash
    * is bit-identical to Spark's `xxhash64(gram_string)` (seed 42 over
    * the same bytes; TokenizeSpec pins it). Dedup is BY HASH VALUE where
    * word_ngrams deduped by string — the same 64-bit-injectivity class
    * the gram-pair consumers already accept everywhere else (posting
    * lists group by gh across the whole corpus, where a cross-doc
    * collision merges two different grams; an intra-doc collision is
    * strictly rarer, ~m²/2⁶⁵ per doc). Output order is the first-seen
    * gram order; every consumer feeds order-invariant aggregates. */
  def gramHashesKernel(arr: ArrayData, gram: Int): GenericArrayData = {
    val n = arr.numElements()
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      // null tokens render as "" — the word_ngrams kernel's rule
      toks(i) =
        if (arr.isNullAt(i)) Array.emptyByteArray
        else arr.getUTF8String(i).getBytes
      i += 1
    }
    val grams = math.max(n - gram + 1, if (n > 0) 1 else 0)
    var buf = new Array[Byte](64)
    // first-seen-order dedup set of the 64-bit hashes
    val seen = new java.util.LinkedHashSet[java.lang.Long](grams * 2)
    var g = 0
    while (g < grams) {
      var len = 0
      var k = g
      val end = math.min(g + gram, n)
      while (k < end) {
        val t = toks(k)
        val need = len + t.length + 1
        if (need > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.max(need, buf.length * 2))
        if (k > g) { buf(len) = ' '.toByte; len += 1 }
        System.arraycopy(t, 0, buf, len, t.length)
        len += t.length
        k += 1
      }
      seen.add(org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L))
      g += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next().longValue(); j += 1 }
    new GenericArrayData(out)
  }

  /** Product-quantization encode+reconstruct in one native pass: for each
    * subspace, pick the codeword minimizing ‖sub − cw‖² (expanded as
    * ‖sub‖² − 2·sub·cw + ‖cw‖², every sum a left-to-right fold, ties to
    * the lower codeword id — bit-identical to the array_min-over-structs
    * formulation and the DuckDB oracle), then emit the concatenation of
    * chosen codewords. Replaces an M×K struct-array expression tree whose
    * generated code dominated the query's runtime with one kernel call. */
  def pqReconstructKernel(arr: ArrayData,
      codebooks: Array[Array[Array[Double]]],
      norms: Array[Array[Double]]): GenericArrayData = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    val v = new Array[Double](arr.numElements())
    var i = 0
    while (i < v.length) { v(i) = arr.getDouble(i); i += 1 }
    val out = new Array[Any](m * sub)
    var mi = 0
    while (mi < m) {
      val off = mi * sub
      // ‖sub‖², left-to-right from 0.0 (matches dot_d and list_reduce)
      var sub2 = 0.0
      var d = 0
      while (d < sub) { sub2 += v(off + d) * v(off + d); d += 1 }
      val cbm = codebooks(mi)
      var bestJ = 0
      var bestD = Double.PositiveInfinity
      var j = 0
      val nm = norms(mi)
      while (j < cbm.length) {
        val cw = cbm(j)
        var dot = 0.0
        d = 0
        while (d < sub) { dot += v(off + d) * cw(d); d += 1 }
        val d2 = sub2 - 2.0 * dot + nm(j)
        if (d2 < bestD) { bestD = d2; bestJ = j } // strict: ties keep lower j
        j += 1
      }
      val chosen = cbm(bestJ)
      d = 0
      while (d < sub) { out(off + d) = chosen(d); d += 1 }
      mi += 1
    }
    new GenericArrayData(out)
  }

  private val Tokens = ArrayType(StringType)
  private val Longs = ArrayType(LongType, containsNull = false)

  def pq_reconstruct(v: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    // per-codeword ‖cw‖², summed in the same left-to-right order the kernel
    // (and the oracle's list_reduce) uses — constant across rows, so
    // computed once here instead of per input row
    val norms = codebooks.map(_.map { cw =>
      var s = 0.0; var i = 0
      while (i < cw.length) { s += cw(i) * cw(i); i += 1 }
      s
    })
    Kernel.column("pq_reconstruct", "graft.functions.VectorOps.pqReconstructKernel",
      Seq(v), Seq(ArrayType(DoubleType)), ArrayType(DoubleType, containsNull = false),
      Seq(codebooks, norms))
  }

  def word_ngrams(tokens: Column, gram: Int): Column =
    Kernel.column("word_ngrams", "graft.functions.VectorOps.wordNGramsKernel",
      Seq(tokens), Seq(Tokens), ArrayType(StringType, containsNull = false), Seq(gram))

  def gram_hashes(tokens: Column, gram: Int): Column =
    Kernel.column("gram_hashes", "graft.functions.VectorOps.gramHashesKernel",
      Seq(tokens), Seq(Tokens), Longs, Seq(gram))

  def minhash_shingled(tokens: Column, gram: Int, nHash: Int): Column =
    Kernel.column("minhash_shingled", "graft.functions.VectorOps.minHashShingledKernel",
      Seq(tokens), Seq(Tokens), Longs, Seq(gram, nHash))

  /** Left-to-right Σ aᵢ·bᵢ over two double arrays. */
  def dot_d(a: Column, b: Column): Column =
    Kernel.column("dot_d", "graft.functions.VectorOps.dotKernel",
      Seq(a, b), Seq(ArrayType(DoubleType), ArrayType(DoubleType)), DoubleType)

  def minhash_sig(shingles: Column, nHash: Int): Column =
    Kernel.column("minhash_sig", "graft.functions.VectorOps.minHashSigKernel",
      Seq(shingles), Seq(Tokens), Longs, Seq(nHash))
}
