package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Multi-sequence probe selection for the two-level (IMI) index, as a
  * single row-local expression.
  *
  * Input: the two per-subspace top-cell arrays (each
  * `array<struct<s: double, cid: long>>`, sorted DESCENDING by (s, cid)
  * — exactly the [[TopK.collect_top_k]] output shape). Output: the
  * combined cell ids `cid1 * k2 + cid2` of the top-`m` grid cells
  * ranked by combined score s1 + s2 (ties toward the larger combined
  * id, matching the struct ordering the previous explode→aggregate
  * plan used).
  *
  * Why an expression and not a plan: the DataFrame formulation of this
  * selection (explode cells1 × explode cells2 → collect_top_k) ships
  * min(m,k1)·min(m,k2) rows per vector through an aggregate. At the
  * production law (k1 = 64 at the N ≈ 16.7M flip, p = 12 ⇒ m = 144 >
  * k1) that is the full 64×64 = 4096-row grid per vector — the
  * N·K1·K2 fan-out the IMI exists to avoid. Here the same top-m set
  * comes out of the classic frontier walk (Babenko & Lempitsky's
  * multi-sequence order): a bounded heap seeded at (0,0), popping the
  * best cell and pushing its two grid successors, visiting O(m) cells
  * — so probe selection is a pure projection with ZERO row fan-out and
  * the only explode left is the m output cells, which downstream
  * genuinely needs as rows.
  *
  * Both walks are exact top-m by (sum, id): a cell outside each
  * subspace's top-m is dominated by ≥ m strictly-better grid cells, so
  * keep = min(m, k) per subspace loses nothing. (When sums tie
  * EXACTLY, frontier order may admit a different tied member than the
  * full-grid sort — measure-zero on real scores, and this path is
  * approximate-by-contract with no oracle.)
  */
object MultiSeqCells {

  /** Frontier walk over the (desc-sorted) per-subspace score arrays.
    * Exposed for the spec's brute-force grid cross-check. */
  def multiSeqKernel(c1: ArrayData, c2: ArrayData, k2: Int,
      m: Int): ArrayData = {
    val n1 = c1.numElements()
    val n2 = c2.numElements()
    if (n1 == 0 || n2 == 0) return new GenericArrayData(Array.empty[Long])
    val s1 = new Array[Double](n1); val id1 = new Array[Long](n1)
    val s2 = new Array[Double](n2); val id2 = new Array[Long](n2)
    var i = 0
    while (i < n1) {
      val st = c1.getStruct(i, 2); s1(i) = st.getDouble(0); id1(i) = st.getLong(1)
      i += 1
    }
    i = 0
    while (i < n2) {
      val st = c2.getStruct(i, 2); s2(i) = st.getDouble(0); id2(i) = st.getLong(1)
      i += 1
    }
    // heap of grid coordinates ordered by (sum DESC, combined id DESC)
    val ord = new java.util.Comparator[Array[Int]] {
      def compare(a: Array[Int], b: Array[Int]): Int = {
        val sa = s1(a(0)) + s2(a(1)); val sb = s1(b(0)) + s2(b(1))
        if (sa > sb) -1
        else if (sa < sb) 1
        else {
          val ca = id1(a(0)) * k2 + id2(a(1)); val cb = id1(b(0)) * k2 + id2(b(1))
          java.lang.Long.compare(cb, ca)
        }
      }
    }
    val heap = new java.util.PriorityQueue[Array[Int]](math.max(4, m), ord)
    val seen = new java.util.HashSet[java.lang.Long]()
    def push(a: Int, b: Int): Unit =
      if (a < n1 && b < n2 && seen.add((a.toLong << 32) | b))
        heap.add(Array(a, b))
    push(0, 0)
    val out = new Array[Long](math.min(m.toLong, n1.toLong * n2).toInt)
    var k = 0
    while (k < out.length && !heap.isEmpty) {
      val top = heap.poll()
      out(k) = id1(top(0)) * k2 + id2(top(1))
      push(top(0) + 1, top(1))
      push(top(0), top(1) + 1)
      k += 1
    }
    new GenericArrayData(if (k == out.length) out else out.take(k))
  }

  private val inType = ArrayType(StructType(Seq(
    StructField("s", DoubleType), StructField("cid", LongType))))

  /** array<long> of the top-`m` combined cell ids of the score grid. */
  def multi_seq_cells(cells1: Column, cells2: Column, k2: Int, m: Int): Column =
    Kernel.column("multi_seq_cells", "graft.functions.MultiSeqCells.multiSeqKernel",
      Seq(cells1, cells2), Seq(inType, inType), ArrayType(LongType, containsNull = false),
      Seq(k2, m))
}
