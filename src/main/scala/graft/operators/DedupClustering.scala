package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Materialize

/** Connected components over a near-dup pair graph → (id, comp) with
  * comp = min doc id of the component (the canonical representative).
  *
  * Hybrid execution, like any production graph step:
  * - small graphs (≤ `smallGraphThreshold` directed edges after
  *   symmetrization) collect to the driver and run union-find — near-dup
  *   graphs are usually a tiny fraction of the corpus, and a driver pass
  *   beats N distributed rounds of scheduling overhead;
  * - large graphs run ALTERNATING LARGE-STAR / SMALL-STAR contraction
  *   (the Connected Components in MapReduce and Beyond algorithm): each
  *   round is two groupBy-min + join passes that rewire every node toward
  *   its neighborhood minimum, and the edge set provably converges to a
  *   forest of stars rooted at each component's minimum in O(log n)
  *   rounds — independent of component DIAMETER, unlike plain min-label
  *   propagation, which needs diameter-many rounds and dies on long
  *   chains (exactly the shape near-dup graphs take when doc A ~ B ~ C
  *   without A ~ C). Each round is materialized (lineage truncation) and
  *   converges on a deterministic (count, hash-sum) edge checksum.
  *
  * Memory: each materialized frame is released as soon as its consumer
  * has materialized: the pairs once the edges are, the edges once the
  * union-find collect or the first round has read them, and each round
  * once the next round's checksum has filled it. At most two rounds are
  * live; the result holds only the last.
  */
object DedupClustering {

  /** @param pairs undirected dup pairs as columns (d1, d2), d1 < d2 */
  def connectedComponents(
      pairs: DataFrame,
      smallGraphThreshold: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // materialize the (possibly expensive) pair computation ONCE before the
    // symmetrizing union references it twice
    val p = Materialize(pairs.select(col("d1").cast("long").as("d1"),
      col("d2").cast("long").as("d2")), eager = true)
    // LAZY checkpoint: the edges.count() below materializes it in the same
    // job — an eager checkpoint would run one extra job for the same rows
    val edges = Materialize(p.select(col("d1").as("src"), col("d2").as("dst"))
      .union(p.select(col("d2").as("src"), col("d1").as("dst"))), eager = false)
    val nEdges = edges.count()
    Materialize.release(p)

    if (nEdges <= smallGraphThreshold) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      val es = edges.as[(Long, Long)].collect()
      Materialize.release(edges)
      // union by min root: the root is always the component's min id
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      parent.keys.toSeq.sorted.map(id => (id, find(id))).toDF("id", "comp")
    } else {
      // ---- alternating star contraction ----
      // edges held as undirected pairs; each op re-orients as it needs.

      // large-star(u): m = min(Γ(u) ∪ {u}); rewire every LARGER neighbor
      // v > u to m. Over the symmetric edge set, so high-degree hubs fan
      // their neighborhoods toward the minimum in one round.
      def largeStar(e: DataFrame): DataFrame = {
        val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        val mins = sym.groupBy(col("src"))
          .agg(min(col("dst")).as("mnd"))
          .select(col("src"), least(col("src"), col("mnd")).as("m"))
        // dst > src cut BEFORE the join (halves the probe side — the min
        // relation still sees the full symmetric set); no trailing
        // distinct: smallStar re-orients and distincts first thing, and
        // its groupBy-min is duplicate-invariant, so the extra exchange
        // bought nothing — one shuffle of the edge relation saved per
        // round at every scale
        sym.where(col("dst") > col("src")).join(mins, "src")
          .select(col("dst").as("src"), col("m").as("dst"))
          .where(col("src") =!= col("dst"))
      }

      // small-star(u): orient big→small, m = min of u's smaller
      // neighborhood; rewire every smaller neighbor AND u itself to m.
      def smallStar(e: DataFrame): DataFrame = {
        val o = e.select(greatest(col("src"), col("dst")).as("u"),
                         least(col("src"), col("dst")).as("v"))
          .where(col("u") =!= col("v")).distinct()
        val mins = o.groupBy(col("u")).agg(min(col("v")).as("m"))
        o.join(mins, "u")
          .select(col("v").as("src"), col("m").as("dst"))
          .union(mins.select(col("u").as("src"), col("m").as("dst")))
          .where(col("src") =!= col("dst"))
          .distinct()
      }

      // deterministic edge-set checksum — O(E) aggregate, no join-based
      // change count. Three independent aggregates (count, exact decimal
      // hash sum, exact decimal endpoint sum — ANSI mode forbids
      // wrap-around long sums): a premature fixpoint needs two distinct
      // edge sets agreeing on ALL of cardinality, a keyed-hash sum, and
      // the raw endpoint sum, which the monotone contraction cannot
      // produce short of engineered xxhash64 collisions
      def checksum(e: DataFrame): (Long, String, String) = {
        val r = e.agg(count(lit(1)),
          sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
          sum((col("src") + col("dst")).cast("decimal(38,0)"))).head()
        (r.getLong(0),
         if (r.isNullAt(1)) "0" else r.getDecimal(1).toString,
         if (r.isNullAt(2)) "0" else r.getDecimal(2).toString)
      }

      // each round's checkpoint is LAZY: the checksum action that
      // immediately follows materializes it, so a round costs ONE job
      // (contract + checksum) instead of two — at fixture scale the
      // per-round job floor is most of this operator's wall, and at data
      // scale one materialization of the same rows replaces two
      var cur = Materialize(
        edges.where(col("src") =!= col("dst")).distinct(), eager = false)
      var prev = (-1L, "", "")
      var sig = checksum(cur)
      Materialize.release(edges)
      while (sig != prev) {
        val next = Materialize(smallStar(largeStar(cur)), eager = false)
        prev = sig
        sig = checksum(next)
        Materialize.release(cur)
        cur = next
      }
      // fixpoint = forest of stars oriented (child > root): child labels
      // come straight off the edges, roots label themselves
      cur.select(col("src").as("id"), col("dst").as("comp"))
        .union(cur.select(col("dst").as("id"), col("dst").as("comp")))
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
    }
  }
}
