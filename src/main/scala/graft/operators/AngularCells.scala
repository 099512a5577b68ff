package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorOps.dot_d
import graft.ops.Materialize

/** Centroid-cell angular index with EXACT pruning bounds — the shared
  * machinery behind `dedup_embedding_cosine`, `dedup_semantic` and the
  * `ann_range_*` queries.
  *
  * Every vector is assigned to its nearest centroid (map-side argmax over
  * the broadcast centroid set — the K candidate rows collapse in partial
  * aggregation, so the shuffle carries one row per vector), carrying its
  * angle to that centroid; per-cell angular radii r(c) = max angle(v, c)
  * aggregate to K rows. The spherical triangle inequality then gives
  * provable candidate bounds:
  *
  *  - pair pruning:   cos(u,w) ≥ t  ⇒  angle(c(u),c(w)) ≤ acos(t) + r(c(u)) + r(c(w))
  *  - probe pruning:  cos(p,x) ≥ t  ⇒  angle(p, c(x))   ≤ acos(t) + r(c(x))
  *
  * so cell pairs / probe-cell pairs outside the bound are pruned with ZERO
  * recall loss — exactness is a theorem, not a tuning outcome. The
  * compatible lists are K²- (resp. probes×K-) bounded and computed
  * driver-side from the K-row radii aggregate (planning-sized collects,
  * same convention as AnnOps' codebooks); candidate generation is then
  * equi-joins on the cell key. With trained centroids over real clustered
  * embeddings the bound prunes the quadratic term the way IVF prunes
  * probes; on adversarially-uniform data it degrades to all candidates but
  * never to a cartesian plan.
  */
object AngularCells {

  /** Nearest-centroid assignment: `e` = (vec_id, v, nrm), `cents` =
    * (cid, cv, cnrm) → (vec_id, cell, v, nrm, theta), eagerly
    * materialized (the radii action and every candidate join scan it —
    * without the materialization the K-way argmax recomputes per
    * consumer). Argmax ties go to the lower centroid id. Serialized
    * blocks (MEMORY_AND_DISK_SER) because the artifact carries the
    * vectors. */
  def assign(e: DataFrame, cents: DataFrame): DataFrame = Materialize(
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("nrm"), col("cid"),
        (dot_d(col("v"), col("cv")) / (col("nrm") * col("cnrm"))).as("cos"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cid"), col("v"), col("nrm"), col("cos")),
                  struct(col("cos"), (-col("cid")).as("neg"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cell"),
              col("best.v").as("v"), col("best.nrm").as("nrm"),
        acos(least(lit(1.0), greatest(lit(-1.0), col("best.cos"))))
          .as("theta")),
    eager = true, StorageLevel.MEMORY_AND_DISK_SER)

  /** Per-cell angular radius r(c) = max angle(v, c) — a K-row aggregate,
    * collected driver-side for the compatibility computation. */
  def radii(asg: DataFrame): Map[Long, Double] =
    asg.groupBy(col("cell")).agg(max(col("theta")).as("r")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Planning-sized collect of an (id, vector, norm) frame. */
  def collectVecs(df: DataFrame): Array[(Long, Array[Double], Double)] =
    df.collect().map { r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))
    }

  /** Driver-side angle between two collected vectors, clamped into acos's
    * domain. Fold-order ulps vs the executor-side dot_d are absorbed by
    * the caller adding `slack` to its pruning bound — pruning stays
    * strictly conservative. */
  def angle(a: Array[Double], na: Double, b: Array[Double], nb: Double): Double =
    math.acos(math.max(-1.0, math.min(1.0,
      a.zip(b).map { case (x, y) => x * y }.sum / (na * nb))))

  /** Conservative slack for angle-domain bound checks. The cos-domain
    * fold-order error between driver and executor dot products is
    * ulp-scale (≈ dims · ε relative), but acos AMPLIFIES it near
    * cos ≈ ±1: d(acos)/dcos = 1/√(1−cos²) → ∞, and the worst clamped
    * case acos(1−δ) ≈ √(2δ) turns a δ ≈ dims·ε cos error into a
    * √(2·dims·ε) ≈ 1.7e-7 (dims=64) angle error. Slack must dominate
    * THAT, not the raw ulp — 1e-6 does with a ~6× margin for the
    * embedding widths here (≤ 256 dims ⇒ √(2·256·ε) ≈ 3.4e-7), while
    * widening each pruning bound by only a micro-radian, which admits
    * essentially zero extra candidates. Pruning remains strictly
    * conservative: slack only ever ADDS candidates, exactness of the
    * final filter is unaffected. */
  val slack = 1e-6
}
