package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * - `ann_bruteforce_topk` — exact cosine top-k for a query set: broadcast
  *   the (small) query side against the full corpus, rank per query. This is
  *   the correctness baseline and the pattern for "score 100 TB of corpus
  *   against K probes": one scan, no corpus shuffle, TakeOrdered per query.
  * - `ann_lsh_topk` — random-hyperplane LSH: 16-bit signatures from
  *   deterministic hyperplanes, candidates = bucket collisions (multi-probe
  *   via 4-bit bands), exact re-rank of candidates only. The scale path —
  *   work ∝ bucket collision count, not corpus × queries. Recall vs the
  *   brute-force baseline is pinned in AnnSpec.
  */
object AnnOps {
  import Tables._

  private val dims = 64

  /** Deterministic ±1 hyperplane components, seeded driver-side: plane j is
    * a 64-element literal array baked into the plan (tiny broadcast-free
    * constant — same on every executor). */
  private def hyperplane(j: Int): Column = {
    val rnd = new scala.util.Random(1234 + j)
    array((0 until dims).map(_ => lit(if (rnd.nextBoolean()) 1.0 else -1.0)): _*)
  }

  /** The SAME seeded hyperplanes as DuckDB rows (j, h): the oracle replays
    * the signature computation against identical ±1 literals, so LSH is
    * exactly hash-checkable end-to-end like SQ8/PQ. */
  private def planesSql: String = (0 until 16).map { j =>
    val rnd = new scala.util.Random(1234 + j)
    val xs = (0 until dims).map(_ => if (rnd.nextBoolean()) "1" else "-1").mkString(",")
    s"  SELECT $j AS j, list_transform([$xs], t -> CAST(t AS DOUBLE)) AS h"
  }.mkString("\n  UNION ALL\n")

  import graft.functions.VectorOps.dot_d

  private def cosine(a: Column, b: Column): Column =
    dot_d(a, b) / (sqrt(dot_d(a, a)) * sqrt(dot_d(b, b)))

  private def vecs(s: SparkSession, d: String): DataFrame =
    Tables.fan(s, embeddings(s, d)).select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))

  /** (vec_id, v: array<double>, nrm = ‖v‖): the input of the cosine
    * queries over [[graft.operators.AngularCells]]. */
  private[ops] def cosineVecs(s: SparkSession, d: String): DataFrame =
    Tables.fan(s, embeddings(s, d)).select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", sqrt(dot_d(col("v"), col("v"))))

  /** Exact cosine range search, cos ≥ 0.35 for the probes vec_id < 4,
    * over an AngularCells index on the centroids `cvecs` (cid, cv, ‖cv‖):
    * probes × K driver-side bound check → the broadcast probe-cell list,
    * then one equi-join of the assignment on the cell key. */
  private def rangeViaCells(s: SparkSession, e: DataFrame,
      cvecs: Seq[(Long, Array[Double], Double)]): DataFrame = {
    import graft.operators.AngularCells
    import s.implicits._
    val asg = AngularCells.assign(e, cvecs
      .map { case (cid, cv, n) => (cid, cv.toSeq, n) }.toDF("cid", "cv", "cnrm"))
    val radii = AngularCells.radii(asg)
    val probes = AngularCells.collectVecs(
      e.where(col("vec_id") < 4).select(col("vec_id"), col("v"), col("nrm")))
    val tau = math.acos(0.35)
    val probeCells = for {
      (qid, pv, pn) <- probes.toSeq
      (cid, cv, cn) <- cvecs if radii.contains(cid)
      if AngularCells.angle(pv, pn, cv, cn) <=
        tau + radii(cid) + AngularCells.slack
    } yield (qid, cid, pv, pn)
    val pc = probeCells.toDF("query_id", "cell", "pv", "pnrm")
    asg.join(broadcast(pc), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (dot_d(col("pv"), col("v")) / (col("pnrm") * col("nrm"))).as("cos"))
      .where(col("cos") >= 0.35)
      .orderBy(col("query_id"), col("vec_id"))
  }

  val all: Seq[Q] = Seq(

    Q("ann_bruteforce_topk",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_transform(list_zip(q.v, c.v), x -> x[1] * x[2]), (p, s) -> p + s)
        |      / (sqrt(list_reduce(list_transform(q.v, x -> x * x), (p, s) -> p + s))
        |       * sqrt(list_reduce(list_transform(c.v, x -> x * x), (p, s) -> p + s))) AS cos
        |  FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, cos, rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS rk FROM scored) t
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      val e = vecs(s, d)
      val q = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
                cosine(col("qv"), col("v")).as("cos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
      scored.withColumn("rk", row_number().over(w))
        .where(col("rk") <= 10)
        .orderBy(col("query_id"), col("rk"))
    },

    // FILTERED vector search — top-k under a metadata predicate (label ∈
    // {1,2,3}), the retrieval composition every vector store now names:
    // the filter applies BEFORE scoring (pre-filter), so the top-k is
    // exact over the qualifying subset — post-filtering an unfiltered
    // top-k under-returns whenever fewer than k of the global neighbors
    // qualify. In the plan the predicate is an ordinary Catalyst filter
    // at the scan (PushedFilters prunes row groups on label min/max
    // stats), the probes broadcast, and per-query ranking runs over the
    // filtered stream only — selectivity cuts scoring cost
    // proportionally, which is exactly what a dedicated vector DB's
    // filtered index buys and a columnar scan gets for free.
    Q("ann_filtered_topk",
      """WITH e AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id, c.label,
        |    list_reduce(list_transform(list_zip(q.qv, c.v), x -> x[1] * x[2]), (p, s) -> p + s)
        |      / (sqrt(list_reduce(list_transform(q.qv, x -> x * x), (p, s) -> p + s))
        |       * sqrt(list_reduce(list_transform(c.v, x -> x * x), (p, s) -> p + s))) AS cos
        |  FROM q JOIN e c ON c.vec_id <> q.query_id AND c.label IN (1, 2, 3))
        |SELECT query_id, neighbor_id, label, cos, rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS rk FROM scored) t
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      val e = vecs(s, d)
      val q = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val scored = e.where(col("label").isin(1, 2, 3))
        .join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("label"),
                cosine(col("qv"), col("v")).as("cos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
      scored.withColumn("rk", row_number().over(w))
        .where(col("rk") <= 5)
        .orderBy(col("query_id"), col("rk"))
    },

    // Exact cosine RANGE search — every corpus vector with cos ≥ t of each
    // probe — in IVF topology with a PROVABLE probe set: probes scan only
    // cells whose centroid angle passes the spherical triangle-inequality
    // bound angle(p, c) ≤ acos(t) + r(c) (AngularCells scaladoc), so the
    // brute-force oracle equality is a theorem, not a recall measurement
    // (the contrast with ann_lsh/ann_ivf, whose misses are probabilistic).
    // The corpus-side work is one equi-join of the cell-keyed assignment
    // against the broadcast probe×cell list; at scale `cell` is the
    // storage partition key, so compatible cells prune at the SCAN
    // (IvfStorageSpec pins that property for the shared layout).
    Q("ann_range_exact",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, q) -> p + q)) AS nrm
        |  FROM embeddings),
        |p AS (SELECT vec_id AS query_id, v AS pv, nrm AS pnrm FROM e WHERE vec_id < 4)
        |SELECT p.query_id, e.vec_id,
        |  list_reduce(list_transform(list_zip(p.pv, e.v), x -> x[1] * x[2]),
        |              (a, b) -> a + b) / (p.pnrm * e.nrm) AS cos
        |FROM p JOIN e ON e.vec_id <> p.query_id
        |WHERE list_reduce(list_transform(list_zip(p.pv, e.v), x -> x[1] * x[2]),
        |              (a, b) -> a + b) / (p.pnrm * e.nrm) >= 0.35
        |ORDER BY query_id, vec_id""".stripMargin) { (s, d) =>
      val e = cosineVecs(s, d)
      rangeViaCells(s, e, graft.operators.AngularCells.collectVecs(
        e.where(col("vec_id") < 8)).toSeq)
    },

    // The TRAINED-CENTROID composition: the same exact range search, but
    // the AngularCells index is built on kmeans_train's output centroids
    // (one decimal-exact Lloyd update from the deterministic seeds)
    // instead of the vec_id<8 stand-ins — trainer → index → search is the
    // production pipeline, and here the composed path itself sits under
    // the oracle. The oracle is STILL plain brute force: AngularCells
    // pruning is exact for ANY centroid set (each vector's theta is its
    // true angle to its own cell, radii are per-cell maxima, the triangle
    // bound follows), so centroid quality moves the candidate count, not
    // the answer — which is precisely the property that makes a trained
    // index safe to swap in without re-validating results.
    Q("ann_range_trained",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, q) -> p + q)) AS nrm
        |  FROM embeddings),
        |p AS (SELECT vec_id AS query_id, v AS pv, nrm AS pnrm FROM e WHERE vec_id < 4)
        |SELECT p.query_id, e.vec_id,
        |  list_reduce(list_transform(list_zip(p.pv, e.v), x -> x[1] * x[2]),
        |              (a, b) -> a + b) / (p.pnrm * e.nrm) AS cos
        |FROM p JOIN e ON e.vec_id <> p.query_id
        |WHERE list_reduce(list_transform(list_zip(p.pv, e.v), x -> x[1] * x[2]),
        |              (a, b) -> a + b) / (p.pnrm * e.nrm) >= 0.35
        |ORDER BY query_id, vec_id""".stripMargin) { (s, d) =>
      rangeViaCells(s, cosineVecs(s, d), trainedCentroids(s, d).map {
        case (cid, cv) => (cid, cv, math.sqrt(cv.map(x => x * x).sum))
      })
    },

    // LSH path: signature = 16 sign-bits of hyperplane projections; bucket
    // join on 4-bit bands (multi-probe), exact cosine re-rank of candidates.
    // Fully deterministic (seeded hyperplanes), so the oracle rebuilds the
    // identical signatures/bands/candidates in DuckDB: same left-to-right
    // dot-product folds, same >= 0 sign test on identical doubles, same
    // (cos DESC, neighbor_id) tie-break.
    Q("ann_lsh_topk",
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |planes AS (
         |$planesSql),
         |bits AS (
         |  SELECT e.vec_id, pl.j,
         |    CASE WHEN list_reduce(list_transform(list_zip(e.v, pl.h), z -> z[1] * z[2]),
         |                          (a, b) -> a + b) >= 0
         |         THEN 1 ELSE 0 END AS bit
         |  FROM e CROSS JOIN planes pl),
         |sigs AS (
         |  SELECT vec_id, CAST(sum(bit * (1 << (15 - j))) AS BIGINT) AS sig
         |  FROM bits GROUP BY vec_id),
         |banded AS (
         |  SELECT vec_id, bd AS band, (sig >> CAST(bd * 4 AS INT)) & 15 AS bkey
         |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS bd) t),
         |qb AS (SELECT vec_id AS query_id, band, bkey FROM banded WHERE vec_id < 5),
         |cands AS (
         |  SELECT DISTINCT qb.query_id, c.vec_id AS neighbor_id
         |  FROM banded c JOIN qb ON c.band = qb.band AND c.bkey = qb.bkey
         |  WHERE c.vec_id <> qb.query_id),
         |scored AS (
         |  SELECT cd.query_id, cd.neighbor_id,
         |    list_reduce(list_transform(list_zip(qe.v, ce.v), z -> z[1] * z[2]), (a, b) -> a + b)
         |      / (sqrt(list_reduce(list_transform(qe.v, x -> x * x), (a, b) -> a + b))
         |       * sqrt(list_reduce(list_transform(ce.v, x -> x * x), (a, b) -> a + b))) AS cos
         |  FROM cands cd JOIN e qe ON qe.vec_id = cd.query_id
         |                JOIN e ce ON ce.vec_id = cd.neighbor_id)
         |SELECT query_id, neighbor_id, cos, rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rk FROM scored) t2
         |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      val nPlanes = 16; val bandBits = 4
      val e = vecs(s, d)
      val projected = e.withColumn("sigbits", array((0 until nPlanes).map { j =>
        (dot_d(col("v"), hyperplane(j)) >= 0).cast("int")
      }: _*))
      val withSig = projected.withColumn("sig",
        expr("aggregate(sigbits, 0, (acc, b) -> acc * 2 + b)"))
      val banded = withSig.select(col("vec_id"), col("v"), col("sig"),
        posexplode(array((0 until nPlanes / bandBits).map(bd =>
          shiftrightunsigned(col("sig"), bd * bandBits)
            .bitwiseAND(lit((1 << bandBits) - 1))): _*)).as(Seq("band", "bkey")))
      val q = banded.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
                col("band"), col("bkey"))
      val cands = banded.join(broadcast(q),
          Seq("band", "bkey")).where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
                col("qv"), col("v")).distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
      cands.withColumn("cos", cosine(col("qv"), col("v")))
        .select(col("query_id"), col("neighbor_id"), col("cos"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 10)
        .orderBy(col("query_id"), col("rk"))
    },

    // SQ8 scalar-quantized search — the memory-side scale path: the corpus
    // is held as int8 codes (8× smaller than float64, 4× smaller than the
    // stored float32), scored by asymmetric distance (full-precision query
    // against midpoint-dequantized codes). The quantizer (per-dim min +
    // scale) is trained driver-side on the corpus — 64 doubles baked into
    // the plan as literals, the same broadcast-free shape as the IVF
    // centroids — so encode/score is a pure projection: one corpus scan,
    // no shuffle before the per-query top-k. Quantization is deterministic
    // arithmetic (one subtract/divide/floor per element), so unlike most
    // ANN ops this one is exactly oracle-checkable end-to-end; at 64-dim
    // the ranking is near-lossless (recall@10 = 1.0 on the fixtures,
    // floor-gated in ann_recall_eval).
    Q("ann_sq8_topk",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |dx AS (SELECT vec_id, i, v[CAST(i AS INT)] AS x FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t),
        |dims AS (SELECT i, min(x) AS mn, (max(x) - min(x)) / 255 AS sc FROM dx GROUP BY i),
        |lims AS (SELECT list(mn ORDER BY i) AS mns, list(sc ORDER BY i) AS scs FROM dims),
        |dq AS (
        |  SELECT vec_id,
        |    list_transform(list_zip(v, mns, scs), z ->
        |      CASE WHEN z[3] = 0 THEN z[2]
        |           ELSE z[2] + (least(255, greatest(0, floor((z[1] - z[2]) / z[3]))) + 0.5) * z[3] END) AS w
        |  FROM e CROSS JOIN lims),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_transform(list_zip(q.qv, c.w), x -> x[1] * x[2]), (p, s) -> p + s)
        |      / (sqrt(list_reduce(list_transform(q.qv, x -> x * x), (p, s) -> p + s))
        |       * sqrt(list_reduce(list_transform(c.w, x -> x * x), (p, s) -> p + s))) AS cos_q
        |  FROM q JOIN dq c ON c.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, cos_q, rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_q DESC, neighbor_id) AS rk FROM scored) t
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      val e = vecs(s, d)
      val stats = e.select(posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1)
      val mnsL = typedLit(stats.map(_._2).toSeq)
      val scsL = typedLit(stats.map(t => (t._3 - t._2) / 255.0).toSeq)
      val dq = e.withColumn("w", transform(col("v"), (x, i) => {
        val mn = element_at(mnsL, (i + lit(1)).cast("int"))
        val sc = element_at(scsL, (i + lit(1)).cast("int"))
        when(sc === 0, mn).otherwise(
          mn + (least(lit(255.0),
            greatest(lit(0.0), floor((x - mn) / sc).cast("double"))) + lit(0.5)) * sc)
      })).select(col("vec_id"), col("w"))
      val q = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos_q").desc, col("neighbor_id"))
      dq.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
                cosine(col("qv"), col("w")).as("cos_q"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 10)
        .orderBy(col("query_id"), col("rk"))
    },

    // Product quantization (PQ): 64 dims → 16 subspaces × 16 codewords, so
    // each vector compresses to 16 half-byte codes (8 bytes vs 256 — the
    // memory ratio that lets a 100 TB corpus's index live in RAM). Like
    // IVF, the codebooks are deterministic corpus vectors (vec_id 21..36
    // sub-sliced per subspace; at scale they come from per-subspace
    // k-means) collected driver-side and baked as literals — encoding is a
    // pure projection (128 tiny native dot kernels per row, no join, no
    // shuffle), queries re-rank against the RECONSTRUCTED vectors
    // (symmetric-distance flavor, which keeps the whole op exactly
    // oracle-checkable: every step is deterministic arithmetic). Recall
    // vs brute force is floored in ann_recall_eval like the other paths.
    Q("ann_pq_topk",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |ms AS (SELECT unnest(range(0, 16)) AS m),
        |cb AS (
        |  SELECT CAST(vec_id - 21 AS BIGINT) AS cid, m,
        |    v[CAST(m*4+1 AS INT):CAST(m*4+4 AS INT)] AS cw
        |  FROM e CROSS JOIN ms WHERE vec_id >= 21 AND vec_id < 37),
        |subs AS (
        |  SELECT vec_id, m, v[CAST(m*4+1 AS INT):CAST(m*4+4 AS INT)] AS sub
        |  FROM e CROSS JOIN ms),
        |dist AS (
        |  SELECT s.vec_id, s.m, cb.cid, cb.cw,
        |    list_reduce(list_transform(s.sub, x -> x * x), (p, q) -> p + q)
        |    - 2 * list_reduce(list_transform(list_zip(s.sub, cb.cw), x -> x[1] * x[2]), (p, q) -> p + q)
        |    + list_reduce(list_transform(cb.cw, x -> x * x), (p, q) -> p + q) AS d2
        |  FROM subs s JOIN cb ON s.m = cb.m),
        |enc AS (
        |  SELECT vec_id, m, cw FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
        |    FROM dist) t
        |  WHERE rn = 1),
        |rec AS (SELECT vec_id, flatten(list(cw ORDER BY m)) AS w FROM enc GROUP BY vec_id),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_transform(list_zip(q.qv, c.w), x -> x[1] * x[2]), (p, s) -> p + s)
        |      / (sqrt(list_reduce(list_transform(q.qv, x -> x * x), (p, s) -> p + s))
        |       * sqrt(list_reduce(list_transform(c.w, x -> x * x), (p, s) -> p + s))) AS cos_q
        |  FROM q JOIN rec c ON c.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, cos_q, rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_q DESC, neighbor_id) AS rk FROM scored) t
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      val e = vecs(s, d)
      val m = 16; val sub = dims / m; val k = 16
      // "trained" codebooks: sub-slices of corpus vectors 21..36, collected
      // driver-side (16 × 64 doubles — a planning-sized constant)
      val train: Array[Array[Double]] = e
        .where(col("vec_id") >= 21 && col("vec_id") < 21 + k)
        .orderBy(col("vec_id")).select(col("v")).collect()
        .map(_.getSeq[Double](0).toArray)
      val codebooks: Array[Array[Array[Double]]] =
        Array.tabulate(m)(mi => train.map(_.slice(mi * sub, mi * sub + sub)))
      // encode+reconstruct in ONE native kernel (same arithmetic and
      // tie-break as the oracle's d2/row_number formulation); the naive
      // M×K struct-array expression tree generated so much code that
      // compiling it dominated the query
      val rec = e.select(col("vec_id"),
        graft.functions.VectorOps.pq_reconstruct(col("v"), codebooks).as("w"))
      val q = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos_q").desc, col("neighbor_id"))
      rec.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
                cosine(col("qv"), col("w")).as("cos_q"))
        .withColumn("rk", row_number().over(win))
        .where(col("rk") <= 10)
        .orderBy(col("query_id"), col("rk"))
    },

    // ANN recall evaluation as a gate query — the eval job every
    // production ANN deployment ships next to the index. Recall@10 of the
    // LSH and IVF paths is measured against the exact brute-force top-k
    // IN Spark (k×q rows — driver-side set compare of collected top-10
    // lists is the eval job's natural shape); the oracle pins the recall
    // floors (the same ones AnnSpec enforces: random 64-dim noise gives
    // modest-but-nontrivial recall). The raw top-k queries stay rows-only;
    // this puts their quality contract inside the driver's gate.
    Q("ann_recall_eval",
      """SELECT 'ivf' AS method, 5 AS n_queries, true AS recall_ok
        |UNION ALL
        |SELECT 'lsh' AS method, 5 AS n_queries, true AS recall_ok
        |UNION ALL
        |SELECT 'pq' AS method, 5 AS n_queries, true AS recall_ok
        |UNION ALL
        |SELECT 'sq8' AS method, 5 AS n_queries, true AS recall_ok
        |ORDER BY method""".stripMargin) { (s, d) =>
      import s.implicits._
      // memoized per (session, fixture, query): every pipeline is
      // deterministic, and each also runs as its own contract query in the
      // same session — an eval job reads the already-materialized top-k
      // outputs, it does not recompute five index builds. Only the
      // collected sets are kept: the query's own frames go with its scope
      def topSets(name: String): Map[Long, Set[Long]] =
        Memo(s, "ann.topk", (d, name))(Materialize.scoped {
          graft.SparkEntry.queries(name)(s, d)
            .select(col("query_id"), col("neighbor_id")).collect()
            .groupBy(_.getLong(0))
            .view.mapValues(_.map(_.getLong(1)).toSet).toMap
        })
      val exact = topSets("ann_bruteforce_topk")
      def meanRecall(m: Map[Long, Set[Long]]): Double =
        exact.map { case (q, ex) =>
          m.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
        }.sum / exact.size
      val ivfOk = meanRecall(topSets("ann_ivf_topk")) >= 0.15
      val lshOk = meanRecall(topSets("ann_lsh_topk")) >= 0.10
      // 8-bit quantization barely perturbs 64-dim rankings — hold it to a
      // HIGH floor, not the candidate-generator floors above
      val sq8Ok = meanRecall(topSets("ann_sq8_topk")) >= 0.8
      // PQ at 16×4-dim subquantizers over near-orthogonal noise is a
      // candidate-generator-class ranking (mean recall ~0.2-0.4 on the
      // fixtures) — floored like IVF/LSH, not like SQ8
      val pqOk = meanRecall(topSets("ann_pq_topk")) >= 0.1
      Seq(("ivf", exact.size, ivfOk), ("lsh", exact.size, lshOk),
          ("pq", exact.size, pqOk), ("sq8", exact.size, sq8Ok))
        .toDF("method", "n_queries", "recall_ok")
        .orderBy(col("method"))
    },

    // IVF (inverted-file) path: a coarse quantizer of 16 deterministic
    // centroids (corpus vectors 5..20 — quality of the quantizer is
    // irrelevant to the operator shape; at scale these come from a sampled
    // k-means). Centroids are collected driver-side (16×64 doubles) and
    // baked into the plan as literals, so cell assignment is a pure
    // projection — one corpus scan, no join, no shuffle. Queries probe
    // their nprobe=4 nearest cells; candidates = corpus vectors in those
    // cells; exact cosine re-rank of candidates only. Work ∝ corpus/16 ×
    // nprobe instead of corpus × queries; the cell column is the natural
    // partitioning key for a 100 TB corpus (each cell's postings co-located
    // and pruned by the probe list). Recall vs brute force pinned in AnnSpec.
    // Centroids are corpus vectors, so the oracle derives them straight from
    // the parquet: identical cell-assignment argmax (struct compare = cs
    // DESC, cid DESC), identical probe top-4, identical cosine re-rank.
    Q("ann_ivf_topk",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id >= 5 AND vec_id < 21),
        |scores AS (
        |  SELECT e.vec_id, c.cid,
        |    list_reduce(list_transform(list_zip(e.v, c.cv), z -> z[1] * z[2]), (a, b) -> a + b)
        |      / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a, b) -> a + b))) AS cs
        |  FROM e CROSS JOIN cents c),
        |assigned AS (
        |  SELECT vec_id, cid AS cell FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cs DESC, cid DESC) AS rn FROM scores) t
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cid AS cell FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cs DESC, cid DESC) AS rn FROM scores WHERE vec_id < 5) t
        |  WHERE rn <= 4),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_reduce(list_transform(list_zip(qe.v, ce.v), z -> z[1] * z[2]), (a2, b2) -> a2 + b2)
        |      / (sqrt(list_reduce(list_transform(qe.v, x -> x * x), (a2, b2) -> a2 + b2))
        |       * sqrt(list_reduce(list_transform(ce.v, x -> x * x), (a2, b2) -> a2 + b2))) AS cos
        |  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
        |       JOIN e qe ON qe.vec_id = p.query_id
        |       JOIN e ce ON ce.vec_id = a.vec_id)
        |SELECT query_id, neighbor_id, cos, rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS rk FROM scored) t2
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      val e = vecs(s, d)
      val nVec = Tables.parquetRowCount(s, d, "embeddings")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
      if (nVec <= 10000L) {
        // fixture scale, oracle-pinned: 16 seeded literal centroids, so
        // assignment is a zero-shuffle map-side argmax projection
        val nprobe = 4
        val cents: Array[(Long, Array[Double])] =
          e.where(col("vec_id") >= 5 && col("vec_id") < 21)
            .select(col("vec_id"), col("v")).collect()
            .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        def cellScores(v: Column): Column = array(cents.map { case (cid, w) =>
          struct(cosine(v, typedLit(w)).as("c"), lit(cid).as("cid"))
        }: _*)
        val assigned = e.withColumn("cell", array_max(cellScores(col("v"))).getField("cid"))
        val probes = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
            explode(transform(
              slice(sort_array(cellScores(col("v")), asc = false), 1, nprobe),
              _.getField("cid"))).as("cell"))
        assigned.join(broadcast(probes), Seq("cell"))
          .where(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
                  cosine(col("qv"), col("v")).as("cos"))
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= 10)
          .orderBy(col("query_id"), col("rk"))
      } else {
        // footer-gated scale branch (same √N-cells law as knn_graph_ivf,
        // Lloyd-TRAINED centroids, and the SAME two-level flip: past
        // ⌈√N⌉ > 4096 the flat cells freeze at the cap and per-probe
        // candidates degrade from √N-tracking to N/32 — fifty probes
        // make that survivable, not right). Both shapes end in the
        // identical broadcast cell join + 5-query re-rank window.
        annTopKScaleBranch(s, d, normalizedVecs(e), nVec, w)
      }
    },

    // Full-corpus k-NN GRAPH through the IVF cells — the precursor
    // artifact of SemDeDup/semantic-cluster curation: EVERY vector gets
    // its top-3 cosine neighbors, but candidates come from each vector's
    // 2 nearest cells instead of an all-pairs join. Unlike ann_ivf_topk
    // (50 broadcast probes), the probe side here IS the corpus, so the
    // shape is a cell-keyed EQUI-JOIN between the assigned relation and
    // the probe relation — both corpus-sized, co-partitioned on the cell
    // key, never broadcast, never cartesian. At 100 TB the cell count
    // grows as √n (trained centroids), keeping per-cell postings bounded
    // and the join's partitions uniform; the fixture's K=16 stand-in
    // makes cells coarse but the plan identical; a hot cell (dense
    // semantic region) is an AQE-skew-split candidate like any hot join
    // key. Work ∝ n × nprobe × cell-width, not n². Fully deterministic
    // (same seeded centroid selection as IVF) → the oracle replays
    // assignment, probes, and re-rank exactly.
    Q("knn_graph_ivf",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id >= 5 AND vec_id < 21),
        |scores AS (
        |  SELECT e.vec_id, c.cid,
        |    list_reduce(list_transform(list_zip(e.v, c.cv), z -> z[1] * z[2]), (a, b) -> a + b)
        |      / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a, b) -> a + b))) AS cs
        |  FROM e CROSS JOIN cents c),
        |assigned AS (
        |  SELECT vec_id, cid AS cell FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cs DESC, cid DESC) AS rn FROM scores) t
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cid AS cell FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cs DESC, cid DESC) AS rn FROM scores) t
        |  WHERE rn <= 2),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_reduce(list_transform(list_zip(qe.v, ce.v), z -> z[1] * z[2]), (a2, b2) -> a2 + b2)
        |      / (sqrt(list_reduce(list_transform(qe.v, x -> x * x), (a2, b2) -> a2 + b2))
        |       * sqrt(list_reduce(list_transform(ce.v, x -> x * x), (a2, b2) -> a2 + b2))) AS cos
        |  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
        |       JOIN e qe ON qe.vec_id = p.query_id
        |       JOIN e ce ON ce.vec_id = a.vec_id)
        |SELECT query_id, neighbor_id, cos, rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS rk FROM scored) t2
        |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      // Cell count is a FOOTER-GATED planning decision: the oracle's
      // K=16 below 10k vectors (every fixture — the oracle pins this
      // branch bit-for-bit: same centroid ids, same (cs DESC, cid DESC)
      // tie-break), K=⌈√N⌉ capped at 4096 beyond. Fixed K=16 collapses
      // at the 100k-vector tier — ~6250 members/cell × 2 probes ≈ 1.25B
      // candidate pairs (measured 941 s); √N cells bound candidates at
      // ~2N·√N (~63M there). Like every IVF op the result is
      // approximate-by-contract, so the scale branch changing the cell
      // structure changes candidates, never the exact re-rank — the
      // recall story is ann_recall_eval's. Cell scoring shuffles NARROW
      // (vec_id, cid, cs) rows — embeddings never ride the ranking
      // window; they re-attach by equi-join afterwards (~N rows a side).
      val k = 3
      val e = vecs(s, d)
      val nVec = Tables.parquetRowCount(s, d, "embeddings")
      val kCells = ivfCellCount(nVec)
      // probe count scales with the cell count (else the probed corpus
      // FRACTION collapses as K grows — at K=317, nprobe=2 sees 0.6% of
      // the corpus and measured recall@3 fell to 0.10 on the
      // uniform-random tier; nprobe=K/32 restores a ~3% probe ratio at
      // ~4× candidate cost, still ~√N-bounded). Candidates per query
      // stay nprobe·N/K ≈ √N/32·√N — linear in N corpus-wide per probe.
      // The measured (recall, cost) pair is in scale_smoke_r11_knn2.json;
      // real embeddings cluster, so the uniform tier is the floor.
      val nprobe = ivfNprobe(kCells)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
      if (nVec <= 10000L) {
        // fixture scale, oracle-pinned bit-for-bit: seeded centroids
        // (vec_id ∈ [5, 21)), per-pair cosine in the oracle's exact form
        val cents = e
          .where(col("vec_id") >= 5 && col("vec_id") < lit(5L + kCells))
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        // both consumers (assignment rn=1, probes rn<=nprobe) re-ran the
        // score+window subtree — rn <= nprobe covers both, and the pruned
        // relation is 2 narrow rows/vector, so checkpoint it once (the
        // multi-consumer rule); fixture-gated branch, so no scale-tier
        // memory profile changes
        val ranked = Materialize(e.select(col("vec_id"), col("v"))
          .crossJoin(broadcast(cents))
          .select(col("vec_id"), col("cid"),
            cosine(col("v"), col("cv")).as("cs"))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
              .orderBy(col("cs").desc, col("cid").desc)))
          .where(col("rn") <= math.max(nprobe, 1))
          .select(col("vec_id"), col("cid"), col("rn")), eager = true)
        val assigned = ranked.where(col("rn") === 1)
          .select(col("vec_id"), col("cid").as("cell"))
          .join(e, Seq("vec_id"))
        val probes = ranked.where(col("rn") <= nprobe)
          .select(col("vec_id").as("query_id"), col("cid").as("cell"))
          .join(e.select(col("vec_id").as("query_id"), col("v").as("qv")),
            Seq("query_id"))
        assigned.join(probes, Seq("cell"))
          .where(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
                  cosine(col("qv"), col("v")).as("cos"))
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= k)
          .orderBy(col("query_id"), col("rk"))
      } else {
        // Footer-gated scale branch: Lloyd-TRAINED centroids (spherical
        // k-means on a ~50·K hash-sample — on the uniform-random smoke
        // tier trained ≈ seeded, 0.304 vs 0.299 recall@3 at 500 queries,
        // because there is no structure to learn; on clustered corpora,
        // the regime IVF exists for, training aligns cells with the
        // density, scale_smoke_r10_knn2.json) and UNIT-NORMALIZED
        // vectors: the candidate stage evaluates nprobe·N²/K pairs, and
        // the unnormalized form pays three 64-dim dot products per pair
        // (dot + both norms, norms recomputed per PAIR); normalizing once
        // per vector up front makes the hot pair loop a single dot_d.
        // cos values are identical up to last-ulp; this branch is
        // approximate-by-contract with no oracle, so the normalized form
        // is free to differ in float rounding. Past the flat 4096-cell
        // cap (⌈√N⌉ > 4096 ⇔ N > ~16.7M) the index goes TWO-LEVEL
        // (product of two independent subspace quantizers — the IMI
        // structure, [[twoLevelAssignProbes]])
        // so effective cells keep tracking √N instead of freezing at the
        // cap — GateSpec pins the flip and the candidate-fraction
        // continuity, PlanSpec the plan shape.
        // exact-duplicate collapse wraps EITHER index shape when the
        // dup-mass probe says the largest identical-vector group is a
        // corpus-scale share ([[dupCollapseGate]] — without it a
        // 30-50% duplicated embedding is an (N/2)² cell join no
        // training can split); organic corpora skip the wrapper and
        // pay only the one narrow hash-aggregate probe
        val en = normalizedVecs(e)
        def graph(reps: DataFrame): DataFrame =
          if (!ivfTwoLevelGate(nVec))
            knnGraphScale(reps,
              normalizedCents(scaleCentroidDf(s, d, kCells.toInt)), nprobe, k)
          else {
            val k1 = ivfCoarseCells(nVec)
            val p1 = ivfTwoLevelProbes(k1)
            knnGraphTwoLevel(s, reps, nVec, k1, k1, p1, p1, k)
          }
        if (dupCollapseGate(maxDuplicateGroup(en), nVec))
          knnGraphDeduped(en, k)(graph)
        else graph(en)
      }
    },

    // Distributed k-means training (Lloyd's, 2 iterations, K=16) — the
    // trainer behind every "centroids come from k-means" note on the
    // IVF/PQ/semantic paths, in its real distributed shape: per
    // iteration, centroids BROADCAST (literal arrays, like every trained
    // constant in this suite), assignment is a map-side argmin, and the
    // update is one (cell, dim) shuffle with map-side combine; the new
    // centroids (K×64 doubles) collect to the driver — the same
    // planning-sized hop a cluster run makes between iterations.
    // Cross-engine determinism: inputs quantize to 7 decimals up front,
    // per-dim sums run in DECIMAL(20,7) (exact + associative → partial-agg
    // merge order cannot matter), means re-round to 7 decimals, so every
    // distance both engines compute is the same left-to-right fold over
    // identical doubles; the inertia sum goes through DECIMAL(30,10)
    // terms with the final value rounded to 3 digits to absorb the cast's
    // last-digit noise.
    Q("kmeans_train",
      s"""WITH $kmeansAssignSql,
        |nrm AS (SELECT cid,
        |    round(list_reduce(list_transform(cv, x -> x * x), (p, q) -> p + q), 6) AS centroid_norm2
        |  FROM c1)
        |SELECT a2.cid AS cluster_id, count(*) AS n_members,
        |  round(CAST(sum(CAST(a2.d2 AS DECIMAL(30,10))) AS DOUBLE), 3) AS inertia,
        |  any_value(nrm.centroid_norm2) AS centroid_norm2
        |FROM a2 JOIN nrm ON a2.cid = nrm.cid
        |GROUP BY a2.cid ORDER BY cluster_id""".stripMargin) { (s, d) =>
      // uncached on purpose: the trainer BENCHMARK always re-runs the full
      // update pass; only composed consumers read the session memo
      val c1 = trainCentroids(s, d)
      val norms = c1.map { case (cid, cv) => (cid, cv.map(x => x * x).sum) }
      val normDf = s.createDataFrame(norms).toDF("cluster_id", "norm2raw")
      lloydAssign(roundedVecs(s, d), c1)
        .groupBy(col("cid").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          round(sum(col("d2").cast("decimal(30,10)")).cast("double"), 3).as("inertia"))
        .join(broadcast(normDf), Seq("cluster_id"))
        .select(col("cluster_id"), col("n_members"), col("inertia"),
          round(col("norm2raw"), 6).as("centroid_norm2"))
        .orderBy(col("cluster_id"))
    },

    // Cluster-stratified diversity sampling — the embedding-space curation
    // composition: kmeans_train's centroids partition the corpus into
    // semantic cells, then exactly 5 vectors per cell are drawn in
    // splitmix64(vec_id) order (deterministic, uniform within the cell,
    // stable under corpus growth — the stratified_exact_n guarantees, with
    // TRAINED clusters as the strata instead of a metadata column). This
    // is how a 100-TB corpus gets a diverse pretraining subsample: cheap
    // clusters as coverage strata, hash-ordered exact-n per stratum.
    // Scale: assignment is lloydAssign's zero-shuffle broadcast-centroid
    // argmin projection; the sample is ONE window per cluster over the
    // hash order (state = 5 rows per cluster, no global sort); the
    // trainer's collects are planning-sized (K×dims doubles).
    Q("cluster_stratified_sample",
      s"""WITH $kmeansAssignSql,
        |sm0 AS (SELECT vec_id, cid, CAST(vec_id AS HUGEINT) AS z FROM a2),
        |${SqlKernels.smixCtes("sx", "sm0", "vec_id, cid")},
        |r AS (SELECT cid, vec_id, CAST(z % 9223372036854775808 AS BIGINT) AS h,
        |    row_number() OVER (PARTITION BY cid
        |      ORDER BY z % 9223372036854775808, vec_id) AS rn
        |  FROM sx6)
        |SELECT cid AS cluster_id, rn, vec_id, h FROM r WHERE rn <= 5
        |ORDER BY cluster_id, rn""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.functions.SplitMix64.splitmix64
      lloydAssign(roundedVecs(s, d), trainedCentroids(s, d))
        .select(col("vec_id"), col("cid"),
          splitmix64(col("vec_id")).bitwiseAND(lit(Long.MaxValue)).as("h"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("cid")).orderBy(col("h"), col("vec_id"))))
        .where(col("rn") <= 5)
        .select(col("cid").as("cluster_id"), col("rn"), col("vec_id"), col("h"))
        .orderBy(col("cluster_id"), col("rn"))
    },

    // Per-dimension feature standardization — the embedding-space
    // preprocessing every distance-based op (k-means, cosine cells, SQ8
    // quantization) assumes: z-score each dimension with corpus-trained
    // mean/std, then APPLY corpus-wide. Stats: one (dim) aggregate over
    // the exploded corpus (map-side combine leaves ≤64 rows per
    // partition); the 64 (mean, std) pairs are planning-sized and ride
    // the apply projection as LITERAL arrays — zero shuffle, zero join
    // at any corpus size (the kmeans broadcast-centroid pattern).
    // Determinism: inputs quantized to 7 decimals, stats from exact
    // DECIMAL sums/sum-of-squares (merge-order-proof), mean/std one IEEE
    // op each from identical inputs, per-vector z-sums through
    // DECIMAL(18,4) so the label rollup is associative.
    Q("feature_normalize",
      """WITH dd AS (SELECT unnest(range(1, 65)) AS dim),
        |x AS (
        |  SELECT e.vec_id, e.label, d.dim,
        |    round(CAST(e.embedding[CAST(d.dim AS INT)] AS DOUBLE), 7) AS x7
        |  FROM embeddings e CROSS JOIN dd d),
        |st AS (
        |  SELECT dim, count(*) AS n,
        |    CAST(sum(CAST(x7 AS DECIMAL(18,7))) AS DOUBLE) / count(*) AS mean,
        |    CAST(sum(CAST(x7 AS DECIMAL(18,7)) * CAST(x7 AS DECIMAL(18,7)))
        |         AS DOUBLE) / count(*) AS msq
        |  FROM x GROUP BY dim),
        |sd AS (SELECT dim, mean,
        |  sqrt(greatest(msq - mean * mean, 1e-12)) AS std FROM st),
        |z AS (
        |  SELECT x.vec_id, x.label,
        |    CAST(round((x.x7 - sd.mean) / sd.std, 4) AS DECIMAL(18,4)) AS z4
        |  FROM x JOIN sd ON x.dim = sd.dim)
        |SELECT label, CAST(count(*) / 64 AS BIGINT) AS n_vecs,
        |  CAST(sum(z4) AS DOUBLE) AS norm_sum
        |FROM z GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      val x = Tables.fan(s, embeddings(s, d))
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "e")))
        .select(col("vec_id"), col("label"), (col("pos") + 1).as("dim"),
          round(col("e").cast("double"), 7).as("x7"))
      val st = x.groupBy(col("dim"))
        .agg(count(lit(1)).as("n"),
          (sum(col("x7").cast("decimal(18,7)")).cast("double") / count(lit(1)))
            .as("mean"),
          (sum(col("x7").cast("decimal(18,7)") * col("x7").cast("decimal(18,7)"))
            .cast("double") / count(lit(1))).as("msq"))
        .select(col("dim"), col("mean"),
          sqrt(greatest(col("msq") - col("mean") * col("mean"), lit(1e-12)))
            .as("std"))
        .orderBy(col("dim")).collect()
      require(st.length == dims, s"feature_normalize: ${st.length} dims")
      val means = array(st.map(r => lit(r.getDouble(1))).toIndexedSeq: _*)
      val stds  = array(st.map(r => lit(r.getDouble(2))).toIndexedSeq: _*)
      embeddings(s, d)
        .select(col("label"), col("embedding"),
          means.as("m_"), stds.as("s_"))
        .select(col("label"), expr(
          """aggregate(
            |  zip_with(embedding, sequence(1, 64), (x, i) ->
            |    CAST(round((round(CAST(x AS DOUBLE), 7) - element_at(m_, i))
            |               / element_at(s_, i), 4) AS DECIMAL(18,4))),
            |  CAST(0 AS DECIMAL(28,4)),
            |  (a, v) -> CAST(a + v AS DECIMAL(28,4)))""".stripMargin)
          .as("vsum"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("vsum")).cast("double").as("norm_sum"))
        .orderBy(col("label"))
    },
  )

  /** Shared oracle CTE chain `e..a2`: quantized embeddings → seed
    * centroids → one decimal-exact Lloyd update → final nearest-centroid
    * assignment — the SQL replay of [[trainedCentroids]] + [[lloydAssign]],
    * shared by kmeans_train and cluster_stratified_sample. A def, not a
    * val: referenced from the `all` list, which initializes before later
    * vals in this object (the tfidfSql pattern). */
  private def kmeansAssignSql: String =
    """e AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> round(CAST(x AS DOUBLE), 7)) AS v
      |  FROM embeddings),
      |c0 AS (SELECT CAST(vec_id - 5 AS BIGINT) AS cid, v AS cv FROM e
      |       WHERE vec_id >= 5 AND vec_id < 21),
      |s1 AS (SELECT e.vec_id, c.cid, e.v,
      |    list_reduce(list_transform(e.v, x -> x * x), (p, q) -> p + q)
      |    - 2 * list_reduce(list_transform(list_zip(e.v, c.cv), z -> z[1] * z[2]), (p, q) -> p + q)
      |    + list_reduce(list_transform(c.cv, x -> x * x), (p, q) -> p + q) AS d2
      |  FROM e CROSS JOIN c0 c),
      |a1 AS (SELECT vec_id, cid, v FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM s1) t WHERE rn = 1),
      |x1 AS (SELECT cid, CAST(u AS INT) AS dim, v[CAST(u AS INT)] AS x
      |       FROM a1, (SELECT unnest(range(1, 65)) AS u) t),
      |m1 AS (SELECT cid, dim,
      |         round(CAST(sum(CAST(x AS DECIMAL(20,7))) AS DOUBLE) / count(*), 7) AS m
      |       FROM x1 GROUP BY cid, dim),
      |c1 AS (SELECT cid, list(m ORDER BY dim) AS cv FROM m1 GROUP BY cid),
      |s2 AS (SELECT e.vec_id, c.cid,
      |    list_reduce(list_transform(e.v, x -> x * x), (p, q) -> p + q)
      |    - 2 * list_reduce(list_transform(list_zip(e.v, c.cv), z -> z[1] * z[2]), (p, q) -> p + q)
      |    + list_reduce(list_transform(c.cv, x -> x * x), (p, q) -> p + q) AS d2
      |  FROM e CROSS JOIN c1 c),
      |a2 AS (SELECT vec_id, cid, d2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM s2) t WHERE rn = 1)""".stripMargin

  /** kmeans inputs quantized to 7 decimals — the shared determinism floor
    * for the decimal-exact update step (see kmeans_train's oracle). */
  private def roundedVecs(s: SparkSession, d: String): DataFrame =
    vecs(s, d).select(col("vec_id"),
      expr("transform(v, x -> round(x, 7))").as("v"))

  /** One Lloyd assignment pass against literal centroids: map-side argmin
    * over K struct scores — zero shuffle, the K candidate rows never
    * materialize — with d2 in the same expanded form and fold order as
    * the kmeans oracle. */
  private def lloydAssign(e: DataFrame,
      cents: Seq[(Long, Array[Double])]): DataFrame = {
    val scores = array(cents.map { case (cid, cv) =>
      val cvLit = typedLit(cv.toSeq)
      val cv2 = cv.map(x => x * x).sum
      struct(
        (dot_d(col("v"), col("v")) - lit(2.0) * dot_d(col("v"), cvLit) + lit(cv2)).as("d2"),
        lit(cid).as("cid"))
    }: _*)
    e.withColumn("best", array_min(scores))
      .select(col("vec_id"), col("v"),
        col("best.cid").as("cid"), col("best.d2").as("d2"))
  }

  /** The TRAINED centroid set: one decimal-exact Lloyd update from the
    * deterministic seeds (vec_id 5..21) — exactly the centroids
    * kmeans_train hash-verifies, exposed so downstream index builds
    * (ann_range_trained) run on trainer output instead of stand-ins.
    * Planning-sized: K×dims doubles on the driver. Memoized per
    * (session, fixture): the trained set is deterministic over immutable
    * fixtures, and the production topology trains ONCE and serves many
    * index builds — the composed consumers (ann_range_trained,
    * cluster_stratified_sample) should pay assignment + their own work,
    * not a retrain per query. kmeans_train itself deliberately bypasses
    * the memo ([[trainCentroids]] directly), so the trainer benchmark
    * always measures the full update pass. */
  private[graft] def trainedCentroids(s: SparkSession,
      d: String): Seq[(Long, Array[Double])] =
    Memo(s, "ann.centroids", d)(trainCentroids(s, d))

  /** Spherical-k-means trainer for the footer-gated IVF SCALE branches
    * (K up to 4096 cells), fixing round 9's one `weak`: the scale
    * branches used SEEDED corpus vectors (`vec_id ∈ [5, 5+K)`) as
    * centroids and measured recall@3 = 0.313 at the 100k tier — cell
    * boundaries nowhere near the data. Training follows the faiss
    * discipline: Lloyd iterations over a bounded hash-sample (~50·K
    * vectors via `pmod(xxhash64(vec_id), m) = 0` — layout-independent,
    * cost independent of corpus size), assignment by the SAME cosine
    * metric the serving path uses (spherical k-means: cosine argmax +
    * mean update), per-(cell, dim) means with map-side combine, and a
    * planning-sized driver hop per iteration (K×dims ≤ 4096×64 doubles
    * ≈ 2 MB — the hop every cluster trainer makes between iterations).
    * An emptied cell keeps its previous centroid. The fixture-scale
    * branches (≤10k vectors) never call this — their seeded-centroid
    * plan stays oracle-pinned bit-for-bit. Memoized per
    * (session, corpus, K): the production topology trains once per
    * corpus and serves every index build; the scale result is
    * approximate-by-contract (double partial-sum order may vary), which
    * is the ANN contract already. */
  private[graft] def scaleTrainedCentroids(s: SparkSession, d: String,
      kCells: Int, iters: Int = 2): Array[(Long, Array[Double])] =
    Memo(s, "ann.scaleCentroids", (d, kCells)) {
      trainKmeansOn(s, vecs(s, d), Tables.parquetRowCount(s, d, "embeddings"),
        kCells, iters, l2Metric = false)
    }

  /** The Lloyd loop itself, over an arbitrary (vec_id, v) frame —
    * shared by the corpus-level spherical trainer above and the
    * residual-space L2 codebook of the two-level quantizer.
    * `l2Metric = false` assigns by cosine argmax (spherical k-means);
    * `true` assigns by L2 argmin via the equivalent
    * `argmax(dot(v,c) − ||c||²/2)` — no per-pair ||v||² needed. Mean
    * update either way; an emptied cell keeps its previous centroid. */
  private[graft] def trainKmeansOn(s: SparkSession, e: DataFrame,
      nRows: Long, kCells: Int, iters: Int,
      l2Metric: Boolean): Array[(Long, Array[Double])] = Materialize.scoped {
      val m = math.max(1L, nRows / (50L * kCells))
      // corpus-narrow (≤ ~50·K rows) and consumed 1 + iters times — the
      // packedBins rule says materialize once, not rescan per iteration.
      // LAZY: the seed collect() right below is the materializing action
      // (TakeOrdered runs every partition), so the eager flavor's extra
      // job bought nothing. Released when training returns: only the
      // collected centroids leave this scope
      val sample = Materialize(e
        .where(pmod(xxhash64(col("vec_id")), lit(m)) === lit(0L))
        .select(col("vec_id"), col("v")), eager = false)
      // seeds: the K hash-smallest sample vectors — pseudorandom spread
      // over the corpus, deterministic, no data-order dependence
      var cents: Array[(Long, Array[Double])] = sample
        .orderBy(xxhash64(col("vec_id"), lit(17)).asc, col("vec_id").asc)
        .limit(kCells).collect()
        .zipWithIndex
        .map { case (r, i) => (i.toLong, r.getSeq[Double](1).toArray) }
      var it = 0
      while (it < iters) {
        val centsDf = broadcast(s.createDataFrame(
          cents.map { case (cid, cv) => (cid, cv.toSeq) }.toIndexedSeq)
          .toDF("cid", "cv"))
        val score =
          if (l2Metric)
            dot_d(col("v"), col("cv")) -
              lit(0.5) * dot_d(col("cv"), col("cv"))
          else cosine(col("v"), col("cv"))
        // all K scored copies of a vector are task-local after the
        // broadcast join, so the vec_id partial agg collapses to one row
        // per sample vector before the (only) shuffle
        val upd = sample.crossJoin(centsDf)
          .select(col("vec_id"), col("v"), col("cid"), score.as("cs"))
          .groupBy(col("vec_id"))
          .agg(max(struct(col("cs"), col("cid"))).as("best"),
            first(col("v")).as("v"))
          .select(col("best.cid").as("cid"),
            posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy(col("cid"), col("dim"))
          .agg(avg(col("x")).as("m"))
          .collect()
        val byCid = upd.map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(2)))
          .toMap
        cents = cents.map { case (cid, old) =>
          if (byCid.contains((cid, 0)))
            (cid, old.indices.map(j => byCid((cid, j))).toArray)
          else (cid, old)
        }
        it += 1
      }
      cents
  }

  /** The trained scale-branch centroid set as a local (cid, cv)
    * relation — broadcast-sized input to the cell-ranking joins. */
  private def scaleCentroidDf(s: SparkSession, d: String,
      kCells: Int): DataFrame =
    s.createDataFrame(scaleTrainedCentroids(s, d, kCells)
        .map { case (cid, cv) => (cid, cv.toSeq) }.toIndexedSeq)
      .toDF("cid", "cv")

  /** IVF planning formulas, named so GateSpec can pin their laws with
    * ScalaCheck (monotonicity, caps, probe-fraction floor, the two-level
    * flip) the way PlannerPropertySpec pins the split generators. All
    * pure driver-side arithmetic over parquet-footer counts. */
  private[graft] def ivfCellCount(nVec: Long): Long =
    if (nVec <= 10000L) 16L
    else math.min(4096L, math.ceil(math.sqrt(nVec.toDouble)).toLong)

  private[graft] def ivfNprobe(kCells: Long): Int =
    math.max(2L, kCells / 32L).toInt

  /** Past the flat cap the index goes two-level: ⌈√N⌉ > 4096. */
  private[graft] def ivfTwoLevelGate(nVec: Long): Boolean =
    math.ceil(math.sqrt(nVec.toDouble)).toLong > 4096L

  /** Per-level cell count of the two-level index: K1 = K2 = ⌈N^¼⌉
    * capped at 4096, so K1·K2 ≥ ⌈√N⌉ effective cells to N ≈ 2.8·10¹⁴. */
  private[graft] def ivfCoarseCells(nVec: Long): Int =
    math.min(4096L, math.ceil(math.pow(nVec.toDouble, 0.25)).toLong).toInt

  /** Per-subspace probe count of the two-level index. The flat law
    * probes nprobe/K = 1/32 of the corpus (ivfNprobe); a naive
    * p = k1/32 per subspace probes (k1/32)²/k1² = 1/1024 — the probed
    * FRACTION would collapse 32× the instant the gate flips and recall
    * would cliff at the N ≈ 16.7M boundary. Fraction-preserving law:
    * p²/K_eff = 1/32 ⇒ p = ⌈k1/√32⌉ — the candidate budget is then
    * continuous across the flip (same 1/32 of the corpus, now reached
    * through K1·K2 cells instead of 4096 frozen ones). */
  private[graft] def ivfTwoLevelProbes(k1: Int): Int =
    math.max(2, math.ceil(k1.toDouble / math.sqrt(32.0)).toInt)

  /** Max postings a single (cell, salt) join key may hold. The cell
    * equi-join's work per key is width × probes-into-the-cell, and a
    * degenerate corpus (30-50% one near-identical embedding — real
    * crawls produce this via boilerplate pages) concentrates BOTH
    * sides in one cell no centroid training can split: N/2 × N/2
    * pairs under ONE key. AQE cannot save it — skew detection reads
    * the join's INPUT partition bytes (a 30k-row cell is ~15 MB, far
    * under any skew threshold) while the explosion is in the join
    * OUTPUT. 16384² ≈ 2.7e8 pairs is a bounded task. */
  private[graft] val IvfCellWidthCap = 16384L

  /** Salt count for a cell of `width` postings: 1 under the cap,
    * ⌈width/cap⌉ past it — assigned rows spread uniformly over salts
    * (pmod of the id hash), probes replicate across all of them, so
    * results are identical and no (cell, salt) key exceeds the cap.
    * Pure, GateSpec-pinned. */
  private[graft] def ivfCellSalts(width: Long, cap: Long = IvfCellWidthCap): Long =
    if (width <= cap) 1L else (width + cap - 1L) / cap

  /** Above this width a cell is CATASTROPHIC, not merely hot: salting
    * bounds per-key work but total candidate work stays
    * Σ width × probes-into-the-cell, and a near-identical blob that owns
    * a corpus-scale share concentrates both sides — the measured blob1m
    * wall (hot cell 46,852 ≈ 48× ideal, ~6e10 pairs, a killed 2 h
    * build). 2× the salting cap: everything in (cap, 2·cap] stays on
    * the EXACT salted path; only cells salting cannot make tractable
    * are sampled. */
  private[graft] val IvfCellSampleEngage = 2L * IvfCellWidthCap

  /** Post-sample posting count a catastrophic cell thins to. A cell
    * past [[IvfCellSampleEngage]] is a region the quantizer cannot
    * split at its resolution — its members are mutual near-neighbors at
    * cell granularity, so any 2048 deterministic representatives are a
    * valid top-k candidate pool (k ≤ 32 everywhere; 64× headroom).
    * cap/8 keeps each sampled cell a single salt-free join key and
    * caps a blob query's candidate budget at probes × 2048 —
    * √N-tracking again instead of blob-share × N. */
  private[graft] val IvfCellSampleTarget = IvfCellWidthCap / 8L

  /** Thinning modulus for a cell of `width` postings: 1 (keep all)
    * under the engage threshold, ⌈width/target⌉ past it — postings
    * keep iff pmod(xxhash64(vec_id, seed), m) = 0, so the kept count
    * concentrates at ≈ target IN EXPECTATION (the keep is binomial per
    * cell — realized counts carry no hard bound; the post-thin recount
    * feeding the salt decision handles any realized overshoot). Pure,
    * GateSpec-pinned; [[ivfSampleModulusCol]] is its Column twin. */
  private[graft] def ivfSampleModulus(width: Long,
      engage: Long = IvfCellSampleEngage,
      target: Long = IvfCellSampleTarget): Long =
    if (width <= engage) 1L else (width + target - 1L) / target

  /** Seed of the posting-sampling keep-hash — deliberately distinct from
    * the salt spread's unseeded xxhash64 so kept ids are independent of
    * their eventual salt bucket. Single definition site: the production
    * dispatch in [[topKEdges]] and the spec replays both build from the
    * two Column twins below, so an edit cannot silently diverge from the
    * GateSpec-pinned scalar law. */
  private[graft] val IvfSampleSeed = 0x5A317EL

  /** Column twin of [[ivfSampleModulus]]'s engaged branch: ⌈width/target⌉
    * over a width column (callers pre-filter to width > engage). */
  private[graft] def ivfSampleModulusCol(widthCol: String,
      target: Long = IvfCellSampleTarget): Column =
    expr(s"cast(($widthCol + ${target - 1L}) div $target as long)")

  /** The seeded keep predicate of the posting sampler. */
  private[graft] def ivfSampleKeep(vecId: Column, m: Column): Column =
    pmod(xxhash64(vecId, lit(IvfSampleSeed)), m) === 0L

  /** When does the exact-duplicate collapse EARN its wrapper? A dup
    * group of g identical vectors self-joins to g² pairs in one cell;
    * the pipeline's NORMAL candidate budget is nprobe·N²/K ≈ N²/32·√N
    * pairs ≈ (N/√32)·N. The group dominates the budget only once
    * g² ≳ N²/√32·… — i.e. g past a constant FRACTION of the corpus
    * (g ≈ N/√32 ≈ 0.18 N at the flat law). Gate at maxGroup > N/8:
    * engages on boilerplate-grade duplication (a 30-50% dup share —
    * the degenerate tier) and skips the two corpus-wide value
    * shuffles + fan-back on organic corpora whose largest dup group
    * (50-member fixtures, crawl near-misses) costs square-of-small.
    * The probe that feeds it is one narrow hash aggregate
    * ([[maxDuplicateGroup]]); salting in [[topKEdges]] independently
    * covers NEAR-identical mass, which this probe cannot see. Pure,
    * GateSpec-pinned. */
  private[graft] def dupCollapseGate(maxGroup: Long, nVec: Long): Boolean =
    maxGroup > math.max(64L, nVec / 8L)

  /** Largest exact-duplicate group size, by one narrow aggregate over
    * the vector-value hash (8 B/row — never the vectors themselves).
    * Hash collisions can only overestimate, which errs toward the safe
    * (wrapped) side. */
  private[graft] def maxDuplicateGroup(en: DataFrame): Long = {
    val r = en.groupBy(xxhash64(col("v")).as("h"))
      .agg(count(lit(1)).as("g")).agg(max(col("g"))).head
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Unit-normalize a (vec_id, v, …) frame once, so every downstream
    * pair evaluation is a single native dot product instead of
    * dot + two per-pair norm recomputations — the dominant saving in
    * the nprobe·N²/K candidate stage. */
  private[graft] def normalizedVecs(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("v"))
      .withColumn("nrm", sqrt(dot_d(col("v"), col("v"))))
      .select(col("vec_id"),
        expr("transform(v, x -> x / greatest(nrm, 1e-30d))").as("v"))

  /** Same normalization for a (cid, cv) centroid relation. */
  private[graft] def normalizedCents(cents: DataFrame): DataFrame =
    cents
      .withColumn("cn", sqrt(dot_d(col("cv"), col("cv"))))
      .select(col("cid"),
        expr("transform(cv, x -> x / greatest(cn, 1e-30d))").as("cv"))

  /** ann_ivf_topk's footer-gated scale branch. Flat ⌈√N⌉-cell
    * IVF below the cap; the two-level IMI past it (⌈√N⌉ > 4096), with
    * the probe side restricted to the 5 query vectors — the corpus
    * assignment is shared with knn_graph_ivf's gate, so past the cap
    * per-probe candidates keep tracking √N instead of freezing at
    * N/4096. `en` must be unit-normalized. */
  private[graft] def annTopKScaleBranch(s: SparkSession, d: String,
      en: DataFrame, nVec: Long,
      w: org.apache.spark.sql.expressions.WindowSpec): DataFrame = {
    val (assigned, probes) =
      if (!ivfTwoLevelGate(nVec)) {
        // K literal expression subtrees would blow codegen past
        // ~hundreds of cells, so cells arrive as a broadcast relation
        // and corpus assignment is a map-side argmax PARTIAL AGGREGATE —
        // all K scored copies of a vector are task-local after the
        // broadcast join, so only one narrow (vec_id → cell) row per
        // vector reaches the exchange, never the N·K scored relation.
        // The 5 probe queries rank their cells in a 5-row window and
        // broadcast into the cell join. Unit-normalized once so the N·K
        // assignment loop is a single native dot per pair.
        val kCells = ivfCellCount(nVec).toInt
        val nprobe = math.max(4, ivfNprobe(kCells))
        val cents = broadcast(normalizedCents(scaleCentroidDf(s, d, kCells)))
        val assigned = en
          .crossJoin(cents)
          .select(col("vec_id"), col("cid"),
            dot_d(col("v"), col("cv")).as("cs"))
          .groupBy(col("vec_id"))
          .agg(max(struct(col("cs"), col("cid"))).as("best"))
          .select(col("vec_id"), col("best.cid").as("cell"))
          .join(en, Seq("vec_id"))
        val probes = en.where(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
          .crossJoin(cents)
          .select(col("query_id"), col("qv"), col("cid"),
            dot_d(col("qv"), col("cv")).as("cs"))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("query_id"))
              .orderBy(col("cs").desc, col("cid").desc)))
          .where(col("rn") <= nprobe)
          .select(col("query_id"), col("qv"), col("cid").as("cell"))
        (assigned, probes)
      } else {
        val k1 = ivfCoarseCells(nVec)
        val p1 = ivfTwoLevelProbes(k1)
        val (aN, p) = twoLevelAssignProbes(s, en, nVec, k1, k1, p1, p1,
          probeFilter = Some(col("vec_id") < 5))
        (aN.join(en, Seq("vec_id")), p)
      }
    assigned.join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              dot_d(col("qv"), col("v")).as("cos"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 10)
      .orderBy(col("query_id"), col("rk"))
  }

  /** The knn-graph scale pipeline over UNIT-NORMALIZED vectors and
    * centroids. Two deliberate departures from the fixture branch's
    * window shape, both measured at the 100k tier:
    *
    *  - cell ranking is ONE [[graft.functions.TopK.collect_top_k]]
    *    aggregate per vector (map-side complete — the broadcast join
    *    leaves all K scored copies of a vector task-local), so the
    *    exchange carries N nprobe-arrays instead of N·K scored rows, and
    *    the assignment (element 0) and probe set (full array) read the
    *    SAME aggregate instead of two window passes;
    *  - the final re-rank is a per-partition primitive top-k combiner
    *    (packed-long key + fixed-k insertion array, see the inline
    *    comment) so the nprobe·N²/K candidate pairs never reach an
    *    exchange or an interpreted aggregate.
    *
    * Ties: descending on the packed (cos, neighbor) key / (cs, cid)
    * struct, so a cos tie picks the LARGER neighbor id (the fixture
    * branch's window picks the smaller; this branch has no oracle and
    * stays deterministic either way). The centroid relation is a
    * parameter: knn_graph_ivf passes its trained scale centroids, and a
    * caller with its own cells (AnnSpec's deduped-graph check) passes
    * those. */
  private[graft] def knnGraphScale(en: DataFrame, cents: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    import graft.functions.TopK.collect_top_k
    val top = en
      .crossJoin(broadcast(cents))
      .select(col("vec_id"),
        struct(dot_d(col("v"), col("cv")).as("cs"), col("cid").as("cid")).as("sc"))
      .groupBy(col("vec_id"))
      .agg(collect_top_k(col("sc"), nprobe).as("cells"))
    val assigned = top
      .select(col("vec_id"), col("cells")(0).getField("cid").as("cell"))
    val probes = top
      .select(col("vec_id").as("query_id"), explode(col("cells")).as("c"))
      .select(col("query_id"), col("c.cid").as("cell"))
      .join(en.select(col("vec_id").as("query_id"), col("v").as("qv")),
        Seq("query_id"))
    topKEdges(assigned, probes, en, k)
  }

  /** Cell-keyed candidate join → per-query top-k edges with exact cosine,
    * shared by the single- and two-level knn-graph pipelines.
    * `assigned` = NARROW (vec_id, cell) — vectors re-attach here from
    * `en` after the eager narrow checkpoint (16 B/row at any corpus
    * size) that also feeds the width-cap planning probe, so the
    * assignment computes ONCE; `probes` = (cell, query_id, qv); `en`
    * unit-normalized. */
  private[graft] def topKEdges(assigned: DataFrame, probes: DataFrame,
      en: DataFrame, k: Int,
      sampleEngage: Long = IvfCellSampleEngage,
      sampleTarget: Long = IvfCellSampleTarget): DataFrame = {
    import graft.functions.TopK.collect_top_k
    // Final per-query top-k over the nprobe·N²/K candidate pairs — the
    // measured hot stage (287M pairs at the 100k tier). Every SQL shape
    // was A/B'd and loses: the window sorts+shuffles all pairs (~110 s);
    // CollectTopK drops the stream out of whole-stage codegen
    // (ObjectHashAggregate/SortAggregate run interpreted, 43-84 s in
    // four conf/encoding variants) — while producing the pairs costs
    // 5.3 s. So the combiner is the one place mapPartitions is the
    // right tool: (cos, neighbor) packs into ONE primitive long
    // (28-bit quantized cos | 34-bit id — ids to 1.7e10; ranking ties
    // at the 2⁻²⁷ quantum break toward the larger id), a per-partition
    // long-array insertion keeps top-k per query (map size is bounded
    // by distinct queries per partition, ≪ pair count since each query
    // contributes ~N/K pairs per probed cell), and only ≤ k rows per
    // (query, partition) reach the exchange. Exact cos re-attaches to
    // the k·N surviving edges by equi-join — the output is bit-exact
    // cosine; only the RANKING used the quantized key.
    val sess = en.sparkSession
    import sess.implicits._
    val idBits = 34
    val pkCol = (least(greatest(floor((dot_d(col("qv"), col("v")) + lit(1.0d)) *
        lit((1L << 27).toDouble)), lit(0.0d)), lit(((1L << 28) - 1).toDouble))
      .cast("long") * lit(1L << idBits) + col("vec_id")).as("pk")
    val kk = k
    // Ids must fit the 34-bit pack or the ranking key AND the extracted
    // neighbor_id silently corrupt — fail loudly instead. The check
    // rides the corpus-sized assigned relation (one predicate per
    // vector), never the nprobe·N²/K pair stream.
    // Ids must fit the pack BEFORE any pair work: the checkpoint is LAZY
    // (r13) and materializes in the planning probe's head() two lines
    // down — a plain action, still strictly before the pair stage, so a
    // bad corpus fails in the probe, and the eager flavor's dedicated
    // materialization job is gone.
    val cellsNarrow = Materialize(assigned
      .withColumn("vec_id",
        when(assert_true(
            col("vec_id") >= 0L && col("vec_id") < lit(1L << idBits),
            concat(lit(s"vec_id outside the $idBits-bit knn id pack: "),
              col("vec_id").cast("string"))).isNull,
          col("vec_id"))), eager = false)
    // Two-stage defense against hot cells, decided by one planning
    // probe (per-cell counts + a max over the narrow checkpoint —
    // never a recompute of the assignment); under the thresholds
    // everywhere the plan is untouched.
    //
    // Stage 1 — DETERMINISTIC POSTING SAMPLING for CATASTROPHIC cells
    // (width > [[IvfCellSampleEngage]]): salting alone bounds per-KEY
    // work but not TOTAL work — a near-identical blob holding 30% of
    // the corpus puts ~0.3N postings in a handful of cells that every
    // blob query probes, ~(0.3N)² candidate pairs however the keys are
    // spread (the measured 2 h wall at the blob1m tier, ~6e10 pairs).
    // A cell that wide is a region the quantizer CANNOT split at its
    // resolution, i.e. its members are mutual near-neighbors at cell
    // granularity — so any [[IvfCellSampleTarget]]-sized deterministic
    // subset of its postings is a valid candidate pool for top-k
    // (k ≪ target; the graph is approximate-by-contract on this
    // branch). Postings thin by pmod(xxhash64(vec_id, seed), m) = 0
    // with m = ⌈width/target⌉ ([[ivfSampleModulus]], GateSpec-pinned):
    // a map-side filter against a broadcast of only the over-cap
    // cells. QUERIES never thin — every vector keeps its k edges; only
    // its candidate pool within a catastrophic cell shrinks to the
    // sampled representatives.
    //
    // Stage 2 — WIDTH-CAP SALTING for moderately hot cells (width in
    // (cap, engage], or post-sample residuals): EXACT — an over-wide
    // cell splits into [[ivfCellSalts]] sub-keys: assigned rows
    // hash-spread over salts, probes into that cell replicate across
    // all of them (same pairs, so results are identical), and no single
    // join key carries a quadratic task. AQE cannot do this: its skew
    // detection reads the join's INPUT partition bytes (a 30k-row cell
    // is ~15 MB, under any threshold) while the explosion is in the
    // join OUTPUT. The salts relation holds only the over-wide cells,
    // so both attach joins broadcast.
    val cap = IvfCellWidthCap
    val counts0 = cellsNarrow.groupBy(col("cell")).agg(count(lit(1)).as("cw"))
    val maxW0 = counts0.agg(max(col("cw"))).head.getLong(0)
    val (aNarrow, counts, maxW) =
      if (maxW0 <= sampleEngage) (cellsNarrow, counts0, maxW0)
      else {
        val mods = broadcast(counts0.where(col("cw") > sampleEngage)
          .select(col("cell"),
            ivfSampleModulusCol("cw", sampleTarget).as("m")))
        // narrow (16 B/row): feeds recount + join; LAZY — the recount's
        // head() below materializes it in the same job
        val thinned = Materialize(cellsNarrow.join(mods, Seq("cell"), "left_outer")
          .where(col("m").isNull || ivfSampleKeep(col("vec_id"), col("m")))
          .drop("m"), eager = false)
        val c2 = thinned.groupBy(col("cell")).agg(count(lit(1)).as("cw"))
        (thinned, c2, c2.agg(max(col("cw"))).head.getLong(0))
      }
    val aBase = aNarrow.join(en, Seq("vec_id"))
    val (aSide, pSide, joinKeys) =
      if (maxW <= cap) (aBase, probes, Seq("cell"))
      else {
        val salts = broadcast(counts.where(col("cw") > cap)
          .select(col("cell"),
            expr(s"cast((cw + ${cap - 1L}) div $cap as int)").as("ns")))
        val aS = aBase.join(salts, Seq("cell"), "left_outer")
          .withColumn("salt",
            pmod(xxhash64(col("vec_id")), coalesce(col("ns"), lit(1)))
              .cast("int"))
          .drop("ns")
        val pS = probes.join(salts, Seq("cell"), "left_outer")
          .withColumn("salt",
            explode(sequence(lit(0), coalesce(col("ns"), lit(1)) - 1)))
          .drop("ns")
        (aS, pS, Seq("cell", "salt"))
      }
    val partial = aSide.join(pSide, joinKeys)
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), pkCol).as[(Long, Long)]
      .mapPartitions { it =>
        val m = new java.util.HashMap[java.lang.Long, Array[Long]]()
        while (it.hasNext) {
          val (q, pk) = it.next()
          var arr = m.get(q)
          if (arr == null) {
            arr = Array.fill(kk)(Long.MinValue); m.put(q, arr)
          }
          if (pk > arr(kk - 1)) {
            var j = kk - 1
            arr(j) = pk
            while (j > 0 && arr(j) > arr(j - 1)) {
              val t = arr(j - 1); arr(j - 1) = arr(j); arr(j) = t; j -= 1
            }
          }
        }
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        val entries = m.entrySet().iterator()
        while (entries.hasNext) {
          val e = entries.next()
          val q = e.getKey.longValue(); val arr = e.getValue
          var j = 0
          while (j < kk) {
            if (arr(j) != Long.MinValue) out += ((q, arr(j)))
            j += 1
          }
        }
        out.iterator
      }.toDF("query_id", "pk")
    val edges = partial.groupBy(col("query_id"))
      .agg(collect_top_k(col("pk"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "pk")))
      .select(col("query_id"),
        col("pk").bitwiseAND(lit((1L << idBits) - 1)).as("neighbor_id"),
        (col("i") + 1).cast("int").as("rk"))
    edges
      .join(en.select(col("vec_id").as("query_id"), col("v").as("qv")),
        Seq("query_id"))
      .join(en.select(col("vec_id").as("neighbor_id"), col("v")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dot_d(col("qv"), col("v")).as("cos"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Two-level product coarse quantizer (inverted multi-index) — the
    * scale path past the flat 4096-cell cap. Flat IVF with K = ⌈√N⌉
    * capped at 4096 degrades past N ≈ 16.7M vectors: cells widen as
    * N/4096 and both the assignment fan-out (N·K scored rows) and the
    * candidate count (nprobe·N²/K) stop tracking √N. The fix is the
    * IMI structure: TWO INDEPENDENT K-entry quantizers over the two
    * vector halves; cell key = (q1(v[0:d/2]), q2(v[d/2:d])), K1·K2
    * effective cells — up to 4096² ≈ 16.7M, i.e. ⌈√N⌉ reachable to
    * N ≈ 2.8·10¹⁴ — while every scoring pass is N·K1 + N·K2 rows (two
    * broadcast joins, never N·K1·K2). Independence is the load-bearing
    * property, MEASURED: the first cut used a residual codebook SHARED
    * across coarse cells, and on the 1M uniform tier the residual
    * assignment collapsed onto the coarse one — 280 of 1024 cells
    * populated, hottest cell 33× ideal, max single-cell join work
    * 2.1e9 pairs (one task, minutes) — the subspace product populates
    * the grid instead.
    *
    * Assignment per subspace: L2 argmin via
    * argmax(dot(vₕ,c) − ||c||²/2) — a narrow map-side partial
    * aggregate. Probes: multi-sequence selection — the top-(p1·p2)
    * cells of the (p1·p2)×(p1·p2) per-subspace grid ranked by COMBINED
    * score s1+s2 (a rigid top-p1 × top-p2 rectangle at the same budget
    * probes worse cells); candidates per query ≈ p1·p2·N/(K1·K2) —
    * with K1·K2 ≈ √N that is p1·p2·√N, the √N bound the flat cap
    * broke. Trainer collects stay planning-sized (K×dims ≤ 2 MB). */
  private[graft] def twoLevelAssignProbes(s: SparkSession, en: DataFrame,
      nVec: Long, k1: Int, k2: Int, p1: Int, p2: Int,
      probeFilter: Option[Column] = None): (DataFrame, DataFrame) = {
    import graft.functions.TopK.collect_top_k
    val half = dims / 2
    val eh = en.select(col("vec_id"), col("v"),
      expr(s"slice(v, 1, $half)").as("vlo"),
      expr(s"slice(v, ${half + 1}, $half)").as("vhi"))
    def codebook(sub: String, k: Int, salt: Int): DataFrame = {
      val cents = trainKmeansOn(s,
        eh.select(col("vec_id"), col(sub).as("v")), nVec, k,
        iters = 2, l2Metric = true)
      broadcast(s.createDataFrame(
          cents.map { case (cid, cv) =>
            (cid, cv.toSeq, cv.map(x => x * x).sum) }.toIndexedSeq)
        .toDF(s"cid$salt", s"cv$salt", s"n$salt"))
    }
    val c1Df = codebook("vlo", k1, 1)
    val c2Df = codebook("vhi", k2, 2)
    // per-subspace top-m cells: one narrow aggregate each (map-side
    // complete after the broadcast join). m = p1·p2 per subspace feeds
    // the multi-sequence probe selection below; element 0 of each array
    // is the assignment (the per-subspace argmax IS the global argmax of
    // s1+s2 because the subspaces are scored independently).
    def topCells(sub: String, cDf: DataFrame, i: Int, p: Int): DataFrame =
      eh.crossJoin(cDf)
        .select(col("vec_id"),
          struct((dot_d(col(sub), col(s"cv$i")) - lit(0.5) * col(s"n$i"))
            .as("s"), col(s"cid$i").as("cid")).as("sc"))
        .groupBy(col("vec_id"))
        .agg(collect_top_k(col("sc"), p).as(s"cells$i"))
    val m = p1 * p2
    val t1 = topCells("vlo", c1Df, 1, math.min(m, k1))
    val t2 = topCells("vhi", c2Df, 2, math.min(m, k2))
    val both = t1.join(t2, Seq("vec_id"))
    // NARROW (vec_id, cell) — vector re-attach is the consumer's call
    // (topKEdges checkpoints the narrow frame; ann_ivf_topk's tail
    // joins en itself)
    val assigned = both
      .select(col("vec_id"),
        (col("cells1")(0).getField("cid") * k2 +
          col("cells2")(0).getField("cid")).as("cell"))
    // Multi-sequence probe selection (Babenko & Lempitsky's IMI order):
    // probe the top-(p1·p2) cells of the grid by COMBINED score s1+s2 —
    // a rigid top-p1 × top-p2 rectangle at the same budget probes worse
    // cells. Selection is the row-local frontier walk
    // [[graft.functions.MultiSeqCells]] (bounded heap, O(m) cells
    // visited), a pure PROJECTION: the earlier explode-the-grid →
    // collect_top_k formulation shipped min(m,k1)·min(m,k2) rows per
    // vector through an aggregate — the full 4096-row grid per vector
    // at the production law (k1 = 64 at the flip, p = 12 ⇒ m = 144 >
    // k1), i.e. exactly the N·K1·K2 fan-out the IMI exists to avoid.
    // The only explode left is the m output cells per probe vector,
    // which the cell join genuinely needs as rows. `probeFilter`
    // restricts the probe side (e.g. the 5 broadcast queries of
    // ann_ivf_topk) without touching the corpus assignment.
    import graft.functions.MultiSeqCells.multi_seq_cells
    val probes = probeFilter.fold(both)(both.where)
      .select(col("vec_id").as("query_id"),
        explode(multi_seq_cells(col("cells1"), col("cells2"), k2, m)).as("cell"))
      .join(en.select(col("vec_id").as("query_id"), col("v").as("qv")),
        Seq("query_id"))
    (assigned, probes)
  }

  /** Full-corpus knn graph through the two-level index — same contract
    * as [[knnGraphScale]], for corpora past the flat cap. */
  private[graft] def knnGraphTwoLevel(s: SparkSession, en: DataFrame,
      nVec: Long, k1: Int, k2: Int, p1: Int, p2: Int, k: Int): DataFrame = {
    val (assigned, probes) = twoLevelAssignProbes(s, en, nVec, k1, k2, p1, p2)
    topKEdges(assigned, probes, en, k)
  }

  /** EXACT-DUPLICATE collapse around a corpus knn-graph build — the
    * other half of the degenerate-corpus defense (the width-cap salt in
    * [[topKEdges]] parallelizes irreducibly dense NEAR-identical cells;
    * this removes the quadratic for IDENTICAL vectors entirely). Real
    * crawls put 30-50% of documents on one boilerplate embedding; all
    * its copies land in one cell no centroid training can split, and
    * both sides of the cell join carry N/2 rows — (N/2)² pairs for
    * neighbors that are knowable without scoring a single pair (twins
    * at cos = 1). So: group by the vector VALUE (one corpus-width
    * shuffle on v — the same order of work as any assignment pass),
    * build the graph over one representative per distinct vector, then
    * fan edges back: each member's top slots fill from its k+1
    * smallest-id twins (a BOUNDED collect_top_k — never the group's
    * member list) at exact cos 1, remaining slots from its
    * representative's graph edges; re-rank is a bounded ≤(2k+1)-row
    * top-k per query. A corpus with no duplicates degenerates to
    * reps = corpus and byte-identical edges. */
  private[graft] def knnGraphDeduped(en: DataFrame, k: Int)(
      graph: DataFrame => DataFrame): DataFrame = {
    import graft.functions.TopK.collect_top_k
    val groups = en.groupBy(col("v"))
      .agg(min(col("vec_id")).as("rep"), count(lit(1)).as("gsz"))
    val members = en.join(groups, Seq("v"))
    val reps = members.where(col("vec_id") === col("rep"))
      .select(col("vec_id"), col("v"))
    val repEdges = graph(reps)
      .select(col("query_id").as("rep"), col("neighbor_id"), col("cos"))
    val mem = members.select(col("vec_id"), col("rep"))
    val twins = members.where(col("gsz") > 1L)
      .groupBy(col("rep"))
      .agg(collect_top_k(col("vec_id"), k + 1, reverse = true).as("tw"))
    val twinEdges = mem.join(twins, Seq("rep"))
      .select(col("vec_id").as("query_id"), explode(col("tw")).as("neighbor_id"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", lit(1.0d))
    val interEdges = mem.join(repEdges, Seq("rep"))
      .select(col("vec_id").as("query_id"), col("neighbor_id"), col("cos"))
    twinEdges.select(col("query_id"), col("neighbor_id"), col("cos"))
      .unionByName(interEdges)
      .groupBy(col("query_id"))
      .agg(collect_top_k(struct(col("cos"), col("neighbor_id")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("query_id"), col("e.neighbor_id").as("neighbor_id"),
        col("e.cos").as("cos"), (col("i") + 1).cast("int").as("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  private def trainCentroids(s: SparkSession,
      d: String): Seq[(Long, Array[Double])] = {
    val e = roundedVecs(s, d)
    val c0 = e.where(col("vec_id") >= 5 && col("vec_id") < 21)
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0) - 5, r.getSeq[Double](1).toArray)).toSeq
    // update step: one (cell, dim) shuffle, decimal-exact sums, means
    // re-quantized to the input scale; K×64 doubles back to the driver
    lloydAssign(e, c0)
      .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cid"), col("dim"))
      .agg(round(sum(col("x").cast("decimal(20,7)")).cast("double") / count(lit(1)), 7)
        .as("m"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toArray).toMap.toSeq.sortBy(_._1)
  }
}
