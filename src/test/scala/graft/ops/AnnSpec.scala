package graft.ops

import graft.SparkSpec
import graft.SparkEntry

/** Recall gate for the LSH ANN path against the brute-force baseline. */
class AnnSpec extends SparkSpec {

  private def topk(name: String): Map[Long, Seq[Long]] =
    SparkEntry.queries(name)(spark, sf)
      .select("query_id", "neighbor_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap

  test("sq8 ann: recall@10 vs brute force is ~lossless at 64 dims") {
    val exact = topk("ann_bruteforce_topk")
    val sq8 = topk("ann_sq8_topk")
    val recall = exact.map { case (q, ex) =>
      sq8.getOrElse(q, Seq.empty).toSet.intersect(ex.toSet).size.toDouble / ex.size
    }.sum / exact.size
    assert(recall >= 0.8, s"sq8 recall@10 $recall — 8-bit codes should barely " +
      "perturb 64-dim rankings; a drop here means the quantizer broke")
  }

  test("sq8 ann: midpoint dequantization error is bounded by half a step") {
    import org.apache.spark.sql.functions._
    // |x - dq(x)| ≤ sc/2 per element for in-range x: the property that makes
    // 8-bit codes rank-preserving. Recompute the quantizer exactly as the
    // operator does and assert the bound over every element of the corpus.
    val e = Tables.fan(spark, Tables.embeddings(spark, sf))
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val stats = e.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    val mns = typedLit(stats.map(_._2).toSeq)
    val scs = typedLit(stats.map(t => (t._3 - t._2) / 255.0).toSeq)
    val viol = e.select(posexplode(col("v")).as(Seq("i", "x")))
      .withColumn("mn", element_at(mns, (col("i") + 1).cast("int")))
      .withColumn("sc", element_at(scs, (col("i") + 1).cast("int")))
      .withColumn("dq", col("mn") +
        (least(lit(255.0), greatest(lit(0.0),
          floor((col("x") - col("mn")) / col("sc")).cast("double"))) + lit(0.5)) * col("sc"))
      // half-step plus float-rounding headroom
      .where(abs(col("x") - col("dq")) > col("sc") / 2 * 1.0000001)
      .count()
    assert(viol == 0, s"$viol elements exceed the half-step dequantization bound")
  }

  test("lsh ann: deterministic and returns ranked neighbors per query") {
    val a = topk("ann_lsh_topk")
    val b = topk("ann_lsh_topk")
    assert(a == b, "LSH signatures/buckets must be deterministic")
    assert(a.nonEmpty && a.values.forall(_.nonEmpty))
  }

  test("lsh ann: candidates rank correctly vs brute force where they overlap") {
    val exact = topk("ann_bruteforce_topk")
    val lsh = topk("ann_lsh_topk")
    // every LSH-returned neighbor's exact rank order must be consistent:
    // the intersection must appear in the same relative order as brute force
    lsh.foreach { case (q, neighbors) =>
      val exactOrder = exact.getOrElse(q, Seq.empty)
      val common = neighbors.filter(exactOrder.contains)
      val expected = exactOrder.filter(common.contains)
      assert(common == expected,
        s"query $q: LSH order $common inconsistent with exact $expected")
    }
  }

  test("lsh ann: recall@10 vs brute force is nontrivial (bucketing not degenerate)") {
    val exact = topk("ann_bruteforce_topk")
    val lsh = topk("ann_lsh_topk")
    val recalls = exact.map { case (q, ex) =>
      val got = lsh.getOrElse(q, Seq.empty).toSet
      ex.count(got.contains).toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    // random 64-dim noise + 16-bit LSH: modest recall expected, but the
    // buckets must beat the ~6% a single random 4-bit band would give
    assert(mean >= 0.1, s"mean recall@10 $mean")
  }

  test("ivf ann: deterministic, ranked, and recall@10 beats one-cell scan") {
    val a = topk("ann_ivf_topk")
    assert(a == topk("ann_ivf_topk"), "IVF centroids/cells must be deterministic")
    assert(a.nonEmpty && a.values.forall(_.nonEmpty))
    val exact = topk("ann_bruteforce_topk")
    val recalls = exact.map { case (q, ex) =>
      val got = a.getOrElse(q, Seq.empty).toSet
      ex.count(got.contains).toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    // nprobe=4 of 16 cells scans ~25% of the corpus; on near-random
    // embeddings recall tracks coverage, so require clearly above the
    // 1/16 a single cell would give
    assert(mean >= 0.15, s"mean recall@10 $mean")
  }

  test("pq ann: deterministic codes, recall floor, order consistent with exact") {
    val a = topk("ann_pq_topk")
    assert(a == topk("ann_pq_topk"), "PQ codebooks/codes must be deterministic")
    assert(a.nonEmpty && a.values.forall(_.size == 10))
    val exact = topk("ann_bruteforce_topk")
    val recalls = exact.map { case (q, ex) =>
      val got = a.getOrElse(q, Seq.empty).toSet
      ex.count(got.contains).toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    // 16 subquantizers × 16 codewords over near-orthogonal noise: a
    // candidate-generator-class ranking, same floor the eval query pins
    assert(mean >= 0.1, s"mean recall@10 $mean")
  }

  test("pq kernel: reconstruction equals the brute-force nearest-codeword choice") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rng = new scala.util.Random(7)
    val m = 4; val sub = 3; val k = 5
    val codebooks = Array.fill(m, k, sub)(rng.nextDouble() * 2 - 1)
    val norms = codebooks.map(_.map(cw => cw.map(x => x * x).sum))
    (0 until 100).foreach { _ =>
      val v = Array.fill(m * sub)(rng.nextDouble() * 2 - 1)
      val got = graft.functions.VectorOps.pqReconstructKernel(
        new GenericArrayData(v.map(x => x: Any)), codebooks, norms)
      // the kernel uses the expanded |s|²−2s·cw+|cw|² form, the brute force
      // Σ(a−b)² — near-ties can legitimately argmin differently, so assert
      // the CONTRACT: the chosen codeword's true distance is (within fp
      // noise of) the minimum, not that the ids match exactly
      (0 until m).foreach { mi =>
        val s = v.slice(mi * sub, mi * sub + sub)
        def l2(cw: Array[Double]) =
          s.zip(cw).map { case (a, b) => (a - b) * (a - b) }.sum
        val chosen = Array.tabulate(sub)(d => got.getDouble(mi * sub + d))
        val best = (0 until k).map(j => l2(codebooks(mi)(j))).min
        assert(l2(chosen) <= best + 1e-12,
          s"kernel chose a non-minimal codeword in subspace $mi")
      }
    }
  }

  test("kmeans_train: cells partition the corpus; training is deterministic") {
    val out = SparkEntry.queries("kmeans_train")(spark, sf).collect()
    val total = out.map(_.getAs[Long]("n_members")).sum
    assert(total == graft.ops.Tables.embeddings(spark, sf).count(),
      "every vector is assigned to exactly one cluster")
    assert(out.length <= 16 && out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Double]("inertia") >= 0.0)
      assert(r.getAs[Double]("centroid_norm2") > 0.0)
    }
    assert(out.toSeq == SparkEntry.queries("kmeans_train")(spark, sf).collect().toSeq,
      "training must be deterministic")
  }

  test("ivf ann: per-query candidate order consistent with brute force") {
    val exact = topk("ann_bruteforce_topk")
    val ivf = topk("ann_ivf_topk")
    ivf.foreach { case (q, neighbors) =>
      val exactOrder = exact.getOrElse(q, Seq.empty)
      val common = neighbors.filter(exactOrder.contains)
      val expected = exactOrder.filter(common.contains)
      assert(common == expected,
        s"query $q: IVF order $common inconsistent with exact $expected")
    }
  }

  test("deduped knn graph: twins at cos 1 first; identity on dup-free corpora") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 40 distinct unit-ish vectors + ids 100-139 duplicating vector 7
    // (a 41-member group — bigger than k, like a boilerplate embedding)
    def base(i: Long): Seq[Double] = {
      val r = new scala.util.Random(i)
      val raw = Seq.fill(8)(r.nextGaussian())
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    val rows = (0L until 40L).map(i => (i, base(i))) ++
      (100L until 140L).map(i => (i, base(7L)))
    val en = rows.toDF("vec_id", "v")
    val k = 3
    def graphFn(reps: org.apache.spark.sql.DataFrame) =
      AnnOps.knnGraphScale(reps,
        AnnOps.normalizedCents(
          reps.where(col("vec_id") < 4)
            .select(col("vec_id").as("cid"), col("v").as("cv"))),
        nprobe = 2, k = k)
    val out = AnnOps.knnGraphDeduped(en, k)(graphFn)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val byQ = out.groupBy(_._1)
    // every duplicate-group member's full top-k is twins at exact cos 1,
    // smallest ids first of the k+1 retained (7 < 100 < 101 < 102)
    (Seq(7L) ++ (100L until 140L)).foreach { q =>
      val es = byQ(q).sortBy(_._4)
      assert(es.length == k && es.forall(_._3 == 1.0d), s"query $q: $es")
      // twins retained per group = the k+1 SMALLEST member ids
      // {7,100,101,102}; the final top-k tie-break on (cos, id)
      // descending then keeps the LARGEST k of those ≠ q
      val expect = (Seq(7L) ++ (100L to 102L)).filter(_ != q)
        .sorted(Ordering[Long].reverse).take(k)
      assert(es.map(_._2).toSeq == expect, s"query $q twins: ${es.toSeq}")
    }
    // a dup-free corpus passes through byte-identically
    val noDup = (0L until 40L).map(i => (i, base(i))).toDF("vec_id", "v")
    val direct = graphFn(noDup).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val wrapped = AnnOps.knnGraphDeduped(noDup, k)(graphFn).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(wrapped == direct, "dup-free corpus must be unchanged by the wrapper")
  }

  test("ann_ivf_topk scale branch: both gate sides ranked, self-free, sane shape") {
    import org.apache.spark.sql.functions._
    val en = AnnOps.normalizedVecs(
      Tables.fan(spark, Tables.embeddings(spark, sf))
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").desc)
    def check(nVecForced: Long, twoLevel: Boolean): Unit = {
      assert(AnnOps.ivfTwoLevelGate(nVecForced) == twoLevel)
      val g = AnnOps.annTopKScaleBranch(spark, sf, en, nVecForced, w)
      val p = g.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!p.contains("CartesianProduct"), p)
      val nlj = """BroadcastNestedLoopJoin (\w+)""".r
        .findAllMatchIn(p).map(_.group(1)).toSet
      assert(nlj.subsetOf(Set("Cross")),
        s"scale branch degenerated to a nested loop ($nlj)")
      val rows = g.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      assert(rows.nonEmpty)
      assert(rows.forall(t => t._1 < 5 && t._1 != t._2 && t._4 <= 10),
        "probe side must be the 5 query vectors, self-free, top-10")
      rows.groupBy(_._1).foreach { case (q, es) =>
        assert(es.map(_._4).sorted.toSeq == (1 to es.length),
          s"query $q ranks not contiguous")
        assert(es.sortBy(_._4).map(_._3).toSeq
          .sliding(2).forall(s => s.length < 2 || s(0) >= s(1)),
          s"query $q cos not descending by rank")
      }
    }
    // flat ⌈√N⌉-cell side (the real corpus count sits far under the cap)
    check(nVecForced = en.count(), twoLevel = false)
    // two-level IMI side, forced past the ⌈√N⌉ > 4096 cap — the gate
    // wiring the round-10 verdict asked for, exercised end-to-end on
    // the fixture corpus with the probe side still the 5 queries
    check(nVecForced = 20000000L, twoLevel = true)
  }

  test("topKEdges posting sampling: catastrophic cell thins to kept reps, moderate cell untouched") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // cell 0: 150 near-identical vectors (one dense blob no quantizer
    // can split); cell 1: 50 organic vectors. Forced engage=100 puts
    // ONLY cell 0 past the sampling threshold.
    def vec(i: Long): Seq[Double] = {
      val r = new scala.util.Random(i)
      val raw =
        if (i < 150) Seq.tabulate(8)(j => (if (j == 0) 10.0 else 0.0) +
          1e-6 * r.nextGaussian())
        else Seq.fill(8)(r.nextGaussian())
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    val en = (0L until 200L).map(i => (i, vec(i))).toDF("vec_id", "v")
    val assigned = (0L until 200L).map(i => (i, if (i < 150) 0 else 1))
      .toDF("vec_id", "cell")
    val probes = assigned
      .select(col("vec_id").as("query_id"), col("cell"))
      .join(en.select(col("vec_id").as("query_id"), col("v").as("qv")),
        Seq("query_id"))
    val k = 3
    val (engage, target) = (100L, 20L)
    val sampledDf = AnnOps.topKEdges(assigned, probes, en, k,
      sampleEngage = engage, sampleTarget = target)
    // plan pin: the thinning must stay a map-side filter against a
    // BROADCAST of the over-cap cells — never a shuffle, never a
    // cartesian (the whole point is not adding exchanges to the path
    // whose exchanges are the problem)
    val plan = sampledDf.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"),
      "the sampling-modulus attach must broadcast")
    val out = sampledDf
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // every query — including postings the sampler dropped — keeps k edges
    val byQ = out.groupBy(_._1)
    assert(byQ.size == 200 && byQ.values.forall(_.length == k),
      s"every vector must keep $k edges (got ${byQ.size} queries)")
    // the dense cell's candidate pool is exactly the deterministic kept
    // set: m = ceil(150/20) = 8, keep iff the seeded hash mod m is 0 —
    // the test replays the production expression
    val m = AnnOps.ivfSampleModulus(150L, engage, target)
    assert(m == 8L)
    val kept = spark.range(150).toDF("id")
      .where(AnnOps.ivfSampleKeep(col("id"), lit(m)))
      .collect().map(_.getLong(0)).toSet
    assert(kept.size > k, s"kept set must exceed k (got ${kept.size})")
    (0L until 150L).foreach { q =>
      val ns = byQ(q).map(_._2).toSet
      assert(ns.subsetOf(kept - q),
        s"query $q neighbors $ns outside the kept reps ${kept - q}")
      assert(byQ(q).forall(_._3 > 0.999), s"query $q: co-blob cos must be ~1")
    }
    // the moderate cell (50 ≤ engage) is byte-identical to the
    // unsampled run — sampling must never touch the exact band
    val base = AnnOps.topKEdges(assigned, probes, en, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .filter(_._1 >= 150L).toSet
    val sampledSide = out.map(t => (t._1, t._2, t._4))
      .filter(_._1 >= 150L).toSet
    assert(sampledSide == base,
      "organic cell edges must be identical with and without the sampler")
  }
}
