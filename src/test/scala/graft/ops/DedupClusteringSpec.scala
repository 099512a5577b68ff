package graft.ops

import graft.SparkSpec
import graft.operators.DedupClustering

/** Both execution paths of the clustering operator must agree — the
  * threshold is a performance knob, never a semantics knob. */
class DedupClusteringSpec extends SparkSpec {

  test("union-find and distributed label propagation produce identical components") {
    import spark.implicits._
    // chain 1-2-3, pair 10-11, triangle 20-21-22 (+cross edge), singleton-free
    val pairs = Seq(
      (1L, 2L), (2L, 3L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)
    ).toDF("d1", "d2")
    val local = DedupClustering.connectedComponents(pairs, smallGraphThreshold = Long.MaxValue)
      .as[(Long, Long)].collect().toMap
    val dist = DedupClustering.connectedComponents(pairs, smallGraphThreshold = 0)
      .as[(Long, Long)].collect().toMap
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L)
    assert(local == expect)
    assert(dist == expect)
  }

  test("star contraction handles a long chain in O(log n) rounds (diameter-independent)") {
    import spark.implicits._
    // a 200-edge chain is the worst case for min-label propagation
    // (rounds = diameter = 200); star contraction must converge fast AND
    // produce exactly the union-find answer — and release each round
    // once the next is materialized, so the result pins only the last
    val n = 200
    val pairs = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("d1", "d2")
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    val dist = DedupClustering.connectedComponents(pairs, 0)
      .as[(Long, Long)].collect().toMap
    val left = persisted -- before
    assert(left.size <= 1, s"star contraction left persisted RDDs $left")
    val local = DedupClustering.connectedComponents(pairs, Long.MaxValue)
      .as[(Long, Long)].collect().toMap
    val expect = (0L to n.toLong).map(i => i -> 0L).toMap
    assert(local == expect)
    assert(dist == expect)
  }

  test("star contraction: two chains + hub component, threshold 0") {
    import spark.implicits._
    // hub 50 connected to 60..70, chain 100..110, isolated pair (7, 9)
    val pairs = ((60L to 70L).map(v => (50L, v)) ++
      (100L until 110L).map(i => (i, i + 1)) ++ Seq((7L, 9L))).toDF("d1", "d2")
    val local = DedupClustering.connectedComponents(pairs, Long.MaxValue)
      .as[(Long, Long)].collect().toMap
    val dist = DedupClustering.connectedComponents(pairs, 0)
      .as[(Long, Long)].collect().toMap
    assert(local == dist)
    assert(dist(70L) == 50L && dist(110L) == 100L && dist(9L) == 7L)
  }

  test("paths agree on the real jaccard pair graph (sf0.001)") {
    import spark.implicits._
    val pairs = graft.SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
      .select("d1", "d2")
    val local = DedupClustering.connectedComponents(pairs, Long.MaxValue)
      .as[(Long, Long)].collect().toMap
    val dist = DedupClustering.connectedComponents(pairs, 0)
      .as[(Long, Long)].collect().toMap
    assert(local == dist)
  }
}
