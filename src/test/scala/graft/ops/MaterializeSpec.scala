package graft.ops

import org.apache.spark.sql.{Row, SparkSession}

import graft.{Bench, SparkSpec}

/** [[Materialize]]'s release rule: a runner's query scope leaves no
  * persisted RDD behind, memo frames outlive it, and a body that throws
  * still releases. Each query runs on a fresh `newSession()`, so its memo
  * entries are computed here and not hit from an earlier suite. */
class MaterializeSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def run(s: SparkSession, name: String): Seq[Row] = {
    var rows = Seq.empty[Row]
    assert(Bench.timeQuery(s, sf, name)(df => rows = df.collect().toSeq).isDefined,
      s"$name failed")
    rows
  }

  // Compares the set added by the query, not the whole set: driver GC
  // may unpersist an earlier suite's unreachable frame mid-query.
  for (name <- Seq("dedup_minhash_lsh", "dedup_agreement_matrix",
      "curation_quality_ensemble", "dedup_semantic", "ann_range_exact",
      "ann_recall_eval"))
    test(s"$name: the runner's scope releases every frame the query materialized") {
      val before = persisted
      run(spark.newSession(), name)
      val added = persisted -- before
      assert(added.isEmpty, s"$name left persisted RDDs $added")
    }

  test("graph_pagerank and q33_recursive_cte keep exactly their memo frames") {
    for ((name, memoFrames) <- Seq("graph_pagerank" -> 1, "q33_recursive_cte" -> 2)) {
      val s = spark.newSession()
      val before = persisted
      val first = run(s, name)
      val afterFirst = persisted
      assert((afterFirst -- before).size == memoFrames,
        s"$name: first run added ${afterFirst -- before}")
      val second = run(s, name)
      assert((persisted -- afterFirst).isEmpty,
        s"$name: a memo hit added ${persisted -- afterFirst}")
      assert(first == second, s"$name: rows changed on the memo hit")
    }
  }

  test("a body that throws inside scoped still releases") {
    val before = persisted
    val e = intercept[IllegalStateException] {
      Materialize.scoped {
        Materialize(spark.range(100).toDF("id"), eager = true)
        assert((persisted -- before).size == 1)
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert((persisted -- before).isEmpty)
  }
}
