package graft.ops

import graft.{SparkEntry, SparkSpec}

/** Physical-plan quality gates: the properties that make these operators
  * survive a 100× scale-up must be visible in the plan, not assumed —
  * pushdown reaching the parquet scan, column pruning, broadcast joins for
  * dimension tables, TakeOrdered for top-k, partial aggregation.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q1_agg: filter pushed to parquet, columns pruned, partial agg before shuffle") {
    val p = planOf("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(!p.contains("l_orderkey"), "unused columns must be pruned:\n" + p)
    assert(p.contains("partial_sum"), p)
  }

  test("q6_star_join: dimension tables broadcast, no shuffle join") {
    val p = planOf("q6_star_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q5_join_agg_topk: customer side broadcast; fact tables filtered at scan") {
    val p = planOf("q5_join_agg_topk")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThan(l_shipdate"), "lineitem date filter must reach the scan:\n" + p)
  }

  test("q12_topk: TakeOrderedAndProject, not a global sort") {
    val p = planOf("q12_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("s2_partition_scan: planner range predicates reach the parquet scan") {
    val p = planOf("s2_partition_scan")
    assert(p.contains("GreaterThanOrEqual(l_orderkey"), p)
    assert(p.contains("PushedFilters"), p)
  }

  test("q7_semi_join / q8_anti_join plan as semi/anti joins") {
    assert(planOf("q7_semi_join").contains("LeftSemi"), planOf("q7_semi_join"))
    assert(planOf("q8_anti_join").contains("LeftAnti"), planOf("q8_anti_join"))
  }

  test("range_join_events: bucketed equi-join, never a nested-loop join") {
    val p = planOf("range_join_events")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range join must not degenerate to a nested loop:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join") && p.contains("bucket"), p)
  }

  test("asof_join_events: one window sort, no join operator at all") {
    val p = planOf("asof_join_events")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), "as-of must be union+window, not a join:\n" + p)
    // both sides' filters reach the parquet scan
    assert(p.contains("EqualTo(event_type,purchase)"), p)
    assert(p.contains("EqualTo(event_type,click)"), p)
  }

  test("ann_ivf_topk: cell assignment is a projection (no join before the probe join)") {
    val p = planOf("ann_ivf_topk")
    // exactly one join: candidates = corpus ⋈ broadcast(probes) on cell.
    // Formatted plans list each node twice (tree + details) — count tree
    // entries, which carry the trailing "(id)".
    val joins = """HashJoin \w+ Build\w+ \(\d+\)""".r.findAllIn(p).size
    assert(joins == 1, s"expected exactly one hash join, got $joins:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "probe side must broadcast:\n" + p)
  }

  test("p5_window_rowcounts: single scan of events, no per-window union of scans") {
    val p = planOf("p5_window_rowcounts")
    val scans = """Scan parquet\s+\(\d+\)""".r.findAllIn(p).size
    assert(scans == 1, s"expected one events scan, got $scans:\n" + p)
  }

  test("whole-stage codegen is active in the scalar pipeline") {
    val df = SparkEntry.queries("text_quality_score")(spark, sf)
    df.collect() // materialize THIS plan so AQE finalizes it (count() would build its own)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), "no WholeStageCodegen spans in:\n" + p)
  }

  test("q21_correlated_subquery: decorrelated into a join, no per-row subquery") {
    val p = planOf("q21_correlated_subquery")
    assert(p.contains("Join"), "Catalyst must rewrite the correlated subquery to a join:\n" + p)
    assert(!p.contains("ScalarSubquery"), "no per-row subquery execution:\n" + p)
  }

  test("q20_unpivot: generate-based melt, no union of three scans") {
    val p = planOf("q20_unpivot")
    val scans = """Scan parquet\s+\(\d+\)""".r.findAllIn(p).size
    assert(scans == 1, s"expected one lineitem scan, got $scans:\n" + p)
  }

  test("split_assign: routing is a pruned-scan projection, partial agg before one shuffle") {
    val p = planOf("split_assign")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      "text column must be pruned from the routing scan:\n" + p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Join"), p)
  }

  test("text_repetition: single documents scan, no self-join of aggregates") {
    val p = planOf("text_repetition")
    val scans = """Scan parquet\s+\(\d+\)""".r.findAllIn(p).size
    assert(scans == 1, s"expected one documents scan, got $scans:\n" + p)
    assert(!p.contains("Join"), "per-doc stats must ride the explode, not join back:\n" + p)
  }

  test("pack_sequences_twophase: two-phase prefix sum — no per-source serial window") {
    // pack_sequences itself is hybrid (single window below the row
    // threshold); the forced-two-phase sibling pins the scale shape.
    val p = planOf("pack_sequences_twophase")
    val norm = p.replaceAll("#\\d+L?", "")
    // exactly two windows: the exclusive-offset scan over the tiny
    // per-(source, chunk) subtotal frame, and the intra-chunk running sum —
    // NEVER a corpus-sized window partitioned by source alone (that
    // serializes each source's entire prefix sum onto one task)
    val windows = """Window\s+\(\d+\)""".r.findAllIn(p).size
    assert(windows == 2, s"expected two windows (offsets + intra-chunk), got $windows:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "chunk offsets must broadcast back to the corpus side:\n" + p)
    // the corpus-side running sum is keyed on (source, chunk): parallelism
    // scales with chunk count, not with the number of sources
    assert(norm.contains("windowspecdefinition(source, chunk, doc_id ASC"),
      "intra-chunk window must be partitioned by (source, chunk):\n" + p)
    assert(norm.contains("windowspecdefinition(source, chunk ASC"),
      "offset window must order the subtotal frame by chunk within source:\n" + p)
  }

  test("q25_percentile_disc: both windows share one hash exchange; 4-column scan") {
    val p = planOf("q25_percentile_disc")
    // row_number and the per-group count partition identically — a second
    // hash exchange would mean the window partitioning was not reused
    val hashEx = """hashpartitioning\(l_returnflag""".r.findAllIn(p).size
    assert(hashEx >= 1, p)
    val exchanges = """Exchange\s+\(\d+\)""".r.findAllIn(p).size
    assert(exchanges <= 3,
      s"expected ≤3 exchanges (window hash, agg, order), got $exchanges:\n" + p)
    assert(!p.contains("l_shipdate"), "unused columns must be pruned:\n" + p)
  }

  test("q26_string_agg: dimension join broadcasts") {
    val p = planOf("q26_string_agg")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q24_latest_snapshot / q28_forward_fill: one window pass each") {
    Seq("q24_latest_snapshot", "q28_forward_fill").foreach { q =>
      val p = planOf(q)
      val windows = """Window\s+\(\d+\)""".r.findAllIn(p).size
      assert(windows == 1, s"$q expected one window, got $windows:\n" + p)
      assert(!p.contains("Join"), s"$q must not plan a join:\n" + p)
    }
  }

  test("ann_sq8_topk: encode/score is a projection — no shuffle before the probe join") {
    val p = planOf("ann_sq8_topk")
    // corpus side: scan → project(quantize+score) → broadcast probe join →
    // window top-k. A SortMergeJoin or aggregate before the join would mean
    // the quantizer was recomputed distributively instead of baked in.
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("dedup_substring_span: inverted-index equi-join, never a nested loop") {
    val p = planOf("dedup_substring_span")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Generate"), "window extraction must be an explode:\n" + p)
  }

  test("text_char_entropy: two aggregates, no join back to the documents scan") {
    val p = planOf("text_char_entropy")
    assert(!p.contains("Join"), "entropy must not join doc totals back:\n" + p)
  }

  test("corpus_mix_sample: the mix is a projection — no join, partial agg first") {
    val p = planOf("corpus_mix_sample")
    assert(!p.contains("Join"), "mix decision must not join rates back:\n" + p)
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "audit aggregate must combine map-side:\n" + p)
  }

  test("q31_interval_range_frame: one window pass, filters stay off the scan path") {
    val p = planOf("q31_interval_range_frame")
    val windows = """Window\s+\(\d+\)""".r.findAllIn(p).size
    assert(windows == 1, s"expected one window, got $windows:\n" + p)
    assert(!p.contains("Join"), p)
  }

  test("q32_lateral_topn: decorrelated to joins, never a per-row nested loop") {
    val p = planOf("q32_lateral_topn")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), "lateral must decorrelate into a join:\n" + p)
  }

  test("f_stats_funcs: one aggregate pass computes every moment sum") {
    val p = planOf("f_stats_funcs")
    // six decimal sums + two built-ins must ride ONE grouped aggregate
    // (partial + final), not one scan per statistic
    // tree lines read "Scan parquet  (N)"; the details section repeats the
    // operator as "(N) Scan parquet" — count tree nodes only
    val scans = """Scan parquet\s+\(\d+\)""".r.findAllIn(p).size
    assert(scans == 1, s"expected a single lineitem scan, got $scans:\n" + p)
    assert(!p.contains("Join"), p)
  }

  test("text_repetition (zero-shuffle): stats are a projection — no aggregate, no join") {
    val p = planOf("text_repetition")
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"),
      "per-doc stats must be a native-expression projection, not a groupBy:\n" + p)
    assert(p.contains("TakeOrderedAndProject"),
      "ordered LIMIT must be a top-k, not a global sort:\n" + p)
  }

  test("decontam_ngram_overlap: eval grams broadcast into a semi join") {
    val p = planOf("decontam_ngram_overlap")
    assert(p.contains("BroadcastHashJoin LeftSemi"),
      "the tiny eval-gram side must broadcast — a shuffled gram join " +
        "moves the whole corpus's grams at scale:\n" + p)
  }

  test("global_shuffle: top-k before numbering; corpus never single-partitions") {
    val p = planOf("global_shuffle")
    assert(!p.contains("Join"), p)
    assert(p.contains("TakeOrderedAndProject"),
      "the prefix must come from a top-k, not a global sort:\n" + p)
    // the formatted tree prints root-first, so the Window (numbering) being
    // an ANCESTOR of the top-k — i.e. applied to its bounded output, not to
    // the corpus — means its line appears before TakeOrderedAndProject's
    assert(p.indexOf("Window") >= 0 &&
           p.indexOf("Window") < p.indexOf("TakeOrderedAndProject"),
      "numbering must apply to the bounded top-k output, not the corpus:\n" + p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      "text column must be pruned from the shuffle scan:\n" + p)
  }

  test("dedup_semantic: pair generation is an equi-join on the cell, never all-pairs") {
    val p = planOf("dedup_semantic")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop allowed is the K=8 broadcast centroid
    // assignment (a Cross with a constant-size build side); the
    // candidate-pair join must be a partitionable equi-join
    val nljTypes = """BroadcastNestedLoopJoin (\w+)""".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(nljTypes.subsetOf(Set("Cross")),
      s"pair join degenerated to a nested loop ($nljTypes):\n" + p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
           p.contains("BroadcastHashJoin"),
      "cell-equi pair join expected:\n" + p)
  }

  test("dedup_minhash_lsh: candidates from band-bucket equi-joins, never all-pairs") {
    val p = planOf("dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
           p.contains("BroadcastHashJoin"),
      "band-bucket candidate join expected:\n" + p)
  }

  test("text_perplexity_ngram: LM joins stay equi-keyed, no corpus nested loop") {
    val p = planOf("text_perplexity_ngram")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested loop allowed is a broadcast of a tiny/scalar frame
    val nljTypes = """BroadcastNestedLoopJoin (\w+)""".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(nljTypes.subsetOf(Set("Cross")),
      s"bigram scoring degenerated to a nested loop ($nljTypes):\n" + p)
  }

  test("dsir_importance: LM scoring joins equi-keyed, no hint on the vocab join") {
    // the scoring join (tf ⋈ lm on word) must stay an unhinted equi-join —
    // a web corpus vocabulary is not broadcastable; the only nested loops
    // allowed are the broadcast scalar total frames
    val p = planOf("dsir_importance")
    assert(!p.contains("CartesianProduct"), p)
    val nljTypes = """BroadcastNestedLoopJoin (\w+)""".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(nljTypes.subsetOf(Set("Cross")),
      s"LM scoring degenerated to a nested loop ($nljTypes):\n" + p)
    // proof there is no hint: with auto-broadcast off, the word joins
    // must all fall back to shuffle joins
    val k = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(k)
    spark.conf.set(k, "-1")
    try {
      val pf = planOf("dsir_importance")
      assert(!pf.contains("BroadcastHashJoin"),
        "vocab-keyed joins must not carry broadcast hints:\n" + pf)
      assert(pf.contains("SortMergeJoin"),
        "scoring join must fall back to a shuffle join when broadcast is off:\n" + pf)
    } finally spark.conf.set(k, prev)
  }

  test("cluster_stratified_sample: assignment is a projection — no join, one window") {
    // trained centroids enter as literals (broadcast-by-construction), so
    // the nearest-centroid assignment must plan as a pure projection; the
    // draw is exactly one per-cluster window over the hash order
    val p = planOf("cluster_stratified_sample")
    assert(!p.contains("Join"),
      "centroid assignment must be a literal-centroid projection, not a join:\n" + p)
    val windows = """Window\s+\(\d+\)""".r.findAllIn(p).size
    assert(windows == 1, s"expected exactly one per-cluster window, got $windows:\n" + p)
  }

  test("dedup_levenshtein: candidates from the head-block equi-join only") {
    val p = planOf("dedup_levenshtein")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "blocking must make the candidate join an equi-join:\n" + p)
  }

  test("q34_resample_interpolate: as-of passes are window sorts, no inequality join") {
    val p = planOf("q34_resample_interpolate")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val windows = """Window\s+\(\d+\)""".r.findAllIn(p).size
    assert(windows >= 2, s"expected two as-of window passes, got $windows:\n" + p)
  }

  test("vocab_coverage: vocab cut is a top-k; the audit joins a broadcast vocab") {
    val p = planOf("vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      "the vocabulary cut must be a top-k, not a global sort:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the OOV audit must broadcast the vocabulary:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "corpus tokens must never shuffle on the word key for the audit:\n" + p)
  }

  test("dedup_incremental: asymmetric inverted-index equi-join, never all-pairs") {
    val p = planOf("dedup_incremental")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("PushedFilters"),
      "the old/new watermark split must reach the scans:\n" + p)
  }

  test("ann_pq_topk: encoding is a projection — only the probe join in the plan") {
    val p = planOf("ann_pq_topk")
    // corpus side: scan → project(256 native sub-dots + argmin + rebuild)
    // → broadcast probe join → window top-k; no aggregate or shuffle
    // before the join would mean codebooks were recomputed distributively
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("kmeans_train: assignment is a literal-centroid projection, no corpus join") {
    val p = planOf("kmeans_train")
    // the only join is the K-row broadcast of centroid norms onto the
    // K-row result; the corpus-side assignment must be a pure projection
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q33_recursive_cte plans as an iterative union loop") {
    val p = planOf("q33_recursive_cte")
    assert(p.contains("UnionLoop") || p.contains("CTERelation") || p.contains("Recursion"),
      "recursive CTE must plan as the iterative fixpoint operator:\n" + p)
  }

  test("profile_columns: per-column two-level aggregates, no Expand") {
    // Round 8 REVERSED this pin. The old shape (six countDistincts in one
    // aggregate over a single scan) planned as Expand — one scan replica
    // per distinct group, 7× the corpus through one widened hash agg —
    // and measured 9× slower than this shape once noop-driven timing
    // stopped letting Catalyst prune the unused aggregates. The right
    // plan is one PRUNED scan per column feeding a groupBy(value) partial
    // agg (shuffles only distinct values after map-side combine), then a
    // 1-row rollup per column, union of six 1-row frames.
    val p = planOf("profile_columns")
    assert(!p.contains("Expand"),
      "multi-countDistinct Expand is the measured 9× anti-shape here:\n" + p)
    // each branch's scan must read ONLY its column
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint>"),
      "per-column branches must prune to their single column:\n" + p)
  }

  test("f_histogram: bucket projection at the scan, partial agg, 2-column read") {
    val p = planOf("f_histogram")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(p.contains("ReadSchema: struct<l_extendedprice:double>"),
      "histogram must scan only the bucketed column:\n" + p)
  }

  test("anomaly_mad: median/MAD frames broadcast back over the stream") {
    val p = planOf("anomaly_mad")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "group-stat joins must broadcast (stats are group-grained):\n" + p)
  }

  test("tfidf_topterms: footer-gated hybrid — dictionary broadcast fires on a small corpus") {
    // The hybrid's planning-time gate (parquet-footer row count ≤ 50k
    // docs) must HINT the dictionary broadcast before the term exchange
    // is ever planned — AQE can only demote that exchange after tf's
    // shuffle write is already paid. Proof the gate hinted (and not the
    // size estimator): the broadcast survives autoBroadcastJoinThreshold
    // = -1, which kills every size-based broadcast.
    val k = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(k)
    spark.conf.set(k, "-1")
    try {
      val p = planOf("tfidf_topterms")
      assert(p.contains("BroadcastHashJoin"),
        "footer gate must hint the dictionary broadcast on a small corpus:\n" + p)
    } finally spark.conf.set(k, prev)
  }

  test("tfidf_topterms_shuffle: the scale path carries no broadcast hint") {
    // A web corpus's vocabulary is 10⁸-10⁹ distinct terms — a HINT-forced
    // broadcast of the df table OOMs the driver at scale regardless of
    // measured size. The forced-shuffle sibling IS the gate's large-vocab
    // branch, so its plan must hold the scale shape: with auto-broadcast
    // disabled the term join reverts to SortMergeJoin — a hinted join
    // would stay broadcast.
    val k = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(k)
    spark.conf.set(k, "-1")
    try {
      val p = planOf("tfidf_topterms_shuffle")
      assert(p.contains("SortMergeJoin"),
        "term join must fall back to a shuffle join when broadcast is off:\n" + p)
      assert(!p.contains("BroadcastHashJoin"),
        "scale branch must not carry a broadcast hint (vocab-sized at scale):\n" + p)
    } finally spark.conf.set(k, prev)
  }

  test("dedup_ngram_jaccard_capped: capped index still an equi-join, never all-pairs") {
    // capBuckets prunes degenerate gram buckets BEFORE the self-join; the
    // resulting candidate join must stay equi-keyed on the gram hash — the
    // cap changes which rows enter the join, never the join's shape
    val p = planOf("dedup_ngram_jaccard_capped")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "capped candidate generation must stay an equi-join:\n" + p)
  }

  test("ann_range_trained: trained-centroid index keeps the pruned-scan shape") {
    // same contract as ann_range_exact — swapping trainer output for the
    // stand-in centroids must not change the plan family: probe-cell list
    // broadcast onto the cell-keyed assignment, zero corpus×probes loop
    val p = planOf("ann_range_trained")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      "probe-cell list must broadcast onto the cell-keyed assignment:\n" + p)
  }

  test("Tables.fan: no-op on pre-split input — no inherited corpus exchange") {
    // production plans over splittable multi-file input must not inherit
    // fan's stand-in repartition; the probe is the planned scan's actual
    // partition count
    val dir = java.nio.file.Files.createTempDirectory("graft-fan").toString
    val target = spark.conf.get("spark.sql.shuffle.partitions").toInt
    spark.read.parquet(s"$sf/documents.parquet")
      .repartition(target * 2).write.mode("overwrite").parquet(s"$dir/docs")
    val presplit = spark.read.parquet(s"$dir/docs")
    assert(presplit.rdd.getNumPartitions >= target, "fixture must be pre-split")
    assert(graft.ops.Tables.plannedScanPartitions(spark, presplit) ==
      Some(presplit.rdd.getNumPartitions), "planned count must be the scan's")
    val fanned = graft.ops.Tables.fan(spark, presplit)
    val p = fanned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"),
      "fan must be a no-op when the scan is already parallel:\n" + p)
    // and the single-file fixture path still fans out
    val single = spark.read.parquet(s"$sf/documents.parquet")
    assert(single.rdd.getNumPartitions < target)
    assert(graft.ops.Tables.fan(spark, single).rdd.getNumPartitions == target)
  }

  test("dedup_embedding_cosine: cell-pruned candidates, zero cartesian pair join") {
    // The pair generator must be an equi-join on the cell key (triangle-
    // inequality-pruned compatible cell pairs), never the old all-pairs
    // vec_id < vec_id inequality join, which is a CartesianProduct /
    // corpus-sized nested loop under the hood. The only nested-loop the
    // plan may carry is the 8-row broadcast centroid expansion.
    val p = planOf("dedup_embedding_cosine")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "corpus pair join must shuffle on the cell key:\n" + p)
    // the trained-centroid flavor must keep the identical plan family
    val pt = planOf("dedup_embedding_cosine_trained")
    assert(!pt.contains("CartesianProduct"), pt)
    assert(pt.contains("SortMergeJoin") || pt.contains("ShuffledHashJoin"),
      "trained flavor must keep the cell-keyed pair join:\n" + pt)
  }

  test("ann_range_exact: probe-cell pruned scan, zero cartesian, top-k-free") {
    // the corpus side must reach the probes through the broadcast
    // probe-cell equi-join — never a corpus×probes nested loop
    val p = planOf("ann_range_exact")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      "probe-cell list must broadcast onto the cell-keyed assignment:\n" + p)
  }

  test("sample_weighted_topn: TakeOrdered prefix, no global sort of the key frame") {
    val p = planOf("sample_weighted_topn")
    assert(p.contains("TakeOrderedAndProject"),
      "bottom-n keys must be a TakeOrdered prefix:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("quality_classifier_filter: features and score in one codegen span, map-side partial agg") {
    val p = planOf("quality_classifier_filter")
    assert(p.contains("partial_count"), "audit must combine map-side:\n" + p)
    assert(!p.contains("Join"), "a classifier gate is a projection, never a join:\n" + p)
    val exchanges = """Exchange\s+\(\d+\)""".r.findAllIn(p).size
    assert(exchanges <= 3, // fan + one agg shuffle + output sort
      s"expected fan + one source-grained aggregation exchange + sort, got $exchanges:\n" + p)
  }

  test("chunk_documents: scalar chunk audit — no chunk shuffle, no aggregate") {
    // the per-doc audit rides higher-order functions at the scan; an
    // explode→groupBy shape would reshuffle 1.2× the corpus text
    val p = planOf("chunk_documents")
    assert(!p.contains("HashAggregate") && !p.contains("Generate"),
      "chunk audit must be a scalar projection, not explode+aggregate:\n" + p)
    // tree-node form only — formatted explain prints each node twice
    // (tree line + detail header), same caveat as the scan-count test
    val exchanges = """Exchange\s+\(\d+\)""".r.findAllIn(p).size
    assert(exchanges <= 2, // fan round-robin + output-sized sort only
      s"expected no data exchange beyond fan + final sort, got $exchanges:\n" + p)
  }

  test("cdc_upsert_merge: one outer join applies the delta, no nested loop") {
    val p = planOf("cdc_upsert_merge")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("events_funnel / retention_cohort: stage joins are equi-joins on user_id") {
    Seq("events_funnel", "retention_cohort").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must join on the user key, never a nested loop:\n" + p)
    }
  }

  test("graph_pagerank: rank joins are equi-joins; no per-iteration nested loop") {
    val p = planOf("graph_pagerank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bpe_encode: encode is a pure projection at the scan — merge list " +
      "interpolated as literals, no explode, no aggregate shuffle") {
    val p = planOf("bpe_encode")
    assert(!p.contains("Generate"),
      "per-word work must run as higher-order functions over the word " +
        "array, never an explode:\n" + p)
    assert(!p.contains("HashAggregate"),
      "the returned plan is projection + top-k only (merge learning runs " +
        "once at construction, memoized):\n" + p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("curation_pipeline: mix/split/audit phase plans over the checkpointed " +
      "flags artifact — zero corpus scans, broadcast rates, no shuffle join") {
    val p = planOf("curation_pipeline")
    // after the dedup stage boundary, NOTHING may re-read the corpus: the
    // per-doc flags artifact (doc_id, source, keep_q, keep_d) is the only
    // input to the temperature-mix / split / audit phase
    assert(!p.contains("Scan parquet"),
      "final phase must plan over the checkpointed flags artifact, " +
        "never re-scan the corpus:\n" + p)
    assert(p.contains("Scan ExistingRDD"), "expected the checkpoint leaf:\n" + p)
    // the per-source rates frame is domain-grained → broadcast, and the
    // only nested-loop is the 1-row n_min frame riding the rate build
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      "flags ⨝ rates must broadcast the bounded rates side:\n" + p)
  }

  test("curation_pipeline_subdoc: same stage-boundary contract with the rewrite upstream") {
    val p = planOf("curation_pipeline_subdoc")
    // the sub-document rewrite runs BEFORE the checkpoint; downstream the
    // contract is identical — no corpus (or rewritten-corpus) re-scan
    assert(!p.contains("Scan parquet"),
      "final phase must plan over the checkpointed flags artifact:\n" + p)
    assert(p.contains("Scan ExistingRDD"), "expected the checkpoint leaf:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      "flags ⨝ rates must broadcast the bounded rates side:\n" + p)
  }

  test("dedup_paragraph_global: digest-keyed window, no join, text never shuffled") {
    val p = planOf("dedup_paragraph_global")
    // corpus-wide first-occurrence = ONE window over xxhash64(block) plus
    // the per-doc rollup — any join here would mean a second corpus pass
    assert(!p.contains("Join"),
      "segment dedup must be window + rollup, never a join:\n" + p)
    // the exchange key is the 8-byte digest: block TEXT must be projected
    // away before the shuffle (only hash/owner/index/length move)
    assert(p.contains("xxhash64"), p)
  }

  test("dedup_paragraph_rewrite: rewrite is window + rollup, still no join") {
    // the transform flavor ships block text through the first-occurrence
    // window (inherent to a rewrite) but must not add a join or second
    // corpus pass on top
    val p = planOf("dedup_paragraph_rewrite")
    assert(!p.contains("Join"),
      "corpus rewrite must stay window + rollup:\n" + p)
  }

  test("curation_pipeline_subdoc: rewrite materialized once, chain plans over the artifact") {
    // the subdoc flavor's rewrite is a computed corpus consumed by THREE
    // downstream passes (classifier, LSH candidates, exact verify);
    // without the stage-boundary checkpoint each pass re-runs the block
    // window + reassembly (measured 1.5× the base chain at 1.3M docs).
    // Fused shape: the rewrite's WindowExec sits BEHIND the checkpoint,
    // so the pipeline's own plan contains no window over block digests —
    // it scans the materialized artifact instead.
    val p = planOf("curation_pipeline_subdoc")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      "chain must read the checkpointed rewrite artifact:\n" + p)
    assert(!p.contains("xxhash64(btext"),
      "block-digest window must not be re-planned downstream:\n" + p)
  }

  test("dedup_paragraph_gated: organic fixture keeps the window plan (gate off)") {
    val p = planOf("dedup_paragraph_gated")
    // at fixture scale the probe must not flip: same single-shuffle
    // window shape as dedup_paragraph_global, no join
    assert(p.contains("Window"), "fixture-scale gated plan must be the window flavor:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "fixture-scale gated plan must not join:\n" + p)
  }

  test("dedup_paragraph_skewsafe: aggregate+join, no WindowExec (hot-digest remedy shape)") {
    val p = planOf("dedup_paragraph_skewsafe")
    // the skew-safe flavor must NOT plan a window: a partition-by-digest
    // WindowExec buffers a hot digest's whole slice in one task with no
    // remedy; the aggregate collapses hot digests map-side and the join
    // back is an equi-join AQE skew-split can act on
    assert(!p.contains("Window"),
      "skew-safe flavor must not plan a window:\n" + p)
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      "first-occurrence must partial-aggregate map-side:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join"), "digest join-back must be an equi-join:\n" + p)
  }

  test("partitioned_write_pruning: source filter prunes partitions at planning") {
    val p = planOf("partitioned_write_pruning")
    assert(p.contains("PartitionFilters"),
      "source filter must resolve against partition directories:\n" + p)
    assert(p.contains("src7"),
      "the literal partition value must appear in PartitionFilters:\n" + p)
    // the partition column never becomes a row-level Filter over data
    assert(!p.contains("PushedFilters: [IsNotNull(source)"),
      "source must prune at the path level, not the row level:\n" + p)
  }

  test("bucketed_join_colocated: zero shuffle exchange on either join side") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    object H extends AdaptiveSparkPlanHelper
    val p = planOf("bucketed_join_colocated")
    // both sides scan their 8 buckets directly; the join co-locates
    // bucket i with bucket i — the whole point of paying layout once
    assert("Bucketed: true".r.findAllIn(p).size == 2,
      "both scans must report bucketed reading:\n" + p)
    // the plan that ran (AQE may re-plan joins at runtime): the MERGE
    // hint keeps the sort-merge join, and nothing below it shuffles —
    // the exchanges the aggregate and the sort add sit above the join
    val df = SparkEntry.queries("bucketed_join_colocated")(spark, sf)
    df.collect(): Unit
    val joins = H.collect(df.queryExecution.executedPlan) {
      case j: SortMergeJoinExec => j
    }
    assert(joins.size == 1, df.queryExecution.executedPlan.toString)
    val j = joins.head
    assert(H.collect(j) { case e: ShuffleExchangeExec => e }.isEmpty,
      "bucketed fact-fact join must plan with zero exchange:\n" + j)
    val scans = H.collect(j) { case f: FileSourceScanExec => f }
    assert(scans.size == 2 && scans.forall(_.bucketedScan), j.toString)
  }

  test("f_variant_shred: scan prunes to the three shredded columns") {
    val p = planOf("f_variant_shred")
    assert(p.contains("ReadSchema: struct<event_type:string,props:string,user_id:bigint>")
        || p.contains("ReadSchema: struct<user_id:bigint,event_type:string,props:string>"),
      "variant shredding must read only event_type/props/user_id:\n" + p)
  }

  test("quality_filter_iqr_trained: learned fences join back as a broadcast") {
    val p = planOf("quality_filter_iqr_trained")
    // the model is one row per source — corpus ⨝ fences must broadcast
    // the fences, never shuffle the corpus on source
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "fences side is domain-grained; corpus must not shuffle to meet it:\n" + p)
  }

  test("bloom_runtime_filter_join: might_contain injected into the big-side scan") {
    // with broadcast off (the 100 TB regime) the optimizer must build a
    // bloom filter on the selective orders side and inject might_contain
    // ahead of lineitem's shuffle — rows that cannot join die before the
    // shuffle write
    val p = planOf("bloom_runtime_filter_join")
    assert(p.contains("might_contain"),
      "runtime bloom filter must engage on the application side:\n" + p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "the verified shape is the non-broadcast join:\n" + p)
  }

  test("decontam_bloom: literal bloom prefilter ahead of a sort-merge exact confirm") {
    // the eval-gram bloom must probe as a foldable literal predicate in
    // the corpus stage (no exchange feeding it), and the exact confirm
    // must be the hinted SORT-MERGE join: broadcasting the full eval-gram
    // relation is the plan this flavor exists to avoid, and a shuffled-
    // HASH build cannot spill — the forced-SHJ version died at the
    // 13M-doc tier ("not enough memory to build hash map") because the
    // eval-gram side grows with the corpus
    val p = planOf("decontam_bloom")
    assert(p.contains("might_contain"),
      "bloom prefilter must reach the corpus-gram stage:\n" + p)
    assert(p.contains("SortMergeJoin LeftSemi"),
      "exact confirm must be the spill-safe sort-merge semi-join:\n" + p)
    assert(!p.contains("BroadcastHashJoin LeftSemi"),
      "eval grams must never broadcast in the scale flavor:\n" + p)
  }

  test("interleave_datasets: chunk offsets broadcast; prefix via TakeOrdered") {
    // the two-phase ordinal's offset frame is datasets × 256 rows — the
    // corpus must meet it through a broadcast, never shuffle on
    // (dataset, chunk); and the 1000-slot contract prefix must plan as
    // TakeOrdered, not a global sort
    val p = planOf("interleave_datasets")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "offset join must broadcast the planning-sized frame:\n" + p)
    assert(p.contains("TakeOrderedAndProject"),
      "stream prefix must be TakeOrdered:\n" + p)
  }

  test("dedup_agreement_matrix: three pair kernels, zero cartesian") {
    // the union of three pair detectors must inherit each kernel's
    // index-join shape — any BroadcastNestedLoopJoin/CartesianProduct
    // means a kernel regressed to all-pairs
    val p = planOf("dedup_agreement_matrix")
    assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
      "agreement matrix must stay on index joins:\n" + p)
  }

  test("feature_normalize: the apply pass is join-free (literal stats)") {
    // stats ride the projection as literal arrays — the normalize apply
    // must contain no join of any kind; its only exchange is the final
    // label rollup
    val p = planOf("feature_normalize")
    assert(!p.contains("Join"),
      "apply phase must not join the stats back:\n" + p)
  }

  test("knn two-level index: broadcast scoring, equi cell join, no window re-rank") {
    import org.apache.spark.sql.functions._
    // the past-the-cap shape, forced at fixture scale: every scoring
    // pass must be a broadcast join (N·K1 / N·p1·K2 rows, never
    // N·K1·K2), the candidate join must be a partitionable equi-join on
    // the composite cell, and the final re-rank must be the combiner —
    // not the 287M-row window shape the A/B retired
    val en = graft.ops.AnnOps.normalizedVecs(
      spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v")))
    val (a, pr) = graft.ops.AnnOps.twoLevelAssignProbes(
      spark, en, 500L, 4, 4, 2, 2)
    val g = graft.ops.AnnOps.topKEdges(a, pr, en, 3)
    val p = g.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), p)
    val nljTypes = """BroadcastNestedLoopJoin (\w+)""".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(nljTypes.subsetOf(Set("Cross")),
      s"two-level scoring degenerated to a nested loop ($nljTypes):\n" + p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
           p.contains("BroadcastHashJoin"),
      "cell-equi candidate join expected:\n" + p)
    assert(!p.contains("Window"),
      "scale re-rank must be the combiner, not a window:\n" + p)
    // the forced index is live end-to-end: every vector gets neighbors
    val rows = g.limit(10).collect()
    assert(rows.nonEmpty && rows.forall(_.getInt(3) >= 1))
  }
}
