package graft.ops

import org.apache.spark.sql.functions._

/** Event-sequence and graph analytics over the events/supplier/lineitem
  * fixtures: conversion funnels, cohort retention, and iterative PageRank —
  * the provenance/quality signals a crawl-derived training corpus is
  * weighted by. All arithmetic is integer or exact-decimal-summed, so every
  * oracle is a bit-exact DuckDB rebuild.
  */
object AnalyticsOps {
  import Tables._

  val all: Seq[Q] = Seq(

    // Ordered conversion funnel view → click → purchase: stage k counts
    // users whose earliest stage-k event occurs at-or-after their stage-
    // (k-1) entry time. Each stage is one co-partitioned join + aggregate
    // on user_id (the natural event-table key) — the per-stage frames are
    // user-grained (tiny vs the event stream), and the µs dwell-time sums
    // are integer arithmetic.
    Q("events_funnel",
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
        |v AS (SELECT user_id, min(t) AS v_t FROM e WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.t) AS c_t, min(v.v_t) AS v_t
        |  FROM e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.t >= v.v_t GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.t) AS p_t, min(c.c_t) AS c_t
        |  FROM e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.t >= c.c_t GROUP BY e.user_id)
        |SELECT * FROM (
        |  SELECT '1_view' AS stage, count(*) AS n_users, CAST(NULL AS BIGINT) AS dwell_us_sum FROM v
        |  UNION ALL
        |  SELECT '2_click', count(*), CAST(sum(c_t - v_t) AS BIGINT) FROM c
        |  UNION ALL
        |  SELECT '3_purchase', count(*), CAST(sum(p_t - c_t) AS BIGINT) FROM p
        |) ORDER BY stage""".stripMargin) { (s, d) =>
      val e = events(s, d).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      val v = e.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("t")).as("v_t"))
      val c = e.where(col("event_type") === "click")
        .join(v, "user_id").where(col("t") >= col("v_t"))
        .groupBy(col("user_id"))
        .agg(min(col("t")).as("c_t"), min(col("v_t")).as("v_t"))
      val p = e.where(col("event_type") === "purchase")
        .join(c.select(col("user_id"), col("c_t")), "user_id")
        .where(col("t") >= col("c_t"))
        .groupBy(col("user_id"))
        .agg(min(col("t")).as("p_t"), min(col("c_t")).as("c_t"))
      val nullLong = lit(null).cast("bigint")
      v.agg(count(lit(1)).as("n_users")).select(
          lit("1_view").as("stage"), col("n_users"), nullLong.as("dwell_us_sum"))
        .unionAll(c.agg(count(lit(1)).as("n_users"),
            sum(col("c_t") - col("v_t")).cast("bigint").as("dwell_us_sum"))
          .select(lit("2_click").as("stage"), col("n_users"), col("dwell_us_sum")))
        .unionAll(p.agg(count(lit(1)).as("n_users"),
            sum(col("p_t") - col("c_t")).cast("bigint").as("dwell_us_sum"))
          .select(lit("3_purchase").as("stage"), col("n_users"), col("dwell_us_sum")))
        .orderBy(col("stage"))
    },

    // Weekly cohort retention: cohort = each user's first active epoch-week,
    // cell (cohort, offset) = distinct users from that cohort active offset
    // weeks later. The user-grain cohort frame is derived once and joined
    // back on user_id (same co-partitioning as the event shuffle); epoch-
    // week bucketing is integer division at the scan.
    Q("retention_cohort",
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS BIGINT) AS wk
        |  FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id)
        |SELECT f.cohort_wk, e.wk - f.cohort_wk AS offset_wk,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      // integer floor division end-to-end (positive epochs), mirroring the
      // oracle's exact `//` — no IEEE rounding anywhere near a week boundary
      val e = events(s, d).select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("wk"))
      val f = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      e.join(f, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_wk"), col("offset_wk"))
    },

    // PageRank (3 unrolled power iterations, damping 0.85) over a link
    // graph synthesized from lineitem — the crawl-graph authority signal
    // used to weight web-corpus documents. Each iteration is one shuffle:
    // edges join ranks on src (both partitioned by the join key), partial
    // sums combine map-side, and the node list left-joins the incoming
    // mass so rankless nodes keep the teleport term. Per-edge contributions
    // are one IEEE division of engine-identical inputs; the per-node sum
    // goes through DECIMAL(38,18) so merge order cannot perturb bits, and
    // each iteration's rank is quantized to 12 decimals (the kmeans_train
    // pattern) — the engines' double→decimal conversions can differ a few
    // ulps (~1e-17 here), and quantizing at every step stops that drift
    // from compounding across iterations (ranks are ~1e-2, so a 5e-13
    // rounding boundary is never near the noise).
    Q("graph_pagerank", {
      def iter(prev: String, out: String): String =
        s"""$out AS (
           |  SELECT nodes.node,
           |    round(CAST(0.15 AS DOUBLE) / nn.n
           |      + CAST(0.85 AS DOUBLE) * coalesce(s.sm, CAST(0 AS DOUBLE)), 12) AS p
           |  FROM nodes CROSS JOIN nn LEFT JOIN (
           |    SELECT e.dst AS node,
           |      CAST(sum(CAST($prev.p / od.odeg AS DECIMAL(38,18))) AS DOUBLE) AS sm
           |    FROM e JOIN $prev ON e.src = $prev.node JOIN od ON e.src = od.src
           |    GROUP BY e.dst) s ON nodes.node = s.node)""".stripMargin
      s"""WITH nodes AS (SELECT s_suppkey AS node FROM supplier),
         |e AS (SELECT DISTINCT l_suppkey AS src, (l_partkey % 50) + 1 AS dst FROM lineitem),
         |od AS (SELECT src, count(*) AS odeg FROM e GROUP BY src),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |p0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS p FROM nodes CROSS JOIN nn),
         |${iter("p0", "p1")},
         |${iter("p1", "p2")},
         |${iter("p2", "p3")}
         |SELECT node, p AS rank FROM p3
         |ORDER BY rank DESC, node LIMIT 20""".stripMargin
    }) { (s, d) =>
      val nodes = supplier(s, d).select(col("s_suppkey").as("node"))
      // the static edge frame (distinct edges + out-degrees), materialized
      // once per (session, fixture): every power iteration joins against
      // it, and unmaterialized each iteration would re-run the lineitem
      // scan + distinct + degree aggregation (the q33 lesson — materialize
      // the static side of an iteration once). LAZY: the first iteration's
      // job fills it
      val ew = Memo(s, "analytics.prEdges", d) {
        val edges = lineitem(s, d)
          .select(col("l_suppkey").as("src"),
                  ((col("l_partkey") % 50) + 1).as("dst"))
          .distinct()
        val odeg = edges.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
        Materialize(edges.join(odeg, "src"), eager = false)
      }
      val nN = nodes.count().toDouble
      var ranks = nodes.withColumn("p", lit(1.0) / lit(nN))
      for (_ <- 1 to 3) {
        val incoming = ew.join(ranks, ew("src") === ranks("node"))
          .groupBy(col("dst").as("in_node"))
          .agg(sum((col("p") / col("odeg")).cast("decimal(38,18)"))
            .cast("double").as("sm"))
        ranks = nodes.join(incoming, nodes("node") === col("in_node"), "left")
          .select(col("node"),
            round(lit(0.15) / lit(nN)
              + lit(0.85) * coalesce(col("sm"), lit(0.0)), 12).as("p"))
      }
      ranks.select(col("node"), col("p").as("rank"))
        .orderBy(col("rank").desc, col("node")).limit(20)
    },
  )
}
