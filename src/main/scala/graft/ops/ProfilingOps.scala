package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-profiling and data-quality operators — the pre-flight checks a
  * large-scale pipeline runs before (and after) every archive/training run.
  * The reference's only profiling is its planning aggregates (COUNT/MIN/MAX,
  * source/mysql.go:67-132); these generalize that idea to whole-table column
  * profiles, distribution histograms, and robust outlier screens — all
  * single-digit-pass DataFrame programs with exact-arithmetic oracles.
  */
object ProfilingOps {
  import Tables._

  val all: Seq[Q] = Seq(

    // Per-column profile (null count, exact distinct count, min/max) in ONE
    // aggregate pass over the table — the generalization of the reference's
    // per-table planning queries (A1/A3/A4). Multiple exact count(distinct)s
    // plan as a single Expand-based aggregate: still one scan, no driver
    // loops; at 100 TB the same plan holds (Expand multiplies rows map-side
    // but each copy carries one column). Numeric extremes surface as DOUBLE,
    // string/timestamp extremes as formatted strings — no cross-type
    // stringification, so both engines emit identical cells.
    Q("profile_columns",
      """SELECT * FROM (
        |  SELECT 'l_orderkey' AS col_name, count(*) - count(l_orderkey) AS n_null,
        |    count(DISTINCT l_orderkey) AS n_distinct,
        |    CAST(min(l_orderkey) AS DOUBLE) AS min_num, CAST(max(l_orderkey) AS DOUBLE) AS max_num,
        |    CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', count(*) - count(l_quantity), count(DISTINCT l_quantity),
        |    CAST(min(l_quantity) AS DOUBLE), CAST(max(l_quantity) AS DOUBLE),
        |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', count(*) - count(l_extendedprice), count(DISTINCT l_extendedprice),
        |    CAST(min(l_extendedprice) AS DOUBLE), CAST(max(l_extendedprice) AS DOUBLE),
        |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag', count(*) - count(l_returnflag), count(DISTINCT l_returnflag),
        |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min(l_returnflag), max(l_returnflag)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_linestatus', count(*) - count(l_linestatus), count(DISTINCT l_linestatus),
        |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min(l_linestatus), max(l_linestatus)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_shipdate', count(*) - count(l_shipdate), count(DISTINCT l_shipdate),
        |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |    strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S'),
        |    strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S')
        |  FROM lineitem
        |) ORDER BY col_name""".stripMargin) { (s, d) =>
      // Per-column TWO-LEVEL profile: groupBy(col) → (value, count), then
      // one aggregate over the distinct-value frame delivers n_null
      // (Σ count where value IS NULL), n_distinct (non-null key count)
      // and min/max (over keys ≡ over rows) in one pass per column. Six
      // independent pruned-scan pipelines, union of 1-row frames.
      //
      // Why not one big agg with six countDistincts (the original shape):
      // multiple distinct aggregates Expand the scan — one replica per
      // distinct group — pushing N× the corpus through a single widened
      // hash aggregate (measured 7.6 s vs 2-3 s here at sf0.1; invisible
      // under count()-driven timing, exposed by the noop action). The
      // per-column groupBy shuffles only distinct values after map-side
      // combine — the shape that survives a 100 TB profile sweep.
      val li = lineitem(s, d)
      val nullS = lit(null).cast("string")
      val nullD = lit(null).cast("double")
      def base(c: String) =
        li.groupBy(col(c).as("k")).agg(count(lit(1)).as("cnt"))
          .agg(
            coalesce(sum(when(col("k").isNull, col("cnt"))), lit(0L)).as("n_null"),
            count(when(col("k").isNotNull, 1)).as("n_distinct"),
            min(col("k")).as("mn"), max(col("k")).as("mx"))
      def num(c: String) = base(c).select(
        lit(c).as("col_name"), col("n_null"), col("n_distinct"),
        col("mn").cast("double").as("min_num"),
        col("mx").cast("double").as("max_num"),
        nullS.as("min_str"), nullS.as("max_str"))
      def str(c: String) = base(c).select(
        lit(c).as("col_name"), col("n_null"), col("n_distinct"),
        nullD.as("min_num"), nullD.as("max_num"),
        col("mn").as("min_str"), col("mx").as("max_str"))
      def dt(c: String) = base(c).select(
        lit(c).as("col_name"), col("n_null"), col("n_distinct"),
        nullD.as("min_num"), nullD.as("max_num"),
        date_format(col("mn"), "yyyy-MM-dd HH:mm:ss").as("min_str"),
        date_format(col("mx"), "yyyy-MM-dd HH:mm:ss").as("max_str"))
      num("l_orderkey").union(num("l_quantity")).union(num("l_extendedprice"))
        .union(str("l_returnflag")).union(str("l_linestatus"))
        .union(dt("l_shipdate"))
        .orderBy(col("col_name"))
    },

    // Fixed-width distribution histogram + CDF over l_extendedprice — the
    // "what does this column look like" primitive behind partition-size
    // planning and skew detection. Bucketing is a projection at the scan
    // (floor of one IEEE division — bit-identical across engines), then one
    // small aggregate; the running CDF windows over the ~20-row bucket
    // frame, not the data.
    Q("f_histogram",
      """WITH b AS (
        |  SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bucket,
        |         l_extendedprice AS p
        |  FROM lineitem),
        |h AS (
        |  SELECT bucket, count(*) AS n,
        |    CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM b GROUP BY bucket)
        |SELECT bucket, n,
        |  CAST(sum(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
        |  sum_price
        |FROM h ORDER BY bucket""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .select(floor(col("l_extendedprice") / lit(5000.0)).cast("bigint").as("bucket"),
                col("l_extendedprice").as("p"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
             sum(col("p").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .withColumn("cum_n",
          sum(col("n")).over(Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("bigint"))
        .select(col("bucket"), col("n"), col("cum_n"), col("sum_price"))
        .orderBy(col("bucket"))
    },

    // Robust per-group outlier screen: lower-median and MAD (median absolute
    // deviation) per event_type, then flag |v − med| > 3·MAD. Median and MAD
    // are exact data values selected by row_number (no interpolation, no
    // engine-specific percentile) — every output cell is either an input
    // double or an integer count, so the compare is bit-exact. Two window
    // passes partitioned on the group key: the same key shuffle reused, and
    // at scale each group sorts independently (per-partition sort, no global
    // order).
    Q("anomaly_mad",
      """WITH e AS (SELECT event_type, event_id, value FROM events),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM e),
        |med AS (
        |  SELECT event_type, max(CASE WHEN rn = (n + 1) // 2 THEN value END) AS med
        |  FROM r GROUP BY event_type),
        |dev AS (
        |  SELECT e.event_type, e.event_id, e.value, abs(e.value - m.med) AS dv, m.med
        |  FROM e JOIN med m USING (event_type)),
        |r2 AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dv, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM dev),
        |mad AS (
        |  SELECT event_type, max(CASE WHEN rn = (n + 1) // 2 THEN dv END) AS mad
        |  FROM r2 GROUP BY event_type)
        |SELECT d.event_type, count(*) AS n, min(d.med) AS med, min(m.mad) AS mad,
        |  count(*) FILTER (WHERE d.dv > 3 * m.mad) AS n_outliers
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin) { (s, d) =>
      val e = events(s, d).select(col("event_type"), col("event_id"), col("value"))
      val byVal = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      val grp = Window.partitionBy(col("event_type"))
      val med = e
        .withColumn("rn", row_number().over(byVal))
        .withColumn("n", count(lit(1)).over(grp))
        .groupBy(col("event_type"))
        .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("value"))).as("med"))
      // few event types → the med/mad side is tiny; broadcast it so the big
      // side is never reshuffled for the join
      val dev = e.join(broadcast(med), Seq("event_type"))
        .withColumn("dv", abs(col("value") - col("med")))
      val byDev = Window.partitionBy(col("event_type"))
        .orderBy(col("dv"), col("event_id"))
      val mad = dev
        .withColumn("rn", row_number().over(byDev))
        .withColumn("n", count(lit(1)).over(grp))
        .groupBy(col("event_type"))
        .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("dv"))).as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("med")).as("med"),
             min(col("mad")).as("mad"),
             count(when(col("dv") > lit(3) * col("mad"), lit(1))).as("n_outliers"))
        .orderBy(col("event_type"))
    },

    // Cross-generation drift monitor — the data-quality check between two
    // archive generations (here: lineitem split at a ship-date pivot):
    // per-column row counts, exact distincts, and decimal-exact means for
    // each generation, with a relative-mean-shift flag. ONE scan computes
    // both generations' stats via conditional aggregation (no second pass,
    // no join of two profile runs); the comparison frame is
    // columns-per-table sized. At 100 TB this is the nightly "did the
    // source distribution move" gate before a delta is accepted.
    Q("profile_drift",
      """WITH s AS (
        |  SELECT CASE WHEN l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |              THEN 0 ELSE 1 END AS gen,
        |         l_quantity, l_extendedprice, l_discount
        |  FROM lineitem),
        |a AS (
        |  SELECT 'l_quantity' AS col_name,
        |    count(*) FILTER (WHERE gen = 0) AS n1, count(*) FILTER (WHERE gen = 1) AS n2,
        |    count(DISTINCT CASE WHEN gen = 0 THEN l_quantity END) AS nd1,
        |    count(DISTINCT CASE WHEN gen = 1 THEN l_quantity END) AS nd2,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE gen = 0) AS DOUBLE)
        |      / count(*) FILTER (WHERE gen = 0) AS mean1,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE gen = 1) AS DOUBLE)
        |      / count(*) FILTER (WHERE gen = 1) AS mean2
        |  FROM s
        |  UNION ALL
        |  SELECT 'l_extendedprice',
        |    count(*) FILTER (WHERE gen = 0), count(*) FILTER (WHERE gen = 1),
        |    count(DISTINCT CASE WHEN gen = 0 THEN l_extendedprice END),
        |    count(DISTINCT CASE WHEN gen = 1 THEN l_extendedprice END),
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) FILTER (WHERE gen = 0) AS DOUBLE)
        |      / count(*) FILTER (WHERE gen = 0),
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) FILTER (WHERE gen = 1) AS DOUBLE)
        |      / count(*) FILTER (WHERE gen = 1)
        |  FROM s
        |  UNION ALL
        |  SELECT 'l_discount',
        |    count(*) FILTER (WHERE gen = 0), count(*) FILTER (WHERE gen = 1),
        |    count(DISTINCT CASE WHEN gen = 0 THEN l_discount END),
        |    count(DISTINCT CASE WHEN gen = 1 THEN l_discount END),
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,2))) FILTER (WHERE gen = 0) AS DOUBLE)
        |      / count(*) FILTER (WHERE gen = 0),
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,2))) FILTER (WHERE gen = 1) AS DOUBLE)
        |      / count(*) FILTER (WHERE gen = 1)
        |  FROM s)
        |SELECT col_name, n1, n2, nd1, nd2, mean1, mean2,
        |  abs(mean2 - mean1) / abs(mean1) AS rel_mean_shift,
        |  abs(mean2 - mean1) / abs(mean1) > 0.01 AS drifted
        |FROM a ORDER BY col_name""".stripMargin) { (s, d) =>
      // Per-column two-level aggregation (same plan surgery as
      // profile_columns): groupBy(gen, value) → counts, then every
      // generation statistic derives from the distinct-pair frame —
      // n = Σcnt per gen, nd = non-null key count per gen, and the
      // generation sum as Σ value·cnt (decimal·integer, exact, so the
      // mean is the same one IEEE division as the row-level form). The
      // original single agg carried six countDistincts → Expand ×7 of
      // the scan through one hash aggregate (measured ~4 s noop-driven
      // at sf0.1 vs sub-second here).
      val gen0 = col("l_shipdate") < lit("1996-01-01").cast("timestamp")
      def drift(c: String) =
        lineitem(s, d)
          .select(when(gen0, 0).otherwise(1).as("gen"), col(c).as("k"))
          .groupBy(col("gen"), col("k")).agg(count(lit(1)).as("cnt"))
          .agg(
            coalesce(sum(when(col("gen") === 0, col("cnt"))), lit(0L)).as("n1"),
            coalesce(sum(when(col("gen") === 1, col("cnt"))), lit(0L)).as("n2"),
            count(when(col("gen") === 0 && col("k").isNotNull, 1)).as("nd1"),
            count(when(col("gen") === 1 && col("k").isNotNull, 1)).as("nd2"),
            (sum(when(col("gen") === 0,
                col("k").cast("decimal(18,2)") * col("cnt"))).cast("double")
              / sum(when(col("gen") === 0, col("cnt")))).as("mean1"),
            (sum(when(col("gen") === 1,
                col("k").cast("decimal(18,2)") * col("cnt"))).cast("double")
              / sum(when(col("gen") === 1, col("cnt")))).as("mean2"))
          .select(lit(c).as("col_name"), col("n1"), col("n2"),
            col("nd1"), col("nd2"), col("mean1"), col("mean2"))
      drift("l_quantity").union(drift("l_extendedprice")).union(drift("l_discount"))
        .withColumn("rel_mean_shift",
          abs(col("mean2") - col("mean1")) / abs(col("mean1")))
        .withColumn("drifted", col("rel_mean_shift") > 0.01)
        .orderBy(col("col_name"))
    },

    // Frequent-value profile — the "what dominates this column" primitive
    // next to nulls/distinct/minmax (profile_columns) and the histogram:
    // top-3 most frequent values per profiled column with deterministic
    // ties (value ascending). Per column: one groupBy(value) partial-agg
    // shuffle of distinct values, then row_number over the TINY per-column
    // frequency frame — rank never touches corpus-sized data; the union
    // is of 3-row frames.
    Q("profile_topk_values",
      """WITH a AS (
        |  SELECT 'l_returnflag' AS col_name, l_returnflag AS val, count(*) AS n
        |  FROM lineitem GROUP BY 2
        |  UNION ALL
        |  SELECT 'l_linestatus', l_linestatus, count(*) FROM lineitem GROUP BY 2
        |  UNION ALL
        |  SELECT 'l_quantity', CAST(CAST(l_quantity AS BIGINT) AS VARCHAR),
        |    count(*) FROM lineitem GROUP BY 2
        |  UNION ALL
        |  SELECT 'l_linenumber', CAST(l_linenumber AS VARCHAR), count(*)
        |  FROM lineitem GROUP BY 2),
        |r AS (SELECT col_name, val, n,
        |        row_number() OVER (PARTITION BY col_name
        |          ORDER BY n DESC, val) AS rk
        |      FROM a)
        |SELECT col_name, rk, val, n
        |FROM r WHERE rk <= 3 ORDER BY col_name, rk""".stripMargin) { (s, d) =>
      val li = lineitem(s, d)
      def freq(c: String, valExpr: org.apache.spark.sql.Column) =
        li.groupBy(valExpr.as("val")).agg(count(lit(1)).as("n"))
          .select(lit(c).as("col_name"), col("val"), col("n"))
      val w = Window.partitionBy(col("col_name"))
        .orderBy(col("n").desc, col("val"))
      freq("l_returnflag", col("l_returnflag"))
        .union(freq("l_linestatus", col("l_linestatus")))
        .union(freq("l_quantity",
          col("l_quantity").cast("bigint").cast("string")))
        .union(freq("l_linenumber", col("l_linenumber").cast("string")))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("col_name"), col("rk"), col("val"), col("n"))
        .orderBy(col("col_name"), col("rk"))
    },

    // Join-key skew diagnosis — the DETECT half of the hot-key story
    // (o2_salted_join is the remediation): per-key frequencies for a
    // prospective join/shuffle key, ranked hot keys with their share of
    // the table and their multiple of the mean key load. One partial-agg
    // shuffle on the key + a TakeOrdered top-10; the global totals ride
    // along as a 1-row broadcast. A key with skew_x ≫ 1 is the one that
    // would pin a single executor in a shuffle join — and the number that
    // decides between plain AQE skew-split and explicit salting.
    Q("profile_skew",
      """WITH kc AS (
        |  SELECT l_suppkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1),
        |tot AS (
        |  SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows FROM kc)
        |SELECT rank, key, cnt,
        |  CAST(cnt AS DOUBLE) / n_rows AS share,
        |  CAST(cnt AS DOUBLE) * n_keys / n_rows AS skew_x,
        |  n_keys, n_rows
        |FROM (
        |  SELECT key, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, key) AS rank
        |  FROM kc) r CROSS JOIN tot
        |WHERE rank <= 10 ORDER BY rank""".stripMargin) { (s, d) =>
      val kc = lineitem(s, d)
        .groupBy(col("l_suppkey").as("key")).agg(count(lit(1)).as("cnt"))
      val tot = kc.agg(count(lit(1)).as("n_keys"),
                       sum(col("cnt")).cast("bigint").as("n_rows"))
      val top = kc.orderBy(col("cnt").desc, col("key")).limit(10)
        .withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("cnt").desc, col("key"))))
      top.crossJoin(broadcast(tot))
        .select(col("rank"), col("key"), col("cnt"),
          (col("cnt").cast("double") / col("n_rows")).as("share"),
          (col("cnt").cast("double") * col("n_keys") / col("n_rows")).as("skew_x"),
          col("n_keys"), col("n_rows"))
        .orderBy(col("rank"))
    },

    // Mergeable-sketch distinct counting (DataSketches HLL via Spark's
    // hll_sketch_agg/hll_union_agg) — THE incremental-profiling primitive
    // at 100 TB: a production pipeline persists one few-KB binary sketch
    // per source/generation slice ONCE, then answers distinct-count
    // questions over arbitrary slice unions by merging sketches — never
    // rescanning the corpus (approx_count_distinct, f_approx_agg, cannot
    // do this: its HLL++ buffer dies with the query). The sketches are
    // engine-specific so their raw bytes have no SQL oracle; what IS
    // oracle-checkable is (a) the exact per-slice distincts, (b) each
    // slice sketch's error-envelope gate, and (c) the property that makes
    // sketches composable at all: the estimate from the UNION of
    // per-slice sketches must land in the same error envelope around the
    // exact whole-table distinct, and stay within estimator-difference
    // distance of a direct whole-table sketch. (Exact equality of merged
    // vs direct holds only while the sketch is in sparse/coupon mode —
    // sf0.001/0.01 here; once dense, a directly-fed sketch estimates via
    // the order-dependent HIP accumulator while a union result must fall
    // back to the composite estimator, so the contract is the documented
    // ~1% estimator gap, not bit equality — measured True at all three
    // fixture scales.)
    // Plan: exact distincts as their own two-level agg (no Expand mixing,
    // the profile_columns lesson); sketch agg is one partial-merged pass;
    // union/direct/exact-total are 1-row frames broadcast back.
    Q("profile_hll_mergeable",
      """WITH per AS (
        |  SELECT event_type, count(DISTINCT user_id) AS exact_users
        |  FROM events GROUP BY event_type)
        |SELECT event_type, exact_users,
        |  true AS est_within_5pct,
        |  true AS merged_within_5pct,
        |  true AS merged_close_to_direct
        |FROM per ORDER BY event_type""".stripMargin) { (s, d) =>
      val ev = events(s, d).select(col("event_type"), col("user_id"))
      val exact = ev.distinct()
        .groupBy(col("event_type")).agg(count(lit(1)).as("exact_users"))
      val exactTot = ev.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("exact_total"))
      val perSk = ev.groupBy(col("event_type"))
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      val est = perSk.select(col("event_type"),
        expr("hll_sketch_estimate(sk)").as("est"))
      val merged = perSk.agg(expr("hll_union_agg(sk, false)").as("usk"))
        .select(expr("hll_sketch_estimate(usk)").as("est_merged"))
      val direct = ev.agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
        .select(expr("hll_sketch_estimate(sk)").as("est_direct"))
      exact.join(est, "event_type")
        .crossJoin(broadcast(merged)).crossJoin(broadcast(direct))
        .crossJoin(broadcast(exactTot))
        .select(col("event_type"), col("exact_users"),
          (abs(col("est") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.05).as("est_within_5pct"),
          (abs(col("est_merged") - col("exact_total")).cast("double") /
            col("exact_total") <= 0.05).as("merged_within_5pct"),
          (abs(col("est_merged") - col("est_direct")).cast("double") /
            col("est_direct") <= 0.01).as("merged_close_to_direct"))
        .orderBy(col("event_type"))
    },

    // Count-min-sketch heavy hitters — the streaming-mergeable frequency
    // sketch beside profile_hll_mergeable's distinct sketch: per-slice CMS
    // sketches union by cell-wise addition, so corpus-wide token heavy
    // hitters come from sketch merges instead of re-scans. Exact top-10
    // (count DESC, word — a TakeOrdered prefix over the word aggregate)
    // is the oracle-checked frame; the CMS side gates ONLY the guaranteed
    // invariant — est ≥ true (CMS never undercounts, holds with
    // probability 1). The ε bound (est ≤ true + ε·N) holds only with
    // confidence δ=0.99, so asserting it in the oracle would let a future
    // fixture fail parity with CORRECT code — it lives in
    // ProfilingOpsSpec instead, where the fixed seed makes it a
    // deterministic property of THIS fixture. The sketch binary collects
    // driver-side planning-sized (ε=0.001, δ=0.99 ⇒ ~2720×5 longs
    // ≈ 109 KB) and the ten estimates ride the exact frame as a literal
    // map. A word-less corpus short-circuits to the (empty) exact frame —
    // no sketch to read, no NPE.
    Q("profile_cms_heavyhitters",
      """WITH t AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |  FROM documents),
        |wc AS (SELECT word, count(*) AS n FROM t GROUP BY word)
        |SELECT word, CAST(n AS BIGINT) AS n,
        |  CAST(1 AS BOOLEAN) AS est_ge_true
        |FROM wc ORDER BY n DESC, word LIMIT 10""".stripMargin) { (s, d) =>
      val words = Tables.fan(s, documents(s, d))
        .select(explode(graft.functions.Tokenize.alpha_runs(lower(col("text"))))
          .as("word"))
      // the word-count aggregate feeds BOTH the exact-top-10 probe collect
      // and the contract frame — without a checkpoint each re-runs the
      // corpus tokenize+groupBy (the r11 aggregate-reuse rule). LAZY: the
      // probe collect materializes it. vocab-sized (bounded), so safe to
      // hold at any corpus scale — `words` itself is deliberately NOT
      // checkpointed: one row per corpus token is a corpus-sized artifact
      // (the sketch pass and the count pass are distinct aggregations and
      // genuinely need two passes)
      val wc = Materialize(
        words.groupBy(col("word")).agg(count(lit(1)).as("n")), eager = false)
      // probe jobs: the sketch aggregate + the exact top-10 are
      // planning-sized collects; the CONTRACT frame below recomputes the
      // top-10 distributedly so the gate checks the distributed aggregate
      val bytesRow = words
        .select(expr("count_min_sketch(word, CAST(0.001 AS DOUBLE), " +
          "CAST(0.99 AS DOUBLE), 42)").as("cms"))
        .head
      val exactTop = wc.orderBy(col("n").desc, col("word")).limit(10)
      if (bytesRow.isNullAt(0)) {
        exactTop.select(col("word"), col("n"), lit(true).as("est_ge_true"))
      } else {
        val cms = org.apache.spark.util.sketch.CountMinSketch
          .readFrom(new java.io.ByteArrayInputStream(
            bytesRow.getAs[Array[Byte]](0)))
        val top = exactTop.collect()
        val estPairs = top.flatMap { r =>
          Seq(lit(r.getString(0)), lit(cms.estimateCount(r.getString(0))))
        }
        val estMap = map(estPairs.toIndexedSeq: _*)
        exactTop.select(col("word"), col("n"),
          (element_at(estMap, col("word")) >= col("n")).as("est_ge_true"))
      }
    },
  )
}
