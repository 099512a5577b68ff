package graft.ops

import org.apache.spark.sql.functions._

/** Scalar function families (SURVEY.md §2.8) — string, date/time, math,
  * JSON, array — plus approximate aggregates. All built-ins, all inside
  * whole-stage codegen; the oracle mirrors each function with DuckDB's
  * spelling.
  *
  * Math oracle restricts itself to IEEE-exact operations (abs/floor/ceil/
  * sqrt/round/mod/x*x): ln/exp are not correctly-rounded in every libm, so
  * cross-engine hash equality is not guaranteed for them — they are covered
  * by the rows-only approx query instead.
  */
object ScalarOps {
  import Tables._

  /** Exact interpolated percentiles of `df.col(valueCol)` as a 1-row frame
    * `pcts: array<double>` — the distributed twin of the `percentile`
    * aggregate, same definition to the bit (pinned in ApproxSpec):
    * for pct p over N non-null values, pos = p·(N−1); result =
    * v[floor(pos)] when floor = ceil, else
    * (ceil−pos)·v[floor] + (pos−floor)·v[ceil] with v the 0-based sorted
    * multiset. Shape: a codegen'd value-count aggregate (parallel), a
    * RANGE-PARTITIONED two-pass running count over the DISTINCT values
    * (within-bucket window + per-bucket offsets — no single task ever
    * holds more than one bucket's values), and a conditional-min bracket
    * aggregate — vs the Percentile aggregate's final-task merge of a
    * value→count OpenHashMap that grows with DISTINCT cardinality (the
    * measured single-task wall in f_approx_agg, and an OOM at data
    * scale). The r12 shape kept ONE partition-less window task over all
    * distinct values; this splits it: bucket(v) is a monotone map built
    * from min/max (exact integer offsets, so bucketed running count ≡
    * the global one, see inline notes), and the only remaining
    * single-partition window runs over the B bucket-total rows, B fixed
    * by parallelism, never by data. */
  private[graft] def exactPercentiles(df: org.apache.spark.sql.DataFrame,
      valueCol: String, pcts: Seq[Double]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The value-count relation feeds THREE consumers (the stats pass, the
    // bucket-offset pass, the windowed main pass) and exchange reuse does
    // not cover aggregates (the r11 rule) — checkpoint it once, EAGERLY:
    // its first consumer is the stats BROADCAST job, and a lazy
    // checkpoint would put the full scan+aggregate inside
    // spark.sql.broadcastTimeout at data scale (the r12 shape had exactly
    // that exposure via broadcast(n) over an unmaterialized vc; the eager
    // job removes it — the broadcasts now collect from cached blocks).
    val vc = Materialize(df.select(col(valueCol).as("v")).where(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("freq")), eager = true)
    // Monotone range bucket from (vmin, vmax): for v1 ≤ v2,
    // bucket(v1) ≤ bucket(v2) — each step of the otherwise-branch chain
    // (subtract a constant, divide by a positive constant, multiply by a
    // positive constant, floor, clamp) is weakly monotone under IEEE
    // rounding. Degenerate inputs degrade to FEWER effective buckets,
    // never to a wrong order: v = vmin pins bucket 0 before any float
    // math (covers vmin = −Inf, whose ratio is NaN); a NaN ratio from
    // v = +Inf clamps to the last bucket (NaN propagates through
    // greatest, least picks the finite bound), where +Inf — the largest
    // value — belongs; NaN values group last in Spark ordering and land
    // in the last bucket explicitly. The clamp runs in double space
    // BEFORE the int cast (ANSI: casting NaN/overflow throws). A null
    // scaled value — decimal overflow with ANSI off — has no place in
    // the order (greatest would clamp it to bucket 0, and the offsets
    // join would drop a null bucket's rows), so it fails the query.
    // B scales with the session's parallelism (4× for spread, guide
    // §2.5), never with data.
    val nBuckets = math.max(32,
      4 * df.sparkSession.sparkContext.defaultParallelism)
    val stats = vc.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"),
      sum(col("freq")).as("n"))
    val scaled = floor((col("v") - col("vmin")) / (col("vmax") - col("vmin"))
      * nBuckets)
    val bucket =
      when(isnan(col("v")), lit(nBuckets - 1))
        .when(col("v") === col("vmin"), lit(0))
        .when(scaled.isNull, raise_error(lit(
          s"exactPercentiles: null bucket for a value of $valueCol")))
        .otherwise(least(greatest(scaled, lit(0.0)),
          lit((nBuckets - 1).toDouble)).cast("int"))
    val withB = vc.crossJoin(broadcast(stats)).withColumn("b", bucket)
    // pass 1: per-bucket totals → exclusive running offsets. B rows total;
    // the constant partition key (pmod(b,1) ≡ 0, but not foldable — a
    // lit(0) would be constant-folded back to the partition-less path)
    // keeps WindowExec's input bounded by the bucket count, not the data.
    val offW = Window.partitionBy(pmod(col("b"), lit(1))).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = withB.groupBy(col("b")).agg(sum(col("freq")).as("bt"))
      .select(col("b"), coalesce(sum(col("bt")).over(offW), lit(0L)).as("off"))
    // pass 2: within-bucket running count + the bucket's offset — exact
    // long arithmetic, so cum is bit-identical to the global window's.
    val withN = withB
      .withColumn("cum",
        sum(col("freq")).over(Window.partitionBy(col("b")).orderBy(col("v"))))
      .join(broadcast(offs), Seq("b"))
      .withColumn("cum", col("cum") + col("off"))
    // per pct: bracket rows (cum−freq ≤ idx < cum) hold v[idx]; exactly one
    // row matches each index, so min() extracts it in one pass over all pcts
    val brackets = pcts.zipWithIndex.flatMap { case (p, i) =>
      val pos = lit(p) * (col("n") - 1).cast("double")
      Seq(
        min(when(col("cum") - col("freq") <= floor(pos) &&
          col("cum") > floor(pos), col("v"))).as(s"lo$i"),
        min(when(col("cum") - col("freq") <= ceil(pos) &&
          col("cum") > ceil(pos), col("v"))).as(s"hi$i"),
        first(col("n")).as(s"n$i"))
    }
    val agg = withN.agg(brackets.head, brackets.tail: _*)
    val outs = pcts.zipWithIndex.map { case (p, i) =>
      val pos = lit(p) * (col(s"n$i") - 1).cast("double")
      when(floor(pos) === ceil(pos), col(s"lo$i"))
        .otherwise((ceil(pos).cast("double") - pos) * col(s"lo$i") +
          (pos - floor(pos).cast("double")) * col(s"hi$i"))
    }
    agg.select(array(outs: _*).as("pcts"))
  }

  val all: Seq[Q] = Seq(

    Q("f_string_funcs",
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_u,
        |  lower(p_type) AS type_l,
        |  substr(p_name, 1, 8) AS name_pfx,
        |  length(p_name) AS name_len,
        |  replace(p_type, ' ', '_') AS type_us,
        |  concat(p_brand, ':', CAST(p_size AS VARCHAR)) AS brand_size,
        |  trim('  pad  ') AS trimmed,
        |  CASE WHEN p_name LIKE '%blue%' THEN 1 ELSE 0 END AS has_blue,
        |  split_part(p_type, ' ', 1) AS type_first
        |FROM part ORDER BY p_partkey LIMIT 500""".stripMargin) { (s, d) =>
      part(s, d).select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          lower(col("p_type")).as("type_l"),
          substring(col("p_name"), 1, 8).as("name_pfx"),
          length(col("p_name")).as("name_len"),
          regexp_replace(col("p_type"), " ", "_").as("type_us"),
          concat(col("p_brand"), lit(":"), col("p_size").cast("string")).as("brand_size"),
          trim(lit("  pad  ")).as("trimmed"),
          when(col("p_name").like("%blue%"), 1).otherwise(0).as("has_blue"),
          split(col("p_type"), " ").getItem(0).as("type_first"))
        .orderBy(col("p_partkey")).limit(500)
    },

    Q("f_date_funcs",
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(day(o_orderdate) AS INT) AS dom,
        |  CAST(dayofweek(o_orderdate) AS INT) + 1 AS dow,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT) AS days_since,
        |  CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus30,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end
        |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin) { (s, d) =>
      orders(s, d).select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          dayofweek(col("o_orderdate")).as("dow"),   // 1=Sunday in both after +1 on duck side
          date_trunc("month", col("o_orderdate")).as("month_start"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("timestamp")).as("days_since"),
          date_add(col("o_orderdate"), 30).as("plus30"),
          last_day(col("o_orderdate")).as("month_end"))
        .orderBy(col("o_orderkey")).limit(1000)
    },

    Q("f_math_funcs",
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_extendedprice - 30000) AS abs_v,
        |  CAST(floor(l_extendedprice / 100) AS BIGINT) AS floor_v,
        |  CAST(ceil(l_discount * 100) AS BIGINT) AS ceil_v,
        |  round(l_extendedprice * 0.5, 1) AS round_v,
        |  sqrt(l_quantity) AS sqrt_v,
        |  CAST(l_orderkey % 7 AS BIGINT) AS mod_v,
        |  l_tax * l_tax AS sq_v,
        |  greatest(l_tax, l_discount) AS gst,
        |  least(l_tax, l_discount) AS lst,
        |  CAST(sign(l_extendedprice - 30000) AS DOUBLE) AS sgn
        |FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 2000""".stripMargin) {
      (s, d) =>
        lineitem(s, d).select(
            col("l_orderkey"), col("l_linenumber"),
            abs(col("l_extendedprice") - 30000).as("abs_v"),
            floor(col("l_extendedprice") / 100).as("floor_v"),
            ceil(col("l_discount") * 100).as("ceil_v"),
            round(col("l_extendedprice") * 0.5, 1).as("round_v"),
            sqrt(col("l_quantity")).as("sqrt_v"),
            (col("l_orderkey") % 7).as("mod_v"),
            (col("l_tax") * col("l_tax")).as("sq_v"),
            greatest(col("l_tax"), col("l_discount")).as("gst"),
            least(col("l_tax"), col("l_discount")).as("lst"),
            signum(col("l_extendedprice") - 30000).as("sgn"))
          .orderBy(col("l_orderkey"), col("l_linenumber")).limit(2000)
    },

    Q("f_json_funcs",
      """SELECT event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS k_sum,
        |  min(CAST(props->>'$.k' AS INT)) AS k_min,
        |  max(CAST(props->>'$.k' AS INT)) AS k_max
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      events(s, d)
        .select(col("event_type"),
                get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
             min(col("k")).as("k_min"), max(col("k")).as("k_max"))
        .orderBy(col("event_type"))
    },

    // Spark 4 VARIANT shredding — the scale path for semi-structured
    // columns: parse ONCE into the binary variant encoding, then typed
    // path extraction (`variant_get`), instead of re-parsing the JSON
    // string per accessed field the way get_json_object does. At 100 TB
    // the difference is a parse per field vs a parse per row; shredded
    // variant scans also open the door to path pushdown. The nested
    // object is BUILT from integer columns with engine-identical string
    // concatenation (no float formatting ambiguity), so DuckDB's
    // json_extract over the same construction is an exact oracle for the
    // multi-level path semantics.
    Q("f_variant_shred",
      """WITH j AS (
        |  SELECT event_type, props,
        |    '{"u":' || CAST(user_id AS VARCHAR) || ',"e":{"k":' ||
        |      CAST(props->>'$.k' AS VARCHAR) || '}}' AS nested
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS k_sum,
        |  CAST(max(CAST(nested->>'$.e.k' AS INT)) AS INT) AS k_max_nested,
        |  CAST(sum(CAST(nested->>'$.u' AS BIGINT)) AS BIGINT) AS u_sum
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      // fan: two parse_json calls per row on a 1-file fixture scan —
      // JSON-parse CPU the conditional repartition spreads (no-op on
      // splittable multi-file input)
      Tables.fan(s, events(s, d))
        .select(col("event_type"),
          expr("parse_json(props)").as("v"),
          expr("""parse_json(concat('{"u":', cast(user_id as string),
                 |',"e":{"k":', cast(variant_get(parse_json(props), '$.k', 'int')
                 |  as string), '}}'))""".stripMargin).as("nv"))
        .select(col("event_type"),
          expr("variant_get(v, '$.k', 'int')").as("k"),
          expr("variant_get(nv, '$.e.k', 'int')").as("nk"),
          expr("variant_get(nv, '$.u', 'bigint')").as("u"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
          max(col("nk")).as("k_max_nested"), sum(col("u")).as("u_sum"))
        .orderBy(col("event_type"))
    },

    // Every output column is scalar: the driver's pandas compare sorts rows
    // by all columns, and raw array columns are unsortable/unhashable there.
    // Slice/filter/min/max semantics are still exercised — their results are
    // reduced to scalars (fold of the slice, element count, extrema).
    Q("f_array_funcs",
      """SELECT vec_id,
        |  len(embedding) AS dim,
        |  embedding[1] AS first_el,
        |  list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |              (a, b) -> a + b) AS el_sum,
        |  list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        |              (a, b) -> a + b) AS sq_sum,
        |  list_reduce(list_transform(embedding[1:4], x -> CAST(x AS DOUBLE)),
        |              (a, b) -> a + b) AS head4_sum,
        |  len(list_filter(embedding, x -> x > 0)) AS n_pos,
        |  list_aggregate(embedding, 'max') AS el_max,
        |  list_aggregate(embedding, 'min') AS el_min
        |FROM embeddings ORDER BY vec_id LIMIT 500""".stripMargin) { (s, d) =>
      // aggregate() is a left fold, as is DuckDB's list_reduce; folding in
      // DOUBLE over float32 elements is deterministic and engine-identical
      embeddings(s, d).select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          element_at(col("embedding"), 1).as("first_el"),
          aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double")).as("el_sum"),
          aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double")).as("sq_sum"),
          aggregate(slice(col("embedding"), 1, 4), lit(0.0),
            (acc, x) => acc + x.cast("double")).as("head4_sum"),
          size(filter(col("embedding"), x => x > lit(0f))).as("n_pos"),
          array_max(col("embedding")).as("el_max"),
          array_min(col("embedding")).as("el_min"))
        .orderBy(col("vec_id")).limit(500)
    },

    // Map functions: build → lookup → keys/size. Final columns are scalar so
    // the oracle compares plain values (DuckDB's map type differs in
    // representation; the lookups are what matters).
    Q("f_map_funcs",
      """SELECT doc_id,
        |  CAST(doc_id % 5 AS VARCHAR) AS a_val,
        |  CAST(doc_id % 3 AS VARCHAR) AS b_val,
        |  2 AS n_keys,
        |  'a,b' AS keys_joined
        |FROM documents ORDER BY doc_id LIMIT 500""".stripMargin) { (s, d) =>
      documents(s, d)
        .withColumn("m", expr(
          "str_to_map(concat('a:', doc_id % 5, ',b:', doc_id % 3), ',', ':')"))
        .select(col("doc_id"),
          element_at(col("m"), "a").as("a_val"),
          element_at(col("m"), "b").as("b_val"),
          size(col("m")).as("n_keys"),
          array_join(map_keys(col("m")), ",").as("keys_joined"))
        .orderBy(col("doc_id")).limit(500)
    },

    // Approximate aggregates as a GATE-CHECKED bound query: the sketches
    // (HLL, KLL-style quantiles) are engine-specific so their raw values
    // have no SQL oracle — but their ERROR CONTRACT does. The query emits
    // the exact values (oracle recomputes them) plus booleans asserting
    // the sketch landed inside its error envelope (oracle expects true) —
    // the production eval-job pattern for approximate operators, run by
    // the driver on real data instead of living only in a spec.
    // Plan note: the exact distinct counts run as their OWN two-level
    // aggregates (distinct→count) and crossJoin back as 1-row frames —
    // a single agg mixing two countDistincts with the sketch/percentile
    // aggregates would Expand the scan ×3 (one replica per distinct
    // group) and push every replica through the widened hash aggregate.
    // Under count()-driven timing that cost was invisible (Catalyst
    // prunes unused aggregates); the noop-sink action exposed it.
    Q("f_approx_agg",
      """SELECT count(DISTINCT l_orderkey) AS exact_orders,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  true AS orders_within_15pct,
        |  true AS parts_within_15pct,
        |  true AS p50_within_iqr,
        |  true AS p95_above_p50
        |FROM lineitem""".stripMargin) { (s, d) =>
      val li = lineitem(s, d)
      val exO = li.select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("exact_orders"))
      val exP = li.select(col("l_partkey")).distinct()
        .agg(count(lit(1)).as("exact_parts"))
      // The exact quartiles come from ScalarOps.exactPercentiles, not the
      // `percentile` aggregate: Percentile is a TypedImperativeAggregate
      // whose value->count OpenHashMap is merged by ONE final task —
      // l_extendedprice is ~97% distinct, so that task inserted ~583k
      // boxed doubles (stage-profiled at 1.8-2.5 s of this query's 3.5 s,
      // single-task). The kernel's value-count pre-aggregate + cumulative
      // window computes the identical interpolation (ApproxSpec pins
      // bit-equality against percentile() on random multisets) with the
      // heavy lifting in parallel codegen'd aggregates; at scale it is
      // also the shape that survives high-cardinality inputs — the
      // single-task map merge grows with distinct values, the window
      // holds only a running sum.
      li.agg(
          approx_count_distinct(col("l_orderkey")).as("approx_orders"),
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          percentile_approx(col("l_extendedprice"),
            array(lit(0.5), lit(0.95)), lit(1000)).as("pa"))
        .select(col("approx_orders"), col("approx_parts"),
          element_at(col("pa"), 1).as("p50_approx"),
          element_at(col("pa"), 2).as("p95_approx"))
        .crossJoin(broadcast(
          exactPercentiles(li, "l_extendedprice", Seq(0.25, 0.75))
            .select(element_at(col("pcts"), 1).as("p25_exact"),
              element_at(col("pcts"), 2).as("p75_exact"))))
        .crossJoin(broadcast(exO)).crossJoin(broadcast(exP))
        .select(col("exact_orders"), col("exact_parts"),
          (abs(col("approx_orders") - col("exact_orders")) / col("exact_orders")
            <= 0.15).as("orders_within_15pct"),
          (abs(col("approx_parts") - col("exact_parts")) / col("exact_parts")
            <= 0.15).as("parts_within_15pct"),
          (col("p50_approx") >= col("p25_exact") &&
            col("p50_approx") <= col("p75_exact")).as("p50_within_iqr"),
          (col("p95_approx") >= col("p50_approx")).as("p95_above_p50"))
    },

    // try_* safe arithmetic under ANSI mode: the sessions run ANSI-on
    // (div-by-zero and overflow THROW), so pipelines over dirty data need
    // the try_ family to degrade to NULL instead of failing the job. The
    // oracle expresses the same semantics with guard CASEs — which is
    // also what a pre-ANSI engine would write by hand.
    // NULL-ordering portability pin: Spark sorts NULLS FIRST on ASC and
    // NULLS LAST on DESC by default; DuckDB does the OPPOSITE (NULLS LAST
    // on ASC). Every ordered contract output elsewhere dodges this with
    // non-null sort keys; this query pins the explicit NULLS FIRST/LAST
    // forms that make ordered output portable when the key CAN be null.
    Q("f_null_ordering",
      """WITH v AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS val
        |  FROM events WHERE event_id < 300)
        |SELECT event_id, val,
        |  row_number() OVER (ORDER BY val ASC NULLS LAST, event_id) AS rn_asc_nl,
        |  row_number() OVER (ORDER BY val DESC NULLS FIRST, event_id) AS rn_desc_nf
        |FROM v ORDER BY event_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      events(s, d).where(col("event_id") < 300)
        .select(col("event_id"),
          when(col("event_id") % 7 === 0, lit(null).cast("double"))
            .otherwise(col("value")).as("val"))
        .withColumn("rn_asc_nl", row_number().over(
          Window.orderBy(col("val").asc_nulls_last, col("event_id"))))
        .withColumn("rn_desc_nf", row_number().over(
          Window.orderBy(col("val").desc_nulls_first, col("event_id"))))
        .orderBy(col("event_id"))
    },

    // Conditional / null-handling family: nullif, coalesce over generated
    // nulls, least/greatest clamping, tiered CASE, and division guarded by
    // nullif — the null-algebra every cleaning pipeline leans on. Pure
    // per-row codegen; every output is an input value, an integer, or one
    // IEEE op on identical inputs.
    Q("f_conditional_funcs",
      """SELECT l_orderkey, l_linenumber,
        |  nullif(l_quantity, 24.0) AS nz_qty,
        |  coalesce(nullif(l_quantity, 24.0), l_extendedprice) AS qty_or_price,
        |  least(greatest(l_quantity, 5.0), 45.0) AS clamped,
        |  CASE WHEN l_discount > 0.05 THEN 'H'
        |       WHEN l_discount > 0.02 THEN 'M' ELSE 'L' END AS tier,
        |  CAST(l_tax / nullif(l_discount, 0.0) AS DOUBLE) AS tax_per_disc
        |FROM lineitem WHERE l_orderkey < 500
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      lineitem(s, d).where(col("l_orderkey") < 500)
        .select(col("l_orderkey"), col("l_linenumber"),
          nullif(col("l_quantity"), lit(24.0)).as("nz_qty"),
          coalesce(nullif(col("l_quantity"), lit(24.0)), col("l_extendedprice"))
            .as("qty_or_price"),
          least(greatest(col("l_quantity"), lit(5.0)), lit(45.0)).as("clamped"),
          when(col("l_discount") > 0.05, "H")
            .when(col("l_discount") > 0.02, "M").otherwise("L").as("tier"),
          (col("l_tax") / nullif(col("l_discount"), lit(0.0)))
            .cast("double").as("tax_per_disc"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    Q("f_try_funcs",
      """SELECT event_id,
        |  CASE WHEN event_id % 7 = 0 THEN NULL
        |       ELSE CAST(value / (event_id % 7) AS DOUBLE) END AS safe_div,
        |  TRY_CAST(CASE WHEN event_id % 3 = 0 THEN 'not-a-number'
        |                ELSE CAST(event_id AS VARCHAR) END AS BIGINT) AS parsed,
        |  CASE WHEN event_id % 5 = 0 THEN NULL
        |       ELSE event_id * 1000000 END AS scaled,
        |  CASE WHEN 9223372036854775807 - event_id < 9223372036854775800 THEN NULL
        |       ELSE event_id END AS overflow_add
        |FROM events WHERE event_id < 2000 ORDER BY event_id""".stripMargin) { (s, d) =>
      events(s, d).where(col("event_id") < 2000)
        .select(col("event_id"),
          expr("try_divide(value, event_id % 7)").cast("double").as("safe_div"),
          expr("""try_cast(CASE WHEN event_id % 3 = 0 THEN 'not-a-number'
                 |              ELSE CAST(event_id AS STRING) END AS BIGINT)""".stripMargin)
            .as("parsed"),
          expr("CASE WHEN event_id % 5 = 0 THEN NULL ELSE try_multiply(event_id, 1000000L) END")
            .as("scaled"),
          when(try_add(col("event_id"), lit(9223372036854775800L)).isNull,
            lit(null).cast("long")).otherwise(col("event_id"))
            .as("overflow_add"))
        .orderBy(col("event_id"))
    },

    // statistical aggregates (variance/stddev/correlation), computed the
    // cross-engine-deterministic way: exact DECIMAL sums of x, x², y, xy
    // (map-side partials, associative merge), then ONE closed-form IEEE
    // expression per statistic — var = (Σx² - (Σx)²/n)/(n-1), corr from
    // the product-moment sums. Engines' built-in stddev/corr use
    // merge-order-dependent streaming updates (Welford/Chan), so their
    // raw outputs can drift in the last ulps run-to-run; here they are
    // gate-checked against the exact values with tolerance booleans
    // instead of hashed directly.
    Q("f_stats_funcs",
      """WITH s AS (
        |  SELECT l_returnflag,
        |    count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |    stddev_samp(l_quantity) AS builtin_sd,
        |    corr(l_quantity, l_extendedprice) AS builtin_corr
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round(sx / n, 6) AS mean_qty,
        |  round((sxx - sx * sx / n) / (n - 1), 6) AS var_qty,
        |  round(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS sd_qty,
        |  round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qty_price,
        |  abs(builtin_sd - sqrt((sxx - sx * sx / n) / (n - 1))) < 1e-6 AS builtin_sd_ok,
        |  abs(builtin_corr - (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))) < 1e-6 AS builtin_corr_ok
        |FROM s ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val dq = col("l_quantity").cast("decimal(18,2)")
      val dp = col("l_extendedprice").cast("decimal(18,2)")
      // fan: five DECIMAL(18,2) product aggregates per row on a 3-partition
      // fixture scan — spread the map-side partials across the cores (the
      // exact decimal sums are associative, so partitioning cannot change
      // them; the built-in stddev/corr feed tolerance booleans only)
      val base = Tables.fan(s, lineitem(s, d)).groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        sum(dq).cast("double").as("sx"),
        sum(dq * dq).cast("double").as("sxx"),
        sum(dp).cast("double").as("sy"),
        sum(dp * dp).cast("double").as("syy"),
        sum(dq * dp).cast("double").as("sxy"),
        stddev_samp(col("l_quantity")).as("builtin_sd"),
        corr(col("l_quantity"), col("l_extendedprice")).as("builtin_corr"))
      val varQty = (col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)
      val corrQ = (col("n") * col("sxy") - col("sx") * col("sy")) /
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
             (col("n") * col("syy") - col("sy") * col("sy")))
      // round(…,6): the sums are exact, but the one closed-form IEEE
      // expression per statistic can still land one ulp apart across
      // engines (multiply/divide chains are correctly rounded per OP, not
      // end to end). The rounding itself is also a divergence channel —
      // Spark rounds through BigDecimal.setScale while DuckDB computes
      // round(x*10^d)/10^d, and at d=10 those straddle a half-boundary
      // for ~1e-4 of doubles at these magnitudes; d=6 shrinks that by
      // ~10^4 and still far exceeds statistical meaning
      base.select(col("l_returnflag"), col("n"),
          round(col("sx") / col("n"), 6).as("mean_qty"),
          round(varQty, 6).as("var_qty"),
          round(sqrt(varQty), 6).as("sd_qty"),
          round(corrQ, 6).as("corr_qty_price"),
          (abs(col("builtin_sd") - sqrt(varQty)) < 1e-6).as("builtin_sd_ok"),
          (abs(col("builtin_corr") - corrQ) < 1e-6).as("builtin_corr_ok"))
        .orderBy(col("l_returnflag"))
    },

    // struct ordering as one-pass argmax/argmin: max(struct(measure, key))
    // compares lexicographically, so the extreme row's companion columns
    // come back WITHOUT a join-back or window — at scale this is a
    // map-side-combining aggregate instead of a second shuffle. The key
    // inside the struct makes ties deterministic. Oracle uses DuckDB's
    // named-struct max (and cross-checks with arg_max).
    Q("f_struct_funcs",
      """SELECT l_returnflag,
        |  CAST(max({'p': l_extendedprice, 'k': l_orderkey}).p AS DOUBLE) AS top_price,
        |  max({'p': l_extendedprice, 'k': l_orderkey}).k AS top_key,
        |  CAST(min({'p': l_extendedprice, 'k': l_orderkey}).p AS DOUBLE) AS low_price,
        |  min({'p': l_extendedprice, 'k': l_orderkey}).k AS low_key
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, d) =>
        val pk = struct(col("l_extendedprice").as("p"), col("l_orderkey").as("k"))
        lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(max(pk).as("mx"), min(pk).as("mn"))
          .select(col("l_returnflag"),
            col("mx.p").cast("double").as("top_price"), col("mx.k").as("top_key"),
            col("mn.p").cast("double").as("low_price"), col("mn.k").as("low_key"))
          .orderBy(col("l_returnflag"))
    },

    // bitwise scalar family (masks/shifts/xor/popcount) — the arithmetic
    // under every hash/signature operator in the suite, exercised as
    // first-class functions. Integer-exact, so cross-engine parity is
    // unconditional. (DuckDB's ^ is exponentiation — xor() is the
    // operator there, a classic portability trap this query pins.)
    Q("f_bitwise_funcs",
      """SELECT event_id,
        |  event_id & 255 AS masked,
        |  event_id | 4096 AS with_flag,
        |  xor(event_id, 987654321) AS xored,
        |  (event_id & 255) << 3 AS shifted_l,
        |  event_id >> 4 AS shifted_r,
        |  CAST(bit_count(event_id) AS BIGINT) AS popcount
        |FROM events WHERE event_id < 2000 ORDER BY event_id""".stripMargin) { (s, d) =>
      events(s, d).where(col("event_id") < 2000)
        .select(col("event_id"),
          col("event_id").bitwiseAND(lit(255L)).as("masked"),
          col("event_id").bitwiseOR(lit(4096L)).as("with_flag"),
          col("event_id").bitwiseXOR(lit(987654321L)).as("xored"),
          shiftleft(col("event_id").bitwiseAND(lit(255L)), 3).as("shifted_l"),
          shiftright(col("event_id"), 4).as("shifted_r"),
          bit_count(col("event_id")).cast("long").as("popcount"))
        .orderBy(col("event_id"))
    },

    // URL parsing (parse_url HOST/PATH/QUERY/keyed-QUERY + url_decode) —
    // the web-corpus provenance columns a crawl pipeline carries. URLs are
    // synthesized deterministically from the documents table; the oracle
    // states the expected components directly in string algebra, so Spark's
    // parser is checked against the URL grammar, not against itself.
    Q("f_url_funcs",
      """SELECT doc_id,
        |  source || '.example.org' AS host,
        |  '/corpus/' || CAST(doc_id AS VARCHAR) AS path,
        |  'lang=' || lang || '&q=a%20b%2Bc' AS query,
        |  lang AS lang_param,
        |  'a b+c' AS q_decoded
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d)
        .withColumn("url",
          concat(lit("https://"), col("source"), lit(".example.org/corpus/"),
                 col("doc_id"), lit("?lang="), col("lang"), lit("&q=a%20b%2Bc")))
        .select(col("doc_id"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY")).as("query"),
          parse_url(col("url"), lit("QUERY"), lit("lang")).as("lang_param"),
          url_decode(parse_url(col("url"), lit("QUERY"), lit("q")))
            .as("q_decoded"))
        .orderBy(col("doc_id"))
    },
  )
}
