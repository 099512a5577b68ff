package graft.ops

import org.apache.spark.sql.functions._

import graft.functions.SplitMix64.splitmix64
import graft.functions.VectorOps.word_ngrams
import graft.functions.TextStats.word_rep_stats

/** Training-data pipeline operators beyond the dedup/ANN/text families:
  * PII redaction, repetition-based quality filtering (the Gopher rules),
  * deterministic hash-routed dataset splits, and token-budget sequence
  * packing. All four are exactly oracle-checked — the split op leans on
  * the portable splitmix64 mixer (reproduced in DuckDB with HUGEINT
  * mod-2^64 arithmetic, like the simhash oracle).
  *
  * Scale notes per op are inline; none of them shuffles more than once,
  * and the only wide operations key on (doc) or (source) — the natural
  * partitioning of a 100 TB corpus.
  */
object PipelineOps {
  import Tables._

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  import SqlKernels.smixCtes

  private val packSequencesOracle =
    """WITH t AS (
      |  SELECT doc_id, source, len(regexp_extract_all(text, '\S+')) AS toks
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, toks,
      |    sum(toks) OVER (PARTITION BY source ORDER BY doc_id
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t)
      |SELECT source, CAST((cum - toks) // 4096 AS BIGINT) AS bin,
      |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS bin_tokens
      |FROM c GROUP BY source, bin ORDER BY source, bin""".stripMargin

  /** Below this row count a single per-source window prefix sum is cheaper
    * than the two-phase machinery (probe + checkpoint + subtotal shuffle);
    * above it, a window partitioned by source alone serializes each source
    * onto one task — fatal at 100 TB with a handful of sources. Same
    * hybrid-threshold pattern as DedupClustering's small-graph path. */
  private val packTwoPhaseMinRows = 1L << 20

  /** The packing hybrid's planning-time decision, exposed so the scale
    * smoke can assert the branch actually FLIPS on a large corpus
    * (true = two-phase distributed prefix sum, false = one per-source
    * window). Footer probe only — no Spark job. */
  def packTwoPhaseGate(s: org.apache.spark.sql.SparkSession, d: String): Boolean =
    Tables.parquetRowCount(s, d, "documents") >= packTwoPhaseMinRows

  /** One BloomFilterAggregate saturates at Spark's 4M-item / 2²⁶-bit
    * cap — past it fpp→1 and the decontam prefilter silently degrades
    * to the exact plan. Shards under the cap restore selectivity at
    * any eval-set size; exposed so the spec can force the sharded path
    * with a tiny cap. */
  private[graft] val BloomShardItemCap = 4000000L

  /** Ceiling on the sharded dispatch: each shard is ~8 MiB of PLAN
    * LITERAL (the filter bits ride the task binary through the CASE of
    * `might_contain`s), so the dispatch costs n × 8 MiB with growth
    * linear in the eval-battery size and no natural stop (ADVICE/verdict
    * r11). 32 shards ≈ 256 MiB task binary — the observed
    * `Broadcasting large task binary` scale the 13M decontam tier
    * already survived (~20 shards / ~160 MB) with margin, and enough
    * for a 128M-gram battery (≫ any real eval suite: 10⁵–10⁶ grams).
    * Past it the prefilter AUTO-DEGRADES to the narrow-lane exact hash
    * intersection (see [[bloomPrefiltered]]) — correctness-preserving
    * by construction at every tier (prefilters only ever prune
    * non-matches). */
  private[graft] val BloomShardMaxShards = 32L

  /** Ceiling on the degrade path's broadcast probe: the matched-hash
    * set (corpus grams ∩ eval grams, by 8-byte hash) broadcasts only
    * at or under this many entries — 32M × ~40 B/entry of hashed
    * relation ≈ 1.3 GB, comfortable under common 8–16 GB executors.
    * The gate reads the MEASURED intersection count, not an estimate:
    * the narrow intersection is materialized (and priced) before the
    * decision, the repo's probe-gated idiom. */
  private[graft] val BloomDegradeProbeMaxHashes = 32000000L

  /** ⌈est/cap⌉ — the shard-count law, split out for GateSpec. */
  private[graft] def bloomShardCount(estEvalGrams: Long,
      shardCap: Long = BloomShardItemCap): Long =
    math.max(1L, (estEvalGrams + shardCap - 1) / shardCap)

  /** Bloom-prefilter of a corpus frame's `gram` column: keeps rows whose
    * shard filter might contain the gram (false negatives impossible;
    * false positives are confirm-join traffic, never correctness).
    * Builds ⌈est/cap⌉ filters in ONE grouped aggregate over the eval
    * side, routing grams by `pmod(xxhash64(gram), n)`. n = 1 (every
    * fixture tier) is byte-identical to the single-filter plan the
    * oracle pins. On the sharded path the row's xxhash64 materializes
    * ONCE as a temp column — both the shard conditions and the taken
    * branch's might_contain read the attribute, so probe cost is one
    * hash per row at ANY shard count (the first-cut CASE recomputed
    * pmod(xxhash64(gram), n) per condition: measured ~12× slower at
    * n = 8 over a 50M-row probe, scale_smoke_r12_probes.json). A shard with
    * no eval grams builds no filter, and no gram routed there can
    * match, so the dispatch falls through to false. Past `maxShards`
    * the prefilter degrades to the NARROW-LANE exact path: intersect
    * the two sides' 8-byte gram hashes (neither exchange carries a
    * string — the r12 26M probe showed the naive keep-all degrade dies
    * on single-box disk exactly because the downstream confirm then
    * ships every corpus gram STRING), then gate on the MEASURED
    * intersection size: at or under `maxProbeHashes` the matched set
    * broadcasts and the corpus is probed map-side (zero corpus
    * shuffle — contamination being the exception is the decontam
    * contract, so this is the expected branch); past it, identity —
    * the shuffled string confirm is then genuinely a cluster-scale
    * plan (per-node exchange share 1/N). Hash equality is implied by
    * string equality, so the prefilter keeps every true match at any
    * tier; false positives are 64-bit collisions, confirmed away
    * downstream. */
  private[graft] def bloomPrefiltered(corpus: org.apache.spark.sql.DataFrame,
      evalGrams: org.apache.spark.sql.DataFrame,
      estEvalGrams: Long,
      shardCap: Long = BloomShardItemCap,
      maxShards: Long = BloomShardMaxShards,
      maxProbeHashes: Long = BloomDegradeProbeMaxHashes)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val nShards = bloomShardCount(estEvalGrams, shardCap)
    if (nShards > maxShards) {
      // envelope guard: past the shard ceiling the plan-literal cost has
      // no lid — take the narrow-lane exact degrade described above.
      // LAZY: the count() right below reads every partition, so it fills
      // the blocks in the same job that counts them
      val matched = Materialize(corpus.select(xxhash64(col("gram")).as("__bloom_h"))
        .distinct()
        .join(evalGrams.select(xxhash64(col("gram")).as("__bloom_h"))
          .distinct(), Seq("__bloom_h"), "left_semi"), eager = false)
      val nMatched = matched.count()
      println(s"bloomPrefiltered: est $estEvalGrams grams need $nShards " +
        s"shards > $maxShards cap — exact hash degrade, $nMatched matched " +
        (if (nMatched <= maxProbeHashes) "(broadcast probe)"
         else "(past probe cap: identity, exact confirm join does the work)"))
      return if (nMatched <= maxProbeHashes) {
        corpus.withColumn("__bloom_h", xxhash64(col("gram")))
          .join(broadcast(matched), Seq("__bloom_h"), "left_semi")
          .drop("__bloom_h")
      } else {
        Materialize.release(matched)
        corpus
      }
    }
    val gramHash = xxhash64(col("gram"))
    val perShard = math.min(shardCap,
      math.max(1L << 16, estEvalGrams / nShards + 1))
    val bitsPerShard = math.min(1L << 26, perShard * 16)
    def agg = ColumnShim.column(new BloomFilterAggregate(
      ColumnShim.expression(gramHash),
      Literal(perShard), Literal(bitsPerShard)).toAggregateExpression()).as("bf")
    def might(bf: Array[Byte], value: org.apache.spark.sql.Column) =
      ColumnShim.column(BloomFilterMightContain(
        Literal.create(bf, BinaryType), ColumnShim.expression(value)))
    if (nShards <= 1L) {
      val bloom = evalGrams.select(agg).head.getAs[Array[Byte]]("bf")
      require(bloom != null, "decontam_bloom: empty eval set — no bloom built")
      corpus.where(might(bloom, gramHash))
    } else {
      val blooms: Map[Int, Array[Byte]] = evalGrams
        .groupBy(pmod(gramHash, lit(nShards)).cast("int").as("shard")).agg(agg)
        .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]]("bf")).toMap
      require(blooms.nonEmpty, "decontam_bloom: empty eval set — no bloom built")
      val h = col("__bloom_h")
      val dispatch = blooms.foldLeft(lit(false)) { case (acc, (i, bf)) =>
        when(pmod(h, lit(nShards)).cast("int") === lit(i), might(bf, h))
          .otherwise(acc)
      }
      corpus.withColumn("__bloom_h", gramHash)
        .where(dispatch).drop("__bloom_h")
    }
  }

  /** Token-budget packing prefix sum, hybrid small/large path.
    *
    * The path decision reads the documents table's row count from the
    * parquet FOOTERS driver-side (Tables.parquetRowCount — no Spark job,
    * no tokenization). Small path: one window partitioned by
    * source — correct and fastest when every source fits a task. Large
    * path (or forced): TWO-PHASE distributed prefix sum — phase 1 splits
    * each source into ≤256 order-contiguous chunks of the sort key and
    * aggregates per-chunk token subtotals (map-side combine, one tiny
    * shuffle); the exclusive cumulative offsets over that planning-sized
    * frame are BROADCAST back; phase 2 runs the running sum within each
    * (source, chunk) — parallelism = sources × chunks, independent of
    * per-source volume — and adds the chunk's offset. Identical cum
    * values either way, same oracle. */
  private def packedBins(s: org.apache.spark.sql.SparkSession, d: String,
      forceTwoPhase: Boolean,
      toks: Option[org.apache.spark.sql.Column] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toksCol = toks.getOrElse(
        size(graft.functions.Tokenize.ws_tokens(col("text"))).cast("long"))
      .as("toks")
    val twoPhase = forceTwoPhase || packTwoPhaseGate(s, d)
    val binned =
      if (!twoPhase) {
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        documents(s, d).select(col("doc_id"), col("source"), toksCol)
          .withColumn("cum", sum(col("toks")).over(w))
      } else {
        // materialize the narrow (id, source, toks) projection ONCE
        // (eagerly): phase 1's subtotals, the chunk-width probe, and
        // phase 2's running sum all scan it, and re-deriving it would
        // tokenize the corpus once per consumer. A few bytes per doc —
        // the standard cluster-cacheable materialization of a distributed
        // prefix-sum input.
        val t = Materialize(documents(s, d)
          .select(col("doc_id"), col("source"), toksCol), eager = true)
        // planning-sized action (one max over the cached narrow frame):
        // chunk width giving ≤256 order-contiguous chunks across the id
        // domain
        val maxId = t.agg(max(col("doc_id"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r                  => r.getLong(0)
        }
        val chunkW = math.max(1L, (maxId + 256L) / 256L)
        val c = t.withColumn("chunk", expr(s"doc_id div ${chunkW}L"))
        // phase 1: per-(source, chunk) subtotals → exclusive running
        // offsets over the tiny subtotal frame only
        val offs = c.groupBy(col("source"), col("chunk"))
          .agg(sum(col("toks")).as("sub"))
          .withColumn("off", coalesce(
            sum(col("sub")).over(Window.partitionBy(col("source"))
              .orderBy(col("chunk"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("source"), col("chunk"), col("off"))
        // phase 2: intra-chunk running sum + broadcast offset
        val inChunk = Window.partitionBy(col("source"), col("chunk"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        c.join(broadcast(offs), Seq("source", "chunk"))
          .withColumn("cum", col("off") + sum(col("toks")).over(inChunk))
      }
    binned
      .select(col("source"), expr("(cum - toks) div 4096").as("bin"),
              col("toks"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("bin_tokens"))
      .orderBy(col("source"), col("bin"))
  }

  /** Decontamination's gram relations: every document's distinct 8-grams
    * as (doc_id, source, gram), and the distinct grams of the eval split
    * (doc_id ≡ 7 mod 10, the stand-in for an external benchmark suite).
    * Docs under 8 words contribute their whole text as one gram. */
  private def decontamGrams(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val grams = Tables.fan(s, documents(s, d))
      .select(col("doc_id"), col("source"),
        explode(word_ngrams(graft.functions.Tokenize.ws_tokens(col("text")), 8)).as("gram"))
    (grams, grams.where(col("doc_id") % 10 === 7).select(col("gram")).distinct())
  }

  /** Per-source decontamination report: the train docs (doc_id ≢ 7 mod 10)
    * left-joined to the distinct (doc_id, source) pairs of `contamGrams`,
    * the train grams an eval gram confirmed. */
  private def decontamReport(s: org.apache.spark.sql.SparkSession, d: String,
      contamGrams: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val contam = contamGrams.select(col("doc_id"), col("source")).distinct()
      .withColumn("is_contam", lit(1))
    documents(s, d).where(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"), col("source"))
      .join(contam, Seq("doc_id", "source"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train"),
        count(col("is_contam")).as("n_contaminated"),
        coalesce(sum(when(col("is_contam") === 1, col("doc_id"))), lit(0L))
          .as("contam_id_sum"))
      .orderBy(col("source"))
  }

  val all: Seq[Q] = Seq(

    // PII redaction: synthesize deterministic PII into each document (the
    // fixtures carry none), then strip emails and IPv4s. The md5 of the
    // redacted text pins the FULL output string cross-engine, not just the
    // counts. Pure per-row projection — embarrassingly parallel, stays in
    // one codegen stage at the scan.
    Q("text_pii_redact",
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    text || ' contact' || doc_id || '@example.com ip 10.0.' || (doc_id % 256) || '.1' AS t
         |  FROM documents),
         |red AS (
         |  SELECT doc_id, t,
         |    regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'), '$IpRe', '<IP>', 'g') AS r
         |  FROM aug)
         |SELECT doc_id,
         |  len(regexp_extract_all(t, '$EmailRe')) AS n_email,
         |  len(regexp_extract_all(t, '$IpRe')) AS n_ip,
         |  md5(r) AS redacted_md5
         |FROM red ORDER BY doc_id LIMIT 500""".stripMargin) { (s, d) =>
      Tables.fan(s, documents(s, d))
        .select(col("doc_id"),
          concat(col("text"), lit(" contact"), col("doc_id"), lit("@example.com ip 10.0."),
                 col("doc_id") % 256, lit(".1")).as("t"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit(EmailRe), lit(0))).as("n_email"),
          size(regexp_extract_all(col("t"), lit(IpRe), lit(0))).as("n_ip"),
          md5(regexp_replace(regexp_replace(col("t"), EmailRe, "<EMAIL>"),
                             IpRe, "<IP>")).as("redacted_md5"))
        .orderBy(col("doc_id")).limit(500)
    },

    // Repetition-based quality signals (Gopher-style): top-word fraction,
    // distinct-word fraction, duplicate-bigram fraction. ONE scan and ONE
    // shuffle: the per-doc array stats (word count, distinct-bigram count
    // via the deduping word_ngrams expression) are computed at the scan
    // and ride the explode as extra grouping keys — constants per doc, so
    // they add two ints per shuffle row instead of a second corpus-sized
    // aggregate joined back on doc_id (two shuffles + a sort-merge join
    // at 100 TB). Map-side combine collapses the explode to distinct
    // words per doc before the wire.
    Q("text_repetition",
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS wd FROM documents),
        |wc AS (SELECT doc_id, wd, count(*) AS c FROM w GROUP BY doc_id, wd),
        |ws AS (
        |  SELECT doc_id, CAST(max(c) AS BIGINT) AS topc,
        |    CAST(sum(c) AS BIGINT) AS total, count(*) AS n_distinct
        |  FROM wc GROUP BY doc_id),
        |bg AS (
        |  SELECT doc_id, len(w) AS nw, count(DISTINCT gram) AS n_bg FROM (
        |    SELECT doc_id, w,
        |      list_aggregate(w[CAST(u AS INT):CAST(u+1 AS INT)], 'string_agg', ' ') AS gram
        |    FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w), 2))) AS u
        |          FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS w FROM documents) t0))
        |  GROUP BY doc_id, len(w))
        |SELECT ws.doc_id,
        |  ws.total AS n_words,
        |  ws.topc / ws.total AS top_word_frac,
        |  ws.n_distinct / ws.total AS distinct_frac,
        |  CASE WHEN bg.nw < 2 THEN 0.0 ELSE 1.0 - bg.n_bg / (bg.nw - 1) END AS dup_bigram_frac
        |FROM ws JOIN bg ON ws.doc_id = bg.doc_id
        |ORDER BY ws.doc_id LIMIT 500""".stripMargin) { (s, d) =>
      // Zero-shuffle plan: word_rep_stats computes all four per-doc counts in
      // one native pass at the scan (vs. the naive explode → two-level groupBy,
      // which shuffles one row PER WORD of the corpus — the worst shuffle in
      // the pipeline at 100 TB). Empty docs are dropped to match the oracle's
      // unnest semantics (no words → no rows → absent from the join).
      Tables.fan(s, documents(s, d))
        .select(col("doc_id"),
          word_rep_stats(graft.functions.Tokenize.ws_tokens(col("text"))).as("st"))
        .select(col("doc_id"), col("st.n_bg").as("n_bg"),
          col("st.topc").as("topc"), col("st.total").as("total"),
          col("st.n_distinct").as("n_distinct"))
        .where(col("total") > 0)
        .select(col("doc_id"), col("total").as("n_words"),
          (col("topc") / col("total")).as("top_word_frac"),
          (col("n_distinct") / col("total")).as("distinct_frac"),
          when(col("total") < 2, lit(0.0))
            .otherwise(lit(1.0) - col("n_bg") / (col("total") - 1)).as("dup_bigram_frac"))
        .orderBy(col("doc_id")).limit(500)
    },

    // Deterministic hash-routed train/val/test split: bucket =
    // splitmix64(doc_id) mod 100 (sign bit dropped), 90/5/5. Stable across
    // runs, engines, and cluster sizes; uncorrelated with id order —
    // the properties `pmod(id, 100)` and rand() each lack. Routing is a
    // projection; the only shuffle is the audit aggregate.
    Q("split_assign",
      s"""WITH s0 AS (SELECT doc_id, source, CAST(doc_id AS HUGEINT) AS z FROM documents),
         |${smixCtes("s", "s0", "doc_id, source")},
         |b AS (
         |  SELECT source,
         |    CASE WHEN (z % 9223372036854775808) % 100 < 90 THEN 'train'
         |         WHEN (z % 9223372036854775808) % 100 < 95 THEN 'val'
         |         ELSE 'test' END AS split,
         |    doc_id
         |  FROM s6)
         |SELECT source, split, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM b GROUP BY source, split ORDER BY source, split""".stripMargin) { (s, d) =>
      val bucket = (splitmix64(col("doc_id"))
        .bitwiseAND(lit(Long.MaxValue)) % 100)
      documents(s, d)
        .select(col("source"), col("doc_id"),
          when(bucket < 90, "train").when(bucket < 95, "val")
            .otherwise("test").as("split"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("source"), col("split"))
    },

    // Weighted corpus mixing — per-domain sampling rates, the data-mixture
    // knob of every pretraining run (upsample books, downsample web).
    // Deterministic: a document is kept iff splitmix64(doc_id) lands below
    // its source's rate threshold — a pure projection at the scan (like
    // split_assign, the mix is a filter, not a shuffle), reproducible
    // across runs/cluster sizes, and composable with the split: the SAME
    // hash with a different modulus window would correlate with
    // split_assign's buckets, so the mixer hashes doc_id+1 (independent
    // stream from the same portable kernel). Rates here derive from the
    // source name (len % 3 → 25/50/75%) so the oracle states them too.
    Q("corpus_mix_sample",
      s"""WITH s0 AS (SELECT doc_id, source, CAST(doc_id + 1 AS HUGEINT) AS z FROM documents),
         |${smixCtes("m", "s0", "doc_id, source")},
         |r AS (
         |  SELECT doc_id, source,
         |    CASE length(source) % 3 WHEN 0 THEN 25 WHEN 1 THEN 50 ELSE 75 END AS rate_pct,
         |    CAST((z % 9223372036854775808) % 100 AS BIGINT) AS bucket
         |  FROM m6)
         |SELECT source, max(rate_pct) AS rate_pct, count(*) AS n_docs,
         |  count(*) FILTER (WHERE bucket < rate_pct) AS n_kept,
         |  CAST(coalesce(sum(doc_id) FILTER (WHERE bucket < rate_pct), 0) AS BIGINT) AS kept_id_sum
         |FROM r GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val bucket = (splitmix64(col("doc_id") + 1)
        .bitwiseAND(lit(Long.MaxValue)) % 100)
      val rate = (length(col("source")) % 3)
      documents(s, d)
        .select(col("source"), col("doc_id"),
          when(rate === 0, 25).when(rate === 1, 50).otherwise(75).as("rate_pct"),
          bucket.as("bucket"))
        .groupBy(col("source"))
        .agg(max(col("rate_pct")).as("rate_pct"),
             count(lit(1)).as("n_docs"),
             count(when(col("bucket") < col("rate_pct"), 1)).as("n_kept"),
             coalesce(sum(when(col("bucket") < col("rate_pct"), col("doc_id"))),
               lit(0L)).as("kept_id_sum"))
        .orderBy(col("source"))
    },

    // TEMPERATURE-rebalanced domain mixing — the standard pretraining mix
    // knob (sampled share ∝ p_s^τ): big domains are down-weighted, small
    // ones surfaced, here at τ = 0.5, so the keep-rate per source is
    // p^(τ−1) = 1/sqrt(p) normalized so the SMALLEST source keeps
    // everything: rate_s = sqrt(n_min / n_s). Unlike the general-τ
    // exp/ln form, τ = 1/2 needs only sqrt, divide and a power-of-two
    // scale — ALL correctly-rounded IEEE ops — so the keep decision
    // h>>10 < rate·2^53 is bit-identical across engines as a THEOREM (the
    // 53-bit hash and rate·2^53 are both exact doubles; no ulp boundary
    // exists to disagree on). Scale: source counts are domain-grained
    // (bounded, broadcastable BY DEFINITION — unlike a vocabulary), the
    // mask is a projection over one corpus scan, and the audit is one
    // per-source aggregate. The hash lane (doc_id + 2) is independent of
    // the split/mix/weighted lanes so the knobs compose.
    Q("corpus_mix_temperature",
      s"""WITH s0 AS (SELECT doc_id, source, CAST(doc_id + 2 AS HUGEINT) AS z FROM documents),
         |${smixCtes("t", "s0", "doc_id, source")},
         |hh AS (SELECT doc_id, source,
         |         CAST((z % 9223372036854775808) // 1024 AS BIGINT) AS h53
         |       FROM t6),
         |c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
         |mn AS (SELECT CAST(min(n_s) AS DOUBLE) AS n_min FROM c),
         |r AS (SELECT c.source, sqrt(mn.n_min / CAST(c.n_s AS DOUBLE)) AS rate
         |      FROM c CROSS JOIN mn),
         |k AS (SELECT hh.doc_id, hh.source, r.rate, hh.h53
         |      FROM hh JOIN r ON hh.source = r.source)
         |SELECT source, max(round(rate, 6)) AS rate_r, count(*) AS n_docs,
         |  count(*) FILTER (WHERE CAST(h53 AS DOUBLE) < rate * 9007199254740992) AS n_kept,
         |  CAST(coalesce(sum(doc_id) FILTER (
         |    WHERE CAST(h53 AS DOUBLE) < rate * 9007199254740992), 0) AS BIGINT) AS kept_id_sum
         |FROM k GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val counts = documents(s, d).groupBy(col("source"))
        .agg(count(lit(1)).as("n_s"))
      // the corpus-wide minimum rides the plan as a broadcast 1-row frame
      val nMin = counts.agg(min(col("n_s")).cast("double").as("n_min"))
      val rates = counts.crossJoin(broadcast(nMin))
        .select(col("source"),
          sqrt(col("n_min") / col("n_s").cast("double")).as("rate"))
      val kept = shiftright(splitmix64(col("doc_id") + 2)
          .bitwiseAND(lit(Long.MaxValue)), 10).cast("double") <
        col("rate") * lit(9007199254740992.0)
      documents(s, d)
        .select(col("source"), col("doc_id"))
        .join(broadcast(rates), Seq("source"))
        .groupBy(col("source"))
        .agg(max(round(col("rate"), 6)).as("rate_r"),
          count(lit(1)).as("n_docs"),
          count(when(kept, 1)).as("n_kept"),
          coalesce(sum(when(kept, col("doc_id"))), lit(0L)).as("kept_id_sum"))
        .orderBy(col("source"))
    },

    // Exact-n WEIGHTED sampling without replacement — the missing corner of
    // the sampling family (split_assign routes, corpus_mix_sample is
    // Bernoulli-by-rate, stratified_exact_n is exact-n UNweighted). The
    // classic A-ES exponential race (key = u^(1/w), take top-n) needs ln()
    // — engine-divergent at the ulp level, fatal for a hash oracle — so
    // this uses the integer-exact equivalent: each document draws
    // w independent uniforms (splitmix64 streams doc_id*16+j+3, an
    // independent lane vs the split/mix hashes) and races on the MINIMUM.
    // P(doc takes the global minimum) = w/Σw exactly (min of w iid
    // uniforms ~ Beta(1, w)); the bottom-n keys generalize to
    // without-replacement sampling the same way A-ES does. Deterministic,
    // pure integer arithmetic, reproducible in DuckDB's HUGEINT kernel.
    // Scale shape: one explode(≤w_max) projection at the scan, a map-side-
    // combined min per doc, then TakeOrdered(n) — no global sort, no
    // shuffle beyond the one min aggregation. Integer weights 1/2/4/8
    // derive from the source name so the oracle states them identically.
    Q("sample_weighted_topn",
      s"""WITH wsrc AS (
         |  SELECT doc_id, source,
         |    CASE length(source) % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
         |                            WHEN 2 THEN 4 ELSE 8 END AS w
         |  FROM documents),
         |s0 AS (
         |  SELECT doc_id, source, w,
         |    CAST(doc_id * 16 + u + 3 AS HUGEINT) AS z
         |  FROM (SELECT doc_id, source, w, unnest(range(0, w)) AS u FROM wsrc) t),
         |${smixCtes("wk", "s0", "doc_id, source, w")},
         |keys AS (
         |  SELECT doc_id, source, w,
         |    CAST(min(z % 9223372036854775808) AS BIGINT) AS k
         |  FROM wk6 GROUP BY doc_id, source, w),
         |top AS (
         |  SELECT doc_id, source, w, k,
         |    row_number() OVER (ORDER BY k, doc_id) AS rank
         |  FROM keys ORDER BY k, doc_id LIMIT 100)
         |SELECT rank, doc_id, source, w, k FROM top ORDER BY rank""".stripMargin) {
      (s, d) =>
      val w = when(length(col("source")) % 4 === 0, 1)
        .when(length(col("source")) % 4 === 1, 2)
        .when(length(col("source")) % 4 === 2, 4).otherwise(8)
      val keys = documents(s, d)
        .select(col("doc_id"), col("source"), w.as("w"))
        .withColumn("j", explode(sequence(lit(0), col("w") - 1)))
        .withColumn("lane",
          splitmix64((col("doc_id") * 16 + col("j") + 3).cast("long"))
            .bitwiseAND(lit(Long.MaxValue)))
        .groupBy(col("doc_id"), col("source"), col("w"))
        .agg(min(col("lane")).as("k"))
      val rw = org.apache.spark.sql.expressions.Window
        .orderBy(col("k"), col("doc_id"))
      // orderBy+limit plans as TakeOrderedAndProject; the row_number window
      // runs over the 100-row prefix only
      keys.orderBy(col("k"), col("doc_id")).limit(100)
        .withColumn("rank", row_number().over(rw))
        .select(col("rank"), col("doc_id"), col("source"), col("w"), col("k"))
        .orderBy(col("rank"))
    },

    // The composed corpus-cleaning decision a training pipeline actually
    // ships: length gate ∧ repetition gates ∧ exact-dup canonicalization,
    // as ONE mask. Everything except the canonical check is a per-row
    // expression at the scan; the canonical id is a min-window over
    // (source, text) — a single shuffle for the whole chain. The audit
    // aggregate reports per-source keep counts and an id checksum.
    Q("corpus_keep_mask",
      """WITH w AS (
        |  SELECT doc_id, source, text,
        |    regexp_extract_all(text, '\S+') AS wa
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, source, text, len(wa) AS nw,
        |    CASE WHEN len(wa) = 0 THEN 0.0
        |         ELSE len(list_distinct(wa)) / len(wa) END AS dfrac,
        |    CASE WHEN len(wa) < 2 THEN 0.0
        |         ELSE 1.0 - len(list_distinct(
        |                list_transform(range(1, len(wa)), u -> wa[u] || ' ' || wa[u+1])))
        |              / (len(wa) - 1) END AS bfrac
        |  FROM w),
        |canon AS (
        |  SELECT *, min(doc_id) OVER (PARTITION BY source, text) AS canon_id FROM st),
        |mask AS (
        |  SELECT source, doc_id,
        |    (nw >= 10 AND dfrac >= 0.5 AND bfrac <= 0.3 AND doc_id = canon_id) AS keep
        |  FROM canon)
        |SELECT source, count(*) AS n_docs,
        |  CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_keep,
        |  CAST(coalesce(sum(doc_id) FILTER (WHERE keep), 0) AS BIGINT) AS keep_id_sum
        |FROM mask GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val wa = graft.functions.Tokenize.ws_tokens(col("text"))
      val masked = Tables.fan(s, documents(s, d))
        .select(col("doc_id"), col("source"), col("text"),
          size(wa).as("nw"),
          when(size(wa) === 0, lit(0.0))
            .otherwise(size(array_distinct(wa)) / size(wa)).as("dfrac"),
          when(size(wa) < 2, lit(0.0))
            .otherwise(lit(1.0) - size(word_ngrams(wa, 2)) / (size(wa) - 1)).as("bfrac"))
        .withColumn("canon_id",
          min(col("doc_id")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("source"), col("text"))))
        .select(col("source"), col("doc_id"),
          (col("nw") >= 10 && col("dfrac") >= 0.5 && col("bfrac") <= 0.3 &&
            col("doc_id") === col("canon_id")).as("keep"))
      masked.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("keep"), 1)).as("n_keep"),
          coalesce(sum(when(col("keep"), col("doc_id"))), lit(0L)).as("keep_id_sum"))
        .orderBy(col("source"))
    },

    // The SQL-text surface: a query authored as plain SQL against the
    // session's registered extension functions (GraftExtensions injects
    // splitmix64 / word_ngrams / simhash64 / ... into the function
    // registry). Proves a SQL-only user of the library gets the same
    // verified semantics as the DataFrame API — the native expressions
    // are ordinary Catalyst nodes either way.
    Q("sql_text_surface",
      s"""WITH s0 AS (SELECT doc_id, source, CAST(doc_id AS HUGEINT) AS z FROM documents),
         |${SqlKernels.smixCtes("x", "s0", "doc_id, source")},
         |mix AS (SELECT doc_id, source, CAST(z % 256 AS BIGINT) AS b FROM x6),
         |g AS (
         |  SELECT doc_id,
         |    len(list_distinct(list_transform(range(1, greatest(len(w) - 1, 2)),
         |        u -> list_aggregate(w[CAST(u AS INT):CAST(u+2 AS INT)], 'string_agg', ' ')))) AS n_grams
         |  FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w FROM documents) t)
         |SELECT m.source, count(*) AS n,
         |  CAST(sum(m.b) AS BIGINT) AS mix_sum,
         |  CAST(sum(g.n_grams) AS BIGINT) AS gram_sum
         |FROM mix m JOIN g ON m.doc_id = g.doc_id
         |GROUP BY m.source ORDER BY m.source""".stripMargin) { (s, d) =>
      graft.functions.GraftExtensions.attach(s) // SQL names on any session
      documents(s, d).createOrReplaceTempView("graft_documents_v")
      s.sql(
        """SELECT source, count(*) AS n,
          |  CAST(sum(splitmix64(doc_id) & 255) AS BIGINT) AS mix_sum,
          |  CAST(sum(size(word_ngrams(regexp_extract_all(text, '\\S+', 0), 3))) AS BIGINT) AS gram_sum
          |FROM graft_documents_v
          |GROUP BY source ORDER BY source""".stripMargin)
    },

    // Token-budget sequence packing: within each source, documents in
    // doc_id order fill 4096-token bins (bin = floor(tokens-before /
    // budget) — the streaming-friendly first-fit-in-order packing).
    // Hybrid prefix sum (see packedBins): single per-source window below
    // the row threshold, two-phase distributed prefix sum above it; the
    // forced-two-phase sibling query keeps the scale path itself under
    // the oracle gate (the dedup_cluster_starjoin pattern).
    Q("pack_sequences", packSequencesOracle) { (s, d) =>
      packedBins(s, d, forceTwoPhase = false)
    },

    // The SAME contract, two-phase path FORCED (threshold 0): pins the
    // 100-TB shape — per-(source, chunk) subtotals, broadcast offsets,
    // parallelism = sources × chunks — against the identical oracle.
    Q("pack_sequences_twophase", packSequencesOracle) { (s, d) =>
      packedBins(s, d, forceTwoPhase = true)
    },

    // Packing on REAL token budgets: the same prefix-sum machinery, but
    // `toks` is the BPE-encoded token count from the learned merge list
    // (TextOps.bpeMergeList — memoized, so the tokenizer trains once per
    // session and this query pays encode only). This is the composition
    // the trained tokenizer exists for: whitespace-proxy lengths
    // over-budget bins exactly where text is merge-dense; packing on
    // encoded counts is what a production pipeline ships to the trainer.
    Q("pack_sequences_bpe",
      s"""WITH ${graft.ops.TextOps.bpeMergeSqlCtes},
         |t AS (
         |  SELECT doc_id, source,
         |    coalesce(list_sum(list_transform(wa,
         |      x -> len(${graft.ops.TextOps.bpeEncodeOracleExpr("x")}))), 0) AS toks
         |  FROM wbpe CROSS JOIN bp8),
         |c AS (
         |  SELECT doc_id, source, toks,
         |    sum(toks) OVER (PARTITION BY source ORDER BY doc_id
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT source, CAST((cum - toks) // 4096 AS BIGINT) AS bin,
         |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS bin_tokens
         |FROM c GROUP BY source, bin ORDER BY source, bin""".stripMargin) { (s, d) =>
      // one bpe_counts kernel pass per doc replaces the interpreted
      // nested-replace aggregate lambda (and its regexp tokenize) — the
      // r12 deferred item #6; TokenizeSpec pins the encode semantics
      packedBins(s, d, forceTwoPhase = false, toks = Some(
        graft.functions.Tokenize.bpe_counts(
          graft.functions.Tokenize.alpha_runs(lower(col("text"))),
          graft.ops.TextOps.bpeMergeList(s, d)).getField("n_tokens")))
    },

    // Deterministic global corpus shuffle — the "shuffle the training data"
    // op. Order = splitmix64(doc_id): reproducible across runs/engines/
    // cluster sizes, uncorrelated with ingestion order, and executed as a
    // range-partitioned total sort over uniformly-distributed keys (no
    // skew by construction) — the only scalable way to permute 100 TB.
    // The position index is the row's global offset in the shuffled order.
    Q("global_shuffle",
      s"""WITH s0 AS (SELECT doc_id, source, CAST(doc_id AS HUGEINT) AS z FROM documents),
         |${smixCtes("g", "s0", "doc_id, source")},
         |o AS (SELECT doc_id, source, CAST(z % 9223372036854775808 AS BIGINT) AS shuffle_key FROM g6)
         |SELECT row_number() OVER (ORDER BY shuffle_key, doc_id) AS pos,
         |  doc_id, source, shuffle_key
         |FROM o ORDER BY pos LIMIT 500""".stripMargin) { (s, d) =>
      // top-k FIRST (TakeOrderedAndProject — per-partition heads merged on
      // the driver), THEN number the bounded result: a row_number over an
      // unpartitioned window would funnel the whole corpus through one
      // partition. The full-permutation write path at scale is the same
      // sort as a range-partitioned write (positions implicit in file
      // order); the contract query surfaces its verifiable prefix.
      val key = splitmix64(col("doc_id")).bitwiseAND(lit(Long.MaxValue))
      documents(s, d)
        .select(col("doc_id"), col("source"), key.as("shuffle_key"))
        .orderBy(col("shuffle_key"), col("doc_id")).limit(500)
        .withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("shuffle_key"), col("doc_id"))))
        .select(col("pos").cast("long").as("pos"),
          col("doc_id"), col("source"), col("shuffle_key"))
        .orderBy(col("pos"))
    },

    // Benchmark decontamination: flag training documents that share any
    // 8-gram with the held-out eval set (here: doc_id ≡ 7 mod 10 — the
    // stand-in for an external benchmark suite). The eval side of the join
    // is tiny by construction (benchmarks are MBs, corpora are TBs), so
    // the plan is explode-train-grams → BROADCAST semi-join against the
    // distinct eval grams → distinct contaminated doc ids: one pass over
    // the corpus, no corpus-sized shuffle on the gram key.
    // Degenerate docs (<8 words) contribute their whole text as one gram,
    // mirroring word_ngrams' convention in both engines.
    Q("decontam_ngram_overlap",
      """WITH w AS (
        |  SELECT doc_id, source, regexp_extract_all(text, '\S+') AS wa FROM documents),
        |g AS (
        |  SELECT doc_id, source, unnest(
        |    CASE WHEN len(wa) = 0 THEN []
        |         WHEN len(wa) < 8 THEN [array_to_string(wa, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(wa) - 6),
        |                u -> array_to_string(wa[CAST(u AS INT):CAST(u+7 AS INT)], ' ')))
        |    END) AS gram
        |  FROM w),
        |eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 7),
        |contam AS (
        |  SELECT DISTINCT g.doc_id, g.source
        |  FROM g JOIN eg ON g.gram = eg.gram
        |  WHERE g.doc_id % 10 <> 7),
        |train AS (SELECT doc_id, source FROM documents WHERE doc_id % 10 <> 7)
        |SELECT t.source, count(*) AS n_train,
        |  CAST(count(c.doc_id) AS BIGINT) AS n_contaminated,
        |  CAST(coalesce(sum(c.doc_id), 0) AS BIGINT) AS contam_id_sum
        |FROM train t LEFT JOIN contam c
        |  ON t.doc_id = c.doc_id AND t.source = c.source
        |GROUP BY t.source ORDER BY t.source""".stripMargin) { (s, d) =>
      val (grams, evalGrams) = decontamGrams(s, d)
      decontamReport(s, d, grams.where(col("doc_id") % 10 =!= 7)
        .join(broadcast(evalGrams), Seq("gram"), "left_semi"))
    },

    // Decontamination, BLOOM-PREFILTER flavor — the same contract as
    // decontam_ngram_overlap, but the plan a 100 TB corpus needs when the
    // eval-gram set outgrows a broadcast HASH relation (a full benchmark
    // battery's 8-gram set can reach tens of GB of strings; its BLOOM
    // FILTER is megabytes — bits, not entries). Shape: (1) aggregate the
    // eval grams into one bloom filter (BloomFilterAggregate over
    // xxhash64(gram), the same kernel Spark's own runtime row-filters
    // use); the 1 MiB binary is collected driver-side exactly like Spark
    // materializes a runtime-filter's scalar subquery, then rides the
    // corpus scan as a foldable literal predicate — might_contain is
    // cheap bit-probing INSIDE whole-stage codegen, before any exchange;
    // (2) survivors (true contaminations + ~e-digit false-positive rate)
    // are exact-confirmed with a SHUFFLED semi-join against the eval
    // grams — keyed work ∝ bloom survivors, not corpus grams. False
    // positives cost only confirm-join traffic, never correctness, so
    // the oracle is decontam_ngram_overlap's verbatim.
    Q("decontam_bloom",
      """WITH w AS (
        |  SELECT doc_id, source, regexp_extract_all(text, '\S+') AS wa FROM documents),
        |g AS (
        |  SELECT doc_id, source, unnest(
        |    CASE WHEN len(wa) = 0 THEN []
        |         WHEN len(wa) < 8 THEN [array_to_string(wa, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(wa) - 6),
        |                u -> array_to_string(wa[CAST(u AS INT):CAST(u+7 AS INT)], ' ')))
        |    END) AS gram
        |  FROM w),
        |eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 7),
        |contam AS (
        |  SELECT DISTINCT g.doc_id, g.source
        |  FROM g JOIN eg ON g.gram = eg.gram
        |  WHERE g.doc_id % 10 <> 7),
        |train AS (SELECT doc_id, source FROM documents WHERE doc_id % 10 <> 7)
        |SELECT t.source, count(*) AS n_train,
        |  CAST(count(c.doc_id) AS BIGINT) AS n_contaminated,
        |  CAST(coalesce(sum(c.doc_id), 0) AS BIGINT) AS contam_id_sum
        |FROM train t LEFT JOIN contam c
        |  ON t.doc_id = c.doc_id AND t.source = c.source
        |GROUP BY t.source ORDER BY t.source""".stripMargin) { (s, d) =>
      val (grams, evalGrams) = decontamGrams(s, d)
      // The bloom build is SIZED from the documents footer row count
      // (driver-side metadata, no Spark job — the pack_sequences probe
      // pattern): ~6 distinct eval grams per corpus doc (10% eval rate ×
      // ~60 grams/doc), 16 bits per item. Spark's BloomFilterAggregate
      // caps ONE filter at 4M items / 2²⁶ bits (8 MiB) — past the cap
      // fpp→1 and the prefilter silently degrades to the exact plan
      // (measured: 1179 s at the 13M-doc/65M-gram tier vs 36 s in-cap).
      // So past the cap the filter goes HASH-SHARDED: grams route to
      // ⌈est/4M⌉ blooms by pmod(xxhash64(gram), n) — ONE grouped
      // aggregate builds every shard (still eval-side-only work), each
      // shard stays under the cap, and a corpus gram probes ONLY its
      // own shard's filter via a shard-dispatched CASE of literal
      // might_contains (n × 8 MiB of plan literals — bits, not entries;
      // ~20 shards at 13M docs ⇒ ~160 MB task binary, the price of
      // restoring prefilter selectivity at any benchmark-battery size).
      // Every fixture tier sits far under the cap ⇒ single-bloom path,
      // byte-identical to the pre-shard plan the oracle pins.
      val estEvalGrams =
        math.max(1L << 16, Tables.parquetRowCount(s, d, "documents") * 6)
      val survivors = bloomPrefiltered(
        grams.where(col("doc_id") % 10 =!= 7), evalGrams, estEvalGrams)
      // exact confirm: MERGE pins the no-broadcast scale shape — at
      // fixture size AQE would happily broadcast eval grams, which is
      // exactly the plan this flavor exists to avoid. It must be
      // sort-merge, not SHUFFLE_HASH: the eval-gram side GROWS with the
      // benchmark battery (here with the corpus — 10% of docs), and a
      // shuffled-hash build cannot spill — the forced-SHJ version died
      // at the 13M-doc tier with "not enough memory to build hash map"
      // (UnsafeHashedRelation per-partition build, 32 tasks competing).
      // SMJ spills both sides; confirm traffic stays ∝ bloom survivors.
      decontamReport(s, d,
        survivors.join(evalGrams.hint("MERGE"), Seq("gram"), "left_semi"))
    },

    // Vocabulary construction + OOV audit — the tokenizer-training precursor:
    // rank words by corpus frequency (ties broken lexically, so the cut is a
    // total order), keep the top 16 as the vocabulary, and measure each
    // source's out-of-vocabulary token rate. One (word) shuffle builds the
    // counts; the vocab cut is a top-k (TakeOrdered, never a global sort);
    // the OOV audit joins the corpus tokens against the BROADCAST vocab —
    // a vocabulary is small by definition, so the audit is one map-side
    // pass at any corpus size.
    Q("vocab_coverage",
      """WITH t AS (
        |  SELECT source, unnest(regexp_extract_all(text, '\S+')) AS wd FROM documents),
        |wc AS (SELECT wd, count(*) AS c FROM t GROUP BY wd),
        |v AS (SELECT wd FROM wc ORDER BY c DESC, wd LIMIT 16)
        |SELECT t.source, count(*) AS n_tokens,
        |  CAST(count(*) FILTER (WHERE v.wd IS NULL) AS BIGINT) AS n_oov,
        |  count(*) FILTER (WHERE v.wd IS NULL) / count(*) AS oov_rate
        |FROM t LEFT JOIN v ON t.wd = v.wd
        |GROUP BY t.source ORDER BY t.source""".stripMargin) { (s, d) =>
      val toks = Tables.fan(s, documents(s, d))
        .select(col("source"),
          explode(graft.functions.Tokenize.ws_tokens(col("text"))).as("wd"))
      val vocab = toks.groupBy(col("wd")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("wd")).limit(16)
        .select(col("wd"), lit(1).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("wd"), "left_outer")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("in_vocab").isNull, 1)).as("n_oov"),
          (count(when(col("in_vocab").isNull, 1)) / count(lit(1))).as("oov_rate"))
        .orderBy(col("source"))
    },

    // DSIR-style importance weights — Data Selection via Importance
    // Resampling (Xie et al. 2023): score each document by how much more
    // likely its tokens are under a TARGET-domain unigram model than under
    // the raw-corpus model, log w(x) = Σ_w c_x(w)·(ln p_t(w) − ln p_r(w))
    // with Laplace smoothing over the corpus vocabulary. The weights feed
    // weighted sampling (sample_weighted_topn) to tilt a raw crawl toward
    // a target domain — here target = source 'src0'. Scale: ONE corpus
    // (doc,word) shuffle builds tf; both LMs and the vocabulary DERIVE
    // from that aggregate (vocab-sized frames, never a second corpus
    // pass); the scoring join is equi-keyed on the word and deliberately
    // unhinted — a web corpus's vocabulary is not broadcastable (the
    // tfidf dictum), and AQE may still demote the exchange when the
    // measured vocab is small. Determinism: counts are exact integers,
    // each c·llr term goes through DECIMAL(30,12) before the per-doc sum
    // (merge-order-proof), and the final weight rounds to 4 digits to
    // absorb ln() ulps (text_char_entropy pattern).
    Q("dsir_importance",
      """WITH tok AS (
        |  SELECT doc_id, source, unnest(regexp_extract_all(text, '\S+')) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, source, w, count(*) AS c FROM tok GROUP BY 1, 2, 3),
        |cr AS (SELECT w, sum(c) AS cr FROM tf GROUP BY w),
        |ct AS (SELECT w, sum(c) AS ct FROM tf WHERE source = 'src0' GROUP BY w),
        |tot AS (SELECT CAST(sum(cr) AS DOUBLE) AS nr, CAST(count(*) AS DOUBLE) AS v FROM cr),
        |tt AS (SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) AS nt FROM ct),
        |lm AS (
        |  SELECT cr.w,
        |    ln((coalesce(ct.ct, 0) + 1) / (tt.nt + tot.v))
        |      - ln((cr.cr + 1) / (tot.nr + tot.v)) AS llr
        |  FROM cr LEFT JOIN ct ON cr.w = ct.w CROSS JOIN tot CROSS JOIN tt)
        |SELECT tf.doc_id, CAST(sum(tf.c) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(CAST(CAST(tf.c AS DOUBLE) * lm.llr AS DECIMAL(30,12))) AS DOUBLE), 4) + 0 AS log_weight
        |FROM tf JOIN lm ON tf.w = lm.w
        |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin) { (s, d) =>
      // the (doc,word) relation is keyed on xxhash64(word), not the word
      // string — the gram-index trick: the tf shuffle and every LM key
      // drops from ~35 bytes to 8 (collisions at 30k-word vocab are
      // ~2⁻⁴⁸-scale — immaterial; the oracle stays string-keyed and the
      // hash-green gate IS the collision check)
      val toks = Tables.fan(s, documents(s, d))
        .select(col("doc_id"), col("source"),
          explode(graft.functions.Tokenize.ws_tokens(col("text"))).as("ws"))
        .select(col("doc_id"), col("source"), xxhash64(col("ws")).as("w"))
      // BOTH unigram models in ONE aggregate over the raw token stream
      // (map-side combine ⇒ the shuffle moves vocab × partitions rows,
      // never the corpus), checkpointed once for its three readers
      // (tot, tt, lm). The previous shape hung cr and ct off a shared
      // per-(doc,word) tf aggregate — but exchange reuse does not
      // extend to aggregates (the r11 agreement-matrix lesson), so the
      // corpus-wide tf aggregation re-ran per consumer: three times.
      val vocab = Materialize(toks.groupBy(col("w"))
        .agg(count(lit(1)).as("cr"),
          count(when(col("source") === "src0", 1)).as("ct")), eager = true)
      // model totals ride the plan as broadcast 1-row frames (no separate
      // count actions — one job end-to-end, the tfidf nDocs pattern)
      val tot = vocab.agg(sum(col("cr")).cast("double").as("nr"),
        count(lit(1)).cast("double").as("v"))
      val tt = vocab.agg(coalesce(sum(col("ct")), lit(0L)).cast("double").as("nt"))
      val lm = vocab
        .crossJoin(broadcast(tot)).crossJoin(broadcast(tt))
        .select(col("w"),
          (log((col("ct") + lit(1)).cast("double")
              / (col("nt") + col("v")))
            - log((col("cr") + lit(1)).cast("double")
              / (col("nr") + col("v")))).as("llr"))
      // scoring lane: per-(doc,word) counts aggregated exchange-free on
      // an explicit doc_id repartition (HashPartitioning(doc_id)
      // satisfies the (doc_id, w) clustering), scored against the
      // vocab-sized LM (unhinted — AQE broadcasts a sane vocab, an
      // open-vocabulary corpus's LM honestly shuffles), and rolled up
      // per doc on the SAME partitioning — ONE corpus exchange total.
      // `source` does not ride the scoring rows (functionally dependent
      // on doc_id; only the vocab lane reads it).
      val tf = toks.select(col("doc_id"), col("w"))
        .repartition(col("doc_id"))
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("c"))
      tf.join(lm, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          // + 0.0 canonicalizes IEEE negative zero: a doc whose weight
          // rounds to zero from below must hash identically across engines
          (round(sum((col("c").cast("double") * col("llr")).cast("decimal(30,12)"))
            .cast("double"), 4) + lit(0.0)).as("log_weight"))
        .orderBy(col("doc_id"))
    },

    // Exact-n stratified sampling — eval/holdout-set construction: exactly
    // 10 documents per language stratum, chosen by splitmix64(doc_id)
    // order so the sample is deterministic, uniform within the stratum,
    // and STABLE under corpus growth (a doc's rank only changes if
    // earlier-hashed docs enter its stratum — no reshuffling of the whole
    // sample when new data lands, unlike random-sort sampling). One window
    // per stratum over the hash order; the rate-based sibling is
    // corpus_mix_sample.
    Q("stratified_exact_n",
      s"""WITH s0 AS (SELECT doc_id, lang, CAST(doc_id AS HUGEINT) AS z FROM documents),
         |${SqlKernels.smixCtes("x", "s0", "doc_id, lang")},
         |r AS (
         |  SELECT lang, doc_id, CAST(z % 9223372036854775808 AS BIGINT) AS h,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY z % 9223372036854775808, doc_id) AS rn
         |  FROM x6)
         |SELECT lang, rn, doc_id, h FROM r WHERE rn <= 10
         |ORDER BY lang, rn""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      documents(s, d)
        .select(col("lang"), col("doc_id"),
          splitmix64(col("doc_id")).bitwiseAND(lit(Long.MaxValue)).as("h"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))))
        .where(col("rn") <= 10)
        .select(col("lang"), col("rn"), col("doc_id"), col("h"))
        .orderBy(col("lang"), col("rn"))
    },

    // Ratio-interleaved dataset mixing — the training-stream merge knob
    // (HF interleave_datasets / Llama-style mixes): three corpus families
    // with weights web:books:code = 6:3:1 emit into a single stream where
    // every 10-slot block carries 6 web, 3 books, 1 code document (until
    // a family exhausts). The interleave KEY is pure arithmetic on each
    // document's within-dataset ordinal: block = (rn-1) div w, slot =
    // (rn-1) mod w — so the merge is a sort on (block, dataset, slot),
    // never a zipper loop. The ordinal comes from the TWO-PHASE
    // distributed row_number (pack_sequences' shape): per-(dataset,
    // chunk) counts → broadcast exclusive offsets → intra-chunk
    // row_number, parallelism = datasets × 256 chunks regardless of
    // family size — a window partitioned on 3 datasets alone would
    // serialize each family onto one task at 100 TB. Contract output =
    // the first 1000 stream slots (TakeOrdered prefix, no global
    // row_number).
    Q("interleave_datasets",
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN TRY_CAST(substr(source, 4, 8) AS INT) < 10 THEN 'web'
        |         WHEN TRY_CAST(substr(source, 4, 8) AS INT) < 15 THEN 'books'
        |         ELSE 'code' END AS dataset
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, dataset,
        |    row_number() OVER (PARTITION BY dataset ORDER BY doc_id) AS rn,
        |    CASE WHEN TRY_CAST(substr(source, 4, 8) AS INT) < 10 THEN 6
        |         WHEN TRY_CAST(substr(source, 4, 8) AS INT) < 15 THEN 3
        |         ELSE 1 END AS w
        |  FROM documents JOIN t USING (doc_id))
        |SELECT CAST((rn - 1) // w AS BIGINT) AS block, dataset,
        |  CAST((rn - 1) % w AS BIGINT) AS slot, doc_id
        |FROM r ORDER BY block, dataset, slot LIMIT 1000""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val t = documents(s, d).select(col("doc_id"), expr(
        """CASE WHEN TRY_CAST(substring(source, 4, 8) AS INT) < 10 THEN 'web'
          |     WHEN TRY_CAST(substring(source, 4, 8) AS INT) < 15 THEN 'books'
          |     ELSE 'code' END""".stripMargin).as("dataset"))
      val maxId = t.agg(max(col("doc_id"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r                  => r.getLong(0)
      }
      val chunkW = math.max(1L, (maxId + 256L) / 256L)
      val c = t.withColumn("chunk", expr(s"doc_id div ${chunkW}L"))
      val offs = c.groupBy(col("dataset"), col("chunk"))
        .agg(count(lit(1)).as("sub"))
        .withColumn("off", coalesce(
          sum(col("sub")).over(Window.partitionBy(col("dataset"))
            .orderBy(col("chunk"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("dataset"), col("chunk"), col("off"))
      c.join(broadcast(offs), Seq("dataset", "chunk"))
        .withColumn("rn", col("off") + row_number().over(
          Window.partitionBy(col("dataset"), col("chunk")).orderBy(col("doc_id"))))
        .withColumn("w", expr(
          "CASE dataset WHEN 'web' THEN 6 WHEN 'books' THEN 3 ELSE 1 END"))
        .select(expr("(rn - 1) div w").as("block"), col("dataset"),
          expr("(rn - 1) % w").as("slot"), col("doc_id"))
        .orderBy(col("block"), col("dataset"), col("slot")).limit(1000)
    },

    // Multi-epoch upsampling — the quality-weighted repetition knob of a
    // pretraining mix (high-quality sources repeated 2-3 epochs, bulk web
    // seen once): each document is EXPANDED to one row per epoch with a
    // per-(doc, epoch) splitmix64 shuffle key, so a downstream range sort
    // on the key (the global_shuffle shape) interleaves epochs uniformly
    // through the stream instead of replaying the corpus back-to-back.
    // Scale: a generator explode at the scan — zero shuffle, output rows
    // ∝ Σ epochs; the audit aggregate below is the only wide op, keyed on
    // (source, epoch). bit_xor is the order-proof checksum (associative,
    // commutative, exact on int64) pinning every expanded key at every
    // multiplicity.
    Q("epoch_expansion",
      s"""WITH e0 AS (
         |  SELECT doc_id, source,
         |    CASE WHEN TRY_CAST(substr(source, 4, 8) AS INT) < 5 THEN 3
         |         WHEN TRY_CAST(substr(source, 4, 8) AS INT) < 10 THEN 2
         |         ELSE 1 END AS epochs
         |  FROM documents),
         |ex AS (
         |  SELECT doc_id, source, unnest(range(0, epochs)) AS epoch FROM e0),
         |s0 AS (SELECT source, epoch,
         |  CAST(doc_id * 4 + epoch AS HUGEINT) AS z FROM ex),
         |${SqlKernels.smixCtes("ee", "s0", "source, epoch")},
         |h AS (SELECT source, epoch,
         |  CAST(z % 9223372036854775808 AS BIGINT) AS h FROM ee6)
         |SELECT source, CAST(epoch AS INT) AS epoch, count(*) AS n_docs,
         |  CAST(bit_xor(h) AS BIGINT) AS key_xor
         |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(col("doc_id"), col("source"), expr(
          """CASE WHEN TRY_CAST(substring(source, 4, 8) AS INT) < 5 THEN 3
            |     WHEN TRY_CAST(substring(source, 4, 8) AS INT) < 10 THEN 2
            |     ELSE 1 END""".stripMargin).as("epochs"))
        .select(col("doc_id"), col("source"),
          explode(expr("sequence(0, epochs - 1)")).as("epoch"))
        .select(col("source"), col("epoch"),
          splitmix64((col("doc_id") * 4 + col("epoch")).cast("long"))
            .bitwiseAND(lit(Long.MaxValue)).as("h"))
        .groupBy(col("source"), col("epoch"))
        .agg(count(lit(1)).as("n_docs"),
          expr("bit_xor(h)").as("key_xor"))
        .orderBy(col("source"), col("epoch"))
    },

    // Z-order layout key — multi-dimensional clustering for scan locality:
    // interleaving the bits of (l_partkey, l_suppkey) gives a single sort
    // key under which every contiguous file of rows covers a bounded
    // RECTANGLE in (partkey, suppkey) space, so min/max file statistics
    // prune scans filtered on EITHER dimension (a linear sort prunes only
    // its leading column). The contract output proves exactly that
    // property: per coarse z-bucket, the spanned partkey and suppkey
    // ranges are narrow tiles, not the full domain. The key itself is
    // pure bit arithmetic at the scan — computing it costs one projection,
    // and the clustered write is a range sort on it (the global_shuffle
    // shape). Identical 16-bit interleave generated for both engines.
    Q("layout_zorder", {
      val duckZ = (0 until 16).map { i =>
        s"((pk >> $i) & 1) * ${1L << (2 * i + 1)} + ((sk >> $i) & 1) * ${1L << (2 * i)}"
      }.mkString(" + ")
      s"""WITH k AS (
         |  SELECT l_partkey % 65536 AS pk, l_suppkey % 65536 AS sk FROM lineitem),
         |zv AS (SELECT pk, sk, $duckZ AS z FROM k)
         |SELECT CAST(z // 16384 AS BIGINT) AS z_bucket, count(*) AS n,
         |  min(pk) AS pk_min, max(pk) AS pk_max,
         |  min(sk) AS sk_min, max(sk) AS sk_max
         |FROM zv GROUP BY 1 ORDER BY 1""".stripMargin
    }) { (s, d) =>
      val sparkZ = (0 until 16).map { i =>
        s"(shiftright(pk, $i) & 1) * ${1L << (2 * i + 1)} + " +
          s"(shiftright(sk, $i) & 1) * ${1L << (2 * i)}"
      }.mkString(" + ")
      lineitem(s, d)
        .select((col("l_partkey") % 65536).as("pk"),
                (col("l_suppkey") % 65536).as("sk"))
        .withColumn("z", expr(sparkZ))
        .groupBy(expr("z div 16384").as("z_bucket"))
        .agg(count(lit(1)).as("n"),
             min(col("pk")).as("pk_min"), max(col("pk")).as("pk_max"),
             min(col("sk")).as("sk_min"), max(col("sk")).as("sk_max"))
        .orderBy(col("z_bucket"))
    },

  )
}
