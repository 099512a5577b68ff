package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.SplitMix64.splitmix64

/** The END-TO-END corpus-curation pipeline, composed from the verified
  * stage operators the way FineWeb/CCNet actually run it:
  *
  *   raw corpus → quality-classifier gate → MinHash-LSH near-dup
  *   candidates → exact-Jaccard verify → connected-components
  *   canonicalization → temperature-rebalanced domain mix →
  *   deterministic train/val/test split
  *
  * with one audit row per source carrying the per-stage attrition counts
  * (n_raw → n_quality → n_dedup → n_mix) and the final per-split routing
  * counts + id checksum. Every stage reuses the SAME kernel its
  * standalone contract query verifies — TextOps.scoredDocs (bit-identical
  * linear score), DedupOps.minhashCandidatePairsOf/verifyCandidatesOf,
  * DedupClustering.connectedComponents, the corpus_mix_temperature
  * sqrt-rate theorem, and split_assign's splitmix64 lanes (+0 split, +2
  * mix) — so the composition is where integration semantics are tested,
  * not a re-implementation.
  *
  * The SUBDOC flavor prepends the corpus-wide sub-document repetition
  * REWRITE (DedupOps.paragraphRewrittenDocs — the dedup_paragraph_rewrite
  * kernel): boilerplate blocks are removed before the classifier ever
  * scores a document, which is the order CCNet/MassiveText actually
  * clean in. Quality scores, shingle sets, and therefore every
  * downstream decision shift with the cleaned text; a per-source
  * clean_chars checksum pins that the rewrite really ran.
  *
  * Scale shape (the 100 TB story, argued stage by stage in SCALE.md):
  * corpus TEXT is scanned exactly where text is semantically needed —
  * once for classifier features, once for minhash signatures of quality
  * survivors, once (pruned to candidate docs) for shingle verification —
  * and NOWHERE after dedup: the pipeline's stage boundary is a NARROW
  * per-doc flags artifact (doc_id, source, keep_q, keep_d ≈ 20 bytes/doc,
  * the thing a production pipeline materializes between stages), locally
  * checkpointed so the mix/split/audit phase plans ZERO corpus scans
  * (PlanSpec pins this). Rates are domain-grained (bounded, broadcast);
  * the mix/split decisions are projections; the audit is one per-source
  * aggregate.
  */
object CurationOps {
  import Tables._

  /** The shared curation oracle over an arbitrary documents relation:
    * `prelude` supplies extra leading CTEs (may be empty), `src` is the
    * (doc_id, source, text) relation the classifier reads. With
    * `carryChars`, a per-source CAST(sum(len(text))) checksum rides the
    * flags artifact into the audit (pins that an upstream rewrite
    * actually changed the corpus). */
  private def oracleSqlOver(prelude: String, src: String,
      carryChars: Boolean): String = {
    val nc = if (carryChars) ", nc" else ""
    val ncSel = if (carryChars) ",\n       |    len(c.text) AS nc" else ""
    val ncOut = if (carryChars)
      ",\n       |  CAST(sum(nc) AS BIGINT) AS clean_chars" else ""
    s"""WITH RECURSIVE
       |$prelude${graft.ops.TextOps.classifierScoreCtes("c", src)},
       |kq AS (SELECT doc_id, text FROM csc WHERE z >= 0.5),
       |${graft.ops.DedupOps.jaccardPairsSqlFrom("kq")},
       |edges AS (
       |  SELECT d1 AS src, d2 AS dst FROM jpairs
       |  UNION ALL SELECT d2, d1 FROM jpairs),
       |walk(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id),
       |comps AS (SELECT id, min(comp) AS canonical FROM walk GROUP BY id),
       |flags AS (
       |  SELECT c.doc_id, c.source,
       |    (c.z >= 0.5) AS keep_q,
       |    (c.z >= 0.5 AND (p.canonical IS NULL OR p.canonical = c.doc_id)) AS keep_d$ncSel
       |  FROM csc c LEFT JOIN comps p ON c.doc_id = p.id),
       |cnt AS (SELECT source, count(*) AS n_s FROM flags WHERE keep_d GROUP BY source),
       |mnr AS (SELECT CAST(min(n_s) AS DOUBLE) AS n_min FROM cnt),
       |rt AS (SELECT cnt.source, sqrt(mnr.n_min / CAST(cnt.n_s AS DOUBLE)) AS rate
       |       FROM cnt CROSS JOIN mnr),
       |m0 AS (SELECT doc_id, source, keep_q, keep_d$nc,
       |         CAST(doc_id + 2 AS HUGEINT) AS z FROM flags),
       |${SqlKernels.smixCtes("cm", "m0", "doc_id, source, keep_q, keep_d" + nc)},
       |mh AS (SELECT doc_id, source, keep_q, keep_d$nc,
       |         CAST((z % 9223372036854775808) // 1024 AS BIGINT) AS h53 FROM cm6),
       |sp0 AS (SELECT doc_id, source, keep_q, keep_d$nc, h53,
       |          CAST(doc_id AS HUGEINT) AS z FROM mh),
       |${SqlKernels.smixCtes("cs", "sp0", "doc_id, source, keep_q, keep_d" + nc + ", h53")},
       |sb AS (SELECT doc_id, source, keep_q, keep_d$nc, h53,
       |         CAST((z % 9223372036854775808) % 100 AS BIGINT) AS bucket FROM cs6),
       |fl AS (
       |  SELECT sb.doc_id, sb.source, keep_q, keep_d$nc,
       |    (keep_d AND rt.rate IS NOT NULL
       |       AND CAST(h53 AS DOUBLE) < rt.rate * 9007199254740992) AS keep_m,
       |    CASE WHEN bucket < 90 THEN 'train'
       |         WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
       |  FROM sb LEFT JOIN rt ON sb.source = rt.source)
       |SELECT source, count(*) AS n_raw,
       |  count(*) FILTER (WHERE keep_q) AS n_quality,
       |  count(*) FILTER (WHERE keep_d) AS n_dedup,
       |  count(*) FILTER (WHERE keep_m) AS n_mix,
       |  count(*) FILTER (WHERE keep_m AND split = 'train') AS n_train,
       |  count(*) FILTER (WHERE keep_m AND split = 'val') AS n_val,
       |  count(*) FILTER (WHERE keep_m AND split = 'test') AS n_test,
       |  CAST(coalesce(sum(doc_id) FILTER (WHERE keep_m), 0) AS BIGINT) AS kept_id_sum$ncOut
       |FROM fl GROUP BY source ORDER BY source""".stripMargin
  }

  /** The composed pipeline over an arbitrary (doc_id, source, text)
    * corpus — the Spark twin of [[oracleSqlOver]]'s stage chain. */
  private def runPipeline(docsIn: DataFrame, carryChars: Boolean): DataFrame = {
    // ---- stage A: quality gate (one column-pruned corpus scan) ----
    val scored = TextOps.scoredDocs(docsIn)
    val keptText = scored.where(col("z") >= 0.5)
      .select(col("doc_id"), col("text"))

    // ---- stage B: LSH candidates → exact verify → components ----
    // Oracle equality leans on the same fixture-recall property the
    // standalone dedup_minhash_lsh query documents: candidates are
    // banded-LSH, survivors exact-verified, so any reported pair is
    // true; the fixtures' planted pairs sit at jac ≥ 0.87 where the
    // 16×4 banding's miss probability is ≈1e-6.
    val cands = DedupOps.minhashCandidatePairsOf(keptText)
    val pairs = DedupOps.verifyCandidatesOf(keptText, cands)
      .select(col("d1"), col("d2"))
    val comps = graft.operators.DedupClustering.connectedComponents(pairs)

    // ---- stage boundary: NARROW per-doc flags artifact ----
    // keep_d = survived quality AND is its component's canonical (docs
    // in no dup pair are their own canonical). Checkpointed eagerly:
    // ~20 bytes/doc, the materialized hand-off a production pipeline
    // writes between curation stages; everything downstream plans over
    // this artifact, never the corpus text again.
    val flagCols =
      Seq(col("doc_id"), col("source"), col("keep_q"), col("keep_d")) ++
        (if (carryChars) Seq(col("nc")) else Nil)
    val flags = Materialize(scored
      .select(Seq(col("doc_id"), col("source"),
        (col("z") >= 0.5).as("keep_q")) ++
        (if (carryChars) Seq(length(col("text")).cast("long").as("nc"))
         else Nil): _*)
      .join(comps.withColumnRenamed("id", "doc_id")
              .withColumnRenamed("comp", "canonical"),
            Seq("doc_id"), "left")
      .withColumn("keep_d", col("keep_q") &&
        (col("canonical").isNull || col("canonical") === col("doc_id")))
      .select(flagCols: _*), eager = true)

    // ---- stage C: temperature mix (τ=0.5) over dedup survivors ----
    // rate_s = sqrt(n_min / n_s); domain-grained counts → broadcast.
    // Same keep-decision theorem as corpus_mix_temperature: hash>>10
    // and rate·2^53 are both exact doubles, no ulp boundary exists.
    val counts = flags.where(col("keep_d"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val nMin = counts.agg(min(col("n_s")).cast("double").as("n_min"))
    val rates = counts.crossJoin(broadcast(nMin))
      .select(col("source"),
        sqrt(col("n_min") / col("n_s").cast("double")).as("rate"))
    val h53 = shiftright(splitmix64(col("doc_id") + 2)
      .bitwiseAND(lit(Long.MaxValue)), 10).cast("double")

    // ---- stage D: split routing (independent splitmix64 lane) ----
    val bucket = (splitmix64(col("doc_id"))
      .bitwiseAND(lit(Long.MaxValue)) % 100)

    val aggs =
      Seq(count(when(col("keep_q"), 1)).as("n_quality"),
        count(when(col("keep_d"), 1)).as("n_dedup"),
        count(when(col("keep_m"), 1)).as("n_mix"),
        count(when(col("keep_m") && col("split") === "train", 1)).as("n_train"),
        count(when(col("keep_m") && col("split") === "val", 1)).as("n_val"),
        count(when(col("keep_m") && col("split") === "test", 1)).as("n_test"),
        coalesce(sum(when(col("keep_m"), col("doc_id"))), lit(0L))
          .as("kept_id_sum")) ++
        (if (carryChars) Seq(sum(col("nc")).cast("bigint").as("clean_chars"))
         else Nil)

    flags
      .join(broadcast(rates), Seq("source"), "left")
      .withColumn("keep_m", col("keep_d") && col("rate").isNotNull &&
        h53 < col("rate") * lit(9007199254740992.0))
      .withColumn("split",
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"), aggs: _*)
      .orderBy(col("source"))
  }

  val all: Seq[Q] = Seq(

    Q("curation_pipeline", oracleSqlOver("", "documents", carryChars = false)) {
      (s, d) => runPipeline(Tables.fan(s, documents(s, d)), carryChars = false)
    },

    // The CCNet/MassiveText ordering: sub-document repetition REWRITE
    // first (boilerplate blocks removed corpus-wide, first occurrence
    // kept), THEN classify → dedup → mix → split over the cleaned text.
    // Composes the dedup_paragraph_rewrite kernel with the whole curation
    // chain under one oracle; clean_chars pins per source that the
    // rewrite changed the corpus the classifier saw.
    Q("curation_pipeline_subdoc",
      oracleSqlOver(graft.ops.DedupOps.paragraphRewriteCtes + ",\n",
        "cd", carryChars = true)) { (s, d) =>
      // the rewrite is a whole computed corpus, not a scan: the chain
      // reads it three times (classifier score, LSH candidates, exact
      // verify), and without a stage boundary each consumer re-runs the
      // block window + reassembly — measured 1.5× the base chain at the
      // 1.3M-doc tier. Materialize it once (the packedBins rule; a
      // production pipeline writes the cleaned corpus between stages
      // anyway) and every downstream pass reads the artifact.
      //
      // Storage level matters because this artifact carries TEXT: the
      // default checkpoint level holds deserialized row objects,
      // and at the 13M-doc tier 32 concurrently-unrolling tasks
      // exhausted a 16g heap before any partition could spill (measured
      // OOM in MemoryStore.putIteratorAsValues). Serialized blocks are
      // the compact UnsafeRow bytes and spill to disk cleanly — the
      // corpus-NARROW checkpoints elsewhere keep the fast default;
      // text-bearing artifacts take MEMORY_AND_DISK_SER.
      // LAZY checkpoint (r13): the first action in the chain — the
      // candidate checkpoint's count() inside verifyCandidatesOf, a
      // plain action, never a broadcast job — materializes the rewrite
      // while computing the candidates, instead of paying a dedicated
      // materialization job plus one extra full read-back of the
      // artifact. Boundary, storage level, and the 13M-tier
      // SER-unrolling rationale are unchanged.
      runPipeline(
        Materialize(
          DedupOps.paragraphRewrittenDocs(Tables.fan(s, documents(s, d))),
          eager = false, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER),
        carryChars = true)
    },
  )
}
