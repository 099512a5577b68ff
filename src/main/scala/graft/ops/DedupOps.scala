package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SimHash64

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (hash-groupBy), exact n-gram Jaccard (inverted-index join),
  * MinHash+LSH banding, SimHash (native kernel), and
  * embedding-cosine near-dup.
  *
  * Scale design: every pair-generating path goes through an inverted index
  * (shingle / band / LSH bucket) so work is proportional to colliding
  * candidates, never all-pairs — the 100 TB path. The only all-pairs join in
  * the file (embedding near-dup) is the small-side baseline; its scale path
  * is the LSH variant in AnnOps.
  */
object DedupOps {
  import Tables._

  /** Word 5-gram shingles as a deduped array column (native single-pass
    * expression; contents mirror the DuckDB oracle's DISTINCT grams). */
  private def wordShingles(textCol: String): Column =
    graft.functions.VectorOps.word_ngrams(
      graft.functions.Tokenize.ws_tokens(col(textCol)), 5)

  /** The deduped 5-gram HASH set (xxhash64 of each distinct shingle) in
    * one fused pass — the candidate-generation twin of [[wordShingles]]
    * for every consumer that immediately hashed the grams anyway
    * (r12 deferred item #3): no gram string is materialized, each token's
    * bytes are copied once per window instead of once per alloc chain
    * (UTF8String gram → exploded row → xxhash64). Dedup is by hash value
    * — identical to dedup-by-string up to the same 64-bit collisions the
    * downstream posting-list groupBys already tolerate (their groupBy(gh)
    * merges cross-doc collisions, a strictly larger surface).
    * verifyCandidatesOf keeps [[wordShingles]]: its intersection verifies
    * against full gram STRING sets, the truth anchor of every reported
    * pair. */
  private def shingleHashes(textCol: String): Column =
    graft.functions.VectorOps.gram_hashes(
      graft.functions.Tokenize.ws_tokens(col(textCol)), 5)

  /** Exact-Jaccard near-dup pairs (d1 < d2, jac ≥ 0.5) via inverted-index
    * self-join on word 5-grams. Shuffles 8-byte gram hashes, not gram
    * strings (xxhash64 collisions are ~2⁻⁶⁵·n² — immaterial); each doc's
    * shingle-set size rides along with the exploded rows, so no separate
    * sizes relation or extra join. Work ∝ Σ df(gram)², never all-pairs. */
  private[graft] def exactJaccardPairs(s: SparkSession, d: String): DataFrame =
    jaccardPairs(s, d)

  /** Posting-list width past which the EXACT gram-pair kernel refuses to
    * proceed: a gram shared by w documents is one w-entry aggregation
    * buffer row (16 B/entry — 64 MB at this cap, safely under any
    * row-size failure) and w² downstream pair rows (~8·10¹² at the cap —
    * doomed on any budget). Failing bounded with a pointer to the capped
    * flavor beats an opaque OOM inside a single aggregation buffer
    * (ADVICE r11). Fixtures and the synthetic smoke tiers sit orders of
    * magnitude under it (widest fixture gram: df ≈ 50). */
  private[graft] val GramPostingMaxWidth = 1L << 22

  /** Shared inverted-index candidate machinery (the Scala twin of
    * `gramPairsSql`): distinct word shingles → xxhash64 → equi-self-join →
    * per-pair intersection counts with both shingle-set sizes. Jaccard and
    * containment are one projection each on top. */
  private def gramPairs(s: SparkSession, d: String): DataFrame =
    gramPairsOf(Tables.fan(s, documents(s, d)))

  private[graft] def gramPairsOf(docs: DataFrame,
      maxPosting: Long = GramPostingMaxWidth): DataFrame = {
    // (doc_id, sz) PACKED into one long — sz in the low 20 bits. The
    // gram relation is the corpus-sized artifact every exact-pair
    // consumer moves: 16 B/row instead of 24 shrinks the gh shuffle,
    // the posting lists, and both aggregation spills by a third (the
    // r12 26M disk-wall cut: stage-profiled at 27 GB shuffle + 38 GB
    // map spill before this change). Pair ordering is preserved under
    // packing: a doc appears at most once per posting (wordShingles
    // dedups), so packed comparison equals doc_id comparison, and
    // packed equality equals same-doc (one sz per doc). Guard follows
    // AnnOps' id-pack pattern: ids ≥ 2⁴³ or shingle sets ≥ 2²⁰ fail
    // loudly, never silently corrupt a pair.
    val g = docs
      .select(col("doc_id"), shingleHashes("text").as("sh"))
      .select(col("doc_id"), size(col("sh")).cast("long").as("sz"),
              explode(col("sh")).as("gh"))
      .select(col("gh"),
        when(col("doc_id") < 0 || col("doc_id") >= (1L << 43) ||
            col("sz") >= (1L << 20),
          raise_error(concat(
            lit("gramPairs id-pack guard: need 0 <= doc_id < 2^43 and " +
              "shingle count < 2^20, got doc_id="),
            col("doc_id").cast("string"), lit(" sz="),
            col("sz").cast("string"))))
          .otherwise(shiftleft(col("doc_id"), 20) + col("sz")).as("p"))
    // One GROUPED aggregation of the gram relation instead of a
    // self-join: the SMJ self-join sorted the full corpus gram relation
    // on BOTH join sides in a single stage — 2× corpus-gram sort spill,
    // the measured single-disk wall at the 26M tier (the agreement
    // matrix died with >73 GB free, scale_smoke_r11_26m_abort.log.txt;
    // minhash's 24-byte banded index sailed through the same tier).
    // Here the identical relation shuffles ONCE into a hash aggregate
    // (bucket = the gram's posting list of (doc_id, sz) — width is the
    // gram's document frequency), and each bucket emits its ordered
    // pairs row-locally through two pipelined generators (outer
    // posexplode, inner transform over the tail slice — no w²-sized
    // array is ever materialized; pair ROWS stream exactly like the
    // join's output did). Pair multiset is identical to the join's:
    // posting lists hold distinct docs (wordShingles dedups per doc),
    // CASE-normalization orders each pair, and collect_list order
    // cannot matter because the emitted pair set is order-invariant.
    // Degenerate-bucket exposure is UNCHANGED: w² pair rows were and
    // remain the binding cost (the capped flavor exists for that); the
    // w-sized posting list itself is strictly smaller than the w² the
    // join already streamed.
    g.groupBy(col("gh"))
      .agg(collect_list(col("p")).as("ds"))
      .where(size(col("ds")) > 1)
      // width guard (ADVICE r11): a degenerate boilerplate gram fails
      // HERE, bounded, with the remedy named — not as an opaque buffer
      // OOM or an unkillable w² pair stage
      .withColumn("ds",
        when(size(col("ds")) > maxPosting, raise_error(concat(
          lit(s"dedup gram posting list exceeds $maxPosting docs (gram hash "),
          col("gh").cast("string"),
          lit("): a boilerplate shingle this wide makes exact pair " +
            "generation quadratic-infeasible — use the capped flavor " +
            "(dedup_ngram_jaccard_capped / InvertedIndex.capBuckets)"))))
          .otherwise(col("ds")))
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "x")))
      // ordered packed pairs, still streamed through two pipelined
      // generators (no w²-sized array materializes); the pair partial
      // aggregate now moves 3 longs/row instead of 5 columns
      .select(explode(expr(
        """transform(slice(ds, i + 2, size(ds)), y ->
          |  CASE WHEN x < y THEN struct(x AS a, y AS b)
          |  ELSE struct(y AS a, x AS b) END)""".stripMargin)).as("q"))
      .where(col("q.a") =!= col("q.b"))
      .groupBy(col("q.a").as("a"), col("q.b").as("b"))
      .agg(count(lit(1)).as("inter"))
      .select(
        shiftrightunsigned(col("a"), 20).as("d1"),
        shiftrightunsigned(col("b"), 20).as("d2"),
        col("a").bitwiseAND(lit((1L << 20) - 1)).as("sz1"),
        col("b").bitwiseAND(lit((1L << 20) - 1)).as("sz2"),
        col("inter"))
  }

  private def jaccardPairs(s: SparkSession, d: String): DataFrame =
    gramPairs(s, d)
      .withColumn("jac",
        col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
      .where(col("jac") >= 0.5)
      .select(col("d1"), col("d2"), col("inter"), col("jac"))

  /** Candidate pairs from the CAPPED gram index: buckets wider than `cap`
    * are dropped ([[graft.operators.InvertedIndex.capBuckets]]) before
    * the self-join, bounding candidate work at cap² per bucket; the
    * window count reuses the self-join's own bucket shuffle. Survivor
    * pairs still exact-verify against FULL shingle sets downstream
    * ([[verifyCandidates]]), so the cap governs candidate generation
    * only, never the truth of a reported pair. */
  private def cappedGramCandidates(s: SparkSession, d: String,
      cap: Long): DataFrame = {
    val g = Tables.fan(s, documents(s, d))
      .select(col("doc_id"), explode(shingleHashes("text")).as("gh"))
    val capped = graft.operators.InvertedIndex.capBuckets(g, Seq("gh"), cap)
    val a = capped.as("a"); val b = capped.as("b")
    a.join(b, col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** MinHash-LSH candidate pairs (d1 < d2) with their signature-estimated
    * Jaccard: 64 minhash values over word 5-gram shingles (fully-native
    * single pass: tokenize → per-token hash → rolling shingle mix →
    * Kirsch–Mitzenmacher minhash — no shingle strings materialized),
    * banded 16 × 4; a pair is a candidate when any band's rows all agree.
    * Per-pair miss probability (1-j⁴)¹⁶: ≈2e-4 at jac 0.8, ≈1e-6 at the
    * fixtures' jac ≥ 0.87 — margin for the oracle equality the verified
    * query claims; DedupSpec's equality test surfaces any fixture change
    * that breaks it before the gate does. */
  /** @param bucketCap optional degenerate-bucket guard
    *   ([[graft.operators.InvertedIndex.capBuckets]]): buckets wider than
    *   the cap are dropped before the self-join, bounding candidate work
    *   at cap² per bucket. None (the contract-query setting) keeps exact
    *   candidate semantics. */
  private[graft] def minhashCandidates(s: SparkSession, d: String,
      bucketCap: Option[Long] = None): DataFrame =
    minhashCandidatesOf(Tables.fan(s, documents(s, d)), bucketCap)

  /** Same candidate machinery over an arbitrary (doc_id, text) frame —
    * the composition surface: curation_pipeline feeds it the
    * quality-filtered corpus instead of the raw table. */
  private val MinhashNHash = 64
  private val MinhashBands = 16

  /** The (doc_id, sig) signature relation: one native single-pass
    * expression per doc, 64 longs. */
  private def minhashSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.VectorOps.minhash_shingled(
        graft.functions.Tokenize.ws_tokens(col("text")), 5, MinhashNHash).as("sig"))

  /** Candidate PAIRS only, (d1, d2) distinct — the shape both production
    * consumers (dedup_minhash_lsh's exact verify, curation_pipeline)
    * actually use. The band self-join carries (doc_id, band, bucket) — 24
    * bytes/row — and the distinct dedups 16-byte pairs; the 512-byte
    * signature arrays never enter a shuffle. (Measured at the 1.3M-doc
    * ScaleSmoke tier: dragging sig1/sig2 through both self-join sides and
    * the distinct, the previous shape, cost 335 s of the query's 455 s —
    * ~11 GB of signature bytes exchanged twice for columns the consumer
    * dropped. This shape removes them; signature-estimated Jaccard lives
    * in [[minhashCandidatesOf]] for the consumers that want it.) */
  /** The banded LSH index relation (doc_id, band, bucket) — 16 rows of 24
    * bytes per doc, the thing a production pipeline MATERIALIZES once for
    * the standing corpus and probes with every new batch. */
  private[graft] def minhashBanded(docs: DataFrame): DataFrame = {
    val rows = MinhashNHash / MinhashBands
    minhashSigs(docs).select(col("doc_id"),
      posexplode(array((0 until MinhashBands).map(bd =>
        xxhash64(concat_ws(",",
          (0 until rows).map(r => col("sig").getItem(bd * rows + r)): _*))): _*))
        .as(Seq("band", "bucket")))
  }

  /** Bucket width past which uncapped banded pair generation refuses to
    * proceed — the [[GramPostingMaxWidth]] rationale on the LSH index: a
    * bucket of width w is one w-entry aggregation buffer (8 B/entry) and
    * w² candidate pairs. An LSH bucket this wide means a near-identical
    * corpus slice; callers wanting to proceed anyway pass `bucketCap`. */
  private[graft] val LshBucketMaxWidth = 1L << 22

  private[graft] def minhashCandidatePairsOf(docs: DataFrame,
      bucketCap: Option[Long] = None,
      maxBucket: Long = LshBucketMaxWidth): DataFrame = {
    // One grouped aggregation per (band, bucket) instead of the banded
    // self-join — the gramPairsOf shape on the LSH index. The SMJ
    // self-join sorted the 24-byte banded relation on BOTH join sides in
    // one stage: 2× corpus-banded sort spill, the stage that exhausted
    // the 100M tier's disk (scale_smoke_r12_100m abort, stage 22). Here
    // the identical relation shuffles ONCE into a list aggregate and
    // each bucket emits its ordered pairs row-locally through two
    // pipelined generators (no w²-sized array materializes; pair rows
    // stream exactly as the join's output did). Pair set is identical:
    // a doc appears at most once per (band, bucket) — one bucket per
    // band per doc — so CASE-normalized pairs over the posting list are
    // exactly the join's a.doc_id < b.doc_id output, and the trailing
    // distinct dedups across bands as before. bucketCap becomes a size
    // filter on the posting list (≡ InvertedIndex.capBuckets: width is
    // df of the bucket); uncapped runs carry the width guard so a
    // degenerate corpus fails bounded and named, not as a w² stage.
    val posted = minhashBanded(docs)
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .where(size(col("ds")) > 1)
    val capped = bucketCap match {
      case Some(c) => posted.where(size(col("ds")) <= c)
      case None => posted.withColumn("ds",
        when(size(col("ds")) > maxBucket, raise_error(concat(
          lit(s"LSH bucket exceeds $maxBucket docs (band "),
          col("band").cast("string"), lit(", bucket "),
          col("bucket").cast("string"),
          lit("): a near-identical slice this wide makes candidate " +
            "generation quadratic-infeasible — pass bucketCap " +
            "(InvertedIndex.capBuckets semantics) to drop degenerate " +
            "buckets"))))
          .otherwise(col("ds")))
    }
    capped
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "x")))
      .select(explode(expr(
        """transform(slice(ds, i + 2, size(ds)), y ->
          |  CASE WHEN x < y THEN struct(x AS d1, y AS d2)
          |  ELSE struct(y AS d1, x AS d2) END)""".stripMargin)).as("q"))
      .select(col("q.d1").as("d1"), col("q.d2").as("d2"))
      .distinct()
  }

  /** Candidate pairs WITH their signature-estimated Jaccard: the lean
    * pair set joined back to the signature relation once per side — the
    * pairs side is vanishing-fraction-sized, so AQE turns both join-backs
    * into broadcasts at runtime and the signatures stream map-side. */
  private[graft] def minhashCandidatesOf(docs: DataFrame,
      bucketCap: Option[Long] = None): DataFrame = {
    val sigs = minhashSigs(docs)
    minhashCandidatePairsOf(docs, bucketCap)
      .join(sigs.select(col("doc_id").as("d1"), col("sig").as("sig1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("sig").as("sig2")), "d2")
      .withColumn("est_jac",
        expr(s"size(filter(zip_with(sig1, sig2, (x, y) -> x = y), v -> v)) / cast($MinhashNHash as double)"))
      .select(col("d1"), col("d2"), col("est_jac"))
  }

  /** SimHash candidate pairs (d1 < d2) with hamming distance, already cut
    * at `maxHamming`: 64-bit bit-vote signatures, candidates from 16-bit
    * chunk collisions. Token-less documents are excluded — their signature
    * would be the degenerate all-zeros value (every such doc would pair
    * with every other at hamming 0), and the oracle's per-token unnest
    * never sees them either.
    *
    * Scale shape: the in-bucket pair stream is quadratic in bucket width
    * (~N²·4/2¹⁷ emitted rows corpus-wide — 3×10¹¹ at 100M docs), so the
    * hamming filter MUST run before the distinct: filter-then-distinct and
    * distinct-then-filter commute (hamming is a function of the pair), but
    * only the former keeps the quadratic stream inside the join's codegen
    * stage — survivors of the ≤ maxHamming cut are the only rows that ever
    * reach an exchange. The residual cost is pair-generation CPU, which a
    * cluster parallelizes; past ~1B docs the published remedy is wider
    * combination keys (Manku, Jain & Sarma, WWW'07 §3 — more blocks, key
    * on (b−k)-block combinations), which trades the probabilistic 4–6
    * hamming band's collision distribution and so would be a gated,
    * documented semantics change rather than a plan fix. */
  private[graft] def simhashCandidates(s: SparkSession, d: String,
      maxHamming: Int = 6): DataFrame = {
    val sigs = Tables.fan(s, documents(s, d))
      .select(col("doc_id"),
        graft.functions.Tokenize.ws_tokens(lower(col("text"))).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"), SimHash64.simhash64(col("toks")).as("sig"))
    val chunked = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("sig"), c * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("chunk", "ckey")))
    val a = chunked.as("a"); val b = chunked.as("b")
    a.join(b, col("a.chunk") === col("b.chunk") &&
            col("a.ckey") === col("b.ckey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
              bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact-Jaccard verification of a candidate pair set: join each side to
    * its (deduped) shingle array, intersect, keep jac ≥ 0.5. Candidates are
    * a vanishing fraction of the corpus, so the shingle join is candidate-
    * bounded — this is the step that makes an approximate candidate
    * generator exact, and the reason the ops can share the exact oracle. */
  private def verifyCandidates(s: SparkSession, d: String,
      cands: DataFrame): DataFrame =
    verifyCandidatesOf(Tables.fan(s, documents(s, d)), cands)

  /** Exact verification against an arbitrary (doc_id, text) frame (see
    * [[minhashCandidatesOf]]); the shingle frame is referenced once per
    * pair side — two candidate-bounded equi-joins.
    *
    * Scale shape: shingle ARRAYS are only materialized for documents that
    * appear in some candidate pair — the corpus is first pruned by a
    * semi-join against the candidate id set (tiny; AQE broadcasts it at
    * runtime), so the full corpus's shingle arrays (~3-5× the text bytes)
    * never enter an exchange. Without the prune, both join-backs shuffled
    * every document's shingles (measured ~120 s of dedup_minhash_lsh's
    * 455 s at the 1.3M-doc tier). The candidate subtree is referenced
    * three times (two id lanes + the pair join) — materialized once
    * below, which also prices the id set so the prune semi-join can
    * broadcast at plan time (see the in-body note). */
  /** Pair count up to which the candidate id set broadcasts to the
    * shingle semi-join (ids ≤ 2×pairs; 2²³ pairs ⇒ ≤16M ids ≈ a ~256 MB
    * hashed relation — comfortable for the 48g driver and any executor
    * tier this library targets). Past it the semi-join falls back to the
    * shuffled shape, which stays correct at any candidate mass. */
  private[graft] val VerifyBroadcastMaxPairs = 1L << 23

  private[graft] def verifyCandidatesOf(docs: DataFrame,
      cands: DataFrame,
      broadcastMaxPairs: Long = VerifyBroadcastMaxPairs): DataFrame = {
    // The pair relation is vanishing-fraction-sized but its lineage is
    // the entire candidate index build, and it is consumed three times
    // below (two id lanes + the pair join): it is materialized once
    // (the r11 multi-consumer rule) and releases the upstream
    // index exchange for cleanup mid-query. Decisive at the 100M tier:
    // the id-set semi-join must broadcast AT PLAN TIME — AQE's runtime
    // demotion decides only after materializing both sides, so the
    // corpus (doc_id, text) exchange (17.2 GB, stage 19 of the
    // scale_smoke_r12_100m abort) hit disk even though the join then
    // executed as a broadcast. With the pair count known from the
    // checkpoint, the tiny side gets an explicit hint and the corpus
    // side streams map-side with no exchange at all.
    // LAZY checkpoint: the count() right below is the materializing
    // action (one job computes + caches + counts, where eager paid a
    // materialization job AND a count job over the same rows); the
    // count is a plain action, so no broadcast-timeout exposure
    val c = Materialize(cands.select(col("d1"), col("d2")), eager = false)
    val nPairs = c.count()
    val ids0 = c.select(col("d1").as("doc_id"))
      .union(c.select(col("d2").as("doc_id"))).distinct()
    val ids = if (nPairs <= broadcastMaxPairs) broadcast(ids0) else ids0
    val sh = docs.join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), wordShingles("text").as("sh"))
    c.join(sh.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .select(col("d1"), col("d2"),
        size(array_intersect(col("sh1"), col("sh2"))).as("inter"),
        size(col("sh1")).as("sz1"), size(col("sh2")).as("sz2"))
      .withColumn("jac",
        col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
      .where(col("jac") >= 0.5)
      .select(col("d1"), col("d2"), col("jac"))
      .orderBy(col("d1"), col("d2"))
  }

  /** DuckDB replication of the whole simhash operator. Mirrors
    * [[graft.functions.SimHash64]] bit-for-bit: poly31 over code points
    * (list_reduce with no seed equals seed-0 since 0*31+c = c), then the
    * shared splitmix64 SQL chain ([[SqlKernels.smixCtes]]), then per-bit
    * ±1 votes, chunked candidate join, hamming ≤ 6. Token-less documents
    * produce no vote rows here (unnest of an empty list), matching the
    * Spark side's explicit empty-token filter. */
  /** The simhash chain as bare CTEs (ending in `cand(d1, d2, sg1, sg2)`)
    * so the agreement-matrix oracle can compose it with the gram-pair
    * kernels; [[simhashOracleSql]] wraps it for the standalone query. */
  private val simhashPairCtes: String =
    s"""toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok
      |  FROM documents),
      |ph AS (
      |  SELECT doc_id,
      |    list_reduce(list_transform(string_split_regex(tok, ''), c -> CAST(ord(c) AS HUGEINT)),
      |                (h, c) -> (h * 31 + c) % 18446744073709551616) AS z
      |  FROM toks),
      |${SqlKernels.smixCtes("sm", "ph", "doc_id")},
      |th AS (SELECT doc_id, CAST(z AS UBIGINT) AS h FROM sm6),
      |votes AS (
      |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) bb
      |  GROUP BY doc_id, b),
      |usig AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN v > 0 THEN CAST(CAST(1 AS UBIGINT) << b AS HUGEINT) ELSE 0 END) AS u
      |  FROM votes GROUP BY doc_id),
      |ssig AS (
      |  SELECT doc_id, u,
      |    CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS sig
      |  FROM usig),
      |chunks AS (
      |  SELECT doc_id, sig, c,
      |    CAST((u // (CASE c WHEN 0 THEN 1 WHEN 1 THEN 65536
      |                       WHEN 2 THEN 4294967296 ELSE 281474976710656 END))
      |         % 65536 AS BIGINT) AS ckey
      |  FROM ssig CROSS JOIN (SELECT unnest(range(4)) AS c) cc),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.sig AS sg1, b.sig AS sg2
      |  FROM chunks a JOIN chunks b
      |    ON a.c = b.c AND a.ckey = b.ckey AND a.doc_id < b.doc_id)""".stripMargin

  private val simhashOracleSql: String =
    s"""WITH $simhashPairCtes
      |SELECT d1, d2, bit_count(xor(sg1, sg2)) AS hamming
      |FROM cand WHERE bit_count(xor(sg1, sg2)) <= 6
      |ORDER BY d1, d2""".stripMargin

  /** The pair CTEs of the jaccard oracle, shared by two queries' SQL,
    * parameterized on the (doc_id, text) source relation so the
    * curation-pipeline oracle can run them over its filtered corpus. */
  private def gramPairsSqlFrom(src: String): String =
    s"""  g AS (
      |  SELECT DISTINCT doc_id,
      |    list_aggregate(w[CAST(u AS INT):CAST(u+4 AS INT)], 'string_agg', ' ') AS gram
      |  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w)-3, 2))) AS u
      |        FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w FROM $src) t0)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
      |rawpairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  private val gramPairsSql: String = gramPairsSqlFrom("documents")

  private[graft] def jaccardPairsSqlFrom(src: String): String =
    s"""${gramPairsSqlFrom(src)},
      |jpairs AS (
      |  SELECT d1, d2, inter,
      |    CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) AS jac
      |  FROM rawpairs
      |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
      |  WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.5)""".stripMargin

  private val jaccardPairsSql: String = jaccardPairsSqlFrom("documents")

  val all: Seq[Q] = Seq(

    // Exact dedup: group on content, keep the smallest doc_id per group.
    // Grouped per source so the result shape proves both the grouping and
    // the keep-first policy (sum of kept ids is the checksum).
    Q("dedup_exact",
      """SELECT source, count(*) AS n_docs, count(DISTINCT text) AS n_unique,
        |  CAST(sum(keep_id) AS BIGINT) AS kept_id_sum
        |FROM (SELECT source, text, min(doc_id) AS keep_id
        |      FROM documents GROUP BY source, text) t
        |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      documents(s, d)
        // group on a 128-bit content digest, never the text: with the
        // text as the grouping key the whole corpus rides the exchange
        // and the aggregate sort-spills corpus-sized (measured 17.1 GB
        // shuffle + 17.2 GB spill at the 100M tier — the 6× over-linear
        // point in scale_smoke_r12_100m; digest keys moved ~1 GB). Two
        // independent xxhash64 lanes (the literal prefix reseeds) put
        // collision odds at ~n²·2⁻¹²⁸; the oracle stays text-keyed, so
        // the hash-green gate IS the collision check (the bigram-LM
        // hash-keying precedent in TextOps.perplexityXent).
        .select(col("source"), col("doc_id"),
          xxhash64(col("text")).as("h1"),
          xxhash64(lit("dedup_exact#lane2"), col("text")).as("h2"))
        .groupBy(col("source"), col("h1"), col("h2"))
        .agg(min(col("doc_id")).as("keep_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             count(lit(1)).as("n_unique_pre"),
             sum(col("keep_id")).as("kept_id_sum"))
        // after group-by-text, every row is one unique text
        .select(col("source"), col("n_docs"), col("n_unique_pre").as("n_unique"),
                col("kept_id_sum"))
        .orderBy(col("source"))
    },

    // Exact n-gram Jaccard near-dup via inverted-index self-join on word
    // 5-grams: work ∝ Σ df(gram)² (237k distinct grams over 5k docs at
    // sf0.1 → trivial), not all-pairs.
    Q("dedup_ngram_jaccard",
      s"""WITH
         |$jaccardPairsSql
         |SELECT d1, d2, inter, jac FROM jpairs ORDER BY d1, d2""".stripMargin) { (s, d) =>
      jaccardPairs(s, d).orderBy(col("d1"), col("d2"))
    },

    // The BUCKET-CAP guard under the oracle gate (pattern:
    // pack_sequences_twophase / tfidf_topterms_shuffle — the production
    // scale guard runs as its own contract query, not only as a spec).
    // InvertedIndex.capBuckets drops gram buckets wider than 2 docs
    // before the self-join — the degenerate-bucket mitigation that keeps
    // candidate work at cap²·buckets when a boilerplate shingle lands in
    // half the corpus — and the ORACLE applies the identical cap in SQL
    // (df(gram) ≤ 2 on the gram-string relation ≡ bucket width ≤ 2 on
    // its xxhash64 buckets, collisions being 2⁻⁶⁴-improbable). Cap 2 is
    // deliberately TIGHT so the guard demonstrably fires on the fixtures
    // (550 grams dropped at sf0.1, candidates 1460→1210) — survivors are
    // then EXACT-verified against full shingle sets, so each reported
    // pair's jaccard is true, while capping governs only which pairs are
    // considered (both engines identically).
    Q("dedup_ngram_jaccard_capped",
      s"""WITH
         |$gramPairsSql,
         |gdf AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  JOIN gdf ON gdf.gram = a.gram
         |  WHERE gdf.df <= 2),
         |vinter AS (
         |  SELECT c.d1, c.d2, count(*) AS n
         |  FROM cand c
         |  JOIN g a ON a.doc_id = c.d1
         |  JOIN g b ON b.doc_id = c.d2 AND b.gram = a.gram
         |  GROUP BY 1, 2),
         |vj AS (
         |  SELECT d1, d2, CAST(n AS DOUBLE) / (s1.sz + s2.sz - n) AS jac
         |  FROM vinter
         |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id)
         |SELECT d1, d2, jac FROM vj WHERE jac >= 0.5
         |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      verifyCandidates(s, d, cappedGramCandidates(s, d, cap = 2))
    },

    // Asymmetric CONTAINMENT dedup — |grams(A) ∩ grams(B)| / min(|A|,|B|):
    // the quote/boilerplate-inclusion detector. A short document embedded
    // in a long one has low Jaccard (the union is dominated by the long
    // doc) but containment ≈ 1, so this catches exactly the near-dup class
    // the symmetric measure misses. Same inverted-index candidate
    // machinery as dedup_ngram_jaccard — work still tracks gram
    // collisions, never all-pairs — with the contained (smaller-gram-set)
    // side identified per pair.
    Q("dedup_containment",
      s"""WITH
         |$gramPairsSql,
         |cpairs AS (
         |  SELECT d1, d2, inter,
         |    CAST(inter AS DOUBLE) / least(s1.sz, s2.sz) AS cont,
         |    CASE WHEN s1.sz < s2.sz THEN d1
         |         WHEN s2.sz < s1.sz THEN d2 ELSE least(d1, d2) END AS contained_doc
         |  FROM rawpairs
         |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
         |  WHERE CAST(inter AS DOUBLE) / least(s1.sz, s2.sz) >= 0.8)
         |SELECT d1, d2, inter, cont, contained_doc
         |FROM cpairs ORDER BY d1, d2""".stripMargin) { (s, d) =>
      gramPairs(s, d)
        .withColumn("cont",
          col("inter").cast("double") / least(col("sz1"), col("sz2")))
        .where(col("cont") >= 0.8)
        .withColumn("contained_doc",
          when(col("sz1") < col("sz2"), col("d1"))
            .when(col("sz2") < col("sz1"), col("d2"))
            .otherwise(least(col("d1"), col("d2"))))
        .select(col("d1"), col("d2"), col("inter"), col("cont"),
                col("contained_doc"))
        .orderBy(col("d1"), col("d2"))
    },

    // Dedup clustering: near-dup pairs are only half the operator a real
    // pipeline needs — documents then have to be grouped into clusters and
    // one canonical representative kept. Connected components over the
    // jaccard pair graph (graft.operators.DedupClustering: driver-side
    // union-find for small graphs, distributed large-star/small-star
    // contraction beyond the threshold). Canonical = min doc_id.
    Q("dedup_cluster_canonical",
      s"""WITH RECURSIVE
         |$jaccardPairsSql,
         |edges AS (
         |  SELECT d1 AS src, d2 AS dst FROM jpairs
         |  UNION ALL SELECT d2, d1 FROM jpairs),
         |walk(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id),
         |comps AS (SELECT id, min(comp) AS canonical FROM walk GROUP BY id)
         |SELECT canonical AS canonical_id,
         |  count(*) AS n_members,
         |  CAST(sum(id) AS BIGINT) AS id_sum
         |FROM comps GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val pairs = jaccardPairs(s, d).select(col("d1"), col("d2"))
      graft.operators.DedupClustering.connectedComponents(pairs)
        .groupBy(col("comp").as("canonical_id"))
        .agg(count(lit(1)).as("n_members"), sum(col("id")).as("id_sum"))
        .orderBy(col("canonical_id"))
    },

    // The DISTRIBUTED clustering path under the driver's oracle gate:
    // identical contract to dedup_cluster_canonical, but threshold 0
    // forces alternating large-star/small-star contraction — the path a
    // 100 TB pair graph takes — so the O(log n) star algorithm itself is
    // hash-verified against the recursive-CTE components every round,
    // not just spec-compared against union-find.
    Q("dedup_cluster_starjoin",
      s"""WITH RECURSIVE
         |$jaccardPairsSql,
         |edges AS (
         |  SELECT d1 AS src, d2 AS dst FROM jpairs
         |  UNION ALL SELECT d2, d1 FROM jpairs),
         |walk(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id),
         |comps AS (SELECT id, min(comp) AS canonical FROM walk GROUP BY id)
         |SELECT canonical AS canonical_id,
         |  count(*) AS n_members,
         |  CAST(sum(id) AS BIGINT) AS id_sum
         |FROM comps GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val pairs = jaccardPairs(s, d).select(col("d1"), col("d2"))
      graft.operators.DedupClustering
        .connectedComponents(pairs, smallGraphThreshold = 0)
        .groupBy(col("comp").as("canonical_id"))
        .agg(count(lit(1)).as("n_members"), sum(col("id")).as("id_sum"))
        .orderBy(col("canonical_id"))
    },

    // Quality-aware canonical selection — the keep-decision refinement a
    // production dedup pipeline layers on clustering: within each near-dup
    // cluster keep the HIGHEST-QUALITY member (classifier z from the
    // shared TextOps kernel; min doc_id breaks exact ties), not the
    // arbitrary lowest id — refetches and mirrors usually differ in
    // boilerplate/truncation, and dropping the cleanest copy wastes
    // curation work upstream. Same component machinery as
    // dedup_cluster_canonical; the score join touches only CLUSTERED
    // docs (a sliver of the corpus), one equi-join + one window per
    // cluster. The z cut is bit-identical across engines by the
    // classifier determinism theorem, so argmax is exact.
    Q("dedup_cluster_best_quality",
      s"""WITH RECURSIVE
         |$jaccardPairsSql,
         |edges AS (
         |  SELECT d1 AS src, d2 AS dst FROM jpairs
         |  UNION ALL SELECT d2, d1 FROM jpairs),
         |walk(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id),
         |comps AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
         |${graft.ops.TextOps.classifierScoreCtes("bq", "documents")},
         |m AS (
         |  SELECT c.comp, c.id, s.z,
         |    row_number() OVER (PARTITION BY c.comp ORDER BY s.z DESC, c.id) AS rn
         |  FROM comps c JOIN bqsc s ON s.doc_id = c.id)
         |SELECT comp AS cluster_root,
         |  count(*) AS n_members,
         |  CAST(sum(id) AS BIGINT) AS id_sum,
         |  CAST(max(CASE WHEN rn = 1 THEN id END) AS BIGINT) AS best_doc,
         |  round(max(CASE WHEN rn = 1 THEN z END), 6) AS best_z
         |FROM m GROUP BY comp ORDER BY comp""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val pairs = jaccardPairs(s, d).select(col("d1"), col("d2"))
      val comps = graft.operators.DedupClustering.connectedComponents(pairs)
      val z = graft.ops.TextOps.scoredDocs(documents(s, d))
        .select(col("doc_id").as("id"), col("z"))
      comps.join(z, Seq("id"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("comp")).orderBy(col("z").desc, col("id"))))
        .groupBy(col("comp").as("cluster_root"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("id")).as("id_sum"),
          max(when(col("rn") === 1, col("id"))).as("best_doc"),
          round(max(when(col("rn") === 1, col("z"))), 6).as("best_z"))
        .orderBy(col("cluster_root"))
    },

    // MinHash + LSH banding, production shape: candidates from band-bucket
    // collisions, then EXACT Jaccard verification of candidates only —
    // work ∝ colliding pairs, results exact. That makes the op
    // oracle-checkable against the exact-pair SQL: the planted near-dups
    // sit at jac ≥ 0.87, where 16 bands × 4 rows has ≈1e-6 miss
    // probability per pair and (deterministic hashing) recall is exactly
    // 1.0 on the fixtures. Oracle equality is thus a recall property of
    // the fixtures, not a universal guarantee (a pair at jac ≈ 0.5 is a
    // coin flip) — DedupSpec pins the equality locally so a fixture
    // change surfaces there first.
    Q("dedup_minhash_lsh",
      s"""WITH
         |$jaccardPairsSql
         |SELECT d1, d2, jac FROM jpairs ORDER BY d1, d2""".stripMargin) { (s, d) =>
      verifyCandidates(s, d, minhashCandidatePairsOf(
        Tables.fan(s, documents(s, d))))
    },

    // SimHash near-dup: 64-bit bit-vote signature via a custom Catalyst
    // expression, candidates from 16-bit chunk collisions (pigeonhole:
    // hamming ≤ 3 ⇒ some chunk equal; higher distances collide
    // probabilistically), kept when hamming ≤ 6. The token hash is
    // poly31+splitmix64 precisely so the ORACLE can recompute the entire
    // operator — signatures, chunk candidates, hamming filter — in plain
    // SQL with HUGEINT mod-2^64 arithmetic, making this hash-defined op
    // exactly cross-engine-checked instead of rows-only.
    Q("dedup_simhash", simhashOracleSql) { (s, d) =>
      simhashCandidates(s, d, maxHamming = 6)
        .orderBy(col("d1"), col("d2"))
    },

    // Exact substring-span dedup (the "duplicated long span" signal used
    // to scrub training corpora): sample 64-char windows at stride 16,
    // dedup per doc, inverted-index self-join on the window, and keep
    // pairs sharing ≥ 2 sampled windows (≈ an 80+ char common run).
    // Work ∝ Σ df(window)², never all-pairs; windows are fixed 64-byte
    // keys so the shuffle is bounded at 4 bytes per original char. (At
    // 100 TB the join key would be xxhash64(win) — 8 bytes/window; the
    // oracle compares raw windows, so the contract query shuffles the
    // strings and keeps counts collision-exact.) Fixture pairs all share
    // ≥ 5 windows, so the ≥ 2 cut has wide margin.
    Q("dedup_substring_span",
      """WITH w AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(off AS INT) + 1, 64) AS win
        |  FROM (SELECT doc_id, text, unnest(range(0, length(text) - 63, 16)) AS off
        |        FROM documents WHERE length(text) >= 64)),
        |p AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
        |  FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, n_shared FROM p WHERE n_shared >= 2
        |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      val w = Tables.fan(s, documents(s, d))
        .where(length(col("text")) >= 64)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), length(col("text")) - 64, lit(16)))
            .as("off"))
        .withColumn("win", expr("substr(text, off + 1, 64)"))
        .select(col("doc_id"), col("win")).distinct()
      val a = w.as("a"); val b = w.as("b")
      a.join(b, col("a.win") === col("b.win") &&
              col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 2)
        .orderBy(col("d1"), col("d2"))
    },

    // Embedding-cosine near-dup, production shape: candidate pairs come
    // from centroid cells with EXACT angular pruning, then exact cosine
    // re-verify — never an all-pairs join. Every vector is assigned to
    // its nearest centroid (map-side argmax over the broadcast centroid
    // set, one shuffled row per vector); per-cell angular radii r(c) =
    // max angle(v, c) aggregate to K rows. By the spherical triangle
    // inequality, cos(u,w) ≥ t forces angle(cell(u), cell(w)) ≤ acos(t)
    // + r(cell(u)) + r(cell(w)), so cell PAIRS outside that bound are
    // pruned with zero recall loss — the oracle match is a theorem, not
    // a fixture property (unlike the banded-LSH ops, which document
    // their miss probability). The surviving compatible-cell-pair list
    // is K²-bounded, computed driver-side from the K-row radii aggregate
    // (planning-sized, same convention as AnnOps' codebook collects) and
    // broadcast; pair generation is then two equi-joins on the cell key
    // — work ∝ Σ over compatible cell pairs |c1|·|c2|, which at 100 TB
    // (√n trained centroids, clustered real embeddings, high dedup
    // thresholds) prunes the quadratic term the way IVF prunes ANN
    // probes. On this fixture (near-orthogonal random vectors, t=0.4,
    // K=8 stand-in centroids) radii are wide so no cell pair prunes —
    // the cost honestly degrades to all candidate pairs — but the PLAN
    // stays equi-join-shaped (PlanSpec pins zero CartesianProduct).
    // Dot/norms are left folds in double → engine-identical; the pair
    // scoring runs through the native dot_d expression, norms are
    // precomputed once per vector.
    Q("dedup_embedding_cosine", cosinePairsSql) { (s, d) =>
      val e = AnnOps.cosineVecs(s, d)
      // stand-in centroids (vec_id < 8), same convention as dedup_semantic;
      // at scale these come from kmeans_train and are literal arrays
      val cents = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
      cosinePairsViaCells(s, e, cents)
    },

    // The TRAINED-CENTROID flavor: identical contract, but the cell index
    // is built on kmeans_train's output centroids (through the session
    // memo — train once, index many) instead of the vec_id<8 stand-ins.
    // The pruning bound is exact for ANY centroid set — each vector's
    // theta is its true angle to its own cell, radii are per-cell maxima,
    // the triangle inequality follows — so the trained swap moves the
    // candidate count, never the reported pairs, and the SAME brute-force
    // oracle hash-verifies both flavors. This is the property that makes
    // retraining safe in production: index quality is a cost knob, not a
    // correctness knob.
    Q("dedup_embedding_cosine_trained", cosinePairsSql) { (s, d) =>
      import s.implicits._
      val cents = AnnOps.trainedCentroids(s, d)
        .map { case (cid, cv) =>
          (cid, cv.toSeq, math.sqrt(cv.map(x => x * x).sum)) }
        .toDF("cid", "cv", "cnrm")
      cosinePairsViaCells(s, AnnOps.cosineVecs(s, d), cents)
    },

    // Semantic dedup (SemDeDup-style): assign every embedding to its
    // nearest centroid (here: the vectors with vec_id < 8 stand in for
    // offline k-means centroids — at scale those are trained once and
    // BROADCAST, so assignment is a pure map over the corpus), then find
    // near-duplicates ONLY within a cell via an equi-join on the cell id.
    // That turns the quadratic all-pairs cosine scan into per-cell work —
    // the standard way semantic dedup reaches billions of vectors. A
    // vector is a dup if a lower-id vector in its cell has cosine ≥ 0.4;
    // argmax tiebreaks by lower centroid id, mirrored exactly in both
    // engines.
    Q("dedup_semantic",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, q) -> p + q)) AS nrm
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 8),
        |sc AS (SELECT e.vec_id, c.cid,
        |    list_reduce(list_transform(list_zip(e.v, c.cv), x -> x[1] * x[2]),
        |                (p, q) -> p + q) / (e.nrm * c.cnrm) AS cos
        |  FROM e CROSS JOIN c),
        |asg AS (SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |    FROM sc) t WHERE rn = 1),
        |pr AS (SELECT DISTINCT a.vec_id FROM asg a
        |  JOIN asg b ON a.cid = b.cid AND b.vec_id < a.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id
        |  WHERE list_reduce(list_transform(list_zip(ea.v, eb.v), x -> x[1] * x[2]),
        |                    (p, q) -> p + q) / (ea.nrm * eb.nrm) >= 0.4)
        |SELECT asg.cid AS cluster_id, count(*) AS n_vecs,
        |  CAST(count(pr.vec_id) AS BIGINT) AS n_dups,
        |  CAST(coalesce(sum(pr.vec_id), 0) AS BIGINT) AS dup_id_sum
        |FROM asg LEFT JOIN pr ON asg.vec_id = pr.vec_id
        |GROUP BY asg.cid ORDER BY cluster_id""".stripMargin) { (s, d) =>
      import graft.functions.VectorOps.dot_d
      val e = AnnOps.cosineVecs(s, d)
      val cents = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
      // THREE consumers read the assignment (both pair-join sides and the
      // final rollup lane) — and the rollup joins on vec_id while the pair
      // join shuffles by cell, so exchange reuse cannot cover it and the
      // assignment AGGREGATE would re-run for the rollup (the r11 rule:
      // exchange reuse does not extend to aggregates); assign
      // materializes it once
      val asg = graft.operators.AngularCells.assign(e, cents)
      val a = asg.as("a"); val b = asg.as("b")
      val dups = a.join(b,
          col("a.cell") === col("b.cell") && col("b.vec_id") < col("a.vec_id"))
        .where(dot_d(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")) >= 0.4)
        .select(col("a.vec_id").as("vec_id")).distinct()
        .withColumn("is_dup", lit(1))
      asg.select(col("vec_id"), col("cell"))
        .join(dups, Seq("vec_id"), "left_outer")
        .groupBy(col("cell").as("cluster_id"))
        .agg(count(lit(1)).as("n_vecs"),
          count(col("is_dup")).as("n_dups"),
          coalesce(sum(when(col("is_dup") === 1, col("vec_id"))), lit(0L))
            .as("dup_id_sum"))
        .orderBy(col("cluster_id"))
    },

    // Edit-distance near-dup with prefix blocking: candidate pairs come
    // from an equi-join on the 16-char document head (the fixtures' near-
    // dups share their head; edits appear later), then exact levenshtein
    // over the full text filters to real dups. Blocking keeps candidate
    // work ∝ Σ bucket² instead of all-pairs, and the expensive O(len²)
    // edit distance runs only on colliding candidates — the classic
    // blocking-then-verify shape every record-linkage pipeline uses.
    Q("dedup_levenshtein",
      """WITH d AS (SELECT doc_id, substr(text, 1, 16) AS h, text FROM documents)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev
        |FROM d a JOIN d b ON a.h = b.h AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.text, b.text) <= 16
        |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      val docs = Tables.fan(s, documents(s, d))
        .select(col("doc_id"), substring(col("text"), 1, 16).as("h"), col("text"))
      val a = docs.as("a"); val b = docs.as("b")
      a.join(b, col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          levenshtein(col("a.text"), col("b.text")).cast("long").as("lev"))
        .where(col("lev") <= 16)
        .orderBy(col("d1"), col("d2"))
    },

    // Incremental dedup — the continuous-crawl shape: a NEW batch of
    // documents (upper half of the id space) deduped against the EXISTING
    // corpus (lower half), never against itself. Candidates come from the
    // same 5-gram inverted index as the batch dedup ops, but the join is
    // asymmetric (new grams probe old grams), so incremental work scales
    // with the DELTA size — the existing corpus is touched only through
    // its (precomputable, incrementally-maintainable) gram index. Each new
    // doc reports its best existing match (highest Jaccard, lowest old id
    // on ties).
    Q("dedup_incremental", incrementalBestMatchSql) { (s, d) =>
      // planning aggregate, driver-side (same role as the reference's
      // min/max planning queries): the id watermark separating the
      // existing corpus from the new batch
      val thr = (documents(s, d).agg(max(col("doc_id"))).head().getLong(0) + 1) / 2
      val g = Tables.fan(s, documents(s, d))
        .select(col("doc_id"), shingleHashes("text").as("sh"))
        .select(col("doc_id"), size(col("sh")).as("sz"),
                explode(col("sh")).as("gh"))
      val n = g.where(col("doc_id") >= thr)
        .select(col("doc_id").as("d_new"), col("sz").as("szn"), col("gh"))
      val o = g.where(col("doc_id") < thr)
        .select(col("doc_id").as("d_old"), col("sz").as("szo"), col("gh"))
      n.join(o, Seq("gh"))
        .groupBy(col("d_new"), col("d_old"), col("szn"), col("szo"))
        .agg(count(lit(1)).as("inter"))
        .withColumn("jac",
          col("inter").cast("double") / (col("szn") + col("szo") - col("inter")))
        .where(col("jac") >= 0.5)
        .groupBy(col("d_new"))
        .agg(max_by(struct(col("d_old"), col("jac")),
                    struct(col("jac"), (-col("d_old")).as("neg"))).as("best"))
        .select(col("d_new"), col("best.d_old").as("matched_old"),
                col("best.jac").as("jac"))
        .orderBy(col("d_new"))
    },

    // The STEADY-STATE near-dup path: a new batch (doc_id ≥ watermark)
    // probed against the standing corpus through the banded MinHash index
    // — the shape a production pipeline actually runs every ingest, where
    // the corpus-side index (16 × 24-byte rows/doc, [[minhashBanded]]) is
    // materialized ONCE and only the delta pays signature cost per batch.
    // Candidates are an asymmetric band equi-join (delta rows ⋈ corpus
    // index, work ∝ delta × bucket collisions — never corpus × corpus),
    // then candidate-bounded exact verification and a best-match-per-new-
    // doc rollup. Same oracle as dedup_incremental (the gram-index
    // flavor): exact cross-watermark pairs at jac ≥ 0.5 — equality again
    // leans on the fixtures' planted pairs sitting at jac ≥ 0.87 where
    // 16×4 banding recall is ≈1-1e-6 (see dedup_minhash_lsh).
    Q("dedup_minhash_incremental", incrementalBestMatchSql) { (s, d) =>
      val thr = (documents(s, d).agg(max(col("doc_id"))).head().getLong(0) + 1) / 2
      val docs = Tables.fan(s, documents(s, d))
      val banded = minhashBanded(docs)
      val probe = banded.where(col("doc_id") >= thr)
        .select(col("doc_id").as("d1"), col("band"), col("bucket"))
      val index = banded.where(col("doc_id") < thr)
        .select(col("doc_id").as("d2"), col("band"), col("bucket"))
      val cands = probe.join(index, Seq("band", "bucket"))
        .select(col("d1"), col("d2")).distinct()
      verifyCandidatesOf(docs, cands)
        .groupBy(col("d1").as("d_new"))
        .agg(max_by(struct(col("d2"), col("jac")),
                    struct(col("jac"), (-col("d2")).as("neg"))).as("best"))
        .select(col("d_new"), col("best.d2").as("matched_old"),
                col("best.jac").as("jac"))
        .orderBy(col("d_new"))
    },

    // URL canonicalization dedup — how a crawl pipeline collapses refetches
    // of the same page: normalize scheme/host case, drop the default port,
    // strip the fragment and tracking (utm_*) parameters, then group on
    // the canonical URL. The fixtures carry no URLs, so each doc
    // synthesizes one with deterministic noise (mixed-case scheme, :443 on
    // every 3rd, utm params around a real id param, a fragment) and
    // doc_id % 100 aliases ~5 fetches onto each canonical page.
    // Canonicalization is a per-row projection (regex + string algebra,
    // identical shapes in both engines); the only shuffle is the group-by
    // on the canonical key — at 100 TB this is a map-side-combining
    // aggregation on a uniform key, the cheapest dedup in the suite.
    Q("dedup_url_canonical",
      """WITH u AS (
        |  SELECT doc_id, source,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
        |    || source || '.Example.org' || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
        |    || '/corpus/' || CAST(doc_id % 100 AS VARCHAR)
        |    || '?utm_source=feed&id=' || CAST(doc_id % 100 AS VARCHAR)
        |    || '&utm_campaign=x#sect' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source,
        |    replace(regexp_replace(regexp_replace(replace(
        |      lower(regexp_extract(url, '^[^/]+//[^/]+'))
        |        || substr(url, length(regexp_extract(url, '^[^/]+//[^/]+')) + 1),
        |      ':443/', '/'),
        |      '#.*$', ''),
        |      '[?&]utm_[a-z_]+=[^&#]*', '', 'g'),
        |      '&id=', '?id=') AS canonical_url
        |  FROM u)
        |SELECT canonical_url, count(*) AS n_fetches,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin) { (s, d) =>
      val url = concat(
        when(col("doc_id") % 2 === 0, "HTTPS://").otherwise("https://"),
        col("source"), lit(".Example.org"),
        when(col("doc_id") % 3 === 0, ":443").otherwise(""),
        lit("/corpus/"), (col("doc_id") % 100).cast("string"),
        lit("?utm_source=feed&id="), (col("doc_id") % 100).cast("string"),
        lit("&utm_campaign=x#sect"), col("doc_id").cast("string"))
      documents(s, d)
        .select(col("doc_id"), col("source"), url.as("url"))
        .withColumn("pre", regexp_extract(col("url"), "^[^/]+//[^/]+", 0))
        .withColumn("c0", concat(lower(col("pre")),
          expr("substr(url, length(pre) + 1)")))
        .withColumn("canonical_url",
          regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(col("c0"), ":443/", "/"),
            "#.*$", ""),
            "[?&]utm_[a-z_]+=[^&#]*", ""),
            "&id=", "\\?id="))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_fetches"),
             min(col("doc_id")).as("keep_id"),
             sum(col("doc_id")).as("id_sum"))
        .orderBy(col("canonical_url"))
    },

    // SEGMENT-level exact dedup across the whole corpus — the repetition-
    // removal stage CCNet/MassiveText run BELOW document granularity:
    // boilerplate paragraphs (navigation chrome, license blocks, quote
    // chains) recur across documents that are nowhere near document-level
    // duplicates. Segments here are 10-word blocks; the first occurrence
    // in corpus order (min doc_id·10⁵+idx — idx is bounded by words/10 per
    // doc, far below 10⁵) is kept, every later occurrence is flagged, and
    // each doc reports how much of it survives.
    //
    // Scale: one explode to ~1.1× the corpus row count, then ONE shuffle —
    // the window partitions by xxhash64(block), so what moves is 28 bytes
    // per block (hash, owner, index, length), never the block text (the
    // same shuffle-hashes-not-strings trick as the gram index; corpus-pair
    // collisions at 2⁻⁶⁴ are immaterial). The per-doc rollup reuses the
    // doc_id shuffle. No join, no all-pairs anything.
    Q("dedup_paragraph_global", paragraphGlobalSql) { (s, d) =>
      val blocks = paragraphBlocks(s, d)
      val fst = min(col("doc_id") * 100000 + col("bi"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("bh")))
      paragraphRollup(blocks.withColumn("fst", fst))
    },

    // The SKEW-SAFE flavor of dedup_paragraph_global, same oracle: at web
    // scale the hot key here is SEMANTIC — one boilerplate block ("all
    // rights reserved …") can own a meaningful slice of the corpus, and
    // the window flavor's partition-by-digest WindowExec must buffer that
    // whole slice in ONE task with no remedy available. This flavor
    // replaces the window with a partial-aggregated groupBy(digest).min —
    // hot digests collapse MAP-SIDE to one row per input partition before
    // anything shuffles — joined back on the digest, where AQE skew-join
    // can split a hot probe partition across tasks (a rebalance WindowExec
    // structurally cannot have). Same first-occurrence semantics, same
    // result; PlanSpec pins the shape (no WindowExec, equi-join only).
    Q("dedup_paragraph_skewsafe", paragraphGlobalSql) { (s, d) =>
      val blocks = paragraphBlocks(s, d)
      val firsts = blocks.groupBy(col("bh"))
        .agg(min(col("doc_id") * 100000 + col("bi")).as("fst"))
      paragraphRollup(blocks.join(firsts, "bh"))
    },

    // The PROBE-GATED dispatcher over the two stat flavors above, same
    // oracle: the window plan is the cheaper shape as long as every
    // digest's slice fits one task (one shuffle, no join — and measured
    // faster even on a 5%-boilerplate corpus at the 1.3M-doc tier), but
    // a hot digest outgrowing a task's window buffer breaks WindowExec
    // with no remedy (see dedup_paragraph_skewsafe's scaladoc). The
    // escalation the docs previously left to the operator is now a
    // bounded planning probe — [[paragraphSkewGate]] projects the
    // hottest digest's corpus-wide row count from a 20k-doc sample and
    // flips past [[ParagraphWindowMaxHotRows]]. Both branches are the
    // already-hash-verified flavors; DedupSpec pins the projection on a
    // deliberately skewed corpus, GateSpec the decision flip.
    Q("dedup_paragraph_gated", paragraphGlobalSql) { (s, d) =>
      val blocks = paragraphBlocks(s, d)
      if (paragraphSkewGate(s, d)) {
        val firsts = blocks.groupBy(col("bh"))
          .agg(min(col("doc_id") * 100000 + col("bi")).as("fst"))
        paragraphRollup(blocks.join(firsts, "bh"))
      } else {
        val fst = min(col("doc_id") * 100000 + col("bi"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("bh")))
        paragraphRollup(blocks.withColumn("fst", fst))
      }
    },

    // The TRANSFORM half of dedup_paragraph_global: actually REWRITE each
    // document with its globally-duplicated blocks removed (first
    // occurrence kept, in-document order preserved), pinned by md5 of the
    // cleaned text — what a curation pipeline writes back out, not just
    // counts about it. A doc whose every block occurs earlier elsewhere
    // cleans to the empty string, not to absence.
    //
    // Scale: unlike the stats flavor, a rewrite inherently moves the text
    // through the first-occurrence shuffle (you cannot reassemble what you
    // did not ship) — one corpus-sized window exchange on xxhash64(block),
    // then the per-doc reassembly reuses the doc_id shuffle with
    // per-group state bounded by words/10 blocks. Still no join, still one
    // pass.
    Q("dedup_paragraph_rewrite",
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |b AS (
        |  SELECT doc_id, u AS bi,
        |    array_to_string(ws[u*10+1 : u*10+10], ' ') AS btext
        |  FROM (SELECT doc_id, ws,
        |          unnest(range(0, greatest(CAST(ceil(len(ws) / 10.0) AS INT), 1))) AS u
        |        FROM w) t),
        |f AS (SELECT doc_id, bi, btext,
        |        min(doc_id * 100000 + bi) OVER (PARTITION BY btext) AS fst
        |      FROM b)
        |SELECT doc_id,
        |  count(*) FILTER (doc_id * 100000 + bi = fst) AS n_kept,
        |  md5(coalesce(string_agg(btext, ' ' ORDER BY bi)
        |    FILTER (doc_id * 100000 + bi = fst), '')) AS clean_md5
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val keep = col("doc_id") * 100000 + col("bi") === col("fst")
      val blocks = Tables.fan(s, documents(s, d))
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, greatest(cast(ceil(size(ws) / 10.0) as int), 1) - 1)," +
            " i -> concat_ws(' ', slice(ws, i * 10 + 1, 10)))")))
        .select(col("doc_id"), col("pos").as("bi"), col("col").as("btext"))
      val fst = min(col("doc_id") * 100000 + col("bi"))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(xxhash64(col("btext"))))
      blocks.withColumn("fst", fst)
        .groupBy(col("doc_id"))
        .agg(count(when(keep, 1)).as("n_kept"),
          md5(concat_ws(" ", expr(
            "transform(array_sort(collect_list(CASE WHEN doc_id * 100000 + bi = fst" +
              " THEN struct(bi, btext) END)), x -> x.btext)")))
            .as("clean_md5"))
        .orderBy(col("doc_id"))
    },

    // SOFT dedup — reweighting instead of removal: each near-dup cluster
    // member keeps weight 1/|cluster| (singletons weight 1), so the
    // corpus's EFFECTIVE size per source is preserved for mixture math
    // while repeated content stops being over-represented — the
    // SoftDeDup alternative when hard deletion would lose coverage
    // (weights feed sample_weighted_topn / corpus_mix downstream).
    // Same component machinery as the canonical ops; the weight join
    // touches only clustered docs. Determinism: 1/n is one IEEE division
    // of exact integers, rounded to 12 digits and summed in DECIMAL so
    // the per-source rollup is merge-order-proof.
    Q("dedup_soft_weights",
      s"""WITH RECURSIVE
         |$jaccardPairsSql,
         |edges AS (
         |  SELECT d1 AS src, d2 AS dst FROM jpairs
         |  UNION ALL SELECT d2, d1 FROM jpairs),
         |walk(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id),
         |comps AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
         |csizes AS (SELECT comp, count(*) AS n FROM comps GROUP BY comp),
         |dw AS (SELECT c.id, s.n FROM comps c JOIN csizes s ON c.comp = s.comp)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(count(dw.n) AS BIGINT) AS n_in_clusters,
         |  CAST(sum(CAST(coalesce(round(1.0 / dw.n, 12), 1.0)
         |       AS DECIMAL(20,12))) AS DOUBLE) AS effective_size
         |FROM documents d LEFT JOIN dw ON d.doc_id = dw.id
         |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, d) =>
      val pairs = jaccardPairs(s, d).select(col("d1"), col("d2"))
      val comps = graft.operators.DedupClustering.connectedComponents(pairs)
      val sizes = comps.groupBy(col("comp")).agg(count(lit(1)).as("n"))
      val docW = comps.join(sizes, Seq("comp"))
        .select(col("id").as("doc_id"), col("n"))
      documents(s, d).select(col("doc_id"), col("source"))
        .join(docW, Seq("doc_id"), "left_outer")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("n")).as("n_in_clusters"),
          sum(coalesce(round(lit(1.0) / col("n"), 12), lit(1.0))
            .cast("decimal(20,12)")).cast("double").as("effective_size"))
        .orderBy(col("source"))
    },

    // Dedup METHOD-AGREEMENT matrix — the audit a pipeline runs before
    // trusting any single near-dup detector: the three pair detectors
    // with genuinely different failure modes (symmetric gram Jaccard,
    // asymmetric containment, simhash hamming) tagged into one relation,
    // per-pair membership flags, and the count + id-checksum of every
    // flag combination. Containment-only pairs are the quote/boilerplate
    // inclusions Jaccard misses; simhash-only pairs are
    // global-fingerprint matches below the gram thresholds; three-way
    // pairs are safe to delete under any policy. ONE distributed pass:
    // each kernel runs once, the union is pair-sized (tiny), and both
    // rollups key on the pair. Exactly oracle-checked because all three
    // kernels already are.
    Q("dedup_agreement_matrix",
      s"""WITH
         |$jaccardPairsSql,
         |cpairs AS (
         |  SELECT d1, d2
         |  FROM rawpairs
         |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
         |  WHERE CAST(inter AS DOUBLE) / least(s1.sz, s2.sz) >= 0.8),
         |$simhashPairCtes,
         |tagged AS (
         |  SELECT d1, d2, 'jac' AS m FROM jpairs
         |  UNION ALL SELECT d1, d2, 'con' FROM cpairs
         |  UNION ALL SELECT d1, d2, 'sim' FROM cand
         |  WHERE bit_count(xor(sg1, sg2)) <= 6),
         |per AS (
         |  SELECT d1, d2,
         |    max(CASE WHEN m = 'jac' THEN 1 ELSE 0 END) AS by_jaccard,
         |    max(CASE WHEN m = 'con' THEN 1 ELSE 0 END) AS by_containment,
         |    max(CASE WHEN m = 'sim' THEN 1 ELSE 0 END) AS by_simhash
         |  FROM tagged GROUP BY d1, d2)
         |SELECT by_jaccard, by_containment, by_simhash,
         |  count(*) AS n_pairs, CAST(sum(d1 + d2) AS BIGINT) AS pair_id_sum
         |FROM per GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, d) =>
      // ONE gramPairs execution feeds both the jaccard and containment
      // lanes via a checkpoint of the PAIR-sized relation (the
      // packedBins materialization rule: checkpoint the narrow artifact
      // every multi-consumer composition reads). Without it Spark
      // reuses only the gh EXCHANGE between the two lanes — the
      // corpus-gram aggregate itself runs (and spills) twice, which at
      // the 26M tier is the difference between one ~45 GB sort spill
      // and two concurrent ones on a single local disk.
      val gp = Materialize(gramPairs(s, d), eager = true)
      val jp = gp
        .withColumn("jac",
          col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
        .where(col("jac") >= 0.5)
        .select(col("d1"), col("d2"), lit("jac").as("m"))
      val cp = gp
        .where(col("inter").cast("double") / least(col("sz1"), col("sz2")) >= 0.8)
        .select(col("d1"), col("d2"), lit("con").as("m"))
      val sp = simhashCandidates(s, d, maxHamming = 6)
        .select(col("d1"), col("d2"), lit("sim").as("m"))
      jp.unionAll(cp).unionAll(sp)
        .groupBy(col("d1"), col("d2"))
        .agg(max(when(col("m") === "jac", 1).otherwise(0)).as("by_jaccard"),
             max(when(col("m") === "con", 1).otherwise(0)).as("by_containment"),
             max(when(col("m") === "sim", 1).otherwise(0)).as("by_simhash"))
        .groupBy(col("by_jaccard"), col("by_containment"), col("by_simhash"))
        .agg(count(lit(1)).as("n_pairs"),
             sum(col("d1") + col("d2")).as("pair_id_sum"))
        .orderBy(col("by_jaccard"), col("by_containment"), col("by_simhash"))
    },

    // Temporal debounce dedup — the crawl-refetch window rule: a row whose
    // content digest repeats for the same user within 72 h of the PREVIOUS
    // sighting is a refetch, not new content; a repeat after a longer gap
    // re-enters as fresh (content may have changed meaning/context, and
    // retention policies want it re-archived). Gaps-and-islands on
    // (user_id, digest): lag + a gap flag, keep = island head. This is
    // the BATCH twin of stream_dedup_counts' watermarked state dedup —
    // same contract, no state store. Scale: two window passes partitioned
    // on the (user, digest) key — the natural high-cardinality shuffle
    // key; exact-microsecond integer gap arithmetic in both engines.
    Q("dedup_temporal_debounce",
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, md5(props) AS digest,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t
        |  FROM events),
        |l AS (
        |  SELECT event_type, event_id,
        |    lag(t) OVER (PARTITION BY user_id, digest ORDER BY t, event_id) AS p,
        |    t
        |  FROM e),
        |f AS (
        |  SELECT event_type, event_id,
        |    CASE WHEN p IS NULL OR t - p > 259200000000 THEN 1 ELSE 0 END AS is_new
        |  FROM l)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(is_new) AS BIGINT) AS n_kept,
        |  CAST(count(*) - sum(is_new) AS BIGINT) AS n_suppressed,
        |  CAST(bit_xor(CASE WHEN is_new = 1 THEN event_id ELSE 0 END) AS BIGINT)
        |    AS kept_id_xor
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"), col("digest"))
        .orderBy(col("t"), col("event_id"))
      events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          md5(col("props")).as("digest"), unix_micros(col("ts")).as("t"))
        .withColumn("p", lag(col("t"), 1).over(w))
        .withColumn("is_new",
          when(col("p").isNull || col("t") - col("p") > 259200000000L, 1)
            .otherwise(0))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("is_new")).as("n_kept"),
          (count(lit(1)) - sum(col("is_new"))).as("n_suppressed"),
          expr("bit_xor(CASE WHEN is_new = 1 THEN event_id ELSE 0L END)")
            .as("kept_id_xor"))
        .orderBy(col("event_type"))
    },
  )

  /** Best cross-watermark match per new doc at jac ≥ 0.5 — the shared
    * oracle of both incremental-dedup flavors (gram-index and banded
    * MinHash probe): candidate mechanism moves work, never reported
    * matches, on fixtures whose planted pairs sit above banding-recall
    * margin. A def: referenced from `all` (object init order). */
  private def incrementalBestMatchSql: String =
    """WITH thr AS (SELECT (max(doc_id) + 1) // 2 AS t FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id,
      |    list_aggregate(w[CAST(u AS INT):CAST(u+4 AS INT)], 'string_agg', ' ') AS gram
      |  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w)-3, 2))) AS u
      |        FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS w FROM documents) t0)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
      |pairs AS (
      |  SELECT n.doc_id AS d_new, o.doc_id AS d_old, count(*) AS inter
      |  FROM g n JOIN g o ON n.gram = o.gram, thr
      |  WHERE n.doc_id >= thr.t AND o.doc_id < thr.t
      |  GROUP BY 1, 2),
      |jp AS (
      |  SELECT d_new, d_old,
      |    CAST(inter AS DOUBLE) / (sn.sz + so.sz - inter) AS jac
      |  FROM pairs
      |  JOIN sizes sn ON d_new = sn.doc_id JOIN sizes so ON d_old = so.doc_id
      |  WHERE CAST(inter AS DOUBLE) / (sn.sz + so.sz - inter) >= 0.5)
      |SELECT d_new, d_old AS matched_old, jac FROM (
      |  SELECT *, row_number() OVER (PARTITION BY d_new
      |    ORDER BY jac DESC, d_old ASC) AS rn FROM jp) t
      |WHERE rn = 1 ORDER BY d_new""".stripMargin

  /** The corpus REWRITTEN with globally-duplicated 10-word blocks removed
    * (first occurrence kept, in-document order preserved; a fully-
    * duplicated doc cleans to the empty string, not to absence) — the
    * reusable TRANSFORM kernel behind dedup_paragraph_rewrite, returned
    * as a (doc_id, source, text) relation so composed consumers
    * (curation_pipeline_subdoc) can treat it as a corpus. Same one
    * digest-keyed window shuffle as the contract query. */
  private[graft] def paragraphRewrittenDocs(docs: DataFrame): DataFrame = {
    val blocks = docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("source"), posexplode(expr(
        "transform(sequence(0, greatest(cast(ceil(size(ws) / 10.0) as int), 1) - 1)," +
          " i -> concat_ws(' ', slice(ws, i * 10 + 1, 10)))")))
      .select(col("doc_id"), col("source"), col("pos").as("bi"),
        col("col").as("btext"))
    val fst = min(col("doc_id") * 100000 + col("bi"))
      .over(org.apache.spark.sql.expressions.Window
        .partitionBy(xxhash64(col("btext"))))
    blocks.withColumn("fst", fst)
      .groupBy(col("doc_id"), col("source"))
      .agg(concat_ws(" ", expr(
        "transform(array_sort(collect_list(CASE WHEN doc_id * 100000 + bi = fst" +
          " THEN struct(bi, btext) END)), x -> x.btext)")).as("text"))
  }

  /** DuckDB twin of [[paragraphRewrittenDocs]] as CTEs ending in
    * `cd(doc_id, source, text)` over the documents table. */
  private[graft] def paragraphRewriteCtes: String =
    """prw AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
      |prb AS (
      |  SELECT doc_id, source, u AS bi,
      |    array_to_string(ws[u*10+1 : u*10+10], ' ') AS btext
      |  FROM (SELECT doc_id, source, ws,
      |          unnest(range(0, greatest(CAST(ceil(len(ws) / 10.0) AS INT), 1))) AS u
      |        FROM prw) t),
      |prf AS (SELECT doc_id, source, bi, btext,
      |          min(doc_id * 100000 + bi) OVER (PARTITION BY btext) AS fst
      |        FROM prb),
      |cd AS (
      |  SELECT doc_id, source,
      |    coalesce(string_agg(btext, ' ' ORDER BY bi)
      |      FILTER (doc_id * 100000 + bi = fst), '') AS text
      |  FROM prf GROUP BY doc_id, source)""".stripMargin

  /** 10-word blocks of every document with their 8-byte digest — the
    * shared explode stage of both sub-document dedup STAT flavors (the
    * rewrite flavor needs the text itself and keeps its own). A def:
    * referenced from `all` (object init order, the cosinePairsSql
    * pattern). */
  private def paragraphBlocks(s: SparkSession, d: String): DataFrame =
    paragraphBlocksOf(Tables.fan(s, documents(s, d)))

  /** The block-explode stage over an arbitrary (doc_id, text, …) frame —
    * split out so [[paragraphSkewGate]] can run it over a bounded sample
    * instead of the whole corpus. */
  private def paragraphBlocksOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, greatest(cast(ceil(size(ws) / 10.0) as int), 1) - 1)," +
          " i -> concat_ws(' ', slice(ws, i * 10 + 1, 10)))")))
      .select(col("doc_id"), col("pos").as("bi"),
        xxhash64(col("col")).as("bh"), length(col("col")).as("blen"))

  /** How many documents the skew probe reads, and the estimated ABSOLUTE
    * hot-digest row count past which the window plan is unsafe. The
    * criterion is deliberately not a share: a digest owning even 5% of a
    * 1.3M-doc corpus is ~500k narrow 28-byte rows — one task buffers
    * that comfortably, and the measured A/B says the window plan is
    * still the FASTER one there (8.9 s vs the aggregate+join's 15.2 s,
    * scale_smoke_r9_new.json). What breaks the window flavor is the hot
    * slice outgrowing a single task — partition-by-digest WindowExec has
    * no skew remedy — so the flip point is an absolute row count sized
    * to a task's window buffer (4M rows ≈ ~112 MB), which the same
    * boilerplate share only reaches on a corpus two orders larger. */
  private val ParagraphProbeDocs = 20000
  private[graft] val ParagraphWindowMaxHotRows = 4L << 20

  /** Scan bound of the skew probe: at most this many data files are read,
    * chosen at a constant stride over the path-sorted listing so the
    * probe sees every REGION of the corpus. A contiguous head sample
    * (the previous `limit()` design) assumed boilerplate skew is
    * uniformly corpus-wide — false for corpora concatenated by source,
    * where a boilerplate-heavy source appended late is invisible to the
    * head and the gate would keep the window plan straight into the
    * unbounded-buffer failure it exists to prevent. Residual blind spot:
    * a source spanning fewer than `files/64` consecutive files can still
    * fall between stride picks; raise this bound if sources are that
    * narrow. */
  private val ParagraphProbeMaxFiles = 64

  /** Estimated corpus-wide row count of the hottest block digest, from a
    * bounded region-covering sample: up to [[ParagraphProbeMaxFiles]]
    * evenly-strided data files, thinned WITHIN files to
    * ~[[ParagraphProbeDocs]] docs by a hash predicate on `doc_id`
    * (`pmod(xxhash64(doc_id), k) = 0` — uniform over docs, independent
    * of layout order), so the probe cost stays O(64 files) at any corpus
    * size while the sample covers every corpus region. The exact sampled
    * doc count rides on the same job via an `Observation` (no second
    * scan), and `topCount · footerDocs / sampleDocs` projects the hot
    * digest to the corpus. Footers alone cannot see content skew. */
  private[graft] def paragraphHotRowEstimate(s: SparkSession, d: String): Double = {
    val footerDocs = Tables.parquetRowCount(s, d, "documents")
    if (footerDocs == 0L) return 0.0
    val files = Tables.dataFiles(s, d, "documents")
    // ceiling stride so at most ParagraphProbeMaxFiles files are picked
    // (floor stride scans up to 2x-1 the bound, e.g. 127 files at stride 1)
    val stride = math.max(1,
      (files.size + ParagraphProbeMaxFiles - 1) / ParagraphProbeMaxFiles)
    val picked = files.zipWithIndex.collect { case (f, i) if i % stride == 0 => f }
    // rows in the picked files, estimated by byte share: only sizes the
    // within-file thinning factor — the projection divides by the exact
    // observed sample count, so this needs no footer reads per file
    val totalBytes = math.max(files.map(_.getLen).sum, 1L).toDouble
    val pickedRows = math.max(1L,
      (footerDocs * (picked.map(_.getLen).sum / totalBytes)).toLong)
    val k = math.max(1L, pickedRows / ParagraphProbeDocs)
    val obs = org.apache.spark.sql.Observation()
    val sample = s.read.parquet(picked.map(_.getPath.toString): _*)
      .select(col("doc_id"), col("text"))
      .filter(pmod(xxhash64(col("doc_id")), lit(k)) === lit(0L))
      .observe(obs, count(lit(1)).as("docs"))
    val r = paragraphBlocksOf(sample)
      .groupBy(col("bh")).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("top")).head
    val sampleDocs = obs.get("docs").asInstanceOf[Long]
    if (r.isNullAt(0) || sampleDocs == 0L) 0.0
    else r.getLong(0).toDouble * footerDocs.toDouble / sampleDocs.toDouble
  }

  /** The planning decision for the gated sub-document flavor: true (the
    * aggregate+join plan) once the estimated hot-digest row count
    * outgrows a task's window buffer. A pure function of the estimate,
    * so the flip is checkable without a corpus (live tiers below the
    * threshold correctly keep the faster window plan). */
  def paragraphSkewDecision(estimatedHotRows: Double): Boolean =
    estimatedHotRows > ParagraphWindowMaxHotRows.toDouble

  def paragraphSkewGate(s: SparkSession, d: String): Boolean =
    paragraphSkewDecision(paragraphHotRowEstimate(s, d))

  /** Per-doc survival rollup over blocks carrying their first-occurrence
    * rank `fst` — shared by the window and aggregate+join flavors. */
  private def paragraphRollup(withFst: DataFrame): DataFrame =
    withFst.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        count(when(col("doc_id") * 100000 + col("bi") =!= col("fst"), 1))
          .as("n_dup_blocks"),
        coalesce(sum(when(col("doc_id") * 100000 + col("bi") === col("fst"),
          col("blen").cast("long"))), lit(0L)).as("kept_chars"))
      .orderBy(col("doc_id"))

  /** The shared DuckDB oracle for both sub-document-repetition STAT
    * flavors: window and aggregate+join compute the same first-occurrence
    * relation, so one SQL pins both. */
  private def paragraphGlobalSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |b AS (
      |  SELECT doc_id, u AS bi,
      |    array_to_string(ws[u*10+1 : u*10+10], ' ') AS btext
      |  FROM (SELECT doc_id, ws,
      |          unnest(range(0, greatest(CAST(ceil(len(ws) / 10.0) AS INT), 1))) AS u
      |        FROM w) t),
      |f AS (SELECT doc_id, bi, len(btext) AS blen,
      |        min(doc_id * 100000 + bi) OVER (PARTITION BY btext) AS fst
      |      FROM b)
      |SELECT doc_id, count(*) AS n_blocks,
      |  count(*) FILTER (doc_id * 100000 + bi <> fst) AS n_dup_blocks,
      |  CAST(coalesce(sum(blen) FILTER (doc_id * 100000 + bi = fst), 0) AS BIGINT)
      |    AS kept_chars
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Brute-force exact-cosine pair oracle shared by both embedding-cosine
    * flavors — centroid choice moves candidates, never answers, so one
    * oracle pins both. A def: referenced from `all` (object init order,
    * the tfidfSql pattern). */
  private def cosinePairsSql: String =
    """WITH e AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    sqrt(list_reduce(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, q) -> p + q)) AS nrm
      |  FROM embeddings)
      |SELECT a.vec_id AS v1, b.vec_id AS v2,
      |  list_reduce(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]),
      |              (p, q) -> p + q) / (a.nrm * b.nrm) AS cos
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_reduce(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]),
      |              (p, q) -> p + q) / (a.nrm * b.nrm) >= 0.4
      |ORDER BY v1, v2""".stripMargin

  /** Cell-pruned exact cosine pairs at t=0.4 over a caller-supplied
    * centroid frame (cid, cv, cnrm): assignment, per-cell radii, the
    * driver-side K²-bounded compatible ORDERED cell-pair list (a pair
    * (u,w) appears through exactly one ordered cell pair, so no candidate
    * dedup is needed), then two equi-joins on the cell key and the exact
    * re-verify. */
  private def cosinePairsViaCells(s: SparkSession, e: DataFrame,
      cents: DataFrame): DataFrame = {
    import graft.functions.VectorOps.dot_d
    import graft.operators.AngularCells
    import s.implicits._
    val asg = AngularCells.assign(e, cents)
    // planning-sized driver work: K angular radii + K centroid vectors
    val radii = AngularCells.radii(asg)
    val cvecs = AngularCells.collectVecs(cents)
    val tau = math.acos(0.4)
    val compat = for {
      (c1, v1, n1) <- cvecs.toSeq if radii.contains(c1)
      (c2, v2, n2) <- cvecs.toSeq if radii.contains(c2)
      if AngularCells.angle(v1, n1, v2, n2) <=
        tau + radii(c1) + radii(c2) + AngularCells.slack
    } yield (c1, c2)
    val compatDf = compat.toDF("c1", "c2")
    val a = asg.select(col("vec_id"), col("v"), col("nrm"), col("cell")).as("a")
    val b = asg.select(col("vec_id"), col("v"), col("nrm"), col("cell")).as("b")
    a.join(broadcast(compatDf), col("a.cell") === col("c1"))
      .join(b, col("b.cell") === col("c2") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        (dot_d(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .where(col("cos") >= 0.4)
      .orderBy(col("v1"), col("v2"))
  }
}
