package graft.ops

import org.apache.spark.sql.functions._

/** Text-analysis operators over the documents table: quality scoring,
  * language identification (marker-n-gram heuristic), token statistics, and
  * rolling-hash document fingerprinting. All per-row arithmetic (integer
  * counts, one IEEE division per ratio) so the DuckDB oracle matches
  * bit-for-bit; everything stays inside whole-stage codegen.
  */
object TextOps {
  import Tables._

  /** occurrences of literal `m` in `s` via the length-difference trick —
    * identical integer arithmetic in Spark and DuckDB. */
  private def occSql(s: String, m: String): String =
    s"CAST((length($s) - length(replace($s, '$m', ''))) / ${m.length} AS BIGINT)"

  private val langMarkers = Seq(
    "en" -> " the ", "de" -> " der ", "es" -> " el ",
    "fr" -> " le ", "zh" -> " zh ")

  /** Linear quality-classifier score over (doc_id, source, text):
    * stopword fraction, mean word length, alphabetic fraction, fixed
    * literal weights. Every feature is one IEEE division of exact
    * integers and the score a fixed-order multiply-add chain, so z — and
    * therefore any threshold cut on it — is bit-identical across engines
    * (see quality_classifier_filter). Shared by that contract query and
    * the composed curation_pipeline so the two can never drift. Returns
    * (doc_id, source, text, z); a pure projection at the scan. */
  private[graft] def scoredDocs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = scoredDocs(docs, Nil)

  /** [[scoredDocs]] with extra input columns carried through to the
    * output unchanged (the ensemble gate needs lang/n_chars beside z;
    * callers passing Nil keep the narrow legacy shape so arbitrary
    * (doc_id, source, text) frames — the curation pipeline's — still
    * resolve). */
  private[graft] def scoredDocs(docs: org.apache.spark.sql.DataFrame,
      carry: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val extra = carry.map(col)
    // one fused kernel pass (quality_word_stats) supplies the integer
    // word features the filter/aggregate HOF lambdas used to recompute
    // per word, interpreted; the IEEE feature divisions and the z
    // multiply-add chain below are UNCHANGED, so the cross-engine
    // bit-identity theorem this classifier's consumers rely on holds
    docs
      .select(Seq(col("doc_id"), col("source"), col("text"),
        graft.functions.Tokenize.quality_word_stats(lower(col("text")))
          .as("qs")) ++ extra: _*)
      .withColumn("nw", col("qs.nw"))
      .withColumn("swf", when(col("nw") === 0, 0.0).otherwise(
        col("qs.n_stop").cast("double") / col("nw")))
      .withColumn("mwl", when(col("nw") === 0, 0.0).otherwise(
        col("qs.sum_len").cast("double") / col("nw")))
      .withColumn("af", when(length(col("text")) === 0, 0.0).otherwise(
        graft.functions.Tokenize.count_alpha(col("text")).cast("double")
          / length(col("text"))))
      .select(Seq(col("doc_id"), col("source"), col("text"),
        (lit(10.0) * col("swf") + lit(5.0) * col("af")
          + lit(0.5) * col("mwl") - lit(6.5)).as("z")) ++ extra: _*)
  }

  /** The classifier-score CTE chain of the same model for DuckDB oracles:
    * `<p>sc` exposes (doc_id, source, text, z) over `src`. Mirrors
    * [[scoredDocs]] term-for-term. */
  private[graft] def classifierScoreCtes(p: String, src: String): String =
    s"""${p}w AS (
       |  SELECT doc_id, source, text, regexp_extract_all(lower(text), '[a-z]+') AS wa
       |  FROM $src),
       |${p}f AS (
       |  SELECT doc_id, source, text,
       |    CASE WHEN len(wa) = 0 THEN 0.0
       |         ELSE CAST(len(list_filter(wa, x -> list_contains(
       |                ['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
       |              / len(wa) END AS swf,
       |    CASE WHEN len(wa) = 0 THEN 0.0
       |         ELSE CAST(list_sum(list_transform(wa, x -> len(x))) AS DOUBLE)
       |              / len(wa) END AS mwl,
       |    CASE WHEN len(text) = 0 THEN 0.0
       |         ELSE CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
       |              / len(text) END AS af
       |  FROM ${p}w),
       |${p}sc AS (SELECT doc_id, source, text,
       |  10.0 * swf + 5.0 * af + 0.5 * mwl - 6.5 AS z FROM ${p}f)""".stripMargin

  /** Number of BPE merges learned/applied by bpe_encode (markers 'A'..). */
  private[graft] val BpeNMerges = 8

  /** The learned BPE merge list: top-`BpeNMerges` adjacent character
    * pairs of the lowercase word corpus, ranked (count DESC, pair ASC) —
    * the first-iteration merge table of byte-pair training (the exact
    * aggregate bpe_pair_counts hash-verifies, truncated to 8). True
    * sequential BPE would re-count after each merge; the static top-8
    * list is the deterministic stand-in that exercises the identical
    * ENCODE machinery while staying recomputable inside a single DuckDB
    * oracle (a sequential re-count per merge cannot nest in one SQL
    * statement). Merge quality shifts which pairs collapse, never the
    * encode semantics. Memoized per (session, fixture): a production
    * tokenizer trains ONCE and encodes many — composed consumers
    * (bpe_encode, pack_sequences_bpe) should pay encode cost, not a
    * re-rank per query. Planning-sized: `BpeNMerges` 2-char strings on
    * the driver. */
  private[graft] def bpeMergeList(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[String] =
    Memo(s, "text.bpeMerges", d) {
      Tables.fan(s, Tables.documents(s, d))
        .select(explode(graft.functions.Tokenize.alpha_runs(lower(col("text")))).as("wd"))
        .where(length(col("wd")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(wd) - 1), u -> substr(wd, u, 2))")).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(BpeNMerges)
        .collect().map(_.getString(0)).toSeq
    }

  /** SQL expression encoding a lowercase word by applying the merge list
    * in rank order: merge i rewrites every non-overlapping occurrence of
    * its character pair (left-to-right, the greedy BPE pass) to the
    * single marker char ('A'+i). Words are [a-z]+ and markers are
    * non-[a-z], so a consumed character can never participate in a later
    * merge — exactly BPE restricted to single-char pairs, with `replace`
    * (identical left-to-right semantics in Spark and DuckDB) doing the
    * pass. Token count of the encoded word = its length. */
  private[graft] def bpeEncodeSql(merges: Seq[String], in: String): String =
    merges.zipWithIndex.foldLeft(in) { case (e, (p, i)) =>
      s"replace($e, '$p', '${('A' + i).toChar}')"
    }

  /** DuckDB twin of [[bpeMergeList]] + the word prep, as CTEs: `wbpe`
    * exposes (doc_id, source, wa) and `bp8` the one-row merge frame
    * (p1..pN, absent ranks coalesced to '00' — digits never occur in
    * [a-z]+ words, so the marker replace is a no-op exactly like the
    * Spark side's shorter merge list). */
  private[graft] def bpeMergeSqlCtes: String = {
    val ps = (1 to BpeNMerges).map(i =>
      s"  coalesce(max(CASE WHEN rank = $i THEN pair END), '00') AS p$i")
      .mkString(",\n")
    s"""wbpe AS (
       |  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z]+') AS wa
       |  FROM documents),
       |bpp AS (
       |  SELECT substr(wd, CAST(u AS INT), 2) AS pair
       |  FROM (SELECT wd, unnest(range(1, len(wd))) AS u
       |        FROM (SELECT unnest(wa) AS wd FROM wbpe) wl
       |        WHERE len(wd) >= 2) t),
       |bpm AS (
       |  SELECT pair, row_number() OVER (ORDER BY count(*) DESC, pair) AS rank
       |  FROM bpp GROUP BY pair ORDER BY rank LIMIT $BpeNMerges),
       |bp8 AS (SELECT
       |$ps
       |FROM bpm)""".stripMargin
  }

  /** Oracle-side encode expression over `in`, referencing bp8's p1..pN
    * columns instead of interpolated literals. */
  private[graft] def bpeEncodeOracleExpr(in: String): String =
    (0 until BpeNMerges).foldLeft(in) { case (e, i) =>
      s"replace($e, p${i + 1}, '${('A' + i).toChar}')"
    }

  val all: Seq[Q] = Seq(

    Q("text_quality_score",
      """SELECT doc_id,
        |  length(text) AS n_char,
        |  len(regexp_extract_all(text, '\S+')) AS n_tok,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
        |  CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_space,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE)
        |    / greatest(length(text), 1) AS tok_density,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        |    / greatest(length(text), 1) AS punct_ratio,
        |  CASE WHEN length(text) >= 100 AND length(text) <= 20000
        |        AND CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        |              / greatest(length(text), 1) < 0.1
        |       THEN 1 ELSE 0 END AS quality_keep
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d).select(
          col("doc_id"),
          length(col("text")).as("n_char"),
          size(graft.functions.Tokenize.ws_tokens(col("text"))).as("n_tok"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[.,!?;:]", "")))
            .cast("long").as("n_punct"),
          (length(col("text")) - length(expr("replace(text, ' ', '')")))
            .cast("long").as("n_space"))
        .withColumn("tok_density",
          col("n_tok").cast("double") / greatest(col("n_char"), lit(1)))
        .withColumn("punct_ratio",
          col("n_punct").cast("double") / greatest(col("n_char"), lit(1)))
        .withColumn("quality_keep",
          when(col("n_char").between(100, 20000) && col("punct_ratio") < 0.1, 1)
            .otherwise(0))
        .orderBy(col("doc_id"))
    },

    // Language ID by marker-token counting with a fixed-preference argmax
    // (CASE chain, ties resolve in declaration order) — the same chain in
    // both engines, so the prediction is engine-identical even on ties.
    Q("text_langid", {
      val occs = langMarkers.map { case (l, m) =>
        s"${occSql("concat(' ', lower(text), ' ')", m)} AS s_$l" }.mkString(",\n  ")
      val maxExpr = langMarkers.map(l => s"s_${l._1}").mkString("greatest(", ", ", ")")
      val caseChain = langMarkers.map { case (l, _) =>
        s"WHEN s_$l = $maxExpr THEN '$l'" }.mkString(" ")
      s"""SELECT doc_id, lang,
         |  CASE WHEN $maxExpr = 0 THEN 'unk' $caseChain END AS pred_lang,
         |  ${langMarkers.map(l => s"s_${l._1}").mkString(", ")}
         |FROM (SELECT doc_id, lang, $occs FROM documents) t
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val padded = "concat(' ', lower(text), ' ')"
      val df = documents(s, d).select(col("doc_id") +: col("lang") +:
        langMarkers.map { case (l, m) => expr(occSql(padded, m)).as(s"s_$l") }: _*)
      val mx = greatest(langMarkers.map(l => col(s"s_${l._1}")): _*)
      val pred = langMarkers.foldLeft(when(mx === 0, "unk")) {
        case (acc, (l, _)) => acc.when(col(s"s_$l") === mx, l)
      }
      df.withColumn("pred_lang", pred)
        .select(col("doc_id") +: col("lang") +: col("pred_lang") +:
          langMarkers.map(l => col(s"s_${l._1}")): _*)
        .orderBy(col("doc_id"))
    },

    // Language-ID CONFUSION matrix — the eval audit for the marker
    // heuristic above: predicted vs fixture-truth language counts plus
    // each cell's share of its truth row (recall on the diagonal). The
    // model-eval primitive every classifier in the pipeline needs; here
    // it doubles as the drift monitor a production langid gate runs per
    // crawl batch. Same per-doc kernel as text_langid (a projection),
    // then one matrix-sized aggregate; the share is one IEEE division of
    // exact integers — bit-identical across engines.
    Q("text_langid_confusion", {
      val occs = langMarkers.map { case (l, m) =>
        s"${occSql("concat(' ', lower(text), ' ')", m)} AS s_$l" }.mkString(",\n  ")
      val maxExpr = langMarkers.map(l => s"s_${l._1}").mkString("greatest(", ", ", ")")
      val caseChain = langMarkers.map { case (l, _) =>
        s"WHEN s_$l = $maxExpr THEN '$l'" }.mkString(" ")
      s"""WITH p AS (
         |  SELECT lang,
         |    CASE WHEN $maxExpr = 0 THEN 'unk' $caseChain END AS pred_lang
         |  FROM (SELECT lang, $occs FROM documents) t)
         |SELECT lang, pred_lang, count(*) AS n,
         |  CAST(count(*) AS DOUBLE)
         |    / sum(count(*)) OVER (PARTITION BY lang) AS frac_of_truth
         |FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val padded = "concat(' ', lower(text), ' ')"
      val df = documents(s, d).select(col("lang") +:
        langMarkers.map { case (l, m) => expr(occSql(padded, m)).as(s"s_$l") }: _*)
      val mx = greatest(langMarkers.map(l => col(s"s_${l._1}")): _*)
      val pred = langMarkers.foldLeft(when(mx === 0, "unk")) {
        case (acc, (l, _)) => acc.when(col(s"s_$l") === mx, l)
      }
      df.withColumn("pred_lang", pred)
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("frac_of_truth", col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("lang"))))
        .orderBy(col("lang"), col("pred_lang"))
    },

    Q("text_token_stats",
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '\S+')) AS ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpeish_tokens,
        |  len(list_distinct(regexp_extract_all(lower(text), '[a-z]+'))) AS distinct_words,
        |  length(text) AS n_chars,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |    / greatest(len(regexp_extract_all(text, '\S+')), 1) AS avg_tok_len
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d).select(
          col("doc_id"),
          size(graft.functions.Tokenize.ws_tokens(col("text"))).as("ws_tokens"),
          size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
            .as("bpeish_tokens"),
          size(array_distinct(graft.functions.Tokenize.alpha_runs(lower(col("text")))))
            .as("distinct_words"),
          length(col("text")).as("n_chars"),
          length(expr("replace(text, ' ', '')")).as("nosp_len"))
        .withColumn("avg_tok_len",
          col("nosp_len").cast("double") / greatest(col("ws_tokens"), lit(1)))
        .drop("nosp_len")
        .orderBy(col("doc_id"))
    },

    // Rolling polynomial fingerprint: left fold (acc*31 + byte) mod 1e9+7
    // over the characters — identical fold in both engines; duplicate
    // fingerprints would collapse to shared values (content addressing).
    Q("text_fingerprint",
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(7 AS BIGINT),
        |    list_transform(string_split_regex(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fp,
        |  length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      // poly_fingerprint = the same fold in one code-point scan; the old
      // aggregate(split(text,'')) chain paid one single-char string and
      // one interpreted lambda call per character (TokenizeSpec pins
      // kernel == chain, incl. the empty-string [""]·ascii=0 step)
      documents(s, d).select(
          col("doc_id"),
          graft.functions.Tokenize.poly_fingerprint(col("text")).as("fp"),
          length(col("text")).as("n_chars"))
        .orderBy(col("doc_id"))
    },

    // Character-level Shannon entropy per document — the classic gibberish
    // / boilerplate quality signal (low entropy = repeated filler, high =
    // random noise). H = ln(n) - Σ c·ln(c) / n over per-char counts c.
    // Cross-engine determinism: each c·ln(c) term is one multiply of
    // per-group-deterministic inputs, summed in DECIMAL (associative, so
    // partial-agg merge order is irrelevant); engines' ln() may differ in
    // the last ulp (~1e-10 absolute here), which round(...,4) absorbs.
    // One explode + one (doc,char) shuffle — char alphabets are tiny, so
    // the second aggregate is ~100 rows per doc.
    Q("text_char_entropy",
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '')) AS c FROM documents),
        |cnt AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_elems,
        |    count(*) AS n_distinct,
        |    CAST(sum(CAST(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE)) AS DECIMAL(30,12))) AS DOUBLE) AS s
        |  FROM cnt GROUP BY doc_id)
        |SELECT doc_id, n_elems, n_distinct,
        |  round(ln(CAST(n_elems AS DOUBLE)) - s / n_elems, 4) AS entropy
        |FROM agg ORDER BY doc_id""".stripMargin) { (s, d) =>
      // char_entropy_stats folds the explode(split(text,'')) →
      // groupBy(doc, c) → groupBy(doc) plan (one exploded row per
      // CHARACTER, one shuffled row per distinct (doc, char)) into a
      // single per-doc kernel pass — the query becomes a pure
      // projection with NO shuffle at any scale; the decimal/ln
      // arithmetic is replicated term-for-term (RepetitionSpec pins it).
      // NULL-text docs are dropped explicitly (ADVICE r12): the old
      // explode chain and the oracle's unnest emit no row for them,
      // while the null-propagating kernel would emit a null-stats row —
      // no-op on the (null-free) fixtures, identical row-set semantics
      // if nulls ever appear.
      Tables.fan(s, documents(s, d))
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.TextStats.char_entropy_stats(col("text")).as("es"))
        .select(col("doc_id"), col("es.n_elems").as("n_elems"),
          col("es.n_distinct").as("n_distinct"), col("es.s").as("s"))
        .select(col("doc_id"), col("n_elems"), col("n_distinct"),
          round(log(col("n_elems").cast("double")) - col("s") / col("n_elems"), 4)
            .as("entropy"))
        .orderBy(col("doc_id"))
    },

    // Bigram-LM cross-entropy per document — the CCNet-style LM quality
    // filter: a corpus-trained bigram model scores each document's mean
    // −ln p(w₂|w₁); fluent text scores low, boilerplate/garble high. At
    // scale the LM is trained once (one (w₁,w₂) shuffle with map-side
    // combine) and is SMALL relative to the corpus (vocab², and in
    // practice pruned), so scoring is a BROADCAST join over the exploded
    // bigram stream — no corpus shuffle on the word key. Cross-engine
    // determinism follows text_char_entropy's pattern: each −ln term is
    // cast to DECIMAL(30,12) before the per-doc sum (merge-order-proof
    // addition), and the final mean rounds to 4 digits to absorb engine
    // ln ulp differences.
    Q("text_perplexity_ngram",
      s"""WITH $perplexityXentCtes
        |SELECT doc_id, n_bigrams, xent
        |FROM px ORDER BY doc_id LIMIT 500""".stripMargin) { (s, d) =>
      perplexityXent(s, d)
        .select(col("doc_id"), col("n_bigrams"), col("xent"))
        .orderBy(col("doc_id")).limit(500)
    },

    // CCNet's perplexity-bucket routing, composed on the same LM kernel:
    // per LANGUAGE, documents split into head/middle/tail terciles of
    // bigram cross-entropy (ntile over the ROUNDED xent with doc_id
    // tiebreak — identical split in both engines), and the pipeline keeps
    // head+middle. This is the quality knob CCNet applies after language
    // ID and before dedup; here the audit reports each bucket's size and
    // id checksum with its keep decision. Scale: the bucket pass adds one
    // lang-partitioned window over the per-doc xent relation (1 row/doc —
    // corpus-narrow, nothing like the bigram explode upstream of it);
    // everything heavier is the already-audited perplexity kernel.
    Q("perplexity_bucket_filter",
      s"""WITH $perplexityXentCtes,
        |bk AS (
        |  SELECT lang, doc_id,
        |    ntile(3) OVER (PARTITION BY lang ORDER BY xent, doc_id) AS b
        |  FROM px)
        |SELECT lang,
        |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
        |  (b <= 2) AS kept, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM bk GROUP BY lang, b ORDER BY lang, bucket""".stripMargin) { (s, d) =>
      val b = ntile(3).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("xent"), col("doc_id")))
      perplexityXent(s, d)
        .withColumn("b", b)
        .groupBy(col("lang"), col("b"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("doc_id")).cast("bigint").as("id_sum"))
        .select(col("lang"),
          when(col("b") === 1, "head").when(col("b") === 2, "middle")
            .otherwise("tail").as("bucket"),
          (col("b") <= 2).as("kept"), col("n_docs"), col("id_sum"))
        .orderBy(col("lang"), col("bucket"))
    },

    // Corpus TF-IDF with top-3 terms per document — the classic distinctive-
    // term / keyword-extraction signal. One (doc,term) shuffle builds the
    // term frequencies; document frequencies derive from the aggregated TF
    // relation. Whether the dictionary join broadcasts is a FOOTER-GATED
    // hybrid (see tfidfTopterms): a web corpus's vocabulary is beyond
    // broadcastable, a sane corpus's isn't, and the row-count probe knows
    // which world it's in before planning. Ranking is exact-integer (tf
    // desc, df asc, term asc), never by the IEEE score, so row_number is
    // engine-identical; the displayed score rounds to 4 digits to absorb
    // ln() ulp differences (same pattern as text_char_entropy).
    Q("tfidf_topterms", tfidfSql)((s, d) => tfidfTopterms(s, d)),

    // The forced-large-vocab sibling (pattern: pack_sequences_twophase):
    // identical contract, but the broadcast gate is bypassed so the
    // SCALE path — scoring join shuffling the aggregated tf frame on
    // `term` — is itself hash-verified every round, not just the hybrid's
    // small-scale branch. PlanSpec pins the no-hint plan shape.
    Q("tfidf_topterms_shuffle", tfidfSql)(
      (s, d) => tfidfTopterms(s, d, forceShuffle = true)),

    // The BPE-training inner step: corpus-wide adjacent-symbol-pair counts
    // (here: character pairs within lowercase words), ranked — the top
    // pair is the next merge a byte-pair tokenizer would learn. One
    // explode to (pair) rows with map-side combine into the single count
    // shuffle; the candidate table is alphabet²-bounded, so the top-k is
    // a TakeOrdered over a tiny aggregate. Iterating merges re-runs the
    // same shape over re-segmented text — each iteration is this exact
    // job.
    Q("bpe_pair_counts",
      """WITH w AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS wd FROM documents),
        |pairs AS (
        |  SELECT substr(wd, CAST(u AS INT), 2) AS pair
        |  FROM (SELECT wd, unnest(range(1, len(wd))) AS u FROM w) t
        |  WHERE len(wd) >= 2)
        |SELECT pair, count(*) AS n,
        |  row_number() OVER (ORDER BY count(*) DESC, pair) AS rank
        |FROM pairs GROUP BY pair ORDER BY rank LIMIT 20""".stripMargin) { (s, d) =>
      // one byte-scan kernel emits 16-bit pair CODES (order-isomorphic to
      // the 2-char pair strings), so the corpus-wide aggregate groups and
      // sorts 4-byte ints; the 20 surviving strings rebuild after top-k —
      // replaces explode(words) → interpreted per-word lambda →
      // explode(pair strings)
      Tables.fan(s, documents(s, d))
        .select(explode(
          graft.functions.Tokenize.alpha_pair_codes(lower(col("text"))))
          .as("pc"))
        .groupBy(col("pc")).agg(count(lit(1)).as("n"))
        // top-k BEFORE numbering (TakeOrdered over the alphabet²-bounded
        // aggregate); row_number then runs on 20 rows, not the full table
        .orderBy(col("n").desc, col("pc")).limit(20)
        .select(expr("chr(pc div 256) || chr(pc % 256)").as("pair"),
          col("n"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n").desc, col("pair"))))
        .orderBy(col("rank"))
    },

    // BPE APPLY — the tokenizer-consumer side of bpe_pair_counts: the
    // learned merge list (top-8 first-iteration pairs, memoized per
    // session like AnnOps' trained centroids: train once, encode many)
    // is applied to every word as sequential greedy merge passes, and
    // each document reports its real token count. Encode is a PURE
    // PROJECTION at the scan — the merge list rides the plan as 8
    // interpolated literals (the degenerate broadcast), and the per-doc
    // sums run as higher-order functions over the word array (the
    // chunk_documents machinery): zero shuffle beyond the output-sized
    // sort. A merged character can never re-merge (markers are
    // non-[a-z]), so the pass composition is exactly BPE over
    // single-char pairs — and `replace`'s left-to-right non-overlapping
    // semantics agree across engines, making the whole encode
    // hash-checkable.
    Q("bpe_encode",
      s"""WITH ${bpeMergeSqlCtes},
        |enc AS (
        |  SELECT doc_id,
        |    len(wa) AS n_words,
        |    coalesce(list_sum(list_transform(wa, x -> len(x))), 0) AS n_chars,
        |    coalesce(list_sum(list_transform(wa,
        |      x -> len(${bpeEncodeOracleExpr("x")}))), 0) AS n_tokens
        |  FROM wbpe CROSS JOIN bp8)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_chars - n_tokens AS BIGINT) AS n_merged
        |FROM enc ORDER BY doc_id LIMIT 500""".stripMargin) { (s, d) =>
      // the encode itself runs as one kernel pass per doc (bpe_counts):
      // the previous nested-replace `aggregate` lambda allocated one
      // UTF8String per word PER MERGE RANK, interpreted — the measured
      // dominant cost of this query (r12 deferred item #6)
      Tables.fan(s, documents(s, d))
        .select(col("doc_id"),
          graft.functions.Tokenize.alpha_runs(lower(col("text"))).as("wa"))
        .select(col("doc_id"),
          size(col("wa")).cast("long").as("n_words"),
          graft.functions.Tokenize.bpe_counts(col("wa"), bpeMergeList(s, d))
            .as("bc"))
        .select(col("doc_id"), col("n_words"),
          col("bc.n_chars").as("n_chars"), col("bc.n_tokens").as("n_tokens"))
        .withColumn("n_merged", col("n_chars") - col("n_tokens"))
        .orderBy(col("doc_id")).limit(500)
    },

    // Context-window truncation — the pre-packing budget cut every
    // sequence pipeline applies before pack_sequences: cap each document
    // at 64 whitespace tokens, preferring the last sentence boundary
    // ('.'-terminated token) inside the budget so training examples don't
    // end mid-sentence; hard cut at the budget only when no boundary
    // exists. A PURE PROJECTION at the scan — the token array, the
    // boundary search (one bounded higher-order pass over ≤64 indices)
    // and the substring rebuild all stay inside whole-stage codegen, zero
    // shuffle at any corpus size. Kept text is md5-pinned so the oracle
    // proves the exact cut position AND the rebuilt bytes.
    Q("token_budget_truncate",
      """WITH w AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS wa FROM documents),
        |c AS (
        |  SELECT doc_id, wa, len(wa) AS n,
        |    list_filter(list_transform(range(1, least(len(wa), 64) + 1),
        |      i -> CASE WHEN ends_with(wa[CAST(i AS INT)], '.') THEN i ELSE 0 END),
        |      x -> x > 0) AS dots
        |  FROM w),
        |k AS (
        |  SELECT doc_id, wa, n,
        |    CASE WHEN n <= 64 THEN n
        |         WHEN len(dots) > 0 THEN CAST(dots[-1] AS BIGINT)
        |         ELSE 64 END AS cut
        |  FROM c)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(cut AS BIGINT) AS n_kept,
        |  CAST(n > 64 AS INT) AS was_truncated,
        |  md5(array_to_string(wa[1:CAST(cut AS INT)], ' ')) AS kept_md5
        |FROM k ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.Tokenize.ws_tokens(col("text")).as("wa"))
        .withColumn("n", size(col("wa")).cast("long"))
        // n = 0 guard: sequence(1, 0) DESCENDS in Spark and element_at
        // would fault under ANSI — an empty doc short-circuits to no
        // boundaries before any index is built
        .withColumn("dots", expr(
          """CASE WHEN n = 0 THEN CAST(array() AS ARRAY<BIGINT>)
            |ELSE filter(transform(sequence(1, least(n, 64L)),
            |  i -> IF(endswith(element_at(wa, CAST(i AS INT)), '.'), i, 0L)),
            |  x -> x > 0) END""".stripMargin))
        .withColumn("cut", expr(
          """CASE WHEN n <= 64 THEN n
            |     WHEN size(dots) > 0 THEN element_at(dots, -1)
            |     ELSE 64L END""".stripMargin))
        .select(col("doc_id"), col("n").as("n_tokens"), col("cut").as("n_kept"),
          (col("n") > 64).cast("int").as("was_truncated"),
          md5(expr("array_join(slice(wa, 1, CAST(cut AS INT)), ' ')"))
            .as("kept_md5"))
        .orderBy(col("doc_id"))
    },

    // Model-scored quality filtering — the classifier-gate shape of
    // CCNet/FineWeb-style corpus curation: a LINEAR model over cheap
    // per-doc features (stopword fraction, mean word length, alphabetic
    // fraction) with literal weights, keep iff score ≥ τ. Deliberately
    // linear, not logistic: every feature is one IEEE division of exact
    // integers and the score is a fixed-order multiply-add chain, so the
    // score — and therefore the τ boundary — is BIT-IDENTICAL across
    // engines (exp/ln would differ at the ulp and make the cut flaky).
    // At scale this is a pure projection at the scan plus one per-source
    // audit aggregate; swapping in real trained weights keeps the shape.
    // The per-source mean score goes through the decimal quantize-sum
    // rule like every float aggregate.
    Q("quality_classifier_filter",
      s"""WITH ${classifierScoreCtes("q", "documents")},
        |sc AS (SELECT doc_id, source, z FROM qsc)
        |SELECT source, count(*) AS n_docs,
        |  count(*) FILTER (z >= 0.5) AS n_kept,
        |  CAST(coalesce(sum(doc_id) FILTER (z >= 0.5), 0) AS BIGINT) AS kept_id_sum,
        |  round(CAST(sum(CAST(round(z, 12) AS DECIMAL(30,12))) AS DOUBLE)
        |        / count(*), 4) AS avg_score
        |FROM sc GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val f = scoredDocs(Tables.fan(s, documents(s, d)))
      f.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("z") >= 0.5, 1)).as("n_kept"),
          coalesce(sum(when(col("z") >= 0.5, col("doc_id"))), lit(0L))
            .as("kept_id_sum"),
          round(sum(round(col("z"), 12).cast("decimal(30,12)")).cast("double")
            / count(lit(1)), 4).as("avg_score"))
        .orderBy(col("source"))
    },

    // TRAINED outlier filter — the Gopher/FineWeb length-heuristic gate
    // with its thresholds LEARNED from the corpus instead of hand-set:
    // per-source exact quartiles of n_chars (train) → Tukey fences
    // lo = q1 − 1.5·IQR, hi = q3 + 1.5·IQR (the model) → keep mask
    // (apply), with per-source attrition and the learned fences reported.
    //
    // Bit-exactness: quantile interpolation at p ∈ {0.25, 0.75} over
    // INTEGERS is a + (b−a)·f with f ∈ {0, ¼, ½, ¾} — every term exact in
    // IEEE — and ×1.5 keeps quarter-integers exact, so the fences and the
    // keep decision are identical across engines with no rounding escape
    // hatch. Scale: the train aggregate's state is the per-source count
    // map over a BOUNDED integer domain (n_chars), the model is one row
    // per source broadcast back, and apply is a pure projection — the
    // second corpus scan is the irreducible cost of data-derived
    // thresholds (same shape as dedup_embedding_cosine_trained).
    Q("quality_filter_iqr_trained",
      """WITH q AS (
        |  SELECT source,
        |    quantile_cont(n_chars, 0.25) AS q1,
        |    quantile_cont(n_chars, 0.75) AS q3
        |  FROM documents GROUP BY source),
        |b AS (
        |  SELECT source, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
        |  FROM q)
        |SELECT d.source, count(*) AS n_docs,
        |  count(*) FILTER (d.n_chars >= b.lo AND d.n_chars <= b.hi) AS n_kept,
        |  CAST(coalesce(sum(d.doc_id)
        |    FILTER (d.n_chars >= b.lo AND d.n_chars <= b.hi), 0) AS BIGINT)
        |    AS kept_id_sum,
        |  min(b.lo) AS lo, min(b.hi) AS hi
        |FROM documents d JOIN b ON d.source = b.source
        |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val fences = docs.groupBy(col("source")).agg(
          expr("percentile(n_chars, 0.25)").as("q1"),
          expr("percentile(n_chars, 0.75)").as("q3"))
        .select(col("source"),
          (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
          (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
      val keep = col("n_chars") >= col("lo") && col("n_chars") <= col("hi")
      Tables.fan(s, docs).join(broadcast(fences), Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(keep, 1)).as("n_kept"),
          coalesce(sum(when(keep, col("doc_id"))), lit(0L)).as("kept_id_sum"),
          min(col("lo")).as("lo"), min(col("hi")).as("hi"))
        .orderBy(col("source"))
    },

    // Quality ENSEMBLE gate — the three trained gates the suite verifies
    // individually (classifier z, bigram-LM perplexity, per-source IQR
    // length fences) composed the way CCNet/FineWeb actually stack them:
    // a document survives only if ALL rules pass, and the audit reports
    // each rule's attrition separately so a threshold regression is
    // attributable. The perplexity rule is RANK-trained: per language,
    // t2 = the exact 2/3-order-statistic of rounded xent (k = ⌈2n/3⌉ —
    // integer arithmetic, no quantile interpolation whose ulp could flip
    // a boundary doc across engines); keep iff xent ≤ t2; docs too short
    // to score (no bigrams) fail the rule. Scale: classifier and fences
    // are projection + broadcast (their standalone notes); the xent
    // relation is corpus-narrow (1 row/doc) and meets the corpus in ONE
    // doc_id equi-join; thresholds are per-lang rows, broadcast. The
    // rank pass trains on the full corpus here — at 100 TB the trainer
    // side subsamples (thresholds are statistics, not per-doc state),
    // the apply side is unchanged.
    Q("curation_quality_ensemble",
      s"""WITH ${classifierScoreCtes("en", "documents")},
        |$perplexityXentCtes,
        |iq AS (
        |  SELECT source,
        |    quantile_cont(n_chars, 0.25) AS q1,
        |    quantile_cont(n_chars, 0.75) AS q3
        |  FROM documents GROUP BY source),
        |fb AS (
        |  SELECT source, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
        |  FROM iq),
        |pr AS (
        |  SELECT lang, doc_id, xent,
        |    row_number() OVER (PARTITION BY lang ORDER BY xent, doc_id) AS rn
        |  FROM px),
        |pn AS (SELECT lang, count(*) AS n FROM px GROUP BY lang),
        |thr AS (
        |  SELECT pr.lang, pr.xent AS t2
        |  FROM pr JOIN pn ON pr.lang = pn.lang
        |  WHERE pr.rn = (2 * pn.n + 2) // 3),
        |fl AS (
        |  SELECT d.doc_id, d.source,
        |    (s.z >= 0.5) AS pc,
        |    coalesce(px.xent <= thr.t2, FALSE) AS pp,
        |    (d.n_chars >= fb.lo AND d.n_chars <= fb.hi) AS pl
        |  FROM documents d
        |  JOIN ensc s ON s.doc_id = d.doc_id
        |  JOIN fb ON fb.source = d.source
        |  LEFT JOIN px ON px.doc_id = d.doc_id
        |  LEFT JOIN thr ON thr.lang = d.lang)
        |SELECT source, count(*) AS n_docs,
        |  count(*) FILTER (pc) AS n_pass_classifier,
        |  count(*) FILTER (pp) AS n_pass_perplexity,
        |  count(*) FILTER (pl) AS n_pass_length,
        |  count(*) FILTER (pc AND pp AND pl) AS n_keep,
        |  CAST(coalesce(sum(doc_id) FILTER (pc AND pp AND pl), 0) AS BIGINT)
        |    AS kept_id_sum
        |FROM fl GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = documents(s, d)
      val base = scoredDocs(Tables.fan(s, docs), Seq("lang", "n_chars"))
        .select(col("doc_id"), col("source"), col("z"), col("lang"),
          col("n_chars"))
      val fences = docs.groupBy(col("source")).agg(
          expr("percentile(n_chars, 0.25)").as("q1"),
          expr("percentile(n_chars, 0.75)").as("q3"))
        .select(col("source"),
          (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
          (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
      // materialize the corpus-narrow xent relation ONCE (eagerly, the
      // packedBins pattern): the rank trainer, the per-lang counts and
      // the scoring join all consume it, and without
      // the checkpoint each consumer would re-run the whole bigram-LM
      // kernel (measured 803 s → ~440 s at the 1.3M-doc smoke tier)
      val px = Materialize(perplexityXent(s, d), eager = true)
      val thr = px
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("xent"), col("doc_id"))))
        .join(px.groupBy(col("lang")).agg(count(lit(1)).as("n")), Seq("lang"))
        .where(col("rn") === expr("(2 * n + 2) div 3"))
        .select(col("lang"), col("xent").as("t2"))
      base
        .join(broadcast(fences), Seq("source"))
        .join(px.select(col("doc_id"), col("xent")), Seq("doc_id"), "left_outer")
        .join(broadcast(thr), Seq("lang"), "left_outer")
        .select(col("doc_id"), col("source"),
          (col("z") >= 0.5).as("pc"),
          coalesce(col("xent") <= col("t2"), lit(false)).as("pp"),
          (col("n_chars") >= col("lo") && col("n_chars") <= col("hi")).as("pl"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("pc"), 1)).as("n_pass_classifier"),
          count(when(col("pp"), 1)).as("n_pass_perplexity"),
          count(when(col("pl"), 1)).as("n_pass_length"),
          count(when(col("pc") && col("pp") && col("pl"), 1)).as("n_keep"),
          coalesce(sum(when(col("pc") && col("pp") && col("pl"), col("doc_id"))),
            lit(0L)).as("kept_id_sum"))
        .orderBy(col("source"))
    },

    // Fixed-window document chunking with overlap — the context-window
    // restructuring every training pipeline runs before sequence packing
    // (200-char chunks, stride 168 → 32-char overlap carries boundary
    // context into the next chunk). The per-doc audit (chunk count, total
    // chars, boundary-content md5) computes as SCALAR higher-order
    // functions over the offset sequence — ZERO shuffle: where the naive
    // explode→groupBy shape would reshuffle 1.2× the corpus text on
    // doc_id, this stays a pure projection in one codegen stage (the only
    // exchange is the output-sized per-doc sort the compare needs). The
    // md5 over first||last chunk pins exact chunk CONTENT cross-engine
    // without shipping every chunk through the compare. Spark's inclusive
    // sequence(0, len-1, 168) enumerates exactly DuckDB's exclusive
    // range(0, len, 168); both substr are 1-based.
    Q("chunk_documents",
      """WITH c AS (
        |  SELECT doc_id, u AS off,
        |    substr(text, CAST(u + 1 AS INT), 200) AS chunk
        |  FROM (SELECT doc_id, text,
        |          unnest(range(0, greatest(len(text), 1), 168)) AS u
        |        FROM documents) t)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(len(chunk)) AS BIGINT) AS chunk_chars,
        |  md5(arg_min(chunk, off) || '|' || arg_max(chunk, off)) AS boundary_md5
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.fan(s, documents(s, d))
        .select(col("doc_id"),
          expr("sequence(0, greatest(length(text) - 1, 0), 168)").as("offs"),
          col("text"))
        .select(col("doc_id"),
          size(col("offs")).cast("long").as("n_chunks"),
          expr("""aggregate(offs, 0L,
                 |  (a, o) -> a + length(substr(text, o + 1, 200)))"""
            .stripMargin).as("chunk_chars"),
          md5(concat(
            expr("substr(text, 1, 200)"), lit("|"),
            expr("substr(text, element_at(offs, -1) + 1, 200)")))
            .as("boundary_md5"))
        .orderBy(col("doc_id"))
    },

    // Unicode canonicalization + whitespace collapse — the cleaning pass a
    // web-corpus pipeline runs BEFORE any hashing dedup: the same visible
    // text can arrive precomposed («é») or decomposed («e»+U+0301) and
    // hash differently, silently defeating exact/shingle dedup. Fixture
    // text is ASCII, so the query PLANTS deterministic decomposed
    // sequences and literal tab/newline runs per doc (chr()-built in both
    // engines), then pins md5 of the cleaned result. NFC runs as the
    // native [[graft.functions.NormalizeNFC]] kernel (codegen'd,
    // zero-copy fast path on already-normal text — the 99%+ case at
    // scale); DuckDB replays it with ICU nfc_normalize. Pure projection,
    // zero shuffle.
    Q("text_normalize_nfc",
      """WITH dirty AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || ' e' || chr(769) || chr(9) || chr(10)
        |      || ' A' || chr(768) || '  ' || substr(text, 41, 20) AS raw
        |  FROM documents),
        |cl AS (
        |  SELECT doc_id, raw,
        |    trim(regexp_replace(nfc_normalize(raw), '\s+', ' ', 'g')) AS clean
        |  FROM dirty)
        |SELECT doc_id, length(raw) AS len_raw, length(clean) AS len_clean,
        |  md5(clean) AS clean_md5
        |FROM cl ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Spark's chr() is ASCII-mod-256 (unlike DuckDB's code-point chr),
      // so the combining marks are Scala literals: U+0301 combining acute,
      // U+0300 combining grave — the planted decomposed sequences.
      documents(s, d)
        .select(col("doc_id"), concat(
          expr("substr(text, 1, 40)"), lit(" é\t\n À  "),
          expr("substr(text, 41, 20)")).as("raw"))
        .withColumn("clean", trim(regexp_replace(
          graft.functions.NormalizeNFC.normalize_nfc(col("raw")),
          "\\s+", " ")))
        .select(col("doc_id"),
          length(col("raw")).as("len_raw"),
          length(col("clean")).as("len_clean"),
          md5(col("clean")).as("clean_md5"))
        .orderBy(col("doc_id"))
    },

    // Gopher-style repetition signals at the BLOCK grain (Rae et al.
    // 2021, "Scaling Language Models", App. A1.1 — public): the
    // per-document duplicate-paragraph fraction (count and character
    // mass of 10-word blocks that repeat WITHIN the doc, the same block
    // unit the paragraph dedup family keys on) and the top-2-gram
    // CHARACTER share, plus the keep flag at the published thresholds
    // (dup fraction < 0.3, top-2-gram share < 0.2). Complements
    // text_repetition (PipelineOps), which computes the WORD-grain
    // signals (top-word/distinct-word/dup-bigram fractions). Intra-
    // document, unlike the corpus-wide paragraph dedup family:
    // boilerplate pages repeat themselves long before they repeat each
    // other.
    //
    // Scale: every signal here is a quantity that never leaves its own
    // document, so the whole query is a PURE PROJECTION via the native
    // [[graft.functions.TextStats.block_rep_stats]] kernel (one O(words)
    // pass, two hash maps) — zero shuffle except the contract ORDER BY.
    // The first cut as explode → groupBy(doc, token) aggregation lanes
    // measured 101 s at the 1.3M-doc tier (a corpus-sized string
    // exchange); the kernel form measures 16.6 s (the contract sort dominates). The top-gram tie-break
    // is binary-UTF-8 lexicographic min at equal count — the same total
    // order as the oracle's row_number OVER (ORDER BY n DESC, gtext
    // ASC), so the winner (and the fraction, which depends on the
    // winner's LENGTH) is engine-identical. Every fraction is one IEEE
    // division of exact integers.
    Q("text_repetition_stats",
      """WITH w AS (
        |  SELECT doc_id, length(text) AS n_char, string_split(text, ' ') AS ws
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, array_to_string(ws[u*10+1 : u*10+10], ' ') AS btext
        |  FROM (SELECT doc_id, ws,
        |          unnest(range(0, greatest(CAST(ceil(len(ws) / 10.0) AS INT), 1))) AS u
        |        FROM w) t),
        |bc AS (SELECT doc_id, btext, count(*) AS c FROM b GROUP BY doc_id, btext),
        |bs AS (
        |  SELECT doc_id,
        |    CAST(sum(c) AS BIGINT) AS n_blocks,
        |    CAST(coalesce(sum(c) FILTER (c >= 2), 0) AS BIGINT) AS dup_blocks,
        |    CAST(sum(c * length(btext)) AS BIGINT) AS blk_chars,
        |    CAST(coalesce(sum(c * length(btext)) FILTER (c >= 2), 0) AS BIGINT) AS dup_chars
        |  FROM bc GROUP BY doc_id),
        |g AS (
        |  SELECT doc_id, ws[u+1] || ' ' || ws[u+2] AS gtext
        |  FROM (SELECT doc_id, ws,
        |          unnest(range(0, greatest(len(ws) - 1, 0))) AS u
        |        FROM w) t),
        |gc AS (SELECT doc_id, gtext, count(*) AS n FROM g GROUP BY doc_id, gtext),
        |tg AS (
        |  SELECT doc_id, gtext AS top_gram, CAST(n AS BIGINT) AS top_gram_n
        |  FROM (SELECT doc_id, gtext, n,
        |          row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, gtext ASC) AS rn
        |        FROM gc) r WHERE rn = 1)
        |SELECT w.doc_id, CAST(w.n_char AS BIGINT) AS n_char,
        |  bs.n_blocks, bs.dup_blocks,
        |  CAST(bs.dup_blocks AS DOUBLE) / greatest(bs.n_blocks, 1) AS dup_block_frac,
        |  CAST(bs.dup_chars AS DOUBLE) / greatest(bs.blk_chars, 1) AS dup_char_frac,
        |  coalesce(tg.top_gram, '') AS top_gram,
        |  CAST(coalesce(tg.top_gram_n, 0) AS BIGINT) AS top_gram_n,
        |  CAST(coalesce(tg.top_gram_n * length(tg.top_gram), 0) AS DOUBLE)
        |    / greatest(w.n_char, 1) AS top_gram_char_frac,
        |  CASE WHEN CAST(bs.dup_blocks AS DOUBLE) / greatest(bs.n_blocks, 1) < 0.3
        |        AND CAST(coalesce(tg.top_gram_n * length(tg.top_gram), 0) AS DOUBLE)
        |              / greatest(w.n_char, 1) < 0.2
        |       THEN 1 ELSE 0 END AS rep_keep
        |FROM w JOIN bs USING (doc_id) LEFT JOIN tg USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val dupBlockFrac =
        col("dup_blocks").cast("double") / greatest(col("n_blocks"), lit(1L))
      val topGramCharFrac =
        (col("top_gram_n") * length(col("top_gram"))).cast("double") /
          greatest(col("n_char"), lit(1L))
      Tables.fan(s, documents(s, d))
        .select(col("doc_id"), length(col("text")).cast("long").as("n_char"),
          graft.functions.TextStats.block_rep_stats(split(col("text"), " ")).as("r"))
        .select(col("doc_id"), col("n_char"),
          col("r.n_blocks").as("n_blocks"), col("r.dup_blocks").as("dup_blocks"),
          col("r.blk_chars").as("blk_chars"), col("r.dup_chars").as("dup_chars"),
          col("r.top_gram").as("top_gram"), col("r.top_gram_n").as("top_gram_n"))
        .select(col("doc_id"), col("n_char"), col("n_blocks"), col("dup_blocks"),
          dupBlockFrac.as("dup_block_frac"),
          (col("dup_chars").cast("double") / greatest(col("blk_chars"), lit(1L)))
            .as("dup_char_frac"),
          col("top_gram"), col("top_gram_n"),
          topGramCharFrac.as("top_gram_char_frac"),
          when(dupBlockFrac < 0.3 && topGramCharFrac < 0.2, 1).otherwise(0)
            .as("rep_keep"))
        .orderBy(col("doc_id"))
    },

    // The REWRITE flavor of the repetition signal: drop every repeat of a
    // 10-word block after its first occurrence WITHIN the document and
    // reassemble in original order — the Gopher-rule transform a cleaning
    // pipeline actually applies (intra-doc; dedup_paragraph_rewrite is the
    // corpus-wide first-occurrence flavor, which genuinely needs its
    // cross-document exchange — this one does not: the kept set is a
    // per-row quantity).
    //
    // Scale: a PURE PROJECTION — array_distinct on the block array keeps
    // exactly the first occurrence of each block in encounter order
    // (pinned against a LinkedHashSet brute force in RepetitionSpec), so
    // the rewrite never leaves the scan; zero shuffle except the
    // contract ORDER BY. Block 0 is always its own first occurrence, so
    // the rebuilt text is never empty. The oracle replays keep-first as
    // min(bi) OVER (doc, block) + in-group sort — same set, same order.
    Q("text_repetition_rewrite",
      """WITH w AS (
        |  SELECT doc_id, length(text) AS len_before, string_split(text, ' ') AS ws
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, u AS bi,
        |    array_to_string(ws[u*10+1 : u*10+10], ' ') AS btext
        |  FROM (SELECT doc_id, ws,
        |          unnest(range(0, greatest(CAST(ceil(len(ws) / 10.0) AS INT), 1))) AS u
        |        FROM w) t),
        |f AS (SELECT doc_id, bi, btext,
        |        min(bi) OVER (PARTITION BY doc_id, btext) AS fst
        |      FROM b),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(count(*) FILTER (bi = fst) AS BIGINT) AS n_kept,
        |    CAST(length(coalesce(string_agg(btext, ' ' ORDER BY bi)
        |      FILTER (bi = fst), '')) AS BIGINT) AS len_after,
        |    md5(coalesce(string_agg(btext, ' ' ORDER BY bi)
        |      FILTER (bi = fst), '')) AS clean_md5
        |  FROM f GROUP BY doc_id)
        |SELECT w.doc_id, CAST(w.len_before AS BIGINT) AS len_before,
        |  agg.n_blocks, agg.n_kept, agg.len_after, agg.clean_md5
        |FROM w JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.fan(s, documents(s, d))
        .select(col("doc_id"), length(col("text")).cast("long").as("len_before"),
          split(col("text"), " ").as("ws"))
        .select(col("doc_id"), col("len_before"),
          expr("greatest(cast(ceil(size(ws) / 10.0) as int), 1)").cast("long")
            .as("n_blocks"),
          expr(
            "array_distinct(transform(" +
              "sequence(0, greatest(cast(ceil(size(ws) / 10.0) as int), 1) - 1)," +
              " i -> concat_ws(' ', slice(ws, i * 10 + 1, 10))))").as("kept"))
        .select(col("doc_id"), col("len_before"), col("n_blocks"),
          size(col("kept")).cast("long").as("n_kept"),
          concat_ws(" ", col("kept")).as("clean"))
        .select(col("doc_id"), col("len_before"), col("n_blocks"), col("n_kept"),
          length(col("clean")).cast("long").as("len_after"),
          md5(col("clean")).as("clean_md5"))
        .orderBy(col("doc_id"))
    },
  )

  // a def, not a val: it's referenced from the `all` list above, which
  // initializes BEFORE later vals in this object — a val here would be
  // null at Q construction (object init order)
  private def tfidfSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY term),
      |n AS (SELECT count(*) AS n FROM documents),
      |sc AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df_docs,
      |    round(CAST(tf.tf AS DOUBLE)
      |      * ln(CAST(n.n AS DOUBLE) / CAST(df.df_docs AS DOUBLE)), 4) AS score,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf DESC, df.df_docs ASC, tf.term ASC) AS rn
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |SELECT doc_id, rn, term, tf, df_docs, score
      |FROM sc WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin

  /** Corpora at or below this many documents get a broadcast dictionary
    * join: per-doc distinct terms are bounded (these are documents, not
    * blobs), so vocab ≲ docs·10² strings — comfortably executor-memory-
    * sized at 50k docs, three orders of magnitude of headroom below a
    * web-scale vocab. */
  private val BroadcastVocabMaxDocs = 50000L

  /** ... AND at or below this many on-disk bytes: row count alone is the
    * wrong proxy for dictionary size — 50k very large or token-diverse
    * documents could still yield a driver-heavy vocab. The vocabulary a
    * corpus can produce is bounded by its text volume (distinct terms ≤
    * total tokens), so total input bytes from the file listing is the
    * honest planning signal: 64 MB of compressed text is ≲ a few million
    * distinct terms, tens of MB broadcast — safe; beyond it, take the
    * term-shuffle path even if the row gate would have passed. */
  private val BroadcastVocabMaxBytes = 64L << 20

  /** Per-doc bigram-LM cross-entropy relation (lang, doc_id, n_bigrams,
    * xent) — the kernel shared by text_perplexity_ngram and the CCNet
    * bucket router. xent is rounded to 4 digits (absorbs ln() ulp
    * differences) so downstream ordering/tiling is engine-identical.
    * Docs with fewer than two words have no bigrams and no row. */
  private[graft] def perplexityXent(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    // The explicit isNotNull is load-bearing for exchange reuse, not a
    // semantic filter (doc_id is never null): the lang re-attach join
    // below makes the optimizer INFER isnotnull(doc_id) into the probe
    // branch's scan, while the aggregate branches get no such
    // constraint — the branches' scan filters then differ, the
    // canonicalized exchange subtrees stop matching, and the corpus
    // tokenizes + shuffles twice. Stating the filter once here keeps
    // every branch's subtree identical so the stage cache unifies them.
    // ws_bigram_hashes fuses tokenize → per-token bigram lambda →
    // xxhash64 × 2 into one byte scan hashing each token once (ordered
    // bigrams WITH multiplicity — word_ngrams dedups, so not usable
    // here). Keyed on xxhash64 of each side, not the word strings — the
    // dsir_importance gram-index trick (PipelineOps): every consumer
    // shuffles 8-byte (h1, h2) longs instead of ~35-byte word pairs.
    // Collisions at real vocabs are ~2⁻⁴⁸-scale — immaterial; the
    // oracle stays string-keyed and the hash-green gate IS the
    // collision check. `lang` deliberately does NOT ride the bigram
    // rows (~16 UnsafeRow bytes on ~60 rows/doc through the corpus
    // exchange) — it re-attaches to the 1-row-per-doc result below.
    val bg = Tables.fan(s, Tables.documents(s, d))
      .where(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(
        graft.functions.Tokenize.ws_bigram_hashes(col("text"))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // ONE corpus-bigram exchange, shared by all three consumers (LM,
    // context totals, scoring join): the explicit repartition on the
    // join key pre-satisfies each consumer's required distribution, so
    // the LM aggregate and the join add no exchange of their own and
    // AQE's stage cache runs the shuffle once. The previous shape paid
    // the corpus THREE times at scale — lm was a two-consumer aggregate
    // (ctx lane + join side; exchange reuse does not extend to
    // AGGREGATES, the r11 agreement-matrix lesson) and the scoring lane
    // projected a different column set, defeating exchange reuse.
    //
    // The aggregates count doc_id — NOT lit(1) — and that is load-
    // bearing: ReusedExchange matches CANONICALIZED plans, and column
    // pruning under a count(1) drops doc_id below the aggregate
    // branches' exchange, leaving a (w1, w2) exchange that no longer
    // canonicalizes equal to the probe side's (doc_id, w1, w2) one —
    // the corpus then tokenizes and shuffles TWICE (24.4 GB + 21.1 GB
    // at 26M docs, the r12 disk-wall anatomy in
    // scale_smoke_r12_26m_lm_abort.log.txt). doc_id is never null, so
    // count(doc_id) ≡ count(1) — it only pins the shared column set.
    val bgP = bg.repartition(col("w1"), col("w2"))
    val lm = bgP.groupBy(col("w1"), col("w2"))
      .agg(count(col("doc_id")).as("c12"))
    // context totals c1 = Σ_w2 c12 ≡ bigram-token count per w1,
    // aggregated DIRECTLY off the shared exchange into a VOCAB-sized
    // frame (map-side combine; the shuffle moves vocab × partitions
    // rows) — deriving them from lm re-ran the corpus-bigram aggregate
    val ctx = bgP.groupBy(col("w1")).agg(count(col("doc_id")).as("c1"))
    // ctx is vocab-sized: AQE broadcasts it, so lm never re-shuffles
    val lmp = lm.join(ctx, Seq("w1"))
    // the scoring join is FOOTER-GATED like tfidf's dictionary: a sane
    // corpus's bigram LM broadcasts, a web corpus's (open vocabulary,
    // distinct bigrams ∝ corpus) cannot — past the gate the join stays
    // an unhinted (w1, w2) equi-join and AQE may still demote the
    // exchange when the measured LM is small
    val dict = if (tfidfBroadcastGate(s, d)) broadcast(lmp) else lmp
    val perDoc = bgP.join(dict, Seq("w1", "w2"))
      .select(col("doc_id"),
        (-log(col("c12").cast("double") / col("c1").cast("double"))).as("t"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("t").cast("decimal(30,12)")).cast("double") / count(lit(1)), 4)
          .as("xent"))
    // lang is functionally dependent on doc_id — one corpus-NARROW join
    // (1 row/doc each side) restores it for the lang-keyed consumers
    Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("xent"))
  }

  /** DuckDB twin of [[perplexityXent]] as CTEs ending in
    * `px(lang, doc_id, n_bigrams, xent)`. A def: referenced from `all`. */
  private def perplexityXentCtes: String =
    """w AS (SELECT doc_id, lang, regexp_extract_all(text, '\S+') AS w FROM documents),
      |bg AS (
      |  SELECT doc_id, lang, w[CAST(u AS INT)] AS w1, w[CAST(u+1 AS INT)] AS w2
      |  FROM (SELECT doc_id, lang, w, unnest(range(1, len(w))) AS u FROM w) t),
      |lm AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
      |ctx AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
      |terms AS (
      |  SELECT b.doc_id, b.lang,
      |    -ln(CAST(lm.c12 AS DOUBLE) / CAST(ctx.c1 AS DOUBLE)) AS t
      |  FROM bg b JOIN lm ON b.w1 = lm.w1 AND b.w2 = lm.w2
      |  JOIN ctx ON b.w1 = ctx.w1),
      |px AS (
      |  SELECT lang, doc_id, count(*) AS n_bigrams,
      |    round(CAST(sum(CAST(t AS DECIMAL(30,12))) AS DOUBLE) / count(*), 4) AS xent
      |  FROM terms GROUP BY lang, doc_id)""".stripMargin

  /** The tf-idf hybrid's planning-time decision, exposed so the scale
    * smoke can assert the branch actually FLIPS on a large corpus
    * (true = dictionary broadcast, false = term-shuffle scale path).
    * Both probes are driver-side metadata reads — no Spark job. */
  def tfidfBroadcastGate(s: org.apache.spark.sql.SparkSession, d: String): Boolean =
    Tables.parquetRowCount(s, d, "documents") <= BroadcastVocabMaxDocs &&
      Tables.parquetBytes(s, d, "documents") <= BroadcastVocabMaxBytes

  /** The tf-idf hybrid. Why a PLANNING-TIME gate instead of leaving it to
    * AQE: df_docs aggregates from tf, so the dictionary needs tf's
    * (doc,term) shuffle either way — the question is only whether the
    * SCORING join re-exchanges tf on `term`. AQE can demote that join to
    * a runtime broadcast once the dictionary stage materializes, but by
    * then tf's map-side shuffle WRITE for the term exchange has already
    * happened — the dominant cost (observed ~+0.9 s at sf0.1) is spent
    * before AQE can see the size. The parquet-footer row count
    * ([[Tables.parquetRowCount]], no Spark job) answers "is this corpus
    * broadcast-sized?" before the exchange is ever planned — the same
    * probe-then-pick pattern as pack_sequences' hybrid prefix sum. */
  private def tfidfTopterms(s: org.apache.spark.sql.SparkSession, d: String,
      forceShuffle: Boolean = false): org.apache.spark.sql.DataFrame = {
    val docs = Tables.fan(s, documents(s, d))
    val terms = docs.select(col("doc_id"),
      explode(graft.functions.Tokenize.alpha_runs(lower(col("text")))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_docs"))
    val smallCorpus = !forceShuffle && tfidfBroadcastGate(s, d)
    val dict = if (smallCorpus) broadcast(dfreq) else dfreq
    // nDocs rides the plan as a broadcast 1-row frame (no separate
    // count() action — one job end-to-end, same pattern as the oracle's
    // CROSS JOIN n)
    val nDocs = documents(s, d)
      .agg(count(lit(1)).cast("double").as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df_docs").asc, col("term").asc)
    tf.join(dict, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf").cast("double")
          * log(col("n_docs") / col("df_docs").cast("double")), 4))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("term"), col("tf"),
              col("df_docs"), col("score"))
      .orderBy(col("doc_id"), col("rn"))
  }
}
