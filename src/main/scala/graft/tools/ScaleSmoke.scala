package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Scale smoke: run the heavy document/vector families against a corpus
  * two-plus orders of magnitude beyond the largest fixture, and assert
  * the things the plan-shape arguments in SCALE.md only ARGUE:
  *
  *  1. the footer-gated hybrids actually FLIP — tf-idf takes the
  *     term-shuffle path, pack_sequences takes the two-phase prefix sum —
  *     once the corpus crosses their thresholds;
  *  2. with the gates flipped, every lane COMPLETES at 250× the sf0.1
  *     document count (and 50× the vector count) in one driver JVM:
  *     no driver-side collect or broadcast grows with the corpus (a
  *     corpus-sized collect would OOM the driver here long before a
  *     cluster would notice), no candidate-pair explosion in the dedup
  *     index joins.
  *
  * The tier is SYNTHESIZED deterministically (splitmix-style hashes of
  * the row id, fixed seeds — same schema as the fixtures, rerun-stable
  * bit-for-bit) because no oracle is needed: correctness is pinned at
  * fixture scale by CORRECTNESS_r*.json; this probe is about whether the
  * same plans survive the scale-up. ~2% of documents are exact-duplicate
  * group members so the dedup families have real work.
  *
  * Usage: runMain graft.tools.ScaleSmoke [outJson] [docRows] [vecRows] [lanes]
  * `lanes` is a comma list of [[lanes]] names (default: all); an unknown
  * name fails before any corpus is written. Writes per-lane wall times
  * and gate states as one JSON line; a lane that throws is listed under
  * "failed" and the process exits 2, as in graft.Bench.
  */
object ScaleSmoke {

  /** The contract queries a scale run times, in sweep order. Wall times
    * are recorded, not asserted (host-load noise); completion itself is
    * the assertion that no driver-side structure grows with the corpus. */
  val lanes: Seq[String] = Seq(
    "dedup_exact", "dedup_minhash_lsh", "dedup_minhash_incremental",
    "dedup_ngram_jaccard_capped",
    "dedup_simhash", "dedup_paragraph_global", "dedup_paragraph_skewsafe",
    "dedup_paragraph_rewrite",
    "text_langid", "text_normalize_nfc",
    "text_quality_score", "quality_filter_iqr_trained",
    "tfidf_topterms", "pack_sequences", "dsir_importance",
    "curation_pipeline", "curation_pipeline_subdoc",
    "ann_ivf_topk", "ann_bruteforce_topk", "kmeans_train",
    // the bloom decontam sizes its filter from the footer probe; the
    // perplexity kernel's LM join flips off the broadcast branch at this
    // tier (same gate as tfidf); interleave runs its two-phase ordinals;
    // feature_normalize's only collect is 64 stat rows at any corpus size
    "decontam_bloom", "text_perplexity_ngram", "curation_quality_ensemble",
    "interleave_datasets", "epoch_expansion", "token_budget_truncate",
    "feature_normalize",
    // the agreement matrix unions three pair kernels in one pass; soft
    // weights rides the component machinery; keyframe is a bounded
    // synthetic expansion
    "dedup_agreement_matrix", "dedup_soft_weights", "mm_keyframe_select",
    // the probe-gated paragraph dispatcher (runs the window plan here —
    // the organic corpus does not flip it) and the full-corpus k-NN
    // graph at the 100k-vector tier
    "dedup_paragraph_gated", "knn_graph_ivf",
    // the intra-doc Gopher-repetition pair — both pure projections
    // (block_rep_stats kernel / array_distinct reassembly)
    "text_repetition_stats", "text_repetition_rewrite")

  /** The lanes a comma list names, in sweep order; None selects all.
    * Throws IllegalArgumentException on a name that is not a lane. */
  def selectLanes(only: Option[String]): Seq[String] = only.fold(lanes) { spec =>
    val names = spec.split(",").toSet
    val unknown = names -- lanes
    require(unknown.isEmpty,
      s"unknown lane(s) ${unknown.toSeq.sorted.mkString(",")}; lanes are ${lanes.mkString(",")}")
    lanes.filter(names)
  }

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("scale_smoke.json")
    val docRows = if (args.length > 1) args(1).toLong else 1300000L
    val vecRows = if (args.length > 2) args(2).toLong else 100000L
    val selected = selectLanes(args.lift(3))
    // scale tiers trade cores for disk: zstd shuffle/spill compression
    // (~1.3× lz4 on the hash-heavy relations) — the 26M tier's binding
    // resource is single-disk headroom, not the 32 cpus (r12: the
    // agreement matrix re-run died on spill at ~80 GB free)
    System.setProperty("spark.io.compression.codec", "zstd")
    // Backstop for the explicit post-lane System.gc() below: long
    // queries also free driver references mid-flight (AQE stage frames),
    // and a periodic GC lets the ContextCleaner return that disk early.
    System.setProperty("spark.cleaner.periodicGC.interval", "90s")
    val spark = graft.GraftSession.local()
    val dir = Files.createTempDirectory("graft-scale-tier").toString

    // --- documents: vocab 30k, 40-79 words/doc, 4 sources, 4 langs;
    // ~2% of rows share a seed with up to 49 neighbours → exact-dup
    // groups for the dedup families. All columns are pure hash
    // functions of (seed, position): deterministic across reruns.
    spark.range(docRows)
      .withColumn("seed", expr(
        "CASE WHEN pmod(xxhash64(id, 7), 100) < 2 THEN id - pmod(id, 50) ELSE id END"))
      .select(
        col("id").as("doc_id"),
        expr("""concat_ws(' ', transform(
            sequence(0, 39 + cast(pmod(xxhash64(seed, 2), 40) AS INT)),
            i -> concat('w', pmod(xxhash64(seed, i + 10), 30000))))""")
          .as("text"),
        expr("element_at(array('en','de','fr','es'), " +
          "cast(pmod(xxhash64(seed, 3), 4) AS INT) + 1)").as("lang"),
        expr("element_at(array('web','news','wiki','code'), " +
          "cast(pmod(xxhash64(seed, 4), 4) AS INT) + 1)").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // --- embeddings: 64-dim, values uniform in [-1, 1] from the same
    // hash family; 16 labels
    spark.range(vecRows)
      .select(
        col("id").as("vec_id"),
        expr("""transform(sequence(0, 63),
            j -> cast((cast(pmod(xxhash64(id, j + 100), 2000001) AS DOUBLE)
                       / 1000000.0 - 1.0) AS FLOAT))""").as("embedding"),
        expr("cast(pmod(xxhash64(id, 99), 16) AS INT)").as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // --- gate flips: the whole point of the footer probes is that these
    // decisions change with the corpus, not with the code
    val tfidfBroadcast = graft.ops.TextOps.tfidfBroadcastGate(spark, dir)
    val packTwoPhase = graft.ops.PipelineOps.packTwoPhaseGate(spark, dir)
    require(!tfidfBroadcast,
      s"tf-idf gate must flip to the term-shuffle path at $docRows docs")
    require(packTwoPhase,
      s"pack gate must flip to the two-phase prefix sum at $docRows docs")
    val smallDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    require(graft.ops.TextOps.tfidfBroadcastGate(spark, smallDir),
      "tf-idf gate must stay on the broadcast branch at fixture scale")
    require(!graft.ops.PipelineOps.packTwoPhaseGate(spark, smallDir),
      "pack gate must stay on the single-window branch at fixture scale")

    val timings = selected.map { name =>
      val sec = graft.Bench.timeQuery(spark, dir, name)(graft.Bench.noopSink)
      sec.foreach(s => println(f"SCALE $name%-28s $s%8.2f s"))
      // Release the finished query's shuffle files before the next one
      // starts: shuffle files live until the ContextCleaner GCs the
      // dependency, which never happens organically mid-session — the
      // r12 26M LM sweep died with the PREVIOUS query's 13.5 GB of
      // shuffle still on disk (scale_smoke_r12_26m_lm_abort.log.txt).
      // At 26M+ the tier's binding resource is disk headroom, so a
      // multi-query session must return each query's footprint before
      // the next accumulates its own. GC is outside the timed window.
      System.gc()
      Thread.sleep(3000) // ContextCleaner deletes async post-GC
      name -> sec
    }

    val qs = timings.collect { case (k, Some(v)) => "\"" + k + "\":" + graft.Jfmt.num(v, 2) }
      .mkString("{", ",", "}")
    val failed = timings.collect { case (k, None) => k }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      s"""{"doc_rows":$docRows,"vec_rows":$vecRows,"tfidf_broadcast_gate":$tfidfBroadcast,"pack_two_phase_gate":$packTwoPhase,"action":"noop-sink","queries":$qs,"failed":$failedJson}"""
    Files.write(Paths.get(outPath), json.getBytes(StandardCharsets.UTF_8))
    println(s"WROTE $outPath")
    spark.stop()
    if (failed.nonEmpty) sys.exit(2)
  }
}
