package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Materialize

/** Scale smoke: run the heavy document/vector families against a corpus
  * two-plus orders of magnitude beyond the largest fixture, and assert
  * the things the plan-shape arguments in SCALE.md only ARGUE:
  *
  *  1. the footer-gated hybrids actually FLIP — tf-idf takes the
  *     term-shuffle path, pack_sequences takes the two-phase prefix sum —
  *     once the corpus crosses their thresholds;
  *  2. with the gates flipped, every family COMPLETES at 250× the sf0.1
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
  * Usage: runMain graft.tools.ScaleSmoke [outJson] [docRows] [vecRows] [only,names]
  * Writes per-query wall times + gate states as one JSON line.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("scale_smoke.json")
    val docRows = if (args.length > 1) args(1).toLong else 1300000L
    val vecRows = if (args.length > 2) args(2).toLong else 100000L
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    // scale tiers trade cores for disk: zstd shuffle/spill compression
    // (~1.3× lz4 on the hash-heavy relations) — the 26M tier's binding
    // resource is single-disk headroom, not the 32 cpus (r12: the
    // agreement matrix re-run died on spill at ~80 GB free)
    System.setProperty("spark.io.compression.codec", "zstd")
    // Backstop for the explicit post-query System.gc() below: long
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

    // --- skewed sibling corpus for the paragraph-dedup probe gate: every
    // third document opens with the SAME 10-word boilerplate block (the
    // "all rights reserved" shape), so one digest owns ~5-8% of all
    // blocks — far past the 1% flip threshold. The organic tier above
    // must NOT flip (its hottest digests are 50-member exact-dup groups,
    // a vanishing share of ~7M blocks).
    val skewDir = s"$dir/skewed"
    val wantSkew = only.forall(_.exists(_.contains("paragraph")))
    if (wantSkew) {
    spark.range(docRows)
      .select(
        col("id").as("doc_id"),
        expr("""concat(
            CASE WHEN id % 3 = 0
              THEN 'all rights reserved by the original publisher of this work '
              ELSE '' END,
            concat_ws(' ', transform(
              sequence(0, 19 + cast(pmod(xxhash64(id, 2), 20) AS INT)),
              i -> concat('w', pmod(xxhash64(id, i + 10), 30000)))))""")
          .as("text"),
        lit("en").as("lang"), lit("web").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$skewDir/documents.parquet")
    // The gate criterion is the estimated ABSOLUTE hot-digest row count
    // (share is the wrong proxy — see DedupOps scaladoc; the measured A/B
    // on this very corpus has the window plan FASTER, 8.9 vs 15.2 s,
    // because ~500k narrow rows still fit one task). Asserted here:
    //  (a) the probe SEES the planted boilerplate and projects it to the
    //      corpus within sane bounds (~1/3 of docs share one block);
    //  (b) the decision matches the tier: below the 4M-row task window
    //      buffer (every tier up to ~12M docs at the planted 1/3 share)
    //      the window plan is kept; past it — the 13M decade is the
    //      first tier to cross for real — it flips to aggregate+join,
    //      so the skewsafe branch runs under genuine pressure instead
    //      of only at the 100× projection;
    //  (c) the same projection at a 100×-larger corpus crosses the task
    //      buffer threshold and flips — the pure-function flip is what
    //      protects the 100 TB regime.
    val hotSkew = graft.ops.DedupOps.paragraphHotRowEstimate(spark, skewDir)
    require(hotSkew > docRows / 10.0 && hotSkew < docRows,
      s"skew probe must project the planted boilerplate (got $hotSkew of $docRows docs)")
    val trueHot = docRows / 3.0 // the recipe plants a 1/3 share exactly
    // the production threshold itself, not a copy — a changed constant
    // must move these asserts with it
    val thr = graft.ops.DedupOps.ParagraphWindowMaxHotRows.toDouble
    val decided = graft.ops.DedupOps.paragraphSkewDecision(hotSkew)
    // outside a ±15% band around the threshold the correct decision is
    // unambiguous and asserted; inside it the probe's sampling error
    // legitimately decides (a ~12.6M-doc corpus at 1/3 share)
    if (trueHot < 0.85 * thr)
      require(!decided,
        s"hot slice $trueHot fits a task: window plan must be kept (probe $hotSkew)")
    else if (trueHot > 1.15 * thr)
      require(decided,
        s"hot slice $trueHot outgrows a task: must flip to aggregate+join (probe $hotSkew)")
    require(graft.ops.DedupOps.paragraphSkewDecision(hotSkew * 100),
      "the 100x projection must flip to the aggregate+join plan")
    require(!graft.ops.DedupOps.paragraphSkewGate(spark, dir),
      "paragraph gate must stay on the window plan on the organic corpus")
    require(!graft.ops.DedupOps.paragraphSkewGate(spark, smallDir),
      "paragraph gate must stay on the window plan at fixture scale")
    }

    // --- heavy families at scale. Wall times recorded, not asserted
    // (host-load noise); completion itself is the assertion that no
    // driver-side structure grows with the corpus.
    val names = Seq(
      "dedup_exact", "dedup_minhash_lsh", "dedup_minhash_incremental",
      "dedup_ngram_jaccard_capped",
      "dedup_simhash", "dedup_paragraph_global", "dedup_paragraph_skewsafe",
      "dedup_paragraph_rewrite",
      "text_langid", "text_normalize_nfc",
      "text_quality_score", "quality_filter_iqr_trained",
      "tfidf_topterms", "pack_sequences", "dsir_importance",
      "curation_pipeline", "curation_pipeline_subdoc",
      "ann_ivf_topk", "ann_bruteforce_topk", "kmeans_train",
      // session additions: the bloom decontam sizes its filter from the
      // footer probe; the perplexity kernel's LM join flips off the
      // broadcast branch at this tier (same gate as tfidf); interleave
      // runs its two-phase ordinals; feature_normalize's only collect is
      // 64 stat rows at any corpus size
      "decontam_bloom", "text_perplexity_ngram", "curation_quality_ensemble",
      "interleave_datasets", "epoch_expansion", "token_budget_truncate",
      "feature_normalize",
      // late-session: the agreement matrix unions three pair kernels in
      // one pass; soft weights rides the component machinery; keyframe
      // is a bounded synthetic expansion
      "dedup_agreement_matrix", "dedup_soft_weights", "mm_keyframe_select",
      // round-9 additions: the probe-gated paragraph dispatcher (runs the
      // window plan here — the organic corpus does not flip it) and the
      // full-corpus k-NN graph at the 100k-vector tier
      "dedup_paragraph_gated", "knn_graph_ivf",
      // round-10: the intra-doc Gopher-repetition pair — both pure
      // projections (BlockRepStats kernel / array_distinct reassembly);
      // the first explode→groupBy cut measured 101 s here, the kernel 16.6 s
      "text_repetition_stats", "text_repetition_rewrite")

    // Non-query scale probes, same timing discipline. Each is a closure
    // so the `only` filter applies uniformly. Probes may deposit named
    // quality numbers (recall etc.) into `metrics` for the JSON record.
    val metrics = scala.collection.mutable.LinkedHashMap[String, Double]()
    def noop(df: org.apache.spark.sql.DataFrame): Unit = {
      graft.Bench.noopSink(df)
      // SPARK_GRAFT_DEBUG_PLAN=1: dump the FINAL adaptive plan (the one
      // with runtime stage reuse resolved — static explain of an AQE
      // plan shows duplicate exchange subtrees even when the stage
      // cache later unifies them, so reuse questions need this view)
      if (sys.env.contains("SPARK_GRAFT_DEBUG_PLAN"))
        println(df.queryExecution.executedPlan.toString)
    }
    val extras: Seq[(String, () => Unit)] = Seq(
      // the gated dispatcher ON the skewed corpus — takes the skewsafe
      // branch (gate asserted above); its window sibling on the same
      // corpus is the measured argument for why the escalation exists
      "x_paragraph_gated_skewed" -> (() =>
        noop(graft.SparkEntry.queries("dedup_paragraph_gated")(spark, skewDir))),
      "x_paragraph_window_skewed" -> (() =>
        noop(graft.SparkEntry.queries("dedup_paragraph_global")(spark, skewDir))),
      // CDC merge with snapshot ≫ delta: 3M-key base generation, 10k-row
      // batch — the incremental-merge regime the fixture-scale oracle
      // cannot exercise (full-outer join must stay snapshot-bounded,
      // nothing driver-side grows with the base)
      "x_cdc_big_snapshot" -> { () =>
        val cdcRoot = s"$dir/cdc"
        spark.range(3000000L)
          .select(col("id").as("key"),
            (col("id") % 1000).cast("double").as("price"))
          .write.mode("overwrite").parquet(s"$cdcRoot/gen-init")
        graft.streaming.StreamingArchiver.publishSnapshot(spark, cdcRoot, "gen-init")
        val delta = spark.range(10000L)
          .select((col("id") * 300).as("key"), lit(1).as("seq"),
            when(col("id") % 10 === 0, "D").otherwise("U").as("op"),
            (col("id") + 0.5).cast("double").as("price"))
        graft.streaming.StreamingArchiver.mergeBatch(spark, cdcRoot, delta, 1L)
        // generation maintenance at tier: 5 more batches against the
        // 3M-key snapshot — retirement must hold the store at
        // current + one grace generation while each merge stays
        // delta-bounded
        (2L to 6L).foreach { id =>
          graft.streaming.StreamingArchiver.mergeBatch(spark, cdcRoot,
            spark.range(10000L)
              .select((col("id") * 17 + id).as("key"), lit(1).as("seq"),
                lit("U").as("op"), (col("id") + id).cast("double").as("price")),
            id)
        }
        val p = new org.apache.hadoop.fs.Path(cdcRoot)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        val gens = fs.listStatus(p).toSeq.filter(_.isDirectory)
          .map(_.getPath.getName).filter(_.startsWith("gen-")).sorted
        require(gens == Seq("gen-5", "gen-6"),
          s"retirement must bound the 3M-key store, saw $gens")
      },
      // real PNG encode+decode at 100k images (~32-38 px sides) — the
      // executor-side codec path at 5000× the oracle query's image count
      "x_image_decode_100k" -> { () =>
        import spark.implicits._
        noop(graft.ops.MultimodalOps.imageFeaturesKernel(
          spark, spark.range(100000L).as[Long], 32))
      },
      // real WAV encode+decode at 100k clips (~2-3.6k samples each,
      // ~250M decoded samples) — the executor-side audio codec path at
      // 500× the oracle query's clip count
      "x_audio_decode_100k" -> { () =>
        import spark.implicits._
        noop(graft.ops.MultimodalOps.audioFeaturesKernel(
          spark, spark.range(100000L).as[Long], 2000))
      },
      // recall audit of knn_graph_ivf's √N-cell SCALE branch: 50 sampled
      // queries' graph edges vs their brute-force top-3 over the full
      // 100k corpus. Recorded, not hard-gated (uniform random vectors
      // are IVF's worst case — neighbors barely cluster — so the number
      // is a floor on real-embedding behavior, where locality is the
      // point); the fixture branch's recall contract is ann_recall_eval.
      "x_knn_graph_recall" -> { () =>
        val g = graft.SparkEntry.queries("knn_graph_ivf")(spark, dir)
          .select(col("query_id"), col("neighbor_id"))
        val recall = knnRecallAt3(spark, s"$dir/embeddings.parquet", g)
        metrics += ("knn_graph_recall_at3" -> recall)
        println(f"SCALE-METRIC knn_graph_recall_at3 = $recall%.3f")
      },
      // Recall CONTINUITY across the two-level gate flip — the measured
      // counterpart of GateSpec's fraction law. The production gate flips
      // structures at N ≈ 16.7M; what must NOT change across that flip is
      // recall at the production probe budget. This probe runs BOTH
      // branches on the SAME corpus with their production laws — flat
      // (K=⌈√N⌉, nprobe=K/32) and two-level (K1=K2=⌈N^¼⌉, p=⌈K1/√32⌉) —
      // plus the pre-fix naive law (p=max(2,K1/32), a 1/1024 fraction)
      // whose recall collapse is the cliff the ⌈K1/√32⌉ law removes.
      // Asserts the production two-level side lands at-or-above flat
      // (its ceil-quantum fraction is slightly larger at small K1, so
      // ≥ is the exact no-cliff statement); records all three
      // (fraction, recall) points.
      "x_knn_flip_continuity" -> { () =>
        val ann = graft.ops.AnnOps
        val e0 = vecsAt(spark, s"$dir/embeddings.parquet")
        val en = ann.normalizedVecs(e0)
        val flat = graft.SparkEntry.queries("knn_graph_ivf")(spark, dir)
          .select(col("query_id"), col("neighbor_id"))
        val rFlat = knnRecallAt3(spark, s"$dir/embeddings.parquet", flat)
        val kFlat = ann.ivfCellCount(vecRows)
        val fFlat = ann.ivfNprobe(kFlat).toDouble / kFlat
        val k1 = ann.ivfCoarseCells(vecRows)
        def twoLevel(p: Int): Double = {
          val g = ann.knnGraphTwoLevel(spark, en, vecRows, k1, k1, p, p, 3)
          knnRecallAt3(spark, s"$dir/embeddings.parquet", g)
        }
        val p = ann.ivfTwoLevelProbes(k1)
        val r2 = twoLevel(p)
        val pNaive = math.max(2, k1 / 32)
        val rNaive = twoLevel(pNaive)
        val f2 = p.toDouble * p / (k1.toLong * k1)
        val fNaive = pNaive.toDouble * pNaive / (k1.toLong * k1)
        metrics += ("flip_flat_recall" -> rFlat)
        metrics += ("flip_flat_fraction" -> fFlat)
        metrics += ("flip_twolevel_recall" -> r2)
        metrics += ("flip_twolevel_fraction" -> f2)
        metrics += ("flip_naive_recall" -> rNaive)
        metrics += ("flip_naive_fraction" -> fNaive)
        require(r2 >= rFlat - 0.02,
          f"two-level recall $r2%.3f cliffs below flat $rFlat%.3f at the gate flip")
        println(f"SCALE-METRIC flip_continuity flat=$rFlat%.3f (${fFlat * 100}%.2f%%) " +
          f"twolevel=$r2%.3f (${f2 * 100}%.2f%%) naive=$rNaive%.3f (${fNaive * 100}%.2f%%)")
      },
      // the honest RocksDB crossover probe at STREAMING state the
      // fixtures never reach: a 3.3M-event stream deduplicating to 3M
      // distinct keys (~375k keys/partition held in state across 4
      // micro-batches). sf0.1 A/Bs (SCALE.md) showed RocksDB losing on
      // thousands of keys — per-batch native-instance cost dominating;
      // this records both providers at the millions regime so the
      // env-switch recommendation rests on a measured curve, not a
      // single point.
      "x_stream_dedup_3m_crossover" -> { () =>
        val srcDir = s"$dir/stream3m"
        spark.range(3300000L)
          .select((col("id") % 3000000L).as("key"),
            expr("timestamp_micros(1700000000000000 + id * 1000)").as("ts"))
          .repartition(8).write.mode("overwrite").parquet(srcDir)
        def run(rocks: Boolean): Double = {
          val s2 = spark.newSession()
          s2.conf.set("spark.sql.shuffle.partitions", "8")
          if (rocks) s2.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          val ckpt = Files.createTempDirectory("graft-x-stream").toString
          val in = s2.readStream.schema("key LONG, ts TIMESTAMP")
            .option("maxFilesPerTrigger", "2").parquet(srcDir)
          val t0 = System.nanoTime()
          val q = in.dropDuplicates("key")
            .writeStream.outputMode("append").format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        val h = run(rocks = false); val r = run(rocks = true)
        metrics += ("stream_dedup_3m_hdfs_s" -> h)
        metrics += ("stream_dedup_3m_rocksdb_s" -> r)
        println(f"SCALE-METRIC stream_dedup_3m hdfs=$h%.1f s rocksdb=$r%.1f s")
      },
      // CLUSTERED-corpus knn-graph probe, the regime IVF exists for and
      // the skew case the uniform tier cannot produce: 30% of vectors in
      // one tight Gaussian-ish blob (sum-of-uniforms offsets around a
      // hashed center, deterministic), the rest across 15 loose blobs.
      // Asserts (1) the trained scale branch COMPLETES despite one cell
      // family holding 30k+ members (hot join key — records whether AQE
      // actually skew-splits the cell join), (2) the trained-vs-seeded
      // centroid A/B on data with learnable structure (the measured
      // justification for wiring the Lloyd trainer in).
      "x_knn_graph_skewed" -> { () =>
        val cDir = s"$dir/clustered"
        spark.range(vecRows)
          .withColumn("blob", expr(
            "CASE WHEN pmod(xxhash64(id, 5), 10) < 3 THEN 0 " +
            "ELSE 1 + cast(pmod(xxhash64(id, 6), 15) AS INT) END"))
          .select(
            col("id").as("vec_id"),
            expr("""transform(sequence(0, 63), j -> cast(
                (cast(pmod(xxhash64(blob, j + 200), 2001) AS DOUBLE) / 1000.0 - 1.0)
                + (CASE WHEN blob = 0 THEN 0.05 ELSE 0.25 END) *
                  ((cast(pmod(xxhash64(id, j * 3 + 300), 1001) AS DOUBLE)
                  + cast(pmod(xxhash64(id, j * 3 + 301), 1001) AS DOUBLE)
                  + cast(pmod(xxhash64(id, j * 3 + 302), 1001) AS DOUBLE)) / 1000.0 - 1.5)
              AS FLOAT))""").as("embedding"),
            col("blob").cast("int").as("label"))
          .write.mode("overwrite").parquet(s"$cDir/embeddings.parquet")
        val df = graft.SparkEntry.queries("knn_graph_ivf")(spark, cDir)
        val t0 = System.nanoTime()
        val nEdges = df.queryExecution.toRdd.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val plan = df.queryExecution.executedPlan.toString
        val aqeSkew = if (plan.contains("skew=true")) 1.0 else 0.0
        metrics += ("knn_skewed_graph_s" -> sec)
        metrics += ("knn_skewed_aqe_split" -> aqeSkew)
        println(f"SCALE-METRIC knn_skewed graph=$sec%.1f s edges=$nEdges aqe_skew_split=$aqeSkew%.0f")
        val rT = knnRecallAt3(spark, s"$cDir/embeddings.parquet", df)
        // A/B vs seeded centroids on THREE axes — recall alone is not
        // comparable across centroid sets because uneven cells change
        // the candidate budget: record candidates per query (cost) and
        // the max cell population (the hot-key/skew axis) for both
        val e0 = vecsAt(spark, s"$cDir/embeddings.parquet")
        val en = graft.ops.AnnOps.normalizedVecs(e0)
        val seeded = graft.ops.AnnOps.normalizedCents(
          e0.where(col("vec_id") >= 5 && col("vec_id") < lit(5L + 317))
            .select(col("vec_id").as("cid"), col("v").as("cv")))
        val trained = graft.ops.AnnOps.normalizedCents(
          spark.createDataFrame(
            graft.ops.AnnOps.scaleTrainedCentroids(spark, cDir, 317)
              .map { case (cid, cv) => (cid, cv.toSeq) }.toIndexedSeq)
            .toDF("cid", "cv"))
        def cellStats(cents: org.apache.spark.sql.DataFrame,
            tag: String): Unit = {
          val assignedCells = en.crossJoin(broadcast(cents))
            .select(col("vec_id"), col("cid"),
              graft.functions.VectorOps.dot_d(col("v"), col("cv")).as("cs"))
            .groupBy(col("vec_id"))
            .agg(max(struct(col("cs"), col("cid"))).as("b"))
            .select(col("b.cid").as("cell"))
            .groupBy(col("cell")).agg(count(lit(1)).as("n"))
          val Array(mx, tot) = assignedCells
            .agg(max(col("n")), sum(col("n") * col("n"))).head()
            .toSeq.map(_.toString.toDouble).toArray
          metrics += (s"knn_skewed_maxcell_$tag" -> mx)
          // Σn² / (N/K · N) = candidate-budget inflation vs perfectly
          // balanced cells (probes scale with it at fixed nprobe)
          metrics += (s"knn_skewed_imbalance_$tag" ->
            tot / (vecRows.toDouble / 317.0 * vecRows.toDouble))
        }
        cellStats(trained, "trained")
        cellStats(seeded, "seeded")
        val gSeeded = graft.ops.AnnOps.knnGraphScale(en, seeded, 9, 3)
        val rS = knnRecallAt3(spark, s"$cDir/embeddings.parquet", gSeeded)
        metrics += ("knn_skewed_recall_trained" -> rT)
        metrics += ("knn_skewed_recall_seeded" -> rS)
        println(f"SCALE-METRIC knn_skewed recall trained=$rT%.3f seeded=$rS%.3f")
      },
      // Two-level product quantizer (IMI) at a FORCED 1M-vector tier: the
      // production gate flips past ~16.7M vectors (⌈√N⌉ > 4096 — too
      // big to smoke here), so this probe calls the builder directly
      // with K1=K2=32 (K_eff=1024 ≈ √1M) and p1·p2 = 8 probe cells,
      // and pins the two claims the gate rests on: the candidate count
      // per query stays O(√N) (≈ p1·p2·√N — recorded and asserted
      // under 100·√N), and the assignment plan never fans out N·K_eff
      // rows (two broadcast-join scoring passes of N·K1 + N·K2).
      // Recall@3 vs brute force is recorded at 100 sampled queries.
      "x_knn_graph_twolevel_1m" -> { () =>
        val tDir = s"$dir/twolevel"
        val n2 = 1000000L
        spark.range(n2)
          .select(
            col("id").as("vec_id"),
            expr("""transform(sequence(0, 63),
                j -> cast((cast(pmod(xxhash64(id, j + 100), 2000001) AS DOUBLE)
                           / 1000000.0 - 1.0) AS FLOAT))""").as("embedding"),
            expr("cast(pmod(xxhash64(id, 99), 16) AS INT)").as("label"))
          .write.mode("overwrite").parquet(s"$tDir/embeddings.parquet")
        val e0 = vecsAt(spark, s"$tDir/embeddings.parquet")
        val en = graft.ops.AnnOps.normalizedVecs(e0)
        val (assigned, probes) = graft.ops.AnnOps.twoLevelAssignProbes(
          spark, en, n2, 32, 32, 2, 4)
        // candidate count computed ANALYTICALLY from per-cell populations
        // (Σ nₐ·nₚ over cells) — materializing the pair join just to
        // count it is itself the O(candidates) cost being measured
        val nCand = assigned.groupBy(col("cell")).agg(count(lit(1)).as("na"))
          .join(probes.groupBy(col("cell")).agg(count(lit(1)).as("np")),
            Seq("cell"))
          .agg(sum(col("na") * col("np"))).head.getLong(0)
        val candPerQuery = nCand.toDouble / n2
        // bound constant: p1·p2 = 8 ideal; the independent-subspace
        // product keeps the measured count within a few % of ideal
        // (the retired shared-residual codebook ran ~4× over from cell
        // collapse) — 100·√N is the assertion ceiling
        val bound = 100.0 * math.sqrt(n2.toDouble)
        require(candPerQuery < bound,
          f"two-level candidates/query $candPerQuery%.0f exceeds 100·√N = $bound%.0f")
        metrics += ("twolevel_cand_per_query" -> candPerQuery)
        val mxCell = assigned.groupBy(col("cell"))
          .agg(count(lit(1)).as("n")).agg(max(col("n"))).head.getLong(0)
        metrics += ("twolevel_maxcell" -> mxCell.toDouble)
        val g2 = graft.ops.AnnOps.knnGraphTwoLevel(
          spark, en, n2, 32, 32, 2, 4, 3)
        val t0 = System.nanoTime()
        graft.Bench.noopSink(g2)
        val sec = (System.nanoTime() - t0) / 1e9
        metrics += ("twolevel_graph_s" -> sec)
        val rec = knnRecallAt3(spark, s"$tDir/embeddings.parquet", g2,
          queryMod = 10000)
        metrics += ("twolevel_recall_at3" -> rec)
        println(f"SCALE-METRIC twolevel cand/q=$candPerQuery%.0f graph=$sec%.1f s recall=$rec%.3f")
      },
      // Two-level IMI on a CLUSTERED 1M corpus — the regime
      // multi-sequence probe selection exists for (the uniform 1M tier
      // is its floor: no probe order can beat any other on
      // structureless data). 16 equal blobs at the skewed tier's LOOSE
      // tightness (0.25): structure a 32-cell-per-subspace quantizer
      // can meaningfully subdivide, so the probe isolates the
      // SELECTION question. (The skewed recipe's 30%-mass TIGHT blob
      // is deliberately excluded here and measured by the
      // assignment-only x_knn_graph_twolevel_blob1m probe below: its
      // hot cell measures ~48× the balanced ideal and the full-graph
      // candidate volume ~10¹¹ pairs — a first attempt that BUILT
      // that graph was killed after 2 h inside the hot cells.)
      // K1=K2=32 (K_eff = 1024 ≈ √N),
      // p1=p2=3 ⇒ both probe selections spend EXACTLY 9 cells/query.
      // Records (recall, candidate fraction, max cell) for the
      // trained two-level index, and the multi-sequence vs
      // rigid-rectangle A/B at that matched budget. Asserts multi-seq
      // never loses at equal spend — the structural claim the
      // production law rests on.
      //
      // The A/B runs on a 500-QUERY STRATUM (vec_id % 2000 = 0, the
      // repo's standard audit size — the 50-query probe was retired
      // for ±0.07 noise) through the production probeFilter hook,
      // NOT the full graph: on blob-structured data at K_eff = 1024
      // the cell widths are blob-grained (Lloyd separates the 16
      // centers before it can subdivide within them — 32 cells per
      // subspace over 16 blobs leaves ~4 grid cells per blob, cells
      // ~15k wide), so the full 1M-query graph is ~1.4·10¹¹ pairs —
      // hours, and redundant: the full-graph COST law is already
      // measured at x_knn_graph_twolevel_1m; this probe's question is
      // purely which probe SELECTION earns more recall per cell.
      "x_knn_graph_twolevel_clustered" -> { () =>
        val cDir = s"$dir/twolevel-clustered"
        val n2 = 1000000L
        spark.range(n2)
          .withColumn("blob", expr("cast(pmod(xxhash64(id, 6), 16) AS INT)"))
          .select(
            col("id").as("vec_id"),
            expr("""transform(sequence(0, 63), j -> cast(
                (cast(pmod(xxhash64(blob, j + 200), 2001) AS DOUBLE) / 1000.0 - 1.0)
                + 0.25 *
                  ((cast(pmod(xxhash64(id, j * 3 + 300), 1001) AS DOUBLE)
                  + cast(pmod(xxhash64(id, j * 3 + 301), 1001) AS DOUBLE)
                  + cast(pmod(xxhash64(id, j * 3 + 302), 1001) AS DOUBLE)) / 1000.0 - 1.5)
              AS FLOAT))""").as("embedding"),
            col("blob").as("label"))
          .write.mode("overwrite").parquet(s"$cDir/embeddings.parquet")
        val ann = graft.ops.AnnOps
        val en = ann.normalizedVecs(vecsAt(spark, s"$cDir/embeddings.parquet"))
        val qMod = 2000
        val nQ = (0L until n2).count(_ % qMod == 0).toDouble
        def run(rect: Boolean, tag: String): Double = {
          val (assigned, probes) = ann.twoLevelAssignProbes(
            spark, en, n2, 32, 32, 3, 3,
            probeFilter = Some(pmod(col("vec_id"), lit(qMod)) === 0),
            rectangleProbes = rect)
          val widths = Materialize(assigned.groupBy(col("cell"))
            .agg(count(lit(1)).as("na")), eager = true)
          val nCand = widths
            .join(probes.groupBy(col("cell")).agg(count(lit(1)).as("np")),
              Seq("cell"))
            .agg(sum(col("na") * col("np"))).head.getLong(0)
          metrics += (s"tlc_cand_per_query_$tag" -> nCand.toDouble / nQ)
          if (!rect) {
            val mx = widths.agg(max(col("na"))).head.getLong(0)
            metrics += ("tlc_maxcell" -> mx.toDouble)
          }
          // same (assigned, probes) feed the graph — one training per
          // variant, and the counted budget is exactly the built one
          val g = ann.topKEdges(assigned, probes, en, 3)
          val t0 = System.nanoTime()
          noop(g)
          metrics += (s"tlc_graph_s_$tag" -> (System.nanoTime() - t0) / 1e9)
          val r = knnRecallAt3(spark, s"$cDir/embeddings.parquet", g,
            queryMod = qMod)
          metrics += (s"tlc_recall_at3_$tag" -> r)
          r
        }
        val rMs = run(rect = false, "multiseq")
        val rRect = run(rect = true, "rectangle")
        require(rMs >= rRect - 0.02,
          f"multi-sequence recall $rMs%.3f lost to the rectangle $rRect%.3f at matched budget")
        println(f"SCALE-METRIC twolevel_clustered multiseq=$rMs%.3f rectangle=$rRect%.3f " +
          f"(9 cells/query each)")
      },
      // The skewed recipe at the forced two-level 1M tier (30% of mass
      // in ONE tight blob, noise 0.05; 15 loose blobs at 0.25). First
      // measurement corrected the theory on the way in: Lloyd DOES
      // subdivide the tight 300k blob (max cell 46,852 — ~6-7 grid
      // cells over the blob, not one whole-blob cell), but the hot
      // cell still sits ~48× the balanced N/1024 ideal, blob queries
      // probe their own blob's handful of cells, and the UNSAMPLED
      // full-graph candidate volume is ~6e10 pairs — hours in one JVM,
      // measured the hard way (first attempt killed at 2 h; the
      // assignment-only telemetry pinned that wall at its measured
      // height through round 10). Round 11 ships the remedy the pin
      // asked for: topKEdges' deterministic POSTING SAMPLING thins any
      // cell past IvfCellSampleEngage (2× the salt cap) to ~2048
      // deterministic representatives — semantically safe for a cos≈1
      // blob, where any k co-blob members are near-equivalent
      // neighbors — so this entry now BUILDS THE GRAPH the wall
      // previously forbade and asserts its shape: every vector keeps
      // k edges, tight-blob edges are near-1 cosine, and the telemetry
      // still pins the pre-sample wall so a training change that
      // flattens the grid is noticed.
      "x_knn_graph_twolevel_blob1m" -> { () =>
        val bDir = s"$dir/twolevel-blob1m"
        val n2 = 1000000L
        spark.range(n2)
          .withColumn("blob", expr(
            "CASE WHEN pmod(xxhash64(id, 5), 10) < 3 THEN 0 " +
            "ELSE 1 + cast(pmod(xxhash64(id, 6), 15) AS INT) END"))
          .select(
            col("id").as("vec_id"),
            expr("""transform(sequence(0, 63), j -> cast(
                (cast(pmod(xxhash64(blob, j + 200), 2001) AS DOUBLE) / 1000.0 - 1.0)
                + (CASE WHEN blob = 0 THEN 0.05 ELSE 0.25 END) *
                  ((cast(pmod(xxhash64(id, j * 3 + 300), 1001) AS DOUBLE)
                  + cast(pmod(xxhash64(id, j * 3 + 301), 1001) AS DOUBLE)
                  + cast(pmod(xxhash64(id, j * 3 + 302), 1001) AS DOUBLE)) / 1000.0 - 1.5)
              AS FLOAT))""").as("embedding"),
            col("blob").cast("int").as("label"))
          .write.mode("overwrite").parquet(s"$bDir/embeddings.parquet")
        val ann = graft.ops.AnnOps
        val en = ann.normalizedVecs(vecsAt(spark, s"$bDir/embeddings.parquet"))
        val (assigned, probes) = ann.twoLevelAssignProbes(
          spark, en, n2, 32, 32, 3, 3)
        val widths = Materialize(
          assigned.groupBy(col("cell")).agg(count(lit(1)).as("na")), eager = true)
        val mx = widths.agg(max(col("na"))).head.getLong(0)
        val cells = widths.count()
        val nCand = widths
          .join(probes.groupBy(col("cell")).agg(count(lit(1)).as("np")),
            Seq("cell"))
          .agg(sum(col("na") * col("np"))).head.getLong(0)
        metrics += ("blob1m_maxcell" -> mx.toDouble)
        metrics += ("blob1m_cells" -> cells.toDouble)
        metrics += ("blob1m_cand_per_query" -> nCand.toDouble / n2)
        // the pre-sample wall, still pinned at its MEASURED height: if
        // a future training change drives the hot cell under 10× ideal
        // the sampler is no longer what makes this build possible and
        // the assertion set should be revisited.
        require(mx > 10L * (n2 / 1024L),
          s"hot cell $mx under 10x the balanced ideal - the sampler is moot here")
        require(mx > ann.IvfCellSampleEngage,
          s"hot cell $mx under the sample-engage threshold - the build below no longer exercises it")
        // projected POST-SAMPLE candidate volume, from the same width
        // frame through the GateSpec-pinned modulus law (kept ≈ ceil(w/m))
        val sampleKept = expr(
          s"""CASE WHEN na <= ${ann.IvfCellSampleEngage} THEN na
             | ELSE cast(ceil(na / ceil(na / ${ann.IvfCellSampleTarget}.0)) as long)
             | END""".stripMargin)
        val nCandSampled = widths
          .join(probes.groupBy(col("cell")).agg(count(lit(1)).as("np")),
            Seq("cell"))
          .agg(sum(sampleKept * col("np"))).head.getLong(0)
        metrics += ("blob1m_cand_per_query_sampled" -> nCandSampled.toDouble / n2)
        // THE BUILD the wall used to forbid — the production two-level
        // path end-to-end (assignment reruns inside: the telemetry
        // probe above deliberately stays a separate measurement).
        val t0 = System.nanoTime()
        val g = Materialize(
          ann.knnGraphTwoLevel(spark, en, n2, 32, 32, 3, 3, 3), eager = true)
        metrics += ("blob1m_graph_s" -> (System.nanoTime() - t0) / 1e9)
        val per = g.groupBy(col("query_id")).agg(count(lit(1)).as("n"))
        require(per.where(col("n") =!= 3).count() == 0L,
          "every vector must keep exactly k=3 edges")
        val nq = per.count()
        require(nq == n2, s"expected $n2 queried vectors, got $nq")
        // tight-blob members' neighbors are co-blob reps at cos ≈ 1
        // (intra-blob cosine ≈ 0.998 at noise 0.05 over ‖b‖² ≈ 21)
        val blobMin = g.join(
            spark.read.parquet(s"$bDir/embeddings.parquet")
              .select(col("vec_id").as("query_id"), col("label")),
            Seq("query_id"))
          .where(col("label") === 0)
          .agg(min(col("cos"))).head.getDouble(0)
        metrics += ("blob1m_blob_min_cos" -> blobMin)
        require(blobMin > 0.99,
          f"tight-blob edges must be near-1 cosine (min $blobMin%.4f)")
        println(f"SCALE-METRIC twolevel_blob1m maxcell=$mx cells=$cells " +
          f"cand/q=${nCand.toDouble / n2}%.0f sampled_cand/q=${nCandSampled.toDouble / n2}%.0f " +
          f"graph_s=${metrics("blob1m_graph_s")}%.1f blob_min_cos=$blobMin%.4f")
      },
      // The multiseq-vs-rectangle A/B at the SCARCE-budget point where
      // selection is the only lever: uniform 1M vectors, 9 cells/query
      // ≈ 0.9% candidate fraction. The clustered A/B above SATURATES
      // (0.995 vs 0.996 measured — blob-grained cells contain the true
      // neighbors and both selections probe the query's own cell
      // first, element 0 × element 0), so the differentiating regime
      // is uniform data, where which 9 of 1024 cells get probed is
      // everything. Multi-sequence order (top-9 of the grid by s1+s2)
      // vs the rigid top-3×top-3 rectangle at identical spend; same
      // 500-query stratum and recall audit as the clustered probe.
      "x_knn_graph_twolevel_uniform_ab" -> { () =>
        val uDir = s"$dir/twolevel-uniform"
        val n2 = 1000000L
        spark.range(n2)
          .select(
            col("id").as("vec_id"),
            expr("""transform(sequence(0, 63),
                j -> cast((cast(pmod(xxhash64(id, j + 100), 2000001) AS DOUBLE)
                           / 1000000.0 - 1.0) AS FLOAT))""").as("embedding"),
            expr("cast(pmod(xxhash64(id, 99), 16) AS INT)").as("label"))
          .write.mode("overwrite").parquet(s"$uDir/embeddings.parquet")
        val ann = graft.ops.AnnOps
        val en = ann.normalizedVecs(vecsAt(spark, s"$uDir/embeddings.parquet"))
        val qMod = 2000
        def run(rect: Boolean, tag: String): Double = {
          val (assigned, probes) = ann.twoLevelAssignProbes(
            spark, en, n2, 32, 32, 3, 3,
            probeFilter = Some(pmod(col("vec_id"), lit(qMod)) === 0),
            rectangleProbes = rect)
          val g = ann.topKEdges(assigned, probes, en, 3)
          val r = knnRecallAt3(spark, s"$uDir/embeddings.parquet", g,
            queryMod = qMod)
          metrics += (s"tlu_recall_at3_$tag" -> r)
          r
        }
        val rMs = run(rect = false, "multiseq")
        val rRect = run(rect = true, "rectangle")
        require(rMs >= rRect - 0.02,
          f"multi-sequence recall $rMs%.3f lost to the rectangle $rRect%.3f at matched budget")
        println(f"SCALE-METRIC twolevel_uniform_ab multiseq=$rMs%.3f " +
          f"rectangle=$rRect%.3f (9 cells/query each)")
      },
      // PRODUCTION-LAW probe selection, measured at its real parameters:
      // at the N ≈ 16.7M flip the gate chooses k1 = k2 = 64 and p = 12
      // ⇒ m = 144 > k1 — the regime where the retired explode-the-grid
      // selection shipped the full 64×64 = 4096-row grid per probe
      // vector (the round-10 ADVICE item). The MultiSeqCells frontier
      // walk makes selection row-local at any m; this entry measures
      // that regime on a forced 1M uniform corpus instead of arguing
      // it: every query must probe exactly m = 144 grid cells, the
      // analytic candidate count must track the m·N/(K1·K2) ideal
      // (uniform corpus ⇒ balanced grid), and the 500-query recall
      // point goes on record next to the scarce-budget m = 9 one.
      "x_knn_twolevel_production_probes" -> { () =>
        val pDir = s"$dir/twolevel-prod"
        val n2 = 1000000L
        spark.range(n2)
          .select(
            col("id").as("vec_id"),
            expr("""transform(sequence(0, 63),
                j -> cast((cast(pmod(xxhash64(id, j + 100), 2000001) AS DOUBLE)
                           / 1000000.0 - 1.0) AS FLOAT))""").as("embedding"),
            expr("cast(pmod(xxhash64(id, 99), 16) AS INT)").as("label"))
          .write.mode("overwrite").parquet(s"$pDir/embeddings.parquet")
        val ann = graft.ops.AnnOps
        val en = ann.normalizedVecs(vecsAt(spark, s"$pDir/embeddings.parquet"))
        val qMod = 2000
        val (assigned, probes) = ann.twoLevelAssignProbes(
          spark, en, n2, 64, 64, 12, 12,
          probeFilter = Some(pmod(col("vec_id"), lit(qMod)) === 0))
        val perQ = Materialize(probes.groupBy(col("query_id"))
          .agg(countDistinct(col("cell")).as("nc")), eager = true)
        val nQ = perQ.count()
        require(nQ == n2 / qMod, s"expected ${n2 / qMod} probe queries, got $nQ")
        require(perQ.where(col("nc") =!= 144).count() == 0L,
          "every query must probe exactly m = p1*p2 = 144 distinct grid cells")
        val nCand = assigned.groupBy(col("cell")).agg(count(lit(1)).as("na"))
          .join(probes.groupBy(col("cell")).agg(count(lit(1)).as("np")),
            Seq("cell"))
          .agg(sum(col("na") * col("np"))).head.getLong(0)
        val candPerQuery = nCand.toDouble / nQ
        val ideal = 144.0 * n2 / (64.0 * 64.0)
        metrics += ("prod_cand_per_query" -> candPerQuery)
        metrics += ("prod_cand_vs_ideal" -> candPerQuery / ideal)
        require(candPerQuery < 3.0 * ideal,
          f"uniform corpus candidates/query $candPerQuery%.0f should track the ideal $ideal%.0f")
        val g = ann.topKEdges(assigned, probes, en, 3)
        val r = knnRecallAt3(spark, s"$pDir/embeddings.parquet", g, queryMod = qMod)
        metrics += ("prod_recall_at3" -> r)
        require(r > 0.1,
          f"recall $r%.3f collapsed at a ${candPerQuery / n2 * 100}%.1f%% candidate fraction")
        println(f"SCALE-METRIC twolevel_production_probes m=144 cand/q=$candPerQuery%.0f " +
          f"(${candPerQuery / ideal}%.2fx ideal) recall@3=$r%.3f")
      },
      // DEGENERATE corpus: 30% of 100k vectors are ONE exact duplicated
      // embedding (boilerplate pages) and 20% are near-identical
      // (±1e-6 noise around one center — distinct values, one cell,
      // wider than IvfCellWidthCap ⇒ the salt engages). Without the
      // exact-dup collapse the cell join is (30k)² under one key. Runs
      // the PRODUCTION knn_graph_ivf path (dedup wrapper + width-cap
      // salt) and asserts completion, twin edges at cos 1, and that a
      // sampled organic vector still gets 3 ranked neighbors.
      "x_knn_graph_degenerate" -> { () =>
        val gDir = s"$dir/degenerate"
        spark.range(vecRows)
          .withColumn("kind", expr(
            "CASE WHEN id % 10 < 3 THEN 0 WHEN id % 10 < 5 THEN 1 ELSE 2 END"))
          .select(
            col("id").as("vec_id"),
            expr("""transform(sequence(0, 63), j -> cast(CASE
                WHEN kind = 0 THEN cast(pmod(xxhash64(77, j + 100), 2000001) AS DOUBLE) / 1000000.0 - 1.0
                WHEN kind = 1 THEN cast(pmod(xxhash64(88, j + 100), 2000001) AS DOUBLE) / 1000000.0 - 1.0
                  + (cast(pmod(xxhash64(id, j + 500), 2001) AS DOUBLE) / 1000.0 - 1.0) * 1e-6
                ELSE cast(pmod(xxhash64(id, j + 100), 2000001) AS DOUBLE) / 1000000.0 - 1.0
              END AS FLOAT))""").as("embedding"),
            lit(0).as("label"))
          .write.mode("overwrite").parquet(s"$gDir/embeddings.parquet")
        require(graft.ops.AnnOps.ivfCellSalts(vecRows / 5) > 1L,
          "the near-identical slice must be wide enough to engage the salt")
        val g = Materialize(
          graft.SparkEntry.queries("knn_graph_ivf")(spark, gDir), eager = true)
        val dup = g.where(col("query_id") % 10 < 3)
        require(dup.where(col("cos") < 0.999999).count() == 0L,
          "every exact-duplicate member's edges must be cos-1 twins")
        require(dup.groupBy(col("query_id")).agg(count(lit(1)).as("n"))
          .where(col("n") =!= 3).count() == 0L,
          "every duplicate member must still get k=3 edges")
        val organic = g.where(col("query_id") % 10 >= 5).count()
        require(organic > 0L, "organic vectors must keep ranked neighbors")
      },
      // Shot segmentation over 100k REAL DECODED FRAMES (2000 videos ×
      // 50 sampled frames, each a PNG encode→ImageIO-decode round trip
      // on the executors) — the composed mm_shot_boundaries_decoded
      // pipeline at 250× its oracle frame count. Completion bounds the
      // per-frame codec cost; the windowing topology adds two doc-key
      // window passes over the decoded features.
      "x_mm_decoded_shots_100k" -> { () =>
        val frames = spark.range(2000L)
          .select(col("id").as("doc_id"),
            explode(expr("sequence(0, 49)")).as("frame_idx"))
          .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"))
        val summary = graft.ops.MultimodalOps
          .shotIds(graft.ops.MultimodalOps.decodedFrameFeatures(
            spark, frames.repartition(32), 16))
          .groupBy(col("doc_id"), col("shot"))
          .agg(count(lit(1)).as("shot_len"))
          .groupBy(col("doc_id"))
          .agg(sum(col("shot_len")).as("n_frames"),
            count(lit(1)).as("n_shots"), max(col("shot_len")).as("longest"))
        noop(summary)
      },
      // Stateful streaming at 30M DISTINCT KEYS — the decade past the
      // 3M crossover probe, where per-partition in-memory state
      // (~3.75M keys × ~100 B each across 8 partitions) approaches
      // executor heap and the HDFS-backed map provider must lose to
      // RocksDB's native+disk state. 33M events dedup to 30M keys over
      // 4 micro-batches. OPT-IN like the 3M probe (RocksDB JNI
      // teardown can SIGSEGV at exit after results are written).
      "x_stream_30m" -> { () =>
        val srcDir = s"$dir/stream30m"
        spark.range(33000000L)
          .select((col("id") % 30000000L).as("key"),
            expr("timestamp_micros(1700000000000000 + id * 100)").as("ts"))
          .repartition(16).write.mode("overwrite").parquet(srcDir)
        def run(rocks: Boolean): Double = {
          val s2 = spark.newSession()
          s2.conf.set("spark.sql.shuffle.partitions", "8")
          if (rocks) s2.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          val ckpt = Files.createTempDirectory("graft-x-stream30m").toString
          val in = s2.readStream.schema("key LONG, ts TIMESTAMP")
            .option("maxFilesPerTrigger", "4").parquet(srcDir)
          val t0 = System.nanoTime()
          val q = in.dropDuplicates("key")
            .writeStream.outputMode("append").format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        val r = run(rocks = true); val h = run(rocks = false)
        metrics += ("stream_dedup_30m_hdfs_s" -> h)
        metrics += ("stream_dedup_30m_rocksdb_s" -> r)
        println(f"SCALE-METRIC stream_dedup_30m hdfs=$h%.1f s rocksdb=$r%.1f s")
      },
      // The 100M-key point of the key-set shape — where the shape-aware
      // gate's 20%-heap memory bound projects the FLIP to RocksDB
      // (100M × ~100 B × 2 retained versions ≈ 20 GB ≫ the budget)
      // while the measured 30M corner still had in-memory winning 7×.
      // Both providers run so the point validates or falsifies the
      // bound: if the HDFS-backed map still wins here, the flip
      // threshold is set too low and the gate law must move. RocksDB
      // runs FIRST so its number survives an in-memory heap death
      // (which would itself be the measurement). 110M events dedup to
      // 100M keys over micro-batches.
      "x_stream_dedup_100m" -> { () =>
        val srcDir = s"$dir/stream100m"
        spark.range(110000000L)
          .select((col("id") % 100000000L).as("key"),
            expr("timestamp_micros(1700000000000000 + id * 100)").as("ts"))
          .repartition(32).write.mode("overwrite").parquet(srcDir)
        def run(rocks: Boolean): Double = {
          val s2 = spark.newSession()
          s2.conf.set("spark.sql.shuffle.partitions", "8")
          if (rocks) s2.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          val ckpt = Files.createTempDirectory("graft-x-stream100m").toString
          val in = s2.readStream.schema("key LONG, ts TIMESTAMP")
            .option("maxFilesPerTrigger", "8").parquet(srcDir)
          val t0 = System.nanoTime()
          val q = in.dropDuplicates("key")
            .writeStream.outputMode("append").format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        val r = run(rocks = true)
        metrics += ("stream_dedup_100m_rocksdb_s" -> r)
        println(f"SCALE-METRIC stream_dedup_100m rocksdb=$r%.1f s")
        val h = run(rocks = false)
        metrics += ("stream_dedup_100m_hdfs_s" -> h)
        println(f"SCALE-METRIC stream_dedup_100m hdfs=$h%.1f s rocksdb=$r%.1f s")
      },
      // Task-binary cost curve of the sharded-bloom dispatch (r11
      // verdict ask #6): force n ∈ {8, 32} real 8-MiB shards (the est
      // drives per-shard sizing, so a 1M-gram build exercises
      // full-width filters), record build wall, literal bytes, and the
      // probe wall of the CASE dispatch over a 50M-row corpus side —
      // the numbers the BloomShardMaxShards envelope doc cites. Also
      // pins the degrade: past the shard ceiling the predicate is the
      // keep-everything literal.
      "x_bloom_shard_cost" -> { () =>
        val ops = graft.ops.PipelineOps
        val evalGrams = Materialize(spark.range(1000000L)
          .select(concat(lit("eg"), col("id").cast("string")).as("gram")), eager = true)
        val corpus = spark.range(50000000L)
          .select(concat(lit("cg"), col("id").cast("string")).as("gram"))
        for (n <- Seq(1L, 8L, 32L)) {
          val t0 = System.nanoTime()
          val filtered = ops.bloomPrefiltered(corpus, evalGrams,
            estEvalGrams = n * 4000000L)
          val buildS = (System.nanoTime() - t0) / 1e9
          val litBytes = filtered.queryExecution.optimizedPlan.collect {
            case p => p.expressions.flatMap(_.collect {
              case org.apache.spark.sql.catalyst.expressions.Literal(
                b: Array[Byte], org.apache.spark.sql.types.BinaryType) =>
                b.length.toLong
            })
          }.flatten.sum
          val t1 = System.nanoTime()
          val kept = filtered.count()
          val probeS = (System.nanoTime() - t1) / 1e9
          metrics += (s"bloom_build_s_n$n" -> buildS)
          metrics += (s"bloom_literal_mb_n$n" -> litBytes / 1048576.0)
          metrics += (s"bloom_probe50m_s_n$n" -> probeS)
          println(f"SCALE-METRIC bloom_shards n=$n build=$buildS%.1f s " +
            f"literals=${litBytes / 1048576.0}%.1f MiB probe50m=$probeS%.1f s kept=$kept")
        }
        // past the shard ceiling: the exact hash degrade on DISJOINT
        // corpora must measure an (expected-)empty intersection, take
        // the broadcast probe, and keep nothing — 50M × 1M pairs at
        // 2⁻⁶⁴ collision rate is ~3e-6 expected survivors
        val t2 = System.nanoTime()
        val degraded = ops.bloomPrefiltered(corpus, evalGrams,
          estEvalGrams = (ops.BloomShardMaxShards + 1) * 4000000L)
        require(!(degraded eq corpus),
          "under the probe cap the degrade must prefilter, not keep all")
        val keptDeg = degraded.count()
        val degradeS = (System.nanoTime() - t2) / 1e9
        metrics += ("bloom_degrade_probe50m_s" -> degradeS)
        println(f"SCALE-METRIC bloom_degrade probe50m=$degradeS%.1f s kept=$keptDeg")
        require(keptDeg == 0L,
          s"disjoint corpora must keep nothing through the hash degrade, saw $keptDeg")
      },
      // The 3M-key point of the sessionize shape — the fourth corner of
      // the provider-rule grid (key-set 3M/30M and struct 30M are
      // measured; the struct shape's small-state behavior decides
      // whether the latency flip is scale-gated or unconditional).
      "x_stream_sessionize_3m" -> { () =>
        val srcDir = s"$dir/stream3m-sess"
        spark.range(3300000L)
          .select((col("id") % 3000000L).as("user_id"),
            expr("timestamp_micros(1700000000000000 + id * 1000)").as("ts"),
            lit("view").as("event_type"))
          .repartition(8).write.mode("overwrite").parquet(srcDir)
        def run(rocks: Boolean): Double = {
          val s2 = spark.newSession()
          s2.conf.set("spark.sql.shuffle.partitions", "8")
          if (rocks) s2.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          val ckpt = Files.createTempDirectory("graft-x-sess3m").toString
          import s2.implicits._
          val in = s2.readStream
            .schema("user_id LONG, ts TIMESTAMP, event_type STRING")
            .option("maxFilesPerTrigger", "2").parquet(srcDir)
            .as[graft.streaming.StreamingArchiver.Event]
          val t0 = System.nanoTime()
          val q = graft.streaming.StreamingArchiver
            .sessionize(in, 30 * 60 * 1000L).toDF()
            .writeStream.outputMode("append").format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        val r = run(rocks = true); val h = run(rocks = false)
        metrics += ("stream_sessionize_3m_hdfs_s" -> h)
        metrics += ("stream_sessionize_3m_rocksdb_s" -> r)
        println(f"SCALE-METRIC stream_sessionize_3m hdfs=$h%.1f s rocksdb=$r%.1f s")
      },
      // The second stateful shape at the 30M-key decade: REAL
      // flatMapGroupsWithState sessionization (the production
      // StreamingArchiver.sessionize kernel, not a dropDuplicates
      // stand-in) over 33M events / 30M users, provider A/B like
      // x_stream_30m. dropDuplicates state is a key set; fMGWS state is
      // a struct per key that every batch rewrites — the shape whose
      // per-batch commit cost the provider rule's memory bound governs.
      "x_stream_sessionize_30m" -> { () =>
        val srcDir = s"$dir/stream30m-sess"
        spark.range(33000000L)
          .select((col("id") % 30000000L).as("user_id"),
            expr("timestamp_micros(1700000000000000 + id * 100)").as("ts"),
            lit("view").as("event_type"))
          .repartition(16).write.mode("overwrite").parquet(srcDir)
        def run(rocks: Boolean): Double = {
          val s2 = spark.newSession()
          s2.conf.set("spark.sql.shuffle.partitions", "8")
          if (rocks) s2.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          val ckpt = Files.createTempDirectory("graft-x-sess30m").toString
          import s2.implicits._
          val in = s2.readStream
            .schema("user_id LONG, ts TIMESTAMP, event_type STRING")
            .option("maxFilesPerTrigger", "4").parquet(srcDir)
            .as[graft.streaming.StreamingArchiver.Event]
          val t0 = System.nanoTime()
          val q = graft.streaming.StreamingArchiver
            .sessionize(in, 30 * 60 * 1000L).toDF()
            .writeStream.outputMode("append").format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        val r = run(rocks = true); val h = run(rocks = false)
        metrics += ("stream_sessionize_30m_hdfs_s" -> h)
        metrics += ("stream_sessionize_30m_rocksdb_s" -> r)
        println(f"SCALE-METRIC stream_sessionize_30m hdfs=$h%.1f s rocksdb=$r%.1f s")
      },
      // The third shape: CDC generation maintenance against a 30M-key
      // snapshot (10× x_cdc_big_snapshot) — not a state-store A/B
      // (foreachBatch's merge is a batch join, no keyed state); what the
      // decade tests is the snapshot REWRITE cost staying linear and
      // generation retirement bounding the store at 30M keys.
      "x_cdc_30m_snapshot" -> { () =>
        val cdcRoot = s"$dir/cdc30m"
        spark.range(30000000L)
          .select(col("id").as("key"),
            (col("id") % 1000).cast("double").as("price"))
          .write.mode("overwrite").parquet(s"$cdcRoot/gen-init")
        graft.streaming.StreamingArchiver.publishSnapshot(spark, cdcRoot, "gen-init")
        (1L to 3L).foreach { id =>
          graft.streaming.StreamingArchiver.mergeBatch(spark, cdcRoot,
            spark.range(100000L)
              .select((col("id") * 300 + id).as("key"), lit(1).as("seq"),
                when(col("id") % 10 === 0, "D").otherwise("U").as("op"),
                (col("id") + id).cast("double").as("price")),
            id)
        }
        val p = new org.apache.hadoop.fs.Path(cdcRoot)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        val gens = fs.listStatus(p).toSeq.filter(_.isDirectory)
          .map(_.getPath.getName).filter(_.startsWith("gen-")).sorted
        require(gens == Seq("gen-2", "gen-3"),
          s"retirement must bound the 30M-key store, saw $gens")
      })

    val tasks: Seq[(String, () => Unit)] =
      names.map(n => n -> (() =>
        noop(graft.SparkEntry.queries(n)(spark, dir)))) ++
        // the RocksDB crossover probe is OPT-IN (name it in `only`): the
        // RocksDB JNI teardown can SIGSEGV at JVM exit (after results are
        // written — measurement unaffected), and a default sweep must
        // exit 0. Measured 2026-08: 3M keys, hdfs 6.4 s vs rocksdb 15.4 s.
        extras.filterNot(t =>
          Set("x_stream_dedup_3m_crossover", "x_stream_30m",
            "x_stream_sessionize_30m", "x_stream_sessionize_3m",
            "x_cdc_30m_snapshot")(t._1) &&
            only.isEmpty)
    val timings = only.fold(tasks)(ns => tasks.filter(t => ns(t._1))).map {
      case (name, body) =>
        val sec = Materialize.scoped {
          val t0 = System.nanoTime()
          body()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"SCALE $name%-28s $sec%8.2f s")
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

    val qs = timings.map { case (k, v) => "\"" + k + "\":" + graft.Jfmt.num(v, 2) }
      .mkString("{", ",", "}")
    val ms = metrics.map { case (k, v) => "\"" + k + "\":" + graft.Jfmt.num(v) }
      .mkString("{", ",", "}")
    val json =
      s"""{"doc_rows":$docRows,"vec_rows":$vecRows,"tfidf_broadcast_gate":$tfidfBroadcast,"pack_two_phase_gate":$packTwoPhase,"action":"noop-sink","queries":$qs,"metrics":$ms}"""
    Files.write(Paths.get(outPath), json.getBytes(StandardCharsets.UTF_8))
    println(s"WROTE $outPath")
    spark.stop()
  }

  /** An embeddings parquet as (vec_id, v: array<double>). */
  private def vecsAt(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))

  /** recall@3 of a knn-graph result vs brute-force truth over 500
    * hash-sampled queries (unit-normalized, native dot — 50M pairs in
    * ~13 s at the 100k tier). Truth ties break toward the SMALLER
    * vec_id; the scale graph breaks toward the larger, so exact-tie
    * edges may count as misses — noise at the 2⁻²⁷ ranking quantum. */
  private def knnRecallAt3(spark: org.apache.spark.sql.SparkSession,
      embPath: String, g: org.apache.spark.sql.DataFrame,
      queryMod: Int = 200): Double = {
    import graft.functions.VectorOps.dot_d
    val en = vecsAt(spark, embPath)
      .withColumn("nrm", sqrt(dot_d(col("v"), col("v"))))
      .select(col("vec_id"),
        expr("transform(v, x -> x / greatest(nrm, 1e-30d))").as("v"))
    val queries = en.where(pmod(col("vec_id"), lit(queryMod)) === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    val truth = Materialize(queries.crossJoin(en)
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        dot_d(col("qv"), col("v")).as("cos"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("query_id"), col("vec_id").as("neighbor_id")), eager = true)
    val hit = truth.join(g.select(col("query_id"), col("neighbor_id")),
      Seq("query_id", "neighbor_id")).count()
    val total = truth.count()
    if (total == 0) 0.0 else hit.toDouble / total
  }
}
