package graft.ops

import graft.SparkSpec
import graft.SparkEntry

/** Semantic invariants for the pipeline ops (the oracle pins exact values;
  * these pin the properties that make the ops fit for purpose). */
class PipelineSpec extends SparkSpec {

  test("split_assign partitions the corpus 90/5/5 and is deterministic") {
    val out = SparkEntry.queries("split_assign")(spark, sf).collect()
    val total = out.map(_.getAs[Long]("n")).sum
    val docs = Tables.documents(spark, sf).count()
    assert(total == docs, "splits must partition the corpus exactly")
    val bySplit = out.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n")).sum).toMap
    val trainFrac = bySplit.getOrElse("train", 0L).toDouble / total
    assert(trainFrac > 0.8 && trainFrac < 0.97, s"train fraction $trainFrac")
    assert(bySplit.contains("val") && bySplit.contains("test"))
    val again = SparkEntry.queries("split_assign")(spark, sf).collect()
    assert(out.toSeq == again.toSeq, "hash routing must be run-stable")
  }

  test("splitmix64 routing is uncorrelated with id order (unlike id mod 100)") {
    import graft.functions.SplitMix64
    // consecutive ids land in the same bucket at ~1/100, not always
    val sameAsNext = (0L until 1000L).count(i =>
      (SplitMix64.kernel(i) & Long.MaxValue) % 100 ==
      (SplitMix64.kernel(i + 1) & Long.MaxValue) % 100)
    assert(sameAsNext < 50, s"$sameAsNext/1000 consecutive-id collisions")
  }

  test("pack_sequences: bins are contiguous and near the token budget") {
    val out = SparkEntry.queries("pack_sequences")(spark, sf).collect()
    val bySource = out.groupBy(_.getAs[String]("source"))
    bySource.foreach { case (src, rows) =>
      val bins = rows.map(_.getAs[Long]("bin")).sorted
      assert(bins.head == 0L, s"$src: first bin must be 0")
      assert(bins.toSeq == (0L until bins.length).toSeq, s"$src: bins must be contiguous")
      // every bin except the last was closed because it crossed the budget
      val toks = rows.sortBy(_.getAs[Long]("bin")).map(_.getAs[Long]("bin_tokens"))
      toks.dropRight(1).foreach(t => assert(t >= 4096, s"$src: underfull closed bin $t"))
    }
  }

  test("sample_weighted_topn: selection frequency tracks the weights") {
    // min-of-w-uniforms race: P(a doc beats the field) ∝ w, so the top-100
    // must over-represent high-weight sources relative to their corpus
    // share. Deterministic on the fixture (seeded hash), so the margins
    // are exact replays, not flaky statistics.
    val out = SparkEntry.queries("sample_weighted_topn")(spark, sf).collect()
    assert(out.length == 100)
    // ranks are 1..100 in order, keys non-decreasing
    assert(out.map(_.getAs[Int]("rank")).toSeq == (1 to 100))
    val keys = out.map(_.getAs[Long]("k"))
    assert(keys.zip(keys.tail).forall { case (a, b) => a <= b },
      "selection must be the bottom-n of the race keys")
    val corpus = graft.ops.Tables.t(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("source")).collect()
      .map(_.getString(0))
    def wOf(src: String) = Seq(1, 2, 4, 8)(src.length % 4)
    val corpusMeanW = corpus.map(wOf(_).toDouble).sum / corpus.length
    val sampleMeanW = out.map(_.getAs[Int]("w").toDouble).sum / out.length
    assert(sampleMeanW > corpusMeanW,
      s"weighted sample must skew heavy: sample=$sampleMeanW corpus=$corpusMeanW")
  }

  test("pii redaction finds and strips the synthesized identifiers") {
    val out = SparkEntry.queries("text_pii_redact")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Int]("n_email") >= 1, "synthesized email must be found")
      assert(r.getAs[Int]("n_ip") >= 1, "synthesized IP must be found")
    }
    // direct check of the redacted text on a crafted row
    import spark.implicits._
    val red = Seq("write bob@corp.io from 192.168.0.1 now").toDF("t")
      .selectExpr(
        "regexp_replace(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\\\.[A-Za-z]{2,}', '<EMAIL>'), '\\\\b\\\\d{1,3}\\\\.\\\\d{1,3}\\\\.\\\\d{1,3}\\\\.\\\\d{1,3}\\\\b', '<IP>') AS r")
      .head().getString(0)
    assert(red == "write <EMAIL> from <IP> now", red)
  }

  test("word_rep_stats kernel matches a brute-force recount") {
    import graft.functions.TextStats
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val rng = new scala.util.Random(42)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "the", "of")
    (0 until 200).foreach { _ =>
      val n = rng.nextInt(12) // includes 0 and 1-word docs
      val toks = Vector.fill(n)(vocab(rng.nextInt(vocab.length)))
      val arr = new GenericArrayData(
        toks.map(t => UTF8String.fromString(t): Any).toArray)
      val row = TextStats.wordRepStatsKernel(arr)
      val counts = toks.groupBy(identity).view.mapValues(_.size).toMap
      val bigrams =
        if (n == 0) Set.empty[String]
        else if (n == 1) Set(toks.head)
        else toks.sliding(2).map(_.mkString(" ")).toSet
      assert(row.getLong(0) == (if (n == 0) 0 else counts.values.max), s"topc for $toks")
      assert(row.getLong(1) == n.toLong, "total")
      assert(row.getLong(2) == counts.size.toLong, "n_distinct")
      assert(row.getLong(3) == bigrams.size.toLong, s"n_bg for $toks")
      // the kernel promises n_bg ≡ size(word_ngrams(w, 2)); the degenerate
      // conventions live in two kernels, so pin their equivalence here
      assert(row.getLong(3) ==
        graft.functions.VectorOps.wordNGramsKernel(arr, 2).numElements().toLong,
        s"word_rep_stats and word_ngrams bigram conventions diverged for $toks")
    }
  }

  test("global_shuffle is a deterministic permutation uncorrelated with id order") {
    val out = SparkEntry.queries("global_shuffle")(spark, sf).collect()
    assert(out.map(_.getAs[Long]("pos")).toSeq == (1L to out.length).toSeq,
      "positions must be a contiguous 1-based prefix")
    assert(out.map(_.getAs[Long]("doc_id")).distinct.length == out.length,
      "each document appears once")
    val ids = out.map(_.getAs[Long]("doc_id")).toSeq
    assert(ids != ids.sorted, "shuffled order must not be id order")
    val again = SparkEntry.queries("global_shuffle")(spark, sf).collect()
    assert(out.toSeq == again.toSeq, "shuffle must be run-stable")
  }

  test("decontamination never flags eval docs and bounds contamination by the train set") {
    val out = SparkEntry.queries("decontam_ngram_overlap")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val train = r.getAs[Long]("n_train")
      val contam = r.getAs[Long]("n_contaminated")
      assert(contam >= 0 && contam <= train,
        s"contaminated $contam must be within the train set $train")
    }
    val docs = Tables.documents(spark, sf)
    import org.apache.spark.sql.functions.col
    val trainTotal = docs.where(col("doc_id") % 10 =!= 7).count()
    assert(out.map(_.getAs[Long]("n_train")).sum == trainTotal,
      "per-source train counts must partition the train set")
  }

  test("sharded bloom prefilter: no false negatives, shards under a forced cap") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // 200 eval grams; cap 32 forces ceil(200/32) = 7 hash-routed shards —
    // the production path past Spark's 4M-item BloomFilterAggregate cap
    val evalGrams = (0 until 200).map(i => s"eval gram number $i").toDF("gram")
    val probe = ((0 until 200).map(i => s"eval gram number $i") ++
      (0 until 2000).map(i => s"clean corpus gram $i")).toDF("gram")
    val filtered = PipelineOps.bloomPrefiltered(probe, evalGrams,
      estEvalGrams = 200L, shardCap = 32L)
    assert(filtered.columns.toSeq == Seq("gram"),
      "the dispatch's temp hash column must not leak into the output")
    val kept = filtered.as[String].collect().toSet
    // every eval gram must survive its own shard's filter
    (0 until 200).foreach(i => assert(kept(s"eval gram number $i"),
      s"false negative on eval gram $i"))
    // false positives allowed but must be rare at 16 bits/item
    val fp = kept.count(_.startsWith("clean"))
    assert(fp < 100, s"implausible false-positive count $fp of 2000")
    // single-shard path (cap above est) accepts the same eval set
    assert(PipelineOps.bloomPrefiltered(probe, evalGrams, 200L,
      shardCap = 4096L).count() >= 200L)
    // past the shard ceiling the prefilter degrades to the exact
    // hash-intersection path: the matched set here (200 grams) is under
    // the probe cap, so the broadcast probe keeps exactly the eval
    // grams (hash equality ⊇ string equality; no 64-bit collisions in
    // a 2200-string universe) and no identity short-circuit fires
    // the degrade counts its matched hashes in the job that materializes
    // them: exactly the jobs of counting the same intersection directly
    def jobsOf(body: => Any): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet(): Unit
      }
      org.apache.spark.BusDrain.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      try { body; org.apache.spark.BusDrain.drain(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(l)
      n.get
    }
    val hashes = (df: org.apache.spark.sql.DataFrame) =>
      df.select(org.apache.spark.sql.functions.xxhash64(col("gram")).as("h")).distinct()
    val direct = jobsOf(hashes(probe).join(hashes(evalGrams), Seq("h"), "left_semi").count())
    var degraded: org.apache.spark.sql.DataFrame = null
    val degradeJobs = jobsOf {
      degraded = PipelineOps.bloomPrefiltered(probe, evalGrams, 200L,
        shardCap = 32L, maxShards = 4L)
    }
    assert(degradeJobs == direct,
      s"the degrade ran $degradeJobs jobs; counting its intersection takes $direct")
    assert(!(degraded eq probe), "under the probe cap the degrade must prefilter")
    assert(degraded.columns.toSeq == Seq("gram"),
      "the degrade's temp hash column must not leak into the output")
    val keptDeg = degraded.as[String].collect().toSet
    assert(keptDeg == (0 until 200).map(i => s"eval gram number $i").toSet,
      "hash degrade must keep exactly the matching grams")
    // past the probe cap as well, the degrade is the identity — the
    // shuffled string confirm downstream is then the (cluster-scale)
    // fallback
    val identity = PipelineOps.bloomPrefiltered(probe, evalGrams, 200L,
      shardCap = 32L, maxShards = 4L, maxProbeHashes = 10L)
    assert(identity eq probe,
      "past the probe cap the degrade must return the corpus unchanged")
  }

  test("vocab_coverage: OOV bounded by token counts; vocabulary covers the head") {
    val out = SparkEntry.queries("vocab_coverage")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getAs[Long]("n_tokens"); val oov = r.getAs[Long]("n_oov")
      assert(oov >= 0 && oov <= n)
      assert(math.abs(r.getAs[Double]("oov_rate") - oov.toDouble / n) < 1e-12)
    }
    // the 16-word vocab over a 31-word corpus leaves real OOV mass, but
    // the head words dominate: overall OOV rate must be a minority share
    val totTok = out.map(_.getAs[Long]("n_tokens")).sum
    val totOov = out.map(_.getAs[Long]("n_oov")).sum
    assert(totOov > 0, "fixture vocabulary cut should leave some OOV tokens")
    assert(totOov.toDouble / totTok < 0.5, "top-16 words must cover most tokens")
  }

  test("repetition fractions are well-formed quality signals") {
    val out = SparkEntry.queries("text_repetition")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getAs[Long]("n_words")
      val top = r.getAs[Double]("top_word_frac")
      val dis = r.getAs[Double]("distinct_frac")
      val dup = r.getAs[Double]("dup_bigram_frac")
      assert(n > 0)
      assert(top >= 1.0 / n && top <= 1.0, s"top_word_frac $top")
      assert(dis > 0.0 && dis <= 1.0, s"distinct_frac $dis")
      assert(dup >= 0.0 && dup <= 1.0, s"dup_bigram_frac $dup")
    }
  }
}
