package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.sink.StagedLoader

class StreamingSpec extends SparkSpec {

  private lazy val eventsDir: String = {
    // materialize the µs-converted events as a streamable parquet dir
    val dir = Files.createTempDirectory("graft-stream-src").toString
    graft.ops.Tables.events(spark, sf).write.mode("overwrite").parquet(dir)
    dir
  }
  private lazy val schema: StructType = spark.read.parquet(eventsDir).schema

  test("micros/fromMicros round-trip, including pre-1970 instants") {
    import graft.streaming.StreamingArchiver.{fromMicros, micros}
    // negative-epoch µs: `/` truncates toward zero and `%` goes negative in
    // Java, which made setNanos throw before the floorDiv/floorMod fix
    val cases = Seq(0L, 1L, 999999L, 1704153600123456L,
      -1L, -999999L, -1000000L, -1000001L, -31536000000000L + 654321L)
    cases.foreach { us =>
      assert(micros(fromMicros(us)) == us, s"round-trip broke at $us")
    }
  }

  test("streaming windowed counts equal the batch tumbling-window counts") {
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    val q = StreamingArchiver.windowedCounts(stream, "ts", "24 hours")
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_counts").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("win_counts")
        .select("win_start", "n").collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      val batch = spark.read.parquet(eventsDir)
        .groupBy(org.apache.spark.sql.functions.window(
          org.apache.spark.sql.functions.col("ts"), "24 hours"))
        .count().select("window.start", "count").collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      assert(streamed == batch)
      assert(streamed.values.sum == spark.read.parquet(eventsDir).count())
    } finally q.stop()
  }

  test("stateful sessionization closes sessions on the inactivity gap") {
    import spark.implicits._
    val events = spark.readStream.schema(schema).parquet(eventsDir)
      .select("user_id", "ts", "event_type")
      .as[StreamingArchiver.Event]
    val gapMs = 30 * 60 * 1000L // 30 min inactivity closes a session
    val q = StreamingArchiver.sessionize(events, gapMs)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    try {
      q.processAllAvailable()
      val sessions = spark.table("sessions")
        .as[StreamingArchiver.UserSession].collect()
      assert(sessions.nonEmpty)
      // sessions are internally consistent and respect the gap
      sessions.foreach { s =>
        assert(!s.session_end.before(s.session_start))
        assert(s.n_events >= 1)
      }
      // batch cross-check for one user: gaps between consecutive events
      // imply the session count (closed sessions = gaps; the final open
      // session stays in state and is not emitted)
      val u = sessions.groupBy(_.user_id).maxBy(_._2.length)._1
      val times = spark.read.parquet(eventsDir)
        .where(s"user_id = $u").select("ts")
        .collect().map(_.getTimestamp(0).getTime).sorted
      val expectedClosed = times.sliding(2)
        .count { case Array(a, b) => b - a > gapMs; case _ => false }
      assert(sessions.count(_.user_id == u) == expectedClosed,
        s"user $u: ${sessions.count(_.user_id == u)} emitted vs $expectedClosed gaps")
    } finally q.stop()
  }

  test("foreachBatch staged-load archive drains the stream into the target") {
    val tgt = Files.createTempDirectory("graft-stream-tgt").toString + "/t"
    val loader = new StagedLoader(spark, tgt, schema)
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    val q = StreamingArchiver.archiveStream(stream, loader,
      tgt + ".stg", tgt + ".ckpt")
    // processAllAvailable blocks until the bounded source is drained —
    // unlike a timed awaitTermination, it cannot silently proceed half-fed
    try q.processAllAvailable() finally q.stop()
    val loaded = spark.read.schema(schema).parquet(tgt).count()
    assert(loaded == spark.read.parquet(eventsDir).count())
  }

  test("streaming landing hands off to batch incremental sync without duplication") {
    // lifecycle integration: a stream lands the history into the target,
    // then the BATCH incremental path takes over — its watermark must
    // resume exactly after the streamed rows, load only the delta, and a
    // re-run must be a no-op. This is the "backfill via streaming, keep
    // fresh via scheduled deltas" deployment.
    import graft.config.ArchiverConfig
    val all = spark.read.parquet(eventsDir)
    // 60% of the fixture's event_id domain streams in; 40% is the delta
    val cut = all.agg(org.apache.spark.sql.functions.max("event_id"))
      .head().getLong(0) * 6 / 10
    val srcDir = Files.createTempDirectory("graft-handoff-src").toString
    all.write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    val landingDir = Files.createTempDirectory("graft-handoff-land").toString
    all.where(s"event_id < $cut").write.mode("overwrite").parquet(landingDir)

    val tgt = Files.createTempDirectory("graft-handoff-tgt").toString + "/t"
    // key-ordered commits in the streaming phase too: the batch watermark
    // is only sound over a target whose commits are key-prefixes
    val streamLoader = new StagedLoader(spark, tgt, schema,
      orderedCommitKey = Some("event_id"))
    val st = spark.readStream.schema(schema).parquet(landingDir)
    val q = StreamingArchiver.archiveStream(st, streamLoader,
      tgt + ".stg", tgt + ".ckpt")
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.schema(schema).parquet(tgt).count()
    assert(streamed == all.where(s"event_id < $cut").count())

    val cfg = ArchiverConfig(
      sourceDB = new java.io.File(srcDir).getName, sourceTable = "events",
      sourceWhereCondition = "event_id >= 0",
      sourceSplitKey = "event_id", batchSize = 100000)
    val archiver = graft.Archiver.wire(spark, cfg,
      new graft.source.ParquetTableSource(spark, srcDir), tgt,
      tgt + ".delta-stg", pacingSleep = _ => ())
    val rep = archiver.runIncremental()
    assert(rep.reconciliation.correct, rep.reconciliation)
    assert(spark.read.schema(schema).parquet(tgt).count() == all.count(),
      "delta run must append exactly the rows the stream had not landed")
    assert(rep.tables.map(_.rowsLoaded).sum == all.count() - streamed)

    val rep2 = archiver.runIncremental()
    assert(rep2.tables.map(_.rowsLoaded).sum == 0L,
      "a second delta run with no new source rows must load nothing")
    assert(spark.read.schema(schema).parquet(tgt).count() == all.count())
  }

  test("late stragglers beyond the watermark are dropped, on-time late rows kept") {
    // Three-batch feed with controlled file order (mtimes +
    // maxFilesPerTrigger=1). Spark ≥3.4 splits the watermark per batch:
    // late-event FILTERING uses the PREVIOUS batch's watermark while
    // EVICTION uses the current one — so a straggler arriving in the batch
    // right after its on-time peers is still admitted (filter watermark
    // hasn't advanced yet) and only the batch AFTER that drops. Hence:
    // batch 0 = on-time hours 0..10 (advances the eviction watermark to
    // 10:30 − 2h = 8:30, emitting the closed hours 0..7); batch 1 = one
    // on-time row (moves the FILTER watermark to 8:30); batch 2 = two
    // stragglers (hours 1, 2 — windows long closed → DROPPED) plus one
    // late but in-horizon row (9:45 → window still open → kept in state).
    // Append mode must emit exactly the on-time closed windows, one row
    // each — the stragglers must not resurrect them.
    import org.apache.spark.sql.functions.{col, window}
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("graft-late").toString
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
    val sch = new StructType()
      .add("ts", org.apache.spark.sql.types.TimestampType)
      .add("v", org.apache.spark.sql.types.IntegerType)
    def write(rows: Seq[(Timestamp, Int)], ageMs: Long): Unit = {
      val before = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .toArray.toSet
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          rows.map { case (t, v) => org.apache.spark.sql.Row(t, v) }, 1),
        sch).coalesce(1).write.mode("append").parquet(dir)
      val mt = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - ageMs)
      java.nio.file.Files.list(java.nio.file.Paths.get(dir)).forEach { p =>
        if (!before.contains(p))
          java.nio.file.Files.setLastModifiedTime(p, mt): Unit
      }
    }
    write((0 to 10).map(h => ts(h, 30) -> h), 600000)
    write(Seq(ts(10, 45) -> 99), 300000)
    write(Seq(ts(1, 45) -> 100, ts(2, 45) -> 101, ts(9, 45) -> 102), 0)
    val counts = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour")).count()
    val q = counts.writeStream.outputMode("append")
      .format("memory").queryName("late_audit").start()
    try {
      q.processAllAvailable()
      val out = spark.table("late_audit")
        .select(col("window.start").as("s"), col("count")).collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      val expected = (0 to 7).map(h => ts(h, 0) -> 1L).toMap
      assert(out == expected,
        s"append mode must emit exactly the closed on-time windows: $out")
      val dropped = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(dropped == 2L,
        s"exactly the two stragglers must be dropped by the watermark, got $dropped")
    } finally q.stop()
  }

  test("streaming dedup within watermark drops replayed keys") {
    // duplicate the whole source once (a replayed feed): every user_id+ts
    // key appears twice; within-watermark dedup must emit each exactly once
    val dupDir = Files.createTempDirectory("graft-stream-dup").toString
    val src = spark.read.parquet(eventsDir)
    src.union(src).write.mode("overwrite").parquet(dupDir)
    val stream = spark.readStream.schema(schema).parquet(dupDir)
    val q = StreamingArchiver.dedupStream(stream, "ts",
        Seq("user_id", "ts"), "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("deduped").start()
    try {
      q.processAllAvailable()
      val n = spark.table("deduped").count()
      val distinct = src.select("user_id", "ts").distinct().count()
      assert(n == distinct, s"emitted $n vs $distinct distinct keys")
    } finally q.stop()
  }

  test("cdc mergeBatch: replayed batch is a no-op (exactly-once without markers)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft-cdc-replay").toString
    // seed: keys 1..10, price = key * 10
    spark.range(1, 11)
      .select(col("id").as("key"), (col("id") * 10).cast("double").as("price"))
      .write.mode("overwrite").parquet(s"$root/gen-init")
    StreamingArchiver.publishSnapshot(spark, root, "gen-init")
    // batch 0: update 3 (price 99), delete 7, insert 42; key 5 gets two
    // ops — seq 2 (price 55) must win over seq 1 (delete)
    val batch = Seq(
      (3L, 1, "U", 99.0), (7L, 1, "D", 0.0), (42L, 1, "I", 5.0),
      (5L, 1, "D", 0.0), (5L, 2, "U", 55.0))
      .toDF("key", "seq", "op", "price")
    StreamingArchiver.mergeBatch(spark, root, batch, 0L)
    def state() = StreamingArchiver.currentSnapshot(spark, root).get
      .orderBy("key").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val once = state()
    assert(once.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L, 6L, 8L, 9L, 10L, 42L))
    assert(once.toMap.apply(3L) == 99.0, "update must land")
    assert(once.toMap.apply(5L) == 55.0, "seq 2 must beat the seq-1 delete")
    // replay the SAME batch id against the already-merged store: upserts
    // set state, the delete hits an absent key — state must not move
    StreamingArchiver.mergeBatch(spark, root, batch, 0L)
    assert(state() == once, "replayed batch must leave the snapshot unchanged")
  }

  test("cdc mergeBatch: duplicate (key, seq) rows reduce deterministically") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft-cdc-dupseq").toString
    spark.range(1, 4)
      .select(col("id").as("key"), (col("id") * 10).cast("double").as("price"))
      .write.mode("overwrite").parquet(s"$root/gen-init")
    StreamingArchiver.publishSnapshot(spark, root, "gen-init")
    // a malformed upstream emits THREE rows for (key 2, seq 5): the full
    // (seq desc, op, price) tiebreak must pick the same winner on every
    // run/replay — 'D' < 'U' lexicographically, so the delete wins
    val batch = Seq(
      (2L, 5, "U", 77.0), (2L, 5, "D", 0.0), (2L, 5, "U", 88.0))
      .toDF("key", "seq", "op", "price")
    def state() = StreamingArchiver.currentSnapshot(spark, root).get
      .orderBy("key").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val runs = (0 to 2).map { _ =>
      StreamingArchiver.mergeBatch(spark, root, batch, 0L); state()
    }
    assert(runs.distinct.size == 1,
      s"duplicate (key, seq) must resolve identically across replays: $runs")
    assert(runs.head.map(_._1) == Seq(1L, 3L),
      "the deterministic winner for (2, seq 5) is the delete")
  }

  test("cdc retireGenerations: a 20-batch run keeps the store bounded and correct") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft-cdc-retire").toString
    spark.range(1, 101)
      .select(col("id").as("key"), (col("id") * 10).cast("double").as("price"))
      .write.mode("overwrite").parquet(s"$root/gen-init")
    StreamingArchiver.publishSnapshot(spark, root, "gen-init")
    def gens(): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(p).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("gen-")).sorted
    }
    (0L until 20L).foreach { id =>
      // each batch upserts key (id+1) to price -id and inserts 1000+id
      val batch = Seq(
        (id + 1, 1, "U", -id.toDouble), (1000L + id, 1, "I", id.toDouble))
        .toDF("key", "seq", "op", "price")
      StreamingArchiver.mergeBatch(spark, root, batch, id)
      assert(gens().size <= 2,
        s"store must stay bounded at current + keepBehind, saw ${gens()}")
    }
    // after 20 batches: exactly gen-18 (grace) + gen-19 (current) remain,
    // the pointer reads the latest, and every batch's effect survived the
    // retirements
    assert(gens() == Seq("gen-18", "gen-19"), gens().toString)
    val st = StreamingArchiver.currentSnapshot(spark, root).get
      .orderBy("key").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(st.size == 120, s"100 seed + 20 inserts, saw ${st.size}")
    (0L until 20L).foreach { id =>
      assert(st.toMap.apply(id + 1) == -id.toDouble)
      assert(st.toMap.apply(1000L + id) == id.toDouble)
    }
    // a replay of the LAST committed id against the retired store must
    // still be a no-op (base = its own output; older gens not needed)
    StreamingArchiver.mergeBatch(spark, root,
      Seq((20L, 1, "U", -19.0), (1019L, 1, "I", 19.0))
        .toDF("key", "seq", "op", "price"), 19L)
    val st2 = StreamingArchiver.currentSnapshot(spark, root).get
      .orderBy("key").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(st2 == st, "replay after retirement must not move state")
  }

  test("linkOrCopy copies the bytes where the filesystem refuses a hard link") {
    import java.nio.file.FileSystemException
    val dir = Files.createTempDirectory("graft-link")
    val src = dir.resolve("seed.parquet")
    val bytes = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    Files.write(src, bytes)
    val dst = dir.resolve("gen-init.parquet")
    graft.ops.StreamingOps.linkOrCopy(dst, src,
      (_, _) => throw new FileSystemException("no hard links here"))
    assert(!Files.isSameFile(dst, src))
    assert(Files.readAllBytes(dst).sameElements(bytes))
  }
}
