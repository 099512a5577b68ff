package graft.ops

import java.nio.file.{FileSystemException, Files, Path}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StreamingArchiver

/** Structured Streaming, oracle-verified: each query here drives a REAL
  * streaming query (file source → streaming transform → memory sink,
  * `processAllAvailable` over the bounded fixture) and returns its final
  * result — which DuckDB then recomputes relationally. That pins the
  * streaming engine's semantics (epoch-aligned tumbling windows,
  * watermarked dedup state, flatMapGroupsWithState sessionization) to
  * exact batch definitions, not just to specs.
  *
  * Scale: these run identically against a live source — the fixture is a
  * bounded replay. Windowed counts and dedup state are bounded by the
  * watermark horizon; session state is one record per active key.
  */
object StreamingOps {

  private val runId = new AtomicLong(0)

  /** Hard-link `existing` as `link` (metadata-only), or copy its bytes
    * where the filesystem refuses the link: a staging dir on another
    * mount, or a mount without hard links. `createLink` is a parameter so
    * a spec can force the fallback. */
  private[graft] def linkOrCopy(link: Path, existing: Path,
      createLink: (Path, Path) => Path = Files.createLink(_, _)): Unit =
    try createLink(link, existing): Unit
    catch {
      case _: UnsupportedOperationException | _: FileSystemException =>
        Files.copy(existing, link): Unit
    }

  /** Base dir for throwaway memory-sink checkpoints: tmpfs when the host
    * provides one (no fsync tax on the per-micro-batch WAL/commit/state
    * writes), else the regular temp dir. Registered for exit-time removal;
    * each query additionally deletes its own subdir promptly. */
  private lazy val fastCheckpointBase: String = {
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite)
        java.nio.file.Files.createTempDirectory(shm.toPath, "graft-ckpt")
      else java.nio.file.Files.createTempDirectory("graft-ckpt")
    TempDirs.register(base.toString)
  }

  /** Bounded streaming read of the events fixture on `reader`. The file
    * source wants a DIRECTORY, so the µs-converted events are materialized
    * once per (base session `s`, fixture) into a temp dir — the stand-in
    * for the landing directory a live deployment tails. `reader` is
    * usually a per-query clone of `s` (see [[runToMemory]]); the memo is
    * keyed on `s` so every clone reads the one staging. */
  private def eventStream(s: SparkSession, d: String,
      reader: SparkSession): DataFrame = {
    val dir = Memo.staged(s, s"stream-events:$d", "graft-stream-events") {
      tmp => Tables.events(s, d).write.mode("overwrite").parquet(tmp)
    }
    reader.readStream.schema(stagedSchema(s, dir)).parquet(dir)
  }

  /** The stream-stream joins' input on `reader`: each purchase joined
    * (`joinType`) to the same user's clicks in the preceding hour, both
    * streams watermarked 4 h so the join state is GC-able; the
    * (user_id, p_id, c_id) rows. */
  private def purchaseClicks(s: SparkSession, d: String,
      reader: SparkSession, joinType: String): DataFrame = {
    val p = eventStream(s, d, reader).where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .withWatermark("p_ts", "4 hours")
    val c = eventStream(s, d, reader).where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
              col("event_id").as("c_id"))
      .withWatermark("c_ts", "4 hours")
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"),
      joinType)
      .select(col("user_id"), col("p_id"), col("c_id"))
  }

  /** Schema of a staged parquet dir, memoized: the batch-read probe
    * re-lists files and re-reads footers (~50-100 ms), and the join
    * queries open two streams over the same staging. */
  private def stagedSchema(s: SparkSession, dir: String) =
    Memo(s, "streaming.schema", dir)(s.read.parquet(dir).schema)

  /** Run a streaming frame to completion into a uniquely-named memory
    * sink and return the materialized result. The sink table is dropped
    * before returning — repeated bench/verify invocations must not pin
    * result batches in driver memory — so the (small, final) result is
    * detached into a local DataFrame first. */
  /** @param noDataBatch keep Spark's closing no-data micro-batch. Required
    *   ONLY when the RESULT depends on final-watermark eviction (the
    *   left-outer join's null-extended rows); everywhere else the extra
    *   batch is a pure state-store commit with zero output rows —
    *   complete-mode aggregates re-emit nothing new, inner-join and
    *   NoTimeout-session emissions happen on data batches — so the
    *   bounded-replay bench skips it (~1 store commit per partition per
    *   query saved; a live deployment leaves it on for state cleanup). */
  private def runToMemory(s: SparkSession, mode: String,
      noDataBatch: Boolean = true)(build: SparkSession => DataFrame): DataFrame = {
    val table = s"graft_stream_${runId.incrementAndGet()}"
    // Stateful streaming creates one state-store instance PER shuffle
    // partition PER micro-batch commit (stream-stream joins create FOUR
    // stores per partition); at this state size the session's 32
    // partitions are pure store-commit overhead, not parallelism —
    // measured at sf0.1: 8→2 partitions cuts the join queries ~0.6 s each
    // and sessionize ~0.4 s, with no query slower. A live deployment
    // sizes this to its state volume instead. The partition count is
    // pinned at query start (baked into the checkpoint thereafter).
    //
    // The override lives on a SESSION CLONE (`newSession()`: own SQLConf,
    // shared SparkContext), never on the caller's shared conf — the stream
    // is BUILT against the clone so `start()` captures the clone's conf,
    // and the caller's session is untouched regardless of how many
    // harness threads share it. The memory-sink temp view registers in
    // the clone's catalog and dies with it; the (small, final) result is
    // detached into a local DataFrame on the caller's session first.
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "2")
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
      noDataBatch.toString)
    // State store: Spark's default HDFS-backed provider. RocksDB won only
    // where the state outgrew executor heap (SCALE.md, streaming state).
    //
    // The memory-sink checkpoint is THROWAWAY by construction (the result
    // is collected and the query never restarts), yet Spark's default
    // temp checkpoint lands on java.io.tmpdir — a disk-backed ext4 here —
    // so every micro-batch pays fsync'd offset-WAL + commit-log + state
    // delta writes for durability nothing reads. Pointing the throwaway
    // checkpoint at tmpfs removes that disk tax from the fixed per-batch
    // floor (~0.1-0.2 s/query measured) without weakening any real
    // guarantee: the ARCHIVE path (stream_archive_counts) keeps its
    // explicit durable checkpoint, which is the recovery contract a live
    // deployment relies on.
    val ckpt = s"$fastCheckpointBase/$table"
    val q = build(s2).writeStream.outputMode(mode).format("memory")
      .option("checkpointLocation", ckpt)
      .queryName(table).start()
    try q.processAllAvailable() finally {
      q.stop()
      // prompt removal — tmpfs is RAM, and bench passes run hundreds of
      // these; the TempDirs exit hook only backstops the base dir
      try {
        def rm(f: java.io.File): Unit = {
          val c = f.listFiles(); if (c != null) c.foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(ckpt))
      } catch { case scala.util.control.NonFatal(_) => }
    }
    val sink = s2.table(table)
    val rows = sink.collect().toSeq
    val schema = sink.schema
    s2.catalog.dropTempView(table)
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  val all: Seq[Q] = Seq(

    // Tumbling 2h windows via the streaming engine; epoch-aligned starts
    // (Spark's window() origin) recomputed arithmetically in the oracle.
    Q("stream_window_counts",
      """SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 7200000000 * 7200000000 AS BIGINT) AS win_start_us,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 7200000000 * 7200000000 + 7200000000 AS BIGINT) AS win_end_us,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, d) =>
      runToMemory(s, "complete", noDataBatch = false) { s2 =>
        StreamingArchiver.windowedCounts(eventStream(s, d, s2), "ts", "2 hours")
      }
        .select(unix_micros(col("win_start")).as("win_start_us"),
                unix_micros(col("win_end")).as("win_end_us"), col("n"))
        .orderBy(col("win_start_us"))
    },

    // A replayed feed (the stream unioned with itself) deduped on the
    // unique key within the watermark horizon, then counted — the
    // streaming exact-dedup contract: state holds keys inside the
    // watermark, and the horizon is sized to the replay window (here:
    // wider than the fixture, so dedup is total).
    Q("stream_dedup_counts",
      """SELECT event_type, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      runToMemory(s, "complete", noDataBatch = false) { s2 =>
        val replayed = eventStream(s, d, s2).union(eventStream(s, d, s2))
        val deduped = StreamingArchiver.dedupStream(
          replayed, "ts", Seq("event_id"), "960 hours")
        deduped.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      }.orderBy(col("event_type"))
    },

    // Stream-static enrichment: the streaming side joins a STATIC dimension
    // (customer) that Spark re-broadcasts per micro-batch — the standard
    // "enrich events with reference data" topology. The oracle recomputes
    // the enriched aggregate relationally; value sums go through the
    // decimal determinism rule like every batch aggregate.
    Q("stream_enrich_counts",
      """SELECT c.c_mktsegment AS segment, count(*) AS n,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      runToMemory(s, "complete", noDataBatch = false) { s2 =>
        // the static dim reads through the CALLER's session, not the
        // per-query clone: Tables.t memoizes per (session, path), and
        // keying it on throwaway clones would retain one dead session +
        // plan per bench iteration (the DataFrame itself is usable from
        // the clone — the SparkContext is shared, and analysis happens
        // against the stream's session at start())
        val dim = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))
        eventStream(s, d, s2)
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n"),
               sum(col("value").cast("decimal(18,2)")).cast("double")
                 .as("value_sum"))
      }.orderBy(col("segment"))
    },

    // The PRODUCT path under the gate: stream → foreachBatch → staged
    // NDJSON load → idempotent per-batch commit into the parquet target —
    // then the TARGET is read back and aggregated, so what the oracle
    // checks is the archive's end state after the full staging/commit
    // protocol (µs timestamp fidelity through NDJSON, tombstoned batch
    // commits, checkpoint batch markers), not just a streaming transform.
    Q("stream_archive_counts",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val schema = Tables.events(s, d).schema
      val root = TempDirs.register(java.nio.file.Files
        .createTempDirectory("graft-stream-archive").toString)
      val tgt = s"$root/target"
      // uncompressed staging: this query times the COMMIT PROTOCOL, and
      // gzip of a 200k-row NDJSON hop is pure codec CPU on a local disk
      // that the protocol doesn't need (the compressed flavor is covered
      // by the batch staging tests)
      val loader = new graft.sink.StagedLoader(s, tgt, schema,
        compression = "none")
      val q = StreamingArchiver.archiveStream(eventStream(s, d, s), loader,
        s"$root/staging", s"$root/checkpoint")
      try q.processAllAvailable() finally q.stop()
      s.read.schema(schema).parquet(tgt)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(col("value").cast("decimal(18,2)")).cast("double")
               .as("value_sum"))
        .orderBy(col("event_type"))
    },

    // Spark's BUILT-IN session_window (the declarative sibling of the
    // stateful sessionizer below): batch-mode gap sessions over the same
    // events, so ALL sessions — including each user's final one — are
    // emitted and the oracle is the full gaps-and-islands rebuild.
    // session_window.end is last-event + gap by definition; the oracle
    // adds the gap to max(t). Boundary semantics differ from the custom
    // sessionizer and the oracle mirrors each exactly: session windows
    // are half-open [t, t+gap), so an event at EXACTLY last+gap starts a
    // new session (oracle break: diff >= gap), while the stateful op
    // keeps it (break: diff > gap).
    Q("session_window_agg",
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
        |m AS (SELECT user_id, t,
        |  CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) >= 1800000000
        |       THEN 1 ELSE 0 END AS brk FROM e),
        |s AS (SELECT user_id, t,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)
        |SELECT user_id,
        |  CAST(min(t) AS BIGINT) AS session_start_us,
        |  CAST(max(t) + 1800000000 AS BIGINT) AS session_end_us,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          unix_micros(col("session_window.end")).as("session_end_us"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start_us"))
    },

    // Stream-STREAM inner join — the last big Structured Streaming surface:
    // each purchase joined to the same user's clicks in the preceding hour,
    // both sides watermarked so the join state is GC-able (the range
    // condition bounds each side's buffering horizon; without it the state
    // grows forever). Inner-join results emit as soon as both sides arrive,
    // so the bounded replay yields exactly the relational join the oracle
    // recomputes. At scale this is one shuffle of each stream on user_id —
    // the same co-partitioned shape as the batch range join.
    Q("stream_stream_join",
      """SELECT user_id, count(*) AS n_pairs,
        |  CAST(sum(p_id) AS BIGINT) AS purchase_id_sum,
        |  CAST(sum(c_id) AS BIGINT) AS click_id_sum
        |FROM (SELECT p.user_id, p.event_id AS p_id, c.event_id AS c_id
        |      FROM events p JOIN events c ON p.user_id = c.user_id
        |       AND p.event_type = 'purchase' AND c.event_type = 'click'
        |       AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
        |       AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)) t
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      runToMemory(s, "append", noDataBatch = false)(
        purchaseClicks(s, d, _, "inner"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
             sum(col("p_id")).as("purchase_id_sum"),
             sum(col("c_id")).as("click_id_sum"))
        .orderBy(col("user_id"))
    },

    // Stream-stream LEFT OUTER join — the watermark-eviction contract on
    // top of the inner join above: a purchase with no preceding-hour click
    // emits a null-extended row only when the global watermark (max event
    // time − the 4 h delay, ms-truncated by the engine) passes its join
    // window and its buffered state is evicted; purchases still inside the
    // final watermark horizon never emit. The oracle mirrors exactly that:
    // the relational join's matched pairs, plus unmatched purchases with
    // p_ts strictly below the final global watermark — which is the MIN
    // over both watermark operators' ms-truncated max event times (each
    // side tracks its own filtered stream's max, NOT the feed's overall
    // max — visible at sf0.001 where the last click trails the last
    // purchase by hours) minus the 4 h delay. (The closing no-data
    // micro-batch performs the final eviction — processAllAvailable runs
    // it once the watermark advances.)
    Q("stream_left_outer_join",
      """WITH mx AS (
        |  SELECT least(
        |    (SELECT (epoch_us(max(CAST(ts AS TIMESTAMP))) // 1000) * 1000
        |     FROM events WHERE event_type = 'purchase'),
        |    (SELECT (epoch_us(max(CAST(ts AS TIMESTAMP))) // 1000) * 1000
        |     FROM events WHERE event_type = 'click'))
        |    - 14400000000 AS cutoff_us FROM (SELECT 1)),
        |p AS (SELECT user_id, event_id AS p_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_t
        |      FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS c_id, epoch_us(CAST(ts AS TIMESTAMP)) AS c_t
        |      FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.user_id, p.p_id, c.c_id
        |      FROM p JOIN c ON p.user_id = c.user_id
        |       AND c.c_t >= p.p_t - 3600000000 AND c.c_t <= p.p_t),
        |unm AS (
        |  SELECT p.user_id, p.p_id, CAST(NULL AS BIGINT) AS c_id
        |  FROM p CROSS JOIN mx
        |  WHERE p.p_t < mx.cutoff_us
        |    AND NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
        |          AND c.c_t >= p.p_t - 3600000000 AND c.c_t <= p.p_t))
        |SELECT user_id, count(*) AS n_rows, count(c_id) AS n_matched,
        |  count(*) - count(c_id) AS n_unmatched,
        |  CAST(sum(p_id) AS BIGINT) AS purchase_id_sum
        |FROM (SELECT * FROM j UNION ALL SELECT * FROM unm) t
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      runToMemory(s, "append")(purchaseClicks(s, d, _, "left_outer"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_rows"), count(col("c_id")).as("n_matched"),
             (count(lit(1)) - count(col("c_id"))).as("n_unmatched"),
             sum(col("p_id")).cast("bigint").as("purchase_id_sum"))
        .orderBy(col("user_id"))
    },

    // flatMapGroupsWithState sessionization (30 min inactivity gap). The
    // streaming contract emits CLOSED sessions only — each user's final
    // session stays open in state — so the oracle's gaps-and-islands
    // rebuild excludes the last session per user.
    Q("stream_sessionize",
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
        |m AS (SELECT user_id, t,
        |  CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 1800000000
        |       THEN 1 ELSE 0 END AS brk FROM e),
        |s AS (SELECT user_id, t,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m),
        |agg AS (SELECT user_id, sid,
        |  CAST(min(t) AS BIGINT) AS session_start_us,
        |  CAST(max(t) AS BIGINT) AS session_end_us,
        |  count(*) AS n_events FROM s GROUP BY user_id, sid),
        |mx AS (SELECT *, max(sid) OVER (PARTITION BY user_id) AS maxsid FROM agg)
        |SELECT user_id, session_start_us, session_end_us, n_events
        |FROM mx WHERE sid < maxsid
        |ORDER BY user_id, session_start_us""".stripMargin) { (s, d) =>
      import s.implicits._
      runToMemory(s, "append", noDataBatch = false) { s2 =>
        val events = eventStream(s, d, s2)
          .select(col("user_id"), col("ts"), col("event_type"))
          .as[StreamingArchiver.Event]
        StreamingArchiver.sessionize(events, 30 * 60 * 1000L).toDF()
      }
        .select(col("user_id"),
          unix_micros(col("session_start")).as("session_start_us"),
          unix_micros(col("session_end")).as("session_end_us"),
          col("n_events").cast("long").as("n_events"))
        .orderBy(col("user_id"), col("session_start_us"))
    },

    // Streaming CDC — cdc_upsert_merge's change-log MERGE driven from a
    // LIVE stream: the change-log arrives as two single-file micro-batches
    // (maxFilesPerTrigger=1 forces real multi-batch merging), each batch
    // merged into the generation-pointer snapshot store by
    // StreamingArchiver.cdcMergeStream (latest-wins reduce → one
    // full-outer upsert/delete join → new generation → atomic repoint).
    // Every key carries exactly ONE change across the log, so the final
    // snapshot is batch-split- and batch-order-independent — the
    // determinism the oracle needs — and the audit reads the PUBLISHED
    // snapshot through the pointer, pinning the whole store protocol, not
    // just the join.
    Q("stream_cdc_upsert",
      """WITH ch AS (
        |  SELECT o_orderkey AS key, 'U' AS op, o_totalprice + 100.0 AS price
        |  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 14 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, 'D', CAST(NULL AS DOUBLE) FROM orders
        |  WHERE o_orderkey % 14 = 0
        |  UNION ALL
        |  SELECT -o_orderkey, 'I', o_totalprice FROM orders
        |  WHERE o_orderkey % 11 = 0 AND o_orderkey <> 0),
        |m AS (
        |  SELECT coalesce(c.key, b.o_orderkey) AS key,
        |    CASE WHEN c.key IS NULL THEN b.o_totalprice ELSE c.price END AS price,
        |    CASE WHEN c.op = 'D' THEN 1 ELSE 0 END AS del
        |  FROM orders b FULL OUTER JOIN ch c ON b.o_orderkey = c.key)
        |SELECT count(*) FILTER (del = 0) AS n_rows,
        |  count(*) FILTER (del = 0 AND key < 0) AS n_inserted,
        |  CAST(sum(key) FILTER (del = 0) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) FILTER (del = 0) AS DOUBLE)
        |    AS total_price
        |FROM m""".stripMargin) { (s, d) =>
      val base = Tables.orders(s, d)
      // The change-log and the initial-load snapshot are deterministic
      // functions of the immutable fixture — the landing directory a live
      // CDC consumer tails and the full sync it starts from. Stage both
      // ONCE per session (the eventStream staging pattern); what this
      // query verifies and times is the MERGE PROTOCOL below (2
      // micro-batches, latest-wins reduce, full-outer upsert, generation
      // write + atomic repoint + retire, audit through the pointer),
      // which runs in full on every invocation. Re-writing identical
      // staging parquet per bench pass measured ~2 s of setup jobs, not
      // the operator.
      val chDir = Memo.staged(s, s"stream-cdc-changes:$d",
        "graft-stream-cdc-ch") { tmp =>
        base.where(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 14 =!= 0)
          .select(col("o_orderkey").as("key"), lit(1).as("seq"),
            lit("U").as("op"), (col("o_totalprice") + lit(100.0)).as("price"))
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        base.where(col("o_orderkey") % 14 === 0)
          .select(col("o_orderkey").as("key"), lit(1).as("seq"),
            lit("D").as("op"), lit(null).cast("double").as("price"))
          // o_orderkey = 0 exists in the fixture and -0 = 0 would collide
          // with its own delete — the one-change-per-key premise the
          // batch-order independence argument needs
          .unionAll(base.where(col("o_orderkey") % 11 === 0 && col("o_orderkey") =!= 0)
            .select((-col("o_orderkey")).as("key"), lit(1).as("seq"),
              lit("I").as("op"), col("o_totalprice").as("price")))
          .coalesce(1).write.mode("append").parquet(tmp)
      }
      val seedDir = Memo.staged(s, s"stream-cdc-seed:$d",
        "graft-stream-cdc-seed") { tmp =>
        base.select(col("o_orderkey").as("key"),
            col("o_totalprice").as("price"))
          .write.mode("overwrite").parquet(tmp)
      }
      // the snapshot STORE stays per-run (the stream mutates it:
      // generations, pointer, retirement) — hard-link the staged seed
      // files in as generation zero (metadata-only; retireGenerations'
      // delete just unlinks, the staging survives for the next run)
      val root = TempDirs.register(java.nio.file.Files
        .createTempDirectory("graft-stream-cdc").toString)
      val snapRoot = s"$root/snapshot"
      val genInit = new java.io.File(s"$snapRoot/gen-init")
      require(genInit.mkdirs(), s"cannot create $genInit")
      new java.io.File(seedDir).listFiles().foreach { f =>
        if (f.isFile) linkOrCopy(genInit.toPath.resolve(f.getName), f.toPath)
      }
      StreamingArchiver.publishSnapshot(s, snapRoot, "gen-init")
      val stream = s.readStream.schema(stagedSchema(s, chDir))
        .option("maxFilesPerTrigger", 1).parquet(chDir)
      val q = StreamingArchiver.cdcMergeStream(stream,
        snapRoot, s"$root/ckpt")
      try q.processAllAvailable() finally q.stop()
      StreamingArchiver.currentSnapshot(s, snapRoot)
        .getOrElse(sys.error("stream_cdc_upsert: no published snapshot"))
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("key") < 0, 1)).as("n_inserted"),
          sum(col("key")).as("key_sum"),
          sum(col("price").cast("decimal(18,2)")).cast("double")
            .as("total_price"))
    },
  )
}
