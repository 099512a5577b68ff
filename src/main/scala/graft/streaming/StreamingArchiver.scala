package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.sink.StagedLoader

/** Structured Streaming flavor of the time-split path (SURVEY.md §2.10 — a
  * flagged upgrade, not reference parity): the batch engine steps tumbling
  * windows itself; the streaming engine gets the same semantics from
  * `window()` + a watermark, and `batchMaxInterval` becomes the micro-batch
  * trigger. The reference's immutable-range assumption (it refuses
  * maxThread>1 and warns about mutable data) maps to watermark=0 — late
  * data is not expected.
  */
object StreamingArchiver {

  /** Tumbling-window rows-per-window counts over a streaming source — the
    * streaming analogue of P5 window planning + per-window counting. */
  def windowedCounts(events: DataFrame, timeCol: String, width: String,
      watermark: String = "0 seconds"): DataFrame =
    events
      .withWatermark(timeCol, watermark)
      .groupBy(window(col(timeCol), width))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"),
              col("window.end").as("win_end"), col("n"))

  final case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Int)

  /** java.sql.Timestamp ↔ epoch microseconds (getTime alone is
    * millisecond-truncated; the nanos field carries the full fraction —
    * session gaps must compare at the data's µs precision or boundary
    * events classify differently than an exact engine). */
  private[streaming] def micros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
  private[streaming] def fromMicros(us: Long): java.sql.Timestamp = {
    // floorDiv/floorMod: `/` truncates toward zero and `%` goes negative
    // for pre-1970 instants, and setNanos rejects negatives
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000)
    t.setNanos(Math.floorMod(us, 1000000L).toInt * 1000)
    t
  }

  /** Custom stateful operator: event-time sessionization with an
    * inactivity gap, via `flatMapGroupsWithState` — the pattern for state
    * Spark's built-in windows can't express. State is per-key and bounded
    * (one open session per user); emitted sessions close on a gap — the
    * final open session per user stays in state (NoTimeout), exactly the
    * streaming contract. Works identically over a bounded stream
    * (AvailableNow) and a live one. Gap comparison is µs-exact. */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(e => micros(e.ts))
          val out = Seq.newBuilder[UserSession]
          var st = state.getOption.orNull
          sorted.foreach { e =>
            val t = micros(e.ts)
            st = st match {
              case null => SessionState(t, t, 1)
              case s if t - s.last <= gapUs => s.copy(last = t, n = s.n + 1)
              case s =>
                out += UserSession(userId, fromMicros(s.start),
                  fromMicros(s.last), s.n)
                SessionState(t, t, 1)
            }
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }

  /** Streaming exact dedup: drops events whose key was already seen within
    * the watermark horizon — the streaming flavor of the pipeline's exact
    * dedup, with state bounded by the watermark (Spark evicts seen-keys
    * older than it) instead of growing with the stream. The at-scale knob
    * is the watermark: it is exactly the dedup window the pipeline
    * guarantees, and state is O(distinct keys within it). */
  def dedupStream(stream: DataFrame, timeCol: String, keys: Seq[String],
      watermark: String): DataFrame =
    stream.withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Micro-batch archive: every trigger interval, stage the new batch as
    * NDJSON and append it through the same loader the batch path uses
    * (foreachBatch = the COPY-INTO loop with Spark managing offsets).
    *
    * foreachBatch is at-least-once: after a failure/restart Spark replays
    * the same batchId. Exactly-once lands in two layers: the loader's
    * commit is idempotent per staging dir (a replayed `batch-<id>` cleans
    * its own prior files before committing — the reference's COPY INTO
    * staged-file dedup), and a per-batch marker under the checkpoint skips
    * already-committed ids entirely so a replay does no work at all. */
  def archiveStream(stream: DataFrame, loader: StagedLoader,
      stagingRoot: String, checkpoint: String,
      triggerInterval: Option[String] = None): StreamingQuery = {
    val writer = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // Hadoop-FS marker: the checkpoint location is typically a
        // durable store (hdfs://, s3a://) — java.io.File would silently
        // never see it and replay every batch in full
        val marker = new org.apache.hadoop.fs.Path(
          s"$checkpoint/graft-committed/batch-$id")
        val fs = marker.getFileSystem(
          batch.sparkSession.sessionState.newHadoopConf())
        if (!fs.exists(marker)) {
          loader.ingest(batch, s"$stagingRoot/batch-$id")
          fs.mkdirs(marker.getParent)
          fs.create(marker, true).close()
        }
      }
    triggerInterval
      .fold(writer.trigger(Trigger.AvailableNow()))(
        i => writer.trigger(Trigger.ProcessingTime(i)))
      .start()
  }

  /** Streaming CDC MERGE — the incremental-update path cdc_upsert_merge
    * runs in batch, driven from a live change stream: every micro-batch
    * of (key, seq, op, price) change rows is reduced latest-wins within
    * the batch and applied to the snapshot with ONE full-outer join
    * ('D' drops, 'U'/'I' upsert, unmatched base rows carry over), the
    * merged snapshot written as a NEW generation and published by
    * atomically repointing a CURRENT pointer file — a reader sees either
    * the old complete generation or the new one, never a half-write.
    *
    * Exactly-once: foreachBatch replays a batchId after failure; the
    * merge is IDEMPOTENT by construction (upserts set state rather than
    * increment it, deletes of absent keys are no-ops), so a replayed
    * batch rebuilds the identical generation and repoints to the same
    * place — no marker needed for correctness.
    *
    * Scale: the delta is small relative to the snapshot by definition;
    * the full-outer join shuffles on the key both sides (co-partitioned
    * at the store's bucketing in a real deployment), and each generation
    * is one whole-directory rewrite. */
  def cdcMergeStream(changes: DataFrame, snapshotRoot: String,
      checkpoint: String): StreamingQuery = {
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        mergeBatch(batch.sparkSession, snapshotRoot, batch, id)
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** One CDC merge step: reduce `batch` latest-wins per key, apply to the
    * CURRENT generation with a full-outer upsert/delete join, write
    * generation `gen-<id>`, repoint. Public (and directly spec-tested)
    * because its IDEMPOTENCE is the exactly-once argument: re-running a
    * committed id rebuilds a byte-identical generation from the same
    * inputs and repoints to the same place. */
  def mergeBatch(s: SparkSession, snapshotRoot: String,
      batch: DataFrame, id: Long): Unit = {
    val base = currentSnapshot(s, snapshotRoot).getOrElse {
      import org.apache.spark.sql.types._
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("key", LongType),
          StructField("price", DoubleType))))
    }
    // full tiebreak past seq: a malformed upstream emitting duplicate
    // (key, seq) rows must still reduce DETERMINISTICALLY or the replay
    // rebuilds a different generation and the byte-identical idempotence
    // argument breaks — op then price break the tie totally
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key"))
      .orderBy(col("seq").desc, col("op").asc, col("price").asc_nulls_first)
    val last = batch.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("key").as("c_key"), col("op"), col("price").as("c_price"))
    // the write below replaces gen-<id> while `base` may be lazily
    // reading the SAME dir on a replay (id committed, then replayed):
    // materialize the merge result before touching the target
    val merged = graft.ops.Materialize(
      base.join(last, col("key") === col("c_key"), "full_outer")
        .where(col("op").isNull || col("op") =!= "D")
        .select(coalesce(col("c_key"), col("key")).as("key"),
          when(col("c_key").isNull, col("price")).otherwise(col("c_price"))
            .as("price")), eager = true)
    try merged.write.mode("overwrite").parquet(s"$snapshotRoot/gen-$id")
    finally graft.ops.Materialize.release(merged)
    publishSnapshot(s, snapshotRoot, s"gen-$id")
    retireGenerations(s, snapshotRoot)
  }

  /** Retire superseded generations — without this the store grows by one
    * full snapshot per micro-batch, forever. Deletes every `gen-*` dir
    * STRICTLY OLDER than the one CURRENT names, except the newest
    * `keepBehind` of them (grace window for a reader that resolved the
    * pointer just before a publish; a reader holding a lazy frame over
    * an older generation across ≥2 batch windows is out of contract).
    * Never touches the current generation, the pointer, or anything
    * at/after the current id — a concurrent merge may already be
    * writing `gen-<id+1>` before publishing it. Non-numeric generation
    * names (e.g. a `gen-init` seed) order as oldest. Idempotent and
    * crash-safe: a half-finished delete just leaves fewer stale dirs
    * for the next batch's call to finish. */
  def retireGenerations(s: SparkSession, snapshotRoot: String,
      keepBehind: Int = 1): Unit = {
    val root = new org.apache.hadoop.fs.Path(snapshotRoot)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    val ptr = new org.apache.hadoop.fs.Path(root, "CURRENT")
    if (!fs.exists(ptr)) return
    val in = fs.open(ptr)
    val cur =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    def idOf(g: String): Long =
      g.stripPrefix("gen-").toLongOption.getOrElse(Long.MinValue)
    val curId = idOf(cur)
    val stale = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen-"))
      .map(_.getPath.getName)
      .filter(g => g != cur && idOf(g) < curId)
      .sortBy(idOf)
      .dropRight(keepBehind)
    stale.foreach(g =>
      fs.delete(new org.apache.hadoop.fs.Path(root, g), true): Unit)
  }

  /** Atomically repoint CURRENT at `gen` (an existing generation dir
    * under `snapshotRoot`). Uses FileContext's OVERWRITE rename — unlike
    * FileSystem.rename, it replaces the target in one metadata op on
    * HDFS-like stores, so there is NO instant where the pointer is
    * absent and a concurrent [[currentSnapshot]] reader sees None (a
    * production deployment points through a transactional catalog). */
  def publishSnapshot(s: SparkSession, snapshotRoot: String,
      gen: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(snapshotRoot)
    val conf = s.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(root, s".CURRENT-$gen")
    val out = fs.create(tmp, true)
    out.write(gen.getBytes("UTF-8")); out.close()
    val ptr = new org.apache.hadoop.fs.Path(root, "CURRENT")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(root.toUri, conf)
    fc.rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The live generation named by the CURRENT pointer, if any. The short
    * bounded retry below is belt-and-braces for stores whose rename is
    * not atomic-overwrite (object-store semantics): a reader racing a
    * publish waits out the sub-second window instead of crashing. A
    * genuinely absent pointer (cold start) costs three quick probes. */
  def currentSnapshot(s: SparkSession, snapshotRoot: String)
      : Option[DataFrame] = {
    val root = new org.apache.hadoop.fs.Path(snapshotRoot)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    val ptr = new org.apache.hadoop.fs.Path(root, "CURRENT")
    var attempt = 0
    while (attempt < 3) {
      if (fs.exists(ptr)) {
        val in = fs.open(ptr)
        val gen =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        return Some(s.read.parquet(s"$snapshotRoot/$gen"))
      }
      attempt += 1
      if (attempt < 3) Thread.sleep(50L * attempt)
    }
    None
  }
}
