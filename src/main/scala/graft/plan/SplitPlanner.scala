package graft.plan

import java.time.format.DateTimeFormatter
import java.time.{Duration, LocalDateTime}
import scala.util.{Failure, Success, Try}

/** Partition-predicate synthesis: the reference's planning layer re-expressed
  * as pure functions over unsigned key ranges and time windows.
  *
  * Semantics (each pinned by PlannerSpec with the reference's own expected
  * values; citations into /root/reference):
  *  - `slimRanges`       — source/source.go:48-64   (thread slicing)
  *  - `splitCondition`   — source/source.go:66-77   (eager batch ranges,
  *    stride `batch`, final range closed `<=`)
  *  - `splitConditionLazy` — source/source.go:79-111 (lazy channel variant,
  *    stride `batch-1` with adjacent half-open ranges sharing an endpoint;
  *    global-max range closed)
  *  - `timeWindows`      — source/source.go:130-162 (tumbling windows, final
  *    window closed; a degenerate trailing window is emitted when the last
  *    step overshoots max — preserved, it matches zero rows)
  *  - `chunkConditions`  — source/source.go:113-128
  *  - `parseTimeDynamic` — source/source.go:218-236 (4 lenient layouts)
  *  - `unitWidth`        — config/config.go:147-160 (minute→10m, quarter→15m,
  *    hour→2h, day→24h — deliberate multiples, not 1× the unit)
  *  - `adjustBatchSize`  — source/mysql.go:43-65    (key-density heuristic;
  *    the ≥100 branch is unreachable after the ≥10 branch — observable
  *    behavior is ×5 for density ≥10, kept as-is)
  *  - `useThreadSlicing` — worker/worker.go:81-84   (plan-shape choice)
  *
  * Keys are `BigInt` because the reference's split key is uint64
  * (source/source.go:238-259) and Long cannot hold the top half of that
  * range; predicates render in decimal so downstream engines are agnostic.
  *
  * At 100 TB scale these predicate lists become the `predicates` argument of
  * `spark.read.jdbc` (one Spark input partition per predicate) — planning
  * stays O(#partitions) on the driver and never touches data.
  */
object SplitPlanner {

  /** Contiguous per-thread `[lower, upper]` slices of `[min, max]`; the last
    * slice absorbs the division remainder. Empty when min > max. */
  def slimRanges(maxThread: Int, min: BigInt, max: BigInt): Seq[(BigInt, BigInt)] = {
    if (min > max) return Seq.empty
    val rangeSize = (max - min) / maxThread
    (0 until maxThread).map { i =>
      val lower = min + rangeSize * i
      val upper = if (i == maxThread - 1) max else lower + rangeSize
      (lower, upper)
    }
  }

  /** Eager half-open ranges `[k, k+batch)` stepped by `batch`; once the
    * cursor reaches/passes max, a final closed `[k, max]` range is emitted. */
  def splitCondition(key: String, batch: BigInt, min0: BigInt, max: BigInt): Seq[String] = {
    val out = Seq.newBuilder[String]
    var min = min0
    var done = false
    while (!done) {
      if (min >= max) {
        out += s"($key >= $min and $key <= $max)"
        done = true
      } else {
        out += s"($key >= $min and $key < ${min + batch})"
        min += batch
      }
    }
    out.result()
  }

  /** Lazy variant used under thread slicing: stride `batch-1` (adjacent
    * half-open ranges share an endpoint — no gap, no overlap), and the
    * range touching `allMax` (the global key max) is emitted closed.
    * `Iterator` replaces the reference's buffered channel: Spark's
    * scheduler provides the pipelining the channel existed for. */
  def splitConditionLazy(key: String, batch: BigInt, min0: BigInt, max: BigInt,
      allMax: BigInt): Iterator[String] = {
    // stride is batch-1: batch < 2 would never advance (the reference's Go
    // loop spins forever there; its adaptive sizing never yields 1 — we
    // reject instead of hanging)
    require(batch >= 2, s"batch must be >= 2 for the shared-endpoint variant, got $batch")
    if (min0 > max) return Iterator.empty
    val hi = max
    new Iterator[String] {
      private var cursor = min0
      private var finished = false
      private var pending: String = _
      advance()
      private def advance(): Unit = {
        if (finished) { pending = null; return }
        val stepEnd = cursor + batch - 1
        if (stepEnd >= hi) {
          finished = true
          pending =
            if (cursor > allMax) null
            else if (hi == allMax) s"($key >= $cursor and $key <= $hi)"
            else s"($key >= $cursor and $key < $hi)"
        } else if (stepEnd >= allMax) {
          finished = true
          pending = s"($key >= $cursor and $key <= $allMax)"
        } else {
          pending = s"($key >= $cursor and $key < $stepEnd)"
          cursor = stepEnd
        }
      }
      override def hasNext: Boolean = pending != null
      override def next(): String = {
        if (pending == null) throw new NoSuchElementException
        val v = pending
        advance()
        v
      }
    }
  }

  /** Plan-shape choice: thread slicing + lazy per-slice ranges when the
    * batch count exceeds maxThread, else one eager range per batch. */
  def useThreadSlicing(min: BigInt, max: BigInt, batch: BigInt, maxThread: Int): Boolean =
    (max - min) / batch > maxThread

  /** Full key-split plan: the flat predicate list Spark consumes as one
    * `predicates` array (two-level goroutine structure collapses — Spark's
    * scheduler bounds parallelism). Order is deterministic. */
  def keySplitPredicates(key: String, batch: BigInt, min: BigInt, max: BigInt,
      maxThread: Int): Seq[String] =
    if (useThreadSlicing(min, max, batch, maxThread))
      slimRanges(maxThread, min, max).flatMap { case (lo, hi) =>
        splitConditionLazy(key, batch, lo, hi, max)
      }
    else splitCondition(key, batch, min, max)

  // ---- time windows --------------------------------------------------------

  val TimeFormat: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private val lenientLayouts: Seq[DateTimeFormatter] = Seq(
    DateTimeFormatter.ofPattern("yyyy-M-d H:m:s"),
    DateTimeFormatter.ofPattern("yyyy-M-d'T'H:m:s.SSS"),
    DateTimeFormatter.ofPattern("yyyy-M-d'T'H:m:s"),
    DateTimeFormatter.ISO_OFFSET_DATE_TIME)

  /** Lenient multi-layout timestamp parse (accepts non-zero-padded fields,
    * matching Go's parser tolerance). */
  def parseTimeDynamic(s: String): Try[LocalDateTime] = {
    val it = lenientLayouts.iterator
    while (it.hasNext) {
      val f = it.next()
      try return Success(LocalDateTime.parse(s, f))
      catch { case _: java.time.format.DateTimeParseException => }
    }
    Failure(new IllegalArgumentException(s"failed to parse time: $s"))
  }

  /** Window width per split unit — deliberate multiples of the unit. */
  def unitWidth(unit: String): Option[Duration] = unit match {
    case "minute"  => Some(Duration.ofMinutes(10))
    case "quarter" => Some(Duration.ofMinutes(15))
    case "hour"    => Some(Duration.ofHours(2))
    case "day"     => Some(Duration.ofHours(24))
    case _         => None
  }

  /** Tumbling-window predicates over `[min, max]`: half-open `[t, t+w)`
    * windows, then a closed final window; when the last step overshoots, the
    * trailing closed window is degenerate (start > end → matches nothing) —
    * reference behavior, preserved. Empty when min > max.
    *
    * @param quote renders a formatted timestamp as an engine literal. The
    *   default — a bare quoted string — is the reference's mysql-shaped
    *   form (source/source.go:130-162), which mysql/pg implicitly cast;
    *   strict-typing engines (Derby, Oracle) pass their dialect's typed
    *   form via `TableSource.timestampLiteral`. */
  def timeWindows(key: String, unit: String, minStr: String, maxStr: String,
      quote: String => String = s => s"'$s'"): Try[Seq[String]] =
    timeWindowBounds(unit, minStr, maxStr).map(_.map { case (t, end, closed) =>
      s"($key >= ${quote(t.format(TimeFormat))} and $key ${if (closed) "<=" else "<"} " +
        s"${quote(end.format(TimeFormat))})"
    })

  /** Structured window bounds for DataFrame-side consumption: (start, end,
    * closed) triples — the stepping `timeWindows` renders. */
  def timeWindowBounds(unit: String, minStr: String, maxStr: String)
      : Try[Seq[(LocalDateTime, LocalDateTime, Boolean)]] =
    for {
      minT <- parseTimeDynamic(minStr)
      maxT <- parseTimeDynamic(maxStr)
      width <- unitWidth(unit).map(Success(_)).getOrElse(Failure(new IllegalArgumentException(
        s"invalid TimeSplitUnit: $unit, it should be 'minute', 'quarter', 'hour', or 'day'")))
    } yield {
      if (minT.isAfter(maxT)) Seq.empty
      else {
        val out = Seq.newBuilder[(LocalDateTime, LocalDateTime, Boolean)]
        var t = minT
        var done = false
        while (!done) {
          if (!t.isBefore(maxT)) { out += ((t, maxT, true)); done = true }
          else {
            val next = t.plus(width)
            out += ((t, next, false))
            t = next
          }
        }
        out.result()
      }
    }

  /** Partition a condition list into at most maxThread contiguous chunks. */
  def chunkConditions[A](conditions: Seq[A], maxThread: Int): Seq[Seq[A]] = {
    if (maxThread >= conditions.length) return Seq(conditions)
    val chunkSize = (conditions.length + maxThread - 1) / maxThread
    conditions.grouped(chunkSize).toSeq
  }

  /** Key-density batch-size heuristic: density s = keyRange/rowCount; whole
    * range in one batch when the table fits a batch; ×5 when s ≥ 10 (the
    * reference's ≥100→×20 branch is dead code — ≥10 matches first). */
  def adjustBatchSize(min: BigInt, max: BigInt, rowCount: BigInt, batchSize: BigInt): BigInt = {
    val rangeSize = max - min + 1
    if (rowCount <= batchSize) rangeSize
    else if (rangeSize / rowCount >= 10) batchSize * 5
    else batchSize
  }
}
