package perfbench

/** One timed iteration's outcome.
  *
  * @param seconds  wall time of the timed part only (preparation and
  *                 correctness checks run outside it)
  * @param units    work done: source rows archived, or result rows the
  *                 queries delivered to the sink
  * @param queries  latency of each contract query the iteration ran
  * @param errors   failed correctness checks and exceptions, one line each
  * @param layers   per-layer metrics of a traced iteration, keyed by the
  *                 names in BENCHMARK.json's `per_layer` */
final case class Iter(seconds: Double, attempted: Int, failed: Int,
    units: Long, queries: Seq[Double], errors: Seq[String],
    layers: Map[String, Double] = Map.empty)

/** A benchmark workload. The runner calls [[stage]] (several times, so set-up
  * time is a median), then [[iterate]] [[warmups]] times untimed, numbered
  * from 0, and in a closed loop after that: one client, each iteration
  * starting only after the previous one finished. */
trait Workload {
  /** Build this workload's inputs from the fixtures; idempotent. */
  def stage(): Unit

  /** Untimed iterations before the timed loop. */
  def warmups: Int = 1

  /** Prepare (untimed), run (timed), check (untimed) one iteration. With a
    * probe, record the per-layer trace of the timed part. */
  def iterate(i: Int, probe: Option[EngineProbe]): Iter

  /** Release what [[stage]] built. */
  def close(): Unit = ()
}
