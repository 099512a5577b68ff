package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

import graft.source.TableSource

/** Attributes every nanosecond of one `Archiver.run` to a phase. Hooks mark
  * boundaries; the interval since the previous boundary belongs to the phase
  * the run was in, so the phases add up to the run's wall time. */
final class PhaseClock {
  private var last = System.nanoTime()
  private var phase = PhaseClock.Gate // run() opens with the idempotency gate
  private val buf = ArrayBuffer.empty[(String, Long)]

  def current: String = phase

  /** Restart the clock: the run begins now. */
  def start(): Unit = {
    buf.clear()
    phase = PhaseClock.Gate
    last = System.nanoTime()
  }

  def mark(next: String): Unit = {
    val now = System.nanoTime()
    buf += ((phase, now - last))
    last = now
    phase = next
  }

  def around[A](during: String, after: String)(body: => A): A = {
    mark(during)
    try body finally mark(after)
  }

  /** Close the last interval; the run's phases in order, in nanoseconds. */
  def finish(): Vector[(String, Long)] = {
    mark("end")
    buf.toVector.filter(_._2 > 0)
  }
}

/** Per-layer metrics of one traced archive run. */
object PhaseReport {
  import PhaseClock._

  /** Seconds per phase, and the number of batches (one per scan). */
  def apply(phases: Seq[(String, Long)]): (Map[String, Double], Int) = {
    val totals = All.map(p =>
      s"${p}_s" -> phases.collect { case (`p`, ns) => ns / 1e9 }.sum).toMap
    (totals, phases.count(_._1 == ScanBuild))
  }
}

object PhaseClock {
  val Gate = "verify.gate"
  val Discover = "source.discover"
  val Aggregates = "plan.aggregates"
  val Split = "plan.split"
  val ScanBuild = "source.scan_build"
  val Ingest = "sink.ingest"
  val Pace = "archive.pace"
  val Reconcile = "verify.reconcile"
  val Delete = "dml.delete"
  val Audit = "verify.audit"
  val All: Seq[String] =
    Seq(Gate, Discover, Aggregates, Split, ScanBuild, Ingest, Pace, Reconcile, Delete, Audit)

  /** The order `Archiver.run` calls its hooks in. A run whose phase sequence
    * does not match has a span the hooks attributed to the wrong phase. */
  private val grammar = (
    s"$Gate $Discover( ($Aggregates|$Split))+" +
      s"( $ScanBuild $Ingest( $Pace( $Ingest)?)?)+" +
      s"( $Reconcile)+( $Delete)?( $Audit)?").r

  /** Errors when the phases of a run do not add up to its wall time, or
    * were recorded out of the order above. */
  def coverageErrors(phases: Seq[(String, Long)], wallSeconds: Double): Seq[String] = {
    val gap = wallSeconds - phases.map(_._2).sum / 1e9
    Seq(
      Option.when(math.abs(gap) > 1e-3)(s"phase spans leave $gap s of the run unattributed"),
      Option.when(!wellFormed(phases.map(_._1)))(
        s"phase sequence out of order: ${phases.map(_._1).mkString(" ")}"),
    ).flatten
  }

  def wellFormed(phases: Seq[String]): Boolean = {
    val collapsed = phases.foldLeft(Vector.empty[String]) { (acc, p) =>
      if (acc.lastOption.contains(p)) acc else acc :+ p
    }
    grammar.matches(collapsed.mkString(" "))
  }
}

/** The timing `TableSource` wrapper: each call into the source marks a phase
  * boundary. A `count` before the first scan is a planning aggregate, after
  * it the reconciliation count; the time from a scan's return to the next
  * call is the sink's (StagedLoader is final, so it cannot be wrapped). */
final class TimedSource(inner: TableSource, clock: PhaseClock) extends TableSource {
  import PhaseClock._
  private var scanned = false

  def listDatabases(): Seq[String] = inner.listDatabases()
  def listTables(db: String): Seq[String] = inner.listTables(db)

  override def expandDbTables(patterns: Seq[String]): Map[String, Seq[String]] =
    clock.around(Discover, Split)(inner.expandDbTables(patterns))

  def scan(db: String, table: String, predicates: Seq[String], userPred: String): DataFrame = {
    scanned = true
    clock.around(ScanBuild, Ingest)(inner.scan(db, table, predicates, userPred))
  }

  def count(db: String, table: String, where: String): Long =
    if (scanned) clock.around(Reconcile, Reconcile)(inner.count(db, table, where))
    else clock.around(Aggregates, Split)(inner.count(db, table, where))

  def minMaxKey(db: String, table: String, key: String, where: String): (BigInt, BigInt) =
    clock.around(Aggregates, Split)(inner.minMaxKey(db, table, key, where))

  def minMaxTime(db: String, table: String, key: String, where: String): (String, String) =
    clock.around(Aggregates, Split)(inner.minMaxTime(db, table, key, where))

  override def quarantined(db: String, table: String): Long =
    clock.around(Audit, Audit)(inner.quarantined(db, table))

  override def timestampLiteral(ts: String): String = inner.timestampLiteral(ts)
}
