package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one place a query materializes a frame, and the one rule for when
  * its blocks go.
  *
  * `Materialize(df, eager, level)` is a `localCheckpoint`: the result
  * reads `df`'s rows from blocks, with the lineage above them cut. Its
  * RDD is registered with the innermost scope open on the calling thread.
  *
  * Scope rule:
  *  - [[scoped]] unpersists (non-blocking) everything registered inside
  *    it when its body returns or throws. Runners open one per query:
  *    `Bench.timeQuery` (so Bench, BenchMedian, TimeQueries and
  *    ScaleSmoke) and Verify's per-query write, each releasing after
  *    its timer stops. Code that materializes only to collect
  *    opens its own, so its blocks go when the collect is done.
  *  - [[Memo]] runs every compute under an owning scope that is never
  *    released: a memoized frame keeps its blocks until the SparkContext
  *    stops, as long as the memo entry itself.
  *  - With no scope open nothing is registered, and the blocks live until
  *    driver GC collects the frame (Spark's ContextCleaner).
  *  - [[release]] frees one frame early, e.g. an iteration's previous
  *    round once the next one is materialized.
  * A frame must not be read after its scope closes: its blocks are gone
  * and the cut lineage cannot recompute them.
  *
  * Eager or lazy: choose eager when the first consumer is a broadcast
  * (a lazy frame would run its whole lineage inside the broadcast
  * timeout) or several consumers in one job (each would otherwise
  * compute it). Choose lazy when the next statement is an action that
  * reads every partition (a count, a collect, a full aggregate): that
  * action fills the blocks, and eager would run one more job over the
  * same rows.
  *
  * Storage level: Spark's local-checkpoint default (MEMORY_AND_DISK,
  * deserialized) suits narrow frames; frames that carry text or vectors
  * take MEMORY_AND_DISK_SER, whose serialized blocks are compact and
  * spill cleanly instead of exhausting the heap while unrolling. */
object Materialize {
  private val scopes = new ThreadLocal[List[ArrayBuffer[RDD[_]]]] {
    override def initialValue(): List[ArrayBuffer[RDD[_]]] = Nil
  }

  def apply(df: DataFrame, eager: Boolean,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val out = df.localCheckpoint(eager, level)
    scopes.get.headOption.foreach(_ += rddOf(out))
    out
  }

  /** Runs `body`, then unpersists every frame materialized in it. */
  def scoped[A](body: => A): A =
    within(body)(_.foreach(_.unpersist(blocking = false)))

  /** Runs `body` under a scope that is never released ([[Memo]]'s). */
  private[ops] def pinned[A](body: => A): A = within(body)(_ => ())

  /** Unpersists one frame now, and drops it from the open scopes. */
  def release(df: DataFrame): Unit = {
    val rdd = rddOf(df)
    scopes.get.foreach(_ -= rdd)
    rdd.unpersist(blocking = false): Unit
  }

  private def within[A](body: => A)(close: Seq[RDD[_]] => Unit): A = {
    val outer = scopes.get
    val mine = ArrayBuffer.empty[RDD[_]]
    scopes.set(mine :: outer)
    try body
    finally {
      scopes.set(outer)
      close(mine.toSeq)
    }
  }

  private def rddOf(df: DataFrame): RDD[_] = df.queryExecution.logical match {
    case l: LogicalRDD => l.rdd
    case p => throw new IllegalArgumentException(
      s"not a Materialize result: the plan is ${p.nodeName}, not a LogicalRDD")
  }
}
