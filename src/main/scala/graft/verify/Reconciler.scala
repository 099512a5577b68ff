package graft.verify

/** Source/target reconciliation (worker/worker.go:230-242; cmd/main.go:
  * 102-110): count equality under the same predicate decides success.
  * The row-level check is ArchiveOps' `a7_reconcile_rowlevel`.
  */
object Reconciler {

  final case class Result(sourceRows: Long, targetRows: Long) {
    def correct: Boolean = sourceRows == targetRows
  }
}
